package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * arXiv:2302.03169): fit cheap bag-of-words models on a TARGET slice
  * (the distribution you want more of — e.g. a curated source) and on
  * the RAW corpus, weight every document by its log importance ratio
  * `log p_target(doc) − log p_raw(doc)`, then sample the training set
  * with probability proportional to the weight via the Gumbel-top-k
  * trick. Documents that look more target-like than corpus-average get
  * positive ratios and survive more often; resampling (vs hard top-k)
  * preserves diversity — the paper's headline result over heuristic
  * filtering.
  *
  * Both models here are add-one-smoothed unigram LMs over the same
  * normalized token stream as [[LangModel]] (the paper hashes n-grams to
  * a fixed dim; unigrams are the order-1 instance — the model order is a
  * quality/cost knob, the pipeline shape is identical).
  *
  * Scale shape: the corpus tokenizes ONCE; both vocab counts come off
  * that one exploded stream as hash-aggregates (map-side combined); the
  * per-token delta table (raw-NLL − target-NLL, a SMALL frame) is
  * broadcast to the scoring join, and the per-doc sum is map-side
  * combined before its exchange. Selection is `TakeOrderedAndProject`
  * — ≤k rows per partition reach the driver. No corpus×corpus join, no
  * full-width shuffle, no driver-side model fit.
  *
  * Determinism: per-token NLLs quantize to integer MICRO-NATS right
  * after the one `ln` (the [[Bm25]]/[[LangModel]] contract), so per-doc
  * sums are exact integers — partition-order-proof. The Gumbel draw is
  * salted-md5 (`u = (h48 + 0.5) / 2^48`, exactly representable), with
  * the nested `−ln(−ln u)` computed in TWO pinned stages — the inner
  * `−ln u` is quantized to integer NANO-nats before the outer `ln`
  * sees it — so both engines evaluate every transcendental on an
  * identical exact rational and the resampled set is bit-reproducible
  * across runs, partitionings, and engines (rand()-Gumbel could never
  * re-run, let alone cross-check).
  */
object Dsir {

  /** Per-document importance log-ratio: (idCol, n_tokens, lr_micro)
    * where `lr_micro` = Σ_tokens (nll_raw − nll_target) in integer
    * micro-nats — positive means "more target-like than corpus
    * average". The target model trains on rows satisfying `targetPred`,
    * the raw model on ALL rows, both with add-one smoothing; tokens
    * unseen by the target model score its OOV mass `1/(total+V)`. The
    * raw model's vocab covers every corpus token by construction, so
    * the scoring join is a hit for every token. An empty target slice
    * propagates NULL ratios (never a `round(±Inf)`). NULL text scores
    * like the empty string, so every input row comes back. */
  def logRatios(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column): DataFrame =
    // NO Par.spread (r15): one tokenize + explode per row feeding
    // integer count aggregates — r14 measured spread costing 1.26 →
    // 1.90 s on doc_dsir (the shuffle moves the raw text; the explode's
    // own exchange already spreads the aggregate work)
    logRatiosCore(df.select(col(idCol), targetPred.as("__tgt"),
      explode(Text.tokens(Text.normalize(coalesce(col(textCol), lit(""))))).as("__tok")),
      idCol)

  /** [[logRatios]] over a pre-tokenized frame carrying `idCol`, a
    * `__toks` array column (the exact [[Text.tokens]] ∘ [[Text.normalize]]
    * ∘ coalesce('') chain) and whatever columns `targetPred` reads —
    * the shared-scan entry [[Curate.curateV2]] and [[Curate.curateV3]]
    * use so DSIR never re-tokenizes a corpus another stage already
    * tokenized. */
  def logRatiosFromTokens(tokArrays: DataFrame, idCol: String,
      targetPred: Column): DataFrame =
    logRatiosCore(tokArrays.select(col(idCol), targetPred.as("__tgt"),
      explode(col("__toks")).as("__tok")), idCol)

  private def logRatiosCore(toksIn: DataFrame, idCol: String): DataFrame = {
    // the tokenized stream feeds THREE consumers (raw counts, target
    // counts, the scoring join) — checkpoint once or the corpus scan +
    // normalize + explode re-runs per consumer; freed before returning
    // (the result aggregate is its own frame, lineage cut at the join)
    val toks = toksIn.localCheckpoint(true)
    try {
      val rawCnt = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__rc"))
      val tgtCnt = toks.filter(col("__tgt"))
        .groupBy(col("__tok")).agg(count(lit(1)).as("__tc"))
      val rawStats = rawCnt.agg(sum(col("__rc")).as("__rtotal"), count(lit(1)).as("__rv"))
      val tgtStats = tgtCnt.agg(sum(col("__tc")).as("__ttotal"), count(lit(1)).as("__tv"))
      val rawDenom = (col("__rtotal") + col("__rv")).cast("double")
      val tgtDenom = (col("__ttotal") + col("__tv")).cast("double")
      def q(cnt: Column, denom: Column): Column =
        round(lit(1e6) * -log(cnt.cast("double") / denom)).cast("long")
      // raw vocab = the full corpus token universe; target counts hang off
      // it left-outer, absent → the target model's OOV mass
      val delta = rawCnt
        .join(tgtCnt, Seq("__tok"), "left_outer")
        .crossJoin(broadcast(rawStats)).crossJoin(broadcast(tgtStats))
        .select(col("__tok"),
          (q(col("__rc") + lit(1L), rawDenom) -
            coalesce(q(col("__tc") + lit(1L), tgtDenom), q(lit(1L), tgtDenom)))
            .as("__delta"))
      toks.join(broadcast(delta), Seq("__tok"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"), sum(col("__delta")).as("lr_micro"))
        .localCheckpoint(true)
    } finally NearDup.freeCheckpoint(toks)
  }

  /** Gumbel-top-k importance resampling over [[logRatios]]: each doc's
    * selection key is `lr_micro + g_micro` where `g` is its own
    * deterministic Gumbel(0,1) draw (so P(selected) follows the softmax
    * of the log-ratios — sampling ∝ w without replacement, the paper's
    * resampling estimator), and the `k` largest keys win. Returns
    * (idCol, n_tokens, lr_micro, key_micro, rank) sorted by rank.
    *
    * The draw: u = (h48 + 0.5)/2^48 from salted md5 — u ∈ (0,1) strictly,
    * both endpoints unreachable. Inner stage v = round(1e9·(−ln u))
    * clamped to ≥1 (u within 2⁻⁴⁸ of 1 rounds v to 0, and ln 0 must not
    * reach round — DuckDB errors where Spark saturates); outer stage
    * g_micro = round(1e6·(−ln(v/10⁹))) ∈ [−3.6e6, +20.8e6]. */
  def resample(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, k: Int): DataFrame =
    resampleCore(logRatios(df, idCol, textCol, targetPred), idCol, k)

  /** [[resample]] over a pre-tokenized (idCol, ..., __toks) frame — see
    * [[logRatiosFromTokens]]. Bit-identical to [[resample]] on the frame
    * the token arrays came from. */
  def resampleFromTokens(tokArrays: DataFrame, idCol: String,
      targetPred: Column, k: Int): DataFrame =
    resampleCore(logRatiosFromTokens(tokArrays, idCol, targetPred), idCol, k)

  // `ratios` is by-name: an invalid `k` fails before its checkpoint exists
  private def resampleCore(ratios: => DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"resample: k must be positive, got $k")
    val h48 = conv(substring(
        md5(concat(col(idCol).cast("string"), lit("~g")).cast("binary")), 1, 12),
      16, 10).cast("long")
    val u = (h48.cast("double") + lit(0.5)) / lit(281474976710656.0) // 2^48
    val vNano = greatest(round(lit(1e9) * -log(u)).cast("long"), lit(1L))
    val gMicro = round(lit(1e6) * -log(vNano.cast("double") / lit(1e9))).cast("long")
    val key = (col("lr_micro") + gMicro).as("key_micro")
    ratios
      .select(col(idCol), col("n_tokens"), col("lr_micro"), key)
      .orderBy(col("key_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank",
        // ≤k rows post-limit: lit partition key silences the k-row
        // "No Partition Defined" warning (see Bm25.topK's note)
        row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("key_micro").desc, col(idCol))).cast("long"))
  }
}
