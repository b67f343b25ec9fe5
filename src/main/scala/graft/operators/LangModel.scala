package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Perplexity-style language-model quality filtering (the CCNet recipe,
  * Wenzek et al. 2020, arXiv:1911.00359): train a token model on a
  * REFERENCE slice of the corpus, then score every document by its
  * average negative log-likelihood under that model — low NLL reads as
  * fluent/in-domain, high NLL as noise, boilerplate, or wrong-language
  * text. CCNet trains a KenLM 5-gram; this is the unigram version with
  * add-one smoothing — the model order is a quality/cost knob, the
  * pipeline shape (train on reference → broadcast model → score corpus)
  * is identical.
  *
  * Scale shape: the model is ONE hash-aggregate over the reference
  * slice's tokens plus a one-row total (map-side combined), broadcast to
  * the scoring join; scoring explodes corpus tokens and left-joins the
  * small vocab — never a corpus×corpus shuffle; the per-doc reduction
  * is a map-side-combined sum (docs are row-contiguous, so partials
  * collapse before the exchange).
  *
  * Determinism: each token's NLL is quantized to integer MICRO-NATS on
  * the vocab side (a small frame), so the per-document sum is an exact
  * integer — independent of partition order, where a raw double sum
  * would not be. The one transcendental (ln) happens before the
  * quantization, same contract as Bm25's idf.
  */
object LangModel {

  /** Scores every row of `df`: (idCol, n_tokens, nll_micro, avg_nll).
    * The unigram model trains on the rows satisfying `refPred` with
    * add-one smoothing: p(tok) = (cnt+1)/(total+V); out-of-vocabulary
    * tokens score p = 1/(total+V). `avg_nll` is nll_micro/n_tokens
    * de-quantized back to nats. NULL text scores like the empty string
    * (one empty OOV token) so every input row really does come back —
    * a bare explode would silently drop NULL-text docs. */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
      refPred: Column): DataFrame =
    // NO Par.spread (r15): one tokenize+explode per row — r14 measured
    // spread costing doc_lm_score 0.85 → 1.11 s (1.3x over baseline);
    // the train/bigram entries keep theirs (their downstream is dense)
    nllFromExploded(df.select(col(idCol), refPred.as("__ref"),
      explode(Text.tokens(Text.normalize(coalesce(col(textCol), lit(""))))).as("__tok")),
      idCol)

  /** [[unigramNll]] over a pre-tokenized frame carrying `idCol`, a
    * `__toks` array column (built with the exact [[Text.tokens]] ∘
    * [[Text.normalize]] ∘ coalesce('' ) chain — same arrays, same
    * scores), and whatever columns `refPred` reads. Lets a multi-stage
    * pipeline ([[Curate]]'s shared token scan) tokenize the corpus ONCE
    * for every token-consuming stage instead of once per stage. */
  def unigramNllFromTokens(tokArrays: DataFrame, idCol: String,
      refPred: Column): DataFrame =
    nllFromExploded(tokArrays.select(col(idCol), refPred.as("__ref"),
      explode(col("__toks")).as("__tok")), idCol)

  /** Train the unigram model alone: (token, cnt) over the reference
    * slice's normalized tokens — the PERSISTABLE artifact of the
    * train-once/score-forever split. On a 100 TB corpus this is one
    * map-side-combined aggregate run at model-build time; the table is
    * vocabulary-sized and broadcasts to every later [[scoreWith]]. */
  def train(df: DataFrame, textCol: String, refPred: Column): DataFrame =
    Par.spread(df).filter(refPred)
      .select(explode(Text.tokens(Text.normalize(coalesce(col(textCol), lit("")))))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Score with a FROZEN model — `model` is a persisted [[train]] table
    * (token, cnt); the smoothing totals re-derive from it (one ≤vocab
    * aggregate), so the artifact is self-contained. Scores are
    * bit-identical to [[unigramNll]] run with the same reference slice
    * (the quantized per-token table is equal row-for-row), which is the
    * CCNet contract an incremental pipeline needs: the reference model
    * is fixed at build time and every later batch is judged by the SAME
    * yardstick — never by a model that drifts with the batch. */
  def scoreWith(model: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    nllFromVocab(model.select(col("token").as("__tok"), col("cnt").as("__cnt")),
      Par.spread(df).select(col(idCol),
        explode(Text.tokens(Text.normalize(coalesce(col(textCol), lit("")))))
          .as("__tok")),
      idCol)

  /** [[scoreWith]] over a pre-tokenized (`idCol`, `__toks`) frame —
    * the shared-corpus-scan form ([[unigramNllFromTokens]]'s caveat:
    * arrays must come from the same tokenize chain). */
  def scoreWithFromTokens(model: DataFrame, tokArrays: DataFrame,
      idCol: String): DataFrame =
    nllFromVocab(model.select(col("token").as("__tok"), col("cnt").as("__cnt")),
      tokArrays.select(col(idCol), explode(col("__toks")).as("__tok")), idCol)

  /** Train the bigram model alone: (prev, tok, cnt) over the reference
    * slice's adjacent token pairs — the persistable artifact of the
    * bigram train-once/score-forever split. Self-contained: context
    * totals AND the vocabulary size re-derive from the pair table
    * (every scoring-relevant token type appears as a prev or a tok),
    * so [[bigramNllWith]] needs nothing else. */
  def trainBigram(df: DataFrame, textCol: String,
      refPred: Column): DataFrame =
    bigramPairs(df.filter(refPred), textCol)
      .groupBy(col("__prev").as("prev"), col("__tok").as("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** Score with a FROZEN bigram model — bit-identical to [[bigramNll]]
    * run with the same reference slice (the quantized pair/context
    * tables are equal row-for-row): the CCNet frozen-yardstick contract
    * at the bigram order. */
  def bigramNllWith(model: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pairs = df.select(col(idCol), col(textCol))
    val exploded = bigramPairs(pairs, textCol, keepCols = Seq(col(idCol)))
    bigramNllFromModel(
      model.select(col("prev").as("__prev"), col("tok").as("__tok"),
        col("cnt").as("__cnt")),
      exploded, idCol)
  }

  /** In-row adjacent-pair derivation shared by the inline and frozen
    * bigram paths: one projected token array, one explode. */
  private def bigramPairs(df: DataFrame, textCol: String,
      keepCols: Seq[Column] = Nil): DataFrame = {
    val tk = col("__tk")
    Par.spread(df).select(keepCols :+
        filter(Text.tokens(Text.normalize(coalesce(col(textCol), lit("")))),
          t => length(t) > 0).as("__tk"): _*)
      .filter(size(tk) >= 2)
      .select(keepCols :+ explode(
        transform(sequence(lit(0), size(tk) - 2),
          i => struct(element_at(tk, i + 1).as("__prev"),
                      element_at(tk, i + 2).as("__tok")))).as("__p"): _*)
      .select(keepCols ++ Seq(
        col("__p.__prev").as("__prev"), col("__p.__tok").as("__tok")): _*)
  }

  private def nllFromExploded(toks: DataFrame, idCol: String): DataFrame =
    nllFromVocab(
      toks.filter(col("__ref")).groupBy(col("__tok")).agg(count(lit(1)).as("__cnt")),
      toks, idCol)

  /** Bigram NLL — the next model order up from [[unigramNll]] (CCNet's
    * KenLM is a 5-gram; each added order sharpens the fluency signal at
    * the cost of a bigger model table). Add-one smoothing PER CONTEXT:
    * p(b|a) = (cnt(a,b)+1) / (ctx(a)+V), where ctx(a) = Σ_b cnt(a,b)
    * over the reference slice and V = the reference's unigram vocabulary
    * size; a pair with an unseen context scores p = 1/V. Same
    * determinism contract as the unigram: every per-pair probability is
    * quantized to integer micro-nats on the MODEL side (pair-table and
    * context-fallback rows), so per-doc sums are exact integers in any
    * partition order.
    *
    * Scale shape: the model is one hash-aggregate over reference PAIRS
    * (distinct-bigram-sized — its scoring join carries NO broadcast
    * hint, so AQE broadcasts it while the measured size fits and plans
    * a shuffle join on (prev,tok) once a 100 TB corpus's pair table
    * outgrows the driver; only the provably small frames — vstat is one
    * row, ctx ≤ vocab — keep explicit hints), the context table folds
    * from it
    * (≤vocab rows), and pairs are built IN THE ROW (transform over the
    * token array — the doc_repetition idiom) so the exploded frame is a
    * pure map of the corpus scan, never a self-join. Docs with fewer
    * than 2 tokens have no bigrams and are excluded — the caller keeps
    * them via its own left join if "no signal" must stay a row.
    *
    * Output: (idCol, n_bigrams, nll_micro, avg_nll). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      refPred: Column): DataFrame = {
    val tk = col("__tk")
    val pairs = Par.spread(df)
      .select(col(idCol), refPred.as("__ref"),
        filter(Text.tokens(Text.normalize(coalesce(col(textCol), lit("")))),
          t => length(t) > 0).as("__tk"))
      .filter(size(tk) >= 2)
      // pair structs built per row: lambda indexes the projected array,
      // so no token leaves its row before the single explode below
      .select(col(idCol), col("__ref"), explode(
        transform(sequence(lit(0), size(tk) - 2),
          i => struct(element_at(tk, i + 1).as("__prev"),
                      element_at(tk, i + 2).as("__tok")))).as("__p"))
      .select(col(idCol), col("__ref"),
        col("__p.__prev").as("__prev"), col("__p.__tok").as("__tok"))
    val pcnt = pairs.filter(col("__ref")).groupBy(col("__prev"), col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    bigramNllFromModel(pcnt, pairs.drop("__ref"), idCol)
  }

  /** Shared bigram scoring core: `pcnt` is the (possibly persisted)
    * (__prev, __tok, __cnt) pair table; context totals and V re-derive
    * from it. V = the distinct prev∪tok token set — identical to the
    * reference slice's unigram vocabulary over >=2-token docs, since
    * every token of a scoring-eligible ref doc appears as a pair's
    * prev (all but the last) or tok (all but the first). */
  private def bigramNllFromModel(pcnt: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val vstat = pcnt.select(col("__prev").as("__t"))
      .union(pcnt.select(col("__tok").as("__t")))
      .agg(count_distinct(col("__t")).as("__v"))
    val ctx = pcnt.groupBy(col("__prev")).agg(sum(col("__cnt")).as("__ctx"))
    // empty reference slice → __v is 0 (count over no rows) → ln(1/0)
    // guard: NULLs propagate like the unigram's empty-slice contract
    val vNull = when(col("__v") > 0, col("__v")).otherwise(lit(null))
    val pairNll = pcnt.join(broadcast(ctx), Seq("__prev"))
      .crossJoin(broadcast(vstat))
      .select(col("__prev"), col("__tok"),
        round(lit(1e6) * -log((col("__cnt") + lit(1L)).cast("double") /
          (col("__ctx") + vNull).cast("double"))).cast("long").as("__nllq"))
    val ctxOov = ctx.crossJoin(broadcast(vstat))
      .select(col("__prev"),
        round(lit(1e6) * -log(lit(1.0) /
          (col("__ctx") + vNull).cast("double"))).cast("long").as("__oovq"))
    val globalOov = round(lit(1e6) * -log(lit(1.0) / vNull.cast("double")))
      .cast("long")
    // no hint on the pair-table join: an explicit broadcast() is honored
    // regardless of estimated size, so at corpus scale it would OOM the
    // driver instead of degrading — unhinted, AQE broadcasts while small
    // and falls back to a shuffle join on (__prev, __tok) when not
    pairs.join(pairNll, Seq("__prev", "__tok"), "left_outer")
      .join(broadcast(ctxOov), Seq("__prev"), "left_outer")
      .crossJoin(broadcast(vstat))
      .select(col(idCol),
        coalesce(col("__nllq"), col("__oovq"), globalOov).as("__q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__q")).as("nll_micro"))
      .withColumn("avg_nll",
        col("nll_micro").cast("double") / col("n_bigrams").cast("double") / lit(1e6))
  }

  private def nllFromVocab(vcnt: DataFrame, toks: DataFrame, idCol: String): DataFrame = {
    val stats = vcnt.agg(sum(col("__cnt")).as("__total"), count(lit(1)).as("__v"))
    val denom = (col("__total") + col("__v")).cast("double")
    // empty reference slice → denom is NULL (sum over no rows), every
    // nllq NULL, and the per-doc outputs go NULL rather than the
    // round(+Inf) overflow an unguarded ln(1/0) would produce — which
    // Spark saturates and DuckDB rejects
    val vocab = vcnt.crossJoin(broadcast(stats))
      .select(col("__tok"),
        round(lit(1e6) * -log((col("__cnt") + lit(1L)).cast("double") / denom))
          .cast("long").as("__nllq"))
    val oov = round(lit(1e6) * -log(lit(1.0) / denom)).cast("long")
    toks.join(broadcast(vocab), Seq("__tok"), "left_outer")
      .crossJoin(broadcast(stats))
      .select(col(idCol), coalesce(col("__nllq"), oov).as("__q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__q")).as("nll_micro"))
      .withColumn("avg_nll",
        col("nll_micro").cast("double") / col("n_tokens").cast("double") / lit(1e6))
  }
}
