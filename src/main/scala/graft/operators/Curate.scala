package graft.operators

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus curation — the filter → dedup pass a training corpus goes
  * through before packing — as ONE staged pipeline over any (id, text)
  * frame. Four configurations share its stages:
  *
  * {{{
  * configuration  language-ID          quality gate              LM gate  near-dup clusters   tail
  * curate         Text.langId          quality_score >= min      -        dupClusters (text)  -
  *                                     (CJK exempt)
  * curateV2       trained profiles     quality_score >= min      trained  token scan          DSIR resample
  * curateV3       trained profiles     margin > cut (perceptron  trained  token scan          DSIR resample
  *                                     trained ∥ language-ID)
  * curateDelta    frozen profiles      quality_score >= min      frozen   dupClusters (text)  dedup vs state
  * }}}
  *
  * The stages:
  *
  *  1. score: [[curate]] projects its heuristic scores in one pass; the
  *     model configurations read ONE shared token/trigram scan
  *     (`tokenScan`) for language-ID ([[LangProfile]]), the unigram LM
  *     gate ([[LangModel]]), the trained classifier
  *     ([[QualityClassifier]]), near-dup shingles and DSIR, then join
  *     their outputs onto the docs with the gate column and the
  *     normalized fingerprint;
  *  2. filter: confident language (`keepLangs`; unscorable short docs
  *     drop), the quality gate, and average NLL <= `maxAvgNllMicro`
  *     micro-nats/token compared CROSS-MULTIPLIED in exact integers
  *     (`nll_micro <= maxAvgNllMicro · n_tokens`; a doc with an empty
  *     token stream has no score and passes);
  *  3. dedup (`dedup`): exact dedup to the minimum-id survivor per
  *     fingerprint (one hash aggregate + a co-keyed semi-join), then
  *     near-dup clusters of the exact survivors (minhash → LSH bands →
  *     verified jaccard >= `minJaccard` → connected components) and one
  *     anti-join;
  *  4. tail: DSIR importance resampling of the survivors (v2/v3), or
  *     dedup against the persisted signature state (delta).
  *
  * Every stage is engine-exact, so each configuration oracle-gates
  * (doc_curate, doc_curate_v2, doc_curate_v3, doc_curate_incremental).
  *
  * EXECUTION SEMANTICS: checkpoint-stepped like NearDup.minhashPairs —
  * the SCORED frame is localCheckpoint'd BEFORE the filter, so the
  * regex scoring trees evaluate exactly once per row. Filtering the
  * lazy projection instead would let PushDownPredicates substitute the
  * lang_pred/quality aliases into the filter condition — four copies
  * of the scoring tree in one predicate, a generated method past
  * Janino's 64KB limit, and the whole scan stage silently interpreted
  * (measured 23.5 s vs ~4 s at sf0.1). ONLY the scans, the scored frame
  * and the results materialize: the exact-dedup survivors stay LAZY
  * and fuse into their consumers — the agg + semi-join re-run per
  * consumer over the scored checkpoint's blocks, which is far cheaper
  * than pushing a second full copy of the corpus (with its text
  * column) through the block manager (r7 verdict: the eager `exact`
  * checkpoint serialized the stages and cost ~5 s of the query's
  * 11 s at sf0.1). Every intermediate checkpoint is scoped (`scoped`)
  * and freed ON ALL PATHS (leaked MEMORY_AND_DISK blocks degraded
  * unrelated later queries 3-7× in a full bench session); at 100 TB
  * the scored intermediate would be written to a table instead.
  *
  * The RETURNED frame is itself an eager localCheckpoint (the lineage
  * ends at blocks that outlive the internal frees). Callers that run
  * many queries in one session should call [[release]] on it once
  * done, or its corpus-sized blocks stay resident until the
  * ContextCleaner notices.
  */
object Curate {

  /** The quality gate of the trained pipeline — the one stage
    * [[curateV2]] and [[curateV3]] differ in — and the column it adds. */
  private sealed trait QualityGate { def column: String }
  /** `Text.qualityScore >= minQuality`. */
  private final case class Floor(minQuality: Double) extends QualityGate {
    def column = "quality_score"
  }
  /** Perceptron margin > cut ([[QualityClassifier]]). */
  private final case class Classifier(iters: Int, features: Int,
      medianCut: Boolean) extends QualityGate {
    def column = "margin"
  }

  /** The heuristic chain: `Text.langId` keeps docs with a confident
    * language, `Text.qualityScore >= minQuality` (CJK exempt — the
    * alpha/stopword signals are latin-centric; a production pipeline
    * scores CJK separately), then exact and near-dup dedup. Returns the
    * surviving rows with `lang_pred` and `quality_score` attached (all
    * original columns kept). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5, minJaccard: Double = 0.5): DataFrame = {
    requireFree(docs, "curate", Seq("lang_pred", "quality_score", "__fp"))
    val t = col(textCol)
    // Par.spread BEFORE the scoring projection: the lang/quality regex
    // trees are the dense map and would otherwise fuse into a one-task
    // scan (identity on production inputs; gates below are exact)
    scoped(Par.spread(docs).select(docs.columns.toSeq.map(col) ++ Seq(
        Text.langId(t).as("lang_pred"),
        Text.qualityScore(t).as("quality_score"),
        Text.fingerprint(t).as("__fp")): _*)
      .localCheckpoint(true)) { scored =>
      val filtered = scored.filter(col("lang_pred") =!= "unknown" &&
        (col("quality_score") >= minQuality || col("lang_pred") === "zh"))
      dedup(filtered, idCol, NearDup.dupClusters(_, idCol, textCol, minJaccard))(
        _.drop("__fp").localCheckpoint(true))
    }
  }

  /** CURATION v2 — the CCNet/DSIR-shaped pipeline composed from the
    * TRAINED components: Cavnar-Trenkle language-ID learned from the
    * labeled corpus ([[LangProfile.classify]]), the heuristic quality
    * floor (latin-centric: a CJK entry in `keepLangs` wants its own
    * threshold), the unigram LM gate trained once on the corpus's
    * `langCol == 'en'` slice (the fixed reference model), exact and
    * near-dup dedup, and DSIR importance resampling ([[Dsir.resample]]
    * over the SURVIVORS — both its LMs train on the curated set): the
    * `dsirK` winners of the deterministic salted-Gumbel draw are the
    * final training mix, sampled ∝ softmax(importance ratio).
    *
    * Returns (idCol, lang_pred, quality_score, n_tokens, lr_micro,
    * key_micro, rank) — rank 1..dsirK in selection order. The oracle
    * chains the doc_lang_trained / doc_lm_score / doc_dsir CTE blocks. */
  def curateV2(docs: DataFrame, idCol: String, textCol: String, langCol: String,
      dsirTargetPred: Column, dsirK: Int,
      keepLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      minQuality: Double = 0.5,
      maxAvgNllMicro: Long = 3410000L,
      minJaccard: Double = 0.5): DataFrame =
    curateTrained(docs, idCol, textCol, langCol, dsirTargetPred, dsirK, keepLangs,
      Floor(minQuality), maxAvgNllMicro, minJaccard, "curateV2")

  /** CURATION v3 — [[curateV2]] with its one remaining HEURISTIC gate
    * replaced by the TRAINED discriminative classifier
    * ([[QualityClassifier]], the GPT-3 §A recipe: "a classifier to
    * distinguish [high-quality reference] from raw Common Crawl"),
    * trained reference-slice (`dsirTargetPred`, the slice DSIR targets)
    * vs the UNFILTERED corpus and applied as perceptron margin > cut
    * (`clsMedianCut`: see `marginCut`). It trains and scores from the
    * shared token scan, so each doc's margin is bit-identical to the
    * standalone doc_quality_classifier gate's. Returns (idCol,
    * lang_pred, margin, n_tokens, lr_micro, key_micro, rank). */
  def curateV3(docs: DataFrame, idCol: String, textCol: String, langCol: String,
      dsirTargetPred: Column, dsirK: Int,
      keepLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      maxAvgNllMicro: Long = 3410000L,
      minJaccard: Double = 0.5,
      clsIters: Int = 4, clsFeatures: Int = 64,
      clsMedianCut: Boolean = false): DataFrame =
    curateTrained(docs, idCol, textCol, langCol, dsirTargetPred, dsirK, keepLangs,
      Classifier(clsIters, clsFeatures, clsMedianCut), maxAvgNllMicro, minJaccard,
      "curateV3")

  /** INCREMENTAL curation — [[curateV2]]'s gates applied to a DELTA
    * with every model FROZEN, the shape a continuously-ingesting
    * 100 TB corpus actually runs: models train once at corpus-build
    * time ([[LangProfile.profiles]], [[LangModel.train]],
    * [[DedupState.stateOf]] — all persisted tables), and each arriving
    * batch is curated against those artifacts at O(batch + state) —
    * the corpus text is NEVER re-read, re-tokenized, or re-modeled. The
    * LM gate is the CCNet fixed-reference-model contract: every batch is
    * judged by the SAME yardstick. The batch is deduped against itself
    * (a delta can contain its own duplicates), then against the
    * PERSISTED signature state ([[DedupState.dedupeAgainstState]]).
    *
    * Returns the surviving batch rows with `lang_pred`/`quality_score`
    * attached AND their own fp/sh/sig state columns retained, so the
    * caller absorbs them into the state table without recomputing
    * anything (drop [[DedupState.StateCols]] if unwanted). A batch
    * curated here equals the same docs curated by a [[curateV2]] whose
    * training slices were the frozen artifacts' sources. */
  def curateDelta(profiles: DataFrame, lm: DataFrame, state: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      keepLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      minQuality: Double = 0.5,
      maxAvgNllMicro: Long = 3410000L,
      minJaccard: Double = 0.5): DataFrame = {
    requireFree(batch, "curateDelta",
      Seq("lang_pred", "quality_score", "n_tokens", "nll_micro", "__fp") ++
        DedupState.StateCols)
    val batchS = Par.spread(batch)
    scoped(tokenScan(batchS, idCol, textCol, Nil)) { shared =>
      val pred = LangProfile.classifyWithFromArrays(profiles,
        shared.select(col(idCol), col("__grams")), idCol)
      val lmScores = LangModel.scoreWithFromTokens(lm,
        shared.select(col(idCol), col("__toks")), idCol)
      val (attach, keep) = floor(textCol, minQuality)
      gated(batchS, idCol, textCol, pred, lmScores, attach, keep, keepLangs,
          maxAvgNllMicro) { filtered =>
        // batch survivors stay LAZY into dedupeAgainstState (it scans
        // its batch input exactly once, into its own persisted frame);
        // the clusters are freed only after its eager result exists
        dedup(filtered, idCol, NearDup.dupClusters(_, idCol, textCol, minJaccard)) {
          surv => DedupState.dedupeAgainstState(state,
            surv.drop("__fp", "n_tokens", "nll_micro"), idCol, textCol, minJaccard)
        }
      }
    }
  }

  /** Free the storage blocks behind a frame [[curate]] returned (or any
    * frame rooted at an eager localCheckpoint). Safe no-op on frames
    * with no checkpoint leaf. */
  def release(df: DataFrame): Unit = NearDup.freeCheckpoint(df)

  /** [[curateV2]] and [[curateV3]]: one body, the quality gate a value. */
  private def curateTrained(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, dsirTargetPred: Column, dsirK: Int, keepLangs: Seq[String],
      gate: QualityGate, maxAvgNllMicro: Long, minJaccard: Double,
      caller: String): DataFrame = {
    requireFree(docs, caller, Seq("lang_pred", gate.column, "n_tokens", "nll_micro", "__fp"))
    val docsS = Par.spread(docs)
    // the classifier's training label rides in the scan
    val label = gate match {
      case _: Classifier => Seq(dsirTargetPred.as("__tgt"))
      case _: Floor => Nil
    }
    scoped(tokenScan(docsS, idCol, textCol, col(langCol) +: label)) { shared =>
      val classify = () => LangProfile.classifyFromArrays(
        shared.select(col(idCol), col(langCol).as("lang"), col("__grams")), idCol)
      // the trained quality gate: reference slice vs the RAW corpus —
      // trained before any other gate touches the data (the GPT-3 split),
      // concurrently with language-ID (both read only the token scan)
      val train = gate match {
        case Classifier(iters, features, _) =>
          Seq(() => QualityClassifier.trainFromTokens(shared, idCol, "__toks",
            col("__tgt"), iters = iters, numFeatures = features))
        case _: Floor => Nil
      }
      // the trained weights are a driver-local table: only `pred` holds blocks
      val pred +: weights = allOrNone(classify +: train)
      scoped(pred) { pred =>
        // lazy: fuses into the scored checkpoint
        val lm = LangModel.unigramNllFromTokens(shared, idCol, col(langCol) === "en")
        val (attach, keep) = gate match {
          case Floor(minQuality) => floor(textCol, minQuality)
          case Classifier(_, features, medianCut) =>
            val margins = QualityClassifier.scoreFromTokens(weights.head, shared,
              idCol, "__toks", numFeatures = features).select(col(idCol), col("margin"))
            ((df: DataFrame) => df.join(margins, Seq(idCol)),
              col("margin") > marginCut(margins, medianCut))
        }
        gated(docsS, idCol, textCol, pred, lm, attach, keep, keepLangs,
            maxAvgNllMicro) { filtered =>
          // near-dup clusters from the shared token arrays (the same
          // equi-join restriction DSIR uses below): minhash shingles are
          // word-token 3-grams, so this absorbs the one normalize+split
          // text pass the scan had not yet covered — shingle arrays
          // element-identical, clusters bit-identical (oracle-locked)
          val fromTokens = (exact: DataFrame) => NearDup.dupClustersFromTokens(
            shared.select(col(idCol), col("__toks"))
              .join(exact.select(col(idCol)), Seq(idCol)),
            idCol, minJaccard)
          scoped(dedup(filtered, idCol, fromTokens)(
              _.drop("__fp", "n_tokens", "nll_micro").localCheckpoint(true))) { surv =>
            // DSIR re-reads the SHARED token arrays restricted to the
            // survivors (AQE broadcasts the small survivor side) instead
            // of re-tokenizing; tokens per id are identical, so the draw
            // is bit-identical
            val survToks = surv.select(col(idCol), dsirTargetPred.as("__tgt"))
              .join(shared.select(col(idCol), col("__toks")), Seq(idCol))
            scoped(Dsir.resampleFromTokens(survToks, idCol, col("__tgt"), dsirK)) {
              picked => picked
                .join(surv.select(col(idCol), col("lang_pred"), col(gate.column)),
                  Seq(idCol))
                .select(col(idCol), col("lang_pred"), col(gate.column),
                  col("n_tokens"), col("lr_micro"), col("key_micro"), col("rank"))
                .localCheckpoint(true)
            }
          }
        }
      }
    }
  }

  private def requireFree(df: DataFrame, caller: String, reserved: Seq[String]): Unit =
    reserved.foreach { c =>
      require(!df.columns.contains(c), s"$caller: input must not already carry '$c'")
    }

  /** Runs `body` on an eagerly checkpointed frame, then frees the
    * frame's blocks — on success and on failure. */
  private def scoped[A](ck: DataFrame)(body: DataFrame => A): A =
    try body(ck) finally release(ck)

  /** Runs independent stages concurrently ([[Par.inParallel]]) and
    * returns their frames. If any stage fails, every frame the others
    * returned is freed and the first failure rethrown; the others run
    * to completion first (read-only stages, so a failure only wastes
    * their work and cancels no writer). */
  private def allOrNone(stages: Seq[() => DataFrame]): Seq[DataFrame] = {
    val out = Par.inParallel(stages.map(s => () => Try(s())))
    out.collectFirst { case Failure(e) => e }.foreach { e =>
      out.foreach(_.foreach(release))
      throw e
    }
    out.map(_.get)
  }

  /** ONE corpus scan for every token-consuming stage: (idCol, extra...,
    * __toks, __grams), eagerly checkpointed. The word tokens (LM gate,
    * classifier, near-dup shingles, DSIR) and the char trigrams
    * (language-ID) derive from the same pass over the text column —
    * without it each stage re-scans and re-tokenizes the corpus (three
    * full normalize+split passes, measured ~4+1.5+2 s of the r9 v2
    * query's 16 s at sf0.1). The array expressions are byte-for-byte
    * the ones the standalone operators build, so every stage's result is
    * bit-identical to its standalone gated query. `docsS` is spread
    * once at entry: that also sets this checkpoint's partition count, so
    * every downstream token consumer reads it parallel instead of
    * inheriting a one-task scan's single block. */
  private def tokenScan(docsS: DataFrame, idCol: String, textCol: String,
      extra: Seq[Column]): DataFrame = {
    val arrays = docsS.select(col(idCol) +: extra :+
      split(lower(col(textCol)), "").as("__ch") :+
      Text.tokens(Text.normalize(coalesce(col(textCol), lit("")))).as("__toks"): _*)
    arrays.select(arrays.columns.toSeq.filterNot(_ == "__ch").map(col) :+
        LangProfile.charTrigrams(col("__ch")).as("__grams"): _*)
      .localCheckpoint(true)
  }

  /** The heuristic floor: attaches `quality_score`, keeps >= `minQuality`. */
  private def floor(textCol: String, minQuality: Double): (DataFrame => DataFrame, Column) =
    (_.withColumn("quality_score", Text.qualityScore(col(textCol))),
      col("quality_score") >= minQuality)

  /** The trained-quality cut. `medianCut = false` keeps margin > 0 (the
    * GPT-3 recipe's natural zero for a separable reference slice). When
    * the reference labels don't separate the corpus textually (e.g. a
    * synthetic corpus whose slices share one token pool), the full-batch
    * perceptron's margins move as a BLOCK — margin > 0 keeps everything
    * or nothing depending on which side of the oscillation the final
    * round lands. `medianCut = true` CALIBRATES the cut at the
    * corpus-median margin instead (the GPT-3 report's "threshold chosen
    * to hit a keep rate" made deterministic): exact `percentile` over
    * integer margins — a dyadic midpoint at even counts, bit-identical
    * cross-engine — keeps the strictly-above-median half at any scale.
    * One-row bounded collect; an empty corpus has no median and falls
    * back to the zero cut. */
  private def marginCut(margins: DataFrame, medianCut: Boolean): Column =
    if (medianCut) {
      val r = margins.agg(expr("percentile(margin, 0.5D)").as("__mcut")).head()
      lit(if (r.isNullAt(0)) 0.0 else r.getDouble(0))
    } else lit(0L).cast("double")

  /** The scored frame of the model configurations — docs ⋈ `pred`'s
    * lang_pred ⋈ `lm`'s (n_tokens, nll_micro), the gate column
    * (`attach`) and the fingerprint — checkpointed BEFORE the filter
    * (see the object doc); `body` gets the rows that pass language-ID,
    * `keep` and the LM gate. */
  private def gated[A](docsS: DataFrame, idCol: String, textCol: String,
      pred: DataFrame, lm: DataFrame, attach: DataFrame => DataFrame, keep: Column,
      keepLangs: Seq[String], maxAvgNllMicro: Long)(body: DataFrame => A): A =
    scoped(attach(docsS
        .join(pred.select(col(idCol), col("lang_pred")), Seq(idCol))
        .join(lm.select(col(idCol), col("n_tokens"), col("nll_micro")),
          Seq(idCol), "left_outer"))
      .withColumn("__fp", Text.fingerprint(col(textCol)))
      .localCheckpoint(true)) { scored =>
      body(scored
        .filter(col("lang_pred").isin(keepLangs: _*))
        .filter(keep)
        .filter(col("nll_micro").isNull ||
          col("nll_micro") <= lit(maxAvgNllMicro) * col("n_tokens")))
    }

  /** Exact dedup (minimum-id survivor per `__fp`), near-dup clusters of
    * the exact survivors (`clustersOf`, an eager checkpoint), then
    * [[Transform.dropNearDups]]. `k` gets the LAZY survivors; the
    * clusters are freed after `k` returns, so `k` must materialize what
    * it keeps. */
  private def dedup[A](filtered: DataFrame, idCol: String,
      clustersOf: DataFrame => DataFrame)(k: DataFrame => A): A = {
    val canon = filtered.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    val exact = filtered.join(canon, Seq("__fp", idCol), "left_semi")
    scoped(clustersOf(exact))(clusters => k(Transform.dropNearDups(exact, clusters, idCol)))
  }
}
