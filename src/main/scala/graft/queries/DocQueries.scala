package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.model.Tables
import graft.operators.{NearDup, Sampling}

/** Text-analysis and document-dedup queries over the `documents` table —
  * the training-data-pipeline surface (language-ID, quality scoring, token
  * counting, fingerprinting, exact + MinHash + SimHash dedup, multimodal
  * binary stats). Every query has a DuckDB oracle that mirrors the Spark
  * expression tree op-for-op: integer/string ops are exact, and every
  * double is produced by the same literal sequence of IEEE operations on
  * both engines (casts to DOUBLE are explicit in the SQL because DuckDB
  * parses bare numeric literals as DECIMAL).
  */
object DocQueries {

  /** doc_quality — per-document quality features: token counts (whitespace
    * + BPE-ish), alpha/punct/stopword ratios, composite score, fingerprint. */
  def docQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = col("text")
    d.select(
      col("doc_id"),
      Text.tokenCount(t).cast("long").as("token_count"),
      Text.bpeishTokenCount(t).as("bpeish_tokens"),
      Text.alphaRatio(t).as("alpha_ratio"),
      Text.punctRatio(t).as("punct_ratio"),
      Text.stopwordRatio(t).as("stopword_ratio"),
      Text.qualityScore(t).as("quality_score"),
      Text.fingerprint(t).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** doc_lang_id — heuristic language-ID next to the synthetic label. */
  def docLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Text.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** doc_dedupe_exact — exact-dup groups by normalized-text fingerprint
    * (group size 1 = unique doc; canonical = min doc_id). */
  def docDedupeExact(spark: SparkSession, dir: String): DataFrame =
    NearDup.exactDupGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("canonical_id")

  /** doc_minhash_pairs — MinHash+LSH banded near-dup candidates with
    * verified 3-gram Jaccard (12 hashes, 6 bands × 2 rows — the banding
    * an S-curve at the 0.5 jaccard threshold wants: catch probability
    * 1-(1-j²)⁶ ≈ 0.93 at j=0.6). */
  def docMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, bands = 6)
      .orderBy("doc_a", "doc_b")

  /** doc_dedup_corpus — the END-TO-END near-dup dedup output: the
    * corpus minus every clustered doc except its cluster's canonical
    * (minimum-id) survivor — minhash → LSH bands → verified jaccard →
    * connected components → one anti-join (Transform.dropNearDups).
    * This is the frame a training pipeline actually materializes; the
    * oracle recomputes the whole chain including the recursive-CTE
    * closure. */
  def docDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = NearDup.dupClusters(docs, "doc_id", "text", minJaccard = 0.5)
    graft.operators.Transform.dropNearDups(docs, clusters, "doc_id")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** doc_redact — PII scrub pass over the corpus: per-doc fingerprint of
    * the redacted text plus a changed flag (the synthetic corpus carries
    * no PII, so `changed` is all-false here — the gate proves the Spark
    * and DuckDB regex chains are character-identical; TextSpec carries
    * the positive redaction cases on PII fixtures). */
  def docRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // the redacted text is projected once (referenced twice below —
      // inline, the 3-regex chain would run per reference)
      .select(col("doc_id"), col("text"), Text.redact(col("text")).as("__red"))
      .select(col("doc_id"),
        md5(col("__red").cast("binary")).as("redacted_fp"),
        (col("__red") =!= col("text")).as("changed"))
      .orderBy("doc_id")

  /** doc_vocab — tokenizer-vocabulary building: top-200 normalized
    * tokens by corpus frequency (ties broken lexically — fully
    * deterministic). The classic wordcount shape: map-side partial
    * counts per token, one shuffle on token, TakeOrderedAndProject for
    * the bounded head — at 100 TB nothing but (token, partial count)
    * rows move, and the result is vocab-sized. */
  def docVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // outer + post-filter: see NearDup.shingleSets (a plain explode's
      // inferred filter would re-run the normalize chain per row)
      .select(explode_outer(
        filter(Text.tokens(Text.normalize(col("text"))), t => length(t) > 0))
        .as("token"))
      .filter(col("token").isNotNull)
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(200)

  /** doc_collocations — corpus COLLOCATION mining (word2phrase /
    * PMI-style): the top-50 adjacent-token bigrams by LIFT
    * n_pair·N / (n_w1·n_w2) — PMI's argument, same ranking (log is
    * monotone) without a float log in either engine. Bigrams come from
    * an array zip INSIDE each doc (no self-join, no window shuffle:
    * slice-and-zip_with over the token array, then one wordcount-shaped
    * aggregate); the minimum-support filter (n_pair ≥ 5) cuts the pair
    * frame BEFORE the vocabulary-sized marginal joins. Lift is the one
    * documented double: four exact BIGINTs converted once and combined
    * in a pinned mul-mul-div order — bit-identical cross-engine, and
    * immune to the Long overflow a scaled-integer lift would hit at
    * n_pair·N > 2^63/10^6. The NULL-text contract matches Curate:
    * coalesce to '' → zero bigrams. */
  def docCollocations(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: sentinel-pad the token array ('^'/'$' cannot
    // collide — normalize keeps only [a-z0-9 ]) so every token instance
    // appears exactly once as a pair's LEFT and once as a pair's RIGHT;
    // the unigram marginals are then ROW SUMS of the (vocab²-bounded)
    // pair-count frame — the normalize/tokenize chain, the expensive
    // part at corpus scale, runs once instead of once per marginal.
    // Par.spread: the tokenize+zip bigram derivation is the dense map;
    // pair counts and marginals are exact integers
    val tk = graft.operators.Par.spread(Tables.documents(spark, dir))
      .select(concat(array(lit("^")),
        filter(Text.tokens(Text.normalize(coalesce(col("text"), lit("")))),
          t => length(t) > 0),
        array(lit("$"))).as("tk"))
    // checkpoint the pair counts: four consumers (bigrams, two
    // marginals, the total) would each push a DIFFERENT filter below
    // the aggregate, defeating exchange reuse and re-tokenizing the
    // corpus per consumer (the doc_tfidf tf-frame lesson)
    val pc = tk
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(true)
    try {
      // marginals and the bigram total from the SMALL pair frame
      val uni = pc.filter(col("w1") =!= "^")
        .groupBy(col("w1").as("w")).agg(sum(col("n_pair")).as("n_w"))
      val real = pc.filter(col("w1") =!= "^" && col("w2") =!= "$")
      val tot = real.agg(sum(col("n_pair")).as("n_total"))
      real.filter(col("n_pair") >= 5)
        .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
        .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("lift",
          (col("n_pair").cast("double") * col("n_total").cast("double")) /
            (col("n_w1").cast("double") * col("n_w2").cast("double")))
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
          col("n_total"), col("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(50)
        .localCheckpoint(true)
    } finally graft.operators.NearDup.freeCheckpoint(pc)
  }

  /** doc_simhash — 16-bit SimHash fingerprint per document. */
  def docSimhash(spark: SparkSession, dir: String): DataFrame =
    NearDup.simhash(Tables.documents(spark, dir), "doc_id", "text", bits = 16)
      .orderBy("doc_id")

  /** doc_winnow — winnowing (rolling k-gram window) fingerprints:
    * (doc_id, fingerprint) distinct, k=3-gram hashes, window w=4. */
  def docWinnow(spark: SparkSession, dir: String): DataFrame =
    NearDup.winnowFingerprints(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id", "fingerprint")

  /** doc_drift_ks — two-sample KS drift monitor (Sketch.ksDrift): does
    * the "incoming batch" (odd doc_ids) match the "current corpus"
    * (even doc_ids) on the n_chars distribution? Binned ECDFs (64
    * shared equal-width bins), exact cross-multiplied integer distance,
    * one pinned double at the end — the corpus-version drift check a
    * continuously-ingesting pipeline runs before accepting a batch. */
  def docDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.operators.Sketch.ksDrift(
      d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1),
      col("n_chars"), bins = 64)
  }

  /** doc_lang_trained — TRAINED language-ID (graft.operators.LangProfile,
    * Cavnar-Trenkle 1994): per-language top-64 char-trigram rank
    * profiles learned from the labeled corpus, every doc classified by
    * minimal out-of-place rank distance. The trained upgrade of
    * doc_lang_id's marker heuristic; pure integer arithmetic end to
    * end. Output pairs the true label with the prediction. */
  def docLangTrained(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.operators.LangProfile.classify(d, "doc_id", "lang", "text")
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("lang_pred"), col("dist"))
      .orderBy("doc_id")
  }

  /** doc_entropy — per-doc token-distribution Shannon entropy
    * (Text.entropySumMicro): the diversity/templating quality signal
    * next to doc_repetition — near-zero entropy = one token repeated,
    * ln(distinct) = maximal diversity. A PURE MAP like doc_repetition
    * (tokens never leave their row); the exact integer numerator ships,
    * entropy_micro = its engine-exact integer division by n, `entropy`
    * the paren-pinned double. Docs whose normalized text has no tokens
    * are excluded (nothing to score). */
  def docEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(Text.tokens(Text.normalize(col("text"))), t => length(t) > 0)
    val tk = col("__tk")
    Tables.documents(spark, dir)
      // token array projected FIRST (the shingleSets 8× pitfall)
      .select(col("doc_id"), toks.as("__tk"))
      .filter(size(tk) >= 1)
      .select(col("doc_id"),
        size(tk).cast("long").as("total_tokens"),
        size(array_distinct(tk)).cast("long").as("distinct_tokens"),
        Text.entropySumMicro(tk).as("entropy_sum_micro"))
      .withColumn("entropy_micro", expr("entropy_sum_micro div total_tokens"))
      .withColumn("entropy",
        (col("entropy_sum_micro").cast("double") / col("total_tokens").cast("double"))
          / lit(1e6))
      .orderBy("doc_id")
  }

  /** doc_winnow_pairs — MOSS cross-document match pairs
    * (NearDup.winnowPairs): doc pairs sharing >= 2 surviving winnow
    * fingerprints, scored shared/min(|fpA|,|fpB|) after the maxDf=50
    * stop-fingerprint cut — the local-copy (lifted paragraph) detector
    * next to the whole-doc jaccard/simhash/edit-distance metrics. */
  def docWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.winnowPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  /** doc_dup_clusters — near-dup clusters: minhash pairs verified at
    * jaccard >= 0.5, closed under connectivity (min-label propagation);
    * cluster_id = the cluster's minimum doc_id (the canonical doc a
    * dedup pipeline keeps). */
  def docDupClusters(spark: SparkSession, dir: String): DataFrame =
    NearDup.dupClusters(Tables.documents(spark, dir), "doc_id", "text",
        minJaccard = 0.5)
      .orderBy("doc_id")

  /** doc_simhash_pairs — banded SimHash near-dup pairs: 32-bit
    * fingerprint, 4×8-bit bands, Hamming <= 3 (lossless by pigeonhole),
    * bit_count(xor) verify. */
  def docSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        bits = 32, bands = 4, maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** doc_simhash64_pairs — the larger-corpus variant the 32-bit scaladoc
    * prescribes: 64-bit fingerprint (two md5 words per token), Hamming
    * <= 5, candidates via COMBINATION banding (Manku et al. 2007 —
    * NearDup.simhashPairsCombo): 8 blocks, C(8,3) = 56 three-block keys
    * of ~16.7M values each, so buckets stay near-singleton far past the
    * point where contiguous-band buckets saturate (sf1→sf3 measured the
    * 6-band form going quadratic at 150k fingerprints, 10.3× for 3×
    * data; the combo form stays ~linear). The band layout is candidate
    * generation only: the output is the exact Hamming filter, so the
    * DuckDB oracle's own lossless 8×8 banding gates it unchanged. */
  def docSimhash64Pairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.simhashPairsCombo(Tables.documents(spark, dir), "doc_id", "text",
        bits = 64, blocks = 8, maxHamming = 5)
      .orderBy("doc_a", "doc_b")

  /** doc_containment_pairs — the ASYMMETRIC near-dup metric over the
    * same LSH candidates as doc_minhash_pairs: containment_a = |A∩B|/|A|
    * scores a short doc quoted/templated inside a longer one near 1.0
    * where jaccard (diluted by the union) stays low. All candidates
    * returned (threshold 0) so the gate checks every metric value. */
  def docContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        minContainment = 0.0)
      .orderBy("doc_a", "doc_b")

  /** doc_jaccard_join — the EXACT similarity self-join
    * ([[NearDup.jaccardJoinExact]], PPJoin prefix filtering): every
    * pair with distinct-shingle Jaccard ≥ 0.5, COMPLETE by the
    * pigeonhole argument where the LSH gates are probabilistic. The
    * oracle replicates the whole pipeline (global rare-first order,
    * rational prefix bound, size filter, exact verify) in SQL;
    * completeness against a brute-force all-pairs join is
    * spec-asserted (NearDupSpec). */
  def docJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    NearDup.jaccardJoinExact(Tables.documents(spark, dir), "doc_id", "text",
      shingleN = 3, tauNum = 1L, tauDen = 2L)
      .orderBy("doc_a", "doc_b")

  /** doc_jaccard_join_scaled — the SAME exact PPJoin at PRODUCTION
    * SIZING (the L116 pattern: doc_jaccard_join stays the τ=1/2
    * no-cut anchor; this gate pins the knobs a 100 TB deployment
    * turns): τ = 4/5 — prefix length |x| − ⌈0.8|x|⌉ + 1 ≈ |x|/5, a
    * 2.5× smaller explode and ~(1−τ)²-scaled (~6× smaller) candidate
    * front than the anchor's — and minShingles = 8, the min-length
    * cut dropping tiny docs whose near-whole-set prefixes pair
    * promiscuously. Completeness at the configured τ is the same
    * pigeonhole argument; the oracle replays the identical pipeline
    * (rational bound arithmetic, HAVING cut, size filter, exact
    * verify). */
  def docJaccardJoinScaled(spark: SparkSession, dir: String): DataFrame =
    NearDup.jaccardJoinExact(Tables.documents(spark, dir), "doc_id", "text",
      shingleN = 3, tauNum = 4L, tauDen = 5L, minShingles = 8L)
      .orderBy("doc_a", "doc_b")

  /** doc_dedupe_incremental — batch-vs-corpus dedup via the PERSISTED
    * state path (graft.operators.DedupState): corpus = even doc_ids,
    * batch = odd; the corpus side is reduced ONCE to its signature state
    * (fp + hashed shingle set + minhash sig — what a continuously-
    * ingesting deployment keeps as a table, see
    * StreamOps.ingestBatchExactlyOnce) and the batch is absorbed against
    * the state alone: surviving odd docs are those neither exact- nor
    * verified-near duplicates of any EVEN doc. Corpus-internal pairs are
    * never generated, and after the one derivation no corpus text is
    * touched (DedupStateSpec asserts the plan). */
  def docDedupeIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupState
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    // materialize the derived state ONCE — dedupeAgainstState reads its
    // state input three times (fp set, band rows, candidate sh arrays);
    // in a deployment that's a cheap table re-scan, here it would re-run
    // the whole text derivation per consumer
    val state = DedupState.stateOf(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .localCheckpoint(true)
    try {
      DedupState.dedupeAgainstState(state, d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", minJaccard = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    } finally graft.operators.NearDup.freeCheckpoint(state)
  }

  /** doc_curate_incremental — FROZEN-MODEL incremental curation
    * (graft.operators.Curate.curateDelta): corpus = even doc_ids with
    * every model trained on it ONCE and frozen (Cavnar-Trenkle rank
    * profiles, English-reference unigram-LM vocab, minhash signature
    * state — the persisted artifacts of a continuously-ingesting
    * deployment, see Pipeline.curateFollow); batch = odd doc_ids
    * arriving as one delta. The batch passes the trained language gate,
    * the heuristic quality floor, and the fixed-yardstick LM gate, then
    * exact+near dedups against ITSELF and finally against the corpus
    * state — the corpus text is never re-read. The oracle chains the
    * doc_lang_trained / doc_lm_score CTEs restricted per parity with
    * ONE union-banded LSH front serving both the batch-internal
    * (string-shingle) and batch-vs-state (hashed-shingle) verifies. */
  def docCurateIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curate, DedupState, LangModel, LangProfile}
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    // the frozen artifacts — in a deployment these are persisted tables
    // trained at corpus-build time; materialized here so each derives
    // exactly once (curateDelta consumes the state three ways). The
    // three trainings are independent eager checkpoints over the same
    // immutable corpus frame — run as concurrent driver jobs
    // (guide §2.6; the stored twin already gets this from the commit's
    // parallel table writes).
    val Seq(profiles, vocab, state) = graft.operators.Par.inParallel[DataFrame](Seq(
      () => LangProfile.profiles(corpus, "lang", "text", 64).localCheckpoint(true),
      () => LangModel.train(corpus, "text", col("lang") === "en").localCheckpoint(true),
      () => DedupState.stateOf(corpus, "doc_id", "text").localCheckpoint(true)))
    try {
      // result is an EAGER checkpoint, so the artifact frees below are
      // safe before the caller evaluates the final projection
      Curate.curateDelta(profiles, vocab, state, batch, "doc_id", "text",
          maxAvgNllMicro = CurateV2MaxNllMicro)
        .select("doc_id", "lang", "lang_pred", "quality_score")
        .orderBy("doc_id")
    } finally {
      graft.operators.NearDup.freeCheckpoint(profiles)
      graft.operators.NearDup.freeCheckpoint(vocab)
      graft.operators.NearDup.freeCheckpoint(state)
    }
  }

  /** doc_curate_incremental_stored — the SAME frozen-model delta
    * curation with the artifacts going THROUGH THE SNAPSHOT STORE:
    * corpus, lang profiles, LM vocab, and dedup signature state are
    * published as ONE atomic commit (the mutually-consistent root
    * Pipeline.curateFollow maintains), then the delta is curated
    * against the artifacts READ BACK from the store — the
    * train-once/apply-forever split exercised end-to-end through
    * storage, not just driver memory. Gated against the identical
    * oracle as doc_curate_incremental: the parquet round-trip of all
    * three artifacts must be value-preserving, or the gate arithmetic
    * shifts. */
  def docCurateIncrementalStored(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curate, DedupState, LangModel, LangProfile}
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "curincstore", dir)
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    // train once at corpus-build time, publish corpus + all three
    // frozen artifacts in ONE atomic version
    Snapshot.commit(spark, root, Map(
      "documents" -> corpus,
      "profiles" -> LangProfile.profiles(corpus, "lang", "text", 64),
      "vocab" -> LangModel.train(corpus, "text", col("lang") === "en"),
      "sig" -> DedupState.stateOf(corpus, "doc_id", "text")))
    // apply-forever: the delta curates against the STORED artifacts;
    // the corpus table is never read again
    Curate.curateDelta(
        Snapshot.read(spark, root, "profiles"),
        Snapshot.read(spark, root, "vocab"),
        Snapshot.read(spark, root, "sig"),
        batch, "doc_id", "text",
        maxAvgNllMicro = CurateV2MaxNllMicro)
      .select("doc_id", "lang", "lang_pred", "quality_score")
      .orderBy("doc_id")
  }

  /** doc_quality_classifier — TRAINED quality classifier
    * (graft.operators.QualityClassifier, the GPT-3/PaLM data-filtering
    * recipe): a full-batch integer perceptron learns to separate the
    * reference slice (source in the DSIR target set, label +1) from the
    * rest of the corpus over 64 hashed bag-of-words buckets, 4 rounds
    * from zero weights; every doc then scores margin = w·x in exact
    * integers, keep = margin > 0. The oracle replays all 4 training
    * rounds as unrolled CTEs — weights, misclassification sets, and
    * margins are integer-exact, so the entire TRAINING TRAJECTORY
    * gates bit-for-bit, not just the final scores. */
  def docQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityClassifier
    val d = Tables.documents(spark, dir).select("doc_id", "source", "text")
    // train returns a local (feature, weight) relation — broadcast-sized
    val wts = QualityClassifier.train(d, "doc_id", "text",
      col("source").isin(DsirTargetSources: _*), iters = 4)
    QualityClassifier.scoreWith(wts, d, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** doc_substr_spans — EXACT-SUBSTRING duplicated spans
    * (graft.operators.SubstrDedup, the Lee et al. 2022 ExactSubstr
    * criterion): maximal token spans in which EVERY 8-token window
    * occurs more than once corpus-wide — the verbatim boilerplate /
    * license-block / template repeats INSIDE otherwise-unique docs that
    * document-level dedup can't touch. (doc_id, span_start, span_tokens)
    * over the shared normalized token stream. */
  def docSubstrSpans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SubstrDedup.duplicatedSpans(
        Tables.documents(spark, dir), "doc_id", "text", minTokens = 8)
      .orderBy("doc_id", "span_start")

  /** doc_substr_scrub — the excised corpus: every duplicated span
    * removed, unique remainder kept (clean_text), with the token
    * accounting (n_tokens, kept_tokens) that audits how much of each
    * doc was boilerplate. */
  def docSubstrScrub(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SubstrDedup.exciseSpans(
        Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text", minTokens = 8)
      .select("doc_id", "clean_text", "n_tokens", "kept_tokens")
      .orderBy("doc_id")

  /** doc_hash_sample — deterministic 32/256 (~12.5%) corpus sample keyed
    * on md5(doc_id): stable across runs, engines, and partitionings. */
  def docHashSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(Tables.documents(spark, dir), "doc_id", threshold = 32)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** doc_stratified_sample — per-language rebalanced sample: the dominant
    * language (en) downsampled to 64/256, zh kept whole (the threshold=256
    * keep-all edge), every other stratum at the 128/256 default. Same
    * stability contract as doc_hash_sample — a pure md5(doc_id) predicate,
    * no shuffle, engine-independent membership. */
  def docStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang",
        thresholds = Map("en" -> 64, "zh" -> 256), defaultThreshold = 128)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** doc_weighted_sample — per-row continuous weighted sampling
    * (Sampling.weightedSample): each doc keeps with probability equal to
    * its own alpha-character ratio — the soft quality filter, rows with
    * cleaner text surviving proportionally more often. Salted draw, so
    * membership is independent of doc_hash_sample/doc_splits. */
  def docWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    Sampling.weightedSample(Tables.documents(spark, dir), "doc_id",
        Text.alphaRatio(col("text")))
      .select(col("doc_id"), Text.alphaRatio(col("text")).as("keep_p"))
      .orderBy("doc_id")
  }

  /** doc_mixture_sample — temperature-flattened domain mixture
    * (Sampling.mixtureSample, α=1/2, head keep rate 0.5): per-language
    * keep rates ∝ 1/sqrt(n_lang) derived from one corpus count, then a
    * broadcast rate join + salted per-row Bernoulli draw — the mC4-style
    * low-resource upweighting as a single relational pass. */
  def docMixtureSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(Tables.documents(spark, dir), "doc_id", "lang",
        largestKeep = 0.5)
      .select("doc_id", "lang", "n_domain", "keep_rate")
      .orderBy("doc_id")

  /** doc_dedupe_keep_best — near-dup dedup keeping each cluster's
    * HIGHEST-quality member (NearDup.keepBestByScore over the gated
    * minhash pair/cluster configuration, score = Text.qualityScore):
    * every doc labeled (cluster_id, score, keep), survivor = argmax
    * score, ties to lowest id, singletons always keep. */
  def docDedupeKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    NearDup.keepBestByScore(Tables.documents(spark, dir), "doc_id", "text",
        Text.qualityScore(col("text")))
      .orderBy("doc_id")
  }

  /** doc_splits — deterministic disjoint train/val/test labeling
    * (Sampling.splitCorpus, 240/8/8 of 256 md5 buckets): exhaustive,
    * disjoint, stable across runs/engines/partitionings — the leak-free
    * eval-split contract. */
  def docSplits(spark: SparkSession, dir: String): DataFrame =
    Sampling.splitCorpus(Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", Seq("train" -> 240, "val" -> 8, "test" -> 8))
      .orderBy("doc_id")

  /** doc_shuffle_batches — global deterministic training shuffle:
    * md5-keyed permutation, contiguous shuffle_idx (range-sort +
    * zipWithIndex, no single-partition window), 100-row batches. */
  def docShuffleBatches(spark: SparkSession, dir: String): DataFrame =
    Sampling.shuffleBatches(Tables.documents(spark, dir).select("doc_id"),
        "doc_id", batchSize = 100)
      .orderBy("shuffle_idx")

  /** doc_decontam — benchmark decontamination: documents of the corpus
    * (md5(doc_id) >= '10', ~94%) sharing >= 8 distinct normalized word
    * 3-grams with the held-out "benchmark" slice (md5(doc_id) < '10',
    * ~6% — in production this is the eval suite, here a deterministic
    * hash slice so the oracle can derive the same split). Benchmark
    * grams broadcast; corpus never shuffles (see operators.Decontam). */
  def docDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hk = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    graft.operators.Decontam.contamination(
      corpus = docs.filter(hk >= lit("10")),
      bench = docs.filter(hk < lit("10")),
      idCol = "doc_id", textCol = "text", n = 3, minHits = 8)
      .orderBy("doc_id")
  }

  /** doc_prepare_training — the COMPOSED end-to-end training-data
    * preparation flagship: everything between a raw corpus and the
    * batches a trainer reads, in production order and ONE gated query —
    * (1) the full doc_curate chain (language-ID + quality floor + exact
    * dedup + LSH near-dup dedup); (2) leak-free train/val/test split of
    * the survivors (doc_splits' md5 buckets); (3) the TRAIN slice packs
    * into 2048-token sequences in the deterministic md5 shuffle order
    * (doc_pack's two-pass distributed prefix sum — never a
    * single-partition window). Each stage is the SAME operator its
    * standalone gate exercises, so the composition oracle chains the
    * standalone oracles verbatim: green means the library's pieces
    * compose bit-for-bit, not just pass in isolation. */
  def docPrepareTraining(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val surv = graft.operators.Curate.curate(
        docs.select("doc_id", "lang", "text"), "doc_id", "text",
        minQuality = 0.5, minJaccard = 0.5)
      .select("doc_id")
    try {
      val train = Sampling.splitCorpus(surv, "doc_id",
          Seq("train" -> 240, "val" -> 8, "test" -> 8))
        .filter(col("split") === "train")
      val withCounts = train.join(
        docs.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("token_count")),
        Seq("doc_id"))
      Sampling.packSequences(
          withCounts.select("doc_id", "split", "token_count"),
          "doc_id", "token_count", budget = 2048)
        .select(col("doc_id"), col("split"), col("token_count"),
          col("pack_key"), col("token_start"), col("seq_id"))
        .orderBy("token_start")
        .localCheckpoint(true)
    } finally NearDup.freeCheckpoint(surv)
  }

  /** doc_repetition — Gopher-style repetition features, computed as a
    * PURE MAP (no shuffle, no explode — the grams stay inside their
    * row): most-frequent-2-gram count and share (exact ppm integer),
    * distinct/total token counts. Docs under 2 tokens are excluded
    * (no grams to score). */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(Text.tokens(Text.normalize(col("text"))), t => length(t) > 0)
    val tk = col("__tk")
    Tables.documents(spark, dir)
      // token array projected FIRST: the 2-gram transform below references
      // it per element, and inlining the normalize chain into the lambda
      // re-evaluates it per gram (the shingleSets 8× pitfall)
      .select(col("doc_id"), toks.as("__tk"))
      .filter(size(tk) >= 2)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(tk) - 2),
          i => concat_ws(" ", slice(tk, i + 1, lit(2)))).as("__g"),
        tk)
      .select(
        col("doc_id"),
        Text.topElementCount(col("__g")).as("top_gram_count"),
        size(col("__g")).cast("long").as("total_grams"),
        size(array_distinct(col("__tk"))).cast("long").as("distinct_tokens"),
        size(col("__tk")).cast("long").as("total_tokens"))
      .withColumn("rep_ppm", expr("top_gram_count * 1000000 div total_grams"))
      .orderBy("doc_id")
  }

  /** doc_pack — sequence packing: documents in md5(doc_id) shuffle
    * order, concat-and-chunked into 2048-token training sequences via a
    * distributed two-pass prefix sum (range sort + per-partition offsets
    * — never a single-partition window). */
  def docPack(spark: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("token_count")),
      "doc_id", "token_count", budget = 2048)
      .orderBy("token_start")

  /** doc_tfidf — the top-3 most distinctive terms per document by an
    * exact-integer tf-idf surrogate: score = tf·10⁶ div df (term
    * frequency in the doc, scaled, over the term's document frequency in
    * the corpus — monotone in tf/df, bit-reproducible in any BIGINT
    * engine, no log/double drift). Classic keyword-extraction pass.
    *
    * Scale shape — tf is computed IN THE ROW (one (token, tf) struct per
    * distinct token, O(distinct×total) comparisons per doc like
    * Text.topElementCount), so the exploded (doc, token, tf) frame is a
    * PURE MAP and the corpus-token-sized (doc, token) exchange the
    * groupBy form pays never exists. The tf frame is consumed TWICE —
    * once by the df aggregate, once as the join's left side — and column
    * pruning un-shares the two subtrees (Catalyst re-canonicalizes
    * count(non-null) to count(1), defeating exchange reuse), so it is
    * eagerly localCheckpoint'd once and both consumers read the stored
    * blocks instead of re-running the O(distinct×total) token count
    * (the Curate/L55 discipline; blocks freed before return). df is one
    * map-combined token aggregate (vocab-sized result, broadcast back;
    * drop the hint past ~10⁸-token vocabularies and AQE plans a shuffle
    * join). The rank<=3 filter plans as Spark 4's WindowGroupLimit:
    * rows leave the checkpoint doc-clustered, so the PARTIAL group-limit
    * cuts to <=3 rows per doc before the only doc-keyed exchange. */
  def docTfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = col("__tk")
    // Par.spread: the per-distinct-token tf scan is quadratic in doc
    // length — the densest pure map in the pack; counts/ranks are exact
    val tf = graft.operators.Par.spread(Tables.documents(spark, dir))
      // token array projected FIRST: HOF lambdas re-evaluate captured
      // subexpressions per element (the shingleSets 8× pitfall)
      .select(col("doc_id"),
        filter(Text.tokens(Text.normalize(col("text"))), t => length(t) > 0).as("__tk"))
      .select(col("doc_id"), explode_outer(
        transform(array_distinct(tk),
          t => struct(t.as("token"),
            size(filter(tk, y => y === t)).cast("long").as("tf")))).as("__e"))
      .filter(col("__e").isNotNull)
      .select(col("doc_id"), col("__e.token").as("token"), col("__e.tf").as("tf"))
      .localCheckpoint(true)
    try {
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      tf.join(broadcast(df), "token")
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("token"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rank")
        .localCheckpoint(true)
    } finally graft.operators.NearDup.freeCheckpoint(tf)
  }

  /** doc_curate — the END-TO-END curation flagship: the full filter →
    * dedup chain a training corpus actually goes through, in production
    * order. (1) language-ID and quality scoring (pure map); (2) keep
    * docs with a confident language and quality_score >= 0.5 — CJK
    * exempt from the threshold, since the alpha/stopword signals are
    * latin-centric (a production pipeline scores CJK with its own
    * model); (3) exact dedup to the minimum-id survivor per normalized
    * fingerprint (one hash aggregate + a co-keyed semi-join); (4)
    * near-dup dedup of the survivors (minhash → LSH bands → verified
    * jaccard → connected components → one anti-join). The chain is the
    * reusable [[graft.operators.Curate]] operator (checkpoint-stepped —
    * see its scaladoc for why the scored frame materializes before the
    * filter and how the checkpoints are scoped); this query gates it
    * over the documents table. */
  def docCurate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curate.curate(
        Tables.documents(spark, dir).select("doc_id", "lang", "text"),
        "doc_id", "text", minQuality = 0.5, minJaccard = 0.5)
      .select(col("doc_id"), col("lang"), col("lang_pred"), col("quality_score"))
      .orderBy("doc_id")

  private val CurateV2K = 32
  private val CurateV2MaxNllMicro = 3410000L

  /** doc_curate_v2 — the TRAINED curation pipeline
    * (graft.operators.Curate.curateV2): Cavnar-Trenkle language-ID keeps
    * latin-predicted docs, the heuristic quality floor and the
    * English-reference unigram-LM gate (avg NLL <= 3.41 nats/token,
    * compared cross-multiplied in exact integers) filter, exact + LSH
    * near-dup dedup collapse, and DSIR importance resampling draws the
    * final 32-doc training mix from the survivors. The oracle chains the
    * doc_lang_trained / doc_quality / doc_lm_score CTE blocks into the
    * survivor set and replays doc_dsir's Gumbel selection over it. */
  def docCurateV2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curate.curateV2(
        Tables.documents(spark, dir).select("doc_id", "lang", "source", "text"),
        "doc_id", "text", "lang",
        dsirTargetPred = col("source").isin(DsirTargetSources: _*),
        dsirK = CurateV2K,
        maxAvgNllMicro = CurateV2MaxNllMicro)
      .orderBy("rank")

  /** doc_curate_v3 — curation with EVERY gate trained
    * (graft.operators.Curate.curateV3): v2's one remaining heuristic —
    * the hand-tuned quality floor — replaced by the trained
    * discriminative classifier (the doc_quality_classifier perceptron,
    * reference slice = the DSIR target sources). The gate runs with
    * `clsMedianCut = true`: this corpus's slice labels are synthetic
    * (text-independent), so the perceptron's margins move as a BLOCK —
    * the production `margin > 0` cut keeps everything or nothing
    * depending on which side of the oscillation the last round lands
    * (measured 0 rows at sf0.01, all rows at sf0.1) — and a 0==0
    * oracle match validates nothing. Calibrating the cut at the exact
    * corpus-median margin keeps the strictly-above-median half at
    * EVERY scale, so the full training trajectory gates on non-empty
    * output. The oracle chains the doc_quality_classifier
    * training-trajectory CTEs (plus the same quantile_cont median)
    * into the doc_curate_v2 oracle, so the composed pipeline —
    * all four perceptron rounds AND the calibration — gates
    * bit-for-bit. */
  def docCurateV3(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curate.curateV3(
        Tables.documents(spark, dir).select("doc_id", "lang", "source", "text"),
        "doc_id", "text", "lang",
        dsirTargetPred = col("source").isin(DsirTargetSources: _*),
        dsirK = CurateV2K,
        maxAvgNllMicro = CurateV2MaxNllMicro,
        clsMedianCut = true)
      .orderBy("rank")

  /** doc_edit_pairs — edit-distance-verified near-dup pairs: the same
    * LSH candidate front half as doc_minhash_pairs, verified with
    * levenshtein(normalized_a, normalized_b) <= 40 — the character-edit
    * notion of "near duplicate" (OCR noise, template fills). The DP
    * runs only on candidates; normalized text is ASCII so the two
    * engines' levenshtein semantics coincide exactly. */
  def docEditPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.editDistancePairs(Tables.documents(spark, dir), "doc_id", "text",
        maxDist = 40, shingleN = 3, numHashes = 12, bands = 6)
      .orderBy("doc_a", "doc_b")

  /** doc_lm_bigram — bigram-LM perplexity scoring + CCNet bucketing
    * (graft.operators.LangModel.bigramNll): the next model order up
    * from doc_lm_score's unigram, trained on the same English reference
    * slice with per-context add-one smoothing, every pair probability
    * quantized to integer micro-nats on the model side. The gate then
    * assigns each doc its CCNet corpus bucket (Wenzek et al. 2020 §4.3:
    * head/middle/tail by perplexity third — here the q25_value_buckets
    * discipline at dyadic quartiles: ONE exact-percentile aggregate over
    * the integer avg score, 3 doubles broadcast back, codegen'd
    * comparisons; never the single-partition sort NTILE plans to). Ties
    * land in the lower bucket by value, so equal scores never split. */
  def docLmBigram(spark: SparkSession, dir: String): DataFrame =
    lmBigramBuckets(graft.operators.LangModel.bigramNll(
      Tables.documents(spark, dir).select("doc_id", "lang", "text"),
      "doc_id", "text", refPred = col("lang") === "en"))

  /** doc_lm_bigram_stored — the persisted-artifact serve path of
    * doc_lm_bigram, mirroring doc_curate_incremental_stored's move:
    * the frozen pair table (LangModel.trainBigram) is COMMITTED to a
    * snapshot root and scoring runs through the READ-BACK artifact
    * (LangModel.bigramNllWith) — the train-once/score-forever split
    * exercised through storage, not just driver memory. Gated against
    * the IDENTICAL oracle as doc_lm_bigram: the parquet round-trip of
    * the quantized pair counts must be value-preserving or the micro-
    * nat sums (and CCNet buckets) shift. */
  def docLmBigramStored(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "lmbigramstore", dir)
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    Snapshot.commit(spark, root, Map(
      "lm_pairs" -> graft.operators.LangModel.trainBigram(
        d, "text", refPred = col("lang") === "en")))
    lmBigramBuckets(graft.operators.LangModel.bigramNllWith(
      Snapshot.read(spark, root, "lm_pairs"), d, "doc_id", "text"))
  }

  /** Shared CCNet-bucket tail of the two bigram-LM gates: exact integer
    * micro-nat average, dyadic-quartile cuts, codegen'd comparisons. */
  private def lmBigramBuckets(scoredNll: DataFrame): DataFrame = {
    val scored = scoredNll
      // integer micro-nat average: exact, order-proof bucket key.
      // Divide BEFORE scaling (quotient*1e6 + scaled remainder): the
      // naive (nll_micro * 1000000) div n_bigrams wraps a signed long
      // once nll_micro > ~9.2e12 (a ~500k-bigram doc) while DuckDB
      // silently promotes to HUGEINT — the engines would diverge on
      // bucket assignment exactly where the bit-exact contract matters.
      // Exact: for nll = q*n + r (0<=r<n), floor(nll*S/n) = q*S +
      // floor(r*S/n); every intermediate stays < 1e18.
      .withColumn("avg_q", expr(
        "(nll_micro div n_bigrams) * 1000000" +
          " + ((nll_micro % n_bigrams) * 1000000) div n_bigrams"))
    val cuts = scored
      .agg(expr("percentile(avg_q, array(0.25D, 0.5D, 0.75D))").as("__q"))
      .select(
        element_at(col("__q"), 1).as("__p25"),
        element_at(col("__q"), 2).as("__p50"),
        element_at(col("__q"), 3).as("__p75"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        col("avg_nll"),
        (lit(1) + when(col("avg_q") > col("__p25"), 1).otherwise(0)
                + when(col("avg_q") > col("__p50"), 1).otherwise(0)
                + when(col("avg_q") > col("__p75"), 1).otherwise(0))
          .cast("long").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** doc_gopher_rules — the published Gopher quality-rule battery
    * (graft.operators.QualityRules.gopher; Rae et al. 2021 Table A1):
    * per-rule keep/reject booleans over exact in-row integer features
    * (word count bounds, mean word length, distinct-stopword presence,
    * alpha-word ratio, top-2-gram repetition share) and their
    * conjunction as the verdict. A PURE MAP over the corpus scan — the
    * auditable rule battery next to doc_quality's blended scalar. */
  def docGopherRules(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.gopher(
        Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id")

  /** doc_sql_text — the text-analysis surface through SQL TEXT: gates
    * the graft.functions.TextSql registration path itself (a SQL-first
    * user's `SELECT graft_quality(text) ...`), the way events_sql_topk
    * gates the aggregate registration. The builders unwrap to the same
    * Column-API expression trees, so this must hash-match the same
    * oracle chains doc_quality/doc_lang_id match. */
  def docSqlText(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextSql.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs_sql")
    spark.sql("""
      SELECT doc_id,
             graft_lang_id(text) AS lang_pred,
             graft_quality(text) AS quality_score,
             graft_fingerprint(text) AS fingerprint,
             graft_token_count(text) AS token_count
      FROM graft_docs_sql ORDER BY doc_id""")
  }

  /** mm_blob_stats — multimodal plumbing over an opaque binary column:
    * the text payload treated as a blob (byte length, content digest,
    * digest-derived feature id). The same shape serves image/audio bytes;
    * see graft.operators.MediaPipeline for the typed decode path. */
  def mmBlobStats(spark: SparkSession, dir: String): DataFrame = {
    val sha = sha2(col("text").cast("binary"), 256)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        lit("text").as("kind"),
        octet_length(col("text")).cast("long").as("byte_len"),
        sha.as("sha256"),
        substring(sha, 1, 8).as("feature_prefix"))
      .orderBy("doc_id")
  }

  /** mm_image_stats — REAL image decode gate (graft.operators
    * .MediaPipeline): every doc becomes a deterministic 4×4 RGB image
    * (48 channel bytes = 3 md5 digests of the doc id), encoded by THIS
    * module's BMP writer and decoded back by the INDEPENDENT JDK ImageIO
    * reader in the distributed mapPartitions pass; the exact integer
    * channel sums gate both directions at once, against an oracle that
    * derives the same sums from the md5 hex pairs without ever seeing an
    * image. Proves a real (no external codec) decode path end to end —
    * the BMP layout (bottom-up rows, BGR order, padding) cannot be wrong
    * in any bit or the sums shift. */
  def mmImageStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // Par.spread on the id longs: the synthesize→encode→decode chain
    // downstream is the dense map and would otherwise fuse into a
    // one-task scan; stats are exact integer pixel/sample sums
    val ids = graft.operators.Par.spread(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long])
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val rgb = new Array[Byte](48)
        var k = 0
        while (k < 3) {
          val dg = md.digest(s"$id~p$k".getBytes("UTF-8"))
          System.arraycopy(dg, 0, rgb, k * 16, 16)
          k += 1
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("image/bmp", 4, 4, 0, 0L),
          MediaPipeline.encodeBmp(4, 4, rgb))
      }
    }
    MediaPipeline.imageChannelStats(media).toDF()
      .select(col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        (col("sum_r").cast("double") / lit(16.0)).as("mean_r"),
        (col("sum_g").cast("double") / lit(16.0)).as("mean_g"),
        (col("sum_b").cast("double") / lit(16.0)).as("mean_b"))
      .orderBy("doc_id")
  }

  /** mm_image_resize — REAL image TRANSFORM gate (graft.operators
    * .MediaPipeline.resizeImage): the mm_image_stats 4×4 BMPs go
    * through the full decode → nearest-neighbor rescale to 2×2 →
    * lossless BMP re-encode pipeline, and the RESIZED bytes are decoded
    * AGAIN by the JDK reader for their channel sums — two independent
    * decode round-trips bracketing the transform, so a single wrong bit
    * in the resize indexing (floor convention sy = y·H/h, sampled
    * pixels (0,0),(0,2),(2,0),(2,2)) or the re-encode shifts the sums.
    * The oracle derives the 4 sampled pixels' channel bytes from the
    * md5 hex directly — it never sees an image, it asserts WHICH source
    * pixels a correct floor-NN 4×4→2×2 resize must keep. */
  def mmImageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // Par.spread on the id longs: the synthesize→encode→decode chain
    // downstream is the dense map and would otherwise fuse into a
    // one-task scan; stats are exact integer pixel/sample sums
    val ids = graft.operators.Par.spread(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long])
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val rgb = new Array[Byte](48)
        var k = 0
        while (k < 3) {
          val dg = md.digest(s"$id~p$k".getBytes("UTF-8"))
          System.arraycopy(dg, 0, rgb, k * 16, 16)
          k += 1
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("image/bmp", 4, 4, 0, 0L),
          MediaPipeline.encodeBmp(4, 4, rgb))
      }
    }
    val resized = MediaPipeline.resizeImage(media, 2, 2)
    MediaPipeline.imageChannelStats(resized).toDF()
      .select(col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        (col("sum_r").cast("double") / lit(4.0)).as("mean_r"),
        (col("sum_g").cast("double") / lit(4.0)).as("mean_g"),
        (col("sum_b").cast("double") / lit(4.0)).as("mean_b"))
      .orderBy("doc_id")
  }

  /** mm_audio_stats — REAL audio decode gate (graft.operators
    * .MediaPipeline): every doc becomes a deterministic stereo 16-bit
    * PCM clip (24 samples = 12 frames × 2 channels, the 48 bytes of 3
    * md5 digests of the doc id read as little-endian shorts), encoded
    * by THIS module's canonical WAV writer and decoded back by the
    * INDEPENDENT JDK `javax.sound.sampled` reader in the distributed
    * pass; the exact per-channel integer sample sums gate both
    * directions at once, against an oracle that derives the same sums
    * from the md5 hex pairs without ever seeing audio. The audio twin
    * of mm_image_stats — the RIFF layout (chunk sizes, fmt fields,
    * little-endian data) cannot be wrong in any bit or the JDK parser
    * rejects it / the sums shift. */
  def mmAudioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // NO Par.spread here (r15): the 24-sample WAV encode/decode is too
    // cheap per row for the repartition to pay for itself — r14 measured
    // the spread DOUBLING this query (0.42 → 0.86 s) while the genuinely
    // dense video/frame twins kept 4x wins from theirs
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val raw = new Array[Byte](48)
        var k = 0
        while (k < 3) {
          val dg = md.digest(s"$id~a$k".getBytes("UTF-8"))
          System.arraycopy(dg, 0, raw, k * 16, 16)
          k += 1
        }
        val samples = new Array[Short](24)
        var i = 0
        while (i < 24) {
          samples(i) = (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
          i += 1
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("audio/wav", 0, 0, 8000, 1L),
          MediaPipeline.encodeWav(8000, 2, samples))
      }
    }
    MediaPipeline.audioChannelStats(media).toDF()
      .select(col("media_id").as("doc_id"),
        col("channel").cast("long").as("channel"),
        col("sample_rate_hz").cast("long").as("sample_rate_hz"),
        col("n_frames"), col("sum_samples"),
        (col("sum_samples").cast("double") / lit(12.0)).as("mean_sample"))
      .orderBy("doc_id", "channel")
  }

  /** mm_audio_resample — REAL audio TRANSFORM gate (graft.operators
    * .MediaPipeline.resampleAudio — the audio twin of mm_image_resize):
    * the mm_audio_stats stereo 8 kHz clips go through decode →
    * nearest-frame resample to 4 kHz → lossless WAV re-encode, and the
    * RESAMPLED bytes decode AGAIN through the JDK reader for their
    * per-channel sums — two decode round-trips bracketing the
    * transform. Floor frame pick src = f·8000/4000 keeps frames
    * {0,2,4,6,8,10}; the oracle derives exactly those frames' signed
    * samples from the md5 stream, never touching audio. */
  def mmAudioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // NO Par.spread here (r15): same reasoning as mm_audio_stats — the
    // short-clip WAV resample is too cheap per row for the repartition
    // (r14 measured spread costing 0.77 → 1.41 s on this query)
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val raw = new Array[Byte](48)
        var k = 0
        while (k < 3) {
          val dg = md.digest(s"$id~a$k".getBytes("UTF-8"))
          System.arraycopy(dg, 0, raw, k * 16, 16)
          k += 1
        }
        val samples = new Array[Short](24)
        var i = 0
        while (i < 24) {
          samples(i) = (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
          i += 1
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("audio/wav", 0, 0, 8000, 1L),
          MediaPipeline.encodeWav(8000, 2, samples))
      }
    }
    val resampled = MediaPipeline.resampleAudio(media, 4000)
    MediaPipeline.audioChannelStats(resampled).toDF()
      .select(col("media_id").as("doc_id"),
        col("channel").cast("long").as("channel"),
        col("sample_rate_hz").cast("long").as("sample_rate_hz"),
        col("n_frames"), col("sum_samples"),
        (col("sum_samples").cast("double") / lit(6.0)).as("mean_sample"))
      .orderBy("doc_id", "channel")
  }

  /** mm_frame_sample — REAL video TRANSFORM gate (graft.operators
    * .MediaPipeline.sampleGifFrames — the video twin of
    * mm_image_resize/mm_audio_resample): the mm_video_stats 4-frame
    * GIFs decode through the JDK GIF parser, every stride-2 frame
    * transcodes to a standalone BMP, and the SAMPLED frames decode
    * AGAIN through ImageIO for their channel sums — gray frames must
    * come back with sum_r = sum_g = sum_b equal to the md5-derived
    * pixel sum of exactly frames {0, 2}. A wrong bit anywhere in the
    * GIF decode, the stride selection, or the BMP transcode shifts a
    * sum or breaks a parse. */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // Par.spread on the id longs: the synthesize→encode→decode chain
    // downstream is the dense map and would otherwise fuse into a
    // one-task scan; stats are exact integer pixel/sample sums
    val ids = graft.operators.Par.spread(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long])
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val frames = (0 until 4).map { k =>
          md.digest(s"$id~f$k".getBytes("UTF-8"))
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("image/gif", 4, 4, 0, 4L),
          MediaPipeline.encodeGif(4, 4, frames))
      }
    }
    // composite id = doc_id·4 + frame_idx keeps the frame through the
    // single-key channel-stats pass; split back on the way out
    val sampledBmp = MediaPipeline.sampleGifFrames(media, stride = 2)
      .map { case (id, idx, bytes) =>
        MediaPipeline.MediaRecord(id * 4 + idx,
          MediaPipeline.MediaMeta("image/bmp", 4, 4, 0, 0L), bytes)
      }
    MediaPipeline.imageChannelStats(sampledBmp).toDF()
      .select(expr("media_id div 4").as("doc_id"),
        expr("media_id % 4").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id", "frame_idx")
  }

  /** mm_video_stats — REAL multi-frame (video-shaped) decode gate
    * (graft.operators.MediaPipeline): every doc becomes a deterministic
    * 4-frame animated GIF (each 4×4 frame's 16 gray pixels = one md5
    * digest of the doc id and frame index), encoded by THIS module's
    * GIF89a writer — gray global palette, 9-bit literal LZW with
    * periodic CLEARs — and decoded frame-by-frame by the INDEPENDENT
    * JDK ImageIO GIF parser in the distributed pass; exact per-frame
    * pixel sums gate both directions against an oracle that derives the
    * same sums from md5 hex pairs without ever seeing a container. The
    * video row of the mm_image/mm_audio family: with this, all three
    * modalities decode for real (GIF being the one multi-frame
    * container a bare JRE can parse), and frame sampling
    * (MediaPipeline.sampleGifFrames) is a real decode → transcode. */
  def mmVideoStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // Par.spread on the id longs: the synthesize→encode→decode chain
    // downstream is the dense map and would otherwise fuse into a
    // one-task scan; stats are exact integer pixel/sample sums
    val ids = graft.operators.Par.spread(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long])
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val frames = (0 until 4).map { k =>
          md.digest(s"$id~f$k".getBytes("UTF-8"))
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("video/gif", 4, 4, 0, 400L),
          MediaPipeline.encodeGif(4, 4, frames))
      }
    }
    MediaPipeline.videoFrameStats(media).toDF()
      .select(col("media_id").as("doc_id"), col("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sum_gray"),
        (col("sum_gray").cast("double") / lit(16.0)).as("mean_gray"))
      .orderBy("doc_id", "frame_idx")
  }

  /** mm_phash_pairs — image PERCEPTUAL near-dup pairs
    * (graft.operators.MediaPipeline.imagePHash +
    * graft.operators.NearDup.hammingPairsCombo): the multimodal twin of
    * doc_simhash64_pairs, and the dedup an image-corpus pipeline
    * (LAION-style) runs — re-encodes and small edits of one image land
    * within a few Hamming bits of each other's 64-bit average-hash, so
    * pair generation is the SAME lossless combination banding the text
    * fingerprints use. Every doc becomes a deterministic 8×8 grayscale
    * image whose 64 pixels come from 4 md5 digests of the doc's GROUP
    * (doc_id/4 — group mates share a base image) with ONE doc-specific
    * pixel replaced (the "slightly edited duplicate" structure), encoded
    * by THIS module's BMP writer and hashed from INDEPENDENTLY
    * JDK-decoded pixels; the oracle derives hash, banding and Hamming
    * from the md5 hex pairs without ever seeing an image. Group mates
    * surface as low-Hamming pairs; cross-group band collisions are
    * generated and verified away — both populations gate. */
  /** mm_media_meta — HEADER-ONLY metadata peek gate
    * (graft.operators.MediaPipeline.containerMeta): every doc becomes
    * one of the three real containers this module writes — BMP, WAV,
    * GIF, dimensions/format varying per doc id — and the engine must
    * recover width/height/frame-count/channels/sample-rate from the
    * container HEADERS alone (RIFF chunk walk, GIF block walk skipping
    * payload sub-blocks by length — no pixel or sample is ever
    * decoded). The oracle states the same facts from the generation
    * parameters, never seeing a byte: any mis-parsed offset, endian
    * slip, or unskipped palette shifts a value. This is the catalog
    * pass that lets a 100 TB media column be profiled at O(headers)
    * cost while the blob bytes stay cold. */
  def mmMediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.MediaPipeline
    // NO Par.spread here (r15): header sniffing is a few byte reads per
    // row — far too cheap for the repartition (r14: 1.22x over baseline
    // with spread; the audio twins measured 2x on the same shape)
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def fill(n: Int, seed: String): Array[Byte] = {
        val out = new Array[Byte](n)
        var off = 0; var k = 0
        while (off < n) {
          val dg = md.digest(s"$seed~$k".getBytes("UTF-8"))
          val take = math.min(16, n - off)
          System.arraycopy(dg, 0, out, off, take)
          off += take; k += 1
        }
        out
      }
      it.map { id =>
        (id % 3).toInt match {
          case 0 =>
            val w = 2 + (id % 7).toInt; val h = 2 + (id % 5).toInt
            MediaPipeline.MediaRecord(id,
              MediaPipeline.MediaMeta("image/bmp", w, h, 0, 0L),
              MediaPipeline.encodeBmp(w, h, fill(w * h * 3, s"$id~m")))
          case 1 =>
            val ch = 1 + (id % 2).toInt
            val sr = 8000 + (id % 4).toInt * 4000
            val nf = 12 + (id % 6).toInt
            val raw = fill(nf * ch * 2, s"$id~w")
            val samples = new Array[Short](nf * ch)
            var i = 0
            while (i < samples.length) {
              samples(i) = (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
              i += 1
            }
            MediaPipeline.MediaRecord(id,
              MediaPipeline.MediaMeta("audio/wav", 0, 0, sr, nf.toLong),
              MediaPipeline.encodeWav(sr, ch, samples))
          case _ =>
            val w = 2 + (id % 6).toInt; val h = 2 + (id % 4).toInt
            val nf = 1 + (id % 5).toInt
            val frames = (0 until nf).map(k => fill(w * h, s"$id~g$k"))
            MediaPipeline.MediaRecord(id,
              MediaPipeline.MediaMeta("video/gif", w, h, 0, 100L * nf),
              MediaPipeline.encodeGif(w, h, frames))
        }
      }
    }
    MediaPipeline.containerMeta(media).toDF()
      .select(col("media_id").as("doc_id"), col("container"),
        col("width"), col("height"), col("n_frames"),
        col("channels"), col("sample_rate_hz"))
      .orderBy("doc_id")
  }

  def mmPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{MediaPipeline, NearDup}
    // Par.spread on the id longs: the synthesize→encode→decode chain
    // downstream is the dense map and would otherwise fuse into a
    // one-task scan; stats are exact integer pixel/sample sums
    val ids = graft.operators.Par.spread(
      Tables.documents(spark, dir).select(col("doc_id")).as[Long])
    val media = ids.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val px = new Array[Byte](64)
        var k = 0
        while (k < 4) {
          val dg = md.digest(s"g${id / 4}~i$k".getBytes("UTF-8"))
          System.arraycopy(dg, 0, px, k * 16, 16)
          k += 1
        }
        val p = (md.digest(s"$id~px".getBytes("UTF-8"))(0) & 0xff) % 64
        px(p) = md.digest(s"$id~pv".getBytes("UTF-8"))(0)
        val rgb = new Array[Byte](192)
        var i = 0
        while (i < 64) {
          rgb(i * 3) = px(i); rgb(i * 3 + 1) = px(i); rgb(i * 3 + 2) = px(i)
          i += 1
        }
        MediaPipeline.MediaRecord(id,
          MediaPipeline.MediaMeta("image/bmp", 8, 8, 0, 0L),
          MediaPipeline.encodeBmp(8, 8, rgb))
      }
    }
    val ph = MediaPipeline.imagePHash(media).toDF()
      .select(col("media_id").as("doc_id"), col("phash"))
    NearDup.hammingPairsCombo(ph, "doc_id", "phash",
        bits = 64, blocks = 8, maxHamming = 5)
      .orderBy("doc_a", "doc_b")
  }

  /** doc_jsonl — JSONL ingestion round-trip (graft.sources.JsonLines):
    * the documents table is serialized to newline-delimited JSON with
    * every 50th doc's line corrupted (final `}` dropped — truncated-write
    * shape), written to a scratch dir, and read back via the
    * schema-pinned [[graft.sources.JsonLines.loadJsonl]] text-scan +
    * from_json path. Clean rows must round-trip exactly (id, lang, text
    * byte length); corrupt lines must all land in the reject side, whose
    * count rides along as one `__corrupt__` summary row. The oracle
    * computes both sides relationally from the documents table — the
    * gate proves the parse/reject SEMANTICS of the real file round-trip,
    * not DuckDB's JSON reader. */
  def docJsonl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
    val corrupted = when(col("doc_id") % 50 === 0, line.substr(lit(1), length(line) - 1))
      .otherwise(line)
    val path = Tables.scratchDir(spark, "jsonl", dir)
    docs.select(corrupted.as("value")).coalesce(1)
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val (clean, rejects) = graft.sources.JsonLines.splitCorrupt(
      graft.sources.JsonLines.loadJsonl(spark, path, schema))
    clean.select(col("doc_id"), col("lang"),
        octet_length(col("text")).cast("long").as("text_bytes"))
      .unionAll(rejects.agg(count(lit(1)).as("n"))
        .select(lit(null).cast("long").as("doc_id"),
          lit("__corrupt__").as("lang"), col("n").cast("long").as("text_bytes")))
      .orderBy("doc_id")
  }

  /** doc_orc — ORC format round-trip: the documents table written as
    * lang-PARTITIONED ORC (the second predicate-pushdown-capable
    * columnar format next to parquet — same Hive-layout contract as
    * Warehouse.writePartitioned), read back with a partition filter
    * that prunes every non-en directory at planning time (asserted in
    * WarehouseSpec), then aggregated per source. The oracle computes
    * the same aggregate from the parquet original — the gate proves
    * the ORC write/read preserves values exactly, bytes included. */
  def docOrc(spark: SparkSession, dir: String): DataFrame = {
    val path = Tables.scratchDir(spark, "orc", dir)
    Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").orc(path)
    spark.read.orc(path)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_total"),
        sum(octet_length(col("text")).cast("long")).as("bytes_total"))
      .orderBy("source")
  }

  /** doc_chunks — context-window chunking (Transform.chunkDocs): every
    * document cut into 512-char chunks with a 64-char overlap (stride
    * 448). Pure map + in-row explode; the oracle regenerates the same
    * starts with range() and substr (the corpus is BMP-only, so char
    * positions agree between the engines). */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Transform.chunkDocs(
        Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text", size = 512, overlap = 64)
      .orderBy("doc_id", "chunk_id")

  private val BpeMerges = 8

  /** doc_bpe_merges — BPE tokenizer TRAINING (graft.operators.Bpe): the
    * first 8 byte-pair merges learned from the corpus, ordered — the
    * artifact a subword tokenizer ships. The corpus is scanned once for
    * word counts; each round then costs O(vocabulary). The oracle
    * replays all 8 rounds as chained CTEs (pair explode → weighted count
    * → deterministic argmax → left-to-right replace merge). */
  def docBpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(Tables.documents(spark, dir), "text", BpeMerges)
      .orderBy("merge_rank")

  /** doc_bpe_segments — the trained tokenizer's OUTPUT table: every
    * distinct corpus word with its subword segmentation after the same 8
    * merges doc_bpe_merges learns — the lookup a serving tokenizer
    * caches. Oracle = the training replay's final vocab state. */
  def docBpeSegments(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainSegmentations(Tables.documents(spark, dir), "text", BpeMerges)
      .orderBy("word")

  /** doc_novelty — n-gram novelty scoring (NearDup.noveltyScores): each
    * doc's share of 3-gram shingles appearing in no other document.
    * Boilerplate and near-copies score low — the memorization/
    * provenance analytic next to the dedup operators. */
  def docNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NearDup.noveltyScores(
        Tables.documents(spark, dir), "doc_id", "text", n = 3)
      .orderBy("doc_id")

  /** doc_lm_score — perplexity-style LM quality scoring
    * (graft.operators.LangModel): a unigram model with add-one smoothing
    * trains on the English slice, every document scores its average
    * negative log-likelihood in exact integer micro-nats. The CCNet
    * quality-filter shape: train on reference → broadcast model → score
    * corpus. */
  def docLmScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LangModel.unigramNll(Tables.documents(spark, dir),
        "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")

  private val DsirTargetSources = Seq("src0", "src1", "src2")
  private val DsirK = 128

  /** doc_dsir — DSIR-style importance resampling (graft.operators.Dsir,
    * Xie et al. 2023): a curated-source slice plays the target
    * distribution, every doc weights by its exact-integer unigram
    * log-importance-ratio, and the 128 winners of the deterministic
    * salted-Gumbel top-k are the resampled training set — sampling ∝
    * softmax(ratio), not a hard top-k, so diversity survives. The two
    * LMs, the broadcast delta table, and the bounded selection all
    * reuse the LangModel/Bm25 scale shapes. */
  def docDsir(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.resample(Tables.documents(spark, dir),
        "doc_id", "text", col("source").isin(DsirTargetSources: _*), DsirK)
      .orderBy("rank")

  private val Bm25Terms = Seq("hash", "join", "vector")
  private val Bm25K = 10

  /** doc_bm25 — BM25 ranked keyword retrieval (graft.operators.Bm25):
    * top-10 documents for a 3-term query, scored with k1=1.2, b=0.75
    * over in-row tf/dl and one broadcast corpus-stats row. The idf is
    * quantized to 1e6 micro-units straight after the ln (see Bm25's
    * determinism note); everything else is exact-integer or
    * correctly-rounded double arithmetic in pinned operand order. */
  def docBm25(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bm25.topK(Tables.documents(spark, dir),
        "doc_id", "text", Bm25Terms, Bm25K)
      .orderBy("rank")

  /** txt_bm25_persisted — the SAME BM25 retrieval served from a
    * PERSISTED inverted index (graft.operators.TextIndex): tokenization
    * and posting derivation happen once at build; the query statically
    * prunes the postings scan to its terms' bucket directories, corpus
    * stats (N, Σdl, per-term df) collapse into one broadcast row from
    * the stored tables, and scoring runs through the IDENTICAL
    * Bm25.rank code path — gated against the same oracle as doc_bm25. */
  def txtBm25Persisted(spark: SparkSession, dir: String): DataFrame =
    IndexScenario.persisted(spark, dir, "txtidx", Bm25Index, Tables.documents(spark, dir),
        Bm25Query, incremental = false)
      .orderBy("rank")

  /** txt_bm25_incremental — INCREMENTAL text-index maintenance: the
    * second ingest APPENDS its postings and doc rows (O(batch) — the
    * stored files are never read or rewritten, TextIndexSpec asserts
    * it). Corpus stats derive live from the stored tables, so
    * append-then-serve is gated against the SAME full-corpus oracle as
    * doc_bm25. */
  def txtBm25Incremental(spark: SparkSession, dir: String): DataFrame =
    IndexScenario.persisted(spark, dir, "txtidxinc", Bm25Index, Tables.documents(spark, dir),
        Bm25Query, incremental = true)
      .orderBy("rank")

  /** txt_bm25_follow / txt_bm25_compacted — the [[IndexScenario]] gates
    * for text. The MERGE waves re-upsert CHANGED text (two extra
    * 'vector' tokens in wave 1, two 'join' in wave 2): re-served stale
    * base postings or a missed re-tokenization would shift their tf AND
    * every doc's length normalization. Corpus stats derive from the
    * resolved frames; gated against an oracle running BM25 over the
    * corpus's final state. */
  def txtBm25Follow(spark: SparkSession, dir: String): DataFrame =
    bm25Gate(spark, dir, compacted = false)

  def txtBm25Compacted(spark: SparkSession, dir: String): DataFrame =
    bm25Gate(spark, dir, compacted = true)

  private lazy val Bm25Index = graft.operators.TextIndex.bm25("doc_id", "text")
  private lazy val Bm25Query = graft.operators.TextIndex.Query(Bm25Terms, Bm25K)

  private def bm25Gate(spark: SparkSession, dir: String, compacted: Boolean): DataFrame =
    IndexScenario.follow(spark, dir, "txt", Bm25Index,
        Tables.documents(spark, dir).select("doc_id", "text"), "docs", compacted,
        _ => Bm25Query,
        (batch, n) => batch.withColumn("text", concat(coalesce(col("text"), lit("")),
          lit(if (n == 1) " vector vector" else " join join"))))
      .orderBy("rank")

  private val PrIters = 6
  private val PrLinks = 3

  /** doc_pagerank — link-graph centrality quality signal
    * (graft.operators.Graph.pageRank): the PageRank prior web-scale
    * curation attaches to documents (Common Crawl publishes host-graph
    * centrality ranks; centrality is a standard pretraining quality
    * signal). The link graph is derived deterministically — each doc
    * links to 3 md5-addressed targets (self-loops dropped) — and 6
    * exact-integer rounds run in micro-units: inflow = Σ rank div
    * outdeg, next = 150000 + 850·inflow div 1000. No floats anywhere;
    * the oracle unrolls the same 6 rounds as CTEs and must match
    * bit-for-bit. Top-100 by rank (ties to the lowest doc_id) —
    * a bounded TakeOrderedAndProject, never a full sort. */
  def docPagerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curate, Graph}
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val nDf = docs.agg(count(lit(1)).as("__n"))
    val links = docs.crossJoin(broadcast(nDf))
      .select(col("doc_id").as("src"),
        explode(array((0 until PrLinks).map { j =>
          (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(s"~l$j")).cast("binary")), 1, 8), 16, 10).cast("long")
            % col("__n")).as(s"__d$j")
        }: _*)).as("dst"))
      .filter(col("dst") =!= col("src"))
    val pr = Graph.pageRank(links, docs, "doc_id", "src", "dst", PrIters)
    val out = pr.orderBy(col("rank_micro").desc, col("doc_id")).limit(100)
      .select(col("doc_id"), col("rank_micro"))
    val materialized = out.localCheckpoint(true)
    Curate.release(pr)
    materialized
  }

  // ---- oracle SQL ---------------------------------------------------

  /** Normalized text (Text.normalize): lowercase, keep [a-z0-9 ],
    * collapse spaces, trim. */
  private[queries] val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** [[normSql]] over `coalesce(text, '')` — the NULL contract of the
    * operators that coalesce before tokenizing (SubstrDedup, Curate,
    * LangModel): a NULL-text doc tokenizes to the empty list. */
  private[queries] val normCoalesceSql =
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Token-hit count of `word` in the padded lowercase text `p`
    * (Text.wordHits replace-length arithmetic). */
  private def hitSql(word: String): String = {
    val n = word.length + 2
    s"CAST((length(p) - length(replace(p, ' $word ', ''))) / $n AS BIGINT)"
  }

  private def scoreSql(words: Seq[String]): String = words.map(hitSql).mkString(" + ")

  private val stopHitsSql = scoreSql(Seq("the", "a", "of", "and", "to"))

  private val qualityOracle: String = {
    val alpha = "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    s"""WITH pad AS (
       |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents
       |), feat AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
       |    CAST(CEIL($alpha / 4.0) AS BIGINT)
       |      + CAST(length(regexp_replace(lower(text), '[^0-9]', '', 'g')) AS BIGINT)
       |      + CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS bpeish_tokens,
       |    CASE WHEN length(text) > 0
       |         THEN CAST($alpha AS DOUBLE) / length(text) ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio,
       |    CASE WHEN length(text) > 0
       |         THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text)
       |         ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
       |    $stopHitsSql AS sw_hits,
       |    md5($normSql) AS fingerprint
       |  FROM pad
       |), rat AS (
       |  SELECT *, CASE WHEN token_count > 0 THEN CAST(sw_hits AS DOUBLE) / token_count
       |                 ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio
       |  FROM feat
       |)
       |SELECT doc_id, token_count, bpeish_tokens, alpha_ratio, punct_ratio, stopword_ratio,
       |  (CASE WHEN CAST(token_count AS DOUBLE) >= 10 AND CAST(token_count AS DOUBLE) <= 10000
       |        THEN CAST(1.0 AS DOUBLE)
       |        WHEN CAST(token_count AS DOUBLE) > 0 THEN CAST(0.5 AS DOUBLE)
       |        ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
       |  + alpha_ratio * CAST(0.4 AS DOUBLE)
       |  + (CASE WHEN stopword_ratio > CAST(0.01 AS DOUBLE) AND stopword_ratio < CAST(0.6 AS DOUBLE)
       |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
       |    AS quality_score,
       |  fingerprint
       |FROM rat ORDER BY doc_id""".stripMargin
  }

  private val langIdOracle: String = {
    // scores per Text.langMarkers, in its fixed order (en, es, de, fr);
    // the CASE chain reproduces the fold's earliest-argmax tie-breaking.
    val scores = Text.langMarkers.map { case (lang, ws) => s"s_$lang" -> scoreSql(ws) }
    val scoreCols = scores.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    s"""WITH pad AS (
       |  SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents
       |), sc AS (
       |  SELECT doc_id, lang, text,
       |    $scoreCols
       |  FROM pad
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |       WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'unknown'
       |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Shared shingle CTE prefix (3-gram shingles of normalized text,
    * empty tokens filtered — mirrors Text.shingles) over any relation
    * carrying (doc_id, text). */
  private def shingleCtes(src: String = "documents") =
    s"""norm AS (SELECT doc_id, $normSql AS t FROM $src),
       |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
       |idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 3),
       |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle FROM idx)""".stripMargin

  /** CTE chain producing verified-Jaccard candidate pairs (mirrors
    * NearDup.minhashPairs): shingles → one 31-bit md5 base hash → 12
    * universal-hash draws (a·h+b mod 2^31-1, parameters shared with
    * NearDup.hashParams so both engines use the identical family) →
    * 4 bands → banded candidates → exact Jaccard. Shared by the pair
    * query, the cluster queries' recursive closures, and the curation
    * chain (which runs it over its filtered survivor CTE). */
  /** CTE chain up to the banded CANDIDATE pairs (norm → shingles →
    * signatures → bands → `pairs`) — the shared LSH front half; the
    * verification half differs per operator (Jaccard in [[pairCtes]],
    * levenshtein in the edit-pairs oracle). */
  private def candCtes(src: String = "documents"): String = {
    val params = graft.operators.NearDup.hashParams(12)
    val seedRows = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""${shingleCtes(src)},
       |shh AS (SELECT doc_id, shingle,
       |          CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) & 2147483647 AS hb
       |        FROM sh),
       |hs AS (SELECT doc_id, seed, (a * hb + b) % 2147483647 AS h
       |       FROM shh, (VALUES $seedRows) s(seed, a, b)),
       |sig AS (SELECT doc_id, seed, min(h) AS sig FROM hs GROUP BY 1, 2),
       |band AS (SELECT doc_id, seed // 2 AS band,
       |           md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)) AS bh
       |         FROM sig GROUP BY 1, 2),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def pairCtes(src: String = "documents"): String = {
    s"""${candCtes(src)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |common AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
       |           FROM pairs p
       |           JOIN sh sa ON sa.doc_id = p.doc_a
       |           JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
       |           GROUP BY 1, 2),
       |jpairs AS (SELECT c.doc_a, c.doc_b,
       |             CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) AS jaccard
       |           FROM common c
       |           JOIN sizes za ON za.doc_id = c.doc_a
       |           JOIN sizes zb ON zb.doc_id = c.doc_b)""".stripMargin
  }

  private val minhashOracle: String =
    s"""WITH ${pairCtes()}
       |SELECT doc_a, doc_b, jaccard FROM jpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** PPJoin oracle: the exact-join pipeline from first principles —
    * global rare-first shingle order, rational prefix bound
    * ⌈τn⌉ = (num·n + den − 1) // den, size filter, min-length cut,
    * in-list intersection verify. Mirrors NearDup.jaccardJoinExact at
    * the same (tauNum, tauDen, minShingles). */
  private def jaccardJoinOracleFor(tauNum: Long, tauDen: Long,
      minShingles: Long): String =
    s"""WITH ${shingleCtes()},
       |shb AS (SELECT DISTINCT doc_id,
       |          CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) & 2147483647 AS hb
       |        FROM sh),
       |f AS (SELECT hb, CAST(COUNT(*) AS BIGINT) AS df FROM shb GROUP BY 1),
       |arr AS (SELECT doc_id, list(shb.hb ORDER BY df, shb.hb) AS sh_arr,
       |          CAST(COUNT(*) AS BIGINT) AS n
       |        FROM shb JOIN f USING (hb) GROUP BY 1
       |        HAVING COUNT(*) >= $minShingles),
       |pref AS (SELECT doc_id, n,
       |           unnest(sh_arr[1 : CAST(n - (($tauNum * n + $tauDen - 1) // $tauDen) + 1 AS BIGINT)]) AS hb
       |         FROM arr),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pref a JOIN pref b
       |           ON a.hb = b.hb AND a.doc_id < b.doc_id
       |         WHERE LEAST(a.n, b.n) * $tauDen >= GREATEST(a.n, b.n) * $tauNum),
       |v AS (SELECT c.doc_a, c.doc_b,
       |        CAST(len(list_intersect(aa.sh_arr, ab.sh_arr)) AS BIGINT) AS n_common,
       |        aa.n + ab.n - len(list_intersect(aa.sh_arr, ab.sh_arr)) AS n_union
       |      FROM cand c
       |      JOIN arr aa ON aa.doc_id = c.doc_a
       |      JOIN arr ab ON ab.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_common, CAST(n_union AS BIGINT) AS n_union,
       |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM v WHERE n_common * $tauDen >= n_union * $tauNum
       |ORDER BY doc_a, doc_b""".stripMargin

  private val jaccardJoinOracle: String = jaccardJoinOracleFor(1L, 2L, 0L)

  /** Containment oracle: the same candidate/overlap CTEs, with the
    * per-side ratios next to jaccard. */
  private val containmentOracle: String =
    s"""WITH ${candCtes()},
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |common AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
       |           FROM pairs p
       |           JOIN sh sa ON sa.doc_id = p.doc_a
       |           JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
       |           GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |       CAST(n_common AS DOUBLE) / za.n_sh AS containment_a,
       |       CAST(n_common AS DOUBLE) / zb.n_sh AS containment_b,
       |       CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) AS jaccard
       |FROM common c
       |JOIN sizes za ON za.doc_id = c.doc_a
       |JOIN sizes zb ON zb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental-dedup oracle: the full-corpus band CTEs restricted to
    * CROSS-parity candidate pairs (corpus = even ids, batch = odd), the
    * verified-jaccard cut over the 31-bit HASHED shingle sets (exactly
    * what DedupState persists — shh's hb DISTINCT per doc, so a hash
    * collision merges shingles identically in both engines), plus the
    * exact fingerprint anti-set. Near-drops computed for exact-dropped
    * batch docs coincide with the exact drop, so the survivor set
    * matches the operator (which only bands exact-survivors) by
    * construction. */
  private val dedupeIncrementalOracle: String =
    s"""WITH ${candCtes()},
       |shd AS (SELECT DISTINCT doc_id, hb FROM shh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
       |xp AS (SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS corpus_id,
       |              CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS batch_id
       |       FROM pairs WHERE (doc_a % 2) <> (doc_b % 2)),
       |xc AS (SELECT x.corpus_id, x.batch_id, COUNT(*) AS n_common
       |       FROM xp x
       |       JOIN shd sa ON sa.doc_id = x.corpus_id
       |       JOIN shd sb ON sb.doc_id = x.batch_id AND sb.hb = sa.hb
       |       GROUP BY 1, 2),
       |neardrop AS (SELECT DISTINCT c.batch_id
       |             FROM xc c
       |             JOIN sizes za ON za.doc_id = c.corpus_id
       |             JOIN sizes zb ON zb.doc_id = c.batch_id
       |             WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)
       |                   >= CAST(0.5 AS DOUBLE)),
       |fp AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
       |exactdrop AS (SELECT DISTINCT b.doc_id FROM fp b
       |              JOIN fp c ON c.fp = b.fp AND c.doc_id % 2 = 0
       |              WHERE b.doc_id % 2 = 1)
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 2 = 1
       |  AND d.doc_id NOT IN (SELECT doc_id FROM exactdrop)
       |  AND d.doc_id NOT IN (SELECT batch_id FROM neardrop)
       |ORDER BY d.doc_id""".stripMargin

  /** Connected components of the jaccard>=0.5 pair graph as a recursive
    * reachability closure: min reachable doc_id = cluster id — the same
    * fixpoint NearDup.connectedComponents' label propagation reaches. */
  private val dupClustersOracle: String =
    s"""WITH RECURSIVE ${pairCtes()},
       |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r)
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** Keep-best oracle: the dupClusters recursive closure + the
    * doc_quality score chain (CTE names q-prefixed to dodge the pair
    * CTEs') + a per-cluster argmax window. Singletons label themselves
    * through the LEFT JOIN + COALESCE. */
  private val dedupeKeepBestOracle: String = {
    val alpha = "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    s"""WITH RECURSIVE ${pairCtes()},
       |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
       |clus AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |qpad AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents),
       |qfeat AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
       |    CASE WHEN length(text) > 0
       |         THEN CAST($alpha AS DOUBLE) / length(text) ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio,
       |    $stopHitsSql AS sw_hits
       |  FROM qpad
       |), qrat AS (
       |  SELECT *, CASE WHEN token_count > 0 THEN CAST(sw_hits AS DOUBLE) / token_count
       |                 ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio
       |  FROM qfeat
       |), qsc AS (
       |  SELECT doc_id,
       |    (CASE WHEN CAST(token_count AS DOUBLE) >= 10 AND CAST(token_count AS DOUBLE) <= 10000
       |          THEN CAST(1.0 AS DOUBLE)
       |          WHEN CAST(token_count AS DOUBLE) > 0 THEN CAST(0.5 AS DOUBLE)
       |          ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
       |      + alpha_ratio * CAST(0.4 AS DOUBLE)
       |      + (CASE WHEN stopword_ratio > CAST(0.01 AS DOUBLE) AND stopword_ratio < CAST(0.6 AS DOUBLE)
       |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
       |      AS score
       |  FROM qrat
       |),
       |lab AS (SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id, q.score
       |        FROM qsc q LEFT JOIN clus c ON q.doc_id = c.doc_id)
       |SELECT doc_id, cluster_id, score,
       |  (row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) = 1) AS keep
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  private val mixtureSampleOracle: String =
    s"""WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_domain FROM documents GROUP BY lang),
       |mx AS (SELECT max(n_domain) AS nmax FROM cnt),
       |rate AS (SELECT lang, n_domain,
       |           least(CAST(1.0 AS DOUBLE),
       |                 CAST(0.5 AS DOUBLE) * sqrt(CAST(nmax AS DOUBLE) / CAST(n_domain AS DOUBLE))) AS keep_rate
       |         FROM cnt, mx)
       |SELECT d.doc_id, d.lang, r.n_domain, r.keep_rate
       |FROM documents d JOIN rate r ON d.lang = r.lang
       |WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '~t'), 1, 8) AS BIGINT) AS DOUBLE)
       |      < r.keep_rate * CAST(4294967296.0 AS DOUBLE)
       |ORDER BY d.doc_id""".stripMargin

  /** Winnowing CTE chain — positioned 3-gram md5s (the shingle CTEs
    * WITHOUT the dedup), window-min over 4 rows, distinct survivors as
    * `fp(doc_id, fingerprint)`. The oracle's 1-based shingle start i
    * equals Spark's 0-based pos + 1. Shared by doc_winnow and
    * doc_winnow_pairs. */
  private val winnowCtes: String =
    s"""norm AS (SELECT doc_id, $normSql AS t FROM documents),
       |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
       |idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 3),
       |shp AS (SELECT doc_id, i, md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS h FROM idx),
       |w AS (SELECT doc_id, i, MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m FROM shp),
       |fp AS (SELECT DISTINCT doc_id, m AS fingerprint FROM w WHERE i >= 4)""".stripMargin

  private val winnowOracle: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, fingerprint FROM fp
       |ORDER BY doc_id, fingerprint""".stripMargin

  /** MOSS pairs oracle: the winnow chain, the maxDf=50 stop-fingerprint
    * cut applied to postings AND totals, the inverted-index self-join,
    * shared>=2, overlap = one exact integer division. */
  private val winnowPairsOracle: String =
    s"""WITH $winnowCtes,
       |keepfp AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 50),
       |live AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keepfp USING (fingerprint)),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM live GROUP BY 1),
       |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
       |       FROM live a JOIN live b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)
       |SELECT doc_a, doc_b, shared,
       |       CAST(shared AS DOUBLE) / CAST(LEAST(ca.nf, cb.nf) AS DOUBLE) AS overlap
       |FROM sh
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** CTE chain producing sim(doc_id, simhash) — `bits`-bit SimHash,
    * shared by the fingerprint query (16) and the banded pair query
    * (32; wider fingerprint → 256-value bands, see
    * NearDup.simhashPairs' scale note). */
  private def simCtes(bits: Int): String = {
    val words = (bits + 31) / 32
    val hashes = (0 until words).map(w =>
      if (w == 0) "md5(tk) AS hh0" else s"md5(tk || '~$w') AS hh$w").mkString(", ")
    val sums = (0 until bits).map(b =>
      s"SUM(CASE WHEN substr(hh${b / 32}, ${b % 32 + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n       ")
    // bit 63's weight is Long.MinValue, whose decimal literal doesn't
    // parse as one BIGINT token — spell it as an expression
    def weight(b: Int) = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
    val value = (0 until bits).map(b =>
      s"(CASE WHEN b$b > 0 THEN ${weight(b)} ELSE 0 END)").mkString(" + ")
    s"""norm AS (SELECT doc_id, $normSql AS t FROM documents),
       |tok AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tk FROM norm),
       |h AS (SELECT doc_id, $hashes FROM tok),
       |b AS (SELECT doc_id,
       |       $sums
       |      FROM h GROUP BY 1),
       |sim AS (SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM b)""".stripMargin
  }

  private val simhashOracle: String =
    s"""WITH ${simCtes(16)}
       |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin

  /** Banded SimHash pairs: 4 bands of 8 bits; band agreement via
    * shift/mask equi-join, Hamming verified with bit_count(xor). */
  private val simhashPairsOracle: String =
    s"""WITH ${simCtes(32)},
       |bd AS (SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS band_val
       |       FROM sim, range(0, 4) r(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
       |                b.doc_id AS doc_b, b.simhash AS sb
       |         FROM bd a JOIN bd b
       |           ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 64-bit variant: 8 bands of 8 bits, Hamming <= 5. The shift+mask is
    * sign-agnostic (masked to the band width on both engines). */
  private val simhash64PairsOracle: String =
    s"""WITH ${simCtes(64)},
       |bd AS (SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS band_val
       |       FROM sim, range(0, 8) r(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
       |                b.doc_id AS doc_b, b.simhash AS sb
       |         FROM bd a JOIN bd b
       |           ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** CTE chain producing the curated survivor set `cur` (doc_id, lang,
    * lang_pred, quality_score, text) — mirrors docCurate steps 1–3
    * (scoring, language/quality filters with the CJK exemption, exact
    * dedup to the minimum-id survivor per fingerprint); the caller runs
    * near-dup removal over it via `pairCtes("cur")` + the recursive
    * closure. Scoring expressions are the same IEEE-op-for-op chains the
    * doc_quality / doc_lang_id oracles gate. */
  private val curatedCtes: String = {
    val alpha = "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    val scores = Text.langMarkers.map { case (lang, ws) => s"s_$lang" -> scoreSql(ws) }
    val scoreCols = scores.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    s"""cpad AS (
       |  SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents
       |), cfeat AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
       |    CASE WHEN length(text) > 0 THEN CAST($alpha AS DOUBLE) / length(text)
       |         ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio,
       |    $stopHitsSql AS sw_hits,
       |    $scoreCols,
       |    md5($normSql) AS fp
       |  FROM cpad
       |), crat AS (
       |  SELECT *, CASE WHEN token_count > 0 THEN CAST(sw_hits AS DOUBLE) / token_count
       |                 ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio
       |  FROM cfeat
       |), cscore AS (
       |  SELECT doc_id, lang, text, fp,
       |    CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |         WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'unknown'
       |         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |         WHEN s_de >= s_fr THEN 'de'
       |         ELSE 'fr' END AS lang_pred,
       |    (CASE WHEN CAST(token_count AS DOUBLE) >= 10 AND CAST(token_count AS DOUBLE) <= 10000
       |          THEN CAST(1.0 AS DOUBLE)
       |          WHEN CAST(token_count AS DOUBLE) > 0 THEN CAST(0.5 AS DOUBLE)
       |          ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.4 AS DOUBLE)
       |    + alpha_ratio * CAST(0.4 AS DOUBLE)
       |    + (CASE WHEN stopword_ratio > CAST(0.01 AS DOUBLE) AND stopword_ratio < CAST(0.6 AS DOUBLE)
       |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
       |      AS quality_score
       |  FROM crat
       |), cfilt AS (
       |  SELECT * FROM cscore
       |  WHERE lang_pred <> 'unknown'
       |    AND (quality_score >= CAST(0.5 AS DOUBLE) OR lang_pred = 'zh')
       |), ccanon AS (
       |  SELECT fp, MIN(doc_id) AS doc_id FROM cfilt GROUP BY 1
       |), cur AS (
       |  SELECT f.doc_id, f.lang, f.lang_pred, f.quality_score, f.text
       |  FROM cfilt f JOIN ccanon c ON c.fp = f.fp AND c.doc_id = f.doc_id
       |)""".stripMargin
  }

  private val curateOracle: String =
    s"""WITH RECURSIVE $curatedCtes,
       |${pairCtes("cur")},
       |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
       |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, lang, lang_pred, quality_score FROM cur
       |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Composed-pipeline oracle: the full curate oracle as a derived
    * table, the doc_splits bucket CASE restricted to 'train', and the
    * doc_pack window over the surviving train slice — the standalone
    * oracles chained verbatim, so the composition gates bit-for-bit. */
  private lazy val prepareTrainingOracle: String =
    s"""WITH cur2 AS (SELECT doc_id FROM (
       |$curateOracle
       |)),
       |keyed AS (
       |  SELECT d.doc_id, 'train' AS split,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS token_count,
       |         md5(CAST(d.doc_id AS VARCHAR)) AS pack_key
       |  FROM documents d JOIN cur2 USING (doc_id)
       |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) AS INT) < 240
       |),
       |c AS (
       |  SELECT doc_id, split, token_count, pack_key,
       |         CAST(COALESCE(SUM(token_count) OVER (ORDER BY pack_key
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
       |  FROM keyed
       |)
       |SELECT doc_id, split, token_count, pack_key, token_start,
       |       token_start // 2048 AS seq_id
       |FROM c ORDER BY token_start""".stripMargin

  /** Curation-v2 oracle: the doc_lang_trained chain (lt..tbest) picks
    * each doc's predicted language, cscore (from curatedCtes) carries
    * the heuristic quality + fingerprint, the doc_lm_score chain
    * (l-prefixed) scores the English-reference NLL; s0 applies the three
    * filters, canon2/s1 the exact dedup, pairCtes("s1") + the recursive
    * closure the near-dup dedup, and the doc_dsir chain (z-prefixed,
    * sourced FROM s2 — both its LMs train on the survivors, exactly as
    * the operator composes them) performs the final Gumbel top-k.
    * Chained CTEs referenced repeatedly are MATERIALIZED (the BPE-oracle
    * lesson — DuckDB otherwise re-inlines the whole upstream chain). */
  private val curateV2Oracle: String = {
    val nc = normSql.replace("lower(text)", "lower(COALESCE(text, ''))")
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE $curatedCtes,
       |lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, lang, substr(t, CAST(i AS BIGINT), 3) AS gram
       |      FROM lt, unnest(range(1, length(t) - 1)) AS u(i)),
       |pc AS (SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
       |prof AS (SELECT lang, gram, rnk FROM (
       |           SELECT lang, gram,
       |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS rnk
       |           FROM pc) WHERE rnk <= 64),
       |tlangs AS (SELECT DISTINCT lang FROM prof),
       |tdc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
       |dprof AS (SELECT doc_id, gram, drank FROM (
       |            SELECT doc_id, gram,
       |                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS drank
       |            FROM tdc) WHERE drank <= 64),
       |tdist AS (SELECT d.doc_id, l.lang,
       |           CAST(SUM(COALESCE(ABS(d.drank - p.rnk), 64)) AS BIGINT) AS dist
       |         FROM dprof d CROSS JOIN tlangs l
       |         LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
       |         GROUP BY 1, 2),
       |tbest AS (SELECT doc_id, lang AS lang_pred, dist,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
       |         FROM tdist),
       |pred AS MATERIALIZED (SELECT doc_id, lang_pred FROM tbest WHERE rn = 1),
       |lnorm AS (SELECT doc_id, lang, $nc AS t FROM documents),
       |lex AS MATERIALIZED (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS tok FROM lnorm),
       |lvcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM lex
       |          WHERE lang = 'en' GROUP BY 1),
       |lst AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM lvcnt),
       |lvoc AS (SELECT tok,
       |           CAST(round(1000000.0 * (-ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT) AS nllq
       |         FROM lvcnt CROSS JOIN lst),
       |lsc AS (SELECT e.doc_id,
       |          COALESCE(lvoc.nllq,
       |            CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT)) AS q
       |        FROM lex e LEFT JOIN lvoc ON lvoc.tok = e.tok CROSS JOIN lst),
       |lagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |           CAST(SUM(q) AS BIGINT) AS nll_micro FROM lsc GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT c.doc_id, c.lang, d.source, c.text, p.lang_pred, c.quality_score, c.fp
       |  FROM cscore c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  JOIN pred p ON p.doc_id = c.doc_id
       |  LEFT JOIN lagg la ON la.doc_id = c.doc_id
       |  WHERE p.lang_pred IN ('en', 'es', 'de', 'fr')
       |    AND c.quality_score >= CAST(0.5 AS DOUBLE)
       |    AND (la.nll_micro IS NULL OR la.nll_micro <= $CurateV2MaxNllMicro * la.n_tokens)),
       |canon2 AS (SELECT fp, MIN(doc_id) AS doc_id FROM s0 GROUP BY 1),
       |s1 AS MATERIALIZED (
       |  SELECT s0.* FROM s0 JOIN canon2 ON canon2.fp = s0.fp AND canon2.doc_id = s0.doc_id),
       |${pairCtes("s1")},
       |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
       |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)),
       |znorm AS (SELECT doc_id, source, $nc AS t FROM s2),
       |zex AS MATERIALIZED (SELECT doc_id, source, unnest(string_split(t, ' ')) AS tok FROM znorm),
       |zvr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS rc FROM zex GROUP BY 1),
       |zvt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc FROM zex
       |        WHERE source IN ($tgt) GROUP BY 1),
       |zsr AS (SELECT CAST(SUM(rc) AS BIGINT) AS rtotal, CAST(COUNT(*) AS BIGINT) AS rv FROM zvr),
       |zst AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttotal, CAST(COUNT(*) AS BIGINT) AS tv FROM zvt),
       |zvoc AS (SELECT zvr.tok,
       |    CAST(round(1000000.0 * (-ln(CAST(zvr.rc + 1 AS DOUBLE) / CAST(zsr.rtotal + zsr.rv AS DOUBLE)))) AS BIGINT)
       |  - COALESCE(
       |      CAST(round(1000000.0 * (-ln(CAST(zvt.tc + 1 AS DOUBLE) / CAST(zst.ttotal + zst.tv AS DOUBLE)))) AS BIGINT),
       |      CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(zst.ttotal + zst.tv AS DOUBLE)))) AS BIGINT)) AS delta
       |  FROM zvr LEFT JOIN zvt USING (tok) CROSS JOIN zsr CROSS JOIN zst),
       |zsc AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(zvoc.delta) AS BIGINT) AS lr_micro
       |       FROM zex e JOIN zvoc ON zvoc.tok = e.tok GROUP BY 1),
       |zg AS (SELECT doc_id, n_tokens, lr_micro,
       |        lr_micro + CAST(round(1000000.0 * (-ln(
       |          CAST(GREATEST(CAST(round(1000000000.0 * (-ln(
       |            (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~g'), 1, 12) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |            / CAST(281474976710656 AS DOUBLE)))) AS BIGINT), 1) AS DOUBLE)
       |          / CAST(1000000000 AS DOUBLE)))) AS BIGINT) AS key_micro
       |      FROM zsc),
       |zr AS (SELECT doc_id, n_tokens, lr_micro, key_micro,
       |        ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS "rank" FROM zg)
       |SELECT z.doc_id, s2.lang_pred, s2.quality_score,
       |       z.n_tokens, z.lr_micro, z.key_micro, z."rank"
       |FROM zr z JOIN s2 ON s2.doc_id = z.doc_id
       |WHERE z."rank" <= $CurateV2K ORDER BY z."rank"""".stripMargin
  }

  /** Curation-v3 oracle: the curateV2Oracle chain with the heuristic
    * quality floor swapped for the qualityClassifierOracle's full
    * 4-round perceptron trajectory (CTEs prefixed q*) — the gate is
    * `margin > corpus-median margin` against the weights after round 4
    * (quantile_cont over every doc's margin — the clsMedianCut
    * calibration the gate runs with, exact over integer margins),
    * trained on the UNFILTERED corpus (reference = DSIR target
    * sources), and `margin` replaces `quality_score` in the output. */
  private val curateV3Oracle: String = {
    val nc = normSql.replace("lower(text)", "lower(COALESCE(text, ''))")
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    val qlater = (2 to 4).map { k =>
      val p = k - 1
      s"""qm$k AS (SELECT f.doc_id, CAST(SUM(f.cnt * qw$p.w) AS BIGINT) AS m
         |       FROM qfx f JOIN qw$p ON qw$p.b = f.b GROUP BY 1),
         |qmis$k AS (SELECT y.doc_id, y.y FROM qy y LEFT JOIN qm$k USING (doc_id)
         |          WHERE y.y * COALESCE(qm$k.m, 0) <= 0),
         |qu$k AS (SELECT qfx.b, CAST(SUM(qmis$k.y * qfx.cnt) AS BIGINT) AS u
         |        FROM qfx JOIN qmis$k USING (doc_id) GROUP BY 1),
         |qw$k AS (SELECT COALESCE(w.b, u.b) AS b, COALESCE(w.w, 0) + COALESCE(u.u, 0) AS w
         |        FROM qw$p w FULL JOIN qu$k u ON u.b = w.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $curatedCtes,
       |lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, lang, substr(t, CAST(i AS BIGINT), 3) AS gram
       |      FROM lt, unnest(range(1, length(t) - 1)) AS u(i)),
       |pc AS (SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
       |prof AS (SELECT lang, gram, rnk FROM (
       |           SELECT lang, gram,
       |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS rnk
       |           FROM pc) WHERE rnk <= 64),
       |tlangs AS (SELECT DISTINCT lang FROM prof),
       |tdc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
       |dprof AS (SELECT doc_id, gram, drank FROM (
       |            SELECT doc_id, gram,
       |                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS drank
       |            FROM tdc) WHERE drank <= 64),
       |tdist AS (SELECT d.doc_id, l.lang,
       |           CAST(SUM(COALESCE(ABS(d.drank - p.rnk), 64)) AS BIGINT) AS dist
       |         FROM dprof d CROSS JOIN tlangs l
       |         LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
       |         GROUP BY 1, 2),
       |tbest AS (SELECT doc_id, lang AS lang_pred, dist,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
       |         FROM tdist),
       |pred AS MATERIALIZED (SELECT doc_id, lang_pred FROM tbest WHERE rn = 1),
       |lnorm AS (SELECT doc_id, lang, $nc AS t FROM documents),
       |lex AS MATERIALIZED (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS tok FROM lnorm),
       |lvcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM lex
       |          WHERE lang = 'en' GROUP BY 1),
       |lst AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM lvcnt),
       |lvoc AS (SELECT tok,
       |           CAST(round(1000000.0 * (-ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT) AS nllq
       |         FROM lvcnt CROSS JOIN lst),
       |lsc AS (SELECT e.doc_id,
       |          COALESCE(lvoc.nllq,
       |            CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT)) AS q
       |        FROM lex e LEFT JOIN lvoc ON lvoc.tok = e.tok CROSS JOIN lst),
       |lagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |           CAST(SUM(q) AS BIGINT) AS nll_micro FROM lsc GROUP BY 1),
       |qnc AS (SELECT doc_id, source, $nc AS t FROM documents),
       |qtok AS (SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> length(x) > 0)) AS tok
       |        FROM qnc),
       |qfx AS MATERIALIZED (
       |  SELECT doc_id,
       |         (CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) & 2147483647) % 64 AS b,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM qtok GROUP BY 1, 2),
       |qy AS (SELECT doc_id, CASE WHEN source IN ($tgt) THEN 1 ELSE -1 END AS y
       |      FROM documents),
       |qw1 AS (SELECT b, CAST(SUM(y.y * qfx.cnt) AS BIGINT) AS w
       |       FROM qfx JOIN qy y USING (doc_id) GROUP BY 1),
       |$qlater,
       |qmf AS (SELECT f.doc_id, CAST(SUM(f.cnt * qw4.w) AS BIGINT) AS m
       |       FROM qfx f JOIN qw4 ON qw4.b = f.b GROUP BY 1),
       |qall AS (SELECT d.doc_id, COALESCE(qmf.m, 0) AS m
       |        FROM documents d LEFT JOIN qmf ON qmf.doc_id = d.doc_id),
       |qmed AS (SELECT quantile_cont(m, 0.5) AS v FROM qall),
       |s0 AS MATERIALIZED (
       |  SELECT c.doc_id, c.lang, d.source, c.text, p.lang_pred,
       |         COALESCE(qmf.m, 0) AS margin, c.fp
       |  FROM cscore c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  JOIN pred p ON p.doc_id = c.doc_id
       |  LEFT JOIN lagg la ON la.doc_id = c.doc_id
       |  LEFT JOIN qmf ON qmf.doc_id = c.doc_id
       |  WHERE p.lang_pred IN ('en', 'es', 'de', 'fr')
       |    AND COALESCE(qmf.m, 0) > (SELECT v FROM qmed)
       |    AND (la.nll_micro IS NULL OR la.nll_micro <= $CurateV2MaxNllMicro * la.n_tokens)),
       |canon2 AS (SELECT fp, MIN(doc_id) AS doc_id FROM s0 GROUP BY 1),
       |s1 AS MATERIALIZED (
       |  SELECT s0.* FROM s0 JOIN canon2 ON canon2.fp = s0.fp AND canon2.doc_id = s0.doc_id),
       |${pairCtes("s1")},
       |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
       |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)),
       |znorm AS (SELECT doc_id, source, $nc AS t FROM s2),
       |zex AS MATERIALIZED (SELECT doc_id, source, unnest(string_split(t, ' ')) AS tok FROM znorm),
       |zvr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS rc FROM zex GROUP BY 1),
       |zvt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc FROM zex
       |        WHERE source IN ($tgt) GROUP BY 1),
       |zsr AS (SELECT CAST(SUM(rc) AS BIGINT) AS rtotal, CAST(COUNT(*) AS BIGINT) AS rv FROM zvr),
       |zst AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttotal, CAST(COUNT(*) AS BIGINT) AS tv FROM zvt),
       |zvoc AS (SELECT zvr.tok,
       |    CAST(round(1000000.0 * (-ln(CAST(zvr.rc + 1 AS DOUBLE) / CAST(zsr.rtotal + zsr.rv AS DOUBLE)))) AS BIGINT)
       |  - COALESCE(
       |      CAST(round(1000000.0 * (-ln(CAST(zvt.tc + 1 AS DOUBLE) / CAST(zst.ttotal + zst.tv AS DOUBLE)))) AS BIGINT),
       |      CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(zst.ttotal + zst.tv AS DOUBLE)))) AS BIGINT)) AS delta
       |  FROM zvr LEFT JOIN zvt USING (tok) CROSS JOIN zsr CROSS JOIN zst),
       |zsc AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(zvoc.delta) AS BIGINT) AS lr_micro
       |       FROM zex e JOIN zvoc ON zvoc.tok = e.tok GROUP BY 1),
       |zg AS (SELECT doc_id, n_tokens, lr_micro,
       |        lr_micro + CAST(round(1000000.0 * (-ln(
       |          CAST(GREATEST(CAST(round(1000000000.0 * (-ln(
       |            (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~g'), 1, 12) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |            / CAST(281474976710656 AS DOUBLE)))) AS BIGINT), 1) AS DOUBLE)
       |          / CAST(1000000000 AS DOUBLE)))) AS BIGINT) AS key_micro
       |      FROM zsc),
       |zr AS (SELECT doc_id, n_tokens, lr_micro, key_micro,
       |        ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS "rank" FROM zg)
       |SELECT z.doc_id, s2.lang_pred, s2.margin,
       |       z.n_tokens, z.lr_micro, z.key_micro, z."rank"
       |FROM zr z JOIN s2 ON s2.doc_id = z.doc_id
       |WHERE z."rank" <= $CurateV2K ORDER BY z."rank"""".stripMargin
  }

  /** Incremental-curation oracle: the doc_lang_trained chain with
    * profile counts restricted to EVEN docs (the frozen model) and doc
    * profiles to ODD docs (the batch); the doc_lm_score chain with the
    * vocab from even-English tokens and scoring over odd tokens; the
    * curatedCtes quality/fingerprint features; gates into s0, exact
    * dedup into s1; then ONE banded LSH front over `ub` = even docs ∪
    * s1 serving both verifies — batch-internal pairs (odd-odd) check
    * STRING-shingle jaccard (NearDup.dupClusters semantics) into the
    * recursive min-id closure, cross-parity pairs check HASHED-shingle
    * jaccard (DedupState semantics, the dedupeIncrementalOracle form).
    * Near-drops for exact-dropped docs coincide with the exact drop, so
    * banding all of s1 (the operator bands only state-exact survivors)
    * cannot change the survivor set. */
  private val curateIncrementalOracle: String = {
    val nc = normSql.replace("lower(text)", "lower(COALESCE(text, ''))")
    s"""WITH RECURSIVE $curatedCtes,
       |lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, lang, substr(t, CAST(i AS BIGINT), 3) AS gram
       |      FROM lt, unnest(range(1, length(t) - 1)) AS u(i)),
       |pc AS (SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g
       |       WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |prof AS (SELECT lang, gram, rnk FROM (
       |           SELECT lang, gram,
       |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS rnk
       |           FROM pc) WHERE rnk <= 64),
       |tlangs AS (SELECT DISTINCT lang FROM prof),
       |tdc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g
       |        WHERE doc_id % 2 = 1 GROUP BY 1, 2),
       |dprof AS (SELECT doc_id, gram, drank FROM (
       |            SELECT doc_id, gram,
       |                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS drank
       |            FROM tdc) WHERE drank <= 64),
       |tdist AS (SELECT d.doc_id, l.lang,
       |           CAST(SUM(COALESCE(ABS(d.drank - p.rnk), 64)) AS BIGINT) AS dist
       |         FROM dprof d CROSS JOIN tlangs l
       |         LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
       |         GROUP BY 1, 2),
       |tbest AS (SELECT doc_id, lang AS lang_pred, dist,
       |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
       |         FROM tdist),
       |pred AS MATERIALIZED (SELECT doc_id, lang_pred FROM tbest WHERE rn = 1),
       |lnorm AS (SELECT doc_id, lang, $nc AS t FROM documents),
       |lex AS MATERIALIZED (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS tok FROM lnorm),
       |lvcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM lex
       |          WHERE lang = 'en' AND doc_id % 2 = 0 GROUP BY 1),
       |lst AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM lvcnt),
       |lvoc AS (SELECT tok,
       |           CAST(round(1000000.0 * (-ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT) AS nllq
       |         FROM lvcnt CROSS JOIN lst),
       |lsc AS (SELECT e.doc_id,
       |          COALESCE(lvoc.nllq,
       |            CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT)) AS q
       |        FROM lex e LEFT JOIN lvoc ON lvoc.tok = e.tok CROSS JOIN lst
       |        WHERE e.doc_id % 2 = 1),
       |lagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |           CAST(SUM(q) AS BIGINT) AS nll_micro FROM lsc GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT c.doc_id, c.lang, c.text, p.lang_pred, c.quality_score, c.fp
       |  FROM cscore c
       |  JOIN pred p ON p.doc_id = c.doc_id
       |  LEFT JOIN lagg la ON la.doc_id = c.doc_id
       |  WHERE p.lang_pred IN ('en', 'es', 'de', 'fr')
       |    AND c.quality_score >= CAST(0.5 AS DOUBLE)
       |    AND (la.nll_micro IS NULL OR la.nll_micro <= $CurateV2MaxNllMicro * la.n_tokens)),
       |canon2 AS (SELECT fp, MIN(doc_id) AS doc_id FROM s0 GROUP BY 1),
       |s1 AS MATERIALIZED (
       |  SELECT s0.* FROM s0 JOIN canon2 ON canon2.fp = s0.fp AND canon2.doc_id = s0.doc_id),
       |ub AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
       |       UNION ALL SELECT doc_id, text FROM s1),
       |${pairCtes("ub")},
       |jp AS (SELECT doc_a, doc_b FROM jpairs
       |       WHERE doc_a % 2 = 1 AND doc_b % 2 = 1 AND jaccard >= CAST(0.5 AS DOUBLE)),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
       |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)),
       |shd AS (SELECT DISTINCT doc_id, hb FROM shh),
       |hsz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
       |xp AS (SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS corpus_id,
       |              CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS batch_id
       |       FROM pairs WHERE (doc_a % 2) <> (doc_b % 2)),
       |xc AS (SELECT x.corpus_id, x.batch_id, COUNT(*) AS n_common
       |       FROM xp x
       |       JOIN shd sa ON sa.doc_id = x.corpus_id
       |       JOIN shd sb ON sb.doc_id = x.batch_id AND sb.hb = sa.hb
       |       GROUP BY 1, 2),
       |neardrop AS (SELECT DISTINCT c.batch_id
       |             FROM xc c
       |             JOIN hsz za ON za.doc_id = c.corpus_id
       |             JOIN hsz zb ON zb.doc_id = c.batch_id
       |             WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)
       |                   >= CAST(0.5 AS DOUBLE)),
       |exactdrop AS (SELECT DISTINCT b.doc_id FROM s2 b
       |              JOIN cscore c ON c.fp = b.fp AND c.doc_id % 2 = 0)
       |SELECT doc_id, lang, lang_pred, quality_score FROM s2
       |WHERE doc_id NOT IN (SELECT doc_id FROM exactdrop)
       |  AND doc_id NOT IN (SELECT batch_id FROM neardrop)
       |ORDER BY doc_id""".stripMargin
  }

  /** Perceptron oracle: hashed 64-bucket token counts (the shh 31-bit
    * md5 base hash mod 64), ±1 labels from the DSIR target sources,
    * then 4 UNROLLED full-batch rounds — round 1 updates on every doc
    * (zero weights misclassify all), later rounds join the previous
    * weight table for margins, cut misclassified (y·m <= 0, absent
    * margins coalesce 0 — the all-zero-feature docs), and FULL-join the
    * per-bucket update. Every quantity is an exact integer. */
  private val qualityClassifierOracle: String = {
    val nc = normSql.replace("lower(text)", "lower(COALESCE(text, ''))")
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    val later = (2 to 4).map { k =>
      val p = k - 1
      s"""m$k AS (SELECT f.doc_id, CAST(SUM(f.cnt * w$p.w) AS BIGINT) AS m
         |       FROM fx f JOIN w$p ON w$p.b = f.b GROUP BY 1),
         |mis$k AS (SELECT y.doc_id, y.y FROM y LEFT JOIN m$k USING (doc_id)
         |          WHERE y.y * COALESCE(m$k.m, 0) <= 0),
         |u$k AS (SELECT fx.b, CAST(SUM(mis$k.y * fx.cnt) AS BIGINT) AS u
         |        FROM fx JOIN mis$k USING (doc_id) GROUP BY 1),
         |w$k AS (SELECT COALESCE(w.b, u.b) AS b, COALESCE(w.w, 0) + COALESCE(u.u, 0) AS w
         |        FROM w$p w FULL JOIN u$k u ON u.b = w.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH nc AS (SELECT doc_id, source, $nc AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> length(x) > 0)) AS tok
       |        FROM nc),
       |fx AS MATERIALIZED (
       |  SELECT doc_id,
       |         (CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) & 2147483647) % 64 AS b,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2),
       |y AS (SELECT doc_id, CASE WHEN source IN ($tgt) THEN 1 ELSE -1 END AS y
       |      FROM documents),
       |w1 AS (SELECT b, CAST(SUM(y.y * fx.cnt) AS BIGINT) AS w
       |       FROM fx JOIN y USING (doc_id) GROUP BY 1),
       |$later,
       |mf AS (SELECT f.doc_id, CAST(SUM(f.cnt * w4.w) AS BIGINT) AS m
       |       FROM fx f JOIN w4 ON w4.b = f.b GROUP BY 1)
       |SELECT d.doc_id, COALESCE(mf.m, 0) AS margin, COALESCE(mf.m, 0) > 0 AS keep
       |FROM documents d LEFT JOIN mf ON mf.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Positioned 8-gram CTE chain shared by the two exact-substring
    * oracles: every window start (1-based i), md5 of the space-joined
    * window, corpus-wide repeats, gaps-and-islands span merge (Spark's
    * 0-based span_start = i − 1). */
  private val substrCtes: String = {
    val L = 8
    val win = (0 until L).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    s"""norm AS (SELECT doc_id, $normCoalesceSql AS t FROM documents),
       |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
       |idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - ${L - 2})) AS i
       |        FROM toks WHERE len(tk) >= $L),
       |g AS MATERIALIZED (SELECT doc_id, i, md5($win) AS h FROM idx),
       |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
       |ds AS (SELECT doc_id, i FROM g WHERE h IN (SELECT h FROM dup)),
       |isl AS (SELECT doc_id, i,
       |          i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |        FROM ds),
       |sp AS (SELECT doc_id, CAST(MIN(i) - 1 AS BIGINT) AS span_start,
       |         CAST(COUNT(*) + ${L - 1} AS BIGINT) AS span_tokens
       |       FROM isl GROUP BY doc_id, grp)""".stripMargin
  }

  private val substrSpansOracle: String =
    s"""WITH $substrCtes
       |SELECT doc_id, span_start, span_tokens FROM sp
       |ORDER BY doc_id, span_start""".stripMargin

  private val substrScrubOracle: String =
    s"""WITH $substrCtes,
       |pos AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS q FROM toks),
       |kept AS (SELECT p.doc_id, p.q, p.tk[p.q] AS tok FROM pos p
       |         WHERE NOT EXISTS (SELECT 1 FROM sp
       |                           WHERE sp.doc_id = p.doc_id
       |                             AND p.q - 1 >= sp.span_start
       |                             AND p.q - 1 < sp.span_start + sp.span_tokens)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY q) AS clean_text,
       |          CAST(COUNT(*) AS BIGINT) AS kept_tokens
       |        FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |       COALESCE(a.kept_tokens, 0) AS kept_tokens
       |FROM documents d
       |JOIN toks t USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private val tfidfOracle: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(list_filter(string_split(t, ' '), x -> length(x) > 0)) AS token
       |        FROM norm),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score
       |       FROM tf JOIN df USING (token)),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |         ORDER BY score DESC, token) AS rank FROM sc)
       |SELECT doc_id, rank, token, tf, df, score FROM rk WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  private val editPairsOracle: String =
    s"""WITH ${candCtes()},
       |lev AS (SELECT p.doc_a, p.doc_b,
       |          CAST(levenshtein(na.t, nb.t) AS BIGINT) AS edit_distance
       |        FROM pairs p
       |        JOIN norm na ON na.doc_id = p.doc_a
       |        JOIN norm nb ON nb.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, edit_distance FROM lev
       |WHERE edit_distance <= 40
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The SQL-registration gate reuses the curation chain's scoring CTEs
    * (same IEEE-op-for-op trees); unreferenced tail CTEs are pruned by
    * the oracle engine. */
  private val sqlTextOracle: String =
    s"""WITH $curatedCtes
       |SELECT s.doc_id, s.lang_pred, s.quality_score, s.fp AS fingerprint, f.token_count
       |FROM cscore s JOIN cfeat f USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  /** BM25 oracle: same in-row tf/dl over the normalized tokens, same
    * one-row corpus stats, and the score expression written in the exact
    * operand order the Spark plan evaluates (idf quantized to 1e6 after
    * the ln, left-assoc term sum, single final divide). */
  /** BM25 oracle over an arbitrary (doc_id, text) relation — the
    * corpus-scan replay shared by doc_bm25 (`documents`) and the
    * persisted/following text-index gates (the corpus's final state
    * after the gate's mutations). */
  private def bm25OracleOver(corpus: String): String = {
    val idx = Bm25Terms.indices
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n         ")
    val dfCols = idx.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n         ")
    val avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    def idfQ(i: Int) =
      s"CAST(round(1000000.0 * ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))) AS BIGINT)"
    def tfPart(i: Int) =
      s"(CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    // tfPart wrapped as a whole: idfq * ((tf·2.2)/denom), NOT
    // (idfq · tf·2.2)/denom — association changes the last ulp
    val score = idx.map(i => s"CAST(${idfQ(i)} AS DOUBLE) * (${tfPart(i)})").mkString(" + ")
    val anyHit = idx.map(i => s"tf$i").mkString(" + ")
    s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM $corpus),
       |tok AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
       |tf AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
       |         $tfCols
       |       FROM tok),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
       |         $dfCols
       |       FROM tf),
       |sc AS (SELECT doc_id, ($score) / 1000000.0 AS bm25
       |       FROM tf CROSS JOIN st WHERE $anyHit > 0),
       |r AS (SELECT doc_id, bm25,
       |        ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS "rank" FROM sc)
       |SELECT doc_id, bm25, "rank" FROM r WHERE "rank" <= $Bm25K ORDER BY "rank"""".stripMargin
  }

  private val bm25Oracle: String = bm25OracleOver("documents")

  /** PageRank oracle: the same derived link graph and the same 6
    * exact-integer rounds, unrolled as CTEs — floor `//` on positive
    * BIGINTs is Spark's `div`, and the final CAST collapses DuckDB's
    * HUGEINT sum promotion back to the engine's BIGINT. */
  private val pagerankOracle: String = {
    val rounds = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT d.doc_id AS id,
         |  CAST(150000 + (850 * COALESCE(SUM(r${i - 1}.r // ed.deg), 0)) // 1000 AS BIGINT) AS r
         |  FROM documents d
         |  LEFT JOIN ed ON ed.dst = d.doc_id
         |  LEFT JOIN r${i - 1} ON r${i - 1}.id = ed.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
       |e0 AS (SELECT doc_id AS src,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~l' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % nn.n AS dst
       |       FROM documents, range(0, $PrLinks) r(j), nn),
       |e AS (SELECT src, dst FROM e0 WHERE dst <> src),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents),
       |$rounds
       |SELECT id AS doc_id, r AS rank_micro FROM r$PrIters
       |ORDER BY rank_micro DESC, doc_id LIMIT 100""".stripMargin
  }

  /** Final corpus state of txt_bm25_follow: wave-1 survivors keep their
    * text, the MERGE batch (%5==3 inserts ∪ %9==1 re-upserts, incl.
    * resurrections of %7==0 erasures) carries two extra 'vector'
    * tokens. */
  private val bm25FollowOracle: String = bm25OracleOver(
    """(SELECT doc_id, text FROM documents
      |  WHERE doc_id % 5 <> 3 AND doc_id % 7 <> 0 AND doc_id % 9 <> 1
      |  UNION ALL
      |  SELECT doc_id, coalesce(text, '') || ' vector vector' AS text
      |  FROM documents WHERE doc_id % 5 = 3 OR doc_id % 9 = 1) c""".stripMargin)

  /** Final corpus state of txt_bm25_compacted: wave-1 state minus the
    * wave-2 erasure (%11==0) and the wave-2 batch's keys, union the
    * wave-2 batch (%13==2, two extra 'join' tokens). */
  private val bm25CompactedOracle: String = bm25OracleOver(
    """(SELECT doc_id, text FROM documents
      |  WHERE doc_id % 5 <> 3 AND doc_id % 7 <> 0 AND doc_id % 9 <> 1
      |    AND doc_id % 11 <> 0 AND doc_id % 13 <> 2
      |  UNION ALL
      |  SELECT doc_id, coalesce(text, '') || ' vector vector' AS text
      |  FROM documents WHERE (doc_id % 5 = 3 OR doc_id % 9 = 1)
      |    AND doc_id % 11 <> 0 AND doc_id % 13 <> 2
      |  UNION ALL
      |  SELECT doc_id, coalesce(text, '') || ' join join' AS text
      |  FROM documents WHERE doc_id % 13 = 2) c""".stripMargin)

  /** LM-scoring oracle: same normalized token stream, same reference
    * vocab + one-row totals, NLL quantized to micro-nats on the vocab
    * side so the per-doc sums are exact integers. */
  private val lmScoreOracle: String =
    s"""WITH norm AS (SELECT doc_id, lang,
       |  ${normSql.replace("lower(text)", "lower(COALESCE(text, ''))")} AS t FROM documents),
       |ex AS (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS tok FROM norm),
       |vcnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex
       |         WHERE lang = 'en' GROUP BY 1),
       |st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM vcnt),
       |voc AS (SELECT tok,
       |          CAST(round(1000000.0 * (-ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT) AS nllq
       |        FROM vcnt CROSS JOIN st),
       |sc AS (SELECT e.doc_id,
       |         COALESCE(voc.nllq,
       |           CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(total + v AS DOUBLE)))) AS BIGINT)) AS q
       |       FROM ex e LEFT JOIN voc ON voc.tok = e.tok CROSS JOIN st),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |          CAST(SUM(q) AS BIGINT) AS nll_micro FROM sc GROUP BY 1)
       |SELECT doc_id, n_tokens, nll_micro,
       |       CAST(nll_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0 AS avg_nll
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Bigram-LM oracle: in-row pair derivation (1-based list indexing
    * over range(1, len)), per-context add-one smoothing quantized to
    * micro-nats on the model side, exact integer per-doc sums, then the
    * q25-style dyadic-quantile CCNet bucket over the integer average —
    * `//` floor-division matches Spark's `div` on the non-negative
    * sums, and the final CASTs collapse DuckDB's HUGEINT promotions. */
  private val lmBigramOracle: String =
    s"""WITH norm AS (SELECT doc_id, lang, $normCoalesceSql AS t FROM documents),
       |tok AS (SELECT doc_id, lang,
       |          list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM norm),
       |idx AS (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS j
       |        FROM tok WHERE len(tk) >= 2),
       |pairs AS (SELECT doc_id, lang, tk[j] AS prev, tk[j + 1] AS tok FROM idx),
       |pc AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM pairs WHERE lang = 'en' GROUP BY 1, 2),
       |ctx AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS cx FROM pc GROUP BY 1),
       |vs AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
       |         SELECT prev AS t FROM pairs WHERE lang = 'en'
       |         UNION ALL SELECT tok FROM pairs WHERE lang = 'en')),
       |pn AS (SELECT pc.prev, pc.tok,
       |         CAST(round(1000000.0 * (-ln(CAST(pc.cnt + 1 AS DOUBLE) / CAST(ctx.cx + vs.v AS DOUBLE)))) AS BIGINT) AS nllq
       |       FROM pc JOIN ctx USING (prev) CROSS JOIN vs),
       |co AS (SELECT prev,
       |         CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(cx + v AS DOUBLE)))) AS BIGINT) AS oovq
       |       FROM ctx CROSS JOIN vs),
       |sc AS (SELECT p.doc_id,
       |         COALESCE(pn.nllq, co.oovq,
       |           CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(vs.v AS DOUBLE)))) AS BIGINT)) AS q
       |       FROM pairs p
       |       LEFT JOIN pn ON pn.prev = p.prev AND pn.tok = p.tok
       |       LEFT JOIN co ON co.prev = p.prev
       |       CROSS JOIN vs),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |          CAST(SUM(q) AS BIGINT) AS nll_micro FROM sc GROUP BY 1),
       |aq AS (SELECT doc_id, n_bigrams, nll_micro,
       |         CAST((nll_micro // n_bigrams) * 1000000
       |              + ((nll_micro % n_bigrams) * 1000000) // n_bigrams
       |              AS BIGINT) AS avg_q FROM agg),
       |cuts AS (SELECT quantile_cont(avg_q, 0.25) AS p25,
       |                quantile_cont(avg_q, 0.5)  AS p50,
       |                quantile_cont(avg_q, 0.75) AS p75 FROM aq)
       |SELECT doc_id, n_bigrams, nll_micro,
       |       CAST(nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0 AS avg_nll,
       |       CAST(1 + (CASE WHEN avg_q > p25 THEN 1 ELSE 0 END)
       |              + (CASE WHEN avg_q > p50 THEN 1 ELSE 0 END)
       |              + (CASE WHEN avg_q > p75 THEN 1 ELSE 0 END) AS BIGINT) AS ppl_bucket
       |FROM aq CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  /** Gopher-rules oracle: the same in-row integer features from one
    * tokenized scan — 2-gram top count via a correlated max over the
    * gram list, fixed-point divisions with `//` on non-negative
    * integers (= Spark's `div`), flags as plain comparisons. */
  private val gopherRulesOracle: String =
    s"""WITH norm AS (SELECT doc_id, $normCoalesceSql AS t FROM documents),
       |tok AS (SELECT doc_id,
       |          list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM norm),
       |f AS (SELECT doc_id,
       |        CAST(len(tk) AS BIGINT) AS n_words,
       |        CAST(COALESCE((SELECT SUM(len(x)) FROM unnest(tk) u(x)), 0) AS BIGINT) AS sum_len,
       |        CAST((CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END)
       |           + (CASE WHEN list_contains(tk, 'a') THEN 1 ELSE 0 END)
       |           + (CASE WHEN list_contains(tk, 'of') THEN 1 ELSE 0 END)
       |           + (CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END)
       |           + (CASE WHEN list_contains(tk, 'to') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits,
       |        CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
       |        CAST(CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS BIGINT) AS n_grams
       |      FROM tok),
       |gi AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS j
       |       FROM tok WHERE len(tk) >= 2),
       |gc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM gi GROUP BY doc_id, tk[j] || ' ' || tk[j + 1]),
       |tg AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_gram FROM gc GROUP BY 1),
       |ft AS (SELECT f.doc_id, n_words,
       |         CAST(CASE WHEN n_words > 0 THEN (sum_len * 100) // n_words ELSE 0 END AS BIGINT) AS mean_len_x100,
       |         stop_hits,
       |         CAST(CASE WHEN n_words > 0 THEN (alpha_words * 1000000) // n_words ELSE 1000000 END AS BIGINT) AS alpha_ppm,
       |         CAST(CASE WHEN n_grams > 0 THEN (COALESCE(tg.top_gram, 0) * 1000000) // n_grams ELSE 0 END AS BIGINT) AS rep_ppm
       |       FROM f LEFT JOIN tg ON tg.doc_id = f.doc_id)
       |SELECT doc_id, n_words, mean_len_x100, stop_hits, alpha_ppm, rep_ppm,
       |       (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       |       (mean_len_x100 >= 300 AND mean_len_x100 <= 1000) AS r_mean_len,
       |       (stop_hits >= 2) AS r_stopwords,
       |       (alpha_ppm >= 800000) AS r_alpha,
       |       (rep_ppm <= 200000) AS r_repetition,
       |       ((n_words >= 50 AND n_words <= 100000)
       |        AND (mean_len_x100 >= 300 AND mean_len_x100 <= 1000)
       |        AND (stop_hits >= 2) AND (alpha_ppm >= 800000)
       |        AND (rep_ppm <= 200000)) AS verdict
       |FROM ft ORDER BY doc_id""".stripMargin

  /** DSIR oracle: one tokenized stream, raw + target vocab counts, the
    * per-token (raw − target) NLL delta quantized to micro-nats, exact
    * per-doc integer sums, then the two-stage-quantized Gumbel key and
    * the ROW_NUMBER top-k — every transcendental evaluated on an exact
    * rational and quantized immediately, same contract as the Spark
    * side. */
  private val dsirOracle: String = {
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    s"""WITH norm AS (SELECT doc_id, source,
       |  ${normSql.replace("lower(text)", "lower(COALESCE(text, ''))")} AS t FROM documents),
       |ex AS (SELECT doc_id, source, unnest(string_split(t, ' ')) AS tok FROM norm),
       |vr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS rc FROM ex GROUP BY 1),
       |vt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc FROM ex
       |       WHERE source IN ($tgt) GROUP BY 1),
       |sr AS (SELECT CAST(SUM(rc) AS BIGINT) AS rtotal, CAST(COUNT(*) AS BIGINT) AS rv FROM vr),
       |st AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttotal, CAST(COUNT(*) AS BIGINT) AS tv FROM vt),
       |voc AS (SELECT vr.tok,
       |    CAST(round(1000000.0 * (-ln(CAST(vr.rc + 1 AS DOUBLE) / CAST(sr.rtotal + sr.rv AS DOUBLE)))) AS BIGINT)
       |  - COALESCE(
       |      CAST(round(1000000.0 * (-ln(CAST(vt.tc + 1 AS DOUBLE) / CAST(st.ttotal + st.tv AS DOUBLE)))) AS BIGINT),
       |      CAST(round(1000000.0 * (-ln(CAST(1 AS DOUBLE) / CAST(st.ttotal + st.tv AS DOUBLE)))) AS BIGINT)) AS delta
       |  FROM vr LEFT JOIN vt USING (tok) CROSS JOIN sr CROSS JOIN st),
       |sc AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(voc.delta) AS BIGINT) AS lr_micro
       |       FROM ex e JOIN voc ON voc.tok = e.tok GROUP BY 1),
       |g AS (SELECT doc_id, n_tokens, lr_micro,
       |        lr_micro + CAST(round(1000000.0 * (-ln(
       |          CAST(GREATEST(CAST(round(1000000000.0 * (-ln(
       |            (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~g'), 1, 12) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |            / CAST(281474976710656 AS DOUBLE)))) AS BIGINT), 1) AS DOUBLE)
       |          / CAST(1000000000 AS DOUBLE)))) AS BIGINT) AS key_micro
       |      FROM sc),
       |r AS (SELECT doc_id, n_tokens, lr_micro, key_micro,
       |        ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS "rank" FROM g)
       |SELECT doc_id, n_tokens, lr_micro, key_micro, "rank" FROM r
       |WHERE "rank" <= $DsirK ORDER BY "rank"""".stripMargin
  }

  /** Novelty oracle: the shared shingle CTEs, one (count, min-owner)
    * aggregate per shingle, singleton side re-aggregated per owner. */
  private val noveltyOracle: String =
    s"""WITH ${shingleCtes()},
       |dfr AS (SELECT shingle, COUNT(*) AS dfn, MIN(doc_id) AS owner FROM sh GROUP BY 1),
       |uniq AS (SELECT owner AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique
       |         FROM dfr WHERE dfn = 1 GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(t.n_shingles, 0) AS n_shingles,
       |  COALESCE(u.n_unique, 0) AS n_unique,
       |  CASE WHEN COALESCE(t.n_shingles, 0) > 0
       |       THEN CAST(COALESCE(u.n_unique, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |       ELSE CAST(0.0 AS DOUBLE) END AS novelty
       |FROM documents d
       |LEFT JOIN tot t ON t.doc_id = d.doc_id
       |LEFT JOIN uniq u ON u.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** BPE oracle: `BpeMerges` chained rounds. Each round: 1-based
    * adjacent-pair explode over the space-joined symbol sequences,
    * word-count-weighted sums, argmax with the pair-string tie-break,
    * then the CANONICAL left-to-right non-overlapping merge as a
    * recursive leftmost-replace to fixpoint — equivalent to the Spark
    * fold because a fused LR can never recreate the " L R " pattern.
    * Every chained CTE is MATERIALIZED: each round references its
    * predecessor several times, and without the hint DuckDB re-inlines
    * the whole upstream chain per reference — measured 512 s for the
    * 8-round query vs ~1 s materialized. */
  private val bpeOracle: String = {
    val rounds = (1 to BpeMerges).map { r =>
      def pos(s: String) = s"position(' ' || b.pair || ' ' IN $s)"
      s"""p$r AS MATERIALIZED (SELECT tk[i] || ' ' || tk[i+1] AS pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
         |  FROM (SELECT cnt, string_split(seq, ' ') AS tk,
         |          unnest(range(1, len(string_split(seq, ' ')))) AS i
         |        FROM w${r - 1})
         |  GROUP BY 1),
         |best$r AS MATERIALIZED (SELECT pair, pair_count, CAST($r AS BIGINT) AS merge_rank
         |  FROM p$r ORDER BY pair_count DESC, pair LIMIT 1),
         |rec$r(word, cnt, s) AS (
         |  SELECT word, cnt, ' ' || seq || ' ' FROM w${r - 1}
         |  UNION ALL
         |  SELECT r.word, r.cnt,
         |    substr(r.s, 1, ${pos("r.s")}) || replace(b.pair, ' ', '') ||
         |      substr(r.s, ${pos("r.s")} + 1 + length(b.pair))
         |  FROM rec$r r CROSS JOIN best$r b
         |  WHERE ${pos("r.s")} > 0),
         |w$r AS MATERIALIZED (SELECT word, cnt, trim(s) AS seq
         |  FROM rec$r CROSS JOIN best$r b WHERE ${pos("s")} = 0)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeMerges).map(r => s"SELECT * FROM best$r").mkString(" UNION ALL ")
    s"""WITH RECURSIVE norm AS (SELECT $normSql AS t FROM documents),
       |tok AS (SELECT unnest(string_split(t, ' ')) AS w FROM norm),
       |vocab AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
       |          WHERE length(w) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w AS word, cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq FROM vocab),
       |$rounds
       |SELECT merge_rank, pair, replace(pair, ' ', '') AS merged, pair_count
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  /** Segmentation oracle: the training replay's final w-state. */
  private val bpeSegmentsOracle: String = {
    val base = bpeOracle
    val cut = base.lastIndexOf("SELECT merge_rank")
    base.substring(0, cut) +
      s"""SELECT word, cnt AS n_occurrences, seq AS segmentation
         |FROM w$BpeMerges ORDER BY word""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "doc_bpe_segments" -> bpeSegmentsOracle,
    "doc_bpe_merges" -> bpeOracle,
    "doc_novelty" -> noveltyOracle,
    "doc_lm_score" -> lmScoreOracle,
    "doc_lm_bigram" -> lmBigramOracle,
    "doc_lm_bigram_stored" -> lmBigramOracle, // stored pair table == inline train
    "doc_gopher_rules" -> gopherRulesOracle,
    "doc_dsir" -> dsirOracle,
    "doc_bm25" -> bm25Oracle,
    "txt_bm25_persisted" -> bm25Oracle, // identical ranking from the stored index
    "txt_bm25_incremental" -> bm25Oracle, // append-then-serve == full rebuild
    "txt_bm25_follow" -> bm25FollowOracle, // base+delta == rebuild on final state
    "txt_bm25_compacted" -> bm25CompactedOracle, // fold + cursor handoff == final state
    "doc_pagerank" -> pagerankOracle,
    "doc_curate" -> curateOracle,
    "doc_prepare_training" -> prepareTrainingOracle,
    "doc_curate_v2" -> curateV2Oracle,
    "doc_curate_v3" -> curateV3Oracle,
    "doc_curate_incremental" -> curateIncrementalOracle,
    "doc_curate_incremental_stored" -> curateIncrementalOracle, // stored artifacts == in-memory

    "doc_substr_spans" -> substrSpansOracle,
    "doc_substr_scrub" -> substrScrubOracle,
    "doc_quality_classifier" -> qualityClassifierOracle,
    "doc_tfidf" -> tfidfOracle,
    "doc_edit_pairs" -> editPairsOracle,
    "doc_sql_text" -> sqlTextOracle,
    "doc_quality" -> qualityOracle,
    "doc_lang_id" -> langIdOracle,
    "doc_dedupe_exact" ->
      s"""SELECT md5($normSql) AS fingerprint,
         |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "doc_minhash_pairs" -> minhashOracle,
    "doc_containment_pairs" -> containmentOracle,
    "doc_jaccard_join" -> jaccardJoinOracle,
    "doc_jaccard_join_scaled" -> jaccardJoinOracleFor(4L, 5L, 8L),
    "doc_dedupe_incremental" -> dedupeIncrementalOracle,
    "doc_dup_clusters" -> dupClustersOracle,
    "doc_dedupe_keep_best" -> dedupeKeepBestOracle,
    "doc_mixture_sample" -> mixtureSampleOracle,
    "doc_dedup_corpus" ->
      s"""WITH RECURSIVE ${pairCtes()},
         |jp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= CAST(0.5 AS DOUBLE)),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
         |      UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach(id, r) AS (
         |  SELECT u, u FROM e
         |  UNION
         |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r),
         |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         |ORDER BY d.doc_id""".stripMargin,
    "doc_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |ORDER BY doc_id""".stripMargin,
    "doc_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) <
        |      CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 256 ELSE 128 END
        |ORDER BY doc_id""".stripMargin,
    "doc_orc" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |       CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes_total
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "doc_weighted_sample" -> {
      val alpha = "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
      val w = s"""CASE WHEN length(text) > 0
                 |       THEN CAST($alpha AS DOUBLE) / length(text)
                 |       ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
      s"""SELECT doc_id, $w AS keep_p FROM documents
         |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~w'), 1, 8) AS BIGINT) AS DOUBLE)
         |      < least(greatest($w, 0.0), 1.0) * 4294967296.0
         |ORDER BY doc_id""".stripMargin
    },
    "doc_splits" ->
      """SELECT doc_id, lang,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 240
        |         THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 248
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_shuffle_batches" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents
        |), idx AS (
        |  SELECT doc_id, shuffle_key,
        |         ROW_NUMBER() OVER (ORDER BY shuffle_key) - 1 AS shuffle_idx
        |  FROM keyed
        |)
        |SELECT doc_id, shuffle_key, shuffle_idx, shuffle_idx // 100 AS batch
        |FROM idx ORDER BY shuffle_idx""".stripMargin,
    "doc_decontam" ->
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
         |idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 3),
         |grams AS (SELECT DISTINCT doc_id, md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g FROM idx),
         |bench AS (SELECT DISTINCT g FROM grams
         |          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10'),
         |hits AS (SELECT g.doc_id, COUNT(*) AS hits
         |         FROM grams g JOIN bench b ON g.g = b.g
         |         WHERE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 2) >= '10'
         |         GROUP BY 1)
         |SELECT doc_id, hits FROM hits WHERE hits >= 8
         |ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
         |idx AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2),
         |grams AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g FROM idx),
         |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
         |rep AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_gram_count,
         |               CAST(SUM(c) AS BIGINT) AS total_grams FROM cnt GROUP BY 1)
         |SELECT doc_id, top_gram_count, total_grams,
         |       CAST(len(list_distinct(tk)) AS BIGINT) AS distinct_tokens,
         |       CAST(len(tk) AS BIGINT) AS total_tokens,
         |       (top_gram_count * 1000000) // total_grams AS rep_ppm
         |FROM rep JOIN toks USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "doc_drift_ks" ->
      """WITH u AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
        |         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS ib
        |       FROM documents),
        |st AS (SELECT MIN(v) AS mn, MAX(v) AS mx,
        |         CAST(SUM(ia) AS BIGINT) AS na, CAST(SUM(ib) AS BIGINT) AS nb FROM u),
        |bc AS (SELECT ((v - mn) * 64) // (mx - mn + 1) AS bin,
        |         CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
        |       FROM u CROSS JOIN st GROUP BY 1),
        |cum AS (SELECT bin,
        |         CAST(SUM(ca) OVER (ORDER BY bin) AS BIGINT) AS cuma,
        |         CAST(SUM(cb) OVER (ORDER BY bin) AS BIGINT) AS cumb FROM bc),
        |ds AS (SELECT bin, ABS(cuma * nb - cumb * na) AS d FROM cum CROSS JOIN st),
        |best AS (SELECT bin, CAST(d AS BIGINT) AS d,
        |           ROW_NUMBER() OVER (ORDER BY d DESC, bin) AS rn FROM ds)
        |SELECT st.na AS n_a, st.nb AS n_b, b.d AS d_scaled, b.bin AS drift_bin,
        |       CASE WHEN st.na > 0 AND st.nb > 0
        |            THEN CAST(b.d AS DOUBLE) / (CAST(st.na AS DOUBLE) * CAST(st.nb AS DOUBLE))
        |       END AS ks
        |FROM best b CROSS JOIN st WHERE b.rn = 1""".stripMargin,
    "doc_lang_trained" ->
      """WITH lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |g AS (SELECT doc_id, lang, substr(t, CAST(i AS BIGINT), 3) AS gram
        |      FROM lt, unnest(range(1, length(t) - 1)) AS u(i)),
        |pc AS (SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        |prof AS (SELECT lang, gram, rnk FROM (
        |           SELECT lang, gram,
        |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS rnk
        |           FROM pc) WHERE rnk <= 64),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |dc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        |dprof AS (SELECT doc_id, gram, drank FROM (
        |            SELECT doc_id, gram,
        |                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS drank
        |            FROM dc) WHERE drank <= 64),
        |dist AS (SELECT d.doc_id, l.lang,
        |           CAST(SUM(COALESCE(ABS(d.drank - p.rnk), 64)) AS BIGINT) AS dist
        |         FROM dprof d CROSS JOIN langs l
        |         LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
        |         GROUP BY 1, 2),
        |best AS (SELECT doc_id, lang AS lang_pred, dist,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
        |         FROM dist)
        |SELECT b.doc_id, doc.lang, b.lang_pred, b.dist
        |FROM best b JOIN documents doc ON doc.doc_id = b.doc_id
        |WHERE b.rn = 1 ORDER BY b.doc_id""".stripMargin,
    "doc_entropy" ->
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |toks AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
         |sizes AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
         |            CAST(len(list_distinct(tk)) AS BIGINT) AS d
         |          FROM toks WHERE len(tk) >= 1),
         |ex AS (SELECT doc_id, unnest(tk) AS tok FROM toks WHERE len(tk) >= 1),
         |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY 1, 2),
         |agg AS (SELECT cnt.doc_id,
         |          CAST(SUM(c * CAST(round(1000000.0 * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s
         |        FROM cnt JOIN sizes ON sizes.doc_id = cnt.doc_id GROUP BY 1)
         |SELECT agg.doc_id, n AS total_tokens, d AS distinct_tokens,
         |       s AS entropy_sum_micro, s // n AS entropy_micro,
         |       (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS entropy
         |FROM agg JOIN sizes ON sizes.doc_id = agg.doc_id
         |ORDER BY agg.doc_id""".stripMargin,
    "doc_pack" ->
      """WITH keyed AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
        |         md5(CAST(doc_id AS VARCHAR)) AS pack_key
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, token_count, pack_key,
        |         CAST(COALESCE(SUM(token_count) OVER (ORDER BY pack_key
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
        |  FROM keyed
        |)
        |SELECT doc_id, token_count, pack_key, token_start,
        |       token_start // 2048 AS seq_id
        |FROM c ORDER BY token_start""".stripMargin,
    "doc_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\+?\d[\d() -]{6,}\d', '<NUM>', 'g') AS red
        |  FROM documents
        |)
        |SELECT doc_id, md5(red) AS redacted_fp, red <> text AS changed
        |FROM r ORDER BY doc_id""".stripMargin,
    "doc_collocations" ->
      s"""WITH norm AS (SELECT $normCoalesceSql AS t FROM documents),
         |tok AS (SELECT list_filter(string_split(t, ' '), x -> length(x) > 0) AS tk FROM norm),
         |big AS (
         |  SELECT tk[CAST(i AS BIGINT)] AS w1, tk[CAST(i + 1 AS BIGINT)] AS w2
         |  FROM (SELECT tk, unnest(range(1, length(tk))) AS i
         |        FROM tok WHERE length(tk) >= 2)
         |), bc AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM big GROUP BY 1, 2
         |), uc AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
         |  FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1
         |), tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM bc)
         |SELECT bc.w1, bc.w2, bc.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2, n_total,
         |       (CAST(bc.n_pair AS DOUBLE) * CAST(n_total AS DOUBLE))
         |         / (CAST(u1.n_w AS DOUBLE) * CAST(u2.n_w AS DOUBLE)) AS lift
         |FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2
         |CROSS JOIN tot
         |WHERE bc.n_pair >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,
    "doc_vocab" ->
      s"""WITH norm AS (SELECT $normSql AS t FROM documents),
         |tok AS (SELECT unnest(list_filter(string_split(t, ' '), x -> length(x) > 0)) AS token
         |        FROM norm)
         |SELECT token, COUNT(*) AS n_occurrences
         |FROM tok GROUP BY 1
         |ORDER BY n_occurrences DESC, token LIMIT 200""".stripMargin,
    "doc_simhash" -> simhashOracle,
    "doc_simhash_pairs" -> simhashPairsOracle,
    "doc_simhash64_pairs" -> simhash64PairsOracle,
    "doc_winnow" -> winnowOracle,
    "doc_winnow_pairs" -> winnowPairsOracle,
    "doc_chunks" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, text, unnest(range(0, CAST(length(text) AS BIGINT), 448)) AS st
        |      FROM d)
        |SELECT doc_id,
        |       CAST(st // 448 AS BIGINT) AS chunk_id,
        |       CAST(st AS BIGINT) AS chunk_start,
        |       substr(text, CAST(st + 1 AS BIGINT), 512) AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_jsonl" ->
      """SELECT doc_id, lang, CAST(strlen(text) AS BIGINT) AS text_bytes
        |FROM documents WHERE doc_id % 50 <> 0
        |UNION ALL
        |SELECT NULL AS doc_id, '__corrupt__' AS lang,
        |       (SELECT COUNT(*) FROM documents WHERE doc_id % 50 = 0) AS text_bytes
        |ORDER BY doc_id""".stripMargin,
    "mm_blob_stats" ->
      """SELECT doc_id, 'text' AS kind,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |       sha256(text) AS sha256,
        |       substr(sha256(text), 1, 8) AS feature_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_stats" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~p' || CAST(j // 16 AS VARCHAR)),
        |                             (j % 16) * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 48) r(j)),
        |s AS (SELECT doc_id,
        |        CAST(SUM(CASE WHEN j % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
        |        CAST(SUM(CASE WHEN j % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
        |        CAST(SUM(CASE WHEN j % 3 = 2 THEN v END) AS BIGINT) AS sum_b
        |      FROM b GROUP BY 1)
        |SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       sum_r, sum_g, sum_b,
        |       CAST(sum_r AS DOUBLE) / CAST(16 AS DOUBLE) AS mean_r,
        |       CAST(sum_g AS DOUBLE) / CAST(16 AS DOUBLE) AS mean_g,
        |       CAST(sum_b AS DOUBLE) / CAST(16 AS DOUBLE) AS mean_b
        |FROM s ORDER BY doc_id""".stripMargin,
    // resize keeps source pixels p ∈ {0,2,8,10} (floor-NN 4×4→2×2);
    // pixel p's channel c lives at byte j = 3p + c of the md5 stream
    "mm_image_resize" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~p' || CAST(j // 16 AS VARCHAR)),
        |                             (j % 16) * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 48) r(j)
        |  WHERE j // 3 IN (0, 2, 8, 10)),
        |s AS (SELECT doc_id,
        |        CAST(SUM(CASE WHEN j % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
        |        CAST(SUM(CASE WHEN j % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
        |        CAST(SUM(CASE WHEN j % 3 = 2 THEN v END) AS BIGINT) AS sum_b
        |      FROM b GROUP BY 1)
        |SELECT doc_id, CAST(2 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |       sum_r, sum_g, sum_b,
        |       CAST(sum_r AS DOUBLE) / CAST(4 AS DOUBLE) AS mean_r,
        |       CAST(sum_g AS DOUBLE) / CAST(4 AS DOUBLE) AS mean_g,
        |       CAST(sum_b AS DOUBLE) / CAST(4 AS DOUBLE) AS mean_b
        |FROM s ORDER BY doc_id""".stripMargin,
    "mm_audio_stats" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~a' || CAST(j // 16 AS VARCHAR)),
        |                             (j % 16) * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 48) r(j)),
        |s AS (SELECT doc_id, CAST(j // 2 AS BIGINT) AS k,
        |        SUM(CASE WHEN j % 2 = 0 THEN v ELSE 256 * v END) AS raw
        |      FROM b GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(k % 2 AS BIGINT) AS channel,
        |          CAST(SUM(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END) AS BIGINT) AS sum_samples
        |        FROM s GROUP BY 1, 2)
        |SELECT doc_id, channel, CAST(8000 AS BIGINT) AS sample_rate_hz,
        |       CAST(12 AS BIGINT) AS n_frames, sum_samples,
        |       CAST(sum_samples AS DOUBLE) / CAST(12 AS DOUBLE) AS mean_sample
        |FROM agg ORDER BY doc_id, channel""".stripMargin,
    // resample keeps frames {0,2,4,6,8,10} (floor pick src = f·2);
    // sample index k = frame·2 + channel, so kept ⇔ (k//2) % 2 = 0
    "mm_audio_resample" ->
      """WITH b AS (
        |  SELECT doc_id, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~a' || CAST(j // 16 AS VARCHAR)),
        |                             (j % 16) * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 48) r(j)),
        |s AS (SELECT doc_id, CAST(j // 2 AS BIGINT) AS k,
        |        SUM(CASE WHEN j % 2 = 0 THEN v ELSE 256 * v END) AS raw
        |      FROM b GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(k % 2 AS BIGINT) AS channel,
        |          CAST(SUM(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END) AS BIGINT) AS sum_samples
        |        FROM s WHERE (k // 2) % 2 = 0 GROUP BY 1, 2)
        |SELECT doc_id, channel, CAST(4000 AS BIGINT) AS sample_rate_hz,
        |       CAST(6 AS BIGINT) AS n_frames, sum_samples,
        |       CAST(sum_samples AS DOUBLE) / CAST(6 AS DOUBLE) AS mean_sample
        |FROM agg ORDER BY doc_id, channel""".stripMargin,
    // stride-2 sampling keeps frames {0, 2}; gray pixels decode to
    // r = g = b = the palette byte
    "mm_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, k, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~f' || CAST(k AS VARCHAR)),
        |                             j * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 4) fr(k), range(0, 16) px(j)
        |  WHERE k % 2 = 0)
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(v) AS BIGINT) AS sum_g,
        |       CAST(SUM(v) AS BIGINT) AS sum_b
        |FROM b GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_media_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'gif' END
        |    AS container,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(2 + doc_id % 7 AS BIGINT)
        |       WHEN doc_id % 3 = 2 THEN CAST(2 + doc_id % 6 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(2 + doc_id % 5 AS BIGINT)
        |       WHEN doc_id % 3 = 2 THEN CAST(2 + doc_id % 4 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(1 AS BIGINT)
        |       WHEN doc_id % 3 = 1 THEN CAST(12 + doc_id % 6 AS BIGINT)
        |       ELSE CAST(1 + doc_id % 5 AS BIGINT) END AS n_frames,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) END
        |    AS sample_rate_hz
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_video_stats" ->
      """WITH b AS (
        |  SELECT doc_id, k, j,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~f' || CAST(k AS VARCHAR)),
        |                             j * 2 + 1, 2) AS BIGINT) AS v
        |  FROM documents, range(0, 4) fr(k), range(0, 16) px(j))
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(SUM(v) AS BIGINT) AS sum_gray,
        |       CAST(SUM(v) AS DOUBLE) / CAST(16 AS DOUBLE) AS mean_gray
        |FROM b GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin,
    // the oracle derives pixels, luminance, the 8×8 average-hash, the
    // (lossless ≤5) 8-band candidate front and exact Hamming entirely
    // from md5 hex pairs — it never sees an image; the Spark side must
    // reproduce it through a real BMP encode → JDK decode round-trip
    "mm_phash_pairs" ->
      """WITH px AS (
        |  SELECT d.doc_id, j,
        |    CAST('0x' || substr(md5('g' || CAST(doc_id // 4 AS VARCHAR) || '~i' || CAST(j // 16 AS VARCHAR)),
        |                        (j % 16) * 2 + 1, 2) AS BIGINT) AS base
        |  FROM documents d, range(0, 64) r(j)),
        |pert AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~px'), 1, 2) AS BIGINT) % 64 AS p,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '~pv'), 1, 2) AS BIGINT) AS v
        |  FROM documents),
        |lum AS (SELECT px.doc_id, j, 3 * (CASE WHEN j = pe.p THEN pe.v ELSE base END) AS l
        |        FROM px JOIN pert pe ON pe.doc_id = px.doc_id),
        |m AS (SELECT doc_id, CAST(SUM(l) // 64 AS BIGINT) AS mean FROM lum GROUP BY 1),
        |ph AS (SELECT l.doc_id,
        |         CAST(SUM(CASE WHEN l.l <= m.mean THEN 0
        |                       WHEN l.j = 63 THEN (-9223372036854775807 - 1)
        |                       ELSE (CAST(1 AS BIGINT) << l.j) END) AS BIGINT) AS phash
        |       FROM lum l JOIN m ON m.doc_id = l.doc_id GROUP BY 1),
        |bd AS (SELECT doc_id, phash, band, (phash >> (band * 8)) & 255 AS band_val
        |       FROM ph, range(0, 8) r(band)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.phash AS pa,
        |                b.doc_id AS doc_b, b.phash AS pb
        |         FROM bd a JOIN bd b
        |           ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_collocations" -> docCollocations _,
    "doc_bpe_segments" -> docBpeSegments _,
    "doc_bpe_merges" -> docBpeMerges _,
    "doc_novelty" -> docNovelty _,
    "doc_lm_score" -> docLmScore _,
    "doc_lm_bigram" -> docLmBigram _,
    "doc_lm_bigram_stored" -> docLmBigramStored _,
    "doc_gopher_rules" -> docGopherRules _,
    "doc_dsir" -> docDsir _,
    "doc_bm25" -> docBm25 _,
    "txt_bm25_persisted" -> txtBm25Persisted _,
    "txt_bm25_incremental" -> txtBm25Incremental _,
    "txt_bm25_follow" -> txtBm25Follow _,
    "txt_bm25_compacted" -> txtBm25Compacted _,
    "doc_pagerank" -> docPagerank _,
    "doc_curate" -> docCurate _,
    "doc_prepare_training" -> docPrepareTraining _,
    "doc_curate_v2" -> docCurateV2 _,
    "doc_curate_v3" -> docCurateV3 _,
    "doc_curate_incremental" -> docCurateIncremental _,
    "doc_curate_incremental_stored" -> docCurateIncrementalStored _,
    "doc_substr_spans" -> docSubstrSpans _,
    "doc_substr_scrub" -> docSubstrScrub _,
    "doc_quality_classifier" -> docQualityClassifier _,
    "doc_tfidf" -> docTfidf _,
    "doc_edit_pairs" -> docEditPairs _,
    "doc_sql_text" -> docSqlText _,
    "doc_quality" -> docQuality _,
    "doc_lang_id" -> docLangId _,
    "doc_dedupe_exact" -> docDedupeExact _,
    "doc_minhash_pairs" -> docMinhashPairs _,
    "doc_containment_pairs" -> docContainmentPairs _,
    "doc_jaccard_join" -> docJaccardJoin _,
    "doc_jaccard_join_scaled" -> docJaccardJoinScaled _,
    "doc_dedupe_incremental" -> docDedupeIncremental _,
    "doc_dup_clusters" -> docDupClusters _,
    "doc_dedupe_keep_best" -> docDedupeKeepBest _,
    "doc_mixture_sample" -> docMixtureSample _,
    "doc_dedup_corpus" -> docDedupCorpus _,
    "doc_hash_sample" -> docHashSample _,
    "doc_stratified_sample" -> docStratifiedSample _,
    "doc_orc" -> docOrc _,
    "doc_weighted_sample" -> docWeightedSample _,
    "doc_splits" -> docSplits _,
    "doc_shuffle_batches" -> docShuffleBatches _,
    "doc_decontam" -> docDecontam _,
    "doc_pack" -> docPack _,
    "doc_redact" -> docRedact _,
    "doc_repetition" -> docRepetition _,
    "doc_vocab" -> docVocab _,
    "doc_simhash" -> docSimhash _,
    "doc_simhash_pairs" -> docSimhashPairs _,
    "doc_simhash64_pairs" -> docSimhash64Pairs _,
    "doc_winnow" -> docWinnow _,
    "doc_winnow_pairs" -> docWinnowPairs _,
    "doc_entropy" -> docEntropy _,
    "doc_lang_trained" -> docLangTrained _,
    "doc_drift_ks" -> docDriftKs _,
    "doc_jsonl" -> docJsonl _,
    "doc_chunks" -> docChunks _,
    "mm_blob_stats" -> mmBlobStats _,
    "mm_image_stats" -> mmImageStats _,
    "mm_image_resize" -> mmImageResize _,
    "mm_audio_stats" -> mmAudioStats _,
    "mm_video_stats" -> mmVideoStats _,
    "mm_audio_resample" -> mmAudioResample _,
    "mm_frame_sample" -> mmFrameSample _,
    "mm_media_meta" -> mmMediaMeta _,
    "mm_phash_pairs" -> mmPhashPairs _,
  )
}
