package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{Ann, AnnIndex, IndexFamily, IndexLifecycle, Par}
import graft.operators.AnnIndex.Probe

/** Similarity-search queries over the `embeddings` table (ARRAY<FLOAT>,
  * 64-dim): brute-force cosine top-k as the exactness baseline, the
  * LSH-bucketed variant as the 100 TB path, embedding-cosine near-dup
  * pairs, and per-label centroids (the IVF coarse quantizer).
  *
  * All scoring runs on quantized integers (see [[Ann]]), so the DuckDB
  * oracles reproduce the exact same doubles; the hyperplane constants are
  * embedded as literals in BOTH the Spark plan and the oracle SQL from the
  * same [[Ann.hashPlanes]] array.
  */
object VectorQueries {

  /** 4 hyperplanes → 16 buckets: ~N/16 candidates per probe. */
  val Planes: Array[Array[Long]] = Ann.hashPlanes(nPlanes = 4, dim = 64)

  private val ProbeMax = 10
  private val K = 5

  private lazy val LshIndex = AnnIndex.lsh("vec_id", "embedding", Planes)
  private lazy val IvfIndex = AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2)
  private lazy val PqIndex = AnnIndex.pq("vec_id", "embedding", PqDim, PqM, PqK, PqIters)
  private lazy val Sq8Index = AnnIndex.sq8("vec_id", "embedding", Sq8Refine)
  private lazy val BqIndex = AnnIndex.bq("vec_id", "embedding", BqRefine)

  /** The gates' probe set; the PQ, SQ8 and BQ serves draw it (and their
    * exact-refine rows) from a collection. */
  private lazy val Probes = Probe(col("vec_id") < ProbeMax, K)
  private def withColl(coll: DataFrame) = Probes.copy(coll = Some(coll))
  private def pqProbes(emb: DataFrame) = Probe(col("vec_id") < PqProbeMax, K, Some(emb))

  /** A persisted (or, with `incremental`, build-then-append) gate over
    * the embeddings — [[IndexScenario.persisted]]. */
  private def persistedGate(spark: SparkSession, dir: String, kind: String,
      f: IndexFamily[Probe], request: DataFrame => Probe,
      incremental: Boolean = false): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    IndexScenario.persisted(spark, dir, kind, f, emb, request(emb), incremental)
      .orderBy("probe_id", "rank")
  }

  /** A follow or compacted gate over the embeddings; the vector families
    * re-upsert rows unchanged — [[IndexScenario.follow]]. */
  private def followGate(spark: SparkSession, dir: String, scratch: String,
      f: IndexFamily[Probe], compacted: Boolean,
      request: (=> DataFrame) => Probe): DataFrame =
    IndexScenario.follow(spark, dir, scratch, f, Tables.embeddings(spark, dir), "emb",
        compacted, request)
      .orderBy("probe_id", "rank")

  def embKnnBrute(spark: SparkSession, dir: String): DataFrame =
    Ann.knnBrute(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < ProbeMax, K)
      .orderBy("probe_id", "rank")

  def embKnnLsh(spark: SparkSession, dir: String): DataFrame =
    Ann.knnLsh(Tables.embeddings(spark, dir), "vec_id", "embedding",
        Planes, col("vec_id") < ProbeMax, K)
      .orderBy("probe_id", "rank")

  /** RP output dimensions: 64 → 16 is the 4× JL shrink. */
  private val RpDim = 16

  /** emb_knn_rp — brute-force top-k in the JOHNSON-LINDENSTRAUSS
    * projected space (graft.operators.Ann.randomProject: Achlioptas ±1
    * signs, exact integer sums): the dimensionality-REDUCTION
    * preprocessing move, orthogonal to the index families — at 100 TB a
    * 64→16 projection shrinks every downstream scan's bytes and
    * per-pair dot cost 4× before any index is even built, and the
    * matrix is code (a Knuth hash), never trained or stored state. The
    * gate searches the projected space itself, so it measures exactly
    * what the sketch preserves; its recall against the exact-space
    * brute search rides in emb_recall beside the index families. */
  def embKnnRp(spark: SparkSession, dir: String): DataFrame =
    Ann.knnBruteQ(
        Ann.randomProject(Tables.embeddings(spark, dir), "vec_id", "embedding",
          dimOut = RpDim, dimIn = 64),
        "vec_id", "rp", col("vec_id") < ProbeMax, K)
      .orderBy("probe_id", "rank")

  /** SQ8 refine factor: stage 1 keeps refine·K candidates per probe by
    * the quantized surrogate score before the exact re-rank. */
  private val Sq8Refine = 2

  /** emb_knn_sq8_incremental — INCREMENTAL SQ8 maintenance gate: the
    * quantizer params train once over the corpus, the collection
    * arrives in two ingests and the second APPENDS its byte codes
    * through the frozen stored params; serving the appended index is
    * hash-identical to the one-shot build (same oracle as emb_knn_sq8). */
  def embKnnSq8Incremental(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annsq8inc", Sq8Index, withColl, incremental = true)

  /** emb_knn_sq8 — 8-bit scalar-quantized compressed scan + exact
    * refine (Ann.knnSq8): per-dim trained min/max, integer asymmetric
    * scoring against the 255-scaled reconstruction, top-(refine·k)
    * survivors re-ranked by exact cosine. */
  def embKnnSq8(spark: SparkSession, dir: String): DataFrame =
    Ann.knnSq8(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < ProbeMax, K, Sq8Refine)
      .orderBy("probe_id", "rank")

  private val BqRefine = 4

  /** emb_knn_bq — 1-BIT binary-quantized top-k (Ann.knnBq): sign codes
    * against trained per-dim thresholds packed into 32-bit words,
    * symmetric Hamming scan (integer popcount — bit-reproducible),
    * exact-cosine refine of the top 4·k. The smallest index-family
    * member: 1 bit/dim where SQ8 pays 8 and the quantized longs 64. */
  def embKnnBq(spark: SparkSession, dir: String): DataFrame =
    Ann.knnBq(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < ProbeMax, K, BqRefine)
      .orderBy("probe_id", "rank")

  /** emb_knn_bq_persisted — the same BQ search served from PERSISTED
    * code words + thresholds: no corpus encode at query time, probes
    * encode through one broadcast param row. Shares emb_knn_bq's oracle. */
  def embKnnBqPersisted(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annbq", BqIndex, withColl)

  /** emb_knn_bq_incremental — O(batch) BQ maintenance: build on a
    * slice with full-corpus-trained thresholds, append the rest through
    * the STORED params, serve — bit-identical to the one-shot build. */
  def embKnnBqIncremental(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annbqinc", BqIndex, withColl, incremental = true)

  /** emb_knn_bq_follow / emb_knn_bq_compacted — the [[IndexScenario]]
    * gates for BQ: delta rows encode through the frozen thresholds, the
    * fold copies them verbatim; oracle = a rebuild on the corpus's final
    * state with the build-time thresholds. */
  def embKnnBqFollow(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "bq", BqIndex, compacted = false, now => withColl(now))

  def embKnnBqCompacted(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "bq", BqIndex, compacted = true, now => withColl(now))

  /** emb_recall — ANN QUALITY EVALUATION gate: recall@K of each
    * approximate index family (LSH buckets, IVF inverted lists, SQ8
    * scalar quantization) measured against the exact brute-force top-K
    * on the same probes — per method: probes answered, rows returned
    * (an LSH bucket may underfill below K), and returned pairs that hit
    * the exact top-K. This is the evaluation loop that has to run
    * BEFORE any recall knob (planes/nProbe/refine) changes ships at
    * 100 TB, expressed as one distributed query: the ground truth and
    * the three candidates are the engine's own gated queries, the
    * intersection is a semi-join on (probe, neighbor) — no collect, no
    * python sidecar. The oracle recomputes all four rankings and the
    * same tallies in SQL, so the MEASUREMENT itself is hash-gated, not
    * just the rankings it consumes. */
  def embRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = embKnnBrute(spark, dir).select(col("probe_id"), col("neighbor_id"))
    // r15: CONSTRUCT the six method searches as concurrent driver jobs
    // (guide §2.6). Construction is not lazy here: bq/sq8 train their
    // quantizer thresholds, ivf derives its codebook, lsh_tuned writes
    // its index — each a chain of small driver-collect jobs that
    // serialized into ~2/3 of the query's wall. The methods are
    // independent (separate scratch kinds, no shared state), and
    // inParallel keeps Seq order, so the union below — and the result —
    // is byte-identical to sequential construction.
    val methods: Seq[(String, DataFrame)] = graft.operators.Par.inParallel(Seq(
      () => "bq" -> embKnnBq(spark, dir),
      () => "ivf" -> embKnnIvf(spark, dir),
      () => "lsh" -> embKnnLsh(spark, dir),
      () => "lsh_tuned" -> embKnnLshTuned(spark, dir),
      () => "rp" -> embKnnRp(spark, dir),
      () => "sq8" -> embKnnSq8(spark, dir)))
    // r15: the 6-method union feeds TWO consumers (the brute semi-join
    // for hits AND the per-method stats aggregate) — without a
    // checkpoint every index search ran twice, once per consumer
    // (guide §5 caching / recompute). Materialize the ≤ methods×probes×K
    // row union once; both aggregates read the blocks.
    val m = methods.map { case (n, df) =>
      df.select(lit(n).as("method"), col("probe_id"), col("neighbor_id"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    try {
      val hits = m.join(brute, Seq("probe_id", "neighbor_id"), "left_semi")
        .groupBy("method").agg(count(lit(1)).as("n_hits"))
      m.groupBy("method")
        .agg(countDistinct(col("probe_id")).as("n_probes"),
          count(lit(1)).as("n_returned"))
        .join(hits, Seq("method"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("k", lit(K.toLong))
        .orderBy("method")
        .localCheckpoint(true)
    } finally graft.operators.NearDup.freeCheckpoint(m)
  }

  /** emb_knn_sq8_persisted — the SAME SQ8 search served from PERSISTED
    * byte codes + frozen params: training and encoding happen once at
    * build; serving reconstructs in-row from the stored bytes and refines
    * against the collection. Gated against the same oracle as emb_knn_sq8. */
  def embKnnSq8Persisted(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annsq8", Sq8Index, withColl)

  /** emb_knn_lsh_persisted — the SAME search served from a PERSISTED
    * LSH index: the collection is indexed once (quantized vectors +
    * self-dots + bucket ids, written partitioned by bucket) and the query
    * runs entirely against the stored rows — no quantization or
    * hyperplane math at serve time, and the candidate scan's bucket
    * partitions are dynamically pruned by the broadcast probe side
    * (WarehouseSpec asserts both). Gated against the same oracle as
    * emb_knn_lsh. */
  def embKnnLshPersisted(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annlsh", LshIndex, _ => Probes)

  /** emb_knn_lsh_incremental — INCREMENTAL index maintenance gate: the
    * collection arrives in two ingests (vec_id % 5 != 3, then the rest);
    * the first builds the index, the second APPENDS its serving rows
    * (O(batch): never reads or rewrites the stored files; WarehouseSpec
    * asserts both). Gated against the SAME full-collection oracle as
    * emb_knn_lsh — append-then-serve must equal a full rebuild. */
  def embKnnLshIncremental(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annlshinc", LshIndex, _ => Probes, incremental = true)

  /** emb_knn_lsh_follow / emb_knn_lsh_compacted — the [[IndexScenario]]
    * gates for the single-bucket LSH anchor, gated against an oracle
    * running the SAME LSH selection over the corpus's final state. */
  def embKnnLshFollow(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "ann", LshIndex, compacted = false, _ => Probes)

  def embKnnLshCompacted(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "ann", LshIndex, compacted = true, _ => Probes)

  def embNearDup(spark: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        Planes, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** 2 independent tables × 3 planes (sliced from one deterministic
    * 6-plane draw) — the banded gate's parameterization; production
    * sizes r ∝ log2(n/targetBucket) and b to the recall target. */
  val BandedPlanes: Array[Array[Array[Long]]] =
    Ann.hashPlanes(nPlanes = 6, dim = 64).grouped(3).toArray

  /** The banded ANCHOR gate's corpus bound: the gate's 3-plane/8-bucket
    * tables are deliberately tiny (its job is candidate-front
    * EQUIVALENCE with the oracle, not scale), so past ~2k vectors its
    * ΣC(occ,2) front grows quadratically — the r12 sf1 bench measured
    * it slowest-in-suite at 68.5 s and flaky at the executor-memory
    * edge (one SparkException cascading into three downstream
    * IllegalStateExceptions). 2000 is exactly the sf0.1 corpus, so
    * sf ≤ 0.1 results (and the frozen sf0.1 baseline) are unchanged
    * while sf ≥ 1 pays sf0.1's bounded cost. The UNBOUNDED banded
    * operator stays measured at production sizing in
    * emb_near_dup_banded_scaled (r ∝ log2(n/targetBucket) — L116). */
  val BandedAnchorMax = 2000L

  /** emb_near_dup_banded — the banded candidate-front ANCHOR for
    * embedding near-dup pairs (graft.operators.Ann.nearDupPairsBanded):
    * b independent sign-LSH tables, candidates dedup on ids BEFORE the
    * exact-cosine verify. The fixed-plane single-table gate
    * (emb_near_dup, and emb_dup_clusters built on it) stays as the
    * cross-engine anchor; this gate pins the banded candidate front —
    * the oracle replays both tables' buckets as an OR-join, the same
    * pair set the Spark side reaches through the exploded (table,
    * bucket) equi-join + distinct. Corpus bounded to
    * [[BandedAnchorMax]] (see its scaladoc); the scale path is
    * emb_near_dup_banded_scaled. */
  def embNearDupBanded(spark: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairsBanded(
        Tables.embeddings(spark, dir).filter(col("vec_id") < BandedAnchorMax),
        "vec_id", "embedding", BandedPlanes, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** 2 tables × 10 planes (one deterministic 20-plane draw) — the
    * production r ∝ log2(n/targetBucket) sizing at the ~100k–1M corpus
    * decade: 1024-value bucket spaces hold per-bucket occupancy (and
    * with it the ΣC(occ,2) candidate front) ~128× below the 3-plane
    * gate's. Production also raises b to the recall target; b = 2 here
    * keeps the gate's job — banded candidate-front EQUIVALENCE with
    * the oracle — while the near-exact planted duplicates (cosine≈1 ⇒
    * per-plane agreement p≈1 ⇒ p^10 still ≈1) keep the output
    * populated at every scale. */
  val BandedPlanesScaled: Array[Array[Array[Long]]] =
    Ann.hashPlanes(nPlanes = 20, dim = 64).grouped(10).toArray

  /** emb_near_dup_banded_scaled — the SAME banded operator at the
    * production plane count ([[BandedPlanesScaled]]): the
    * emb_near_dup_banded gate deliberately pins tiny 8-value buckets
    * (its candidate front measured 86.8× across the sf0.1→sf1 decade —
    * the quadratic knee its scaladoc predicts), this gate pins the
    * prescribed escape: longer keys move the knee ~2^(r−r₀)× out in
    * corpus size. Identical contract, identical oracle shape — only
    * the plane draw differs. */
  def embNearDupBandedScaled(spark: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairsBanded(Tables.embeddings(spark, dir), "vec_id", "embedding",
        BandedPlanesScaled, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** emb_knn_ivfpq — the IVF-PQ COMPOSITE (graft.operators.Ann.knnIvfPq,
    * Jégou et al. 2011 §IVFADC): the label coarse quantizer partitions
    * the collection into inverted lists, each vector stores as the PQ
    * code of its RESIDUAL against its list's centroid, and probes visit
    * nProbe=2 lists scoring candidates by per-list asymmetric-distance
    * tables — the billion-scale architecture composing this module's
    * emb_knn_ivf (scan shrink) and emb_knn_pq (memory shrink) halves.
    * The oracle replays the whole chain: coarse assignment, residuals,
    * the per-subspace residual k-means, encoding, per-(probe, list)
    * tables, ADC — exact integers end to end. */
  def embKnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.knnIvfPq(emb, "vec_id", "embedding",
        Ann.ivfCodebook(emb, "label", "embedding"),
        PqDim, PqM, PqK, PqIters, col("vec_id") < PqProbeMax, K, nProbe = 2)
      .orderBy("probe_id", "rank")
  }

  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    Ann.centroids(Tables.embeddings(spark, dir), "label", "embedding")
      .orderBy("label", "dim_idx")

  /** The row_number-WINDOW form of the same LSH search — the shape the
    * ROW_NUMBER oracle SQL uses. Gated against the same oracle as
    * emb_knn_lsh (whose default path is now the bounded top-k aggregate)
    * because the selection is identical; keeping both gated pins the
    * window-vs-aggregate equivalence every round. */
  def embKnnLshWindow(spark: SparkSession, dir: String): DataFrame =
    Ann.knnLshWindow(Tables.embeddings(spark, dir), "vec_id", "embedding",
        Planes, col("vec_id") < ProbeMax, K)
      .orderBy("probe_id", "rank")

  /** Multi-probe LSH: own bucket + all Hamming-1 buckets. */
  def embKnnLshMp(spark: SparkSession, dir: String): DataFrame =
    Ann.knnLshMultiProbe(Tables.embeddings(spark, dir), "vec_id", "embedding",
        Planes, col("vec_id") < ProbeMax, K)
      .orderBy("probe_id", "rank")

  /** emb_knn_lsh_tuned — the RECALL-TARGETED LSH serving default,
    * closing the loop emb_recall opened: the harness measured the
    * single-bucket anchor at 4/50 recall@5, below any serving floor.
    * The measured sweep over the knobs (r ∈ {4,6,8,10,12} planes ×
    * {blind Hamming-1, query-directed lowest-margin} probing, gate
    * corpus, ground truth = emb_knn_brute) showed recall tracking the
    * scanned fraction almost linearly on these near-random embeddings
    * — r=4+H1 scans 34% of brute for 28/50 = 0.56, r=6+H1 15% for
    * 0.42, r=8+H1 6% for 0.26 — so the ≥0.5@5 floor selects the
    * anchor's plane count with the budget spent on probes, not more
    * planes. Gated on the PRODUCTION path: index built once
    * (AnnIndex.lshMultiProbe), served via the persisted multi-probe
    * scan (AnnIndex.knnLshServeMultiProbe, DPP onto the probed bucket
    * partitions), hash-gated against the multi-probe oracle; its
    * recall rides in emb_recall as `lsh_tuned` beside the unchanged
    * anchor. */
  def embKnnLshTuned(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annlshtuned",
      AnnIndex.lshMultiProbe("vec_id", "embedding", Planes), _ => Probes)

  /** IVF-flat with the label partition as codebook, nProbe=2. */
  def embKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codebook = Ann.ivfCodebook(emb, "label", "embedding")
    Ann.knnIvf(emb, "vec_id", "embedding", codebook,
        col("vec_id") < ProbeMax, K, nProbe = 2)
      .orderBy("probe_id", "rank")
  }

  /** emb_knn_ivf_persisted — the SAME IVF search served from PERSISTED
    * inverted lists + codebook: assignment and quantization happen once
    * at build; serving ranks the stored codebook per probe and joins only
    * the chosen centroid partitions (dynamically pruned). Gated against
    * the same oracle as emb_knn_ivf. */
  def embKnnIvfPersisted(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annivf", IvfIndex, _ => Probes)

  /** emb_knn_ivf_incremental — INCREMENTAL IVF maintenance gate: the
    * first ingest builds the inverted lists, the second APPENDS its rows
    * encoded with the STORED codebook — the frozen serve-time parameter,
    * the analogue of LSH's hyperplanes — trained once over the
    * collection, so append-then-serve is gated against the SAME oracle as
    * emb_knn_ivf. WarehouseSpec additionally exercises the production
    * shape where the codebook trains on the initial ingest alone. */
  def embKnnIvfIncremental(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annivfinc", IvfIndex, _ => Probes, incremental = true)

  /** emb_knn_ivf_follow / emb_knn_ivf_compacted — the [[IndexScenario]]
    * gates for IVF: the codebook trains on the build-time corpus state
    * and stays frozen (the fold copies it verbatim — retraining would
    * shift every stored assignment). Gated against the ivfOracle
    * selection with the codebook pinned to the build-time training set
    * and membership at the corpus's final state. */
  def embKnnIvfFollow(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "anni", IvfIndex, compacted = false, _ => Probes)

  def embKnnIvfCompacted(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "anni", IvfIndex, compacted = true, _ => Probes)

  /** Metadata-filtered search: neighbors restricted to even labels. */
  def embKnnFiltered(spark: SparkSession, dir: String): DataFrame =
    Ann.knnLshFiltered(Tables.embeddings(spark, dir), "vec_id", "embedding",
        Planes, col("vec_id") < ProbeMax, col("label") % 2 === 0, K)
      .orderBy("probe_id", "rank")

  /** Fused-search query terms (all frequent in the synthetic corpus). */
  private val HybridTerms = Seq("hash", "join", "vector")

  /** hybrid_search — RRF hybrid retrieval: keyword top-20 (total count
    * of the query terms among each doc's normalized tokens, bounded via
    * TakeOrderedAndProject — no global ranking window) fused with the
    * exact vector top-20 around probe vec_id=0 (the documents and
    * embeddings tables share the 0..N id space) by reciprocal-rank
    * fusion, cut to the fused top-10. Rank arithmetic is integer; the
    * only doubles are the 1/(60+rank) terms, evaluated in the same
    * operand order on both engines. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(Text.normalize(col("text"))).as("__t"))
    val kwScore = HybridTerms
      .map(t => size(filter(col("__t"), x => x === t)).cast("long"))
      .reduce(_ + _)
    // bounded head FIRST (TakeOrderedAndProject — scale-safe), then the
    // dense rank over the surviving <= 20 rows (a 20-row window, not a
    // corpus-wide one)
    val kwTop = toks.select(col("doc_id"), kwScore.as("kw_score"))
      .filter(col("kw_score") > 0)
      .orderBy(col("kw_score").desc, col("doc_id"))
      .limit(20)
      .withColumn("rank",
        row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("kw_score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank")
    val vecTop = Ann.knnBrute(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") === 0, k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Ann.rrfFuse(kwTop, vecTop, "doc_id", k = 10)
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** emb_knn_sq8_follow / emb_knn_sq8_compacted — the [[IndexScenario]]
    * gates for SQ8: per-dim [vmin, vmax] freeze at build, delta rows
    * encode through them, and the corpus's current state supplies only
    * probes and the O(probes·refine·k) exact-refine rows. Oracle: the SQ8
    * replay with params trained on the build slice and membership at the
    * corpus's final state. */
  def embKnnSq8Follow(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "sq8", Sq8Index, compacted = false, now => withColl(now))

  def embKnnSq8Compacted(spark: SparkSession, dir: String): DataFrame =
    followGate(spark, dir, "sq8", Sq8Index, compacted = true, now => withColl(now))

  /** hybrid_persisted — the hybrid-search SERVING story: the same RRF
    * fusion with BOTH retrieval legs answered from persisted indexes
    * and nothing else — no corpus scan, no tokenization, no
    * quantization at query time. The keyword leg is BM25 top-20 from
    * the inverted text index (graft.operators.TextIndex — the postings
    * scan statically prunes to the query terms' buckets); the vector
    * leg is the RECALL-TUNED multi-probe LSH top-20 around probe
    * vec_id=0 from the stored ANN index
    * (graft.operators.AnnIndex.lshMultiProbe — own bucket +
    * Hamming-1 neighbors, still a dynamically-pruned bucket scan). The
    * single-bucket serve emb_recall measured at 0.08 recall@5 would
    * hand RRF a fuse input missing ~90% of true neighbors; the
    * multi-probe configuration is the ≥0.5-recall default
    * emb_knn_lsh_tuned proved. Fused by the identical 1/(60+rank)
    * arithmetic as hybrid_search. This is what a deployed retrieval
    * endpoint runs per request at 100 TB: two index probes (one
    * nPlanes+1 buckets wide) and a 40-row fuse. */
  def hybridPersisted(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextIndex
    val text = TextIndex.bm25("doc_id", "text")
    val vec = AnnIndex.lshMultiProbe("vec_id", "embedding", Planes)
    val tpath = Tables.scratchDir(spark, "hybtxt", dir)
    val vpath = Tables.scratchDir(spark, "hybann", dir)
    // the two index BUILDS read different tables and write different
    // paths — fully independent, run as concurrent driver jobs
    // (guide §2.6)
    Par.inParallel[Unit](Seq(
      () => IndexLifecycle.build(text, Tables.documents(spark, dir), tpath),
      () => IndexLifecycle.build(vec, Tables.embeddings(spark, dir), vpath)))
    val kwTop = IndexLifecycle.serve(spark, text, tpath, TextIndex.Query(HybridTerms, 20))
      .select("doc_id", "rank")
    val vecTop = IndexLifecycle.serve(spark, vec, vpath, Probe(col("vec_id") === 0, k = 20))
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Ann.rrfFuse(kwTop, vecTop, "doc_id", k = 10)
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  private val KmeansK = 4
  private val KmeansIters = 2

  /** Fixed-iteration k-means (init = k lowest-id vectors; 2 assign/update
    * rounds; final assignment returned). Exact integer arithmetic end to
    * end — the oracle replays the identical iterations in SQL. */
  def embKmeans(spark: SparkSession, dir: String): DataFrame =
    Ann.kmeans(Tables.embeddings(spark, dir), "vec_id", "embedding",
        KmeansK, KmeansIters)
      .orderBy("vec_id")

  private val MmrProbeMax = 6
  private val MmrC = 12
  private val MmrK = 6

  /** emb_mmr — MMR-diversified top-6 re-ranking (Ann.mmrDiversify,
    * Carbonell-Goldstein): each probe's brute top-12 candidates
    * re-selected by λ·rel − (1−λ)·max-sim-to-picked with λ=0.5 (both
    * coefficients binary-exact), selection order = ranking. The
    * diversification head every retrieval stack bolts onto its ANN. */
  def embMmr(spark: SparkSession, dir: String): DataFrame =
    Ann.mmrDiversify(Tables.embeddings(spark, dir), "vec_id", "embedding",
        col("vec_id") < MmrProbeMax, MmrC, MmrK)
      .orderBy("probe_id", "mmr_rank")

  private val ClusterSampleM = 16

  /** emb_cluster_sample — cluster-balanced deterministic sampling
    * (Ann.clusterSample): k-means strata (the gated emb_kmeans
    * configuration), up to 16 rows per cluster in salted-md5 hash order
    * — the learned-strata diversity sample beside the label-keyed
    * doc_stratified_sample; selection via the bounded top-k aggregate,
    * membership engine-stable. */
  def embClusterSample(spark: SparkSession, dir: String): DataFrame =
    Ann.clusterSample(Tables.embeddings(spark, dir), "vec_id", "embedding",
        KmeansK, KmeansIters, ClusterSampleM)
      .orderBy("cluster", "sample_rank")

  private val SemThreshold = 0.4

  /** emb_semdedup — SemDeDup semantic dedup: k-means clusters (the same
    * gated KmeansK/KmeansIters configuration as emb_kmeans), then within
    * each cluster every row with a >= 0.4-cosine LOWER-id mate drops.
    * Every input row comes back with its cluster and keep decision. */
  def embSemDedup(spark: SparkSession, dir: String): DataFrame =
    Ann.semDedup(Tables.embeddings(spark, dir), "vec_id", "embedding",
        KmeansK, KmeansIters, SemThreshold)
      .orderBy("vec_id")

  /** emb_dup_clusters — embedding-space near-dup CLUSTERS: the gated
    * emb_near_dup pair generator (LSH buckets, cosine >= 0.4) closed
    * under connectivity with the pointer-jump CC; cluster_id = the
    * cluster's minimum vec_id (the canonical vector SemDeDup-style
    * pipelines keep). The embedding analog of doc_dup_clusters, gated
    * against the same recursive-reachability oracle shape. */
  def embDupClusters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.NearDup
    val pairs = Ann.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      Planes, threshold = 0.4)
    val cc = NearDup.connectedComponents(pairs, "id_a", "id_b")
    cc.select(col("id").as("vec_id"), col("component").as("cluster_id"))
      .orderBy("vec_id")
  }

  private val PqM = 4
  private val PqK = 4
  private val PqIters = 1
  private val PqDim = 64
  private val PqProbeMax = 5

  /** emb_knn_pq — product-quantization ANN: 4 subspaces of 16 dims, each
    * with its own k-means codebook (k=4, 1 round), candidates encoded as
    * 4 codes, probes searching by asymmetric-distance table lookups. */
  def embKnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cbs = Ann.pqCodebooks(emb, "vec_id", "embedding", PqDim, PqM, PqK, PqIters)
    try
      Ann.knnPq(emb, "vec_id", "embedding", cbs, PqDim, PqM,
          col("vec_id") < PqProbeMax, K)
        .orderBy("probe_id", "rank")
        .localCheckpoint(true)
    finally graft.operators.NearDup.freeCheckpoint(cbs)
  }

  /** emb_knn_pq_persisted — the SAME PQ search served from a PERSISTED
    * code table + codebooks: the collection side reads only stored (id,
    * subspace, code) rows, the probe side builds its ADC tables
    * per-request from the stored codebooks. Gated against the identical
    * oracle as emb_knn_pq. */
  def embKnnPqPersisted(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annpq", PqIndex, pqProbes)

  /** emb_knn_pq_incremental — INCREMENTAL PQ maintenance gate: codes
    * arrive in two ingests; the second APPENDS its rows encoded with the
    * STORED codebooks (trained once over the collection, so the gate
    * shares emb_knn_pq's oracle). */
  def embKnnPqIncremental(spark: SparkSession, dir: String): DataFrame =
    persistedGate(spark, dir, "annpqinc", PqIndex, pqProbes, incremental = true)

  /** emb_knn_pq_follow — the [[IndexScenario]] follow gate for the one
    * index whose stored form is CODES: the per-subspace codebooks train
    * on the build-time state and freeze, delta rows encode through them,
    * and probes arrive with their vectors from the collection (the
    * request shape). Gated against the pqOracle ADC with codebooks pinned
    * to the build-time training set and code membership at the corpus's
    * final state. */
  def embKnnPqFollow(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    followGate(spark, dir, "annpq", PqIndex, compacted = false, _ => pqProbes(emb))
  }

  // ---- oracle SQL ---------------------------------------------------

  /** Quantized-embedding CTE (mirrors Ann.quantize). */
  private val qCte =
    """q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |FROM embeddings)""".stripMargin

  /** Exact integer dot products stay < 2^53, so DuckDB's double-valued
    * list_dot_product is exact; the BIGINT cast pins the type. */
  private def dotSql(a: String, b: String) = s"CAST(list_dot_product($a, $b) AS BIGINT)"

  private val cosineSql =
    "CAST(d AS DOUBLE) / (sqrt(CAST(pn AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE)))"

  private def knnOracle(pairSrc: String): String =
    s"""WITH $qCte,
       |$pairSrc,
       |s AS (SELECT probe_id, neighbor_id, $cosineSql AS cosine_sim FROM p),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine_sim DESC, neighbor_id) AS "rank" FROM s)
       |SELECT probe_id, neighbor_id, cosine_sim, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin

  private val bruteOracle: String = knnOracle(
    s"""p AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM q a, q b WHERE a.vec_id < $ProbeMax AND b.vec_id <> a.vec_id)""".stripMargin)

  /** JL-projected brute oracle: the 16 projected dims spelled out as
    * exact integer dots against the same ±1 sign literals the Spark
    * plan compiles in (Ann.signPlanes — code, not state). */
  private val rpOracle: String = {
    val projExprs = Ann.signPlanes(RpDim, 64).map { s =>
      dotSql("qv", s.mkString("[", ", ", "]"))
    }.mkString(",\n|          ")
    knnOracle(
      s"""rp AS (SELECT vec_id,
         |          [$projExprs] AS pv
         |       FROM q),
         |p AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |        ${dotSql("a.pv", "b.pv")} AS d,
         |        ${dotSql("a.pv", "a.pv")} AS pn,
         |        ${dotSql("b.pv", "b.pv")} AS nn
         |      FROM rp a, rp b WHERE a.vec_id < $ProbeMax AND b.vec_id <> a.vec_id)""".stripMargin)
  }

  /** LSH bucket expression over a quantized column named `qv` — the same
    * plane literals the Spark plan uses. */
  private def bucketSqlFor(planes: Array[Array[Long]], qv: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(qv, lits)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def bucketSql(qv: String): String = bucketSqlFor(Planes, qv)

  private val lshOracle: String = knnOracle(
    s"""b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q),
       |p AS (SELECT a.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket
       |      WHERE a.vec_id < $ProbeMax AND c.vec_id <> a.vec_id)""".stripMargin)

  /** Following-index oracle: the lshOracle selection over the corpus's
    * FINAL state — live ids after the erase (%7==0) and the MERGE batch
    * (%5==3 inserts, %9==1 re-upserts, erased∩batch resurrections):
    * (%5≠3 ∧ %7≠0) ∪ %5==3 ∪ %9==1. Vector content is unchanged by the
    * gate's upserts, so the pair math is identical — only MEMBERSHIP
    * moves, which is exactly what base-minus-touched ∪ delta must get
    * right. */
  private val lshFollowOracle: String = knnOracle(
    s"""b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q
       |      WHERE vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0),
       |p AS (SELECT a.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket
       |      WHERE a.vec_id < $ProbeMax AND c.vec_id <> a.vec_id)""".stripMargin)

  /** Compacted-follow oracle: the same LSH selection over the corpus's
    * FINAL state after BOTH mutation waves — wave-1 live set
    * (%5=3 ∨ %9=1 ∨ %7≠0, the lshFollowOracle predicate) minus the
    * wave-2 erasure (%11=0), union the wave-2 MERGE batch (%13=2).
    * The oracle never sees the base, the fold, or either delta — only
    * the end state; green means the fold+handoff chain reconstructed
    * it exactly. */
  private val lshCompactedOracle: String = knnOracle(
    s"""b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q
       |      WHERE vec_id % 13 = 2
       |         OR ((vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)
       |             AND vec_id % 11 <> 0)),
       |p AS (SELECT a.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket
       |      WHERE a.vec_id < $ProbeMax AND c.vec_id <> a.vec_id)""".stripMargin)

  /** Filtered-LSH oracle: the lshOracle pair source with the candidate
    * metadata predicate (probes exempt). */
  private val lshFilteredOracle: String = knnOracle(
    s"""b AS (SELECT vec_id, label, qv, ${bucketSql("qv")} AS bucket FROM q),
       |p AS (SELECT a.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket
       |      WHERE a.vec_id < $ProbeMax AND c.vec_id <> a.vec_id AND c.label % 2 = 0)""".stripMargin)

  /** SQ8 oracle: replays training (per-dim min/max), encoding (floor
    * integer division — `//` on non-negative BIGINTs matches Spark's
    * floor(double-div) exactly in this range), the 255-scaled
    * reconstruction, the stage-1 surrogate ranking, and the exact-cosine
    * refine over the survivors. */
  /** SQ8 oracle body, parameterized for the follow/fold lifecycle:
    * `trainSrc` is the relation the per-dim [vmin, vmax] trained on
    * (the whole collection for the in-query/persisted forms; the frozen
    * BUILD slice for follow/compacted), `liveSrc` the collection being
    * served (current membership). The code expression carries the
    * engine's clamp (LEAST/GREATEST): a live component outside the
    * trained range saturates instead of wrapping. */
  private def sq8OracleFor(trainSrc: String, liveSrc: String): String = knnOracle(
    s"""lv AS (SELECT vec_id, qv FROM $liveSrc),
       |td AS (SELECT qv, unnest(range(1, len(qv) + 1)) AS i FROM $trainSrc),
       |mm AS (SELECT i, MIN(qv[i]) AS vmin, MAX(qv[i]) AS vmax FROM td GROUP BY i),
       |vd AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM lv),
       |rv AS (SELECT vd.vec_id, vd.i,
       |         255 * mm.vmin + (CASE WHEN mm.vmax = mm.vmin THEN 0
       |           ELSE LEAST(255, GREATEST(0,
       |             ((vd.qv[vd.i] - mm.vmin) * 255) // (mm.vmax - mm.vmin))) END)
       |           * (mm.vmax - mm.vmin) AS r
       |       FROM vd JOIN mm USING (i)),
       |s1 AS (SELECT pr.vec_id AS probe_id, rv.vec_id AS neighbor_id,
       |         SUM(pr.qv[rv.i] * rv.r) AS s
       |       FROM lv pr JOIN rv ON rv.vec_id <> pr.vec_id
       |       WHERE pr.vec_id < $ProbeMax GROUP BY 1, 2),
       |c1 AS (SELECT probe_id, neighbor_id, ROW_NUMBER() OVER (
       |         PARTITION BY probe_id ORDER BY s DESC, neighbor_id) AS rr FROM s1),
       |p AS (SELECT c1.probe_id, c1.neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM c1 JOIN lv a ON a.vec_id = c1.probe_id
       |              JOIN lv b ON b.vec_id = c1.neighbor_id
       |      WHERE c1.rr <= ${Sq8Refine * K})""".stripMargin)

  private val sq8Oracle: String = sq8OracleFor("q", "q")

  /** BQ oracle: thresholds (per-dim floor-average over `trainSrc`),
    * sign bits, 32-bit word packing, symmetric Hamming via
    * bit_count(xor), refine-then-exact — the Ann.knnBq pipeline from
    * first principles over the `liveSrc` membership. The bit is cast
    * BIGINT before the shift so bit 31 can't overflow an INT32. */
  private def bqOracleFor(trainSrc: String, liveSrc: String): String = knnOracle(
    s"""lv AS (SELECT vec_id, qv FROM $liveSrc),
       |td AS (SELECT qv, unnest(range(1, len(qv) + 1)) AS i FROM $trainSrc),
       |thr AS (SELECT i, SUM(qv[i]) // COUNT(*) AS t FROM td GROUP BY i),
       |bits AS (SELECT vd.vec_id, vd.i,
       |           CASE WHEN vd.qv[vd.i] > thr.t THEN CAST(1 AS BIGINT)
       |                ELSE CAST(0 AS BIGINT) END AS b
       |         FROM (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM lv) vd
       |         JOIN thr USING (i)),
       |words AS (SELECT vec_id, (i - 1) // 32 AS w,
       |            CAST(SUM(b << CAST((i - 1) % 32 AS INT)) AS BIGINT) AS word
       |          FROM bits GROUP BY 1, 2),
       |hd AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
       |         CAST(SUM(bit_count(xor(a.word, b.word))) AS BIGINT) AS ham
       |       FROM words a JOIN words b ON b.w = a.w AND b.vec_id <> a.vec_id
       |       WHERE a.vec_id < $ProbeMax GROUP BY 1, 2),
       |c1 AS (SELECT probe_id, neighbor_id, ROW_NUMBER() OVER (
       |         PARTITION BY probe_id ORDER BY ham, neighbor_id) AS rr FROM hd),
       |p AS (SELECT c1.probe_id, c1.neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM c1 JOIN lv a ON a.vec_id = c1.probe_id
       |              JOIN lv b ON b.vec_id = c1.neighbor_id
       |      WHERE c1.rr <= ${BqRefine * K})""".stripMargin)

  private val bqOracle: String = bqOracleFor("q", "q")

  /** Follow: thresholds frozen on the build slice (%5≠3), membership at
    * the corpus's wave-1 final state (the sq8FollowOracle shape). */
  private val bqFollowOracle: String = bqOracleFor(
    "(SELECT qv FROM q WHERE vec_id % 5 <> 3)",
    "(SELECT vec_id, qv FROM q WHERE vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)")

  /** Compacted: same frozen thresholds, membership after BOTH waves. */
  private val bqCompactedOracle: String = bqOracleFor(
    "(SELECT qv FROM q WHERE vec_id % 5 <> 3)",
    """(SELECT vec_id, qv FROM q
      |   WHERE vec_id % 13 = 2
      |      OR ((vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)
      |          AND vec_id % 11 <> 0))""".stripMargin)

  /** emb_recall oracle: the brute/lsh/ivf/sq8 oracles verbatim as
    * nested subqueries (DuckDB scopes each one's WITH locally), then
    * the same tallies the Spark plan computes — so a drift in ANY of
    * the four rankings or in the measurement arithmetic goes red. */
  private lazy val recallOracle: String = {
    def sub(name: String, sql: String) =
      s"$name AS (SELECT probe_id, neighbor_id FROM (\n$sql\n))"
    s"""WITH ${sub("brute", bruteOracle)},
       |${sub("lshq", lshOracle)},
       |${sub("lshtq", lshMpOracle)},
       |${sub("ivfq", ivfOracle)},
       |${sub("sq8q", sq8Oracle)},
       |${sub("bqq", bqOracle)},
       |${sub("rpq", rpOracle)},
       |m AS (SELECT 'bq' AS method, probe_id, neighbor_id FROM bqq
       |      UNION ALL SELECT 'ivf', probe_id, neighbor_id FROM ivfq
       |      UNION ALL SELECT 'lsh', probe_id, neighbor_id FROM lshq
       |      UNION ALL SELECT 'lsh_tuned', probe_id, neighbor_id FROM lshtq
       |      UNION ALL SELECT 'rp', probe_id, neighbor_id FROM rpq
       |      UNION ALL SELECT 'sq8', probe_id, neighbor_id FROM sq8q),
       |h AS (SELECT m.method, CAST(COUNT(*) AS BIGINT) AS n_hits
       |      FROM m JOIN brute b
       |        ON b.probe_id = m.probe_id AND b.neighbor_id = m.neighbor_id
       |      GROUP BY 1),
       |t AS (SELECT method, CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes,
       |             CAST(COUNT(*) AS BIGINT) AS n_returned
       |      FROM m GROUP BY 1)
       |SELECT t.method, t.n_probes, t.n_returned,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST($K AS BIGINT) AS k
       |FROM t LEFT JOIN h ON h.method = t.method
       |ORDER BY 1""".stripMargin
  }

  /** Follow: params frozen on the build slice (%5≠3), membership at the
    * corpus's wave-1 final state. */
  private val sq8FollowOracle: String = sq8OracleFor(
    "(SELECT qv FROM q WHERE vec_id % 5 <> 3)",
    "(SELECT vec_id, qv FROM q WHERE vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)")

  /** Compacted: same frozen params, membership after BOTH waves. */
  private val sq8CompactedOracle: String = sq8OracleFor(
    "(SELECT qv FROM q WHERE vec_id % 5 <> 3)",
    """(SELECT vec_id, qv FROM q
      |   WHERE vec_id % 13 = 2
      |      OR ((vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)
      |          AND vec_id % 11 <> 0))""".stripMargin)

  private val nearDupOracle: String =
    s"""WITH $qCte,
       |b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
       |s AS (SELECT id_a, id_b, $cosineSql AS cosine_sim FROM p)
       |SELECT id_a, id_b, cosine_sim FROM s
       |WHERE cosine_sim >= CAST(0.4 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin

  /** Banded near-dup oracle: both tables' buckets as columns, the pair
    * front an OR of per-table bucket equality (one row per pair by
    * construction — the relational twin of Spark's explode + distinct),
    * exact verify identical to the single-table oracle. `corpusWhere`
    * mirrors the Spark side's anchor corpus bound ([[BandedAnchorMax]]). */
  private def nearDupBandedOracleFor(
      tables: Array[Array[Array[Long]]],
      corpusWhere: String = "TRUE"): String =
    s"""WITH $qCte,
       |b AS (SELECT vec_id, qv, ${bucketSqlFor(tables(0), "qv")} AS b0,
       |             ${bucketSqlFor(tables(1), "qv")} AS b1 FROM q
       |      WHERE $corpusWhere),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c
       |      ON a.vec_id < c.vec_id AND (a.b0 = c.b0 OR a.b1 = c.b1)),
       |s AS (SELECT id_a, id_b, $cosineSql AS cosine_sim FROM p)
       |SELECT id_a, id_b, cosine_sim FROM s
       |WHERE cosine_sim >= CAST(0.4 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin

  private val nearDupBandedOracle: String =
    nearDupBandedOracleFor(BandedPlanes, s"vec_id < $BandedAnchorMax")

  private val lshMpOracle: String = {
    val expanded = ("bucket" +: Planes.indices.map(i => s"xor(bucket, ${1L << i})"))
      .mkString("[", ", ", "]")
    knnOracle(
      s"""b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q),
         |pb AS (SELECT vec_id, qv, unnest($expanded) AS bucket FROM b WHERE vec_id < $ProbeMax),
         |p AS (SELECT a.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |        ${dotSql("a.qv", "c.qv")} AS d,
         |        ${dotSql("a.qv", "a.qv")} AS pn,
         |        ${dotSql("c.qv", "c.qv")} AS nn
         |      FROM pb a JOIN b c ON a.bucket = c.bucket
         |      WHERE c.vec_id <> a.vec_id)""".stripMargin)
  }

  /** IVF oracle: derives the same integer codebook from the data (floor-
    * averaged quantized dims), assigns by exact integer L2 (ties to the
    * lowest label), probes the 2 nearest lists. The Spark side embeds the
    * collected codebook as literals; values are identical because every
    * step is exact integer arithmetic. */
  private val ivfOracle: String =
    s"""WITH $qCte,
       |vd AS (SELECT vec_id, label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |vdim AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim_idx, qv[i] AS qe FROM vd),
       |cb AS (SELECT label AS cb_label, dim_idx,
       |         CAST(FLOOR(CAST(SUM(qe) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |       FROM vdim GROUP BY 1, 2),
       |dist AS (SELECT v.vec_id, c.cb_label, SUM((v.qe - c.cq) * (v.qe - c.cq)) AS d2
       |         FROM vdim v JOIN cb c ON c.dim_idx = v.dim_idx GROUP BY 1, 2),
       |rankedc AS (SELECT vec_id, cb_label,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cb_label) AS crn
       |            FROM dist),
       |inv AS (SELECT vec_id, cb_label FROM rankedc WHERE crn = 1),
       |probes AS (SELECT vec_id, cb_label FROM rankedc WHERE vec_id < $ProbeMax AND crn <= 2),
       |p AS (SELECT pr.vec_id AS probe_id, i.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM probes pr
       |      JOIN inv i ON i.cb_label = pr.cb_label AND i.vec_id <> pr.vec_id
       |      JOIN q a ON a.vec_id = pr.vec_id
       |      JOIN q b ON b.vec_id = i.vec_id),
       |s AS (SELECT probe_id, neighbor_id, $cosineSql AS cosine_sim FROM p),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine_sim DESC, neighbor_id) AS "rank" FROM s)
       |SELECT probe_id, neighbor_id, cosine_sim, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin

  /** Following-IVF oracle: the ivfOracle selection with the codebook
    * trained on the BUILD-TIME corpus state (%5≠3 — label-means over
    * exactly the rows the frozen base indexed) and membership moved to
    * the corpus's FINAL state, mirroring lshFollowOracle's predicate. */
  private val ivfFollowOracle: String =
    s"""WITH $qCte,
       |vd AS (SELECT vec_id, label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |vdim AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim_idx, qv[i] AS qe FROM vd),
       |cb AS (SELECT label AS cb_label, dim_idx,
       |         CAST(FLOOR(CAST(SUM(qe) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |       FROM vdim WHERE vec_id % 5 <> 3 GROUP BY 1, 2),
       |live AS (SELECT * FROM vdim
       |         WHERE vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0),
       |dist AS (SELECT v.vec_id, c.cb_label, SUM((v.qe - c.cq) * (v.qe - c.cq)) AS d2
       |         FROM live v JOIN cb c ON c.dim_idx = v.dim_idx GROUP BY 1, 2),
       |rankedc AS (SELECT vec_id, cb_label,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cb_label) AS crn
       |            FROM dist),
       |inv AS (SELECT vec_id, cb_label FROM rankedc WHERE crn = 1),
       |probes AS (SELECT vec_id, cb_label FROM rankedc WHERE vec_id < $ProbeMax AND crn <= 2),
       |p AS (SELECT pr.vec_id AS probe_id, i.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM probes pr
       |      JOIN inv i ON i.cb_label = pr.cb_label AND i.vec_id <> pr.vec_id
       |      JOIN q a ON a.vec_id = pr.vec_id
       |      JOIN q b ON b.vec_id = i.vec_id),
       |s AS (SELECT probe_id, neighbor_id, $cosineSql AS cosine_sim FROM p),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine_sim DESC, neighbor_id) AS "rank" FROM s)
       |SELECT probe_id, neighbor_id, cosine_sim, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin

  /** Compacted-IVF oracle: the ivfFollowOracle shape — codebook trained
    * on the BUILD-TIME corpus state (%5≠3), the frozen parameter the
    * fold must carry through verbatim — with membership at the corpus's
    * FINAL state after BOTH mutation waves (the lshCompactedOracle
    * predicate). The oracle never sees the base, the fold, or either
    * delta. */
  private val ivfCompactedOracle: String =
    s"""WITH $qCte,
       |vd AS (SELECT vec_id, label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |vdim AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim_idx, qv[i] AS qe FROM vd),
       |cb AS (SELECT label AS cb_label, dim_idx,
       |         CAST(FLOOR(CAST(SUM(qe) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |       FROM vdim WHERE vec_id % 5 <> 3 GROUP BY 1, 2),
       |live AS (SELECT * FROM vdim
       |         WHERE vec_id % 13 = 2
       |            OR ((vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)
       |                AND vec_id % 11 <> 0)),
       |dist AS (SELECT v.vec_id, c.cb_label, SUM((v.qe - c.cq) * (v.qe - c.cq)) AS d2
       |         FROM live v JOIN cb c ON c.dim_idx = v.dim_idx GROUP BY 1, 2),
       |rankedc AS (SELECT vec_id, cb_label,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cb_label) AS crn
       |            FROM dist),
       |inv AS (SELECT vec_id, cb_label FROM rankedc WHERE crn = 1),
       |probes AS (SELECT vec_id, cb_label FROM rankedc WHERE vec_id < $ProbeMax AND crn <= 2),
       |p AS (SELECT pr.vec_id AS probe_id, i.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM probes pr
       |      JOIN inv i ON i.cb_label = pr.cb_label AND i.vec_id <> pr.vec_id
       |      JOIN q a ON a.vec_id = pr.vec_id
       |      JOIN q b ON b.vec_id = i.vec_id),
       |s AS (SELECT probe_id, neighbor_id, $cosineSql AS cosine_sim FROM p),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cosine_sim DESC, neighbor_id) AS "rank" FROM s)
       |SELECT probe_id, neighbor_id, cosine_sim, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin

  private val centroidsOracle: String =
    s"""WITH $qCte,
       |e AS (SELECT label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |g AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim_idx,
       |        CAST(SUM(qv[i]) AS BIGINT) AS qsum, COUNT(*) AS n
       |      FROM e GROUP BY 1, 2)
       |SELECT label, dim_idx,
       |       CAST(qsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(1000.0 AS DOUBLE)) AS centroid
       |FROM g ORDER BY label, dim_idx""".stripMargin

  // ---- k-means oracle CTE generators (shared by emb_kmeans,
  // emb_semdedup and the per-subspace chains of emb_knn_pq) ------------

  private def d2Sql(v: String, c: String) =
    s"${dotSql(s"$v.qv", s"$v.qv")} - 2 * ${dotSql(s"$v.qv", s"$c.qv")} + ${dotSql(s"$c.qv", s"$c.qv")}"

  /** One ASSIGN pass as CTEs: rank `src` (vec_id, qv) against the ≤k-row
    * codebook `cb` by exact integer L2, ties to the lowest cluster. */
  private def assignCtes(src: String, cb: String, out: String) =
    s"""${out}_d AS (SELECT v.vec_id, v.qv, c.cluster, ${d2Sql("v", "c")} AS d2
       |  FROM $src v CROSS JOIN $cb c),
       |$out AS (SELECT vec_id, qv, cluster, d2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |  FROM ${out}_d) WHERE rn = 1)""".stripMargin

  private def updateCtes(asg: String, prevCb: String, out: String) =
    s"""${out}_g AS (SELECT cluster, CAST(i - 1 AS BIGINT) AS dim_idx,
       |    CAST(FLOOR(CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |  FROM (SELECT cluster, qv, unnest(range(1, len(qv) + 1)) AS i FROM $asg)
       |  GROUP BY 1, 2),
       |${out}_v AS (SELECT cluster, list(cq ORDER BY dim_idx) AS qv FROM ${out}_g GROUP BY 1),
       |$out AS (SELECT p.cluster, COALESCE(n.qv, p.qv) AS qv
       |  FROM $prevCb p LEFT JOIN ${out}_v n USING (cluster))""".stripMargin

  /** The full INIT + `iters`×(ASSIGN, UPDATE) chain over `src` (vec_id,
    * qv), CTE names prefixed with `pfx`. Returns (ctes, finalCbName). */
  private def kmeansCteChain(src: String, pfx: String, k: Int, iters: Int): (String, String) = {
    val init =
      s"""${pfx}cb0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster, qv
         |  FROM (SELECT vec_id, qv FROM $src ORDER BY vec_id LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map { i =>
      assignCtes(src, s"${pfx}cb${i - 1}", s"${pfx}a$i") + ",\n" +
        updateCtes(s"${pfx}a$i", s"${pfx}cb${i - 1}", s"${pfx}cb$i")
    }
    ((init +: rounds).mkString(",\n"), s"${pfx}cb$iters")
  }

  /** k-means oracle: replay the same fixed iterations as [[Ann.kmeans]].
    * Each round is two CTE groups — assignment (cross join against the
    * ≤k-row codebook, rank by exact integer L2 then cluster) and update
    * (per-dim floor-average, empty clusters keep the previous centroid
    * through a LEFT JOIN + COALESCE). */
  private val kmeansOracle: String = {
    val (ctes, cbF) = kmeansCteChain("q", "", KmeansK, KmeansIters)
    s"""WITH $qCte,
       |$ctes,
       |${assignCtes("q", cbF, "af")}
       |SELECT vec_id, cluster, d2 AS dist2 FROM af ORDER BY vec_id""".stripMargin
  }

  /** SemDeDup oracle: the kmeans chain (same config as emb_kmeans), then
    * within-cluster lower-id pairs over the final assignment, cosine from
    * the same exact integer dots, distinct dup ids anti-joined back. */
  private val semDedupOracle: String = {
    val (ctes, cbF) = kmeansCteChain("q", "", KmeansK, KmeansIters)
    s"""WITH $qCte,
       |$ctes,
       |${assignCtes("q", cbF, "af")},
       |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |dup AS (SELECT DISTINCT id_b FROM (SELECT id_b, $cosineSql AS c FROM pr)
       |        WHERE c >= CAST($SemThreshold AS DOUBLE))
       |SELECT a.vec_id, a.cluster, (d.id_b IS NULL) AS kept
       |FROM af a LEFT JOIN dup d ON d.id_b = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** MMR oracle: brute top-c candidates, candidate-pair cosines, then
    * the k selection rounds replayed as chained CTEs — round 1 is the
    * pure λ·rel argmax, every later round anti-joins the selected set,
    * takes MAX sim to it, and picks rank 1 of the pinned score; the
    * cumulative sets are MATERIALIZED (the BPE chain lesson — DuckDB
    * re-inlines un-hinted chains exponentially). λ = 0.5 so both
    * coefficients are binary-exact. */
  private val mmrOracle: String = {
    val score = (ms: String) =>
      s"(CAST(0.5 AS DOUBLE) * rel) - (CAST(0.5 AS DOUBLE) * COALESCE($ms, CAST(0 AS DOUBLE)))"
    val rounds = (2 to MmrK).map { r =>
      s"""rem$r AS (SELECT c.* FROM cand c LEFT JOIN s${r - 1} s
         |  ON s.probe_id = c.probe_id AND s.neighbor_id = c.neighbor_id
         |  WHERE s.neighbor_id IS NULL),
         |ms$r AS (SELECT cs.probe_id, cs.a AS neighbor_id, MAX(cs.sim) AS ms
         |  FROM cs JOIN s${r - 1} s ON s.probe_id = cs.probe_id AND s.neighbor_id = cs.b
         |  GROUP BY 1, 2),
         |p$r AS (SELECT probe_id, neighbor_id, rel, sc AS mmr_score,
         |    CAST($r AS BIGINT) AS mmr_rank FROM
         |  (SELECT rr.probe_id, rr.neighbor_id, rr.rel, ${score("m.ms")} AS sc,
         |     ROW_NUMBER() OVER (PARTITION BY rr.probe_id
         |       ORDER BY ${score("m.ms")} DESC, rr.neighbor_id) AS rn
         |   FROM rem$r rr
         |   LEFT JOIN ms$r m ON m.probe_id = rr.probe_id AND m.neighbor_id = rr.neighbor_id)
         |  WHERE rn = 1),
         |s$r AS MATERIALIZED (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $qCte,
       |pp AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM q a, q b WHERE a.vec_id < $MmrProbeMax AND b.vec_id <> a.vec_id),
       |sc0 AS (SELECT probe_id, neighbor_id, $cosineSql AS rel FROM pp),
       |cand AS MATERIALIZED (SELECT probe_id, neighbor_id, rel FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |     ORDER BY rel DESC, neighbor_id) AS rn FROM sc0) WHERE rn <= $MmrC),
       |cs AS MATERIALIZED (SELECT ca.probe_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
       |    CAST(${dotSql("qa.qv", "qb.qv")} AS DOUBLE)
       |      / (sqrt(CAST(${dotSql("qa.qv", "qa.qv")} AS DOUBLE))
       |         * sqrt(CAST(${dotSql("qb.qv", "qb.qv")} AS DOUBLE))) AS sim
       |  FROM cand ca JOIN cand cb
       |    ON ca.probe_id = cb.probe_id AND ca.neighbor_id <> cb.neighbor_id
       |  JOIN q qa ON qa.vec_id = ca.neighbor_id
       |  JOIN q qb ON qb.vec_id = cb.neighbor_id),
       |s1 AS MATERIALIZED (SELECT probe_id, neighbor_id, rel,
       |    (CAST(0.5 AS DOUBLE) * rel) AS mmr_score, CAST(1 AS BIGINT) AS mmr_rank FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |     ORDER BY (CAST(0.5 AS DOUBLE) * rel) DESC, neighbor_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |$rounds
       |SELECT probe_id, neighbor_id, rel, mmr_score, mmr_rank FROM s$MmrK
       |ORDER BY probe_id, mmr_rank""".stripMargin
  }

  /** Cluster-sample oracle: the kmeans chain, then a per-cluster
    * ROW_NUMBER over the identical salted-hash order (u DESC, vec_id —
    * TopKByScore's exact tie contract). */
  private val clusterSampleOracle: String = {
    val (ctes, cbF) = kmeansCteChain("q", "", KmeansK, KmeansIters)
    s"""WITH $qCte,
       |$ctes,
       |${assignCtes("q", cbF, "af")},
       |h AS (SELECT vec_id, cluster,
       |        CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '~cs'), 1, 8) AS BIGINT) AS u
       |      FROM af),
       |r AS (SELECT vec_id, cluster,
       |        ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY u DESC, vec_id) AS sample_rank
       |      FROM h)
       |SELECT vec_id, cluster, sample_rank FROM r
       |WHERE sample_rank <= $ClusterSampleM
       |ORDER BY cluster, sample_rank""".stripMargin
  }

  /** PQ-ADC oracle: per-subspace slices, one kmeans chain each (s0..s3
    * prefixes), codebook union, encode = rank-1 of the scored frame, the
    * probes' distance TABLE is the same scored frame restricted to probe
    * ids, ADC = grouped sum of the m table lookups. */
  private val pqOracle: String = {
    val subDim = PqDim / PqM
    val subCtes = (0 until PqM).map { s =>
      s"sub$s AS (SELECT vec_id, list_slice(qv, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qv FROM q)"
    }.mkString(",\n")
    val chains = (0 until PqM).map(s => kmeansCteChain(s"sub$s", s"s$s", PqK, PqIters))
    val cbUnion = (0 until PqM)
      .map(s => s"SELECT CAST($s AS BIGINT) AS subspace, cluster, qv FROM ${chains(s)._2}")
      .mkString("\n  UNION ALL ")
    s"""WITH $qCte,
       |$subCtes,
       |${chains.map(_._1).mkString(",\n")},
       |cb AS ($cbUnion),
       |vsub AS (SELECT vec_id, CAST(s.subspace AS BIGINT) AS subspace,
       |    list_slice(qv, s.subspace * $subDim + 1, (s.subspace + 1) * $subDim) AS sv
       |  FROM q, (SELECT unnest(range($PqM)) AS subspace) s),
       |scored AS (SELECT v.vec_id, v.subspace, c.cluster,
       |    ${dotSql("v.sv", "v.sv")} - 2 * ${dotSql("v.sv", "c.qv")} + ${dotSql("c.qv", "c.qv")} AS d
       |  FROM vsub v JOIN cb c USING (subspace)),
       |codes AS (SELECT vec_id, subspace, cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cluster) AS rn
       |    FROM scored) WHERE rn = 1),
       |dt AS (SELECT vec_id AS probe_id, subspace, cluster, d FROM scored
       |       WHERE vec_id < $PqProbeMax),
       |adc AS (SELECT t.probe_id, c.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist2
       |        FROM codes c JOIN dt t ON t.subspace = c.subspace AND t.cluster = c.cluster
       |        WHERE c.vec_id <> t.probe_id GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY adc_dist2, neighbor_id) AS "rank" FROM adc)
       |SELECT probe_id, neighbor_id, adc_dist2, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin
  }

  /** Following-PQ oracle: the pqOracle ADC with the per-subspace
    * codebooks trained on the BUILD-TIME corpus state (%5≠3 — exactly
    * the rows the frozen base encoded) and code MEMBERSHIP moved to the
    * corpus's final state (the lshFollowOracle predicate); probes keep
    * their vectors regardless of membership (the request shape), and
    * the distance tables / encodings are identical because the frozen
    * codebooks make the arithmetic independent of membership. */
  private val pqFollowOracle: String = {
    val subDim = PqDim / PqM
    val subCtes = (0 until PqM).map { s =>
      s"sub$s AS (SELECT vec_id, list_slice(qv, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qv FROM q WHERE vec_id % 5 <> 3)"
    }.mkString(",\n")
    val chains = (0 until PqM).map(s => kmeansCteChain(s"sub$s", s"s$s", PqK, PqIters))
    val cbUnion = (0 until PqM)
      .map(s => s"SELECT CAST($s AS BIGINT) AS subspace, cluster, qv FROM ${chains(s)._2}")
      .mkString("\n  UNION ALL ")
    s"""WITH $qCte,
       |$subCtes,
       |${chains.map(_._1).mkString(",\n")},
       |cb AS ($cbUnion),
       |vsub AS (SELECT vec_id, CAST(s.subspace AS BIGINT) AS subspace,
       |    list_slice(qv, s.subspace * $subDim + 1, (s.subspace + 1) * $subDim) AS sv
       |  FROM q, (SELECT unnest(range($PqM)) AS subspace) s),
       |scored AS (SELECT v.vec_id, v.subspace, c.cluster,
       |    ${dotSql("v.sv", "v.sv")} - 2 * ${dotSql("v.sv", "c.qv")} + ${dotSql("c.qv", "c.qv")} AS d
       |  FROM vsub v JOIN cb c USING (subspace)),
       |codes AS (SELECT vec_id, subspace, cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cluster) AS rn
       |    FROM scored) WHERE rn = 1
       |    AND (vec_id % 5 = 3 OR vec_id % 9 = 1 OR vec_id % 7 <> 0)),
       |dt AS (SELECT vec_id AS probe_id, subspace, cluster, d FROM scored
       |       WHERE vec_id < $PqProbeMax),
       |adc AS (SELECT t.probe_id, c.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist2
       |        FROM codes c JOIN dt t ON t.subspace = c.subspace AND t.cluster = c.cluster
       |        WHERE c.vec_id <> t.probe_id GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY adc_dist2, neighbor_id) AS "rank" FROM adc)
       |SELECT probe_id, neighbor_id, adc_dist2, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin
  }

  /** IVF-PQ (IVFADC) oracle: the ivfOracle coarse chain (per-label
    * floor-average codebook, exact-integer assignment, ties to the
    * lowest label), RESIDUALS as per-dim differences re-listed in dim
    * order, one kmeansCteChain per subspace over the residual slices,
    * encode = rank-1 of the scored residual frame, a distance table per
    * (probe, visited list) — the probe's residual is AGAINST THAT
    * LIST'S centroid — and ADC = grouped sum of the m lookups joined on
    * (list, subspace, code). rq/prq are MATERIALIZED (the BPE chain
    * lesson: DuckDB re-inlines un-hinted chains into every consumer). */
  private val ivfPqOracle: String = {
    val subDim = PqDim / PqM
    val subCtes = (0 until PqM).map { s =>
      s"rsub$s AS (SELECT vec_id, list_slice(qv, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qv FROM rq)"
    }.mkString(",\n")
    val chains = (0 until PqM).map(s => kmeansCteChain(s"rsub$s", s"rs$s", PqK, PqIters))
    val cbUnion = (0 until PqM)
      .map(s => s"SELECT CAST($s AS BIGINT) AS subspace, cluster, qv FROM ${chains(s)._2}")
      .mkString("\n  UNION ALL ")
    s"""WITH $qCte,
       |vd AS (SELECT vec_id, label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |vdim AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim_idx, qv[i] AS qe FROM vd),
       |cb AS (SELECT label AS cb_label, dim_idx,
       |         CAST(FLOOR(CAST(SUM(qe) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
       |       FROM vdim GROUP BY 1, 2),
       |cdist AS (SELECT v.vec_id, c.cb_label, SUM((v.qe - c.cq) * (v.qe - c.cq)) AS d2
       |          FROM vdim v JOIN cb c ON c.dim_idx = v.dim_idx GROUP BY 1, 2),
       |rankedc AS (SELECT vec_id, cb_label,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cb_label) AS crn
       |            FROM cdist),
       |inv AS (SELECT vec_id, cb_label FROM rankedc WHERE crn = 1),
       |rg AS (SELECT v.vec_id, v.dim_idx, v.qe - c.cq AS re
       |       FROM vdim v JOIN inv i ON i.vec_id = v.vec_id
       |       JOIN cb c ON c.cb_label = i.cb_label AND c.dim_idx = v.dim_idx),
       |rq AS MATERIALIZED (SELECT vec_id, list(re ORDER BY dim_idx) AS qv FROM rg GROUP BY 1),
       |$subCtes,
       |${chains.map(_._1).mkString(",\n")},
       |cbpq AS ($cbUnion),
       |vsub AS (SELECT vec_id, CAST(s.subspace AS BIGINT) AS subspace,
       |    list_slice(qv, s.subspace * $subDim + 1, (s.subspace + 1) * $subDim) AS sv
       |  FROM rq, (SELECT unnest(range($PqM)) AS subspace) s),
       |scoredpq AS (SELECT v.vec_id, v.subspace, c.cluster,
       |    ${dotSql("v.sv", "v.sv")} - 2 * ${dotSql("v.sv", "c.qv")} + ${dotSql("c.qv", "c.qv")} AS d
       |  FROM vsub v JOIN cbpq c USING (subspace)),
       |codes AS (SELECT vec_id, subspace, cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cluster) AS rn
       |    FROM scoredpq) WHERE rn = 1),
       |plists AS (SELECT vec_id AS probe_id, cb_label FROM rankedc
       |           WHERE vec_id < $PqProbeMax AND crn <= 2),
       |prg AS (SELECT p.probe_id, p.cb_label, v.dim_idx, v.qe - c.cq AS re
       |        FROM plists p JOIN vdim v ON v.vec_id = p.probe_id
       |        JOIN cb c ON c.cb_label = p.cb_label AND c.dim_idx = v.dim_idx),
       |prq AS MATERIALIZED (SELECT probe_id, cb_label, list(re ORDER BY dim_idx) AS qv
       |                     FROM prg GROUP BY 1, 2),
       |psub AS (SELECT probe_id, cb_label, CAST(s.subspace AS BIGINT) AS subspace,
       |    list_slice(qv, s.subspace * $subDim + 1, (s.subspace + 1) * $subDim) AS sv
       |  FROM prq, (SELECT unnest(range($PqM)) AS subspace) s),
       |pt AS (SELECT p.probe_id, p.cb_label, p.subspace, c.cluster,
       |    ${dotSql("p.sv", "p.sv")} - 2 * ${dotSql("p.sv", "c.qv")} + ${dotSql("c.qv", "c.qv")} AS d
       |  FROM psub p JOIN cbpq c USING (subspace)),
       |adc AS (SELECT t.probe_id, co.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist2
       |        FROM codes co JOIN inv i ON i.vec_id = co.vec_id
       |        JOIN pt t ON t.cb_label = i.cb_label AND t.subspace = co.subspace
       |          AND t.cluster = co.cluster
       |        WHERE co.vec_id <> t.probe_id GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY adc_dist2, neighbor_id) AS "rank" FROM adc)
       |SELECT probe_id, neighbor_id, adc_dist2, "rank" FROM r
       |WHERE "rank" <= $K ORDER BY probe_id, "rank"""".stripMargin
  }

  /** Hybrid-search oracle: keyword top-20 by term counts over the same
    * normalized token lists, vector top-20 from the quantized cosine,
    * RRF-fused with the identical 1/(60+rank) operand order. */
  private val hybridOracle: String = {
    val termCounts = HybridTerms
      .map(t => s"len(list_filter(tk, x -> x = '$t'))").mkString(" + ")
    s"""WITH $qCte,
       |norm AS (SELECT doc_id, ${DocQueries.normSql} AS t FROM documents),
       |tokl AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
       |kws AS (SELECT doc_id, CAST($termCounts AS BIGINT) AS kw_score FROM tokl),
       |kwr AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, kw_score,
       |         ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) AS r
       |  FROM kws WHERE kw_score > 0) WHERE r <= 20),
       |p AS (SELECT b.vec_id AS doc_id,
       |        ${dotSql("a.qv", "b.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("b.qv", "b.qv")} AS nn
       |      FROM q a, q b WHERE a.vec_id = 0 AND b.vec_id <> 0),
       |s AS (SELECT doc_id, $cosineSql AS cosine_sim FROM p),
       |vr AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, doc_id) AS r
       |  FROM s) WHERE r <= 20),
       |f AS (SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + k.r), CAST(0.0 AS DOUBLE)) +
       |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.r), CAST(0.0 AS DOUBLE)) AS rrf_score
       |      FROM kwr k FULL OUTER JOIN vr v ON v.doc_id = k.doc_id)
       |SELECT doc_id, rrf_score FROM f
       |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Persisted-hybrid oracle: BM25 top-20 (the doc_bm25 scoring formula
    * with the hybrid terms) fused with the LSH-bucketed vector top-20
    * around probe 0 — both legs replayed from the raw tables, matching
    * the index-served composition bit-for-bit. */
  private val hybridPersistedOracle: String = {
    val terms = HybridTerms
    val idx = terms.indices
    // the tuned vector leg's probed bucket set: own bucket + Hamming-1
    // (mirrors AnnIndex.knnLshServeMultiProbe — same masks as lshMpOracle)
    val mpBuckets = ("bucket" +: Planes.indices.map(i => s"xor(bucket, ${1L << i})"))
      .mkString("[", ", ", "]")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfCols = idx.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    def idfQ(i: Int) =
      s"CAST(round(1000000.0 * ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))) AS BIGINT)"
    def tfPart(i: Int) =
      s"(CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl)))"
    val score = idx.map(i => s"CAST(${idfQ(i)} AS DOUBLE) * (${tfPart(i)})").mkString(" + ")
    val anyHit = idx.map(i => s"tf$i").mkString(" + ")
    s"""WITH $qCte,
       |norm AS (SELECT doc_id, ${DocQueries.normSql} AS t FROM documents),
       |tokl AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
       |tf AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, $tfCols FROM tokl),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
       |         $dfCols FROM tf),
       |sc AS (SELECT doc_id, ($score) / 1000000.0 AS bm25
       |       FROM tf CROSS JOIN st WHERE $anyHit > 0),
       |kwr AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
       |  FROM sc) WHERE r <= 20),
       |b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q),
       |pb AS (SELECT vec_id, qv, unnest($mpBuckets) AS bucket FROM b
       |       WHERE vec_id = 0),
       |p AS (SELECT c.vec_id AS doc_id,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM pb a JOIN b c ON a.bucket = c.bucket
       |      WHERE c.vec_id <> 0),
       |s AS (SELECT doc_id, $cosineSql AS cosine_sim FROM p),
       |vr AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, doc_id) AS r
       |  FROM s) WHERE r <= 20),
       |f AS (SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + k.r), CAST(0.0 AS DOUBLE)) +
       |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.r), CAST(0.0 AS DOUBLE)) AS rrf_score
       |      FROM kwr k FULL OUTER JOIN vr v ON v.doc_id = k.doc_id)
       |SELECT doc_id, rrf_score FROM f
       |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Embedding cluster oracle: the emb_near_dup pair source closed with
    * a recursive reachability CTE, min reachable id per vector — the
    * same fixpoint the pointer-jump label propagation reaches. */
  private val embDupClustersOracle: String =
    s"""WITH RECURSIVE $qCte,
       |b AS (SELECT vec_id, qv, ${bucketSql("qv")} AS bucket FROM q),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |        ${dotSql("a.qv", "c.qv")} AS d,
       |        ${dotSql("a.qv", "a.qv")} AS pn,
       |        ${dotSql("c.qv", "c.qv")} AS nn
       |      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
       |jp AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, $cosineSql AS s FROM p)
       |       WHERE s >= CAST(0.4 AS DOUBLE)),
       |e AS (SELECT id_a AS u, id_b AS v FROM jp
       |      UNION ALL SELECT id_b, id_a FROM jp),
       |reach(id, r) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r)
       |SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |ORDER BY vec_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "emb_dup_clusters" -> embDupClustersOracle,
    "emb_semdedup" -> semDedupOracle,
    "emb_knn_pq" -> pqOracle,
    "emb_knn_pq_persisted" -> pqOracle, // identical ADC from the stored codes
    "emb_kmeans" -> kmeansOracle,
    "emb_cluster_sample" -> clusterSampleOracle,
    "emb_mmr" -> mmrOracle,
    "hybrid_search" -> hybridOracle,
    "hybrid_persisted" -> hybridPersistedOracle, // both legs from stored indexes
    "emb_knn_filtered" -> lshFilteredOracle,
    "emb_knn_brute" -> bruteOracle,
    "emb_knn_rp" -> rpOracle,
    "emb_recall" -> recallOracle,
    "emb_knn_lsh" -> lshOracle,
    "emb_knn_lsh_mp" -> lshMpOracle,
    "emb_knn_lsh_tuned" -> lshMpOracle, // persisted multi-probe serve == in-query selection
    "emb_knn_lsh_persisted" -> lshOracle, // identical selection from the stored index
    "emb_knn_lsh_incremental" -> lshOracle, // append-then-serve == full rebuild
    "emb_knn_lsh_follow" -> lshFollowOracle, // base+delta == rebuild on final state
    "emb_knn_lsh_compacted" -> lshCompactedOracle, // fold + cursor handoff == final state
    "emb_knn_lsh_window" -> lshOracle, // same selection, window-shaped plan
    "emb_knn_ivf" -> ivfOracle,
    "emb_knn_ivf_persisted" -> ivfOracle, // identical selection from the stored lists
    "emb_knn_ivf_incremental" -> ivfOracle, // append-then-serve == full rebuild
    "emb_knn_ivf_follow" -> ivfFollowOracle, // base+delta, frozen build-time codebook
    "emb_knn_ivf_compacted" -> ivfCompactedOracle, // fold + frozen codebook == final state
    "emb_knn_pq_incremental" -> pqOracle, // append-then-serve == full rebuild
    "emb_knn_pq_follow" -> pqFollowOracle, // base+delta codes, frozen codebooks
    "emb_knn_ivfpq" -> ivfPqOracle,
    "emb_knn_sq8" -> sq8Oracle,
    "emb_knn_bq" -> bqOracle,
    "emb_knn_bq_persisted" -> bqOracle, // identical selection from stored words
    "emb_knn_bq_incremental" -> bqOracle, // append-then-serve == one-shot build
    "emb_knn_bq_follow" -> bqFollowOracle, // base+delta == rebuild on final state, frozen params
    "emb_knn_bq_compacted" -> bqCompactedOracle, // fold + cursor handoff == final state
    "emb_knn_sq8_persisted" -> sq8Oracle, // identical selection from stored bytes
    "emb_knn_sq8_incremental" -> sq8Oracle, // append-then-serve == one-shot build
    "emb_knn_sq8_follow" -> sq8FollowOracle, // base+delta == rebuild on final state, frozen params
    "emb_knn_sq8_compacted" -> sq8CompactedOracle, // fold + cursor handoff == final state
    "emb_near_dup" -> nearDupOracle,
    "emb_near_dup_banded" -> nearDupBandedOracle,
    "emb_near_dup_banded_scaled" -> nearDupBandedOracleFor(BandedPlanesScaled),
    "emb_centroids" -> centroidsOracle,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_dup_clusters" -> embDupClusters _,
    "emb_semdedup" -> embSemDedup _,
    "emb_knn_pq" -> embKnnPq _,
    "emb_knn_pq_persisted" -> embKnnPqPersisted _,
    "emb_kmeans" -> embKmeans _,
    "emb_cluster_sample" -> embClusterSample _,
    "emb_mmr" -> embMmr _,
    "hybrid_search" -> hybridSearch _,
    "hybrid_persisted" -> hybridPersisted _,
    "emb_knn_filtered" -> embKnnFiltered _,
    "emb_knn_brute" -> embKnnBrute _,
    "emb_knn_rp" -> embKnnRp _,
    "emb_recall" -> embRecall _,
    "emb_knn_lsh" -> embKnnLsh _,
    "emb_knn_lsh_mp" -> embKnnLshMp _,
    "emb_knn_lsh_tuned" -> embKnnLshTuned _,
    "emb_knn_lsh_persisted" -> embKnnLshPersisted _,
    "emb_knn_lsh_incremental" -> embKnnLshIncremental _,
    "emb_knn_lsh_follow" -> embKnnLshFollow _,
    "emb_knn_lsh_compacted" -> embKnnLshCompacted _,
    "emb_knn_ivf_follow" -> embKnnIvfFollow _,
    "emb_knn_ivf_compacted" -> embKnnIvfCompacted _,
    "emb_knn_lsh_window" -> embKnnLshWindow _,
    "emb_knn_ivf" -> embKnnIvf _,
    "emb_knn_ivf_persisted" -> embKnnIvfPersisted _,
    "emb_knn_ivf_incremental" -> embKnnIvfIncremental _,
    "emb_knn_pq_incremental" -> embKnnPqIncremental _,
    "emb_knn_pq_follow" -> embKnnPqFollow _,
    "emb_knn_ivfpq" -> embKnnIvfPq _,
    "emb_knn_sq8" -> embKnnSq8 _,
    "emb_knn_bq" -> embKnnBq _,
    "emb_knn_bq_persisted" -> embKnnBqPersisted _,
    "emb_knn_bq_incremental" -> embKnnBqIncremental _,
    "emb_knn_bq_follow" -> embKnnBqFollow _,
    "emb_knn_bq_compacted" -> embKnnBqCompacted _,
    "emb_knn_sq8_persisted" -> embKnnSq8Persisted _,
    "emb_knn_sq8_incremental" -> embKnnSq8Incremental _,
    "emb_knn_sq8_follow" -> embKnnSq8Follow _,
    "emb_knn_sq8_compacted" -> embKnnSq8Compacted _,
    "emb_near_dup" -> embNearDup _,
    "emb_near_dup_banded" -> embNearDupBanded _,
    "emb_near_dup_banded_scaled" -> embNearDupBandedScaled _,
    "emb_centroids" -> embCentroids _,
  )
}
