package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor and vector-similarity operators over
  * ARRAY<FLOAT> embedding columns.
  *
  * Determinism contract: all similarity arithmetic runs on QUANTIZED
  * integers — each element becomes round(x·1000) as a 64-bit int — so dot
  * products are exact sums independent of fold order, and the only
  * floating-point ops are a final sqrt/divide that every IEEE engine
  * evaluates identically. This is what makes cosine scores hash-comparable
  * against an ANSI-SQL oracle (and reproducible across cluster runs, where
  * partition-order-dependent double sums would not be).
  *
  * Scale design:
  *  - [[knnBrute]] is the correctness baseline: broadcast the (small) probe
  *    set against the full collection — a broadcast nested-loop scan, fine
  *    for bounded probe counts, O(probes·N) by construction;
  *  - [[knnLsh]] is the scale path: sign-random-hyperplane buckets turn the
  *    search into an equi-join on bucket id (shuffle by bucket, never
  *    all-pairs). More planes → smaller buckets → cheaper and lower recall;
  *  - [[centroids]] is one posexplode + hash-aggregate (map-side partial
  *    sums), the IVF-style coarse quantizer you'd train at 100 TB.
  */
object Ann {

  /** Quantization scale: 3 decimal digits of each embedding element. */
  val Scale = 1000

  /** ARRAY<FLOAT> → ARRAY<BIGINT>, element-wise round(x·Scale). The
    * float→double promotion happens before the multiply so every engine
    * rounds the same double. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd expression (see [[graft.expressions.LongDotProduct]]).
    * Bit-identical to aggregate(zip_with(a,b,_*_), 0L, _+_) on the
    * equal-length null-free arrays quantize produces, but runs as a
    * primitive long loop inside whole-stage codegen instead of the HOF
    * interpreter. */
  def dotQ(a: Column, b: Column): Column =
    graft.expressions.LongDotProduct(a, b)

  /** Cosine similarity from quantized vectors: exact integer dots, then
    * sqrt+divide (4 IEEE ops — deterministic everywhere). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

  /** Deterministic integer hyperplanes (Knuth multiplicative hash of the
    * flat index, recentered to ±2³¹). Only the SIGN of the plane·vector
    * dot matters for LSH, so integer "random" directions are as good as
    * Gaussians — and exactly reproducible in any engine, with dot values
    * bounded by 1000·2³¹·dim « 2⁵³ (no overflow, double-exact too). */
  def hashPlanes(nPlanes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(nPlanes, dim) { (i, j) =>
      ((2654435761L * (i.toLong * dim + j + 1)) & 0xffffffffL) - (1L << 31)
    }

  /** Sign-LSH bucket id in [0, 2^planes): bit i = (v·plane_i >= 0). */
  def lshBucket(qv: Column, planes: Array[Array[Long]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dotQ(qv, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Brute-force top-k cosine neighbors for each probe row (the rows
    * matching `probePred`). Probes are broadcast; every (probe, candidate)
    * pair is scored — the exact baseline an ANN variant is judged against.
    * Selection runs through the bounded top-k aggregate, so the shuffle
    * after scoring carries ≤ k rows per probe per partition, not the full
    * N·probes scored frame. Returns (probe_id, neighbor_id, cosine_sim,
    * rank), rank 1..k. */
  def knnBrute(df: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int): DataFrame = {
    val qdf = quantized(df, idCol, vecCol)
    val probes = qdf.filter(probePred)
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"))
    val cands = qdf
      .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"), col("__n").as("__nn"))
    topKAgg(cands.crossJoin(broadcast(probes)), k)
  }

  /** [[knnBrute]] over an ALREADY-QUANTIZED integer vector column
    * (ARRAY<BIGINT>) — the entry point for search in a DERIVED space
    * ([[randomProject]]'s JL sketch, a stored PQ/SQ8 reconstruction)
    * where re-quantizing would double-scale. Same plan and selection
    * as knnBrute: broadcast probes, one dot per pair via the
    * precomputed norms, bounded top-k aggregate. */
  def knnBruteQ(df: DataFrame, idCol: String, qCol: String,
      probePred: Column, k: Int): DataFrame = {
    val qdf = df.select(col(idCol), col(qCol).as("__q"), probePred.as("__probe"))
      .withColumn("__n", dotQ(col("__q"), col("__q")))
    val probes = qdf.filter(col("__probe"))
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"))
    val cands = qdf
      .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"), col("__n").as("__nn"))
    topKAgg(cands.crossJoin(broadcast(probes)), k)
  }

  /** Deterministic ±1 sign matrix — the database-friendly
    * Johnson-Lindenstrauss projection of Achlioptas 2003 (JCSS 66(4):
    * Rademacher entries satisfy the JL lemma with the same distortion
    * bounds as Gaussians): row j is output dimension j's signs over the
    * input dimensions, derived from the [[hashPlanes]] Knuth hash so
    * any engine reproduces the matrix exactly. */
  def signPlanes(dimOut: Int, dimIn: Int): Array[Array[Long]] =
    hashPlanes(dimOut, dimIn).map(_.map(v => if (v >= 0L) 1L else -1L))

  /** RANDOM PROJECTION to `dimOut` integer dimensions: y_j = q·s_j over
    * the quantized input — exact BIGINT sums (|y_j| ≤ dimIn·1000·|x|max
    * « 2^53), bit-reproducible anywhere. The 100 TB preprocessing move:
    * a 64→16 projection shrinks every downstream ANN scan's bytes and
    * dot-product cost 4× while JL keeps relative distances within the
    * (1±ε) band, and the matrix is code, not state — nothing to train,
    * store, or version. Output: (idCol, `outCol` ARRAY<BIGINT>). */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      dimOut: Int, dimIn: Int, outCol: String = "rp"): DataFrame = {
    val signs = signPlanes(dimOut, dimIn)
    df.select(col(idCol), quantize(col(vecCol)).as("__q"))
      .select(col(idCol),
        array(signs.map(s => dotQ(col("__q"), array(s.map(lit): _*))): _*)
          .as(outCol))
  }

  /** (id, quantized vector, self-dot): the squared norm is computed ONCE
    * per row, not once per candidate pair — at N·candidates pairs that is
    * the difference between 1 and 3 dot products per comparison. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), quantize(col(vecCol)).as("__q"))
      .withColumn("__n", dotQ(col("__q"), col("__q")))

  /** (candidate, probe) pairs meeting in their shared LSH bucket — the
    * equi-join on bucket id every LSH variant selects from (no cartesian
    * product in the plan — asserted by AnnSpec). `candPred` restricts
    * the searchable side (metadata-filtered search); both predicates
    * evaluate BEFORE the metadata columns are projected away, and the
    * candidate filter lands on the scan side of the join
    * (pushdown-eligible). */
  private def lshPaired(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], probePred: Column,
      candPred: Column = lit(true)): DataFrame = {
    val marked = df.select(col(idCol), quantize(col(vecCol)).as("__q"),
        probePred.as("__probe"), candPred.as("__cand"))
      .withColumn("__n", dotQ(col("__q"), col("__q")))
      .withColumn("__bucket", lshBucket(col("__q"), planes))
    val probes = marked.filter(col("__probe"))
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"),
        col("__n").as("__pn"), col("__bucket"))
    val cands = marked.filter(col("__cand"))
      .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"),
        col("__n").as("__nn"), col("__bucket"))
    cands.join(broadcast(probes), "__bucket")
  }

  /** LSH-bucketed top-k: probes only meet candidates in their own
    * hyperplane bucket. Recall < 1 by design; at scale this is the shape
    * that survives, with multi-probe or more tables as the recall knob.
    *
    * Selection runs through the bounded top-k AGGREGATE (see
    * [[graft.expressions.TopKByScore]]): the aggregate runs partially on
    * the map side, so the shuffle carries at most k candidates per probe
    * per upstream partition instead of every scored bucket-mate. */
  def knnLsh(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], probePred: Column, k: Int): DataFrame =
    topKAgg(lshPaired(df, idCol, vecCol, planes, probePred), k)

  /** Metadata-FILTERED LSH top-k: like [[knnLsh]], but only candidates
    * satisfying `candPred` are searchable — the "top-k among docs with
    * lang='en' / license=permissive / date>cutoff" shape every vector
    * store serves. Both predicates evaluate BEFORE the metadata columns
    * are projected away (so they may reference any input column), and
    * the candidate filter lands in the scan (pushdown-eligible) — the
    * filtered-out rows never reach the bucket join, which is cheaper
    * than post-filtering neighbors AND returns a full k whenever k
    * matches exist in the probe's bucket (post-filtering could return
    * fewer). Probes need not satisfy `candPred` themselves. */
  def knnLshFiltered(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], probePred: Column, candPred: Column, k: Int): DataFrame =
    topKAgg(lshPaired(df, idCol, vecCol, planes, probePred, candPred), k)

  /** The row_number-window form of [[knnLsh]] — shuffles EVERY scored
    * candidate to its probe's partition before ranking, so it exists only
    * as the oracle-parity variant (its shape mirrors the ROW_NUMBER oracle
    * SQL) and as the window-vs-aggregate equivalence anchor. Selection is
    * provably identical: both rank by the same total (score desc, id asc)
    * order. Use [[knnLsh]] everywhere else. */
  def knnLshWindow(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], probePred: Column, k: Int): DataFrame =
    topK(lshPaired(df, idCol, vecCol, planes, probePred), k)

  private[operators] def topKAgg(paired: DataFrame, k: Int): DataFrame = {
    import graft.expressions.TopKByScore
    val scored = paired
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim",
        pairCosine(col("__pq"), col("__nq"), col("__pn"), col("__nn")))
    scored.groupBy("probe_id")
      .agg(TopKByScore(col("cosine_sim"), col("neighbor_id").cast("long"), k).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")))
      .select(col("probe_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cosine_sim"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Pairwise cosine from the precomputed norms: exact integer cross-dot,
    * then the same sqrt/divide sequence as [[cosineQ]]. */
  private def pairCosine(pq: Column, nq: Column, pn: Column, nn: Column): Column =
    dotQ(pq, nq).cast("double") / (sqrt(pn.cast("double")) * sqrt(nn.cast("double")))

  private def topK(paired: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = paired
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim",
        pairCosine(col("__pq"), col("__nq"), col("__pn"), col("__nn")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cosine_sim", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: same-bucket pairs (id_a <
    * id_b) with cosine >= `threshold`. The LSH bucket equi-join keeps it
    * off the all-pairs cliff; the threshold filter runs on the exact
    * quantized cosine.
    *
    * SCALE NOTE: with FIXED planes, bucket occupancy grows ∝ n/2^r and
    * the same-bucket pair volume crosses into quadratic growth once the
    * corpus outgrows the keyspace — measured at the sf3→sf10 decade
    * (16 buckets, 200k vectors: 10.5× wall for 3.3× data). Size r ∝
    * log2(n/targetBucket) as the corpus grows, and recover the recall
    * lost to longer keys with [[nearDupPairsBanded]]'s independent
    * tables — the prescribed large-corpus path. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], threshold: Double): DataFrame = {
    val qdf = quantized(df, idCol, vecCol)
      .withColumn("__bucket", lshBucket(col("__q"), planes))
    val a = qdf.select(col("__bucket"), col(idCol).as("id_a"),
      col("__q").as("__qa"), col("__n").as("__na"))
    val b = qdf.select(col("__bucket"), col(idCol).as("id_b"),
      col("__q").as("__qb"), col("__n").as("__nb"))
    a.join(b, "__bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        pairCosine(col("__qa"), col("__qb"), col("__na"), col("__nb")))
      .filter(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
  }

  /** BANDED embedding near-dup pairs — the SCALE path beside
    * [[nearDupPairs]]'s single table, mirroring how combination banding
    * rescued the 64-bit simhash pairs: a single sign-LSH table with
    * FIXED planes has bucket occupancy ∝ n/2^r, so its same-bucket pair
    * volume crosses into Σ C(n/2^r, 2) quadratic growth as the corpus
    * outgrows the keyspace (measured: the 4-plane/16-bucket gate went
    * 10.5× for 3.3× data at 200k vectors). The production discipline is
    * r ∝ log2(n/targetBucket) — and because per-plane agreement
    * probability p = 1 − θ/π decays recall as p^r, the lost recall is
    * bought back with b INDEPENDENT tables (recall 1 − (1−p^r)^b, the
    * classic LSH banding trade).
    *
    * Shape: each vector explodes into b (table, bucket) keys —
    * fingerprint-sized, never pair-sized; candidates meet in the
    * (table, bucket) equi-join; the pair set DEDUPS on ids BEFORE the
    * exact verify (a pair sharing buckets in several tables scores
    * once); verify re-joins the quantized vectors and keeps cosine >=
    * threshold. Output identical in contract to [[nearDupPairs]]
    * (id_a < id_b, exact quantized cosine) over the banded candidate
    * front. */
  def nearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
      tables: Array[Array[Array[Long]]], threshold: Double): DataFrame = {
    require(tables.nonEmpty, "nearDupPairsBanded: no hash tables given")
    val qdf = quantized(df, idCol, vecCol)
    val keyed = qdf.select(col(idCol),
        explode(array(tables.zipWithIndex.map { case (planes, t) =>
          struct(lit(t.toLong).as("t"), lshBucket(col("__q"), planes).as("b"))
        }: _*)).as("__tb"))
      .select(col(idCol), col("__tb.t").as("__t"), col("__tb.b").as("__bucket"))
    val cands = keyed.select(col("__t"), col("__bucket"), col(idCol).as("id_a"))
      .join(keyed.select(col("__t"), col("__bucket"), col(idCol).as("id_b")),
        Seq("__t", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(qdf.select(col(idCol).as("id_a"), col("__q").as("__qa"),
        col("__n").as("__na")), "id_a")
      .join(qdf.select(col(idCol).as("id_b"), col("__q").as("__qb"),
        col("__n").as("__nb")), "id_b")
      .withColumn("cosine_sim",
        pairCosine(col("__qa"), col("__qb"), col("__na"), col("__nb")))
      .filter(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
  }

  /** Multi-probe LSH top-k: each probe searches its own bucket AND every
    * bucket at Hamming distance 1 (the planes whose sign-boundary the
    * vector sits closest to are the likeliest to flip — probing the
    * 1-bit neighborhood recovers most of the recall lost to bucketing at
    * (nPlanes+1)× the candidate cost, still an equi-join, never
    * all-pairs). Selection through the bounded top-k aggregate, same as
    * [[knnLsh]]. */
  def knnLshMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]], probePred: Column, k: Int): DataFrame = {
    val qdf = quantized(df, idCol, vecCol)
      .withColumn("__bucket", lshBucket(col("__q"), planes))
    val cands = qdf
      .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"),
        col("__n").as("__nn"), col("__bucket"))
    val probeBuckets = array(lit(0L) +: planes.indices.map(i => lit(1L << i)): _*)
    val probes = qdf.filter(probePred)
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"),
        explode(transform(probeBuckets, m => col("__bucket").bitwiseXOR(m)))
          .as("__bucket"))
    topKAgg(cands.join(broadcast(probes), "__bucket"), k)
  }

  /** Quantized IVF coarse codebook from a labeling: per (label, dim) the
    * FLOOR-average of the quantized elements — exact integer arithmetic,
    * so any engine derives the identical codebook. In production the
    * labels come from k-means iterations built on these same primitives;
    * any deterministic partition of the collection works as an IVF
    * codebook. Returns (cb_label, dim_idx, cq). */
  def ivfCodebook(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("cb_label"), posexplode_outer(quantize(col(vecCol))))
      .filter(col("col").isNotNull)
      .withColumnsRenamed(Map("pos" -> "dim_idx", "col" -> "q"))
      .groupBy(col("cb_label"), col("dim_idx").cast("long").as("dim_idx"))
      .agg(floor(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("cq"))

  /** IVF(-flat) top-k: every vector is assigned to its nearest codebook
    * centroid (exact integer L2, ties to the lowest label); each probe
    * searches only the `nProbe` nearest inverted lists.
    *
    * The codebook stays a DataFrame end to end: it is pivoted to one
    * (label, centroid-vector, self-dot) row per centroid and BROADCAST
    * against the collection — never collected into per-row literal
    * expressions (a driver bottleneck and a codegen bomb at realistic
    * nlist ≥ 1k centroids). Scoring is dist(q,c) = q·q − 2·q·c + c·c via
    * the codegen'd dot product; assignment is a map-side-combined
    * min(struct(dist, label)) per vector (deterministic tie to the
    * lowest label); probe lists are rank-within-probe ≤ nProbe over the
    * bounded probe×nlist frame. Candidate search is an equi-join on the
    * centroid id — inverted lists, never all-pairs. */
  /** Pivot an (cb_label, dim_idx, cq) codebook → one row per centroid:
    * (cb_label, __cv vector in dim order, __cc self-dot). array_sort on
    * struct(dim_idx, cq) orders lexicographically by dim_idx —
    * engine-portable. Shared with [[AnnIndex]]'s persisted layout. */
  private[operators] def pivotCodebook(codebook: DataFrame): DataFrame =
    codebook
      .groupBy(col("cb_label"))
      .agg(array_sort(collect_list(struct(col("dim_idx"), col("cq")))).as("__cs"))
      .select(col("cb_label"),
        transform(col("__cs"), s => s.getField("cq")).as("__cv"))
      .withColumn("__cc", dotQ(col("__cv"), col("__cv")))

  def knnIvf(df: DataFrame, idCol: String, vecCol: String, codebook: DataFrame,
      probePred: Column, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cvecs = pivotCodebook(codebook)
    val qdf = quantized(df, idCol, vecCol)
    val scored = qdf.crossJoin(broadcast(cvecs))
      .withColumn("__dist",
        col("__n") - lit(2L) * dotQ(col("__q"), col("__cv")) + col("__cc"))
    // Nearest centroid per vector: min over (dist, label) structs runs
    // partially on the map side, so the shuffle carries one candidate
    // per vector per partition — not the N×nlist scored frame. first()
    // is safe: __q/__n are functionally determined by the id.
    val assigned = scored.groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("cb_label"))).as("__best"),
        first(col("__q")).as("__q"), first(col("__n")).as("__n"))
      .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"),
        col("__n").as("__nn"), col("__best").getField("cb_label").as("__cent"))
    // Probe lists: the filtered probe set is bounded, so a row_number
    // window over probes×nlist is tiny by construction.
    val pw = Window.partitionBy(col(idCol)).orderBy(col("__dist"), col("cb_label"))
    val probes = scored.filter(probePred)
      .withColumn("__r", row_number().over(pw))
      .filter(col("__r") <= nProbe)
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"),
        col("__n").as("__pn"), col("cb_label").as("__cent"))
    topKAgg(assigned.join(broadcast(probes), "__cent"), k)
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists — the standard
    * hybrid-search combiner (keyword top-k ∪ vector top-k): each list
    * contributes 1/(c + rank) for the ids it ranked (0 for the ids it
    * didn't), summed and cut to the fused top-k by (score desc, id).
    * Rank-based (not score-based), so the two sides' incomparable score
    * scales never need calibration; `c` (default 60, the value from the
    * original RRF paper's grid search) damps the head. Both inputs must
    * carry (idCol, rank); the full-outer join is over two ≤top-k lists —
    * trivially broadcastable at any corpus scale, since the expensive
    * part (producing the lists) already bounded them. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, k: Int, c: Int = 60): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(c >= 0, s"c must be non-negative, got $c")
    val ra = a.select(col(idCol), col("rank").cast("long").as("__ra"))
    val rb = b.select(col(idCol), col("rank").cast("long").as("__rb"))
    ra.join(rb, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(c.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toLong) + col("__rb")), lit(0.0))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
  }

  /** Fixed-iteration k-means over the quantized vectors, built from the
    * same primitives as [[knnIvf]] (the "labels come from k-means
    * iterations" its codebook scaladoc promises):
    *
    *  - INIT: the k lowest-id vectors become centroids 0..k-1 (id order)
    *    — deterministic, engine-portable, no RNG;
    *  - ASSIGN: nearest centroid by EXACT integer L2 (q·q − 2·q·c + c·c
    *    via the codegen'd dot product), ties to the lowest cluster id;
    *    the centroid frame is broadcast, selection is a map-side-combined
    *    min(struct) per vector — never a shuffle of the N×k scored frame;
    *  - UPDATE: per (cluster, dim) FLOOR-average of the quantized
    *    elements (exact: the integer sums stay < 2^53, so the one double
    *    divide + floor is identical on every engine). A cluster that
    *    lost every member keeps its previous centroid.
    *
    * Every step is exact integer arithmetic, so a SQL oracle running the
    * same fixed iterations derives bit-identical assignments. Per-round
    * the (tiny, k×dim) codebook is localCheckpoint'd and the previous
    * round's freed — the CC/pointer-jump lifecycle, so `iters` rounds
    * never stack lineage. Returns (idCol, cluster, dist2) — dist2 the
    * exact integer L2 to the final centroid; the frame is an eager
    * checkpoint (inputs are freed), release via [[Curate.release]]. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    val qdf = quantized(df, idCol, vecCol).localCheckpoint(true)
    try {
      val cb = kmeansCodebookQ(qdf, idCol, k, iters)
      try {
        assignQ(qdf, idCol, cb).select(col(idCol), col("cluster"), col("dist2"))
          .localCheckpoint(true)
      } finally NearDup.freeCheckpoint(cb)
    } finally NearDup.freeCheckpoint(qdf)
  }

  /** One k-means ASSIGN pass: nearest codebook row by exact integer L2
    * (q·q − 2·q·c + c·c), ties to the lowest cluster id, broadcast
    * codebook + map-side-combined min(struct) — never a shuffle of the
    * N×k scored frame. Input must be a [[quantized]] frame. */
  private def assignQ(qdf: DataFrame, idCol: String, cb: DataFrame): DataFrame =
    qdf.crossJoin(broadcast(cb))
      .withColumn("__dist",
        col("__n") - lit(2L) * dotQ(col("__q"), col("__cv")) + col("__cc"))
      .groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("cluster"))).as("__best"),
        first(col("__q")).as("__q"), first(col("__n")).as("__n"))
      .select(col(idCol), col("__q"), col("__n"),
        col("__best").getField("cluster").as("cluster"),
        col("__best").getField("__dist").as("dist2"))

  private def kmeansCodebookQ(qdf: DataFrame, idCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    import org.apache.spark.sql.expressions.Window
    var cb = qdf.orderBy(col(idCol)).limit(k)
      // lit partition key on the k-row seed frame (see Bm25.topK's note)
      .select((row_number().over(Window.partitionBy(lit(0))
            .orderBy(col(idCol))) - 1).cast("long")
          .as("cluster"),
        col("__q").as("__cv"))
      .withColumn("__cc", dotQ(col("__cv"), col("__cv")))
      .localCheckpoint(true)
    try {
      for (_ <- 1 to iters) {
        val sums = assignQ(qdf, idCol, cb)
          .select(col("cluster"), posexplode_outer(col("__q")))
          .filter(col("col").isNotNull)
          .groupBy(col("cluster"), col("pos"))
          .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("cq"))
        val newVecs = sums
          .groupBy(col("cluster"))
          .agg(array_sort(collect_list(struct(col("pos"), col("cq")))).as("__cs"))
          .select(col("cluster"), transform(col("__cs"), s => s.getField("cq")).as("__nv"))
        val next = cb.join(newVecs, Seq("cluster"), "left_outer")
          .select(col("cluster"), coalesce(col("__nv"), col("__cv")).as("__cv"))
          .withColumn("__cc", dotQ(col("__cv"), col("__cv")))
          .localCheckpoint(true)
        NearDup.freeCheckpoint(cb)
        cb = next
      }
      cb
    } catch { case e: Throwable => NearDup.freeCheckpoint(cb); throw e }
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings with fixed-iteration [[kmeans]], then within
    * each cluster drop every row whose cosine to ANY lower-id cluster-mate
    * is >= `threshold` — the keep-lowest-id exemplar rule, deterministic
    * with no RNG. Returns every input row as (idCol, cluster, kept).
    *
    * Scale shape: the pair generation is an EQUI-JOIN on the cluster id —
    * never corpus all-pairs; cost is Σ C(|cluster|,2), and the k knob
    * makes clusters as small as the budget needs (the paper runs k=50k on
    * LAION-scale corpora so each cluster is a few thousand rows). The
    * dup-id set aggregates through distinct (map-side combined) and joins
    * back as a broadcast-eligible id list. All arithmetic is the quantized
    * exact-integer cosine, so a SQL oracle replaying the same k-means
    * rounds derives bit-identical keep decisions. Result is an eager
    * checkpoint (inputs freed); release via [[Curate.release]]. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val qdf = quantized(df, idCol, vecCol).localCheckpoint(true)
    try {
      val cb = kmeansCodebookQ(qdf, idCol, k, iters)
      try {
        // one assignment pass, checkpointed: the frame feeds both join
        // sides AND the output — without the checkpoint the broadcast
        // codebook join would re-run three times
        val asg = assignQ(qdf, idCol, cb).localCheckpoint(true)
        try {
          val a = asg.select(col("cluster"), col(idCol).as("id_a"),
            col("__q").as("__qa"), col("__n").as("__na"))
          val b = asg.select(col("cluster"), col(idCol).as("id_b"),
            col("__q").as("__qb"), col("__n").as("__nb"))
          val dupIds = a.join(b, "cluster")
            .filter(col("id_a") < col("id_b"))
            .filter(pairCosine(col("__qa"), col("__qb"), col("__na"), col("__nb"))
              >= threshold)
            .select(col("id_b").as(idCol)).distinct()
            .withColumn("__dup", lit(true))
          asg.join(dupIds, Seq(idCol), "left_outer")
            .select(col(idCol), col("cluster"), col("__dup").isNull.as("kept"))
            .localCheckpoint(true)
        } finally NearDup.freeCheckpoint(asg)
      } finally NearDup.freeCheckpoint(cb)
    } finally NearDup.freeCheckpoint(qdf)
  }

  /** MMR-DIVERSIFIED top-k re-ranking (Carbonell & Goldstein 1998,
    * "maximal marginal relevance" — the classic diversification of a
    * relevance-ranked list, the retrieval-side answer to "my top-k are
    * five copies of the same document"): from each probe's exact brute
    * top-`c` candidates, iteratively select the candidate maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
    * against similarity to what is already picked — until `k` are
    * chosen or the probe's candidates are exhausted (a probe with
    * fewer than `k` candidates returns them all). Selection order IS
    * the output ranking.
    *
    * Scale shape: candidate generation is the [[knnBrute]] pattern
    * (bounded aggregate — replace with an LSH/IVF front at larger N);
    * candidate-pair similarities are a per-probe c×c equi-join (c is a
    * constant — the frame is probes·c² rows, dimension-sized); then the
    * k selection ROUNDS run as k driver-stepped frame-wide jobs, each an
    * anti-join + max-sim aggregate + per-probe argmax over ALL probes
    * simultaneously — per-round cost O(probes·c²), never corpus-sized;
    * rounds are localCheckpoint-stepped with the previous round freed
    * (the CC/kmeans lifecycle).
    *
    * Determinism: rel and sim are the quantized exact-integer cosines
    * (pinned sqrt/divide); λ must be 0.5 by default so BOTH λ and 1−λ
    * are binary-exact (0.7 would make 1−λ = 0.30000000000000004 — a
    * cross-engine landmine); scores combine in pinned order; ties break
    * to the lowest candidate id. Returns (probe_id, neighbor_id, rel,
    * mmr_score, mmr_rank); an eager checkpoint (inputs freed), release
    * via [[Curate.release]]. */
  def mmrDiversify(df: DataFrame, idCol: String, vecCol: String,
      probePred: Column, c: Int, k: Int, lam: Double = 0.5): DataFrame = {
    require(k >= 1 && c >= 1, s"need k >= 1 and c >= 1, got c=$c k=$k")
    require(lam >= 0.0 && lam <= 1.0, s"lambda must be in [0,1], got $lam")
    val qdf = quantized(df, idCol, vecCol).localCheckpoint(true)
    try {
      val probes = qdf.filter(probePred)
        .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"))
      val top = topKAgg(qdf
          .select(col(idCol).as("neighbor_id"), col("__q").as("__nq"), col("__n").as("__nn"))
          .crossJoin(broadcast(probes)), c)
        .select(col("probe_id"), col("neighbor_id"), col("cosine_sim").as("rel"))
      // candidates re-armed with their vectors (one pruned equi-join);
      // feeds the pair-sim join twice and every round — checkpoint once
      val cands = top
        .join(qdf.select(col(idCol).as("neighbor_id"),
          col("__q").as("__cq"), col("__n").as("__cn")), Seq("neighbor_id"))
        .localCheckpoint(true)
      try {
        val sims = cands.select(col("probe_id"), col("neighbor_id").as("__a"),
            col("__cq").as("__aq"), col("__cn").as("__an"))
          .join(cands.select(col("probe_id"), col("neighbor_id").as("__b"),
            col("__cq").as("__bq"), col("__cn").as("__bn")), Seq("probe_id"))
          .filter(col("__a") =!= col("__b"))
          .select(col("probe_id"), col("__a"), col("__b"),
            pairCosine(col("__aq"), col("__bq"), col("__an"), col("__bn")).as("__sim"))
          .localCheckpoint(true)
        try {
          val lamC = lit(lam)
          val oneMinus = lit(1.0) - lit(lam) // computed once, same value both engines
          def pickRound(selected: Option[DataFrame], r: Int): DataFrame = {
            val rem = selected match {
              case None => cands
              case Some(s) => cands.join(
                s.select(col("probe_id"), col("neighbor_id")),
                Seq("probe_id", "neighbor_id"), "left_anti")
            }
            val scored = selected match {
              case None => rem.withColumn("__score", lamC * col("rel"))
              case Some(s) =>
                val ms = sims.join(s.select(col("probe_id"), col("neighbor_id").as("__b")),
                    Seq("probe_id", "__b"))
                  .groupBy(col("probe_id"), col("__a").as("neighbor_id"))
                  .agg(max(col("__sim")).as("__ms"))
                rem.join(ms, Seq("probe_id", "neighbor_id"), "left_outer")
                  .withColumn("__score",
                    (lamC * col("rel")) - (oneMinus * coalesce(col("__ms"), lit(0.0))))
            }
            scored.groupBy(col("probe_id"))
              .agg(max(struct(col("__score"), (-col("neighbor_id")).as("__nid"),
                col("rel").as("__rel"))).as("__m"))
              .select(col("probe_id"), (-col("__m.__nid")).as("neighbor_id"),
                col("__m.__rel").as("rel"), col("__m.__score").as("mmr_score"),
                lit(r.toLong).as("mmr_rank"))
          }
          // selection EXHAUSTS at the per-probe candidate count: no probe
          // ever has more than c candidates, so rounds beyond c are
          // provably empty (probes with < c candidates exhaust earlier —
          // the anti-join leaves them an empty remainder and the groupBy
          // simply emits no row for them)
          var selected = pickRound(None, 1).localCheckpoint(true)
          for (r <- 2 to math.min(k, c)) {
            val next = selected.unionByName(pickRound(Some(selected), r))
              .localCheckpoint(true)
            NearDup.freeCheckpoint(selected)
            selected = next
          }
          selected
        } finally NearDup.freeCheckpoint(sims)
      } finally NearDup.freeCheckpoint(cands)
    } finally NearDup.freeCheckpoint(qdf)
  }

  /** Cluster-BALANCED deterministic sampling: k-means the embedding
    * space ([[kmeans]], same exact-integer iterations), then keep up to
    * `m` rows PER CLUSTER chosen by a salted-md5 hash order — the
    * "diverse subset" selection a training mix wants (uniform sampling
    * over-represents dense regions; per-cluster quotas flatten the mode
    * structure — the cluster-stratified cousin of
    * [[Sampling.stratifiedSample]], with LEARNED strata instead of a
    * label column). Selection is the bounded [[graft.expressions.
    * TopKByScore]] aggregate — ≤m rows/cluster/partition reach the
    * shuffle, never a cluster-wide sort — and the salted draw
    * (`md5(id‖"~cs")`) makes membership independent of every other
    * sampling operator's, stable across runs/engines/partitionings.
    * Returns (idCol, cluster, sample_rank 1..≤m); an eager checkpoint
    * (inputs freed), release via [[Curate.release]]. */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, m: Int): DataFrame = {
    require(m > 0, s"clusterSample: m must be positive, got $m")
    import graft.expressions.TopKByScore
    val assigned = kmeans(df, idCol, vecCol, k, iters)
    try {
      val u = conv(substring(
          md5(concat(col(idCol).cast("string"), lit("~cs")).cast("binary")), 1, 8), 16, 10)
        .cast("long").cast("double")
      assigned
        .groupBy(col("cluster"))
        .agg(TopKByScore(u, col(idCol).cast("long"), m).as("__top"))
        .select(col("cluster"), posexplode(col("__top")))
        .select(col("col.id").as(idCol), col("cluster"),
          (col("pos") + 1).cast("long").as("sample_rank"))
        .localCheckpoint(true)
    } finally NearDup.freeCheckpoint(assigned)
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the `dim`-dimensional
    * space splits into `m` contiguous subspaces of dim/m dims, each
    * trained with its own fixed-iteration k-means over the sliced
    * vectors. Slicing commutes with quantization (both element-wise), so
    * subspace training sees exactly the slice of the quantized vector.
    * Returns (cluster, __cv, __cc, subspace) — m·k rows, the entire
    * "index" a 100 TB collection shares by broadcast (the collection
    * itself is then stored as m small codes per vector: the memory shrink
    * that makes billion-scale ANN fit). Eager checkpoint; release via
    * [[NearDup.freeCheckpoint]]. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    // project the quantized array ONCE, then slice it — inlining
    // quantize into all m slices re-runs the interpreted HOF transform
    // m times per row (the shingleArrays/minhashSignatures lesson)
    trainPqOnSubs(
      sliceSubs(df.select(col(idCol), quantize(col(vecCol)).as("__q")),
        idCol, dim, m),
      idCol, k, iters)
  }

  /** (id, carry…, subspace, __sub slice, __sn self-dot) from an (id,
    * carry…, __q ARRAY<BIGINT>) frame — the exploded subspace layout
    * both PQ training and encoding consume. `carry` columns ride along
    * IN-ROW (a probe's per-list residuals must keep their list id —
    * re-joining on the id alone would cross a multi-list probe's
    * slices with the wrong list's residual). */
  private def sliceSubs(qdf: DataFrame, idCol: String, dim: Int, m: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val subDim = dim / m
    val keep = col(idCol) +: carry.map(col)
    qdf.select(keep :+ posexplode(
        array((0 until m).map(s => slice(col("__q"), s * subDim + 1, subDim)): _*)): _*)
      .select(keep :+ col("pos").cast("long").as("subspace") :+ col("col").as("__sub"): _*)
      .withColumn("__sn", dotQ(col("__sub"), col("__sub")))
  }

  /** The grouped per-subspace k-means over a PRE-SLICED (id, subspace,
    * __sub, __sn) frame — shared by [[pqCodebooks]] (slices of the raw
    * quantized vectors) and [[knnIvfPq]] (slices of the coarse-quantizer
    * RESIDUALS, whose integer arrays come from a subtraction rather than
    * [[quantize]]). */
  private[operators] def trainPqOnSubs(subsRaw: DataFrame, idCol: String,
      k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The m subspace trainings are FUSED into one grouped k-means: every
    // pass below keys on (subspace, cluster), so each iteration is ONE
    // corpus-scan-shaped job instead of m — the per-subspace results are
    // identical to m independent trainings because nothing crosses a
    // subspace boundary. The exploded (id, subspace, slice) frame is
    // checkpointed once and feeds every round.
    val subs = subsRaw.localCheckpoint(true)
    try {
      // INIT: the k lowest-id vectors seed every subspace (their slices);
      // the seed id list is k rows, broadcast onto the exploded frame
      val seeds = subs.select(col(idCol)).distinct().orderBy(col(idCol)).limit(k)
        .select(col(idCol),
          (row_number().over(Window.partitionBy(lit(0))
            .orderBy(col(idCol))) - 1).cast("long").as("cluster"))
      var cb = subs.join(broadcast(seeds), idCol)
        .select(col("subspace"), col("cluster"), col("__sub").as("__cv"),
          col("__sn").as("__cc"))
        .localCheckpoint(true)
      def assign(codebook: DataFrame): DataFrame =
        subs.join(broadcast(codebook), "subspace")
          .withColumn("__dist",
            col("__sn") - lit(2L) * dotQ(col("__sub"), col("__cv")) + col("__cc"))
          .groupBy(col(idCol), col("subspace"))
          .agg(min(struct(col("__dist"), col("cluster"))).as("__best"),
            first(col("__sub")).as("__sub"))
          .select(col(idCol), col("subspace"), col("__sub"),
            col("__best").getField("cluster").as("cluster"))
      try {
        for (_ <- 1 to iters) {
          val sums = assign(cb)
            .select(col("subspace"), col("cluster"), posexplode_outer(col("__sub")))
            .filter(col("col").isNotNull)
            .groupBy(col("subspace"), col("cluster"), col("pos"))
            .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("cq"))
          val newVecs = sums
            .groupBy(col("subspace"), col("cluster"))
            .agg(array_sort(collect_list(struct(col("pos"), col("cq")))).as("__cs"))
            .select(col("subspace"), col("cluster"),
              transform(col("__cs"), s => s.getField("cq")).as("__nv"))
          val next = cb.join(newVecs, Seq("subspace", "cluster"), "left_outer")
            .select(col("subspace"), col("cluster"),
              coalesce(col("__nv"), col("__cv")).as("__cv"))
            .withColumn("__cc", dotQ(col("__cv"), col("__cv")))
            .localCheckpoint(true)
          NearDup.freeCheckpoint(cb)
          cb = next
        }
        cb.select(col("cluster"), col("__cv"), col("__cc"), col("subspace"))
          .localCheckpoint(true)
      } finally NearDup.freeCheckpoint(cb)
    } finally NearDup.freeCheckpoint(subs)
  }

  /** PQ top-k via ASYMMETRIC DISTANCE COMPUTATION (ADC): candidates are
    * represented only by their m subspace codes; each probe computes an
    * exact distance table to every codebook centroid (m·k entries), and a
    * candidate's approximate distance is the SUM of the m table lookups —
    * the probe side never touches candidate vectors, which is what lets
    * the scan run over codes at a fraction of the raw-vector width.
    *
    * Spark shape: ENCODE is one posexplode to (id, subspace, slice) — the
    * slice happens in-row — joined against the broadcast codebook with a
    * map-side-combined min(struct) per (id, subspace): the N·m·k scored
    * frame never shuffles, only N·m code rows do. The DISTANCE TABLE is
    * probes × codebook (bounded · m·k rows, broadcast). ADC re-joins codes
    * to tables on (subspace, cluster) — an equi-join — and sums the m
    * exact-integer partial distances per (probe, candidate) through a
    * map-side-combined agg; selection is the bounded top-k aggregate on
    * the negated distance. All arithmetic is exact integers below 2^53,
    * so the SQL oracle replays it bit-identically. Returns (probe_id,
    * neighbor_id, adc_dist2, rank) — rank by (dist asc, id asc). */
  def knnPq(df: DataFrame, idCol: String, vecCol: String, codebooks: DataFrame,
      dim: Int, m: Int, probePred: Column, k: Int): DataFrame = {
    import graft.expressions.TopKByScore
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val qdf = df.select(col(idCol), quantize(col(vecCol)).as("__q"), probePred.as("__probe"))
    val subs = qdf.select(col(idCol), col("__probe"), posexplode(
        array((0 until m).map(s => slice(col("__q"), s * subDim + 1, subDim)): _*)))
      .select(col(idCol), col("__probe"),
        col("pos").cast("long").as("subspace"), col("col").as("__sub"))
      .withColumn("__sn", dotQ(col("__sub"), col("__sub")))
    val dist = col("__sn") - lit(2L) * dotQ(col("__sub"), col("__cv")) + col("__cc")
    val codes = subs.join(broadcast(codebooks), "subspace")
      .withColumn("__dist", dist)
      .groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("__dist"), col("cluster"))).as("__best"))
      .select(col(idCol).as("neighbor_id"), col("subspace"),
        col("__best").getField("cluster").as("__code"))
    val tables = subs.filter(col("__probe"))
      .join(broadcast(codebooks), "subspace")
      .select(col(idCol).as("probe_id"), col("subspace"),
        col("cluster").as("__code"), dist.as("__d"))
    codes.join(broadcast(tables), Seq("subspace", "__code"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("adc_dist2"))
      .groupBy(col("probe_id"))
      .agg(TopKByScore(-col("adc_dist2").cast("double"),
        col("neighbor_id").cast("long"), k).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")))
      .select(col("probe_id"),
        col("col.id").as("neighbor_id"),
        (-col("col.score")).cast("long").as("adc_dist2"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** IVF-PQ composite top-k (Jégou, Douze & Schmid 2011 §IVFADC — the
    * architecture FAISS serves billion-scale corpora with, and the
    * composition of this module's two halves): a COARSE quantizer
    * (`coarse`, the same (cb_label, dim_idx, cq) codebook [[knnIvf]]
    * takes) partitions the collection into inverted lists, and each
    * vector is stored as the PQ code of its RESIDUAL r = q(v) − c —
    * quantizing residuals instead of raw vectors spends the codebook's
    * resolution on the within-list spread rather than re-describing the
    * coarse centroid, and the stored form stays m small codes per
    * vector (the 100 TB memory shrink) while search touches only
    * `nProbe` lists per probe (the 100 TB scan shrink). Search is ADC
    * per visited list: the probe forms its OWN residual against that
    * list's centroid, builds the exact m·k distance table to the
    * residual codebooks, and every candidate in the list scores as the
    * sum of m table lookups.
    *
    * Spark shape: assignment is the [[knnIvf]] broadcast-codebook
    * min(struct) — map-side combined, one candidate per vector per
    * partition on the shuffle; residuals are one in-row zip_with; PQ
    * training is the SAME fused grouped k-means as [[pqCodebooks]]
    * ([[trainPqOnSubs]]) over the residual slices; the distance TABLE
    * frame is probes × nProbe × m × k rows — bounded, broadcast; ADC is
    * an equi-join on (list, subspace, code) + a map-side-combined sum;
    * selection is the bounded top-k aggregate. Quantized elements are
    * |q| ≤ ~2·10³ so residual sub-norms stay < 2³⁰ and ADC sums < 2³³ —
    * exact integers everywhere, bit-replayable by the SQL oracle.
    * Returns (probe_id, neighbor_id, adc_dist2, rank) — rank by
    * (dist asc, id asc), probe excluded from its own candidates. */
  def knnIvfPq(df: DataFrame, idCol: String, vecCol: String, coarse: DataFrame,
      dim: Int, m: Int, k: Int, iters: Int, probePred: Column,
      topK: Int, nProbe: Int): DataFrame = {
    import graft.expressions.TopKByScore
    import org.apache.spark.sql.expressions.Window
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val cvecs = pivotCodebook(coarse)
    val qdf = quantized(df, idCol, vecCol)
    val scored = qdf.crossJoin(broadcast(cvecs))
      .withColumn("__dist",
        col("__n") - lit(2L) * dotQ(col("__q"), col("__cv")) + col("__cc"))
    // nearest coarse list per vector (ties to the lowest label), then
    // the residual in one in-row zip_with against the broadcast centroid
    val assigned = scored.groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("cb_label"))).as("__best"),
        first(col("__q")).as("__q"))
      .select(col(idCol), col("__q"), col("__best").getField("cb_label").as("__list"))
    // (id, list, residual) feeds BOTH the codebook training and the
    // encoding pass — materialized once so the n×nlist assignment
    // aggregation does not run twice (freed in the finally; the 100 TB
    // deployment persists this as the index's stored table instead)
    val resid = assigned.join(broadcast(cvecs), col("__list") === col("cb_label"))
      .select(col(idCol), col("__list"),
        zip_with(col("__q"), col("__cv"), (a, b) => a - b).as("__q"))
      .localCheckpoint(true)
    // residual PQ codebooks: the SAME fused grouped k-means, trained on
    // the residual slices (checkpointed once inside trainPqOnSubs)
    val residSubs = sliceSubs(resid.select(col(idCol), col("__q")), idCol, dim, m)
    val cbs = trainPqOnSubs(residSubs, idCol, k, iters)
    try {
      val dist = col("__sn") - lit(2L) * dotQ(col("__sub"), col("__cv")) + col("__cc")
      // encode: each vector's m residual slices → nearest residual
      // centroid per subspace; the list id rides along for the ADC join
      val codes = sliceSubs(resid, idCol, dim, m, carry = Seq("__list"))
        .join(broadcast(cbs), "subspace")
        .withColumn("__dist", dist)
        .groupBy(col(idCol), col("subspace"))
        .agg(min(struct(col("__dist"), col("cluster"))).as("__best"),
          first(col("__list")).as("__list"))
        .select(col(idCol).as("neighbor_id"), col("__list"), col("subspace"),
          col("__best").getField("cluster").as("__code"))
      // probe lists: rank the bounded probes × nlist frame; each visited
      // list gets the probe's residual AGAINST THAT LIST'S centroid
      val pw = Window.partitionBy(col(idCol)).orderBy(col("__dist"), col("cb_label"))
      val presid = scored.filter(probePred)
        .withColumn("__r", row_number().over(pw))
        .filter(col("__r") <= nProbe)
        .select(col(idCol).as("probe_id"), col("cb_label").as("__list"),
          zip_with(col("__q"), col("__cv"), (a, b) => a - b).as("__q"))
      val tables = sliceSubs(presid, "probe_id", dim, m, carry = Seq("__list"))
        .join(broadcast(cbs), "subspace")
        .select(col("probe_id"), col("__list"), col("subspace"),
          col("cluster").as("__code"), dist.as("__d"))
      codes.join(broadcast(tables), Seq("__list", "subspace", "__code"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .groupBy(col("probe_id"), col("neighbor_id"))
        .agg(sum(col("__d")).as("adc_dist2"))
        .groupBy(col("probe_id"))
        .agg(TopKByScore(-col("adc_dist2").cast("double"),
          col("neighbor_id").cast("long"), topK).as("__top"))
        .select(col("probe_id"), posexplode(col("__top")))
        .select(col("probe_id"),
          col("col.id").as("neighbor_id"),
          (-col("col.score")).cast("long").as("adc_dist2"),
          (col("pos") + 1).cast("long").as("rank"))
        .localCheckpoint(true)
    } finally {
      NearDup.freeCheckpoint(cbs)
      NearDup.freeCheckpoint(resid)
    }
  }

  /** Per-dimension [vmin, vmax] training rows for the SQ8 scalar
    * quantizer — the third quantization family next to PQ (subspace
    * codebooks) and the 1000× float→int quantize ([[quantize]]):
    * FAISS's `ScalarQuantizer(QT_8bit)`. One posexplode + hash
    * aggregate over (dim, value) pairs; the result is dim rows — a
    * constant-size frame at any corpus size. */
  def sq8Train(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode_outer(quantize(col(vecCol))))
      .filter(col("col").isNotNull)
      .groupBy(col("pos").cast("long").as("dim_idx"))
      .agg(min(col("col")).as("vmin"), max(col("col")).as("vmax"))

  /** dim-row train frame → ONE broadcastable row of (vmin[], vmax[])
    * arrays in dim order — the [[pivotCodebook]] shape for the scalar
    * quantizer's parameters. */
  private[operators] def pivotSq8(train: DataFrame): DataFrame =
    train
      .agg(array_sort(collect_list(struct(col("dim_idx"), col("vmin"),
        col("vmax")))).as("__s"))
      .select(transform(col("__s"), s => s.getField("vmin")).as("__vmin"),
        transform(col("__s"), s => s.getField("vmax")).as("__vmax"))

  /** SQ8 (8-bit scalar-quantized) top-k — the COMPRESSED-SCAN ANN form
    * (FAISS `SQ8`, Jégou et al.'s scalar baseline): every candidate
    * stores one byte per dimension (code = floor((v − vmin_d)·255 /
    * (vmax_d − vmin_d)), trained per-dim min/max), an 8× shrink of the
    * quantized-long collection that at 100 TB is the difference between
    * a scan that fits the page cache and one that doesn't. Search is
    * ASYMMETRIC (Jégou's ADC): probes stay full-precision; candidates
    * score by the exact integer surrogate probe · R, where R_d =
    * 255·vmin_d + code_d·(vmax_d − vmin_d) is the 255-SCALED
    * reconstruction — all-BIGINT, no rounding, so ranking is
    * bit-reproducible (255 > 0 makes the scale irrelevant to order).
    * The top `refine·k` by surrogate then REFINE: exact cosine over the
    * original vectors re-ranks the ≤ refine·k survivors per probe (the
    * classic compressed-scan + rerank serving shape), so the full-width
    * vectors are touched for O(probes·refine·k) rows only.
    *
    * Shapes: the train frame is dim rows; parameters broadcast as one
    * row; stage 1 is the [[knnBrute]] broadcast scan with the bounded
    * [[graft.expressions.TopKByScore]] selection (map-side partials ⇒
    * ≤ refine·k rows per probe per partition reach the shuffle); stage 2
    * joins the tiny survivor list back broadcast-shaped. Ties at both
    * stages: score desc, neighbor_id asc — the oracle's ROW_NUMBER
    * order. */
  def knnSq8(df: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, refine: Int = 2): DataFrame = {
    val qdf = quantized(df, idCol, vecCol)
    val mm = pivotSq8(sq8Train(df, vecCol))
    // candidates carry code + 255-scaled reconstruction; (v - vmin) >= 0
    // by construction, so floor(double-div) = integer floor division —
    // exact while numerators stay « 2^53 (they are ≤ 255·2·Scale·|x|max)
    val enc = qdf.crossJoin(broadcast(mm))
      .withColumn("__code", sq8Encode(col("__q"), col("__vmin"), col("__vmax")))
      .withColumn("__r", sq8Reconstruct(col("__code"), col("__vmin"), col("__vmax")))
      .select(col(idCol).as("neighbor_id"), col("__r"))
    sq8Search(enc, qdf, idCol, probePred, k, refine)
  }

  /** Element-wise SQ8 code array: floor((v − vmin)·255 / span) CLAMPED
    * to [0, 255], 0 on a degenerate (constant) dimension. The clamp is
    * load-bearing for the FROZEN-param paths ([[IndexLifecycle.append]]
    * and the follow mode): a later batch's component may fall outside
    * the build-time [vmin, vmax], and an unclamped code would silently
    * WRAP in the signed-byte storage (c − 128 overflows for c ∉
    * [0, 255]) — the FAISS saturation semantics, a no-op whenever the
    * quantizer trained on the encoded rows themselves. */
  private[operators] def sq8Encode(qv: Column, vmin: Column, vmax: Column): Column =
    zip_with(
      zip_with(qv, vmin, (v, l) => (v - l) * lit(255L)),
      zip_with(vmax, vmin, (h, l) => h - l), (num, s) =>
        when(s === 0, lit(0L))
          .otherwise(greatest(lit(0L),
            least(lit(255L), floor(num.cast("double") / s.cast("double")).cast("long")))))

  /** 255-SCALED reconstruction R_d = 255·vmin_d + code_d·(vmax_d −
    * vmin_d) — exact BIGINTs; ranking by probe·R equals ranking by the
    * true reconstruction dot since 255 > 0. */
  private[operators] def sq8Reconstruct(code: Column, vmin: Column, vmax: Column): Column =
    zip_with(
      zip_with(code, zip_with(vmax, vmin, (h, l) => h - l), (c, s) => c * s),
      vmin, (cs, l) => cs + l * lit(255L))

  /** The SQ8 two-stage search over prepared candidates: `enc` =
    * (neighbor_id, __r) — the compressed scan side; `qdf` = the
    * full-precision collection ([[quantized]] shape) providing probes
    * and the exact-refine vectors. Shared by the in-query [[knnSq8]]
    * and the persisted-index serve ([[AnnIndex.knnSq8Serve]]). */
  private[operators] def sq8Search(enc: DataFrame, qdf: DataFrame, idCol: String,
      probePred: Column, k: Int, refine: Int): DataFrame = {
    import graft.expressions.TopKByScore
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val probes = qdf.filter(probePred)
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"))
    val stage1 = enc
      .crossJoin(broadcast(probes.select(col("probe_id"), col("__pq"))))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .groupBy(col("probe_id"))
      .agg(TopKByScore(dotQ(col("__pq"), col("__r")).cast("double"),
        col("neighbor_id").cast("long"), refine * k).as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as("neighbor_id"))
    val paired = broadcast(stage1)
      .join(qdf.select(col(idCol).as("neighbor_id"), col("__q").as("__nq"),
        col("__n").as("__nn")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
    topKAgg(paired, k)
  }

  /** Bits per BQ code word. 32, not 64: bit 31 is the highest that stays
    * positive in a BIGINT shift in every engine — packing 64 would put a
    * sign bit in play and make xor/bit_count parity an engine-internals
    * bet instead of arithmetic. */
  val BqWordBits = 32

  /** Per-dimension BINARY-quantization thresholds as storable dim rows
    * (dim_idx, t): the floor-average of each dimension's quantized
    * values (exact integer train — same trick as the centroid
    * builder). The [[graft.operators.AnnIndex]] BQ index persists this
    * frame as its frozen parameters. */
  def bqTrain(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode_outer(quantize(col(vecCol))))
      .filter(col("col").isNotNull)
      .groupBy(col("pos").cast("long").as("dim_idx"))
      .agg(sum(col("col")).as("__s"), count(lit(1)).as("__c"))
      .select(col("dim_idx"), expr("__s div __c").as("t"))

  /** dim-row threshold frame → ONE broadcastable (thr[]) row in dim
    * order — the [[pivotSq8]] shape for the binary quantizer. */
  private[operators] def pivotBq(train: DataFrame): DataFrame =
    train
      .agg(array_sort(collect_list(struct(col("dim_idx"), col("t")))).as("__a"))
      .select(transform(col("__a"), s => s.getField("t")).as("__thr"))

  /** (id, packed code words) for every row of `df`, encoded through the
    * PIVOTED thresholds (frozen-param contract: appends and follow mode
    * pass the stored frame through verbatim, re-training would flip
    * stored bits). */
  private[operators] def bqCodeRows(df: DataFrame, idCol: String, vecCol: String,
      thr: DataFrame): DataFrame =
    bqEncodeQ(df.select(col(idCol), quantize(col(vecCol)).as("__q")), thr)
      .select(col(idCol), col("__code"))

  /** Adds `__code` to a frame already carrying the quantized `__q`. */
  private def bqEncodeQ(df: DataFrame, thr: DataFrame): DataFrame =
    df.crossJoin(broadcast(thr))
      .withColumn("__bits",
        zip_with(col("__q"), col("__thr"),
          (v, t) => when(v > t, lit(1L)).otherwise(lit(0L))))
      .withColumn("__code", expr(bqPackSql("__bits")))

  /** The BQ two-stage search over prepared candidates: `codes` =
    * (neighbor_id, __code) — the compressed scan side; `thr` = the
    * pivoted thresholds (probes encode through them at query time);
    * `qdf` = the full-precision collection ([[quantized]] shape)
    * providing probes and the exact-refine vectors. Shared by the
    * in-query [[knnBq]] and the persisted-index serve
    * ([[AnnIndex.knnBqServe]]). */
  private[operators] def bqSearch(codes: DataFrame, thr: DataFrame, qdf: DataFrame,
      idCol: String, probePred: Column, k: Int, refine: Int): DataFrame = {
    import graft.expressions.TopKByScore
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val pcs = bqEncodeQ(qdf.filter(probePred).select(col(idCol), col("__q")), thr)
      .select(col(idCol).as("probe_id"), col("__code").as("__pc"))
    val stage1 = codes
      .crossJoin(broadcast(pcs))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .groupBy(col("probe_id"))
      .agg(TopKByScore(
        -hammingQ(col("__code"), col("__pc")).cast("double"),
        col("neighbor_id").cast("long"), refine * k).as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as("neighbor_id"))
    val probes = qdf.filter(probePred)
      .select(col(idCol).as("probe_id"), col("__q").as("__pq"), col("__n").as("__pn"))
    val paired = broadcast(stage1)
      .join(qdf.select(col(idCol).as("neighbor_id"), col("__q").as("__nq"),
        col("__n").as("__nn")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
    topKAgg(paired, k)
  }

  /** Pack a 0/1 bits array into [[BqWordBits]]-bit words (array<long>,
    * ⌈dim/32⌉ entries; zip_with's NULL padding on the ragged tail
    * coalesces to 0). */
  private[operators] def bqPackSql(bitsCol: String): String =
    s"""transform(sequence(0, (size($bitsCol) + ${BqWordBits - 1}) div $BqWordBits - 1),
       |  w -> aggregate(
       |         zip_with(slice($bitsCol, w * $BqWordBits + 1, $BqWordBits),
       |                  sequence(0, ${BqWordBits - 1}),
       |                  (b, i) -> shiftleft(coalesce(b, 0L), CAST(i AS INT))),
       |         0L, (acc, x) -> acc + x))""".stripMargin

  /** Summed per-word Hamming distance of two code arrays — the native
    * codegen'd [[graft.expressions.LongHamming]] (primitive popcount
    * loop), not the HOF interpreter: this runs once per (probe,
    * candidate) pair, the compressed scan's innermost loop. */
  def hammingQ(a: Column, b: Column): Column =
    graft.expressions.LongHamming(a, b)

  /** BQ (1-BIT binary-quantized) top-k — the most compressed member of
    * the index family (FAISS `binary IVF`/RaBitQ-style sign codes):
    * each vector stores ONE BIT per dimension (v_d > trained per-dim
    * floor-average threshold), packed into ⌈dim/32⌉ BIGINT words — an
    * 8× shrink over SQ8's bytes, 64× over the quantized longs; at
    * 100 TB of embeddings this is the scan that fits in MEMORY. Search
    * is SYMMETRIC Hamming: probes encode with the same thresholds and
    * candidates rank by ascending popcount(xor) — integer-exact, so
    * ranking is bit-reproducible in any engine — then the top refine·k
    * survivors re-rank by exact cosine over the original vectors (the
    * compressed-scan + rerank shape shared with [[knnSq8]]; BQ's
    * coarser 1-bit surrogate wants a deeper refine — default 4·k where
    * SQ8 uses 2·k). Ties: hamming asc, neighbor_id asc — the oracle's
    * ROW_NUMBER order. Shapes: thresholds are ONE broadcast row;
    * stage 1 is a broadcast scan with the bounded
    * [[graft.expressions.TopKByScore]] selection; stage 2 touches
    * full-width vectors for O(probes·refine·k) rows only. */
  def knnBq(df: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int, refine: Int = 4): DataFrame = {
    val qdf = quantized(df, idCol, vecCol)
    val thr = pivotBq(bqTrain(df, vecCol))
    val codes = bqCodeRows(df, idCol, vecCol, thr)
      .select(col(idCol).as("neighbor_id"), col("__code"))
    bqSearch(codes, thr, qdf, idCol, probePred, k, refine)
  }

  /** Per-label centroids as (label, dim_idx, centroid): posexplode the
    * quantized vector, hash-aggregate exact integer sums per (label,
    * dimension), divide once at the end. The shuffle carries dim partial
    * sums per label per partition — map-side combined. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    // outer + post-filter: a plain posexplode's inferred filter would
    // re-evaluate the quantize transform per row (NearDup.shingleSets)
    df.select(col(labelCol), posexplode_outer(quantize(col(vecCol))))
      .filter(col("col").isNotNull)
      .withColumnsRenamed(Map("pos" -> "dim_idx", "col" -> "q"))
      .groupBy(col(labelCol), col("dim_idx").cast("long").as("dim_idx"))
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("n"))
      .select(col(labelCol), col("dim_idx"),
        (col("qsum").cast("double") /
          (col("n").cast("double") * lit(Scale.toDouble))).as("centroid"))
}
