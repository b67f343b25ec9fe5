package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PERSISTED ANN serving indexes — the build-once-query-many shape every
  * vector store serves (cf. the in-query variants in [[Ann]], which
  * re-derive quantization and bucket assignment per call; at 100 TB the
  * index derivation is paid once at ingest and every search reads the
  * stored rows).
  *
  * Index row layout (LSH): every input column except the raw vector,
  * plus `q` (quantized vector), `n` (self-dot), `bucket` (sign-LSH
  * bucket id). The index is written Hive-PARTITIONED BY `bucket`, which
  * turns serving into a dynamically-pruned scan: the probe side's bucket
  * set arrives at runtime through the broadcast join and reaches the
  * candidate scan as a `dynamicpruning` PartitionFilter — a search
  * touches only its probes' bucket directories, never the full
  * collection (asserted in WarehouseSpec).
  *
  * Keeping the metadata columns in the index rows is what makes
  * FILTERED search (`candPred` over e.g. a label/license/date column)
  * serveable from the index alone.
  *
  * Each family is an [[IndexFamily]] value ([[lsh]], [[ivf]], [[pq]],
  * [[sq8]], [[bq]]); build, append, follow serving and folds are the
  * shared [[IndexLifecycle]]. */
object AnnIndex {

  /** Reserved index column names (guarded in [[lshIndexRows]]). */
  val QCol = "q"
  val NCol = "n"
  val BucketCol = "bucket"

  /** A top-k vector request: probes are the rows matching `pred`. PQ,
    * SQ8 and BQ draw their probes (and the exact-refine rows) from
    * `coll`, the full-precision collection; LSH and IVF probe with the
    * stored rows and ignore it. */
  final case class Probe(pred: Column, k: Int, coll: Option[DataFrame] = None) {
    def collection: DataFrame = coll.getOrElse(throw new IllegalArgumentException(
      "this index family serves probes from the collection: pass Probe(..., coll = Some(frame))"))
  }

  /** LSH: rows partitioned by `bucket`, frozen hyperplanes in the value
    * itself (no side table); single-bucket [[knnLshServe]] selection —
    * the candidate-front anchor the oracle gates pin. */
  def lsh(idCol: String, vecCol: String, planes: Array[Array[Long]]): IndexFamily[Probe] =
    IndexFamily(idCol, Seq(IndexTable("", Some(BucketCol))),
      encode = (df, _) => Seq(lshIndexRows(df, idCol, vecCol, planes)),
      serve = (ix, q) => knnLshServe(ix.tables.head, idCol, q.pred, q.k))

  /** [[lsh]] served at the recall-tuned [[knnLshServeMultiProbe]]
    * selection — the production serving default. */
  def lshMultiProbe(idCol: String, vecCol: String,
      planes: Array[Array[Long]]): IndexFamily[Probe] =
    lsh(idCol, vecCol, planes).copy(serve = (ix, q) =>
      knnLshServeMultiProbe(ix.tables.head, idCol, planes.length, q.pred, q.k))

  /** IVF: inverted lists partitioned by `cent`; the trained codebook
    * (one `labelCol` centroid per label, pivoted to (cb_label, cv, cc))
    * is the frozen `_codebook` side table. */
  def ivf(idCol: String, vecCol: String, labelCol: String,
      nProbe: Int): IndexFamily[Probe] =
    IndexFamily(idCol, Seq(IndexTable("", Some(CentCol))),
      encode = (df, cb) => Seq(ivfRowsFromPivoted(df, idCol, vecCol,
        cb.get.select(col("cb_label"), col("cv").as("__cv"), col("cc").as("__cc")))),
      serve = (ix, q) => knnIvfServe(ix.tables.head, ix.side.get, idCol, q.pred, q.k, nProbe),
      side = Some(SideTable("_codebook", df =>
        Ann.pivotCodebook(Ann.ivfCodebook(df, labelCol, vecCol))
          .select(col("cb_label"), col("__cv").as("cv"), col("__cc").as("cc")))))

  /** PQ: flat (id, subspace, code) rows — ADC consumes every subspace,
    * there is nothing to prune by; the per-subspace k-means codebooks
    * (`clusters` centroids, `iters` rounds) are the frozen `_codebook`
    * side table. */
  def pq(idCol: String, vecCol: String, dim: Int, m: Int, clusters: Int,
      iters: Int): IndexFamily[Probe] =
    IndexFamily(idCol, Seq(IndexTable("")),
      encode = (df, cb) => Seq(pqIndexRows(df, idCol, vecCol,
        cb.get.select(col(SubspaceCol), col("cluster"),
          col("cv").as("__cv"), col("cc").as("__cc")), dim, m)),
      serve = (ix, q) => knnPqServe(ix.tables.head, ix.side.get,
        q.collection.filter(q.pred), idCol, vecCol, dim, m, q.k),
      side = Some(SideTable("_codebook", df =>
        Ann.pqCodebooks(df, idCol, vecCol, dim, m, clusters, iters)
          .select(col(SubspaceCol), col("cluster"), col("__cv").as("cv"),
            col("__cc").as("cc")))))

  /** SQ8: flat byte-code rows (the compressed scan consumes every row);
    * the per-dim [vmin, vmax] are the frozen `_params` side table. */
  def sq8(idCol: String, vecCol: String, refine: Int): IndexFamily[Probe] =
    IndexFamily(idCol, Seq(IndexTable("")),
      encode = (df, p) => Seq(sq8IndexRows(df, idCol, vecCol, p.get)),
      serve = (ix, q) => knnSq8Serve(ix.tables.head, ix.side.get, q.collection,
        idCol, vecCol, q.pred, q.k, refine),
      side = Some(SideTable("_params", Ann.sq8Train(_, vecCol))))

  /** BQ: flat packed sign-word rows; the per-dim thresholds are the
    * frozen `_params` side table. */
  def bq(idCol: String, vecCol: String, refine: Int): IndexFamily[Probe] =
    IndexFamily(idCol, Seq(IndexTable("")),
      encode = (df, p) => Seq(bqIndexRows(df, idCol, vecCol, p.get)),
      serve = (ix, q) => knnBqServe(ix.tables.head, ix.side.get, q.collection,
        idCol, vecCol, q.pred, q.k, refine),
      side = Some(SideTable("_params", Ann.bqTrain(_, vecCol))))

  /** The serving rows of an LSH index: all columns but the raw vector,
    * plus (q, n, bucket). One scan, pure map — quantization, self-dot
    * and bucket assignment happen exactly once per vector, here. */
  def lshIndexRows(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Long]]): DataFrame = {
    Seq(QCol, NCol, BucketCol).foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a column named the reserved index column '$c'") }
    df.withColumn(QCol, Ann.quantize(col(vecCol)))
      .drop(vecCol)
      .withColumn(NCol, Ann.dotQ(col(QCol), col(QCol)))
      .withColumn(BucketCol, Ann.lshBucket(col(QCol), planes))
  }

  /** Top-k LSH search served from a PERSISTED index frame: no
    * quantization, no hyperplane dots, no bucket assignment — probes and
    * candidates are both read from the stored rows and meet in the
    * bucket equi-join (broadcast probes ⇒ the candidate side's partition
    * filter arrives at runtime via dynamic partition pruning). Same
    * selection contract as [[Ann.knnLsh]] (bounded top-k aggregate,
    * ties to the lowest neighbor id) — hash-identical results, asserted
    * by the emb_knn_lsh_persisted gate. `candPred` restricts the
    * searchable side (metadata-filtered serving); both predicates may
    * reference any stored column.
    *
    * RECALL NOTE: single-bucket selection is the ANCHOR configuration —
    * its job (and that of every gate calling it: persisted /
    * incremental / follow / compacted) is candidate-front EQUIVALENCE
    * with the cross-engine oracle, which measured 0.08 recall@5 on the
    * gate corpus. Production serving answers through
    * [[knnLshServeMultiProbe]] ([[lshMultiProbe]]; >=0.5 recall at ~34%
    * of brute cost — the emb_knn_lsh_tuned sweep), as hybrid_persisted
    * and the streaming follow lifecycle do. */
  def knnLshServe(index: DataFrame, idCol: String, probePred: Column,
      k: Int, candPred: Column = lit(true)): DataFrame = {
    val probes = index.filter(probePred)
      .select(col(idCol).as("probe_id"), col(QCol).as("__pq"),
        col(NCol).as("__pn"), col(BucketCol))
    val cands = index.filter(candPred)
      .select(col(idCol).as("neighbor_id"), col(QCol).as("__nq"),
        col(NCol).as("__nn"), col(BucketCol))
    Ann.topKAgg(cands.join(broadcast(probes), BucketCol), k)
  }

  /** Multi-probe top-k search from the PERSISTED index: each probe
    * searches its own bucket plus every Hamming-1 neighbor bucket (own
    * + nPlanes probes) — the recall knob the emb_recall harness
    * measures, applied to the production build-once-serve-many path
    * that [[knnLshServe]] anchors. On the gate corpus the measured
    * sweep (r ∈ {4..12} planes, Hamming-1) put single-bucket LSH at
    * 0.08 recall@5 and this configuration at 0.56 — past the 0.5 floor
    * — while scanning ~34% of brute; more planes only trade recall
    * away faster than cost on near-random embeddings, so the tuned
    * default stays at the anchor's plane count and spends the recall
    * budget on probes (see emb_knn_lsh_tuned). The probe side explodes
    * to its nPlanes+1 bucket ids BEFORE the broadcast, so the stored
    * bucket partitions are still dynamically pruned to exactly the
    * probed buckets; the candidate side is untouched. `nPlanes` must
    * match the build's plane count (the stored bucket space is
    * 2^nPlanes). */
  def knnLshServeMultiProbe(index: DataFrame, idCol: String, nPlanes: Int,
      probePred: Column, k: Int, candPred: Column = lit(true)): DataFrame = {
    val masks = array((lit(0L) +: (0 until nPlanes).map(i => lit(1L << i))): _*)
    val probes = index.filter(probePred)
      .select(col(idCol).as("probe_id"), col(QCol).as("__pq"),
        col(NCol).as("__pn"),
        explode(transform(masks, m => col(BucketCol).bitwiseXOR(m)))
          .as(BucketCol))
    val cands = index.filter(candPred)
      .select(col(idCol).as("neighbor_id"), col(QCol).as("__nq"),
        col(NCol).as("__nn"), col(BucketCol))
    Ann.topKAgg(cands.join(broadcast(probes), BucketCol), k)
  }

  /** Centroid-assignment column of the persisted IVF layout. */
  val CentCol = "cent"

  /** The serving rows of an IVF index: all columns but the raw vector,
    * plus (q, n, cent) — cent the nearest-centroid assignment by exact
    * integer L2 (ties to the lowest label, identical to [[Ann.knnIvf]]'s
    * in-query assignment). One collection scan + the broadcast codebook
    * cross — the map-side-combined min(struct) keeps the shuffle at one
    * row per vector. */
  def ivfIndexRows(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame): DataFrame =
    ivfRowsFromPivoted(df, idCol, vecCol, Ann.pivotCodebook(codebook))

  /** Shared assignment block over an already-PIVOTED (cb_label, __cv,
    * __cc) codebook — the form [[Ann.pivotCodebook]] produces at build
    * and the stored `path + "_codebook"` yields (after rename) at
    * append. Keeping one code path is what makes append-time encoding
    * bit-identical to build-time encoding. */
  private def ivfRowsFromPivoted(df: DataFrame, idCol: String, vecCol: String,
      pivoted: DataFrame): DataFrame = {
    Seq(QCol, NCol, CentCol).foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a column named the reserved index column '$c'") }
    val base = df.withColumn(QCol, Ann.quantize(col(vecCol)))
      .drop(vecCol)
      .withColumn(NCol, Ann.dotQ(col(QCol), col(QCol)))
    val scored = base.crossJoin(broadcast(pivoted))
      .withColumn("__dist",
        col(NCol) - lit(2L) * Ann.dotQ(col(QCol), col("__cv")) + col("__cc"))
    val others = base.columns.filterNot(_ == idCol)
    scored.groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("cb_label"))).as("__best"),
        others.map(c => first(col(c)).as(c)): _*)
      .withColumn(CentCol, col("__best").getField("cb_label"))
      .drop("__best")
  }

  /** Subspace / code columns of the persisted PQ layout. */
  val SubspaceCol = "subspace"
  val CodeCol = "code"

  /** The serving rows of a PQ index: ONE (idCol, subspace, code) row per
    * vector per subspace — the product-quantized collection, m small
    * integers per vector instead of the vector itself (the compression
    * that lets a 100 TB collection's searchable form fit a fraction of
    * the footprint). Derivation mirrors [[Ann.knnPq]]'s encode block
    * exactly (exact-integer L2 to each subspace centroid, ties to the
    * lowest cluster), so the stored codes are bit-identical to the
    * in-query encoding. `codebooks` is [[Ann.pqCodebooks]]' output. */
  def pqIndexRows(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    Seq(SubspaceCol, CodeCol).foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a column named the reserved index column '$c'") }
    val subDim = dim / m
    val subs = df.select(col(idCol), Ann.quantize(col(vecCol)).as("__q"))
      .select(col(idCol), posexplode(
        array((0 until m).map(s => slice(col("__q"), s * subDim + 1, subDim)): _*)))
      .select(col(idCol), col("pos").cast("long").as(SubspaceCol), col("col").as("__sub"))
      .withColumn("__sn", Ann.dotQ(col("__sub"), col("__sub")))
    subs.join(broadcast(codebooks), SubspaceCol)
      .withColumn("__dist",
        col("__sn") - lit(2L) * Ann.dotQ(col("__sub"), col("__cv")) + col("__cc"))
      .groupBy(col(idCol), col(SubspaceCol))
      .agg(min(struct(col("__dist"), col("cluster"))).as("__best"))
      .select(col(idCol), col(SubspaceCol),
        col("__best").getField("cluster").as(CodeCol))
  }

  /** Top-k PQ search served from the PERSISTED codes + codebooks: the
    * collection side reads ONLY stored (id, subspace, code) rows — no
    * vector, no quantization, no re-encoding. The probe side arrives
    * WITH its vectors (the real serving shape: the query vector comes in
    * the request) and builds its per-subspace asymmetric-distance table
    * against the stored codebooks — per-request work on ≤ probes rows,
    * never a collection pass. ADC = the (subspace, code) equi-join +
    * integer sum + bounded top-k, the identical aggregation order as
    * [[Ann.knnPq]] — hash-identical results, asserted by the
    * emb_knn_pq_persisted gate. */
  def knnPqServe(codes: DataFrame, codebooks: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int): DataFrame = {
    import graft.expressions.TopKByScore
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val cbs = codebooks.select(col(SubspaceCol), col("cluster"),
      col("cv").as("__cv"), col("cc").as("__cc"))
    val tables = probes.select(col(idCol), Ann.quantize(col(vecCol)).as("__q"))
      .select(col(idCol), posexplode(
        array((0 until m).map(s => slice(col("__q"), s * subDim + 1, subDim)): _*)))
      .select(col(idCol), col("pos").cast("long").as(SubspaceCol), col("col").as("__sub"))
      .withColumn("__sn", Ann.dotQ(col("__sub"), col("__sub")))
      .join(broadcast(cbs), SubspaceCol)
      .select(col(idCol).as("probe_id"), col(SubspaceCol),
        col("cluster").as(CodeCol),
        (col("__sn") - lit(2L) * Ann.dotQ(col("__sub"), col("__cv")) + col("__cc"))
          .as("__d"))
    codes.select(col(idCol).as("neighbor_id"), col(SubspaceCol), col(CodeCol))
      .join(broadcast(tables), Seq(SubspaceCol, CodeCol))
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

  /** Top-k IVF search served from the PERSISTED index + codebook: each
    * probe ranks the stored codebook by exact integer L2 from its stored
    * quantized vector, keeps its `nProbe` nearest lists, and meets
    * candidates in the centroid equi-join — the inverted-list probe with
    * zero assignment or quantization work at serve time. The centroid is
    * the index's partition column, so the probe side's list choice
    * dynamically prunes the candidate scan. Selection contract identical
    * to [[Ann.knnIvf]] (same window order, same bounded top-k). */
  def knnIvfServe(index: DataFrame, codebook: DataFrame, idCol: String,
      probePred: Column, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cvecs = codebook.select(col("cb_label"),
      col("cv").as("__cv"), col("cc").as("__cc"))
    val pw = Window.partitionBy(col(idCol)).orderBy(col("__dist"), col("cb_label"))
    val probes = index.filter(probePred)
      .crossJoin(broadcast(cvecs))
      .withColumn("__dist",
        col(NCol) - lit(2L) * Ann.dotQ(col(QCol), col("__cv")) + col("__cc"))
      .withColumn("__r", row_number().over(pw))
      .filter(col("__r") <= nProbe)
      .select(col(idCol).as("probe_id"), col(QCol).as("__pq"),
        col(NCol).as("__pn"), col("cb_label").as("__probe_cent"))
    val cands = index
      .select(col(idCol).as("neighbor_id"), col(QCol).as("__nq"),
        col(NCol).as("__nn"), col(CentCol))
    Ann.topKAgg(
      cands.join(broadcast(probes), col(CentCol) === col("__probe_cent"))
        .drop(CentCol, "__probe_cent"), k)
  }

  // ---- SQ8 scalar-quantized index -------------------------------------

  /** SQ8 serving rows: (id, code) with the code stored as ARRAY<TINYINT>
    * — genuinely ONE BYTE per dimension on disk (codes are 0..255;
    * tinyint is signed, so they store shifted by −128 and unshift on
    * read), the 8× collection shrink that is the whole point of scalar
    * quantization at 100 TB. Encoding uses the FROZEN per-dim [vmin,
    * vmax] params — train once at build, pass through appends verbatim
    * (re-training would shift every stored code). */
  def sq8IndexRows(df: DataFrame, idCol: String, vecCol: String,
      params: DataFrame): DataFrame = {
    require(!df.columns.contains(CodeCol),
      s"input already has a column named the reserved index column '$CodeCol'")
    val mm = Ann.pivotSq8(params)
    df.select(col(idCol), Ann.quantize(col(vecCol)).as("__q"))
      .crossJoin(broadcast(mm))
      .select(col(idCol), transform(
        Ann.sq8Encode(col("__q"), col("__vmin"), col("__vmax")),
        c => (c - lit(128L)).cast("byte")).as(CodeCol))
  }

  // ---- BQ 1-bit binary-quantized index ---------------------------------

  /** Reserved BQ code column: packed 32-bit sign words. */
  val BqCodeCol = "code_words"

  /** BQ serving rows: (id, code_words) — ⌈dim/32⌉ BIGINTs per vector,
    * 1 bit per dimension of signal (the 8× shrink UNDER SQ8's bytes).
    * Encoding uses the FROZEN per-dim thresholds — train once at build,
    * pass through appends verbatim (re-training would flip stored
    * bits; the [[sq8IndexRows]] contract). */
  def bqIndexRows(df: DataFrame, idCol: String, vecCol: String,
      params: DataFrame): DataFrame = {
    require(!df.columns.contains(BqCodeCol),
      s"input already has a column named the reserved index column '$BqCodeCol'")
    Ann.bqCodeRows(df, idCol, vecCol, Ann.pivotBq(params))
      .withColumnRenamed("__code", BqCodeCol)
  }

  /** Top-k BQ search served from the PERSISTED code words: symmetric
    * Hamming scan (probes encode through the stored thresholds at query
    * time — one broadcast row of params, no corpus math), exact-cosine
    * refine against `coll` for O(probes·refine·k) rows. Selection is
    * hash-identical to the in-query [[Ann.knnBq]]. */
  def knnBqServe(codes: DataFrame, params: DataFrame, coll: DataFrame,
      idCol: String, vecCol: String, probePred: Column, k: Int,
      refine: Int): DataFrame = {
    val thr = Ann.pivotBq(params)
    val enc = codes.select(col(idCol).as("neighbor_id"),
      col(BqCodeCol).as("__code"))
    val qdf = coll.select(col(idCol), Ann.quantize(col(vecCol)).as("__q"))
      .withColumn("__n", Ann.dotQ(col("__q"), col("__q")))
    Ann.bqSearch(enc, thr, qdf, idCol, probePred, k, refine)
  }

  /** Top-k SQ8 search served from the PERSISTED byte codes: candidates
    * reconstruct in-row from code + stored params (255-scaled exact
    * integers), rank by the asymmetric surrogate, and the top refine·k
    * survivors per probe re-rank by exact cosine against `coll` — the
    * full-precision collection, touched for O(probes·refine·k) rows
    * through a broadcast id join (the refine source every
    * compressed-scan deployment keeps beside its codes). Selection is
    * hash-identical to the in-query [[Ann.knnSq8]] (the
    * emb_knn_sq8_persisted gate shares emb_knn_sq8's oracle). */
  def knnSq8Serve(codes: DataFrame, params: DataFrame, coll: DataFrame,
      idCol: String, vecCol: String, probePred: Column, k: Int,
      refine: Int): DataFrame = {
    val mm = Ann.pivotSq8(params)
    val enc = codes
      .crossJoin(broadcast(mm))
      .withColumn("__code", transform(col(CodeCol), c => c.cast("long") + lit(128L)))
      .select(col(idCol).as("neighbor_id"),
        Ann.sq8Reconstruct(col("__code"), col("__vmin"), col("__vmax")).as("__r"))
    val qdf = coll.select(col(idCol), Ann.quantize(col(vecCol)).as("__q"))
      .withColumn("__n", Ann.dotQ(col("__q"), col("__q")))
    Ann.sq8Search(enc, qdf, idCol, probePred, k, refine)
  }
}
