package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{AnnIndex, IndexFamily, IndexLifecycle, TextIndex}
import graft.operators.AnnIndex.Probe
import graft.sources.Warehouse

class WarehouseSpec extends SparkSpec {
  import sqlImplicits._

  test("bucketed tables join with no shuffle exchange") {
    val base = Files.createTempDirectory("graft-bkt").toString
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Warehouse.writeBucketed(l, "graft_bkt_l", s"$base/l", Seq("l_orderkey"), 4)
    Warehouse.writeBucketed(o, "graft_bkt_o", s"$base/o", Seq("o_orderkey"), 4)
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(bcastKey)
    try {
      spark.conf.set(bcastKey, "-1") // force the sort-merge path
      val joined = spark.table("graft_bkt_l")
        .join(spark.table("graft_bkt_o"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == l.count())
    } finally {
      spark.conf.set(bcastKey, prev)
      Warehouse.dropTable(spark, "graft_bkt_l")
      Warehouse.dropTable(spark, "graft_bkt_o")
    }
  }

  test("compact coalesces small files and preserves rows") {
    val base = Files.createTempDirectory("graft-cpt").toString
    val t = s"$base/t"
    // 64 tiny files
    (1 to 1000).toDF("v").repartition(64).write.parquet(t)
    val before = new java.io.File(t).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before == 64)
    val (nBefore, nAfter) = Warehouse.compact(spark, t, targetFileBytes = 64 * 1024)
    assert(nBefore == 64 && nAfter < 64 && nAfter >= 1)
    val live = new java.io.File(t).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(live == nAfter, s"expected $nAfter files, found $live")
    // row-for-row preservation
    val back = spark.read.parquet(t)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == 500500L)
    // the checked swap cleans its backup after a successful install
    // (mid-crash recovery semantics live in UpsertSwapSpec)
    assert(!new java.io.File(s"$t.old").exists())
  }

  test("partitioned layout prunes directories at planning time") {
    val base = Files.createTempDirectory("graft-part").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    Warehouse.writePartitioned(orders, s"$base/t", Seq("o_orderstatus"))
    // one directory per status value
    val dirs = new java.io.File(s"$base/t").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("o_orderstatus=")) && dirs.size >= 2)

    val q = spark.read.parquet(s"$base/t").filter(col("o_orderstatus") === "F")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the predicate lands in PartitionFilters (directory pruning), not
    // as a data filter evaluated per row
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("o_orderstatus"),
      s"status predicate should prune partitions:\n$scan")
    assert(q.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    // round-trip preserves content (partition col comes back typed string)
    assert(spark.read.parquet(s"$base/t").count() == orders.count())
  }

  test("z-ordered layout localizes BOTH dimensions; single sort only one") {
    val base = Files.createTempDirectory("graft-zord").toString
    // 64×64 grid: x and y independent and uniform
    val grid = (0 until 4096).map(i => (i % 64, i / 64, i)).toDF("x", "y", "id")

    def meanRangeFraction(path: String, column: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.getPath)
      assert(files.length > 1, s"expected a multi-file layout at $path")
      val fracs = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(org.apache.spark.sql.functions.min(column),
            org.apache.spark.sql.functions.max(column)).head
        (r.getInt(1) - r.getInt(0) + 1).toDouble / 64.0
      }
      fracs.sum / fracs.length
    }

    Warehouse.writeZOrdered(grid, s"$base/z", Seq("x", "y"), numFiles = 16, bits = 6)
    // 16 files over a 2-D z-curve ≈ a 4×4 tiling: each file sees ~1/4 of
    // each dimension (plus curve-boundary slop)
    val zx = meanRangeFraction(s"$base/z", "x")
    val zy = meanRangeFraction(s"$base/z", "y")
    assert(zx < 0.5, s"z-order x mean range fraction $zx")
    assert(zy < 0.5, s"z-order y mean range fraction $zy")

    // the layout is lossless: same rows, no clustering column leaked
    val back = spark.read.parquet(s"$base/z")
    assert(back.columns.toSet == Set("x", "y", "id"))
    assert(back.count() == 4096)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0 until 4096).map(_.toLong).sum)

    // baseline: a single-column range sort localizes x but leaves every
    // file spanning (almost) all of y — no skipping on the second dim
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/xsort")
    assert(meanRangeFraction(s"$base/xsort", "x") < 0.2)
    assert(meanRangeFraction(s"$base/xsort", "y") > 0.9)
  }

  test("ensureTable registers an external parquet table, idempotently") {
    val path = Files.createTempDirectory("graft-wh").toString + "/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
    val schema = spark.read.parquet(path).schema
    Warehouse.ensureTable(spark, "graft_wh_t", path, schema)
    assert(spark.table("graft_wh_t").count() == 2L)
    // second create is a no-op, as in the reference's object-id probe
    Warehouse.ensureTable(spark, "graft_wh_t", path, schema)
    assert(Warehouse.tableCounts(spark, Seq("graft_wh_t")) == Map("graft_wh_t" -> 2L))
    // drop removes only metadata; the parquet files survive
    Warehouse.dropTable(spark, "graft_wh_t")
    assert(spark.catalog.tableExists("graft_wh_t") == false)
    assert(spark.read.parquet(path).count() == 2L)
    Warehouse.dropTable(spark, "graft_wh_t") // idempotent
  }

  test("ORC round-trip preserves values exactly and prunes partitions") {
    val base = Files.createTempDirectory("graft-orc").toString
    val docs = Seq(
      (0L, "en", "plain ascii"),
      (1L, "zh", "中文字节数与字符数不同"), // multi-byte round-trip
      (2L, "en", ""),                      // empty text survives
      (3L, "de", "umlaut äöü")
    ).toDF("doc_id", "lang", "text")
    docs.write.mode("overwrite").partitionBy("lang").orc(s"$base/t")

    val back = spark.read.orc(s"$base/t")
    // byte-exact content round-trip (partition column comes back too)
    assert(back.select("doc_id", "lang", "text").collect().map(_.toSeq).toSet ==
      docs.collect().map(_.toSeq).toSet)

    // the lang predicate prunes directories at planning time, like the
    // parquet layout above — ORC shares the Hive-partitioning contract
    val q = back.filter(col("lang") === "en")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("lang"),
      s"lang predicate should prune ORC partitions:\n$scan")
    assert(q.count() == 2)
    // data predicates reach the ORC scan as pushed filters
    val dq = back.filter(col("doc_id") === 1L)
    val dscan = dq.queryExecution.executedPlan.collectLeaves().head.toString
    assert(dscan.contains("PushedFilters") && dscan.contains("doc_id"),
      s"doc_id predicate should push into the ORC scan:\n$dscan")
  }

  test("persisted LSH index serves without rebuild; bucket partitions prune dynamically") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-annidx").toString
    val planes = Ann.hashPlanes(nPlanes = 4, dim = 8)
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)))
      .toDF("vec_id", "embedding")
    IndexLifecycle.build(AnnIndex.lsh("vec_id", "embedding", planes), vecs, s"$base/idx")
    val index = spark.read.parquet(s"$base/idx")
    val served = AnnIndex.knnLshServe(index, "vec_id", col("vec_id") < 3L, k = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    // NO REBUILD: serving never touches a raw embedding column — the
    // quantized vector, norm and bucket all come from the stored rows
    assert(!plan.contains("embedding"), s"serve plan re-derives the index:\n$plan")
    // the candidate scan's bucket partitions are pruned at RUNTIME by
    // the broadcast probe side (dynamic partition pruning), so a search
    // reads only its probes' bucket directories
    assert(plan.contains("dynamicpruning"), s"no dynamic bucket pruning:\n$plan")
    assert(plan.contains("PartitionFilters"), plan)
    // and the served results equal the in-query LSH search exactly
    val direct = Ann.knnLsh(vecs, "vec_id", "embedding", planes,
      col("vec_id") < 3L, k = 2)
    assert(served.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
      == direct.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq)
  }

  test("incremental LSH append is O(batch) and serve-after-append equals full rebuild") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-annappend").toString
    val planes = Ann.hashPlanes(nPlanes = 4, dim = 8)
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    val all = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val first = all.filter(col("vec_id") < 48L)
    val batch = all.filter(col("vec_id") >= 48L)
    val lsh = AnnIndex.lsh("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, first, s"$base/idx")
    def partFiles() = {
      val fs = new java.io.File(s"$base/idx")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      walk(fs).map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = partFiles()
    // O(batch): the append job's scan reads the batch rows only — the
    // stored index path appears nowhere in its plan
    val rows = AnnIndex.lshIndexRows(batch, "vec_id", "embedding", planes)
    assert(!rows.queryExecution.executedPlan.toString.contains(s"$base/idx"),
      "append derivation must not read the stored index")
    IndexLifecycle.append(lsh, batch, s"$base/idx")
    val after = partFiles()
    // pre-existing part files are untouched (same path, size, mtime) —
    // append only ADDS files into the bucket directories
    assert(after.size > before.size, "append added no files")
    assert(before.toSet.subsetOf(after.toSet),
      "append rewrote pre-existing index files")
    // serve-after-append is row-identical to a full rebuild over the union
    IndexLifecycle.build(lsh, all, s"$base/full")
    def serve(p: String) = AnnIndex.knnLshServe(spark.read.parquet(p), "vec_id",
        col("vec_id") < 3L, k = 2)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(serve(s"$base/idx") == serve(s"$base/full"))
  }

  test("persisted PQ codes serve ADC search without re-encoding the collection") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-pqidx").toString
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val cbs = Ann.pqCodebooks(vecs, "vec_id", "embedding", dim = 8, m = 2, k = 4, iters = 1)
    IndexLifecycle.build(AnnIndex.pq("vec_id", "embedding", dim = 8, m = 2, clusters = 4,
      iters = 1), vecs, s"$base/idx")
    val served = AnnIndex.knnPqServe(
      spark.read.parquet(s"$base/idx"),
      spark.read.parquet(s"$base/idx_codebook"),
      vecs.filter(col("vec_id") < 3L), "vec_id", "embedding", dim = 8, m = 2, k = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    // the collection side reads ONLY the stored code rows (ReadSchema of
    // the codes scan), and — the probe frame being a local relation —
    // ANY appearance of the embedding column would mean the collection
    // was re-encoded from vectors
    assert(plan.contains("code:bigint"), s"no stored-code scan:\n$plan")
    assert(!plan.contains("embedding"), s"collection re-encoded from vectors:\n$plan")
    // identical selection to the in-query PQ search
    val direct = Ann.knnPq(vecs, "vec_id", "embedding", cbs, dim = 8, m = 2,
      col("vec_id") < 3L, k = 2)
    assert(served.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
      == direct.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq)
    graft.operators.NearDup.freeCheckpoint(cbs)
  }

  test("persisted IVF index serves from stored lists + codebook, no assignment work") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-ivfidx").toString
    val vecs = (0L until 64L).map(i =>
      (i, i % 4, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "label", "embedding")
    val codebook = Ann.ivfCodebook(vecs, "label", "embedding")
    IndexLifecycle.build(AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2),
      vecs, s"$base/idx")
    val served = AnnIndex.knnIvfServe(
      spark.read.parquet(s"$base/idx"),
      spark.read.parquet(s"$base/idx_codebook"),
      "vec_id", col("vec_id") < 3L, k = 2, nProbe = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    // serving reads stored rows only — no raw vector, no re-assignment
    assert(!plan.contains("embedding"), s"serve plan re-derives the index:\n$plan")
    // the probes' chosen lists prune the candidate scan at runtime
    assert(plan.contains("dynamicpruning"), s"no dynamic list pruning:\n$plan")
    // identical selection to the in-query IVF search
    val direct = Ann.knnIvf(vecs, "vec_id", "embedding", codebook,
      col("vec_id") < 3L, k = 2, nProbe = 2)
    assert(served.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
      == direct.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq)
  }

  /** (path, size, mtime) of every data part file under `dir` — the
    * physical fingerprint the append tests assert is preserved. */
  private def partFiles(dir: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    walk(new java.io.File(dir)).map(f => (f.getPath, f.length, f.lastModified))
      .sortBy(_._1)
  }

  test("incremental IVF append encodes with the stored codebook, O(batch)") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-ivfappend").toString
    val all = (0L until 64L).map(i =>
      (i, i % 4, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "label", "embedding")
    val first = all.filter(col("vec_id") < 48L)
    val batch = all.filter(col("vec_id") >= 48L)
    // PRODUCTION shape: codebook trained on the initial ingest alone,
    // then FROZEN — appends encode against the stored copy
    val cbFirst = Ann.ivfCodebook(first, "label", "embedding")
    val ivf = AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2)
    IndexLifecycle.build(ivf, first, s"$base/idx")
    val before = partFiles(s"$base/idx")
    // O(batch): the derivation scans the batch + the codebook only —
    // the stored index data appears nowhere in its plan
    val rows = AnnIndex.ivfIndexRows(batch, "vec_id", "embedding", cbFirst)
    assert(!rows.queryExecution.executedPlan.toString.contains(s"$base/idx"),
      "append derivation must not read the stored index")
    IndexLifecycle.append(ivf, batch, s"$base/idx")
    val after = partFiles(s"$base/idx")
    assert(after.size > before.size, "append added no files")
    assert(before.toSet.subsetOf(after.toSet),
      "append rewrote pre-existing index files")
    // serve-after-append == full rebuild over the union, same codebook
    IndexLifecycle.build(ivf, all, s"$base/full", trainOn = Some(first))
    def serve(p: String) = AnnIndex.knnIvfServe(spark.read.parquet(p),
        spark.read.parquet(p + "_codebook"), "vec_id",
        col("vec_id") < 3L, k = 2, nProbe = 2)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(serve(s"$base/idx") == serve(s"$base/full"))
  }

  test("incremental PQ append encodes with the stored codebooks, O(batch)") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-pqappend").toString
    val all = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val first = all.filter(col("vec_id") < 48L)
    val batch = all.filter(col("vec_id") >= 48L)
    // frozen quantizer: codebooks trained on the initial ingest alone
    val cbs = Ann.pqCodebooks(first, "vec_id", "embedding", dim = 8, m = 2, k = 4, iters = 1)
    try {
      val pq = AnnIndex.pq("vec_id", "embedding", dim = 8, m = 2, clusters = 4, iters = 1)
      IndexLifecycle.build(pq, first, s"$base/idx")
      val before = partFiles(s"$base/idx")
      val rows = AnnIndex.pqIndexRows(batch, "vec_id", "embedding", cbs, dim = 8, m = 2)
      assert(!rows.queryExecution.executedPlan.toString.contains(s"$base/idx"),
        "append derivation must not read the stored index")
      IndexLifecycle.append(pq, batch, s"$base/idx")
      val after = partFiles(s"$base/idx")
      assert(after.size > before.size, "append added no files")
      assert(before.toSet.subsetOf(after.toSet),
        "append rewrote pre-existing index files")
      // ADC over the appended codes == full rebuild over the union
      IndexLifecycle.build(pq, all, s"$base/full", trainOn = Some(first))
      def serve(p: String) = AnnIndex.knnPqServe(spark.read.parquet(p),
          spark.read.parquet(p + "_codebook"),
          all.filter(col("vec_id") < 3L), "vec_id", "embedding",
          dim = 8, m = 2, k = 2)
        .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
      assert(serve(s"$base/idx") == serve(s"$base/full"))
    } finally graft.operators.NearDup.freeCheckpoint(cbs)
  }

  test("persisted SQ8 index stores byte codes; serve == in-query; append is O(batch)") {
    import graft.operators.{Ann, AnnIndex}
    val base = Files.createTempDirectory("graft-sq8idx").toString
    val all = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val sq8 = AnnIndex.sq8("vec_id", "embedding", refine = 2)
    IndexLifecycle.build(sq8, all, s"$base/idx")
    // the stored code column is genuinely ONE byte per dimension
    val stored = spark.read.parquet(s"$base/idx")
    assert(stored.schema("code").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false) ||
      stored.schema("code").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    // serve-from-store == the in-query derivation, bit for bit (the
    // round-trip through signed bytes is lossless)
    val served = AnnIndex.knnSq8Serve(stored,
      spark.read.parquet(s"$base/idx_params"), all,
      "vec_id", "embedding", col("vec_id") < 3L, k = 2, refine = 2)
    val inQuery = Ann.knnSq8(all, "vec_id", "embedding", col("vec_id") < 3L,
      k = 2, refine = 2)
    assert(rows(served) == rows(inQuery))
    // incremental append: frozen params, O(batch), stored files untouched
    val first = all.filter(col("vec_id") < 48L)
    val batch = all.filter(col("vec_id") >= 48L)
    IndexLifecycle.build(sq8, first, s"$base/inc")
    val params = spark.read.parquet(s"$base/inc_params")
    val before = partFiles(s"$base/inc")
    val derived = AnnIndex.sq8IndexRows(batch, "vec_id", "embedding", params)
    val planStr = derived.queryExecution.executedPlan.toString
    assert(planStr.contains("inc_params"),
      "append derivation reads the stored frozen params")
    assert(!planStr.replace(s"$base/inc_params", "").contains(s"$base/inc"),
      "append derivation must not read the stored index data")
    IndexLifecycle.append(sq8, batch, s"$base/inc")
    val after = partFiles(s"$base/inc")
    assert(after.size > before.size, "append added no files")
    assert(before.toSet.subsetOf(after.toSet),
      "append rewrote pre-existing index files")
    // serve-after-append == a rebuild over the union with the SAME
    // frozen (first-ingest-trained) params
    AnnIndex.sq8IndexRows(all, "vec_id", "embedding", params)
      .write.mode("overwrite").parquet(s"$base/full")
    params.write.mode("overwrite").parquet(s"$base/full_params")
    def serve(p: String) = rows(AnnIndex.knnSq8Serve(spark.read.parquet(p),
      spark.read.parquet(p + "_params"), all,
      "vec_id", "embedding", col("vec_id") < 3L, k = 2, refine = 2))
    assert(serve(s"$base/inc") == serve(s"$base/full"))
  }

  test("following-index fold persists the served state and hands the cursor off exactly-once") {
    import graft.operators.{Ann, AnnIndex}
    import graft.sources.{Replica, Snapshot}
    val base = Files.createTempDirectory("graft-annfold").toString
    val planes = Ann.hashPlanes(nPlanes = 4, dim = 8)
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    val all = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // corpus v1 = ids < 48; the base index freezes there
    val buildV = Snapshot.commit(spark, s"$base/corpus",
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val lsh = AnnIndex.lsh("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, Snapshot.read(spark, s"$base/corpus", "emb"), s"$base/idx")
    // a never-synced delta root cannot fold: no cursor to hand off, and
    // a guessed one would break the exactly-once chain
    Snapshot.commit(spark, s"$base/nosync", Map("emb_delta" -> all.limit(1)))
    intercept[IllegalStateException] {
      IndexLifecycle.fold(spark, lsh, s"$base/idx", s"$base/nosync",
        "emb_delta", s"$base/never")
    }
    // wave 1: erasure + MERGE (inserts >= 48, re-upserts %9==1,
    // resurrections of the erased overlap), one exactly-once sync
    Snapshot.deleteWhere(spark, s"$base/corpus", "emb",
      col("vec_id") % 5 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, s"$base/corpus", "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 9 === 1), Seq("vec_id"))
    val synced = Replica.sync(spark, s"$base/corpus", "emb", s"$base/d1",
      "emb_delta", Seq("vec_id"), initialCursor = buildV)
    assert(synced.isDefined)
    def serveRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val followNow = serveRows(IndexLifecycle.serveFollow(spark, lsh, s"$base/idx",
      s"$base/d1", "emb_delta", Probe(col("vec_id") < 3L, 2)))
    // the FOLD: base+delta → fresh frozen base, cursor returned
    val cur = IndexLifecycle.fold(spark, lsh, s"$base/idx", s"$base/d1",
      "emb_delta", s"$base/idx2")
    assert(cur == synced.get,
      "handoff cursor must be the delta's synced source version")
    // the folded base is row-identical to a full rebuild over the live
    // corpus (stored rows passed through bit-exactly; only delta rows
    // were encoded), and it serves exactly what the follow mode served
    val folded = spark.read.parquet(s"$base/idx2")
    IndexLifecycle.build(lsh, Snapshot.read(spark, s"$base/corpus", "emb"), s"$base/full")
    val rebuilt = spark.read.parquet(s"$base/full")
      .select(folded.columns.map(col).toSeq: _*)
    assert(folded.orderBy("vec_id").collect().map(_.toSeq).toSeq
      == rebuilt.orderBy("vec_id").collect().map(_.toSeq).toSeq)
    val servedFold = AnnIndex.knnLshServe(folded, "vec_id", col("vec_id") < 3L, 2)
    assert(serveRows(servedFold) == followNow)
    // and it stays a first-class frozen index: the bucket scan still
    // prunes dynamically under the broadcast probe side
    val again = AnnIndex.knnLshServe(folded, "vec_id", col("vec_id") < 3L, 2)
    again.collect()
    assert(again.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "folded base lost the dynamically-pruned serve scan")
    // wave 2 past the fold: a FRESH delta seeded at the handoff cursor
    // replays exactly the unabsorbed changes — serve == final rebuild
    Snapshot.deleteWhere(spark, s"$base/corpus", "emb",
      col("vec_id") % 7 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, s"$base/corpus", "emb",
      all.filter(col("vec_id") % 3 === 2), Seq("vec_id"))
    assert(Replica.sync(spark, s"$base/corpus", "emb", s"$base/d2",
      "emb_delta", Seq("vec_id"), initialCursor = cur).isDefined)
    val after = serveRows(IndexLifecycle.serveFollow(spark, lsh, s"$base/idx2",
      s"$base/d2", "emb_delta", Probe(col("vec_id") < 3L, 2)))
    IndexLifecycle.build(lsh, Snapshot.read(spark, s"$base/corpus", "emb"), s"$base/full2")
    assert(after == serveRows(AnnIndex.knnLshServe(
      spark.read.parquet(s"$base/full2"), "vec_id", col("vec_id") < 3L, 2)))
  }

  test("IVF fold persists the served state and carries the frozen codebook verbatim") {
    import graft.operators.{Ann, AnnIndex}
    import graft.sources.{Replica, Snapshot}
    val base = Files.createTempDirectory("graft-ivffold").toString
    val all = (0L until 64L).map(i =>
      (i, i % 4, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "label", "embedding")
    val buildV = Snapshot.commit(spark, s"$base/corpus",
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val atBuild = Snapshot.read(spark, s"$base/corpus", "emb")
    // trained ONCE at build time; exact-integer ⇒ deterministic, so the
    // rebuild below reusing it matches the frozen stored copy
    val ivf = AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2)
    IndexLifecycle.build(ivf, atBuild, s"$base/idx")
    // a never-synced delta root cannot fold
    Snapshot.commit(spark, s"$base/nosync", Map("emb_delta" -> all.limit(1)))
    intercept[IllegalStateException] {
      IndexLifecycle.fold(spark, ivf, s"$base/idx", s"$base/nosync",
        "emb_delta", s"$base/never")
    }
    // mutate past the frozen base, one seeded sync
    Snapshot.deleteWhere(spark, s"$base/corpus", "emb",
      col("vec_id") % 5 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, s"$base/corpus", "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 9 === 1), Seq("vec_id"))
    val synced = Replica.sync(spark, s"$base/corpus", "emb", s"$base/d1",
      "emb_delta", Seq("vec_id"), initialCursor = buildV)
    assert(synced.isDefined)
    def serveRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val followNow = serveRows(IndexLifecycle.serveFollow(spark, ivf, s"$base/idx",
      s"$base/d1", "emb_delta", Probe(col("vec_id") < 3L, 2)))
    val cur = IndexLifecycle.fold(spark, ivf, s"$base/idx", s"$base/d1",
      "emb_delta", s"$base/idx2")
    assert(cur == synced.get,
      "handoff cursor must be the delta's synced source version")
    // the codebook is FROZEN: the new base's copy is row-identical to
    // the build-time codebook (no retraining — retraining would shift
    // every stored assignment)
    def cbRows(p: String) = spark.read.parquet(p)
      .orderBy("cb_label").collect().map(_.toSeq).toSeq
    assert(cbRows(s"$base/idx2_codebook") == cbRows(s"$base/idx_codebook"))
    // the folded base is row-identical to a full rebuild over the live
    // corpus with THAT codebook, and serves exactly what follow served
    val folded = spark.read.parquet(s"$base/idx2")
    IndexLifecycle.build(ivf, Snapshot.read(spark, s"$base/corpus", "emb"), s"$base/full",
      trainOn = Some(Snapshot.readAt(spark, s"$base/corpus", "emb", buildV)))
    val rebuilt = spark.read.parquet(s"$base/full")
      .select(folded.columns.map(col).toSeq: _*)
    assert(folded.orderBy("vec_id").collect().map(_.toSeq).toSeq
      == rebuilt.orderBy("vec_id").collect().map(_.toSeq).toSeq)
    assert(serveRows(AnnIndex.knnIvfServe(folded,
      spark.read.parquet(s"$base/idx2_codebook"), "vec_id",
      col("vec_id") < 3L, 2, nProbe = 2)) == followNow)
  }

  test("PQ follow serves frozen-codebook codes; the fold closes the lifecycle") {
    import graft.operators.AnnIndex
    import graft.sources.{Replica, Snapshot}
    val base = Files.createTempDirectory("graft-pqfollow").toString
    val all = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val buildV = Snapshot.commit(spark, s"$base/corpus",
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val atBuild = Snapshot.read(spark, s"$base/corpus", "emb")
    val pq = AnnIndex.pq("vec_id", "embedding", dim = 8, m = 2, clusters = 4, iters = 1)
    IndexLifecycle.build(pq, atBuild, s"$base/idx")
    Snapshot.deleteWhere(spark, s"$base/corpus", "emb",
      col("vec_id") % 5 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, s"$base/corpus", "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 9 === 1), Seq("vec_id"))
    val synced = Replica.sync(spark, s"$base/corpus", "emb", s"$base/d1",
      "emb_delta", Seq("vec_id"), initialCursor = buildV)
    assert(synced.isDefined)
    val probes = all.filter(col("vec_id") < 3L)
    def serveRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val follow = serveRows(IndexLifecycle.serveFollow(spark, pq, s"$base/idx",
      s"$base/d1", "emb_delta", Probe(col("vec_id") < 3L, 2, Some(all))))
    // follow == full rebuild over the live corpus with the SAME
    // frozen codebooks (vectors unchanged ⇒ identical codes; only
    // membership moves, which is what base-minus-touched ∪ delta
    // must get right)
    IndexLifecycle.build(pq, Snapshot.read(spark, s"$base/corpus", "emb"), s"$base/full",
      trainOn = Some(Snapshot.readAt(spark, s"$base/corpus", "emb", buildV)))
    assert(follow == serveRows(AnnIndex.knnPqServe(
      spark.read.parquet(s"$base/full"),
      spark.read.parquet(s"$base/full_codebook"),
      probes, "vec_id", "embedding", dim = 8, m = 2, k = 2)))
    // the FOLD: codes == rebuild codes, codebooks copied verbatim,
    // cursor == the synced source version
    val cur = IndexLifecycle.fold(spark, pq, s"$base/idx", s"$base/d1",
      "emb_delta", s"$base/idx2")
    assert(cur == synced.get)
    def codeRows(p: String) = spark.read.parquet(p)
      .orderBy("vec_id", "subspace").collect().map(_.toSeq).toSeq
    assert(codeRows(s"$base/idx2") == codeRows(s"$base/full"))
    def cbRows(p: String) = spark.read.parquet(p)
      .orderBy("subspace", "cluster").collect().map(_.toSeq).toSeq
    assert(cbRows(s"$base/idx2_codebook") == cbRows(s"$base/idx_codebook"))
    assert(serveRows(AnnIndex.knnPqServe(spark.read.parquet(s"$base/idx2"),
      spark.read.parquet(s"$base/idx2_codebook"),
      probes, "vec_id", "embedding", dim = 8, m = 2, k = 2)) == follow)
  }

  /** The follow → fold lifecycle of one index family: the follow serve
    * equals a rebuild over the live corpus (same frozen side table); the
    * fold writes exactly the rebuild's rows, copies the side table
    * verbatim and hands off the synced cursor; serving the new base
    * equals the follow serve; a never-synced delta refuses to fold. */
  private def foldLifecycle[Q](f: IndexFamily[Q], all: DataFrame,
      wave: DataFrame => DataFrame, request: DataFrame => Q): Unit = {
    import graft.sources.{Replica, Snapshot}
    val base = Files.createTempDirectory("graft-foldlife").toString
    val id = col(f.idCol)
    val buildV = Snapshot.commit(spark, s"$base/corpus", Map("t" -> all.filter(id < 48L)))
    IndexLifecycle.build(f, Snapshot.read(spark, s"$base/corpus", "t"), s"$base/idx")
    Snapshot.deleteWhere(spark, s"$base/corpus", "t", id % 5 === 0, Seq(f.idCol))
    Snapshot.upsertMergeOnRead(spark, s"$base/corpus", "t",
      wave(all.filter(id >= 48L || id % 9 === 1)), Seq(f.idCol))
    val synced = Replica.sync(spark, s"$base/corpus", "t", s"$base/d1",
      "t_delta", Seq(f.idCol), initialCursor = buildV)
    assert(synced.isDefined)
    val live = Snapshot.read(spark, s"$base/corpus", "t")
    // rows as an order-free multiset (every served row carries its rank)
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def stored(p: String) = rowsOf(spark.read.parquet(p))
    val follow = rowsOf(IndexLifecycle.serveFollow(spark, f, s"$base/idx",
      s"$base/d1", "t_delta", request(live)))
    // follow == full rebuild over the live corpus with the SAME frozen
    // side table (trained on the build-version corpus)
    IndexLifecycle.build(f, live, s"$base/full",
      trainOn = Some(Snapshot.readAt(spark, s"$base/corpus", "t", buildV)))
    assert(follow == rowsOf(IndexLifecycle.serve(spark, f, s"$base/full", request(live))))
    // the FOLD: stored rows == rebuild rows, side table copied verbatim,
    // cursor == the synced source version; serving the new base == follow
    val cur = IndexLifecycle.fold(spark, f, s"$base/idx", s"$base/d1",
      "t_delta", s"$base/idx2")
    assert(cur == synced.get)
    f.tables.foreach { t =>
      assert(stored(s"$base/idx2${t.suffix}") == stored(s"$base/full${t.suffix}"))
    }
    f.side.foreach { t =>
      assert(stored(s"$base/idx2${t.suffix}") == stored(s"$base/idx${t.suffix}"))
    }
    assert(rowsOf(IndexLifecycle.serve(spark, f, s"$base/idx2", request(live))) == follow)
    // a never-synced delta has no cursor to hand off — loud throw
    Snapshot.commit(spark, s"$base/nosync", Map("t_delta" -> all.limit(1)))
    val ex = intercept[IllegalStateException](
      IndexLifecycle.fold(spark, f, s"$base/idx", s"$base/nosync", "t_delta", s"$base/idx3"))
    assert(ex.getMessage.contains("never synced"))
  }

  private def foldVectors = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 11 + j * 5) % 19).toFloat / 19f)))
    .toDF("vec_id", "embedding")

  test("SQ8 follow serves frozen-param codes; the fold closes the lifecycle") {
    foldLifecycle(AnnIndex.sq8("vec_id", "embedding", refine = 2), foldVectors, identity,
      live => Probe(col("vec_id") < 3L, k = 2, Some(live)))
  }

  test("BQ follow serves frozen-param codes; the fold closes the lifecycle") {
    foldLifecycle(AnnIndex.bq("vec_id", "embedding", refine = 2), foldVectors, identity,
      live => Probe(col("vec_id") < 3L, k = 2, Some(live)))
  }

  test("BM25 follow serves re-tokenized postings; the fold closes the lifecycle") {
    import org.apache.spark.sql.functions.{concat, lit}
    val docs = (0L until 64L).map { i =>
      (i, (Seq.fill((i % 4).toInt + 1)(s"w${i % 7}") ++
        (if (i % 3 == 0) Seq("hash", "join") else Seq("vector"))).mkString(" "))
    }.toDF("doc_id", "text")
    // re-upserted docs carry CHANGED text: stale base postings or a missed
    // re-tokenization would shift their tf and every doc's normalization
    foldLifecycle(TextIndex.bm25("doc_id", "text"), docs,
      _.withColumn("text", concat(col("text"), lit(" vector vector"))),
      _ => TextIndex.Query(Seq("hash", "vector"), 5))
  }
}
