package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.sources.Snapshot

class SnapshotSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("snapshot-spec")

  test("commit/read roundtrip across multiple tables, versions increment") {
    val root = freshRoot()
    assert(Snapshot.currentVersion(spark, root).isEmpty)
    val v1 = Snapshot.commit(spark, root, Map(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((10L, "y")).toDF("id", "v")))
    assert(v1 == 1L)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root, "a").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // updating one table keeps the other's data visible
    val v2 = Snapshot.commit(spark, root, Map("a" -> Seq((2L, "z")).toDF("id", "v")))
    assert(v2 == 2L)
    assert(Snapshot.read(spark, root, "a").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Snapshot.read(spark, root, "b").collect().map(_.getLong(0)).toSeq == Seq(10L))
    intercept[IllegalArgumentException](Snapshot.read(spark, root, "nope"))
  }

  test("time travel: readAt pins a committed version while HEAD advances") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((10L, "y")).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("a" -> Seq((2L, "z")).toDF("id", "v")))
    // HEAD sees v2's a; the pinned version still reads v1's bytes
    assert(Snapshot.read(spark, root, "a").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Snapshot.readAt(spark, root, "a", v1).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // untouched tables resolve through the pinned manifest too
    assert(Snapshot.readAt(spark, root, "b", v1).collect().map(_.getLong(0)).toSeq == Seq(10L))
    intercept[IllegalArgumentException](Snapshot.readAt(spark, root, "a", 99L))
    intercept[IllegalArgumentException](Snapshot.readAt(spark, root, "nope", v1))
    // vacuum destroys old versions — pinned reads then fail loudly
    Snapshot.vacuum(spark, root, keepLast = 1)
    intercept[IllegalArgumentException](Snapshot.tablesAt(spark, root, v1))
  }

  test("uncommitted data dirs are invisible; torn manifests are skipped") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, 1.0)).toDF("id", "v")))
    // crash simulation 1: data written but no manifest → invisible
    Seq((99L, 9.9)).toDF("id", "v").write
      .parquet(s"$root/data/t/orphan-never-committed")
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // crash simulation 2: torn manifest at a higher version (no END
    // footer) → readers fall back to the last complete version
    Files.write(Paths.get(root, "_commits", "v0000000007.manifest"),
      "GRAFT-SNAPSHOT v1\nt\tdata/t/orphan-never-committed".getBytes(UTF_8))
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // commits claim baseV+1, never a slot beyond an unrelated torn claim
    val v = Snapshot.commit(spark, root, Map("t" -> Seq((2L, 2.0)).toDF("id", "v")))
    assert(v == 2L)
    assert(Snapshot.currentVersion(spark, root).contains(2L))
  }

  test("a torn claim on the next slot blocks commits loudly instead of being skipped") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, 1)).toDF("id", "v")))
    // in-flight/crashed writer holds slot 2 with an incomplete manifest
    Files.write(Paths.get(root, "_commits", "v0000000002.manifest"),
      "GRAFT-SNAPSHOT v1".getBytes(UTF_8))
    val saved = Snapshot.claimWaitMs
    Snapshot.claimWaitMs = 250L
    try {
      val ex = intercept[IllegalStateException](
        Snapshot.commit(spark, root, Map("t" -> Seq((2L, 2)).toDF("id", "v"))))
      assert(ex.getMessage.contains("incomplete claim"))
    } finally Snapshot.claimWaitMs = saved
    // recovery path: vacuum sweeps the dead claim, the slot reopens
    Snapshot.vacuum(spark, root, keepLast = 1)
    assert(Snapshot.commit(spark, root, Map("t" -> Seq((2L, 2)).toDF("id", "v"))) == 2L)
  }

  test("a waiting commit layers over the in-flight claim once it completes") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map(
      "a" -> Seq((1L, 1)).toDF("id", "v"), "b" -> Seq((1L, 1)).toDF("id", "v")))
    // writer A holds slot 2 (torn: still flushing its update to table a)
    val claim = Paths.get(root, "_commits", "v0000000002.manifest")
    Files.write(claim, "GRAFT-SNAPSHOT v1".getBytes(UTF_8))
    // writer B wants to update table b; it must WAIT for A, not claim
    // slot 3 over base 1 (which would shadow A's commit forever)
    val aRel = Snapshot.tables(spark, root)("a").stripPrefix(s"$root/")
    val bDf = Seq((2L, 2)).toDF("id", "v")
    val finisher = new Thread(() => {
      Thread.sleep(400L)
      // A completes: manifest with header+entries+footer (a points at a
      // fresh dir — reuse the existing one for simplicity)
      Files.write(claim,
        s"GRAFT-SNAPSHOT v1\na\t$aRel\nb\t$aRel\nEND 2".getBytes(UTF_8))
    })
    finisher.start()
    val v = try Snapshot.commit(spark, root, Map("b" -> bDf)) finally finisher.join()
    // B landed AFTER A and kept A's table map for the tables it didn't touch
    assert(v == 3L)
    val tables = Snapshot.tables(spark, root)
    assert(tables("a").endsWith(aRel))
  }

  test("mergeCommit: all tables publish in one version with MERGE semantics") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map(
      "orders" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "total"),
      "details" -> Seq((1L, 1), (2L, 2)).toDF("id", "qty")))
    val (v, stats) = Snapshot.mergeCommit(spark, root, Map(
      "orders" -> (Seq((2L, 99.0), (3L, 30.0)).toDF("id", "total"), Seq("id")),
      "details" -> (Seq((3L, 3)).toDF("id", "qty"), Seq("id"))))
    assert(v == 2L)
    assert(stats("orders") == graft.operators.Upsert.MergeStats(1, 1, 3))
    assert(stats("details") == graft.operators.Upsert.MergeStats(1, 0, 3))
    val orders = Snapshot.read(spark, root, "orders")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(orders == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    // time travel: the previous snapshot is still a complete, readable set
    assert(Snapshot.currentVersion(spark, root).contains(2L))
  }

  test("mergeCommit enforces the stage-unique-on-keys precondition") {
    val root = freshRoot()
    intercept[IllegalArgumentException](
      Snapshot.mergeCommit(spark, root, Map(
        "t" -> (Seq((1L, 1), (1L, 2)).toDF("id", "v"), Seq("id")))))
    // nothing published
    assert(Snapshot.currentVersion(spark, root).isEmpty)
  }

  test("mergeCommit with duplicate stage keys throws the exact message; the head stays") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, 1), (2L, 2)).toDF("id", "v")))
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException](
      Snapshot.mergeCommit(spark, root, Map(
        "t" -> (Seq((2L, 20), (3L, 3), (3L, 30), (4L, 4)).toDF("id", "v"), Seq("id")))))
    assert(ex.getMessage == "upsert: stage must be unique on (id) — 4 rows but 3 distinct keys",
      ex.getMessage)
    assert(Snapshot.currentVersion(spark, root).contains(v1))
    assert(Snapshot.read(spark, root, "t").collect().map(r => r.getLong(0) -> r.getInt(1))
      .toMap == Map(1L -> 1, 2L -> 2))
    assert((sc.getPersistentRDDs.keySet -- cached).isEmpty, "the failed merge left a cache")
  }

  test("mergeCommit: a failing table cancels its concurrent siblings and publishes nothing") {
    val root = freshRoot()
    val sc = spark.sparkContext
    val v1 = Snapshot.commit(spark, root, Map(
      "a" -> Seq((1L, 1)).toDF("id", "v"),
      "b" -> Seq((1L, 1)).toDF("id", "v"),
      "c" -> Seq((1L, 1)).toDF("id", "v")))
    def contents(t: String) = Snapshot.read(spark, root, t).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val before = Seq("a", "b", "c").map(t => t -> contents(t)).toMap
    // "b" is slow (about 60 s unless cancelled; a cancelled task stops at
    // its next record), "c" has a duplicate key and fails within seconds
    val slow = spark.createDataFrame(sc.parallelize(2 to 60001, 2)
      .map { i => Thread.sleep(2); (i.toLong, i) }).toDF("id", "v")
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException](
      Snapshot.mergeCommit(spark, root, Map(
        "a" -> (Seq((2L, 2)).toDF("id", "v"), Seq("id")),
        "b" -> (slow, Seq("id")),
        "c" -> (Seq((2L, 2), (2L, 3)).toDF("id", "v"), Seq("id")))))
    val wallS = (System.nanoTime() - t0) / 1e9
    assert(wallS < 30.0, s"the slow sibling ran on for $wallS s after the failure")
    assert(Snapshot.currentVersion(spark, root).contains(v1))
    Seq("a", "b", "c").foreach(t => assert(contents(t) == before(t), s"new data visible in $t"))
    // the job-status view trails the scheduler by a listener-bus hop
    val deadline = System.nanoTime() + 2L * 1000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sibling job still runs after the throw")
  }

  test("mergeCommit and upsertMergeOnRead leave a batch the caller persisted cached") {
    import org.apache.spark.storage.StorageLevel
    val root = freshRoot()
    val mine = Seq((1L, 1), (2L, 2)).toDF("id", "v").persist()
    try {
      val (_, stats) = Snapshot.mergeCommit(spark, root, Map("t" -> (mine, Seq("id"))))
      assert(stats("t") == graft.operators.Upsert.MergeStats(2, 0, 2))
      assert(mine.storageLevel != StorageLevel.NONE, "mergeCommit dropped the caller's cache")
      Snapshot.upsertMergeOnRead(spark, root, "m", mine, Seq("id"))
      assert(mine.storageLevel != StorageLevel.NONE,
        "upsertMergeOnRead dropped the caller's cache")
    } finally mine.unpersist()
    val theirs = Seq((3L, 3)).toDF("id", "v")
    Snapshot.upsertMergeOnRead(spark, root, "m", theirs, Seq("id"))
    assert(theirs.storageLevel == StorageLevel.NONE, "upsertMergeOnRead kept its own cache")
    assert(Snapshot.read(spark, root, "m").count() == 3L)
  }

  test("optimistic concurrency: a stale base aborts without publishing") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, 1)).toDF("id", "v")))
    // another writer advances the snapshot under us
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, 2)).toDF("id", "v")))
    val ex = intercept[IllegalStateException](
      Snapshot.commit(spark, root, Map("t" -> Seq((3L, 3)).toDF("id", "v")),
        expectBase = Some(v1)))
    assert(ex.getMessage.contains("conflict"))
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("vacuum keeps the newest versions and sweeps unreferenced data") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, 1)).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, 2)).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((3L, 3)).toDF("id", "v")))
    Seq((9L, 9)).toDF("id", "v").write.parquet(s"$root/data/t/orphan")
    Snapshot.vacuum(spark, root, keepLast = 1)
    val dataDirs = Files.list(Paths.get(root, "data", "t")).toArray.map(_.toString)
    assert(dataDirs.length == 1, s"expected one surviving data dir, got: ${dataDirs.toSeq}")
    val manifests = Files.list(Paths.get(root, "_commits")).toArray
      .map(_.toString).filter(_.endsWith(".manifest"))
    assert(manifests.length == 1)
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // numbering continues from the vacuumed high-water mark
    assert(Snapshot.commit(spark, root, Map("t" -> Seq((4L, 4)).toDF("id", "v"))) == 4L)
  }

  test("data-skipping stats prune files on a selective range read") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // 8 range-partitioned files → disjoint id ranges per file
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("payload", col("id") * 2)
      .repartitionByRange(8, col("id"))
    Snapshot.commit(spark, root, Map("t" -> df),
      statsCols = Map("t" -> Seq("id")))
    val full = Snapshot.read(spark, root, "t")
    assert(full.inputFiles.length == 8)
    val pruned = Snapshot.readPruned(spark, root, "t", "id", 100L, 120L)
    // a 21-value range intersects 1-2 of the 8 disjoint file ranges
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"expected fewer than ${full.inputFiles.length} files, got ${pruned.inputFiles.length}")
    // skipping is lossless: every matching row is still there
    assert(pruned.filter(col("id").between(100, 120)).count() == 21L)
    // an out-of-domain range prunes everything and stays a typed frame
    val none = Snapshot.readPruned(spark, root, "t", "id", 5000L, 6000L)
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "payload"))
    // no stats for the column → sound fallback to the full file set
    val fallback = Snapshot.readPruned(spark, root, "t", "payload", 0L, 10L)
    assert(fallback.inputFiles.length == full.inputFiles.length)
  }

  test("data-skipping stats survive time travel and vacuum respects them") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root,
      Map("t" -> spark.range(0, 100).toDF("id").repartitionByRange(4, col("id"))),
      statsCols = Map("t" -> Seq("id")))
    Snapshot.commit(spark, root,
      Map("t" -> spark.range(1000, 1100).toDF("id").repartitionByRange(4, col("id"))),
      statsCols = Map("t" -> Seq("id")))
    // pinned-version pruned read resolves the OLD data dir's sidecar
    val pinned = Snapshot.readPruned(spark, root, "t", "id", 0L, 10L, version = Some(v1))
    assert(pinned.filter(col("id").between(0, 10)).count() == 11L)
    assert(pinned.inputFiles.length < 4)
    // HEAD's domain doesn't include v1's ids
    assert(Snapshot.readPruned(spark, root, "t", "id", 0L, 10L).count() == 0L)
  }

  test("mergeCommit records skipping stats for its merged tables") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val s1 = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 3)
      .repartitionByRange(4, col("id"))
    Snapshot.mergeCommit(spark, root, Map("t" -> ((s1, Seq("id")))),
      statsCols = Map("t" -> Seq("id")))
    val pruned = Snapshot.readPruned(spark, root, "t", "id", 0L, 5L)
    assert(pruned.inputFiles.length < 4)
    assert(pruned.filter(col("id") <= 5).count() == 6L)
  }

  test("runTransactional loads the 4-table warehouse in one snapshot commit") {
    val out = freshRoot()
    val res = Pipeline.runTransactional(spark, RefCsvFixture.dir, out)
    assert(res.counts.size == 4 && res.counts.values.forall(_ > 0L),
      s"empty warehouse tables: ${res.counts}")
    assert(Snapshot.currentVersion(spark, s"$out/snapshots").contains(1L))
    val tables = Snapshot.tables(spark, s"$out/snapshots").keySet
    assert(tables == Set("customer", "product", "orders", "order_details"))
    res.counts.foreach { case (t, n) =>
      assert(Snapshot.read(spark, s"$out/snapshots", t).count() == n, s"count mismatch for $t")
    }
    // idempotent: re-running publishes v2 with identical contents
    val res2 = Pipeline.runTransactional(spark, RefCsvFixture.dir, out)
    assert(Snapshot.currentVersion(spark, s"$out/snapshots").contains(2L))
    assert(res2.counts == res.counts)
  }

  test("commitAppend: O(batch) segments union on read; time travel pins segment lists") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val v2 = Snapshot.commitAppend(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    val v3 = Snapshot.commitAppend(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    // each version reads ITS segment list — appends never mutate the past
    assert(Snapshot.readAt(spark, root, "t", v1).count() == 1)
    assert(Snapshot.readAt(spark, root, "t", v2).count() == 2)
    // the append wrote a NEW dir and left the old ones untouched
    val segs = new java.io.File(s"$root/data/t").listFiles().filter(_.isDirectory)
    assert(segs.length == 3)
    // a replace in the same atomic manifest (the exactly-once pairing)
    Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((4L, "d")).toDF("id", "v")),
      Map("marker" -> Seq(7L).toDF("batch_id")))
    assert(Snapshot.read(spark, root, "t").count() == 4)
    assert(Snapshot.read(spark, root, "marker").head().getLong(0) == 7L)
    // appends and replaces must not overlap
    intercept[IllegalArgumentException](Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((9L, "x")).toDF("id", "v")),
      Map("t" -> Seq((9L, "x")).toDF("id", "v"))))
    // append is ALWAYS compare-and-swap: a stale base aborts loudly
    // instead of silently dropping a concurrent writer's segments
    val head = Snapshot.currentVersion(spark, root).get
    intercept[IllegalStateException](Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((9L, "x")).toDF("id", "v")),
      expectBase = Some(head - 1)))
    assert(Snapshot.currentVersion(spark, root).contains(head))
  }

  test("compactTable folds segments; vacuum sweeps the segmented versions") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    val vC = Snapshot.compactTable(spark, root, "t")
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    // the compacted head references ONE dir; vacuum reclaims the other 3
    Snapshot.vacuum(spark, root, keepLast = 1)
    val segs = new java.io.File(s"$root/data/t").listFiles().filter(_.isDirectory)
    assert(segs.length == 1, segs.mkString(", "))
    assert(Snapshot.read(spark, root, "t").count() == 3)
    assert(Snapshot.currentVersion(spark, root).contains(vC))
  }

  test("readPruned prunes per segment and reads statless segments whole") {
    val root = freshRoot()
    // segment 1 with stats, ids 0..9 across 2 files
    Snapshot.commit(spark, root,
      Map("t" -> (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)),
      statsCols = Map("t" -> Seq("id")))
    // segment 2 with stats, ids 100..109
    Snapshot.commitAppend(spark, root,
      Map("t" -> (100L until 110L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)),
      statsCols = Map("t" -> Seq("id")))
    // segment 3 WITHOUT stats, ids 200..209
    Snapshot.commitAppend(spark, root,
      Map("t" -> (200L until 210L).map(i => (i, s"v$i")).toDF("id", "v")))
    // range hits only segment 2; segment 3 must still be read (no stats
    // → soundness) and its rows filtered by the caller's exact predicate
    val pruned = Snapshot.readPruned(spark, root, "t", "id", 100L, 109L)
    val ids = pruned.collect().map(_.getLong(0)).toSet
    assert((100L until 110L).toSet.subsetOf(ids))
    assert(ids.forall(i => i >= 100L)) // segment 1 was pruned away
    assert(ids.exists(_ >= 200L))      // statless segment read whole
  }

  test("schema evolution: appended columns NULL-backfill; time travel pins each schema") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    // append a batch that ADDS a column — no rewrite of the v1 segment
    val v2 = Snapshot.commitAppend(spark, root,
      appends = Map("t" -> Seq((3L, "c", 30L)).toDF("id", "v", "score")))
    val head = Snapshot.read(spark, root, "t").orderBy("id")
    assert(head.columns.toSeq == Seq("id", "v", "score"))
    // old rows read the new column as NULL; the new row carries its value
    assert(head.collect().map(r =>
        (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))
      .toSeq == Seq((1L, "a", null), (2L, "b", null), (3L, "c", 30L)))
    // a later batch may OMIT the new column — its rows backfill NULL
    Snapshot.commitAppend(spark, root,
      appends = Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    val after = Snapshot.read(spark, root, "t")
    assert(after.filter(col("id") === 4L).select("score").collect().head.isNullAt(0))
    assert(after.count() == 4L)
    // time travel pins each version's OWN schema: v1 has no score column
    assert(Snapshot.readAt(spark, root, "t", v1).columns.toSeq == Seq("id", "v"))
    assert(Snapshot.readAt(spark, root, "t", v2).columns.toSeq == Seq("id", "v", "score"))
    // a TYPE change on a shared column is rejected loudly at commit
    // time, before any data lands
    val filesBefore = Files.walk(Paths.get(root)).count()
    val e = intercept[IllegalArgumentException] {
      Snapshot.commitAppend(spark, root,
        appends = Map("t" -> Seq(("5", "e")).toDF("id", "v")))
    }
    assert(e.getMessage.contains("type change"))
    assert(Files.walk(Paths.get(root)).count() == filesBefore,
      "rejected append must not write data")
    // replace commits may change types freely (whole-table rewrite)
    Snapshot.commit(spark, root, Map("t" -> Seq(("9", "z")).toDF("id", "v")))
    assert(Snapshot.read(spark, root, "t").schema("id").dataType.typeName == "string")
  }

  test("schema evolution composes with data-skipping stats and readPruned") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, 10L), (2L, 20L)).toDF("id", "x")),
      statsCols = Map("t" -> Seq("id")))
    Snapshot.commitAppend(spark, root,
      appends = Map("t" -> Seq((100L, 5L, "w")).toDF("id", "x", "tag")),
      statsCols = Map("t" -> Seq("id")))
    // pruned read keeps only the matching segment's files AND reads them
    // under the union schema (tag NULL-backfilled for the old segment)
    val pruned = Snapshot.readPruned(spark, root, "t", "id", 1L, 2L)
      .filter(col("id").between(1L, 2L))
    assert(pruned.columns.toSeq == Seq("id", "x", "tag"))
    assert(pruned.orderBy("id").collect().map(r => (r.getLong(0), r.isNullAt(2)))
      .toSeq == Seq((1L, true), (2L, true)))
  }

  test("ingestBatchExactlyOnce: replay no-ops, all-dup batches advance the marker") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamOps
    val root = freshRoot()
    val b0 = Seq((0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog today"), // in-batch dup
      (2L, "an entirely different second document about spark engines")
    ).toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(b0, 0L, root, "corpus", "doc_id", "text"))
    val v1 = Snapshot.currentVersion(spark, root).get
    assert(Snapshot.read(spark, root, "corpus").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 2L))
    // REPLAY of batch 0: skipped, version unchanged
    assert(!StreamOps.ingestBatchExactlyOnce(b0, 0L, root, "corpus", "doc_id", "text"))
    assert(Snapshot.currentVersion(spark, root).contains(v1))
    // batch 1: one cross-batch near-dup (drops), one novel doc (appends)
    val b1 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog yesterday"),
      (4L, "completely novel third text with its own distinct words entirely")
    ).toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(b1, 1L, root, "corpus", "doc_id", "text"))
    assert(Snapshot.read(spark, root, "corpus").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 2L, 4L))
    // batch 2 is ALL dups: no corpus append, but the marker still moves
    val b2 = Seq((5L, "an entirely different second document about spark engines"))
      .toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(b2, 2L, root, "corpus", "doc_id", "text"))
    assert(Snapshot.read(spark, root, "corpus").count() == 3)
    assert(Snapshot.read(spark, root, "_ingest").head().getAs[Long]("batch_id") == 2L)
    // and ITS replay no-ops too
    assert(!StreamOps.ingestBatchExactlyOnce(b2, 2L, root, "corpus", "doc_id", "text"))
  }

  test("ingestBatchExactlyOnce: signature state bootstrapped once, then maintained") {
    import graft.streaming.StreamOps
    val root = freshRoot()
    // a corpus that PREDATES the state table (committed directly)
    val seed = Seq((0L, "seed document body with plenty of words to shingle across the gate"))
      .toDF("doc_id", "text")
    Snapshot.commitAppend(spark, root, Map("corpus" -> seed))
    val b0 = Seq(
      (1L, "seed document body with plenty of words to shingle across the gate"), // exact dup
      (2L, "a brand new second document carrying its own distinct vocabulary")
    ).toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(b0, 0L, root, "corpus", "doc_id", "text"))
    // the bootstrap rode the same atomic commit: state covers the
    // pre-existing corpus doc AND the batch survivor
    assert(Snapshot.read(spark, root, "corpus_sig").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 2L))
    assert(Snapshot.read(spark, root, "corpus").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 2L))
    // subsequent batches only APPEND survivor state rows
    val b1 = Seq((3L, "yet another entirely novel third document for the state table"))
      .toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(b1, 1L, root, "corpus", "doc_id", "text"))
    assert(Snapshot.read(spark, root, "corpus_sig").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 2L, 3L))
    // state rows carry the full signature schema
    val row = Snapshot.read(spark, root, "corpus_sig").filter($"doc_id" === 3L).head()
    assert(row.getAs[String]("fp").nonEmpty && row.getAs[scala.collection.Seq[Long]]("sig").length == 12
      && row.getAs[scala.collection.Seq[Long]]("sh").nonEmpty)
  }

  test("ingestBatchExactlyOnce: interleaved appIds keep independent watermarks") {
    import graft.streaming.StreamOps
    val root = freshRoot()
    val a0 = Seq((0L, "alpha stream first document with plenty of distinct words here"))
      .toDF("doc_id", "text")
    val b0 = Seq((10L, "beta stream opening text carrying a wholly different vocabulary set"))
      .toDF("doc_id", "text")
    val a1 = Seq((1L, "alpha stream second novel document continuing with fresh content now"))
      .toDF("doc_id", "text")
    assert(StreamOps.ingestBatchExactlyOnce(a0, 0L, root, "corpus", "doc_id", "text", appId = "appA"))
    assert(StreamOps.ingestBatchExactlyOnce(b0, 0L, root, "corpus", "doc_id", "text", appId = "appB"))
    // appB's commit must NOT have clobbered appA's watermark: a replay of
    // appA batch 0 still no-ops, and appA's next batch still publishes
    assert(!StreamOps.ingestBatchExactlyOnce(a0, 0L, root, "corpus", "doc_id", "text", appId = "appA"))
    assert(StreamOps.ingestBatchExactlyOnce(a1, 1L, root, "corpus", "doc_id", "text", appId = "appA"))
    val marks = Snapshot.read(spark, root, "_ingest").collect()
      .map(r => r.getAs[String]("app_id") -> r.getAs[Long]("batch_id")).toMap
    assert(marks == Map("appA" -> 1L, "appB" -> 0L))
    // one row per app — merged canonical form, not an append log
    assert(Snapshot.read(spark, root, "_ingest").count() == 2)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("merge-on-read delete: tombstones suppress rows with zero data rewrite") {
    val root = freshRoot()
    val vData = Snapshot.commit(spark, root,
      Map("t" -> (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")))
    def dataFiles() = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq((f.getPath, f.length, f.lastModified))
        else Nil
      walk(new java.io.File(s"$root/data/t")).sortBy(_._1)
    }
    val before = dataFiles()
    import org.apache.spark.sql.functions.col
    val vDel = Snapshot.deleteWhere(spark, root, "t", col("id") % 2 === 0, Seq("id"))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 3L, 5L))
    // ZERO rewrite: every data file of `t` is byte-identical; the delete
    // wrote only a key-column tombstone segment under the shadow entry
    assert(dataFiles() == before, "delete rewrote data files")
    val tombDirs = new java.io.File(s"$root/data/t~del").listFiles().filter(_.isDirectory)
    assert(tombDirs.length == 1)
    // keys + the hidden coverage column (MaxValue = suppress everywhere)
    assert(spark.read.parquet(tombDirs.head.toString).columns.toSeq ==
      Seq("id", "__graft_cov"))
    // the shadow is internal state, not a table
    assert(!Snapshot.tables(spark, root).contains("t~del"))
    intercept[IllegalArgumentException](Snapshot.read(spark, root, "t~del"))
    // time travel: the pre-delete version still reads all 6 rows
    assert(ids(Snapshot.readAt(spark, root, "t", vData)) == (1L to 6L))
    assert(ids(Snapshot.readAt(spark, root, "t", vDel)) == Seq(1L, 3L, 5L))
    // deletes accumulate; already-deleted rows don't re-tombstone
    Snapshot.deleteWhere(spark, root, "t", col("id") <= 3L, Seq("id"))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(5L))
    // changing the key columns mid-stream is rejected loudly
    intercept[IllegalArgumentException](
      Snapshot.deleteWhere(spark, root, "t", col("id") === 5L, Seq("id", "v")))
    // committing a table under the shadow suffix is rejected loudly
    intercept[IllegalArgumentException](Snapshot.commit(spark, root,
      Map("x~del" -> Seq((1L, "a")).toDF("id", "v"))))
  }

  test("delete suppresses re-appended keys until compaction folds the tombstones") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 2L, Seq("id"))
    // the documented BY-KEY contract: an appended row with a tombstoned
    // key stays suppressed (the tombstone is key-scoped, not file-scoped)
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((2L, "b2")).toDF("id", "v")))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 3L))
    // compaction folds the resolved view and clears the tombstones...
    Snapshot.compactTable(spark, root, "t")
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 3L))
    assert(!new java.io.File(s"$root/data").listFiles().map(_.getName).contains("t~del")
      || Snapshot.tables(spark, root).contains("t")) // dirs may linger until vacuum
    // ...after which the key is re-insertable
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((2L, "b3")).toDF("id", "v")))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 2L, 3L))
    // a REPLACE commit likewise supersedes accumulated tombstones
    Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(2L, 3L))
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "fresh")).toDF("id", "v")))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L))
  }

  test("bloom sidecar prunes point lookups where min/max ranges cannot") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.{col, input_file_name}
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    // HASH-partitioned on the key: every file spans ~the whole [0, 400)
    // key range, so range stats can't skip anything — the layout bloom
    // skipping exists for
    val df = spark.range(0L, 400L).toDF("id")
      .withColumn("v", (col("id") * 7L).cast("string"))
      .repartition(4, col("id"))
    Snapshot.commit(spark, root, Map("t" -> df),
      statsCols = Map("t" -> Seq("id")),
      bloomCols = Map("t" -> Seq("id", "v")),
      bloomBits = 1L << 14)
    val ranged = Snapshot.readPruned(spark, root, "t", "id", 123L, 123L)
    assert(filesRead(ranged) == 4, "range stats should keep every file here")
    // the bloom probe keeps ~1 file (the key's partition; fpp may add)
    val probed = Snapshot.readPrunedEq(spark, root, "t", "id", 123L)
    assert(probed.filter(col("id") === 123L).count() == 1)
    assert(filesRead(probed) < 4, "bloom probe should skip files")
    // absent key: no file holds it — everything (minus fpp) skips, and
    // the exact filter finds nothing either way
    val absent = Snapshot.readPrunedEq(spark, root, "t", "id", 1000000L)
    assert(absent.filter(col("id") === 1000000L).count() == 0)
    assert(filesRead(absent) <= 1)
    // string columns probe through the same (xxhash64) insert hash
    val sProbe = Snapshot.readPrunedEq(spark, root, "t", "v", "861") // 123*7
    assert(sProbe.filter(col("v") === "861").count() == 1)
    assert(filesRead(sProbe) < 4)
    // composes with merge-on-read deletes
    Snapshot.deleteWhere(spark, root, "t", col("id") === 123L, Seq("id"))
    assert(Snapshot.readPrunedEq(spark, root, "t", "id", 123L)
      .filter(col("id") === 123L).count() == 0)
    // a segment without a bloom sidecar falls back to a whole read
    Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((400L, "x")).toDF("id", "v")))
    val fallback = Snapshot.readPrunedEq(spark, root, "t", "id", 400L)
    assert(fallback.filter(col("id") === 400L).count() == 1)
    // unsupported column types are rejected loudly at commit time
    intercept[IllegalArgumentException](Snapshot.commit(spark, root,
      Map("u" -> Seq((1L, Array(0.5f))).toDF("id", "vec")),
      bloomCols = Map("u" -> Seq("vec"))))
  }

  test("readPruned and mergeCommit resolve tombstones") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    Snapshot.commit(spark, root,
      Map("t" -> (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")),
      statsCols = Map("t" -> Seq("id")))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 4L, Seq("id"))
    // the stats-pruned read path must not resurrect deleted rows
    val pruned = Snapshot.readPruned(spark, root, "t", "id", 3L, 5L)
    assert(ids(pruned.filter(col("id").between(3L, 5L))) == Seq(3L, 5L))
    // mergeCommit merges against the RESOLVED view: the deleted row is
    // not counted as pre-existing, and the rewrite clears the tombstones
    val (_, stats) = Snapshot.mergeCommit(spark, root,
      Map("t" -> (Seq((4L, "new4"), (8L, "up8")).toDF("id", "v"), Seq("id"))))
    assert(stats("t").inserted == 1L) // id 4 re-inserts, id 8 updates
    assert(ids(Snapshot.read(spark, root, "t")) == (1L to 8L))
    assert(Snapshot.read(spark, root, "t").filter(col("id") === 8L)
      .head().getString(1) == "up8")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("upsertMergeOnRead: MERGE semantics with zero data rewrite") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    val v1 = Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    def dataFiles() = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq((f.getPath, f.length, f.lastModified))
        else Nil
      walk(new java.io.File(s"$root/data/t")).sortBy(_._1)
    }
    val before = dataFiles()
    // update id 2, insert id 4 — old rows of id 2 suppressed, batch served
    val v2 = Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((2L, "b2"), (4L, "d")).toDF("id", "v"), Seq("id"))
    assert(rows(Snapshot.read(spark, root, "t")) ==
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // ZERO rewrite of pre-existing data: the base segment's files are
    // byte-identical; the upsert only APPENDED a segment + reshaped the shadow
    assert(before.forall(dataFiles().contains), "upsert rewrote stored data")
    // time travel: the pre-upsert version still reads the old rows
    assert(rows(Snapshot.readAt(spark, root, "t", v1)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // chained upserts: the newest batch wins per key
    Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((2L, "b3"), (1L, "a2")).toDF("id", "v"), Seq("id"))
    assert(rows(Snapshot.read(spark, root, "t")) ==
      Set((1L, "a2"), (2L, "b3"), (3L, "c"), (4L, "d")))
    assert(rows(Snapshot.readAt(spark, root, "t", v2)) ==
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // a duplicate-key batch is rejected loudly (MERGE precondition)
    intercept[IllegalArgumentException](Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((5L, "x"), (5L, "y")).toDF("id", "v"), Seq("id")))
    // a NULL-key batch is rejected loudly
    intercept[IllegalArgumentException](Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((Option.empty[Long], "x")).toDF("id", "v"), Seq("id")))
    // compaction folds upserts physical and clears the shadow
    Snapshot.compactTable(spark, root, "t")
    assert(rows(Snapshot.read(spark, root, "t")) ==
      Set((1L, "a2"), (2L, "b3"), (3L, "c"), (4L, "d")))
    assert(!Snapshot.tables(spark, root).contains("t~del"))
    // first-ingest form: upsert into an absent table is a plain create
    Snapshot.upsertMergeOnRead(spark, root, "fresh",
      Seq((1L, "x")).toDF("id", "v"), Seq("id"))
    assert(rows(Snapshot.read(spark, root, "fresh")) == Set((1L, "x")))
    // CAS: a stale base fails loudly
    intercept[IllegalStateException](Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((9L, "z")).toDF("id", "v"), Seq("id"), expectBase = Some(v1)))
  }

  test("upsertMergeOnRead resurrects deleted keys; appends stay suppressed") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 2L, Seq("id"))
    assert(rows(Snapshot.read(spark, root, "t")) == Set((1L, "a")))
    // a plain append of an erased key stays suppressed (deleteWhere's
    // by-key contract)...
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((2L, "b2")).toDF("id", "v")))
    assert(rows(Snapshot.read(spark, root, "t")) == Set((1L, "a")))
    // ...but an UPSERT of the key replaces its tombstone and resurrects
    Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((2L, "b3")).toDF("id", "v"), Seq("id"))
    assert(rows(Snapshot.read(spark, root, "t")) == Set((1L, "a"), (2L, "b3")))
    // the suppressed append from before the upsert does NOT resurrect:
    // the upsert's coverage spans every segment before its own batch
    assert(Snapshot.read(spark, root, "t").filter(col("id") === 2L).count() == 1L)
    // pruned read paths resolve coverage-scoped tombstones identically
    Snapshot.upsertMergeOnRead(spark, root, "t2",
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"), Seq("id"))
    Snapshot.upsertMergeOnRead(spark, root, "t2",
      Seq((2L, "y2")).toDF("id", "v"), Seq("id"))
    assert(rows(Snapshot.read(spark, root, "t2")) == Set((1L, "x"), (2L, "y2")))
  }

  test("upsertBatchMorExactlyOnce: replay no-ops, keep-last in-batch, marker pairs") {
    import graft.streaming.StreamOps
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    // batch 0: two keys, key 1 twice — keep-last by seq wins
    val b0 = Seq((1L, 10L, "a0"), (1L, 11L, "a1"), (2L, 10L, "b0"))
      .toDF("id", "seq", "v")
    assert(StreamOps.upsertBatchMorExactlyOnce(b0, 0L, root, "t",
      Seq("id"), Seq(col("seq"))))
    assert(rows(Snapshot.read(spark, root, "t")
      .select(col("id"), col("v"))) == Set((1L, "a1"), (2L, "b0")))
    // REPLAY of batch 0 (crash after commit, before checkpoint): no-op
    assert(!StreamOps.upsertBatchMorExactlyOnce(b0, 0L, root, "t",
      Seq("id"), Seq(col("seq"))))
    assert(Snapshot.read(spark, root, "t").count() == 2L)
    // batch 1 updates key 1 with zero data rewrite (MoR): latest wins
    val b1 = Seq((1L, 20L, "a2")).toDF("id", "seq", "v")
    assert(StreamOps.upsertBatchMorExactlyOnce(b1, 1L, root, "t",
      Seq("id"), Seq(col("seq"))))
    assert(rows(Snapshot.read(spark, root, "t")
      .select(col("id"), col("v"))) == Set((1L, "a2"), (2L, "b0")))
    // the marker stays one row per app and pairs atomically with the data
    assert(Snapshot.read(spark, root, "_ingest").count() == 1L)
    // a second app's batches keep an independent watermark
    assert(StreamOps.upsertBatchMorExactlyOnce(b1, 0L, root, "t2",
      Seq("id"), Seq(col("seq")), appId = "other"))
    assert(!StreamOps.upsertBatchMorExactlyOnce(b1, 1L, root, "t",
      Seq("id"), Seq(col("seq"))))
  }

  test("changesBetween: O(changes) feed reproduces the table; rewrites refuse") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    val v1 = Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    val v2 = Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    val v3 = Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    val v4 = Snapshot.upsertMergeOnRead(spark, root, "t",
      Seq((2L, "b2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    val feed = Snapshot.changesBetween(spark, root, "t", v1, v4)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed == Set(
      (4L, Some("d"), "insert", v2),
      (1L, None, "delete", v3),
      (2L, Some("b2"), "insert", v4),
      (5L, Some("e"), "insert", v4),
      (2L, None, "delete", v4),   // the upsert's prior-version suppression
      // conservative delete for the upsert's NEW key (no-op on apply —
      // the O(changes) trade documented on changesBetween)
      (5L, None, "delete", v4)))
    // the feed reads ONLY appended segments + shadows, never the base
    // segment of v1 (O(changes), not O(table))
    val baseSeg = {
      val m = Files.readString(Paths.get(s"$root/_commits/v%010d.manifest".format(v1)))
      m.split("\n").find(_.startsWith("t\t")).get.split("\t")(1)
    }
    val feedFiles = Snapshot.changesBetween(spark, root, "t", v1, v4).inputFiles
    assert(!feedFiles.exists(_.contains(baseSeg)), "feed read the table body")
    // applying deletes-then-inserts per version to v1's state yields HEAD
    var state = rows(Snapshot.readAt(spark, root, "t", v1))
    Snapshot.changesBetween(spark, root, "t", v1, v4)
      .orderBy(col("_commit_version"),
        // within a version: deletes first
        org.apache.spark.sql.functions.when(col("_change_type") === "delete", 0).otherwise(1))
      .collect().foreach { r =>
        val id = r.getLong(r.fieldIndex("id"))
        if (r.getString(r.fieldIndex("_change_type")) == "delete")
          state = state.filterNot(_._1 == id)
        else state = state + ((id, r.getString(r.fieldIndex("v"))))
      }
    assert(state == rows(Snapshot.read(spark, root, "t")))
    // feed from creation includes the initial segment as inserts
    assert(Snapshot.changesBetween(spark, root, "t", 0L, v1).count() == 3L)
    // a suppressed append (erased key) is not emitted as an insert
    Snapshot.deleteWhere(spark, root, "t", col("id") === 3L, Seq("id"))
    val v6 = Snapshot.commitAppend(spark, root, Map("t" -> Seq((3L, "c2")).toDF("id", "v")))
    assert(Snapshot.changesBetween(spark, root, "t", v4, v6)
      .filter(col("_change_type") === "insert").count() == 0L)
    // compaction in range refuses loudly — history was rewritten
    val v7 = Snapshot.compactTable(spark, root, "t")
    intercept[IllegalArgumentException](
      Snapshot.changesBetween(spark, root, "t", v1, v7).count())
  }

  test("rollbackTo: O(1) restore — zero data IO, history preserved, life continues") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    val good = Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    // the bad epoch: corrupt append, erroneous delete, mistaken table
    val vBad = Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((9L, "junk")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    Snapshot.commit(spark, root, Map("oops" -> Seq((0L, "x")).toDF("id", "v")))
    def dataFiles() = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq((f.getPath, f.length, f.lastModified))
        else Nil
      walk(new java.io.File(s"$root/data")).sortBy(_._1)
    }
    val before = dataFiles()
    val restored = Snapshot.rollbackTo(spark, root, good)
    // manifest-only: not one data file touched, added, or removed
    assert(dataFiles() == before, "rollback touched data files")
    // the head is exactly the good version's state
    assert(restored > good)
    assert(Snapshot.tables(spark, root).keySet == Set("t"))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 2L, 3L))
    // history preserved: the bad epoch stays addressable until vacuum
    assert(ids(Snapshot.readAt(spark, root, "t", vBad)) == Seq(1L, 2L, 3L, 9L))
    // life continues on the restored state; re-deleting works (the bad
    // tombstone state was dropped with the rollback, not merged)
    Snapshot.commitAppend(spark, root, Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 2L, Seq("id"))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 3L, 4L))
    // the change feed across a rollback refuses loudly (segment list
    // shrank — consumers re-seed, the compaction contract)
    intercept[IllegalArgumentException](
      Snapshot.changesBetween(spark, root, "t", good, restored + 1L).count())
    // a branch version is not a restore point
    val b = Snapshot.createBranch(spark, root, "audit")
    intercept[IllegalArgumentException](Snapshot.rollbackTo(spark, root, b))
    // neither is a version ahead of the head, or a missing one
    intercept[IllegalArgumentException](Snapshot.rollbackTo(spark, root, 999L))
    // vacuum after rollback keeps the head's (old!) segments alive
    Snapshot.vacuum(spark, root, keepLast = 1)
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 3L, 4L))
  }

  test("statsAgg: metadata-only count/min/max — answers with the data files gone") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    val stats = Seq("id", "v")
    Snapshot.commit(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      statsCols = Map("t" -> stats))
    Snapshot.commitAppend(spark, root,
      Map("t" -> Seq((7L, "z"), (5L, "m")).toDF("id", "v")),
      statsCols = Map("t" -> stats))
    val r = Snapshot.statsAgg(spark, root, "t", Seq("id", "v")).collect().head
    assert(r.getLong(r.fieldIndex("table_rows")) == 4L)
    assert(r.getLong(r.fieldIndex("min_id")) == 1L)
    assert(r.getLong(r.fieldIndex("max_id")) == 7L)
    assert(r.getString(r.fieldIndex("min_v")) == "a")
    assert(r.getString(r.fieldIndex("max_v")) == "z")
    // time travel: version-pinned stats see that version's segments only
    val v1 = 1L
    val rAt = Snapshot.statsAgg(spark, root, "t", Seq("id"), Some(v1)).collect().head
    assert(rAt.getLong(rAt.fieldIndex("table_rows")) == 2L)
    assert(rAt.getLong(rAt.fieldIndex("max_id")) == 2L)
    // THE claim: zero data files opened. Destroy every parquet part
    // file; the metadata answer is unchanged.
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/data"))
      .filter(_.getName.startsWith("part-")).foreach(f => assert(f.delete()))
    val r2 = Snapshot.statsAgg(spark, root, "t", Seq("id", "v")).collect().head
    assert(r2.getLong(r2.fieldIndex("table_rows")) == 4L)
    assert(r2.getLong(r2.fieldIndex("max_id")) == 7L)
    // loud paths, never wrong answers:
    // (1) untracked column
    val ex1 = intercept[IllegalArgumentException](
      Snapshot.statsAgg(spark, root, "t", Seq("nope")).collect())
    assert(ex1.getMessage.contains("statsCols"))
    // (2) a segment committed without stats
    val root2 = freshRoot()
    Snapshot.commit(spark, root2, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val ex2 = intercept[IllegalStateException](
      Snapshot.statsAgg(spark, root2, "t").collect())
    assert(ex2.getMessage.contains("no stats sidecar"))
    // (3) merge-on-read tombstones make metadata stats a lie — refuse
    val root3 = freshRoot()
    Snapshot.commit(spark, root3,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      statsCols = Map("t" -> stats))
    Snapshot.deleteWhere(spark, root3, "t", col("id") === 2L, Seq("id"))
    val ex3 = intercept[IllegalArgumentException](
      Snapshot.statsAgg(spark, root3, "t").collect())
    assert(ex3.getMessage.contains("tombstones"))
    // ... and compaction (with statsCols) folds them physical: answers again
    Snapshot.compactTable(spark, root3, "t", statsCols = stats)
    val r3 = Snapshot.statsAgg(spark, root3, "t", Seq("id")).collect().head
    assert(r3.getLong(r3.fieldIndex("table_rows")) == 1L)
    assert(r3.getLong(r3.fieldIndex("max_id")) == 1L)
    // (4) a count-less legacy sidecar (pre-upgrade format) throws
    val root4 = freshRoot()
    Snapshot.commit(spark, root4, Map("t" -> Seq((1L, "a")).toDF("id", "v")),
      statsCols = Map("t" -> Seq("id")))
    val segDir = new java.io.File(s"$root4/data/t").listFiles().filter(_.isDirectory).head
    val sidecar = new java.io.File(segDir, "_graft_stats")
    val legacy = Files.readAllLines(sidecar.toPath).toArray.map(_.toString)
      .filterNot(_.contains("count")).filterNot(_.contains("cols"))
    val kept = legacy.init :+ s"END ${legacy.length - 2}"
    Files.write(sidecar.toPath, kept.mkString("\n").getBytes(UTF_8))
    // drop the Hadoop LocalFileSystem checksum or the rewrite reads torn
    new java.io.File(segDir, "._graft_stats.crc").delete()
    val ex4 = intercept[IllegalStateException](
      Snapshot.statsAgg(spark, root4, "t").collect())
    assert(ex4.getMessage.contains("predates"))
    // (5) a tracked but all-NULL column: NULL min/max, count still exact
    val root5 = freshRoot()
    Snapshot.commit(spark, root5,
      Map("t" -> Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
        .toDF("id", "v")),
      statsCols = Map("t" -> stats))
    val r5 = Snapshot.statsAgg(spark, root5, "t", Seq("v")).collect().head
    assert(r5.getLong(r5.fieldIndex("table_rows")) == 2L)
    assert(r5.isNullAt(r5.fieldIndex("min_v")) && r5.isNullAt(r5.fieldIndex("max_v")))
  }

  test("cloneTable is O(1) zero-copy and the sides evolve independently") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" ->
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")))
    // a merge-on-read delete BEFORE the clone: the shadow must clone too
    Snapshot.deleteWhere(spark, root, "t", col("id") === 6L, Seq("id"))
    def files(t: String) = Snapshot.read(spark, root, t).inputFiles.sorted.toSeq
    val vClone = Snapshot.cloneTable(spark, root, "t", "t2")
    assert(vClone > 0)
    // zero-copy: both names resolve the same part files, same rows
    assert(files("t2") == files("t"))
    assert(Snapshot.read(spark, root, "t2").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // divergence: append + delete on the clone leave the source alone
    Snapshot.commitAppend(spark, root, appends = Map("t2" ->
      Seq((7L, "v7")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t2", col("id") === 1L, Seq("id"))
    assert(Snapshot.read(spark, root, "t2").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L, 5L, 7L))
    assert(Snapshot.read(spark, root, "t").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // ...and mutating the source leaves the clone alone
    Snapshot.deleteWhere(spark, root, "t", col("id") === 2L, Seq("id"))
    assert(Snapshot.read(spark, root, "t2").filter(col("id") === 2L).count() == 1L)
    // vacuum with history folded away keeps the SHARED segments alive
    Snapshot.vacuum(spark, root, keepLast = 1)
    assert(Snapshot.read(spark, root, "t").count() == 4L)
    assert(Snapshot.read(spark, root, "t2").count() == 5L)
    // guards: missing source, existing destination
    intercept[IllegalArgumentException](Snapshot.cloneTable(spark, root, "nope", "x"))
    intercept[IllegalArgumentException](Snapshot.cloneTable(spark, root, "t", "t2"))
  }

  test("optimizeTable bin-packs small segments, keeps big ones byte-identical") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // one big segment (4 files x 250 rows) + 4 tiny appends (1 row each)
    val vBig = Snapshot.commit(spark, root, Map("t" ->
      spark.range(0, 1000).toDF("id").repartition(4)))
    (1000L until 1004L).foreach { i =>
      Snapshot.commitAppend(spark, root,
        appends = Map("t" -> Seq(i).toDF("id").repartition(1)))
    }
    def dataFiles() = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq((f.getPath, f.length, f.lastModified))
        else Nil
      walk(new java.io.File(s"$root/data/t")).sortBy(_._1)
    }
    val before = dataFiles()
    val filesBefore = Snapshot.read(spark, root, "t").inputFiles.length
    // the big segment's files are well over 1 KiB; each tiny one is under
    val vOpt = Snapshot.optimizeTable(spark, root, "t", targetBytes = 1024L)
    assert(vOpt > vBig + 3, "optimize must commit a new version")
    val after = Snapshot.read(spark, root, "t")
    assert(after.count() == 1004L)
    assert(after.inputFiles.length < filesBefore,
      s"expected fewer than $filesBefore files, got ${after.inputFiles.length}")
    // the big segment's files are still there, byte-for-byte
    val kept = dataFiles().toSet
    val bigFiles = before.filter(_._2 > 1024L)
    assert(bigFiles.nonEmpty && bigFiles.forall(kept.contains),
      "optimize rewrote a segment that was already at target size")
    // time travel still reads the pre-optimize layout
    assert(Snapshot.readAt(spark, root, "t", vBig).count() == 1000L)
    // a second optimize is a no-op: one packed segment + the big one
    assert(Snapshot.optimizeTable(spark, root, "t", 1024L) == vOpt)
  }

  test("optimizeTable refuses tombstoned tables and unions evolved schemas") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.commitAppend(spark, root, appends = Map("t" ->
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"))) // schema evolution
    Snapshot.deleteWhere(spark, root, "t", col("id") === 99L, Seq("id"))
    val ex = intercept[IllegalArgumentException](
      Snapshot.optimizeTable(spark, root, "t", 1L << 20))
    assert(ex.getMessage.contains("tombstone"))
    Snapshot.compactTable(spark, root, "t")
    // now two segments again with distinct schemas -> packed under union
    Snapshot.commitAppend(spark, root, appends = Map("t" ->
      Seq((3L, "c")).toDF("id", "v")))
    Snapshot.optimizeTable(spark, root, "t", 1L << 20)
    val rows = Snapshot.read(spark, root, "t").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(r => Option(r.get(r.fieldIndex("extra")))).toSeq ==
      Seq(None, Some(9L), None))
  }

  test("forgetKeys: multi-table erasure publishes as ONE version") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val cust = Seq((1L, "de"), (2L, "fr")).toDF("cid", "country")
    val ords = Seq((10L, 1L, 5.0), (11L, 1L, 7.0), (12L, 2L, 9.0))
      .toDF("oid", "cid", "amt")
    val v1 = Snapshot.commit(spark, root, Map("cust" -> cust, "ords" -> ords))
    // erase subject cid=1 from both tables; key frames via semi-joins
    val v2 = Snapshot.forgetKeys(spark, root, Map(
      "cust" -> (Seq("cid"), cust.filter(col("cid") === 1L).select("cid")),
      "ords" -> (Seq("oid"), ords.filter(col("cid") === 1L).select("oid"))))
    // exactly one new version: both erasures or neither
    assert(v2 == v1 + 1)
    assert(Snapshot.read(spark, root, "cust").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(Snapshot.read(spark, root, "ords").collect()
      .map(_.getLong(0)).toSeq == Seq(12L))
    // time travel still sees the subject at the pre-erasure version
    assert(Snapshot.readAt(spark, root, "cust", v1).count() == 2L)
    // erasure outlives appends: a re-ingested victim row stays gone
    Snapshot.commitAppend(spark, root, appends = Map("ords" ->
      Seq((10L, 1L, 5.0)).toDF("oid", "cid", "amt")))
    assert(Snapshot.read(spark, root, "ords").collect()
      .map(_.getLong(0)).toSeq == Seq(12L))
    // compaction folds the tombstones physically; data stays erased
    Snapshot.compactTable(spark, root, "ords")
    assert(Snapshot.read(spark, root, "ords").collect()
      .map(_.getLong(0)).toSeq == Seq(12L))
  }

  test("forgetKeys: loud on unknown table, wrong key frame, stale base") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    intercept[IllegalArgumentException](
      Snapshot.forgetKeys(spark, root, Map(
        "nope" -> (Seq("id"), Seq(1L).toDF("id")))))
    intercept[IllegalArgumentException](
      Snapshot.forgetKeys(spark, root, Map(
        "t" -> (Seq("id"), Seq((1L, "a")).toDF("id", "v")))))
    intercept[IllegalStateException](
      Snapshot.forgetKeys(spark, root, Map(
        "t" -> (Seq("id"), Seq(1L).toDF("id"))), expectBase = Some(99L)))
    // nothing above may have published: the table is intact
    assert(Snapshot.read(spark, root, "t").count() == 1L)
  }

  test("decimal and timestamp columns carry skipping stats, blooms, and statsAgg") {
    import org.apache.spark.sql.functions.{col, expr, input_file_name}
    val root = freshRoot()
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    // money as decimal(9,2) and event time as timestamp, both monotone
    // in id — no cents/epoch casts anywhere below
    val base = spark.range(0L, 400L).toDF("id")
      .withColumn("price", expr("CAST(id * 0.25 AS DECIMAL(9,2))"))
      .withColumn("ts", expr(
        "timestampadd(HOUR, CAST(id AS INT), timestamp'2026-01-01 00:00:00')"))
      .withColumn("tsn", expr("CAST(ts AS TIMESTAMP_NTZ)"))
    // RANGE layout: disjoint per-file min/max → range stats prune
    Snapshot.commit(spark, root,
      Map("r" -> base.repartitionByRange(4, col("id")),
          // HASH layout: ranges can't prune, blooms can
          "h" -> base.repartition(4, col("id"))),
      statsCols = Map("r" -> Seq("price", "ts", "tsn")),
      bloomCols = Map("h" -> Seq("price", "ts", "tsn")),
      bloomBits = 1L << 14)
    val pPruned = Snapshot.readPruned(spark, root, "r", "price",
      new java.math.BigDecimal("10.00"), new java.math.BigDecimal("20.00"))
    assert(pPruned.inputFiles.length < 4, "decimal range should prune files")
    assert(pPruned.filter(col("price").between("10.00", "20.00")).count() == 41L)
    val tPruned = Snapshot.readPruned(spark, root, "r", "ts",
      java.sql.Timestamp.valueOf("2026-01-01 05:00:00"),
      java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))
    assert(tPruned.inputFiles.length < 4, "timestamp range should prune files")
    assert(tPruned.filter(col("id").between(5, 10)).count() == 6L)
    // bloom point probes on the hash layout (121 * 0.25 = 30.25)
    val pProbe = Snapshot.readPrunedEq(spark, root, "h", "price",
      new java.math.BigDecimal("30.25"))
    assert(pProbe.filter(col("price") === "30.25").count() == 1L)
    assert(filesRead(pProbe) < 4, "decimal bloom probe should skip files")
    val tProbe = Snapshot.readPrunedEq(spark, root, "h", "ts",
      java.sql.Timestamp.valueOf("2026-01-01 07:00:00"))
    assert(tProbe.filter(col("id") === 7L).count() == 1L)
    assert(filesRead(tProbe) < 4, "timestamp bloom probe should skip files")
    // timestamp_ntz: range prune and bloom probe both work too
    val nPruned = Snapshot.readPruned(spark, root, "r", "tsn",
      java.time.LocalDateTime.parse("2026-01-01T05:00:00"),
      java.time.LocalDateTime.parse("2026-01-01T10:00:00"))
    assert(nPruned.inputFiles.length < 4, "ntz range should prune files")
    assert(nPruned.filter(col("id").between(5, 10)).count() == 6L)
    val nProbe = Snapshot.readPrunedEq(spark, root, "h", "tsn",
      "2026-01-01 07:00:00")
    assert(nProbe.filter(col("id") === 7L).count() == 1L)
    assert(filesRead(nProbe) < 4, "ntz bloom probe should skip files")
    // metadata-only aggregate folds the serialized bounds exactly
    val agg = Snapshot.statsAgg(spark, root, "r", Seq("price", "ts")).head()
    assert(agg.getAs[Long]("table_rows") == 400L)
    assert(agg.getAs[java.math.BigDecimal]("min_price")
      .compareTo(new java.math.BigDecimal("0.00")) == 0)
    assert(agg.getAs[java.math.BigDecimal]("max_price")
      .compareTo(new java.math.BigDecimal("99.75")) == 0)
    assert(agg.getAs[java.sql.Timestamp]("min_ts") ==
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(agg.getAs[java.sql.Timestamp]("max_ts") ==
      java.sql.Timestamp.valueOf("2026-01-17 15:00:00"))
    // loud-reject contract preserved for still-unsupported types
    val bad = base.withColumn("flag", col("id") % 2 === 0)
    intercept[IllegalArgumentException](Snapshot.commit(spark, root,
      Map("x" -> bad), statsCols = Map("x" -> Seq("flag"))))
    intercept[IllegalArgumentException](Snapshot.commit(spark, root,
      Map("x" -> base.withColumn("d", col("id").cast("double"))),
      bloomCols = Map("x" -> Seq("d"))))
  }

  test("timestamp stats bounds are zone-independent across writer/reader JVM zones") {
    import org.apache.spark.sql.functions.{col, expr}
    val root = freshRoot()
    val tzDefault = java.util.TimeZone.getDefault
    try {
      // WRITE under one JVM default zone: bounds must serialize zone-free
      // (epoch micros), not as New-York wall text
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
      val base = spark.range(0L, 400L).toDF("id")
        .withColumn("ts", expr(
          "timestampadd(HOUR, CAST(id AS INT), timestamp'2026-01-01 00:00:00')"))
      Snapshot.commit(spark, root,
        Map("r" -> base.repartitionByRange(4, col("id"))),
        statsCols = Map("r" -> Seq("ts")))
      // READ under a far-away zone: with wall-time bounds the 14h skew
      // mis-orders the ranges and files holding matching rows get skipped
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      def utc(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
      val pruned = Snapshot.readPruned(spark, root, "r", "ts",
        utc("2026-01-01T05:00:00Z"), utc("2026-01-01T10:00:00Z"))
      assert(pruned.inputFiles.length < 4, "range should still prune files")
      assert(pruned.filter(col("id").between(5, 10)).count() == 6L,
        "no file holding matching rows may be skipped under a shifted zone")
      val agg = Snapshot.statsAgg(spark, root, "r", Seq("ts")).head()
      assert(agg.getAs[java.sql.Timestamp]("min_ts").toInstant ==
        java.time.Instant.parse("2026-01-01T00:00:00Z"))
      assert(agg.getAs[java.sql.Timestamp]("max_ts").toInstant ==
        java.time.Instant.parse("2026-01-17T15:00:00Z"))
    } finally java.util.TimeZone.setDefault(tzDefault)
  }

  test("checkpoint: a 1,000-commit root resolves its head reading <= 2 manifest files") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    // metadata-only commits (rollback re-points old segments) grow the
    // log to 1,000 versions without 998 parquet writes — the shape of a
    // streaming sink committing one manifest per micro-batch
    (3L to 1000L).foreach(_ => Snapshot.rollbackTo(spark, root, v1))
    assert(Files.list(Paths.get(root, "_commits"))
      .filter(p => p.getFileName.toString.endsWith(".manifest")).count() == 1000L)
    val before = Snapshot.manifestFileReads.get()
    assert(Snapshot.currentVersion(spark, root).contains(1000L))
    val reads = Snapshot.manifestFileReads.get() - before
    assert(reads <= 2L, s"head resolution read $reads manifest files, want <= 2")
    // and the resolved head serves the right bytes (v1's content)
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("checkpoint: stale, torn, or missing checkpoints degrade, never lie") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val ckpt = Paths.get(root, "_commits", "_checkpoint")
    val staleBytes = Files.readAllBytes(ckpt) // true as of v1
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    // STALE (a crashed committer published v2/v3's manifests but not the
    // checkpoint): the forward probe finds the newer slots. The old bytes
    // go in without their checksum file, which the checksummed local
    // file system would otherwise fail the read on
    Files.delete(Paths.get(root, "_commits", "._checkpoint.crc"))
    Files.write(ckpt, staleBytes)
    val staleReads = Snapshot.manifestFileReads.get()
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    // the stale checkpoint was read, then v3 and v2 above it
    assert(Snapshot.manifestFileReads.get() - staleReads == 3L)
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // TORN: half-written checkpoint is skipped for the listing walk
    Files.write(ckpt, "GRAFT-CHECKPOINT v1\nmax\t9".getBytes(UTF_8))
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    // MISSING (legacy root): full fallback
    Files.delete(ckpt)
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    // and the next commit restores O(1) resolution
    Snapshot.commit(spark, root, Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    val before = Snapshot.manifestFileReads.get()
    assert(Snapshot.currentVersion(spark, root).contains(4L))
    assert(Snapshot.manifestFileReads.get() - before <= 2L)
  }

  test("delta manifests: commit cost stays O(changed tables) as segments accumulate") {
    val root = freshRoot()
    // a LOG-STRUCTURED table accumulating segments: 40 appends — under
    // full-map-per-commit encoding every later commit would re-encode
    // all 40 segment paths (~2 KB each), forever
    Snapshot.commit(spark, root, Map("big" -> Seq((0L, "x")).toDF("id", "v")))
    (1 to 39).foreach(i => Snapshot.commitAppend(spark, root,
      Map("big" -> Seq((i.toLong, "x")).toDF("id", "v"))))
    assert(Snapshot.read(spark, root, "big").count() == 40L)
    // now a hot little table commits 60 times beside it — the shape of
    // a streaming marker/progress table next to a big corpus
    val before = Snapshot.manifestBytesWritten.get()
    (1 to 60).foreach(i => Snapshot.commit(spark, root,
      Map("t" -> Seq((i.toLong, "y")).toDF("id", "v"))))
    val bytes = Snapshot.manifestBytesWritten.get() - before
    // each commit's manifest must carry the CHANGED table only, not
    // big's 40-segment list re-encoded: ~200 B/commit as a delta vs
    // ~2 KB/commit full (60 commits: ~12 KB delta vs ~120 KB full)
    assert(bytes < 60L * 600L,
      s"60 single-table commits wrote $bytes manifest bytes — delta manifests should stay O(changed tables)")
    // the state those deltas encode is exactly right
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(60L))
    assert(Snapshot.read(spark, root, "big").count() == 40L)
    // time travel resolves mid-delta versions
    val vMid = Snapshot.currentVersion(spark, root).get - 10L
    assert(Snapshot.readAt(spark, root, "t", vMid).collect()
      .map(_.getLong(0)).toSeq == Seq(50L))
    // head resolution is still O(1) through the checkpoint
    val r0 = Snapshot.manifestFileReads.get()
    assert(Snapshot.currentVersion(spark, root).contains(100L))
    assert(Snapshot.manifestFileReads.get() - r0 <= 2L)
    // vacuum keeps every retained delta resolvable (its full base file
    // survives the sweep) and the head keeps serving
    Snapshot.vacuum(spark, root, keepLast = 3)
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(60L))
    assert(Snapshot.read(spark, root, "big").count() == 40L)
  }

  test("delta manifests: the cumulative diff rotates to a full manifest past the budget") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t0" -> Seq((0L, "a")).toDF("id", "v")))
    // each commit introduces a NEW table (plus its shadow-clear removal
    // entry), growing the cumulative diff until it outgrows the budget
    // and a full manifest re-anchors — state must stay exact throughout
    (1 to 40).foreach(i => Snapshot.commit(spark, root,
      Map(s"t$i" -> Seq((i.toLong, "a")).toDF("id", "v"))))
    val tables = Snapshot.tables(spark, root)
    assert(tables.keySet == (0 to 40).map(i => s"t$i").toSet)
    (0 to 40 by 10).foreach { i =>
      assert(Snapshot.read(spark, root, s"t$i").collect()
        .map(_.getLong(0)).toSeq == Seq(i.toLong))
    }
    // at least one post-rotation manifest is FULL (carries no delta tag):
    // the newest manifests' raw text proves both forms exist in the log
    import scala.jdk.CollectionConverters._
    val texts = Files.list(Paths.get(root, "_commits")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".manifest"))
      .map(p => new String(Files.readAllBytes(p), UTF_8)).toSeq
    assert(texts.exists(_.contains("~delta_base")), "expected delta manifests in the log")
    assert(texts.count(!_.contains("~delta_base")) >= 2,
      "expected full-manifest rotations once the diff outgrew the budget")
  }

  test("delta manifests: head reads stay bounded under a DEEP un-rotated delta chain") {
    val root = freshRoot()
    // five cold tables anchor the full base; one hot table then commits
    // 120 times — each commit's diff stays 1 entry, so the chain never
    // trips the rotation budget and every head is a delta 120 layers
    // after its full base. Resolution must NOT walk the chain: a delta
    // carries the CUMULATIVE diff against its full base, so any version
    // resolves reading exactly (its manifest + the full base).
    Snapshot.commit(spark, root, (0 to 4).map(i =>
      s"cold$i" -> Seq((i.toLong, "c")).toDF("id", "v")).toMap)
    (1 to 120).foreach(i => Snapshot.commit(spark, root,
      Map("hot" -> Seq((i.toLong, "h")).toDF("id", "v"))))
    val head = Snapshot.currentVersion(spark, root).get
    // deep-chain proof: the head manifest itself is a delta
    val headText = new String(Files.readAllBytes(
      Paths.get(root, "_commits", f"v$head%010d.manifest")), UTF_8)
    assert(headText.contains("~delta_base"), "expected the head to be a delta")
    val r0 = Snapshot.manifestFileReads.get()
    assert(Snapshot.readAt(spark, root, "hot", head).collect()
      .map(_.getLong(0)).toSeq == Seq(120L))
    val headReads = Snapshot.manifestFileReads.get() - r0
    assert(headReads <= 3L,
      s"head table resolution read $headReads manifest files 120 deltas past " +
        "the last rotation, want <= 3 (delta + full base + checkpoint)")
    // and a MID-CHAIN time travel pays the same bounded cost
    val r1 = Snapshot.manifestFileReads.get()
    assert(Snapshot.readAt(spark, root, "hot", head - 60L).collect()
      .map(_.getLong(0)).toSeq == Seq(60L))
    assert(Snapshot.manifestFileReads.get() - r1 <= 3L,
      "mid-chain resolution must be (delta + full base), never a chain walk")
  }

  test("vacuum: a delta's kept full base stays READABLE, not just visible") {
    val root = freshRoot()
    // five tables in the full base, then a delta REPLACING one of them:
    // the base's segment for 'a' is referenced by the base version only
    val v1 = Snapshot.commit(spark, root,
      Map("a" -> Seq((1L, "old")).toDF("id", "v")) ++
        (0 to 3).map(i => s"pad$i" -> Seq((i.toLong, "p")).toDF("id", "v")))
    val v2 = Snapshot.commit(spark, root, Map("a" -> Seq((2L, "new")).toDF("id", "v")))
    val v2Text = new String(Files.readAllBytes(
      Paths.get(root, "_commits", f"v$v2%010d.manifest")), UTF_8)
    assert(v2Text.contains("~delta_base"), "expected v2 to commit as a delta")
    Snapshot.vacuum(spark, root, keepLast = 1)
    // the base manifest survived the sweep (v2 resolves through it) —
    // so EVERY table it names must still read, including the one the
    // delta replaced (its segments are referenced by v1 alone; sweeping
    // them would fail this read MID-SCAN with missing parquet paths)
    assert(Snapshot.readAt(spark, root, "a", v1).collect()
      .map(_.getString(1)).toSeq == Seq("old"))
    (0 to 3).foreach(i => assert(
      Snapshot.readAt(spark, root, s"pad$i", v1).count() == 1L))
    assert(Snapshot.readAt(spark, root, "a", v2).collect()
      .map(_.getString(1)).toSeq == Seq("new"))
  }

  test("vacuum prunes dropped branches from the checkpoint inventory") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "dead")
    Snapshot.commitBranch(spark, root, "dead",
      Map("t" -> Seq((9L, "z")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "live")
    Snapshot.dropBranch(spark, root, "dead")
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    val ckpt = Paths.get(root, "_commits", "_checkpoint")
    assert(new String(Files.readAllBytes(ckpt), UTF_8).contains("B\tdead"),
      "pre-vacuum: the dropped branch still rides the inventory")
    Snapshot.vacuum(spark, root, keepLast = 1)
    val text = new String(Files.readAllBytes(ckpt), UTF_8)
    // the dropped branch's manifests were swept — its inventory entry
    // would otherwise dangle FOREVER: carried by every checkpoint
    // rewrite, and every chainHead('dead') paying a wasted parse of a
    // deleted file before returning None
    assert(!text.contains("B\tdead"),
      s"dangling dropped-branch entry survived vacuum: $text")
    assert(text.contains("B\tlive"), s"live branch must survive the prune: $text")
    assert(Snapshot.branches(spark, root) == Seq("live"))
    // the live branch keeps resolving through the pruned checkpoint
    assert(Snapshot.readBranch(spark, root, "live", "t").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("checkpoint: branch heads resolve O(1) on a high-commit root") {
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "audit")
    Snapshot.commitBranch(spark, root, "audit",
      Map("t" -> Seq((9L, "z")).toDF("id", "v")))
    // bury the branch head under 500 metadata-only main commits — the
    // streaming-sink shape the r12 ADVICE flagged: branch writers were
    // still paying an O(commits) listing walk per resolution
    (1 to 500).foreach(_ => Snapshot.rollbackTo(spark, root, v1))
    val before = Snapshot.manifestFileReads.get()
    assert(Snapshot.readBranch(spark, root, "audit", "t").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    val reads = Snapshot.manifestFileReads.get() - before
    assert(reads <= 4L,
      s"branch head resolution read $reads manifest files on a 500-commit root, want <= 4")
    // and a branch COMMIT on the same root stays cheap too
    val before2 = Snapshot.manifestFileReads.get()
    Snapshot.commitBranch(spark, root, "audit",
      Map("t" -> Seq((8L, "y")).toDF("id", "v")))
    val reads2 = Snapshot.manifestFileReads.get() - before2
    assert(reads2 <= 8L,
      s"branch commit read $reads2 manifest files on a 500-commit root, want <= 8")
    assert(Snapshot.readBranch(spark, root, "audit", "t").collect()
      .map(_.getLong(0)).toSeq == Seq(8L))
  }

  test("checkpoint: branch commits carry the main head forward inline") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "audit")
    Snapshot.commitBranch(spark, root, "audit",
      Map("t" -> Seq((9L, "z")).toDF("id", "v")))
    Snapshot.commitBranch(spark, root, "audit",
      Map("t" -> Seq((8L, "y")).toDF("id", "v")))
    // the checkpoint head is a branch version, but main resolution still
    // answers from the inline main entries without walking branch slots
    val before = Snapshot.manifestFileReads.get()
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.manifestFileReads.get() - before <= 2L)
    assert(Snapshot.read(spark, root, "t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(Snapshot.readBranch(spark, root, "audit", "t").collect()
      .map(_.getLong(0)).toSeq == Seq(8L))
  }

  test("every reader's missing-table error lists user tables only") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      statsCols = Map("t" -> Seq("id")))
    // a tombstone shadow (t~del) and, on the branch, its bookkeeping
    Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    Snapshot.createBranch(spark, root, "audit")
    Seq[(String, () => Any)](
      ("read", () => Snapshot.read(spark, root, "nope")),
      ("readAt", () => Snapshot.readAt(spark, root, "nope", v1 + 1L)),
      ("readBranch", () => Snapshot.readBranch(spark, root, "audit", "nope")),
      ("readPruned", () => Snapshot.readPruned(spark, root, "nope", "id", 1L, 2L)),
      ("readPruned at a version", () =>
        Snapshot.readPruned(spark, root, "nope", "id", 1L, 2L, Some(v1 + 1L))),
      ("readPrunedEq", () => Snapshot.readPrunedEq(spark, root, "nope", "id", 1L)),
      ("statsAgg", () => Snapshot.statsAgg(spark, root, "nope")),
      ("changesBetween", () => Snapshot.changesBetween(spark, root, "nope", 0L, v1 + 1L))
    ).foreach { case (reader, call) =>
      val msg = intercept[IllegalArgumentException](call()).getMessage
      assert(msg.contains("no table 'nope'") && msg.endsWith("(have: t)"), s"$reader: $msg")
    }
  }

  test("framed files: a tampered manifest, checkpoint or sidecar reads as torn") {
    import java.nio.file.Path
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val v1 = Snapshot.commit(spark, root,
      Map("t" -> (1L to 20L).map(i => (i, s"k$i")).toDF("id", "v").repartition(2)),
      statsCols = Map("t" -> Seq("id")), bloomCols = Map("t" -> Seq("v")))
    val seg = Paths.get(Snapshot.tables(spark, root)("t"))
    val all = rows(Snapshot.read(spark, root, "t"))
    assert(all.size == 20)
    // the body lines of a framed file, and a framed file of body lines
    def body(p: Path): Seq[String] =
      Files.readString(p).split("\n").toSeq.drop(1).dropRight(1)
    def framed(header: String, lines: Seq[String]): String =
      (header +: lines :+ s"END ${lines.size}").mkString("\n")
    // rewrite a file behind the file system's back: without its checksum
    // file, the checksummed local file system reads the bytes unverified
    def put(p: Path, text: String): Unit = {
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      Files.write(p, text.getBytes(UTF_8))
    }
    val header = "GRAFT-SNAPSHOT v1"
    val noBloom = {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(1000L).writeTo(out)
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    // per file: where it is, a complete file that would give a WRONG answer
    // if believed, and what a reader returns (the right answer when the
    // file is skipped as torn)
    val head = () => (Snapshot.currentVersion(spark, root),
      scala.util.Try(rows(Snapshot.read(spark, root, "t"))).toOption)
    val cases = Seq[(String, Path, String, () => Any, Any)](
      ("manifest", Paths.get(root, "_commits", "v0000000002.manifest"),
        framed(header, Seq("t\tdata/t/never-written")), head, (Some(v1), Some(all))),
      ("checkpoint", Paths.get(root, "_commits", "_checkpoint"),
        framed("GRAFT-CHECKPOINT v1", Seq("max\t9", "main\t9", "T\tt\tdata/t/never-written")),
        head, (Some(v1), Some(all))),
      ("stats sidecar", seg.resolve("_graft_stats"),
        framed(header, body(seg.resolve("_graft_stats")).map(_.split("\t", -1)).map {
          case Array(f, "id", t, _, _) => s"$f\tid\t$t\t1000\t1000"
          case fields => fields.mkString("\t")
        }),
        () => rows(Snapshot.readPruned(spark, root, "t", "id", 1L, 20L)), all),
      ("bloom sidecar", seg.resolve("_graft_bloom"),
        framed(header, body(seg.resolve("_graft_bloom")).map(_.split("\t", -1)).map {
          case Array(f, c, t, _) => s"$f\t$c\t$t\t$noBloom"
        }),
        () => rows(Snapshot.readPrunedEq(spark, root, "t", "v", "k5")), all))
    cases.foreach { case (kind, path, lie, reader, right) =>
      val original = if (Files.exists(path)) Some(Files.readAllBytes(path)) else None
      def restore(): Unit = original match {
        case Some(bytes) => put(path, new String(bytes, UTF_8))
        case None => Files.delete(path)
      }
      // the lie is believed when complete: each case can tell the two apart
      put(path, lie)
      assert(reader() != right, s"$kind: a complete lie was not read")
      val lines = lie.split("\n").toSeq
      Seq(
        "no header" -> lines.tail.mkString("\n"),
        "no END" -> lines.init.mkString("\n"),
        "END count disagrees" -> (lines.init :+ s"END ${lines.size - 1}").mkString("\n"),
        "empty" -> ""
      ).foreach { case (tamper, text) =>
        put(path, text)
        assert(reader() == right, s"$kind, $tamper")
      }
      restore()
    }
    // restored, every file reads as written again: the head, and a bloom
    // probe that skips the file without the key
    assert(head() == ((Some(v1), Some(all))))
    val probe = Snapshot.readPrunedEq(spark, root, "t", "v", "k5")
    assert(probe.filter(col("v") === "k5").count() == 1L)
    assert(probe.inputFiles.length < Snapshot.read(spark, root, "t").inputFiles.length)
  }

  test("sidecars list a multi-file segment's files in file-name order") {
    val root = freshRoot()
    Snapshot.commit(spark, root,
      Map("t" -> (1L to 60L).map(i => (i, s"k$i")).toDF("id", "v").repartition(6)),
      statsCols = Map("t" -> Seq("id", "v")), bloomCols = Map("t" -> Seq("id", "v")))
    val seg = Paths.get(Snapshot.tables(spark, root)("t"))
    Seq("_graft_stats", "_graft_bloom").foreach { name =>
      // the body's per-file lines (the stats' segment totals come first)
      val files = Files.readString(seg.resolve(name)).split("\n").toSeq.drop(1).dropRight(1)
        .map(l => java.net.URLDecoder.decode(l.split("\t")(0), UTF_8))
        .filterNot(_ == "~total")
      assert(files.distinct.size == 6, s"$name: $files")
      assert(files == files.sorted, s"$name: $files")
    }
  }

  test("changesBetween reads each version's manifest once") {
    val root = freshRoot()
    // untouched tables keep the appends' manifests deltas over a full base
    val v1 = Snapshot.commit(spark, root, Map("t" -> Seq((0L, "a")).toDF("id", "v")) ++
      (1 to 4).map(i => s"w$i" -> Seq((i.toLong, "w")).toDF("id", "v")))
    (1L to 10L).foreach(i =>
      Snapshot.commitAppend(spark, root, Map("t" -> Seq((i, s"x$i")).toDF("id", "v"))))
    val before = Snapshot.manifestFileReads.get()
    val feed = Snapshot.changesBetween(spark, root, "t", v1, v1 + 10L)
    val reads = Snapshot.manifestFileReads.get() - before
    assert(reads <= 11L, s"changesBetween over 10 versions read $reads manifest files")
    assert(feed.count() == 10L)
    assert(Snapshot.mainVersionsBetween(spark, root, v1, v1 + 10L) == (v1 + 1L to v1 + 10L))
  }
}
