package graft

import org.apache.spark.sql.functions.col

import graft.sources.{Replica, Snapshot}

class ReplicaSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("replica-spec")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("sync replicates incrementally and exactly-once") {
    val src = freshRoot()
    val dst = freshRoot()
    Snapshot.commit(spark, src,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")))
    // bootstrap: the first sync feeds from creation
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).contains(1L))
    assert(rows(Snapshot.read(spark, dst, "t")) ==
      rows(Snapshot.read(spark, src, "t")))
    // replay no-ops: nothing new at the source
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).isEmpty)
    // source advances: append + erase + upsert (the key 2 chain nets to
    // its LAST event; key 1 erased; key 4 appended; key 5 upsert-new)
    Snapshot.commitAppend(spark, src, Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, src, "t", col("id") === 1L, Seq("id"))
    Snapshot.upsertMergeOnRead(spark, src, "t",
      Seq((2L, "b2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    Snapshot.upsertMergeOnRead(spark, src, "t",
      Seq((2L, "b3")).toDF("id", "v"), Seq("id"))
    val v = Snapshot.currentVersion(spark, src).get
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).contains(v))
    assert(rows(Snapshot.read(spark, dst, "t")) ==
      Set((2L, "b3"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(rows(Snapshot.read(spark, dst, "t")) ==
      rows(Snapshot.read(spark, src, "t")))
    // the replica is a first-class snapshot table: the bootstrap sync's
    // version still time-travels to the pre-delta state
    assert(rows(Snapshot.readAt(spark, dst, "t", 1L)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("independent appIds keep independent cursors") {
    val src = freshRoot()
    val dst = freshRoot()
    Snapshot.commit(spark, src, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    assert(Replica.sync(spark, src, "t", dst, "ta", Seq("id"), appId = "A").isDefined)
    Snapshot.upsertMergeOnRead(spark, src, "t",
      Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    // B bootstraps from 0 into its own table; A only applies the delta
    assert(Replica.sync(spark, src, "t", dst, "tb", Seq("id"), appId = "B").isDefined)
    assert(Replica.sync(spark, src, "t", dst, "ta", Seq("id"), appId = "A").isDefined)
    assert(rows(Snapshot.read(spark, dst, "ta")) == Set((1L, "a2")))
    assert(rows(Snapshot.read(spark, dst, "tb")) == Set((1L, "a2")))
    // both cursors are at the source head: replays no-op independently
    assert(Replica.sync(spark, src, "t", dst, "ta", Seq("id"), appId = "A").isEmpty)
    assert(Replica.sync(spark, src, "t", dst, "tb", Seq("id"), appId = "B").isEmpty)
  }

  test("knnLshServeFollow: base+delta serve equals a rebuild on the mutated corpus") {
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    val corpus = freshRoot()
    val delta = freshRoot()
    val baseIdx = tempDir("replica-annbase")
    val planes = Ann.hashPlanes(nPlanes = 4, dim = 8)
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    val all = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // corpus v1: ids < 48 — the frozen base is built from this version
    val buildV = Snapshot.commit(spark, corpus,
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val lsh = AnnIndex.lsh("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, Snapshot.read(spark, corpus, "emb"), baseIdx)
    // the corpus mutates: erase some indexed ids, MERGE in new ones plus
    // re-upserts of indexed ids (their base rows must not double-serve)
    Snapshot.deleteWhere(spark, corpus, "emb",
      col("vec_id") % 11 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, corpus, "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 13 === 1),
      Seq("vec_id"))
    assert(Replica.sync(spark, corpus, "emb", delta, "emb_delta",
      Seq("vec_id"), initialCursor = buildV).isDefined)
    val follow = IndexLifecycle.serveFollow(spark, lsh, baseIdx, delta, "emb_delta",
        Probe(col("vec_id") < 3L, k = 2))
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    // ground truth: a full rebuild over the corpus's CURRENT state
    val rebuilt = tempDir("replica-annfull")
    IndexLifecycle.build(lsh, Snapshot.read(spark, corpus, "emb"), rebuilt)
    val full = AnnIndex.knnLshServe(spark.read.parquet(rebuilt), "vec_id",
        col("vec_id") < 3L, k = 2)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(follow == full)
    // the follow serve composes the FROZEN base — no rebuild happened:
    // a deleted id is absent, a re-upserted id appears exactly once
    val served = IndexLifecycle.serveFollow(spark, lsh, baseIdx, delta, "emb_delta",
      Probe(org.apache.spark.sql.functions.lit(true), k = 1))
    assert(served.filter(col("probe_id") === 11L).count() == 0L) // erased (11 % 11 == 0)
    // replayed sync no-ops and the serve is stable
    assert(Replica.sync(spark, corpus, "emb", delta, "emb_delta",
      Seq("vec_id"), initialCursor = buildV).isEmpty)
  }

  test("followDeltaStats: the delta-overhead probe tracks live+touched vs base") {
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    val corpus = freshRoot()
    val delta = freshRoot()
    val baseIdx = tempDir("replica-probebase")
    val planes = Ann.hashPlanes(nPlanes = 4, dim = 8)
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    val all = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val buildV = Snapshot.commit(spark, corpus,
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val lsh = AnnIndex.lsh("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, Snapshot.read(spark, corpus, "emb"), baseIdx)
    Snapshot.deleteWhere(spark, corpus, "emb",
      col("vec_id") % 11 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, corpus, "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 13 === 1),
      Seq("vec_id"))
    assert(Replica.sync(spark, corpus, "emb", delta, "emb_delta",
      Seq("vec_id"), initialCursor = buildV).isDefined)
    val stats = IndexLifecycle.followDeltaStats(spark, lsh, baseIdx, delta, "emb_delta")
    // the probe's counts ARE the serve path's frame sizes
    assert(stats.baseRows == spark.read.parquet(baseIdx).count())
    assert(stats.deltaLiveRows == Snapshot.read(spark, delta, "emb_delta").count())
    assert(stats.deltaLiveRows > 0L)
    // touched ⊇ the live keys (plus erased ids), all distinct
    assert(stats.deltaTouchedKeys >= stats.deltaLiveRows)
    assert(stats.syncCursor.isDefined)
    assert(stats.overhead > 0.0)
    assert(stats.shouldFold(budget = 0.0) && !stats.shouldFold(budget = 1e9))
    // pure arithmetic of the trigger
    assert(IndexLifecycle.FollowDeltaStats(100L, 10L, 15L, Some(1L)).overhead == 0.25)
    assert(IndexLifecycle.FollowDeltaStats(0L, 1L, 1L, None).overhead.isPosInfinity)
  }

  test("knnIvfServeFollow: frozen-codebook base+delta equals a rebuild") {
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    val corpus = freshRoot()
    val delta = freshRoot()
    val baseIdx = tempDir("replica-ivfbase")
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    val all = (0L until 64L).map(i => (i, i % 3, vec(i))).toDF("vec_id", "label", "embedding")
    val buildV = Snapshot.commit(spark, corpus,
      Map("emb" -> all.filter(col("vec_id") < 48L)))
    val atBuild = Snapshot.read(spark, corpus, "emb")
    // the codebook trains on the BUILD-TIME state and stays frozen
    val ivf = AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2)
    IndexLifecycle.build(ivf, atBuild, baseIdx)
    Snapshot.deleteWhere(spark, corpus, "emb",
      col("vec_id") % 11 === 0, Seq("vec_id"))
    Snapshot.upsertMergeOnRead(spark, corpus, "emb",
      all.filter(col("vec_id") >= 48L || col("vec_id") % 13 === 1)
        .drop("label").withColumn("label", col("vec_id") % 3),
      Seq("vec_id"))
    assert(Replica.sync(spark, corpus, "emb", delta, "emb_delta",
      Seq("vec_id"), initialCursor = buildV).isDefined)
    def served(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val follow = served(IndexLifecycle.serveFollow(spark, ivf, baseIdx, delta,
      "emb_delta", Probe(col("vec_id") < 3L, k = 2)))
    // ground truth: rebuild over the current state with the SAME frozen
    // codebook — re-derived from the build-time state via time travel
    // (ivfCodebook is deterministic, so this IS the stored codebook)
    val rebuilt = tempDir("replica-ivffull")
    IndexLifecycle.build(ivf, Snapshot.read(spark, corpus, "emb"), rebuilt,
      trainOn = Some(Snapshot.readAt(spark, corpus, "emb", buildV)))
    val full = served(AnnIndex.knnIvfServe(spark.read.parquet(rebuilt),
      spark.read.parquet(rebuilt + "_codebook"), "vec_id",
      col("vec_id") < 3L, k = 2, nProbe = 2))
    assert(follow == full)
  }

  test("a pure-delete delta replicates; source compaction refuses") {
    val src = freshRoot()
    val dst = freshRoot()
    Snapshot.commit(spark, src,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).isDefined)
    Snapshot.deleteWhere(spark, src, "t", col("id") === 2L, Seq("id"))
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).isDefined)
    assert(rows(Snapshot.read(spark, dst, "t")) == Set((1L, "a")))
    // a source fold inside the unsynced range breaks feed history — loud
    Snapshot.upsertMergeOnRead(spark, src, "t",
      Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    Snapshot.compactTable(spark, src, "t")
    intercept[IllegalArgumentException](
      Replica.sync(spark, src, "t", dst, "t", Seq("id")))
  }
}
