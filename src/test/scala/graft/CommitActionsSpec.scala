package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.operators.{IndexFamily, IndexLifecycle, IndexTable, TextIndex, Upsert}
import graft.sources.{Replica, Snapshot}

/** The small lifecycle commits run their writes and nothing around them:
  * no precondition aggregate, no flag or cursor read, no re-read. A
  * batch that breaks the MERGE preconditions fails inside the write,
  * with the same message as the separate check it replaced, and leaves
  * the root as it was. */
class CommitActionsSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("commit-actions")

  /** Every path under `root`, relative and sorted (dirs included). */
  private def listing(root: String): Seq[String] = {
    val r = java.nio.file.Paths.get(root)
    val w = Files.walk(r)
    try w.iterator().asScala.map((p: JPath) => r.relativize(p).toString).toList.sorted
    finally w.close()
  }

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("id", "v")

  private def noReads(actions: Seq[String]): Unit =
    assert(!actions.exists(Actions.Reads), s"actions: $actions")

  test("deleteWhere and upsertMergeOnRead run only their segment writes") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> docs((1L, "a"), (2L, "b"), (3L, "c"))))
    val del = Actions.sqlActions(spark)(
      Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id")))
    assert(del == Seq("command"), s"deleteWhere: $del")
    noReads(del)
    // the batch segment and the folded tombstones
    val up = Actions.sqlActions(spark)(
      Snapshot.upsertMergeOnRead(spark, root, "t", docs((2L, "b2"), (4L, "d")), Seq("id")))
    assert(up == Seq("command", "command"), s"upsertMergeOnRead: $up")
    noReads(up)
    // a new table: its first segment only
    val first = Actions.sqlActions(spark)(
      Snapshot.upsertMergeOnRead(spark, root, "u", docs((1L, "x")), Seq("id")))
    assert(first == Seq("command"), s"first upsertMergeOnRead: $first")
    noReads(first)
    assert(Snapshot.read(spark, root, "t").as[(Long, String)].collect().toSet ==
      Set((2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("Replica.sync runs its feed checkpoint and its commit's writes, and reads no flag or cursor") {
    val src = freshRoot()
    val dst = freshRoot()
    Snapshot.commit(spark, src, Map("t" -> docs((1L, "a"), (2L, "b"), (3L, "c"))))
    val boot = Actions.sqlActions(spark)(Replica.sync(spark, src, "t", dst, "t", Seq("id")))
    // the checkpoint, the table's first segment, the marker
    assert(boot == Seq("localCheckpoint", "command", "command"), s"bootstrap sync: $boot")
    noReads(boot)
    Snapshot.deleteWhere(spark, src, "t", col("id") === 1L, Seq("id"))
    Snapshot.upsertMergeOnRead(spark, src, "t", docs((2L, "b2"), (4L, "d")), Seq("id"))
    val next = Actions.sqlActions(spark)(Replica.sync(spark, src, "t", dst, "t", Seq("id")))
    // the checkpoint, the upsert segment, the tombstones, the marker
    assert(next == Seq("localCheckpoint", "command", "command", "command"), s"sync: $next")
    noReads(next)
    assert(Replica.cursor(spark, dst).contains(Snapshot.currentVersion(spark, src).get))
    assert(Snapshot.read(spark, dst, "t").as[(Long, String)].collect().toSet ==
      Set((2L, "b2"), (3L, "c"), (4L, "d")))
    // deletes only, then an empty feed (another table moved): the flags
    // the checkpoint observed pick the commit's parts
    Snapshot.deleteWhere(spark, src, "t", col("id") === 3L, Seq("id"))
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).isDefined)
    Snapshot.commit(spark, src, Map("other" -> docs((9L, "z"))))
    val v = Snapshot.currentVersion(spark, src).get
    assert(Replica.sync(spark, src, "t", dst, "t", Seq("id")).contains(v))
    assert(Replica.cursor(spark, dst).contains(v))
    assert(Snapshot.read(spark, dst, "t").as[(Long, String)].collect().toSet ==
      Set((2L, "b2"), (4L, "d")))
  }

  test("IndexLifecycle.fold runs its checkpoints and writes, and re-reads no cursor") {
    val f = TextIndex.bm25("id", "v")
    val corpus = freshRoot()
    val delta = freshRoot()
    val dir = freshRoot()
    val v = Snapshot.commit(spark, corpus,
      Map("docs" -> docs((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta"))))
    IndexLifecycle.build(f, Snapshot.read(spark, corpus, "docs"), dir + "/base")
    Snapshot.upsertMergeOnRead(spark, corpus, "docs", docs((4L, "delta alpha")), Seq("id"))
    Replica.sync(spark, corpus, "docs", delta, "docs_delta", Seq("id"), initialCursor = v)
    var cur = 0L
    val acts = Actions.sqlActions(spark) {
      cur = IndexLifecycle.fold(spark, f, dir + "/base", delta, "docs_delta", dir + "/base2")
    }
    assert(cur == Snapshot.currentVersion(spark, corpus).get)
    noReads(acts)
    // the tokenizer's partition probe (`Par.spread`, planning only), the
    // tokenized delta, one delta checkpoint per table, the two writes
    assert(acts == Seq("rdd", "localCheckpoint", "localCheckpoint", "localCheckpoint",
      "command", "command"), s"fold: $acts")
    val served = IndexLifecycle.serve(spark, f, dir + "/base2", TextIndex.Query(Seq("alpha"), 10))
      .select("id").as[Long].collect().toSet
    assert(served == Set(1L, 4L))
  }

  test("fold re-reads the cursor only when the delta root moved, and a mid-fold sync still fails it") {
    val corpus = freshRoot()
    val delta = freshRoot()
    val dir = freshRoot()
    // an identity family whose encode can commit to the delta root mid-fold
    @volatile var midFold: () => Unit = () => ()
    val f = IndexFamily[Unit]("id", Seq(IndexTable("")),
      encode = (df, _) => { midFold(); Seq(df) },
      serve = (ix, _) => ix.tables.head)
    val v = Snapshot.commit(spark, corpus, Map("docs" -> docs((1L, "a"), (2L, "b"))))
    IndexLifecycle.build(f, Snapshot.read(spark, corpus, "docs"), dir + "/base")
    Snapshot.upsertMergeOnRead(spark, corpus, "docs", docs((3L, "c")), Seq("id"))
    Replica.sync(spark, corpus, "docs", delta, "docs_delta", Seq("id"), initialCursor = v)
    val cur = Replica.cursor(spark, delta).get
    // the delta root moves, its cursor does not: the fold hands off
    midFold = () => { midFold = () => (); Snapshot.commit(spark, delta, Map("other" -> docs((9L, "z")))) }
    assert(IndexLifecycle.fold(spark, f, dir + "/base", delta, "docs_delta", dir + "/b2") == cur)
    // a sync lands mid-fold: the fold fails with the cursor it saw move
    Snapshot.upsertMergeOnRead(spark, corpus, "docs", docs((4L, "d")), Seq("id"))
    midFold = () => { midFold = () => (); Replica.sync(spark, corpus, "docs", delta, "docs_delta", Seq("id")) }
    val ex = intercept[IllegalStateException](
      IndexLifecycle.fold(spark, f, dir + "/base", delta, "docs_delta", dir + "/b3"))
    val now = Snapshot.currentVersion(spark, corpus).get
    assert(ex.getMessage.startsWith(
      s"fold: a concurrent sync advanced the delta cursor ($cur -> $now) while the fold ran"),
      ex.getMessage)
  }

  private val nullMsg = "requirement failed: snapshot applyChanges: upsert batch has NULL in key columns id"
  private def dupMsg(n: Int, nk: Int) =
    s"requirement failed: snapshot applyChanges: upsert batch must be unique on (id) — $n rows but $nk distinct keys"

  test("a NULL-key or duplicate-key batch fails with the check's message and leaves the root unchanged") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> docs((1L, "a"), (2L, "b"))))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    val nullKey = Seq[(java.lang.Long, String)]((3L, "c"), (null, "n")).toDF("id", "v")
    Seq(
      ("t", nullKey, nullMsg),
      ("t", docs((2L, "x"), (2L, "y"), (5L, "z")), dupMsg(3, 2)),
      // a new table: the check rides its first segment
      ("fresh", docs((7L, "x"), (7L, "y")), dupMsg(2, 1)),
      ("fresh", nullKey, nullMsg)).foreach { case (table, batch, msg) =>
      val before = listing(root)
      val ex = intercept[IllegalArgumentException](
        Snapshot.upsertMergeOnRead(spark, root, table, batch, Seq("id")))
      assert(ex.getMessage == msg)
      assert(listing(root) == before, s"$table: $msg")
    }
    assert(Snapshot.read(spark, root, "t").as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("under Replica.sync a NULL-key feed fails with the check's message and leaves the replica unchanged") {
    val src = freshRoot()
    val nullKey = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n")).toDF("id", "v")
    // a bootstrap into an empty root
    Snapshot.commit(spark, src, Map("t" -> nullKey))
    val empty = freshRoot()
    val ex = intercept[IllegalArgumentException](Replica.sync(spark, src, "t", empty, "t", Seq("id")))
    assert(ex.getMessage == nullMsg)
    assert(listing(empty) == Seq(""))
    // an incremental sync into a live replica
    val src2 = freshRoot()
    val dst = freshRoot()
    Snapshot.commit(spark, src2, Map("t" -> docs((1L, "a"))))
    Replica.sync(spark, src2, "t", dst, "t", Seq("id"))
    Snapshot.commitAppend(spark, src2, Map("t" -> Seq[(java.lang.Long, String)]((null, "n")).toDF("id", "v")))
    val before = listing(dst)
    val ex2 = intercept[IllegalArgumentException](Replica.sync(spark, src2, "t", dst, "t", Seq("id")))
    assert(ex2.getMessage == nullMsg)
    assert(listing(dst) == before)
    assert(Replica.cursor(spark, dst).contains(1L))
  }

  test("every write kind that fails leaves the root's listing as it was and rethrows its failure") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> docs((1L, "a"), (2L, "b"))))
    Snapshot.deleteWhere(spark, root, "t", col("id") === 1L, Seq("id"))
    // three small segments for optimizeTable to pack; `flag` has no
    // stats type, so the stats sidecar of a rewrite fails after its write
    val flagged = Seq((1L, true)).toDF("id", "flag")
    Snapshot.commit(spark, root, Map("o" -> flagged))
    Snapshot.commitAppend(spark, root, Map("o" -> flagged))
    Snapshot.commitAppend(spark, root, Map("o" -> flagged))
    Snapshot.createBranch(spark, root, "b")
    // a frame whose last row raises inside its task
    def raising(c: String) = spark.range(1L, 4L).select(col("id"),
      when(col("id") === 3L, raise_error(lit("boom"))).otherwise(lit("v")).as(c))
    val bad = raising("v")
    val badKeys = spark.range(1L, 4L)
      .select(when(col("id") === 3L, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    val stale = Some(0L)
    val boom = (e: Throwable) => Upsert.causes(e).exists(c => Option(c.getMessage).exists(_.contains("boom")))
    val conflict = (e: Throwable) => e.getMessage.startsWith(s"snapshot commit conflict at $root")
    val badStats = (e: Throwable) => e.getMessage.contains("column 'flag' has unsupported type boolean")
    Seq[(String, () => Any, Throwable => Boolean)](
      ("commit", () => Snapshot.commit(spark, root, Map("t" -> bad, "n" -> docs((9L, "z")))), boom),
      // blind, so its conflict is found at publish, after its write
      ("commit at a stale base", () => Snapshot.commit(spark, root, Map("n" -> docs((9L, "z"))),
        expectBase = stale), conflict),
      ("commitAppend", () => Snapshot.commitAppend(spark, root, Map("t" -> bad),
        replaces = Map("n" -> docs((9L, "z")))), boom),
      ("forgetKeys", () => Snapshot.forgetKeys(spark, root, Map("t" -> (Seq("id"), badKeys))), boom),
      ("compactTable", () => Snapshot.compactTable(spark, root, "o", statsCols = Seq("flag")), badStats),
      ("optimizeTable", () => Snapshot.optimizeTable(spark, root, "o", 1L << 30,
        statsCols = Seq("flag")), badStats),
      ("mergeCommit", () => Snapshot.mergeCommit(spark, root,
        Map("t" -> (bad, Seq("id")), "n" -> (docs((9L, "z")), Seq("id")))), boom),
      ("commitBranch", () => Snapshot.commitBranch(spark, root, "b",
        Map("t" -> bad, "n" -> docs((9L, "z")))), boom)
    ).foreach { case (kind, write, expected) =>
      val before = listing(root)
      val head = Snapshot.currentVersion(spark, root)
      val ex = intercept[Throwable](write())
      assert(expected(ex), s"$kind: $ex")
      assert(listing(root) == before, kind)
      assert(Snapshot.currentVersion(spark, root) == head, kind)
    }
    // the compare-and-swap kinds fail on a stale base before any write
    Seq[(String, () => Any)](
      ("commitAppend", () => Snapshot.commitAppend(spark, root, Map("t" -> docs((5L, "e"))),
        expectBase = stale)),
      ("deleteWhere", () => Snapshot.deleteWhere(spark, root, "t", col("id") === 2L, Seq("id"),
        expectBase = stale)),
      ("upsertMergeOnRead", () => Snapshot.upsertMergeOnRead(spark, root, "t", docs((5L, "e")),
        Seq("id"), expectBase = stale)),
      ("applyChanges", () => Snapshot.applyChanges(spark, root, "t", Seq("id"), None,
        Some(Seq(2L).toDF("id")), expectBase = stale)),
      ("forgetKeys", () => Snapshot.forgetKeys(spark, root,
        Map("t" -> (Seq("id"), Seq(2L).toDF("id"))), expectBase = stale))
    ).foreach { case (kind, write) =>
      val before = listing(root)
      var ex: IllegalStateException = null
      val actions = Actions.sqlActions(spark) { ex = intercept[IllegalStateException](write()) }
      val head = Snapshot.currentVersion(spark, root).get
      assert(ex.getMessage ==
        s"snapshot commit conflict at $root: expected base version 0, found $head", kind)
      assert(actions.isEmpty, s"$kind: $actions")
      assert(listing(root) == before, kind)
    }
    assert(Snapshot.read(spark, root, "t").as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("a commit with stats and bloom columns derives both sidecars from one collect") {
    val root = freshRoot()
    val actions = Actions.sqlActions(spark)(
      Snapshot.commit(spark, root, Map("t" -> docs((1L, "a"), (2L, "b"), (3L, "c"))),
        statsCols = Map("t" -> Seq("id")), bloomCols = Map("t" -> Seq("v"))))
    // the segment write, then one aggregate for the stats and the blooms
    assert(actions == Seq("command", "collect"), s"commit: $actions")
    // each sidecar serves its reader
    assert(Snapshot.statsAgg(spark, root, "t", Seq("id")).as[(Long, Long, Long)].collect()
      .toSeq == Seq((3L, 1L, 3L)))
    assert(Snapshot.readPruned(spark, root, "t", "id", 2L, 2L).filter(col("id") === 2L)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    assert(Snapshot.readPrunedEq(spark, root, "t", "v", "c").filter(col("v") === "c")
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }
}
