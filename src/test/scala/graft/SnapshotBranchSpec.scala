package graft

import graft.sources.Snapshot

/** BRANCHES — write-audit-publish over the snapshot store: fork, write
  * and read on a branch invisibly to main, fast-forward publish, loud
  * merge conflict when main moved, drop, and vacuum pinning live branch
  * heads. */
class SnapshotBranchSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("snapshot-branch-spec")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("createBranch forks the main head; branch commits are invisible to main") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "audit")
    assert(Snapshot.branches(spark, root) == Seq("audit"))
    // the fork sees main's state
    assert(ids(Snapshot.readBranch(spark, root, "audit", "t")) == Seq(1L))
    // branch write: visible on the branch, NOT on main
    Snapshot.commitBranch(spark, root, "audit",
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    assert(ids(Snapshot.readBranch(spark, root, "audit", "t")) == Seq(1L, 2L))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L))
    // main write: visible on main, NOT on the branch
    Snapshot.commit(spark, root, Map("u" -> Seq((9L, "x")).toDF("id", "v")))
    assert(ids(Snapshot.read(spark, root, "u")) == Seq(9L))
    assert(!Snapshot.branchTables(spark, root, "audit").contains("u"))
    // branch metadata never leaks as a table name
    assert(!Snapshot.tables(spark, root).keys.exists(_.startsWith("~")))
    assert(!Snapshot.branchTables(spark, root, "audit").keys.exists(_.startsWith("~")))
  }

  test("mergeBranch fast-forwards main to the branch head (the publish step)") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "wap")
    Snapshot.commitBranch(spark, root, "wap",
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
          "audit_report" -> Seq((0L, "ok")).toDF("id", "status")))
    // audit reads the branch; main still serves the old corpus
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L))
    val v = Snapshot.mergeBranch(spark, root, "wap")
    assert(Snapshot.currentVersion(spark, root).contains(v))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(1L, 2L))
    assert(ids(Snapshot.read(spark, root, "audit_report")) == Seq(0L))
  }

  test("mergeBranch fails loudly when main advanced past the fork point") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "stale")
    Snapshot.commitBranch(spark, root, "stale",
      Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    // main moves on after the fork
    Snapshot.commit(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    val e = intercept[IllegalStateException](Snapshot.mergeBranch(spark, root, "stale"))
    assert(e.getMessage.contains("conflict"))
    // main is untouched by the failed merge
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(3L))
  }

  test("dropBranch retires the branch; duplicate/invalid names rejected") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "tmp")
    intercept[IllegalArgumentException](Snapshot.createBranch(spark, root, "tmp"))
    intercept[IllegalArgumentException](Snapshot.createBranch(spark, root, "main"))
    intercept[IllegalArgumentException](Snapshot.createBranch(spark, root, "a~b"))
    Snapshot.dropBranch(spark, root, "tmp")
    assert(Snapshot.branches(spark, root).isEmpty)
    intercept[IllegalArgumentException](Snapshot.readBranch(spark, root, "tmp", "t"))
    // a dropped name can be re-created (fresh fork)
    Snapshot.createBranch(spark, root, "tmp")
    assert(Snapshot.branches(spark, root) == Seq("tmp"))
  }

  test("vacuum pins a live branch head across main commits; sweeps dropped ones") {
    val root = freshRoot()
    Snapshot.commit(spark, root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    Snapshot.createBranch(spark, root, "keepme")
    Snapshot.commitBranch(spark, root, "keepme",
      Map("staged" -> Seq((7L, "s")).toDF("id", "v")))
    // main churns; aggressive vacuum keeps only the newest main version
    Snapshot.commit(spark, root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    Snapshot.commit(spark, root, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    Snapshot.vacuum(spark, root, keepLast = 1)
    // the live branch survives with its data intact
    assert(ids(Snapshot.readBranch(spark, root, "keepme", "staged")) == Seq(7L))
    assert(ids(Snapshot.read(spark, root, "t")) == Seq(3L))
    // after a drop, vacuum may sweep the branch's manifests and data
    Snapshot.dropBranch(spark, root, "keepme")
    Snapshot.vacuum(spark, root, keepLast = 1)
    assert(Snapshot.branches(spark, root).isEmpty)
  }

  test("curateCorpusWap publishes a passing corpus via fast-forward") {
    val root = freshRoot()
    val docsPath = tempDir("wap-docs") + "/docs"
    // a corpus with survivors: english-looking text passes lang+quality
    (1L to 20L).map(i => (i,
      s"the quick brown fox number $i jumps over the lazy dog and runs far away today"))
      .toDF("doc_id", "text").write.parquet(docsPath)
    // seed main so the WAP round has a fork point to respect
    Snapshot.commit(spark, root, Map("seed" -> Seq((0L, "s")).toDF("id", "v")))
    val out = Pipeline.curateCorpusWap(spark, docsPath, root)()
    assert(out.isRight, s"expected publish, got $out")
    val published = Snapshot.read(spark, root, "corpus_curated")
    assert(published.count() > 0)
    assert(published.columns.contains("quality_score"))
    // the working branch is dropped after publish
    assert(Snapshot.branches(spark, root).isEmpty)
  }

  test("curateCorpusWap drops the branch and leaves main untouched on audit failure") {
    val root = freshRoot()
    val docsPath = tempDir("wap-docs-fail") + "/docs"
    (1L to 5L).map(i => (i,
      s"the quick brown fox number $i jumps over the lazy dog and runs far away today"))
      .toDF("doc_id", "text").write.parquet(docsPath)
    Snapshot.commit(spark, root, Map("seed" -> Seq((0L, "s")).toDF("id", "v")))
    val vBefore = Snapshot.currentVersion(spark, root)
    val out = Pipeline.curateCorpusWap(spark, docsPath, root)(
      audit = _ => Some("forced rejection"))
    assert(out == Left("forced rejection"))
    // main never saw the table; no branch lingers
    assert(Snapshot.currentVersion(spark, root) == vBefore)
    intercept[IllegalArgumentException](Snapshot.read(spark, root, "corpus_curated"))
    assert(Snapshot.branches(spark, root).isEmpty)
  }

  test("change feed and cursors skip branch commits in the version walk") {
    val root = freshRoot()
    val v1 = Snapshot.commitAppend(spark, root,
      appends = Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // a branch commit lands BETWEEN two main appends
    Snapshot.createBranch(spark, root, "noise")
    Snapshot.commitBranch(spark, root, "noise",
      Map("other" -> Seq((99L, "z")).toDF("id", "v")))
    val v2 = Snapshot.commitAppend(spark, root,
      appends = Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    val feed = Snapshot.changesBetween(spark, root, "t", v1, v2)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(feed == Seq(2L))
    // a branch version as an endpoint is rejected loudly (createBranch
    // claimed v1+1, commitBranch v1+2 — both branch-tagged)
    val e = intercept[IllegalArgumentException](
      Snapshot.changesBetween(spark, root, "t", v1, v1 + 2L))
    assert(e.getMessage.contains("branch"))
  }
}
