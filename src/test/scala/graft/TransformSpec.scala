package graft

import org.apache.spark.sql.functions._

import graft.operators.{Transform, Upsert}

class TransformSpec extends SparkSpec {
  import sqlImplicits._

  test("dedupeKeepLast keeps the greatest-ordinal row per key") {
    val df = Seq(
      (1, 10, "a", 1L), (1, 10, "b", 2L), (1, 10, "c", 3L),
      (2, 20, "x", 1L), (3, 30, "y", 5L))
      .toDF("k1", "k2", "v", "ord")
    val got = Transform.dedupeKeepLast(df, Seq("k1", "k2"), Seq(col("ord")))
      .orderBy("k1").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(got == Seq((1, "c"), (2, "x"), (3, "y")))
  }

  test("dedupeKeepLast output keys are unique and cover input keys (randomized)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rs = List.fill(200)((rnd.nextInt(20), rnd.nextInt(1000), rnd.nextLong(50)))
      val df = rs.toDF("k", "v", "ord")
      val out = Transform.dedupeKeepLast(df, Seq("k"), Seq(col("ord"), col("v")))
      val keys = out.select("k").collect().map(_.getInt(0))
      assert(keys.length == keys.distinct.length)
      assert(keys.toSet == rs.map(_._1).toSet)
    }
  }

  test("dedupeKeepLastAgg agrees with the window form (randomized)") {
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 5) {
      // ord covers every data column, so equal ord-tuples are identical
      // rows and both forms are deterministic
      val rs = List.fill(300)((rnd.nextInt(25), rnd.nextInt(50), rnd.nextInt(50)))
      val df = rs.toDF("k", "a", "b")
      val ord = Seq(col("a"), col("b"))
      val w = Transform.dedupeKeepLast(df, Seq("k"), ord)
        .orderBy("k").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      val g = Transform.dedupeKeepLastAgg(df, Seq("k"), ord)
        .orderBy("k").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      assert(w == g)
    }
  }

  test("fkSplit: valid ∪ rejects == input, NULL FKs rejected") {
    val df = Seq(
      (Some(1), "ok"), (Some(2), "ok2"), (Some(99), "bad-fk"), (None, "null-fk"))
      .toDF("fk", "v")
    val dim = Seq(1, 2, 3).toDF("id")
    val (valid, rejects) = Transform.fkSplit(df, dim, Seq("fk"), Seq("id"))
    assert(valid.count() + rejects.count() == df.count())
    assert(valid.select("v").collect().map(_.getString(0)).sorted.toSeq == Seq("ok", "ok2"))
    assert(rejects.select("v").collect().map(_.getString(0)).sorted.toSeq == Seq("bad-fk", "null-fk"))
  }

  test("fkSplit over a dimension with duplicate keys: each row lands once") {
    val df = Seq((1, "a"), (1, "a2"), (2, "b"), (3, "c"), (4, "d")).toDF("fk", "v")
    // key 1 three times, key 2 twice, a NULL key, no key 3 or 4
    val dim = Seq(Some(1), Some(1), Some(2), Some(1), Some(2), None).toDF("id")
    val (valid, rejects) = Transform.fkSplit(df, dim, Seq("fk"), Seq("id"))
    val v = valid.select("v").collect().map(_.getString(0)).toSeq
    val r = rejects.select("v").collect().map(_.getString(0)).toSeq
    assert(v.sorted == Seq("a", "a2", "b"))
    assert(r.sorted == Seq("c", "d"))
    assert((v ++ r).sorted == df.select("v").collect().map(_.getString(0)).toSeq.sorted)
  }

  test("checkSplit routes violations including NULL-pred rows") {
    val df = Seq(Some(5), Some(-1), None).toDF("x")
    val (ok, bad) = Transform.checkSplit(df, col("x").isNull || col("x") >= 0)
    assert(ok.count() == 2 && bad.count() == 1)
  }

  test("upsert: update-on-match (stage NULL wins), insert-on-miss, never deletes") {
    val target = Seq((1, Some("t1"), 10), (2, Some("t2"), 20)).toDF("k", "s", "n")
    val stage = Seq((2, None: Option[String], 99), (3, Some("s3"), 30)).toDF("k", "s", "n")
    val got = Upsert.upsert(target, stage, Seq("k")).orderBy("k")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2))).toSeq
    assert(got == Seq((1, Some("t1"), 10), (2, None, 99), (3, Some("s3"), 30)))
  }

  test("upsert is idempotent: upsert(upsert(t,s),s) == upsert(t,s)") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val stage = Seq((2, "B"), (3, "C")).toDF("k", "v")
    val once = Upsert.upsert(target, stage, Seq("k"))
    val twice = Upsert.upsert(once, stage, Seq("k"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dropNearDups keeps canonical survivors and unclustered docs") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("doc_id", "text")
    // clusters {1,2,4} (canonical 1) and {3} alone is not emitted by
    // dupClusters; 5 unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 1L)).toDF("doc_id", "cluster_id")
    val kept = Transform.dropNearDups(corpus, clusters, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // empty cluster set keeps everything
    assert(Transform.dropNearDups(corpus, clusters.filter(lit(false)), "doc_id")
      .count() == 5)
  }

  test("chunkDocs: overlapped chunks cover and reconstruct the document") {
    val docs = Seq(
      (1L, "abcdefghij"),   // 10 chars, size 4 / overlap 1 → starts 0,3,6,9
      (2L, "xy"),           // shorter than size → one whole-doc chunk
      (3L, ""),             // empty → no chunks
      (4L, null: String)    // null → no chunks
    ).toDF("doc_id", "text")
    val got = Transform.chunkDocs(docs, "doc_id", "text", size = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((0L, 0L, "abcd"), (1L, 3L, "defg"), (2L, 6L, "ghij"), (3L, 9L, "j")))
    assert(got.filter(_._1 == 2L).map(_._4).toSeq == Seq("xy"))
    assert(!got.exists(t => t._1 == 3L || t._1 == 4L))
    // reconstruction: drop each non-first chunk's overlap prefix, concat
    val rebuilt = got.filter(_._1 == 1L).map { case (_, cid, _, txt) =>
      if (cid == 0L) txt else txt.drop(1)
    }.mkString
    assert(rebuilt == "abcdefghij")
    intercept[IllegalArgumentException](
      Transform.chunkDocs(docs, "doc_id", "text", size = 4, overlap = 4))
  }

  test("upsert row count = |target keys ∪ stage keys| (randomized)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val tk = List.fill(rnd.nextInt(30))(rnd.nextInt(30)).distinct
      val sk = List.fill(rnd.nextInt(30))(rnd.nextInt(30)).distinct
      val target = tk.map(k => (k, s"t$k")).toDF("k", "v")
      val stage = sk.map(k => (k, s"s$k")).toDF("k", "v")
      val n = Upsert.upsert(target, stage, Seq("k")).count()
      assert(n == (tk.toSet ++ sk.toSet).size.toLong)
    }
  }
}
