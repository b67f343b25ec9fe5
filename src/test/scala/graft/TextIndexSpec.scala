package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, IndexLifecycle, TextIndex}

class TextIndexSpec extends SparkSpec {
  import sqlImplicits._

  private val bm25 = TextIndex.bm25("doc_id", "text")

  private def corpus(n: Long) =
    (0L until n).map { i =>
      val words = Seq.fill((i % 4).toInt + 1)(s"w${i % 7}") ++
        (if (i % 3 == 0) Seq("hash", "join") else Seq("vector"))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")

  test("postings layout: unique (doc, term) rows, dl denormalized, NULL text counts toward N only") {
    val docs = corpus(6L).unionByName(
      Seq((100L, Option.empty[String])).toDF("doc_id", "text"))
    val posts = TextIndex.postingsRows(docs, "doc_id", "text").collect()
    // unique on (doc, term)
    assert(posts.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"))).distinct.length
      == posts.length)
    // doc 0: "w0 hash join" → three terms, tf 1 each, dl 3
    val d0 = posts.filter(_.getAs[Long]("doc_id") == 0L)
    assert(d0.map(_.getAs[String]("term")).sorted.toSeq == Seq("hash", "join", "w0"))
    assert(d0.forall(_.getAs[Long]("tf") == 1L))
    assert(d0.forall(_.getAs[Long]("dl") == 3L))
    // NULL-text doc: no postings, present in docRows with NULL dl
    assert(!posts.exists(_.getAs[Long]("doc_id") == 100L))
    val dr = TextIndex.docRows(docs, "doc_id", "text").collect()
    assert(dr.length == 7)
    assert(dr.filter(_.getAs[Long]("doc_id") == 100L).head.isNullAt(1))
  }

  test("persisted serve is row-identical to Bm25.topK; scan prunes to the query terms' buckets") {
    val docs = corpus(48L)
    val base = Files.createTempDirectory("graft-txtidx").toString
    IndexLifecycle.build(bm25, docs, base + "/idx")
    val terms = Seq("hash", "vector")
    val served = IndexLifecycle.serve(spark, bm25, base + "/idx", TextIndex.Query(terms, 5))
    val direct = Bm25.topK(docs, "doc_id", "text", terms, 5)
    assert(served.collect().map(_.toSeq).toSeq == direct.collect().map(_.toSeq).toSeq)
    // static bucket pruning: the postings scan plans a PartitionFilter
    // over tb restricted to the query terms' bucket set — the scan
    // lists only those bucket directories
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(TextIndex.Buckets.toLong)))
      .collect().map(_.getLong(0)).toSet
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb[^\\]]*".r.findFirstIn(plan).isDefined,
      s"no tb partition filter on the postings scan:\n$plan")
    buckets.foreach { b =>
      assert(plan.contains(b.toString),
        s"bucket $b missing from the partition filter:\n$plan")
    }
    // and the index holds more buckets than the query touches
    val allBuckets = spark.read.parquet(base + "/idx")
      .select("tb").distinct().count()
    assert(allBuckets > buckets.size)
  }

  test("append is O(batch): stored files untouched, derivation never reads the index, serve == rebuild") {
    val docs = corpus(48L)
    val base = Files.createTempDirectory("graft-txtappend").toString
    val first = docs.filter(col("doc_id") < 32L)
    val batch = docs.filter(col("doc_id") >= 32L)
    IndexLifecycle.build(bm25, first, base + "/idx")
    def partFiles() = {
      def walk(f: java.io.File): Seq[(String, Long, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq((f.getPath, f.length, f.lastModified))
        else Nil
      (walk(new java.io.File(base + "/idx")) ++
        walk(new java.io.File(base + "/idx_docs"))).sortBy(_._1)
    }
    val before = partFiles()
    val rows = TextIndex.postingsRows(batch, "doc_id", "text")
    assert(!rows.queryExecution.executedPlan.toString.contains(s"$base/idx"),
      "append derivation must not read the stored index")
    IndexLifecycle.append(bm25, batch, base + "/idx")
    val after = partFiles()
    assert(after.size > before.size, "append added no files")
    assert(before.toSet.subsetOf(after.toSet), "append rewrote pre-existing files")
    IndexLifecycle.build(bm25, docs, base + "/full")
    def serve(p: String) =
      IndexLifecycle.serve(spark, bm25, p, TextIndex.Query(Seq("hash", "vector"), 5))
        .collect().map(_.toSeq).toSeq
    assert(serve(base + "/idx") == serve(base + "/full"))
  }

  test("follow fold refuses a never-synced delta loudly") {
    import graft.sources.Snapshot
    val base = Files.createTempDirectory("graft-txtfold").toString
    val docs = corpus(8L)
    IndexLifecycle.build(bm25, docs, base + "/idx")
    val deltaRoot = Files.createTempDirectory("graft-txtfold-delta").toString
    Snapshot.commit(spark, deltaRoot, Map("d" -> docs.limit(1)))
    val ex = intercept[IllegalStateException](
      IndexLifecycle.fold(spark, bm25, base + "/idx", deltaRoot, "d", base + "/idx2"))
    assert(ex.getMessage.contains("never synced"))
  }
}
