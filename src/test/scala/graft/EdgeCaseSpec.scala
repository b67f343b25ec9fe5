package graft

import org.apache.spark.sql.functions._

import graft.model.Entities
import graft.operators.{Ann, NearDup}

/** Degenerate-input behavior: empty and singleton corpora must flow
  * through every pipeline operator without errors — at 100 TB some
  * partition, day, or source is always empty. */
class EdgeCaseSpec extends SparkSpec {
  import sqlImplicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val oneDoc = Seq((1L, "just one lonely document here")).toDF("doc_id", "text")

  test("near-dup operators accept empty and singleton corpora") {
    assert(NearDup.exactDupGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(NearDup.minhashPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(NearDup.simhash(emptyDocs, "doc_id", "text").count() == 0)
    assert(NearDup.exactDupGroups(oneDoc, "doc_id", "text").count() == 1)
    assert(NearDup.minhashPairs(oneDoc, "doc_id", "text").count() == 0) // no pairs
    assert(NearDup.simhash(oneDoc, "doc_id", "text").count() == 1)
  }

  test("ANN operators accept empty collections and empty probe sets") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val planes = Ann.hashPlanes(2, 4)
    assert(Ann.knnBrute(emptyVecs, "vec_id", "embedding", col("vec_id") < 10, 5).count() == 0)
    assert(Ann.knnLsh(emptyVecs, "vec_id", "embedding", planes, col("vec_id") < 10, 5).count() == 0)
    assert(Ann.nearDupPairs(emptyVecs, "vec_id", "embedding", planes, 0.5).count() == 0)
    val vecs = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // probe predicate matches nothing → empty result, not an error
    assert(Ann.knnBrute(vecs, "vec_id", "embedding", col("vec_id") < 0, 5).count() == 0)
  }

  test("round-7 doc operators accept empty and degenerate corpora") {
    // clustering on an empty corpus: no pairs, no components, no error
    assert(NearDup.dupClusters(emptyDocs, "doc_id", "text").count() == 0)
    assert(NearDup.winnowFingerprints(emptyDocs, "doc_id", "text").count() == 0)
    // decontamination with an empty corpus side
    assert(graft.operators.Decontam.contamination(
      emptyDocs, oneDoc, "doc_id", "text", 3, 1).count() == 0)
    // redaction and shingles of empty/degenerate text
    val weird = Seq((1L, ""), (2L, "a b")).toDF("doc_id", "text")
    assert(NearDup.shingleArrays(weird, "doc_id", "text", 3).count() == 2)
    assert(NearDup.shingleSets(weird, "doc_id", "text", 3).count() == 0) // all sub-n
    import graft.functions.Text
    assert(weird.select(Text.redact(col("text")).as("r"))
      .collect().map(_.getString(0)).toSet == Set("", "a b"))
  }

  test("docs with whitespace-only or symbol-only text survive the doc queries") {
    val weird = Seq((1L, ""), (2L, "   "), (3L, "!!! ??? ###"), (4L, "normal text here"))
      .toDF("doc_id", "text")
    assert(NearDup.exactDupGroups(weird, "doc_id", "text").count() == 2) // "" norm x3 + normal
    assert(NearDup.simhash(weird, "doc_id", "text").count() == 4)
    assert(NearDup.minhashPairs(weird, "doc_id", "text")
      .collect().forall(r => r.getAs[Double]("jaccard") >= 0.0))
  }

  test("round-8 operators accept empty and degenerate inputs") {
    import graft.operators.{Sampling, Transform, Upsert}
    // chunking: empty corpus → empty result with the chunk schema
    val chunks = Transform.chunkDocs(emptyDocs, "doc_id", "text", size = 8, overlap = 2)
    assert(chunks.count() == 0)
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_id", "chunk_start", "chunk_text"))
    // splits: a single 256-wide split labels everything identically
    val all = Sampling.splitCorpus(oneDoc, "doc_id", Seq("all" -> 256))
    assert(all.collect().map(_.getAs[String]("split")).toSeq == Seq("all"))
    // incremental dedup: empty batch survives as empty, full overlap empties
    assert(NearDup.dedupeAgainst(oneDoc, emptyDocs, "doc_id", "text").count() == 0)
    assert(NearDup.dedupeAgainst(oneDoc, oneDoc, "doc_id", "text").count() == 0)
    // containment: empty corpus yields no pairs
    assert(NearDup.containmentPairs(emptyDocs, "doc_id", "text").count() == 0)
    // k-means: k larger than the collection still converges (k' = N)
    val twoVecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val km = Ann.kmeans(twoVecs, "vec_id", "embedding", k = 5, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(km == Map(1L -> 0L, 2L -> 1L))
    // CDC: an all-delete batch against an empty table is a clean no-op
    val t = Seq((1, "a")).toDF("k", "v")
    val delOnly = Seq((9, null: String, "delete")).toDF("k", "v", "op")
    assert(Upsert.applyCdc(t, delOnly, Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a")))
  }

  test("typed entity layer round-trips the reference CSVs") {
    val c = Entities.loadCustomers(spark, RefCsvFixture.dir)
    assert(c.count() == 5000)
    assert(c.filter(_.CustomerID.isEmpty).count() == 0)
    val o = Entities.loadOrders(spark, RefCsvFixture.dir)
    assert(o.count() == 20000)
    val withDates = o.filter(_.OrderDate.isDefined).count()
    assert(withDates > 0 && withDates <= 20000)
  }
}
