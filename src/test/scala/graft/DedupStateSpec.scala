package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupState, NearDup}

class DedupStateSpec extends SparkSpec {
  import sqlImplicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "completely different content about distributed query engines and shuffles"),
    (4L, "another unrelated document mentioning vectors embeddings and analytics")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    // exact dup of corpus 0 modulo punctuation/case → exact-dropped
    (1L, "The QUICK brown fox... jumps over the lazy dog near the river bank today!"),
    // near-dup of corpus 0: one word changed → near-dropped
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    // genuinely novel → kept
    (5L, "a wholly fresh document with no relation to anything already stored")
  ).toDF("doc_id", "text")

  test("stateOf signatures equal the exploded-groupBy minhash signatures") {
    val st = DedupState.stateOf(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Long]]("sig")).toMap
    val sigs = NearDup.minhashSignatures(
        NearDup.shingleSets(corpus, "doc_id", "text", 3), "doc_id", 12)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (0 until 12).map(i => r.getAs[Long](s"sig_$i"))).toMap
    assert(st.keySet == sigs.keySet)
    sigs.foreach { case (id, s) => assert(st(id) == s, s"doc $id") }
    // fp matches the exact-dedup fingerprint
    val fps = DedupState.stateOf(corpus, "doc_id", "text")
      .select(col("doc_id"), col("fp"))
      .except(corpus.select(col("doc_id"),
        graft.functions.Text.fingerprint(col("text")).as("fp")))
    assert(fps.isEmpty)
  }

  test("dedupeAgainstState drops exact and near dups, keeps novel, carries state cols") {
    val state = DedupState.stateOf(corpus, "doc_id", "text")
    val kept = DedupState.dedupeAgainstState(state, batch, "doc_id", "text")
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(5L))
    // survivors carry their own state columns — an absorbing caller
    // appends them without recomputation
    assert(DedupState.StateCols.forall(kept.columns.contains))
    assert(kept.select(col("sig")).head().getAs[scala.collection.Seq[Long]](0).length == 12)
    // agrees with the text-based operator on the same fixture
    val viaText = NearDup.dedupeAgainst(corpus, batch, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(viaText == Seq(5L))
  }

  test("empty state keeps the whole batch; reserved columns are guarded") {
    val empty = DedupState.stateOf(corpus.limit(0), "doc_id", "text")
    assert(DedupState.dedupeAgainstState(empty, batch, "doc_id", "text").count() == 3)
    val clash = batch.withColumn("sig", lit(1))
    val e = intercept[IllegalArgumentException] {
      DedupState.withState(clash, "doc_id", "text") }
    assert(e.getMessage.contains("reserved"))
    // a doc below the shingle width still gets fp (exact dedup) but can
    // never become a near-dup candidate (empty sh ⇒ no band rows)
    val tiny = Seq((9L, "too short")).toDF("doc_id", "text")
    val ts = DedupState.stateOf(tiny, "doc_id", "text").head()
    assert(ts.getAs[scala.collection.Seq[Long]]("sh").isEmpty && ts.getAs[String]("fp").nonEmpty)
    assert(DedupState.dedupeAgainstState(
      DedupState.stateOf(corpus, "doc_id", "text"), tiny, "doc_id", "text").count() == 1)
  }

  test("batch absorb reads the signature table, never corpus text") {
    val tmp = tempDir("dedupstate")
    val corpusDir = s"$tmp/corpus_data"
    val stateDir = s"$tmp/corpus_sig"
    corpus.write.parquet(corpusDir)
    DedupState.stateOf(spark.read.parquet(corpusDir), "doc_id", "text")
      .write.parquet(stateDir)
    // capture the root path of every file scan executed while absorbing
    // a batch against the PERSISTED state: the corpus parquet must never
    // be scanned (its text column included) — only the state dir and the
    // batch source. Paths come from the scan's relation, not the plan
    // string, which abbreviates long path lists.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(scans.collectWithSubqueries(qe.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.getName)
        }.flatten)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // the state write above reports to listeners asynchronously: deliver
    // its event before registering, so only the absorb's plans are seen
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val kept =
      try {
        val k = DedupState.dedupeAgainstState(
          spark.read.parquet(stateDir), batch, "doc_id", "text")
        // the operator is eager (localCheckpoint) — its jobs have run;
        // wait for the async listener to drain
        val deadline = System.currentTimeMillis() + 20000
        while (plans.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        Thread.sleep(500)
        k
      } finally spark.listenerManager.unregister(listener)
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(5L))
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq.flatten
    assert(all.contains("corpus_sig"), s"no state-table scan captured: $all")
    assert(!all.contains("corpus_data"), s"corpus parquet was scanned on the absorb path: $all")
  }
}
