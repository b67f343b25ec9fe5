package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Drives the streaming operators through MemoryStream micro-batches —
  * the same bodies the batch driver gates against DuckDB. */
class StreamingSpec extends SparkSpec {
  import sqlImplicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyStats over a MemoryStream aggregates across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.hourlyStats(StreamOps.withEventWatermark(ms.toDF(), "2 hours"))
      .writeStream.format("memory").queryName("hourly_t").outputMode("complete").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.50),
        Event(2, ts("2024-01-01 00:45:00"), 2, "click", 2.25),
        Event(3, ts("2024-01-01 01:10:00"), 1, "view", 4.00))
      q.processAllAvailable()
      ms.addData(Event(4, ts("2024-01-01 00:30:00"), 3, "click", 0.25)) // late, in-watermark
      q.processAllAvailable()
      val got = spark.table("hourly_t")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == Set(
        ("2024-01-01 00:00:00.0", "click", 3L, 4.0),
        ("2024-01-01 01:00:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("slidingStats assigns each event to window/slide sliding windows") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.slidingStats(StreamOps.withEventWatermark(ms.toDF(), "2 hours"))
      .writeStream.format("memory").queryName("sliding_t").outputMode("complete").start()
    try {
      ms.addData(Event(1, ts("2024-01-01 00:35:00"), 1, "click", 2.00))
      q.processAllAvailable()
      val got = spark.table("sliding_t")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // one event → exactly 4 windows, starts every 15 min back from 00:30
      assert(got == Set(
        ("2023-12-31 23:45:00.0", "click", 1L, 2.0),
        ("2024-01-01 00:00:00.0", "click", 1L, 2.0),
        ("2024-01-01 00:15:00.0", "click", 1L, 2.0),
        ("2024-01-01 00:30:00.0", "click", 1L, 2.0)))
    } finally q.stop()
  }

  test("sessionize in streaming append mode emits sessions closed by the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.sessionize(StreamOps.withEventWatermark(ms.toDF(), "30 minutes"))
      .writeStream.format("memory").queryName("sessions_t").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 10:20:00"), 7, "view", 2.0),  // same session
        Event(3, ts("2024-01-01 12:00:00"), 7, "click", 3.0)) // new session
      q.processAllAvailable()
      // advance the watermark past both sessions so append finalizes them
      ms.addData(Event(4, ts("2024-01-01 14:00:00"), 8, "click", 0.5))
      q.processAllAvailable()
      ms.addData(Event(5, ts("2024-01-01 16:00:00"), 8, "click", 0.5))
      q.processAllAvailable()
      val got = spark.table("sessions_t")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      assert(got.contains((7L, "2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0", 2L)))
      assert(got.contains((7L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L)))
    } finally q.stop()
  }

  test("runningUserTotals carries keyed state across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.runningUserTotals(ms.toDS())
      .writeStream.format("memory").queryName("running_t").outputMode("update").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.10),
        Event(2, ts("2024-01-01 00:00:02"), 1, "view", 2.20),
        Event(3, ts("2024-01-01 00:00:03"), 2, "click", 5.00))
      q.processAllAvailable()
      ms.addData(Event(4, ts("2024-01-01 00:00:04"), 1, "click", 3.30))
      q.processAllAvailable()
      // last emitted update per user reflects the accumulated state
      val last = spark.table("running_t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 6.60)))
      assert(last(2L) == ((2L, 1L, 5.00)))
    } finally q.stop()
  }

  test("file-source stream over the events parquet matches the batch rollup") {
    // a parquet directory as a real streaming source; same ns→µs
    // conversion the batch loader applies
    val dir = java.nio.file.Paths.get(tempDir("stream-src"))
    java.nio.file.Files.copy(
      java.nio.file.Path.of("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir.toString).schema
    val src = graft.model.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = StreamOps.hourlyStats(StreamOps.withEventWatermark(src, "2 hours"))
      .writeStream.format("memory").queryName("file_hourly_t").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_hourly_t").count()
      val batch = StreamOps.hourlyStats(
        graft.model.Tables.events(spark, "/root/testdata/sf0.001")).count()
      assert(streamed == batch && streamed > 0)
    } finally q.stop()
  }

  test("dedupeStream drops in-watermark duplicate event ids") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.dedupeStream(ms.toDF(), Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_t").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", 2.0))
      q.processAllAvailable()
      // retried producer: same event_id again in a later batch
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 00:00:03"), 3, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_t").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streamingUpsert merges micro-batches into the parquet warehouse") {
    implicit val ctx = spark.sqlContext
    val table = tempDir("supsert") + "/t"
    val ms = MemoryStream[Event]
    val q = StreamOps.streamingUpsert(ms.toDF(), table,
        keys = Seq("event_id"), ord = Seq(org.apache.spark.sql.functions.col("ts")))
      .outputMode("update").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(table).count() == 2)
      // batch 2: update event 2 (later ts wins), insert event 3
      ms.addData(
        Event(2, ts("2024-01-01 00:10:00"), 2, "view", 9.99),
        Event(3, ts("2024-01-01 00:00:03"), 3, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(table)
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
      assert(rows == Map(1L -> 1.0, 2L -> 9.99, 3L -> 3.0))
    } finally q.stop()
  }

  test("streamingIvm keeps the persisted rollup current across micro-batches and replays") {
    implicit val ctx = spark.sqlContext
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("sivm")
    val ms = MemoryStream[Event]
    val q = StreamOps.streamingIvm(ms.toDF(), root, "events",
        keys = Seq("event_id"), ord = Seq(col("ts")),
        groupKeys = Seq("event_type"), measures = Seq("value"))
      .outputMode("update").start()
    def view() = Snapshot.read(spark, root, "events_view")
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("value_cents"))).toSet
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", 2.0))
      q.processAllAvailable()
      assert(view() == Set(("click", 1L, 100L), ("view", 1L, 200L)))
      // batch 2: update event 2's value (retraction + insert through the
      // feed), insert event 3 — the view must move, not double-count
      ms.addData(
        Event(2, ts("2024-01-01 00:10:00"), 2, "view", 9.0),
        Event(3, ts("2024-01-01 00:00:03"), 3, "click", 3.0))
      q.processAllAvailable()
      assert(view() == Set(("click", 2L, 400L), ("view", 1L, 900L)))
    } finally q.stop()
    // replaying the last batch by hand must change nothing (marker skip +
    // cursor no-op), and the view must equal a from-scratch recompute
    val replayed = StreamOps.ivmBatchExactlyOnce(
      Seq(Event(2, ts("2024-01-01 00:10:00"), 2, "view", 9.0),
        Event(3, ts("2024-01-01 00:00:03"), 3, "click", 3.0)).toDF(),
      batchId = 1L, root, "events", Seq("event_id"), Seq(col("ts")),
      Seq("event_type"), Seq("value"))
    assert(!replayed, "replayed batch must not publish")
    assert(view() == Set(("click", 2L, 400L), ("view", 1L, 900L)))
    val recomputed = graft.operators.IncrementalAgg.state(
        Snapshot.read(spark, root, "events"), Seq("event_type"), Seq("value"))
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("value_cents"))).toSet
    assert(view() == recomputed)
  }

  test("streamingCurate: exactly-once ingest + incremental curation per micro-batch") {
    implicit val ctx = spark.sqlContext
    import graft.sources.Snapshot
    val root = tempDir("scurate")
    val base = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val other = "under the old tree by the river gate the dog and the cat " +
      "rest near the park and the dog walks to the river with the cat"
    val fresh = "the dog and the cat walk by the gate and the river to the " +
      "old tree near the park and rest under the tree by the gate"
    val gibberish = "thering overing quickle foxed jumper thering overing " +
      "quickle foxed jumper thering overing quickle foxed jumper"
    // seed the corpus and train the frozen models BEFORE attaching the
    // stream (the scaladoc'd production shape)
    Snapshot.commit(spark, root, Map("documents" ->
      Seq((2L, "en", base), (4L, "en", other)).toDF("doc_id", "lang", "text")))
    graft.Pipeline.curateFollow(spark, root, maxAvgNllMicro = 3500000L)
    def curated(): Set[Long] = Snapshot.read(spark, root, "documents_curated")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(curated() == Set(2L, 4L))
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamOps.streamingCurate(ms.toDF().toDF("doc_id", "lang", "text"),
        root, maxAvgNllMicro = 3500000L)
      .outputMode("update").start()
    try {
      // dup of corpus, fresh doc, LM-gated noise — only fresh curates
      ms.addData((11L, "en", base), (15L, "en", fresh), (19L, "en", gibberish))
      q.processAllAvailable()
      assert(curated() == Set(2L, 4L, 15L))
      // the raw table has everything; curation filtered
      assert(Snapshot.read(spark, root, "documents")
        .collect().map(_.getAs[Long]("doc_id")).toSet ==
        Set(2L, 4L, 11L, 15L, 19L))
      // next batch: a dup of a STREAMED doc — state absorbed 15
      ms.addData((21L, "en", fresh))
      q.processAllAvailable()
      assert(curated() == Set(2L, 4L, 15L))
    } finally q.stop()
    // a fully-replayed micro-batch is a no-op on both commits
    val replay = StreamOps.curateBatchExactlyOnce(
      Seq((11L, "en", base)).toDF("doc_id", "lang", "text"), 0L, root,
      maxAvgNllMicro = 3500000L)
    assert(replay == ((false, None)))
    assert(curated() == Set(2L, 4L, 15L))
  }

  test("streamingCorpusIngest appends only novel documents per micro-batch") {
    implicit val ctx = spark.sqlContext
    val corpus = tempDir("singest") + "/c"
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.streamingCorpusIngest(
        ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text")
      .outputMode("append").start()
    try {
      // batch 1: two docs + an in-batch exact dup of doc 1 (case-normalized)
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (4L, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank today"),
        (2L, "completely different content about distributed query engines and shuffles"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(corpus).collect().map(_.getAs[Long]("doc_id")).toSet
      assert(after1 == Set(1L, 2L), s"in-batch dup must collapse to min id: $after1")
      // batch 2: exact dup of 1, near-dup of 1, fresh doc → only fresh lands
      ms.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (11L, "the quick brown fox jumps over the lazy cat near the river bank today"),
        (12L, "a genuinely novel document about streaming watermarks and state stores"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(corpus).collect().map(_.getAs[Long]("doc_id")).toSet
      assert(after2 == Set(1L, 2L, 12L), s"only the novel doc should append: $after2")
    } finally q.stop()
  }

  test("streamingCorpusIngestExactlyOnce publishes batches atomically through the snapshot log") {
    import graft.sources.Snapshot
    implicit val ctx = spark.sqlContext
    val root = tempDir("eosingest") + "/snap"
    val ms = MemoryStream[(Long, String)]
    val q = StreamOps.streamingCorpusIngestExactlyOnce(
        ms.toDF().toDF("doc_id", "text"), root, "corpus", "doc_id", "text")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2L, "completely different content about distributed query engines and shuffles"))
      q.processAllAvailable()
      assert(Snapshot.read(spark, root, "corpus")
        .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
      // the marker committed WITH the data (same version)
      assert(Snapshot.read(spark, root, "_ingest").head().getAs[Long]("batch_id") == 0L)
      ms.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (12L, "a genuinely novel document about streaming watermarks and state stores"))
      q.processAllAvailable()
      assert(Snapshot.read(spark, root, "corpus")
        .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 12L))
      assert(Snapshot.read(spark, root, "_ingest").head().getAs[Long]("batch_id") == 1L)
      // replaying batch 1's content as a DIRECT call with its batchId
      // no-ops — delivery was at-least-once, publication exactly-once
      val v = Snapshot.currentVersion(spark, root)
      assert(!StreamOps.ingestBatchExactlyOnce(
        Seq((12L, "a genuinely novel document about streaming watermarks and state stores"))
          .toDF("doc_id", "text"), 1L, root, "corpus", "doc_id", "text"))
      assert(Snapshot.currentVersion(spark, root) == v)
    } finally q.stop()
  }

  test("batch and streaming hourlyStats agree on the same data") {
    val batch = Seq(
      Event(1, ts("2024-01-01 00:05:00"), 1, "click", 1.50),
      Event(2, ts("2024-01-01 00:45:00"), 2, "click", 2.25),
      Event(3, ts("2024-01-01 01:10:00"), 1, "view", 4.00)).toDF()
    val got = StreamOps.hourlyStats(batch)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.75),
      ("2024-01-01 01:00:00.0", "view", 1L, 4.0)))
  }

  test("attributePurchases: stream-stream join within the trailing horizon") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.attributePurchases(clicks.toDF(), purchases.toDF(),
        delay = "10 minutes", horizon = "30 minutes")
      .writeStream.format("memory").queryName("attr_t").outputMode("append").start()
    try {
      clicks.addData(
        Event(10, ts("2024-01-01 00:00:00"), 1, "click", 0.0),
        Event(11, ts("2024-01-01 00:20:00"), 1, "click", 0.0),
        Event(12, ts("2024-01-01 00:00:00"), 2, "click", 0.0))
      purchases.addData(
        Event(20, ts("2024-01-01 00:25:00"), 1, "purchase", 9.99), // joins 10 & 11
        Event(21, ts("2024-01-01 00:50:00"), 1, "purchase", 5.00), // joins 11 only (10 outside horizon)
        Event(22, ts("2024-01-01 00:45:00"), 3, "purchase", 1.00)) // no click → dropped
      // advance both watermarks far enough to emit all results
      clicks.addData(Event(13, ts("2024-01-01 03:00:00"), 9, "click", 0.0))
      purchases.addData(Event(23, ts("2024-01-01 03:00:00"), 9, "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_t")
        .collect().map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
      assert(got.filterNot(_._1 == 23L) == Set((20L, 10L), (20L, 11L), (21L, 11L)))
    } finally q.stop()
  }

  test("attributePurchases left_outer emits unmatched purchases with null click") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.attributePurchases(clicks.toDF(), purchases.toDF(),
        delay = "10 minutes", horizon = "30 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("attr_lo_t").outputMode("append").start()
    try {
      clicks.addData(Event(10, ts("2024-01-01 00:00:00"), 1, "click", 0.0))
      purchases.addData(
        Event(20, ts("2024-01-01 00:05:00"), 1, "purchase", 9.99), // matched
        Event(21, ts("2024-01-01 00:10:00"), 2, "purchase", 5.00)) // no click
      q.processAllAvailable()
      // the unmatched purchase can only emit once the click watermark
      // has passed its window; push both watermarks far ahead
      clicks.addData(Event(11, ts("2024-01-01 05:00:00"), 9, "click", 0.0))
      purchases.addData(Event(22, ts("2024-01-01 05:00:00"), 9, "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_lo_t")
        .collect()
        .map(r => (r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong)))
        .toSet
      assert(got.contains((20L, Some(10L))), s"matched purchase missing: $got")
      assert(got.contains((21L, None)), s"unmatched purchase not emitted with null click: $got")
    } finally q.stop()
  }

  test("tierCrossings emits one row per crossed step, carrying state") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.tierCrossings(ms.toDS(), stepCents = 1000) // $10 tiers
      .writeStream.format("memory").queryName("tiers_t").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:00"), 1, "purchase", 4.00),  // cum 4 → none
        Event(2, ts("2024-01-01 00:10:00"), 1, "purchase", 25.00)) // cum 29 → tiers 1,2
      q.processAllAvailable()
      ms.addData(Event(3, ts("2024-01-01 00:20:00"), 1, "purchase", 2.00)) // cum 31 → tier 3
      q.processAllAvailable()
      val got = spark.table("tiers_t")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tier"),
          r.getAs[Timestamp]("ts").toString)).toSet
      assert(got == Set(
        (1L, 1L, "2024-01-01 00:10:00.0"),
        (1L, 2L, "2024-01-01 00:10:00.0"),
        (1L, 3L, "2024-01-01 00:20:00.0")))
    } finally q.stop()
  }

  test("tierCrossings in batch mode equals a cold-state pass") {
    import sqlImplicits._
    val events = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "purchase", 15.00),
      Event(2, ts("2024-01-01 00:05:00"), 2, "purchase", 3.00),
      Event(3, ts("2024-01-01 00:10:00"), 1, "purchase", 10.00)).toDS()
    val got = StreamOps.tierCrossings(events, 1000)
      .collect().map(c => (c.user_id, c.tier)).toSet
    assert(got == Set((1L, 1L), (1L, 2L)))
    intercept[IllegalArgumentException](StreamOps.tierCrossings(events, 0))
  }

  test("streamingAudited: pass rows land, violations quarantine, audit accumulates, replays skip") {
    implicit val ctx = spark.sqlContext
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("saudit")
    val checks = Seq(
      "value_non_negative" -> (col("value") < 0),
      "type_known" -> !col("event_type").isin("click", "view", "purchase"))
    val ms = MemoryStream[Event]
    val q = StreamOps.streamingAudited(ms.toDF(), root, "events",
        keys = Seq("event_id"), ord = Seq(col("ts")), checks = checks)
      .outputMode("update").start()
    try {
      ms.addData(
        Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", -5.0), // violates
        Event(3, ts("2024-01-01 00:00:03"), 3, "weird", 2.0)) // violates
      q.processAllAvailable()
      ms.addData(
        Event(4, ts("2024-01-01 00:01:00"), 1, "purchase", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    // main table: only the passing rows
    assert(Snapshot.read(spark, root, "events").collect()
      .map(_.getAs[Long]("event_id")).toSet == Set(1L, 4L))
    // quarantine: the violators, tagged with their batch
    val quar = Snapshot.read(spark, root, "events_quarantine").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("batch_id")).toMap
    assert(quar == Map(2L -> 0L, 3L -> 0L))
    // audit: one row per check per batch, honest counts
    val audit = Snapshot.read(spark, root, "events_audit").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("check_name")) ->
        (r.getAs[Long]("violations"), r.getAs[Long]("total"), r.getAs[Long]("pass")))
      .toMap
    assert(audit((0L, "value_non_negative")) == ((1L, 3L, 0L)))
    assert(audit((0L, "type_known")) == ((1L, 3L, 0L)))
    assert(audit((1L, "value_non_negative")) == ((0L, 1L, 1L)))
    assert(audit.size == 4)
    // replaying batch 0 by hand is a marker-gated no-op everywhere
    val replayed = StreamOps.auditedBatchExactlyOnce(
      Seq(Event(1, ts("2024-01-01 00:00:01"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 00:00:02"), 2, "view", -5.0)).toDF(),
      batchId = 0L, root, "events", Seq("event_id"), Seq(col("ts")), checks)
    assert(!replayed, "replayed batch must not publish")
    assert(Snapshot.read(spark, root, "events_audit").count() == 4L)
    assert(Snapshot.read(spark, root, "events_quarantine").count() == 2L)
  }

  test("streamingAnnFollow keeps the serving index current over a live stream") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("sann")
    val base = tempDir("sann-base") + "/idx"
    val delta = tempDir("sann-delta")
    val planes = Ann.hashPlanes(3, 4)
    def vec(id: Long, xs: Float*) = (id, xs.toArray)
    val corpus0 = Seq(
      vec(0L, 1.0f, 0.0f, 0.0f, 0.0f), vec(1L, 0.9f, 0.1f, 0.0f, 0.0f),
      vec(2L, 0.0f, 1.0f, 0.0f, 0.0f), vec(3L, 0.0f, 0.95f, 0.05f, 0.0f),
      vec(4L, 0.0f, 0.0f, 1.0f, 0.0f)).toDF("vec_id", "embedding")
    val buildV = Snapshot.commit(spark, root, Map("emb" -> corpus0))
    val lsh = AnnIndex.lsh("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, Snapshot.read(spark, root, "emb"), base)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.streamingAnnFollow(
        ms.toDF().toDF("vec_id", "embedding"), root, "emb",
        keys = Seq("vec_id"), ord = Seq(col("vec_id")),
        deltaRoot = delta, deltaTable = "emb_delta", initialCursor = buildV)
      .outputMode("update").start()
    def serve() = IndexLifecycle.serveFollow(spark, lsh, base, delta, "emb_delta",
        Probe(col("vec_id") < 2, k = 3))
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    def rebuild() = Ann.knnLsh(Snapshot.read(spark, root, "emb"),
        "vec_id", "embedding", planes, col("vec_id") < 2, k = 3)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    try {
      // batch 0: re-upsert vec 1 MOVED into axis-2 territory + a new vec 5
      ms.addData(vec(1L, 0.0f, 0.98f, 0.02f, 0.0f), vec(5L, -1.0f, 0.0f, 0.0f, 0.0f))
      q.processAllAvailable()
      assert(serve() == rebuild(), "served follow != rebuild after batch 0")
      // batch 1: another wave — vec 5 moves, vec 6 arrives
      ms.addData(vec(5L, 0.95f, 0.0f, 0.05f, 0.0f), vec(6L, 0.0f, 0.0f, 0.9f, 0.1f))
      q.processAllAvailable()
      val after = serve()
      assert(after == rebuild(), "served follow != rebuild after batch 1")
      // replaying batch 1 by hand is a marker-gated no-op; the trailing
      // sync finds nothing past its cursor
      val replayed = StreamOps.annFollowBatchExactlyOnce(
        Seq(vec(5L, 0.95f, 0.0f, 0.05f, 0.0f), vec(6L, 0.0f, 0.0f, 0.9f, 0.1f))
          .toDF("vec_id", "embedding"),
        batchId = 1L, root, "emb", Seq("vec_id"), Seq(col("vec_id")),
        delta, "emb_delta", buildV)
      assert(!replayed, "replayed batch must not publish")
      assert(serve() == after, "replay must not move the served index")
    } finally q.stop()
  }

  test("budget-folded follow: the fold fires off-path, hands off the cursor, keeps serving") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("fann")
    val work = tempDir("fann-work")
    val planes = Ann.hashPlanes(3, 4)
    def vec(id: Long, xs: Float*) = (id, xs.toArray)
    // base corpus: 5 vectors → with a 0.5 overhead budget, ~3 delta rows
    // trip the fold
    val corpus0 = Seq(
      vec(0L, 1.0f, 0.0f, 0.0f, 0.0f), vec(1L, 0.9f, 0.1f, 0.0f, 0.0f),
      vec(2L, 0.0f, 1.0f, 0.0f, 0.0f), vec(3L, 0.0f, 0.95f, 0.05f, 0.0f),
      vec(4L, 0.0f, 0.0f, 1.0f, 0.0f)).toDF("vec_id", "embedding")
    val buildV = Snapshot.commit(spark, root, Map("emb" -> corpus0))
    val base0 = s"$work/base-0"
    val lsh = AnnIndex.lshMultiProbe("vec_id", "embedding", planes)
    IndexLifecycle.build(lsh, Snapshot.read(spark, root, "emb"), base0)
    val follower = new StreamOps.AnnFollowFolding(root, "emb",
      keys = Seq("vec_id"), ord = Seq(col("vec_id")), deltaTable = "emb_delta",
      family = lsh,
      workDir = work, foldBudget = 0.5,
      initial = StreamOps.AnnFollowPair(base0, s"$work/delta-0", buildV, 0))
    def served() = follower.serve(spark, Probe(col("vec_id") < 2, k = 3))
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    // the lifecycle serves at the RECALL-TUNED multi-probe configuration,
    // so the ground truth is a multi-probe serve over an index rebuilt
    // from the corpus's current state
    def rebuild() = AnnIndex.knnLshServeMultiProbe(
        AnnIndex.lshIndexRows(Snapshot.read(spark, root, "emb"),
          "vec_id", "embedding", planes),
        "vec_id", planes.length, col("vec_id") < 2, k = 3)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val ms = MemoryStream[(Long, Array[Float])]
    val q = follower.writer(ms.toDF().toDF("vec_id", "embedding"))
      .outputMode("update").start()
    try {
      // batch 0: 1 new vector — overhead 1/5 = 0.2, under budget: NO fold
      ms.addData(vec(5L, -1.0f, 0.0f, 0.0f, 0.0f))
      q.processAllAvailable()
      assert(follower.current.generation == 0, "under-budget delta must not fold")
      assert(served() == rebuild(), "served != rebuild before any fold")
      // batch 1: two more changes — live=3, touched=3, base=5 → 1.2 > 0.5:
      // the fold fires off-path and the pair re-anchors
      ms.addData(vec(6L, 0.0f, 0.0f, 0.9f, 0.1f),
        vec(1L, 0.0f, 0.98f, 0.02f, 0.0f))
      q.processAllAvailable()
      assert(follower.current.generation == 1, "over-budget delta must fold")
      assert(follower.current.basePath == s"$work/base-1")
      // the folded base holds the corpus at the handoff cursor: serving
      // from (newBase, freshDelta) equals a from-scratch rebuild
      assert(served() == rebuild(), "served != rebuild after the fold")
      // the handoff cursor seeded the fresh delta where the fold stopped:
      // the corpus keeps mutating and the NEXT sync replays exactly the
      // post-fold changes — nothing dropped, nothing double-applied
      ms.addData(vec(5L, 0.95f, 0.0f, 0.05f, 0.0f),
        vec(7L, 0.0f, 0.9f, 0.1f, 0.0f))
      q.processAllAvailable()
      assert(served() == rebuild(), "served != rebuild after post-fold changes")
      // the new base alone (no delta resolution) already holds the
      // handoff-version corpus — the fold wrote the resolved rows
      val baseOnly = AnnIndex.knnLshServe(
          spark.read.parquet(follower.current.basePath), "vec_id",
          col("vec_id") < 2, k = 3)
        .orderBy("probe_id", "rank").collect()
      assert(baseOnly.nonEmpty)

      // RESTART: a new instance constructed at `initial` (generation 0,
      // what a streaming-query restart from its checkpoint does) must
      // rehydrate to the persisted post-fold pair on first touch — the
      // post-fold batches above were synced ONLY into generation 1's
      // delta root and the engine will never replay them, so serving
      // from the generation-0 pair would silently miss them.
      val restarted = new StreamOps.AnnFollowFolding(root, "emb",
        keys = Seq("vec_id"), ord = Seq(col("vec_id")), deltaTable = "emb_delta",
        family = lsh,
        workDir = work, foldBudget = 0.5,
        initial = StreamOps.AnnFollowPair(base0, s"$work/delta-0", buildV, 0))
      val restartServed = restarted.serve(spark, Probe(col("vec_id") < 2, k = 3))
        .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
      assert(restarted.current.generation == follower.current.generation,
        "restart must rehydrate the persisted post-fold pair")
      assert(restarted.current == follower.current,
        "restart must resume at exactly the live follower's active pair")
      assert(restartServed == rebuild(),
        "restarted serve must include post-fold acknowledged batches")
    } finally q.stop()

    // a TORN marker fails loudly instead of serving a possibly-stale pair
    // (written through the Hadoop FS — a nio write would leave a stale
    // .crc sidecar and fail as a ChecksumException before the parser)
    val markerP = new org.apache.hadoop.fs.Path(work, "_active_pair")
    val hfs = markerP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(markerP, true)
    try out.write("garbage\n".getBytes("UTF-8")) finally out.close()
    val torn = new StreamOps.AnnFollowFolding(root, "emb",
      keys = Seq("vec_id"), ord = Seq(col("vec_id")), deltaTable = "emb_delta",
      family = lsh,
      workDir = work, foldBudget = 0.5,
      initial = StreamOps.AnnFollowPair(s"$work/base-0", s"$work/delta-0", buildV, 0))
    intercept[IllegalStateException] {
      torn.serve(spark, Probe(col("vec_id") < 2, k = 3))
    }
  }

  test("budget-folded follow generalizes to the IVF family with its frozen codebook") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{Ann, AnnIndex, IndexLifecycle}
    import graft.operators.AnnIndex.Probe
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("fivf")
    val work = tempDir("fivf-work")
    def vec(i: Long) = Array.tabulate(8)(j => ((i * 7 + j * 13) % 23).toFloat / 23f)
    def rows(ids: Long*) = ids.map(i => (i, i % 3, vec(i)))
    // base corpus: 6 vectors → with a 0.5 budget, ~3 delta rows trip the fold
    val buildV = Snapshot.commit(spark, root,
      Map("emb" -> rows(0L, 1L, 2L, 3L, 4L, 5L).toDF("vec_id", "label", "embedding")))
    val atBuild = Snapshot.read(spark, root, "emb")
    val base0 = s"$work/base-0"
    // codebook trained on the BUILD-TIME state, frozen for the lifetime
    val ivf = AnnIndex.ivf("vec_id", "embedding", "label", nProbe = 2)
    IndexLifecycle.build(ivf, atBuild, base0)
    val frozenCodebook = spark.read.parquet(base0 + "_codebook")
      .orderBy("cb_label").collect().map(_.toSeq).toSeq
    val follower = new StreamOps.AnnFollowFolding(root, "emb",
      keys = Seq("vec_id"), ord = Seq(col("vec_id")), deltaTable = "emb_delta",
      family = ivf,
      workDir = work, foldBudget = 0.5,
      initial = StreamOps.AnnFollowPair(base0, s"$work/delta-0", buildV, 0))
    def served() = follower.serve(spark, Probe(col("vec_id") < 2, k = 3))
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    // ground truth: rebuild over the corpus's CURRENT state with the SAME
    // frozen codebook (deterministically re-derived from the build-time
    // state — ivfCodebook is exact integer arithmetic)
    def rebuild() = {
      val idx = tempDir("fivf-rb")
      IndexLifecycle.build(ivf, Snapshot.read(spark, root, "emb"), idx,
        trainOn = Some(Snapshot.readAt(spark, root, "emb", buildV)))
      AnnIndex.knnIvfServe(spark.read.parquet(idx),
          spark.read.parquet(idx + "_codebook"), "vec_id",
          col("vec_id") < 2, k = 3, nProbe = 2)
        .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    }
    val ms = MemoryStream[(Long, Long, Array[Float])]
    val q = follower.writer(ms.toDF().toDF("vec_id", "label", "embedding"))
      .outputMode("update").start()
    try {
      // batch 0: 1 new vector — 1/6 overhead, under budget: no fold
      ms.addData(rows(6L): _*)
      q.processAllAvailable()
      assert(follower.current.generation == 0, "under-budget delta must not fold")
      assert(served() == rebuild(), "served != rebuild before any fold")
      // batch 1: two more changes (one new, one moved) — over budget: fold
      ms.addData((7L, 7L % 3, vec(7L)), (1L, 1L % 3, vec(17L)))
      q.processAllAvailable()
      assert(follower.current.generation == 1, "over-budget delta must fold")
      // the fold copied the TRAINED codebook verbatim — the IVF frozen-
      // parameter obligation, re-asserted through the streaming path
      val foldedCodebook = spark.read
        .parquet(follower.current.basePath + "_codebook")
        .orderBy("cb_label").collect().map(_.toSeq).toSeq
      assert(foldedCodebook == frozenCodebook,
        "fold must copy the frozen codebook verbatim, never retrain")
      assert(served() == rebuild(), "served != rebuild after the fold")
      // post-fold stream keeps flowing into the fresh delta root
      ms.addData(rows(8L): _*)
      q.processAllAvailable()
      assert(served() == rebuild(), "served != rebuild after post-fold changes")
    } finally q.stop()
  }
}
