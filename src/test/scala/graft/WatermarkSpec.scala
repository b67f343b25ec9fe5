package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.{Replica, Snapshot}
import graft.streaming.StreamOps

/** Every exactly-once consumer keeps its per-app watermark the same way:
  * a replayed or already-current call decides on the driver, with no
  * SQL action, and the marker table holds one row per app id with that
  * app's highest value. */
class WatermarkSpec extends SparkSpec {
  import sqlImplicits._

  /** One exactly-once consumer over fresh roots. `advance(app)` makes
    * one publishing call for `app` and returns the value its watermark
    * must hold after it; `repeat(app)` repeats `app`'s last call and
    * returns whether it published. */
  private abstract class Consumer(val name: String, val table: String,
      val valueCol: String) {
    /** The root whose head and marker table the consumer writes. */
    def root: String
    def advance(app: String): Long
    def repeat(app: String): Boolean
  }

  /** A stream sink: each app's batch ids count up from 0. */
  private abstract class Sink(name: String) extends Consumer(name, "_ingest", "batch_id") {
    val root: String = tempDir("wm-sink")
    private val last = scala.collection.mutable.Map.empty[String, Long]
    def publish(app: String, batchId: Long): Boolean
    def advance(app: String): Long = {
      val b = last.get(app).fold(0L)(_ + 1L)
      assert(publish(app, b), s"$name: batch $b of $app did not publish")
      last(app) = b
      b
    }
    def repeat(app: String): Boolean = publish(app, last(app))
  }

  private def rows(app: String, batchId: Long): DataFrame =
    Seq((batchId * 10L, batchId, s"$app-$batchId")).toDF("id", "seq", "v")

  private val text = Map(
    "a" -> "alpha stream document with plenty of its own distinct words number",
    "b" -> "beta stream text carrying a wholly different vocabulary set number")

  private def consumers(): Seq[Consumer] = Seq(
    new Consumer("Replica.sync", "_sync", "src_version") {
      val root: String = tempDir("wm-dst")
      private val src = Map("a" -> tempDir("wm-src"), "b" -> tempDir("wm-src"))
      def advance(app: String): Long = {
        val n = Snapshot.currentVersion(spark, src(app)).getOrElse(0L)
        Snapshot.commitAppend(spark, src(app), Map("t" -> Seq((n, s"v$n")).toDF("id", "v")))
        Replica.sync(spark, src(app), "t", root, s"t_$app", Seq("id"), appId = app).get
      }
      def repeat(app: String): Boolean =
        Replica.sync(spark, src(app), "t", root, s"t_$app", Seq("id"), appId = app).isDefined
    },
    new Consumer("Pipeline.curateFollow", "_curate", "src_version") {
      val root: String = tempDir("wm-cur")
      private var n = 0L
      private def follow(app: String) = Pipeline.curateFollow(spark, root,
        dstTable = s"cur_$app", maxAvgNllMicro = 3500000L, appId = app)
      def advance(app: String): Long = {
        n += 1L
        Snapshot.commitAppend(spark, root, Map("documents" ->
          Seq((n, "en", s"${text(app)} $n")).toDF("doc_id", "lang", "text")))
        follow(app).get
      }
      def repeat(app: String): Boolean = follow(app).isDefined
    },
    new Sink("StreamOps.upsertBatchMorExactlyOnce") {
      def publish(app: String, b: Long): Boolean = StreamOps.upsertBatchMorExactlyOnce(
        rows(app, b), b, root, s"t_$app", Seq("id"), Seq(col("seq")), app)
    },
    new Sink("StreamOps.auditedBatchExactlyOnce") {
      def publish(app: String, b: Long): Boolean = StreamOps.auditedBatchExactlyOnce(
        rows(app, b), b, root, s"t_$app", Seq("id"), Seq(col("seq")),
        Seq("odd_seq" -> (col("seq") % 2L === 1L)), app)
    },
    new Sink("StreamOps.ingestBatchExactlyOnce") {
      def publish(app: String, b: Long): Boolean = StreamOps.ingestBatchExactlyOnce(
        Seq((b, s"${text(app)} $b")).toDF("doc_id", "text"), b, root, s"c_$app",
        "doc_id", "text", appId = app)
    })

  test("a replayed or already-current call returns its no-op value and runs no SQL action") {
    val wrong = consumers().flatMap { c =>
      c.advance("a")
      val head = Snapshot.currentVersion(spark, c.root)
      var published = true
      val acts = Actions.sqlActions(spark) { published = c.repeat("a") }
      val moved = Snapshot.currentVersion(spark, c.root) != head
      if (published || moved || acts.nonEmpty)
        Some(s"${c.name}: published $published, head moved $moved, actions $acts")
      else None
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("after two app ids interleave, the marker holds one row per app id with its max value") {
    consumers().foreach { c =>
      val a1 = c.advance("a")
      val b1 = c.advance("b")
      val a2 = c.advance("a")
      assert(a2 > a1, c.name)
      assert(!c.repeat("a"), c.name)
      val marker = Snapshot.read(spark, c.root, c.table)
      assert(marker.columns.toSeq == Seq("app_id", c.valueCol), c.name)
      val got = marker.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(got.sorted == Seq("a" -> a2, "b" -> b1), c.name)
    }
  }
}
