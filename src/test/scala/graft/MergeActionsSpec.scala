package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Upsert
import graft.operators.Upsert.MergeStats
import graft.sources.Snapshot

/** Every ETL output is one SQL action that also yields the numbers the
  * load reports: the MERGE stats and the reject counts are observed in
  * the writes, so no count, head or collect runs around them. The
  * observed stats must equal counts taken by hand. */
class MergeActionsSpec extends SparkSpec {
  import sqlImplicits._

  /** The names of the SQL actions `body` runs (QueryExecutionListener's
    * `funcName`, successful and failed alike). */
  private def sqlActions(body: => Any): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.synchronized(seen += funcName)
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      body
      ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  private val Reads = Set("count", "head", "collect", "collectAsList", "take", "first")

  test("upsertParquet into an existing table runs one SQL action, the write") {
    val table = Files.createTempDirectory("graft-actions").toString + "/t"
    Upsert.upsertParquet(spark, table, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    var stats: MergeStats = null
    val actions = sqlActions {
      stats = Upsert.upsertParquet(spark, table, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    }
    assert(stats == MergeStats(1, 1, 3))
    assert(actions.size == 1, s"actions: $actions")
    assert(!actions.exists(Reads), s"actions: $actions")
  }

  test("Pipeline.run and runTransactional each run six SQL actions: two reject writes, four MERGEs") {
    Seq[String => Pipeline.Result](
      out => Pipeline.run(spark, RefCsvFixture.dir, out),
      out => Pipeline.runTransactional(spark, RefCsvFixture.dir, out)).foreach { load =>
      val out = Files.createTempDirectory("graft-actions-load").toString
      load(out)
      // the second load MERGEs into the four existing tables
      val actions = sqlActions(load(out))
      assert(actions.size == 6, s"actions: $actions")
      assert(!actions.exists(Reads), s"actions: $actions")
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("observed MergeStats equal hand-taken before/after counts") {
    val dir = Files.createTempDirectory("graft-parity").toString
    val table = s"$dir/t"
    // stats must be: inserted = after - before, updated = |stage| - inserted
    def check(stage: DataFrame, expect: MergeStats): Unit = {
      val before = if (Files.exists(Paths.get(table))) spark.read.parquet(table).count() else 0L
      val staged = stage.count()
      val got = Upsert.upsertParquet(spark, table, stage, Seq("k"))
      val after = spark.read.parquet(table).count()
      assert(got == MergeStats(after - before, staged - (after - before), after))
      assert(got == expect)
    }
    // a fresh table
    check(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), MergeStats(3, 0, 3))
    // an update-plus-insert batch, NULL values included
    check(Seq((2, "B"), (4, null), (5, "e")).toDF("k", "v"), MergeStats(2, 1, 5))
    // an empty stage
    check(Seq.empty[(Int, String)].toDF("k", "v"), MergeStats(0, 0, 5))
    assert(rows(spark.read.parquet(table)) == Seq("1|a", "2|B", "3|c", "4|null", "5|e"))
  }

  test("mergeCommit's observed stats resolve tombstones, as hand-taken counts do") {
    val root = Files.createTempDirectory("graft-parity-snap").toString
    Snapshot.commit(spark, root, Map("t" -> (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")))
    Snapshot.deleteWhere(spark, root, "t", col("id").isin(2L, 5L), Seq("id"))
    val before = Snapshot.read(spark, root, "t").count()
    val stage = Seq((2L, "new2"), (3L, "up3"), (7L, "new7")).toDF("id", "v")
    val (_, stats) = Snapshot.mergeCommit(spark, root, Map("t" -> (stage, Seq("id"))))
    val after = Snapshot.read(spark, root, "t").count()
    assert(before == 4L && after == 6L)
    assert(stats("t") == MergeStats(after - before, 3L - (after - before), after))
    assert(stats("t") == MergeStats(2, 1, 6))
    // an empty stage over the resolved table
    val (_, empty) = Snapshot.mergeCommit(spark, root,
      Map("t" -> (Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))))
    assert(empty("t") == MergeStats(0, 0, 6))
  }

  /** Observations the session still waits to complete (Spark keeps the
    * registry private; a completed or failed action removes its entry). */
  private def pendingObservations(): Int = {
    ListenerDrain.drain(spark.sparkContext)
    val om = spark.getClass.getMethod("observationManager").invoke(spark)
    val f = om.getClass.getDeclaredField("observations")
    f.setAccessible(true)
    f.get(om).asInstanceOf[java.util.Map[_, _]].size
  }

  test("an observed write leaves no Observation registered, on success and on failure") {
    val dir = Files.createTempDirectory("graft-obs").toString
    val pending = pendingObservations()
    Upsert.upsertParquet(spark, s"$dir/t", Seq((1, "a")).toDF("k", "v"), Seq("k"))
    Upsert.upsertParquet(spark, s"$dir/t", Seq((1, "b"), (2, "c")).toDF("k", "v"), Seq("k"))
    graft.sources.CsvExtract.writeRejects(Seq((1, "a")).toDF("k", "v"), s"$dir/rej")
    assert(pendingObservations() == pending)
    val ex = intercept[IllegalArgumentException](Upsert.upsertParquet(spark, s"$dir/t",
      Seq((3, "d"), (3, "e")).toDF("k", "v"), Seq("k")))
    assert(ex.getMessage == "upsert: stage must be unique on (k) — 2 rows but 1 distinct keys")
    assert(pendingObservations() == pending)
    assert(!Files.exists(Paths.get(s"$dir/t.tmp")), "the failed write left its .tmp")
    assert(rows(spark.read.parquet(s"$dir/t")) == Seq("1|b", "2|c"))
  }
}
