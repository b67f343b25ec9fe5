package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, row_number, when}

/** EXACTLY-ONCE incremental replication of a snapshot table into a
  * downstream snapshot store — the consumer side of
  * [[Snapshot.changesBetween]], and the O(changes) answer to "keep a
  * derived copy (serving replica, regional mirror, downstream input
  * table) current against a 100 TB source" that a periodic full diff
  * ([[graft.queries.EtlQueries]] etl_table_diff) answers at O(table).
  *
  * Each [[sync]] call:
  *   1. reads the destination's durable cursor (a one-row-per-app
  *      `_sync` marker table, the Delta txnAppId pattern shared with
  *      [[graft.streaming.StreamOps]] ingestBatchExactlyOnce) — absent
  *      marker means version 0, i.e. the first sync bootstraps the full
  *      table THROUGH the same feed path (a creation commit's segments
  *      are just the first appends);
  *   2. pulls the source feed over (cursor, srcHead] — O(changes):
  *      only appended segments and tombstone shadows are read;
  *   3. NETS the feed per key (last event wins; within a version a
  *      delete precedes the paired upsert-insert, so the insert wins) —
  *      a key touched ten times lands once;
  *   4. publishes upserts + deletes + the advanced marker as ONE atomic
  *      [[Snapshot.applyChanges]] commit on the destination.
  *
  * Exactly-once under at-least-once driving: a replayed sync (crash
  * after the commit, before the caller's own checkpoint advanced) sees
  * cursor >= srcHead and no-ops; a crash BEFORE the commit leaves the
  * destination untouched (only unreferenced data dirs) and the retry
  * redoes the work; the marker and the data ride one manifest, so
  * neither can publish without the other. Concurrent destination
  * writers fail the CAS loudly — re-call to retry.
  *
  * The destination stays a first-class snapshot table: time travel over
  * SYNC points, its own change feed, compaction and vacuum all apply.
  * Source compaction/replace inside the unsynced range throws
  * ([[Snapshot.changesBetween]]'s contract) — schedule source folds
  * after replicas have caught up. Likewise VACUUM the source only past
  * every replica's cursor: the feed reads the manifests and segments of
  * the versions in (cursor, head], and a swept version fails the sync
  * loudly (relsAt refuses), never silently skips. */
object Replica {

  private val MarkerTable = "_sync"

  /** The SOURCE version `dstRoot`'s `appId` replication stream is
    * current to — None before the first published sync. This is the
    * HANDOFF value for consumers that freeze a derived artifact at the
    * replica's state: [[graft.operators.IndexLifecycle.fold]]
    * folds a following index's base+delta at this version and a FRESH
    * delta root then follows from it (`sync(initialCursor = cursor)`),
    * replaying exactly the changes the fold has not absorbed. */
  def cursor(spark: SparkSession, dstRoot: String,
      appId: String = "default"): Option[Long] =
    cursors(spark, dstRoot).get(appId)

  /** Every stream's cursor in `dstRoot`'s marker table, read on the
    * driver: the table holds one row per app id, so reading its parquet
    * files directly costs a few file reads and no Spark job. */
  private def cursors(spark: SparkSession, dstRoot: String): Map[String, Long] =
    Snapshot.tables(spark, dstRoot).get(MarkerTable).fold(Map.empty[String, Long]) { dirs =>
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = dirs.split(',').toSeq.flatMap { d =>
        val dir = new Path(d)
        dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
          .flatMap { file =>
            val r = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
            try Iterator.continually(r.read()).takeWhile(_ != null)
              .map(g => g.getString("app_id", 0) -> g.getLong("src_version", 0)).toList
            finally r.close()
          }
      }
      rows.groupMapReduce(_._1)(_._2)(math.max)
    }

  /** Incrementally apply `srcTable`'s changes since the last sync to
    * `dstTable`. Returns Some(sourceVersion synced to) when a commit
    * published, None for an already-current no-op. `keyCols` must be
    * the table's row identity (the same keys its upserts/deletes use).
    * `appId` names this replication stream's cursor — distinct
    * replicas of the same destination keep independent watermarks.
    * `initialCursor` seeds an ABSENT cursor (default 0 = bootstrap the
    * whole table): a consumer that froze its own base at a known source
    * version — a serving index built from `readAt(v)` — passes v to
    * follow only the changes SINCE its base. */
  def sync(spark: SparkSession, srcRoot: String, srcTable: String,
      dstRoot: String, dstTable: String, keyCols: Seq[String],
      appId: String = "default", initialCursor: Long = 0L): Option[Long] = {
    require(keyCols.nonEmpty, "replica sync: no key columns given")
    val srcHead = Snapshot.currentVersion(spark, srcRoot).getOrElse(0L)
    // the base first: a commit landing after it fails this sync's CAS
    val dstBase = Snapshot.currentVersion(spark, dstRoot)
    val known = cursors(spark, dstRoot)
    val cur = known.getOrElse(appId, initialCursor)
    if (cur >= srcHead) return None // already current: replay no-ops
    val feed = Snapshot.changesBetween(spark, srcRoot, srcTable, cur, srcHead)
    keyCols.foreach { k =>
      require(feed.columns.contains(k),
        s"replica sync: source table '$srcTable' lacks key column '$k'")
    }
    // NET the feed per key: the LAST event decides the key's fate (an
    // upsert's delete and insert share a version — the insert ranks
    // higher, matching apply order). O(changes) window, never O(table).
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(Snapshot.CommitVersionCol).desc,
        when(col(Snapshot.ChangeTypeCol) === "insert", 1).otherwise(0).desc)
    // the checkpoint's own job also answers "any upserts?" and "any
    // deletes?": an Observation over the netted rows (NULL for an empty
    // feed), read once the eager checkpoint returned
    val flags = Observation()
    val last = feed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .observe(flags,
        max(when(col(Snapshot.ChangeTypeCol) === "insert", 1L).otherwise(0L)).as("ups"),
        max(when(col(Snapshot.ChangeTypeCol) === "delete", 1L).otherwise(0L)).as("dels"))
      .localCheckpoint(true)
    try {
      val ups = last.filter(col(Snapshot.ChangeTypeCol) === "insert")
        .drop(Snapshot.ChangeTypeCol, Snapshot.CommitVersionCol)
      val dels = last.filter(col(Snapshot.ChangeTypeCol) === "delete")
        .select(keyCols.map(col): _*)
      // MERGE the marker, never wholesale-replace: other appIds'
      // cursors survive an interleaved writer (cur < srcHead here)
      val marker = {
        import spark.implicits._
        (known + (appId -> srcHead)).toSeq.toDF("app_id", "src_version")
      }
      def has(flag: String): Boolean = flags.get.get(flag).contains(1L)
      Snapshot.applyChanges(spark, dstRoot, dstTable, keyCols,
        upserts = if (has("ups")) Some(ups) else None,
        deleteKeys = if (has("dels")) Some(dels) else None,
        replaces = Map(MarkerTable -> marker),
        expectBase = Some(dstBase.getOrElse(0L)))
      Some(srcHead)
    } finally graft.operators.NearDup.freeCheckpoint(last)
  }
}
