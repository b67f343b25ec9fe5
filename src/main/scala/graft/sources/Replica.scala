package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
  *   1. reads the destination's durable cursor (the one-row-per-app
  *      `_sync` marker, a [[Watermark]] like every exactly-once
  *      consumer's) — absent marker means version 0, i.e. the first
  *      sync bootstraps the full table THROUGH the same feed path (a
  *      creation commit's segments are just the first appends);
  *   2. pulls the source feed over (cursor, srcHead] — O(changes):
  *      only appended segments and tombstone shadows are read;
  *   3. NETS the feed per key ([[net]]) — a key touched ten times
  *      lands once;
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
  * loudly, never silently skips. */
object Replica {

  /** A per-app EXACTLY-ONCE watermark: the marker table `table`, one
    * (`app_id`, `valueCol`) row per app, that a consumer publishes in
    * the same manifest as its data (Delta Lake's `txn(appId, version)`
    * action). Every follower and sink reads and advances its marker
    * through one of these:
    *   - [[SyncMark]] in a replica's destination root: the source
    *     version [[sync]] is current to;
    *   - [[CurateMark]]: the root version [[graft.Pipeline.curateFollow]]
    *     is current to ([[Snapshot.vacuum]] keeps every version past the
    *     lagging-most one);
    *   - [[IngestMark]]: the last micro-batch each exactly-once sink of
    *     [[graft.streaming.StreamOps]] published.
    *
    * Read after the base: a commit reads the values it advances at or
    * after the version it pins with `expectBase` ([[pinned]]). A writer
    * that lands in between moves the head past that base, so the commit
    * fails its compare-and-swap instead of dropping the writer's row. */
  private[graft] final case class Watermark(table: String, valueCol: String) {

    /** Every app's value at `root`'s head, read on the driver: the
      * table holds one row per app id, so reading its parquet files
      * directly costs a few file reads and no Spark job. */
    def values(spark: SparkSession, root: String): Map[String, Long] =
      Snapshot.tables(spark, root).get(table).fold(Map.empty[String, Long]) { dirs =>
        val conf = spark.sparkContext.hadoopConfiguration
        val rows = dirs.split(',').toSeq.flatMap { d =>
          val dir = new Path(d)
          dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
            .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
            .flatMap { file =>
              val r = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
              try Iterator.continually(r.read()).takeWhile(_ != null)
                .map(g => g.getString("app_id", 0) -> g.getLong(valueCol, 0)).toList
              finally r.close()
            }
        }
        rows.groupMapReduce(_._1)(_._2)(math.max)
      }

    /** `root`'s head version (0 before the first commit), the base a
      * commit pins with `expectBase`, then every app's value read after
      * it. */
    def pinned(spark: SparkSession, root: String): (Long, Map[String, Long]) = {
      val base = Snapshot.currentVersion(spark, root).getOrElse(0L)
      (base, values(spark, root))
    }

    /** The marker entry of a commit that advances `appId` to `value`: a
      * small local frame, one row per app in app-id order, where each app
      * keeps the max of its old and new value. Merged, never replaced
      * wholesale, so writers under other app ids keep their rows. */
    def advanced(spark: SparkSession, known: Map[String, Long], appId: String,
        value: Long): (String, DataFrame) = {
      import spark.implicits._
      val next = known.updated(appId, known.get(appId).fold(value)(math.max(_, value)))
      table -> next.toSeq.sortBy(_._1).toDF("app_id", valueCol)
    }
  }

  private[graft] val SyncMark = Watermark("_sync", "src_version")
  private[graft] val CurateMark = Watermark("_curate", "src_version")
  private[graft] val IngestMark = Watermark("_ingest", "batch_id")

  /** The SOURCE version `dstRoot`'s `appId` replication stream is
    * current to — None before the first published sync. This is the
    * HANDOFF value for consumers that freeze a derived artifact at the
    * replica's state: [[graft.operators.IndexLifecycle.fold]]
    * folds a following index's base+delta at this version and a FRESH
    * delta root then follows from it (`sync(initialCursor = cursor)`),
    * replaying exactly the changes the fold has not absorbed. */
  def cursor(spark: SparkSession, dstRoot: String,
      appId: String = "default"): Option[Long] =
    SyncMark.values(spark, dstRoot).get(appId)

  /** A change feed ([[Snapshot.changesBetween]]) NETTED per key: the
    * LAST event decides the key's fate. An upsert's delete and insert
    * share a version, and the insert ranks higher, matching apply order.
    * O(changes) window, never O(table). */
  private[graft] def net(feed: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(Snapshot.CommitVersionCol).desc,
        when(col(Snapshot.ChangeTypeCol) === "insert", 1).otherwise(0).desc)
    feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
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
    val (dstBase, known) = SyncMark.pinned(spark, dstRoot)
    val cur = known.getOrElse(appId, initialCursor)
    if (cur >= srcHead) return None // already current: replay no-ops
    val feed = Snapshot.changesBetween(spark, srcRoot, srcTable, cur, srcHead)
    keyCols.foreach { k =>
      require(feed.columns.contains(k),
        s"replica sync: source table '$srcTable' lacks key column '$k'")
    }
    // the checkpoint's own job also answers "any upserts?" and "any
    // deletes?": an Observation over the netted rows (NULL for an empty
    // feed), read once the eager checkpoint returned
    val flags = Observation()
    val last = net(feed, keyCols)
      .observe(flags,
        max(when(col(Snapshot.ChangeTypeCol) === "insert", 1L).otherwise(0L)).as("ups"),
        max(when(col(Snapshot.ChangeTypeCol) === "delete", 1L).otherwise(0L)).as("dels"))
      .localCheckpoint(true)
    try {
      val ups = last.filter(col(Snapshot.ChangeTypeCol) === "insert")
        .drop(Snapshot.ChangeTypeCol, Snapshot.CommitVersionCol)
      val dels = last.filter(col(Snapshot.ChangeTypeCol) === "delete")
        .select(keyCols.map(col): _*)
      def has(flag: String): Boolean = flags.get.get(flag).contains(1L)
      Snapshot.applyChanges(spark, dstRoot, dstTable, keyCols,
        upserts = if (has("ups")) Some(ups) else None,
        deleteKeys = if (has("dels")) Some(dels) else None,
        replaces = Map(SyncMark.advanced(spark, known, appId, srcHead)),
        expectBase = Some(dstBase))
      Some(srcHead)
    } finally graft.operators.NearDup.freeCheckpoint(last)
  }
}
