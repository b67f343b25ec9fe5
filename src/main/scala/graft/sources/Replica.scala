package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max, row_number, when}

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
    if (!Snapshot.tables(spark, dstRoot).keySet.contains(MarkerTable)) None
    else Snapshot.read(spark, dstRoot, MarkerTable)
      .filter(col("app_id") === appId)
      .agg(max(col("src_version"))).head() match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getLong(0))
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
    val dstTables = Snapshot.tables(spark, dstRoot).keySet
    val dstBase = Snapshot.currentVersion(spark, dstRoot)
    val cur = cursor(spark, dstRoot, appId).getOrElse(initialCursor)
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
    val last = feed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .localCheckpoint(true)
    try {
      val ups = last.filter(col(Snapshot.ChangeTypeCol) === "insert")
        .drop(Snapshot.ChangeTypeCol, Snapshot.CommitVersionCol)
      val dels = last.filter(col(Snapshot.ChangeTypeCol) === "delete")
        .select(keyCols.map(col): _*)
      // MERGE the marker, never wholesale-replace: other appIds'
      // cursors survive an interleaved writer
      val markerNew = {
        import spark.implicits._
        Seq((appId, srcHead)).toDF("app_id", "src_version")
      }
      val marker =
        if (dstTables.contains(MarkerTable))
          Snapshot.read(spark, dstRoot, MarkerTable).unionByName(markerNew)
            .groupBy(col("app_id")).agg(max(col("src_version")).as("src_version"))
        else markerNew
      // ONE pass over the checkpointed netted feed answers both
      // "any upserts?" and "any deletes?" (was two limit(1).count()
      // jobs — each action pays planning + job latency)
      val flags = last.agg(
        max(when(col(Snapshot.ChangeTypeCol) === "insert", 1L).otherwise(0L)),
        max(when(col(Snapshot.ChangeTypeCol) === "delete", 1L).otherwise(0L)))
        .head()
      val nUps = if (flags.isNullAt(0)) 0L else flags.getLong(0)
      val nDels = if (flags.isNullAt(1)) 0L else flags.getLong(1)
      Snapshot.applyChanges(spark, dstRoot, dstTable, keyCols,
        upserts = if (nUps > 0) Some(ups) else None,
        deleteKeys = if (nDels > 0) Some(dels) else None,
        replaces = Map(MarkerTable -> marker),
        expectBase = Some(dstBase.getOrElse(0L)))
      Some(srcHead)
    } finally graft.operators.NearDup.freeCheckpoint(last)
  }
}
