package graft.operators

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.SchemaSidecar

/** Generic MERGE-style upsert — the reference's signature capability
  * (4 T-SQL MERGE statements, etl_sales_analytics.py:226-283; M1–M5 in
  * SURVEY.md §2.11).
  *
  * Semantics (exactly the reference's MERGE shape):
  *  - key match      → stage row replaces target row (UPDATE all columns)
  *  - stage-only key → INSERT
  *  - target-only    → row kept unchanged (no NOT-MATCHED-BY-SOURCE branch
  *                     → never deletes)
  * Idempotent: upsert(upsert(t, s), s) == upsert(t, s).
  *
  * Implementation: one full-outer join on the keys + per-column
  * `coalesce(stage, target)` — a single shuffle (or broadcast when the
  * stage side is small), which is the set-based plan the reference's
  * staging+MERGE pattern was designed to get from SQL Server. A NULL
  * inside a matched stage row must still win over the target value, so
  * matching is decided on a key-presence marker, not value coalescing.
  */
object Upsert {

  /** Pure DataFrame→DataFrame upsert. `stage` must be unique on `keys`
    * (dedupe first — the reference stages already-deduped data). The
    * unobserved form of [[mergeFrame]]. */
  def upsert(target: DataFrame, stage: DataFrame, keys: Seq[String]): DataFrame =
    mergeFrame(Some(target), stage, keys, lit(true)).drop(InStage, InTarget)

  private val InStage = "__in_stage"
  private val InTarget = "__in_target"

  /** The one MERGE frame: the merged rows followed by two presence
    * markers, `__in_stage` (the stage holds the key; `inStage` is its
    * value) and `__in_target` (the target holds it; NULL otherwise).
    * With no target (a fresh table) every row is a stage row. */
  private def mergeFrame(target: Option[DataFrame], stage: DataFrame, keys: Seq[String],
      inStage: Column): DataFrame = target match {
    case None =>
      stage.select(stage.columns.toSeq.map(col) :+ inStage.as(InStage) :+
        lit(null).cast("boolean").as(InTarget): _*)
    case Some(t) =>
      val dataCols = t.columns.filterNot(keys.contains)
      val s = stage.select(
        (keys.map(col) :+ inStage.as(InStage)) ++
          dataCols.map(c => col(c).as(s"__s_$c")): _*)
      t.withColumn(InTarget, lit(true)).join(s, keys, "full_outer")
        .select(keys.map(col) ++ dataCols.map { c =>
          when(col(InStage), col(s"__s_$c")).otherwise(col(c)).as(c)
        } :+ col(InStage) :+ col(InTarget): _*)
  }

  /** Writes the MERGE of `stage` into `target` (None: a fresh table)
    * through `write`, as ONE Spark action that also yields the
    * [[MergeStats]]: an `Observation` collects `total`, `updated` (both
    * markers set) and `inserted` (stage only) while the rows are written.
    *
    * Stage-key uniqueness is checked inside the same plan: each stage
    * row carries `count(*) over (partition by keys)` and raises when it
    * is above 1 (the pattern of [[withCheckedOp]]). The window's hash
    * exchange on the keys is the one the full-outer join needs anyway.
    * Only on that failure is the exact [[requireUniqueKeys]] aggregate
    * run, so the caller gets its `IllegalArgumentException` and message.
    * The stage is scanned once on success, so it needs no cache. */
  private[graft] def writeMerge[A](target: Option[DataFrame], stage: DataFrame,
      keys: Seq[String])(write: DataFrame => A): (A, MergeStats) = {
    val dup = uniquenessMessage(keys)
    val perKey = count(lit(1)).over(Window.partitionBy(keys.map(col): _*))
    val checked = when(perKey > 1, raise_error(lit(s"$dup — duplicate stage key")))
      .otherwise(lit(true))
    val obs = Observation()
    val frame = mergeFrame(target, stage, keys, checked).observe(obs,
      count(lit(1)).as("total"),
      count(when(col(InStage) && col(InTarget), 1)).as("updated"),
      count(when(col(InStage) && col(InTarget).isNull, 1)).as("inserted"))
    val out =
      try write(frame.drop(InStage, InTarget))
      catch {
        case e: Exception if causes(e).exists(c => Option(c.getMessage).exists(_.contains(dup))) =>
          requireUniqueKeys(stage, keys)
          throw e
      }
    val m = obs.get.view.mapValues(_.asInstanceOf[Long])
    (out, MergeStats(m("inserted"), m("updated"), m("total")))
  }

  private[graft] def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  /** Apply a CDC change batch to a keyed table: `changes` carries the
    * table's columns plus `opCol` ∈ ("upsert" | "delete"). Matched
    * deletes drop the row, deletes of absent keys are no-ops, upserts
    * follow [[upsert]] semantics (update-on-match, insert-on-miss) —
    * i.e. the reference's MERGE extended with the
    * NOT-MATCHED-BY-SOURCE/delete branch real CDC feeds need.
    *
    * `changes` must carry at most ONE row per key (standard CDC batch
    * compaction: collapse each key's event run to its final image
    * first — [[graft.operators.Transform.dedupeKeepLastAgg]] is that
    * compaction). Idempotent: re-applying the same batch is a no-op,
    * so bucket-level replay after a partial failure is safe.
    *
    * Plan shape: one anti-join (deletes) + one full-outer join
    * (upserts), both keyed on `keys` — the same single-shuffle family
    * as [[upsert]]; pairs with [[upsertParquetBucketed]] for O(touched
    * buckets) physical application. */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(changes.columns.contains(opCol), s"applyCdc: changes must carry '$opCol'")
    val checked = withCheckedOp(changes, opCol)
    val deletes = checked.filter(col(opCol) === "delete").select(keys.map(col): _*)
    val upserts = checked.filter(col(opCol) === "upsert").drop(opCol)
    upsert(target.join(deletes, keys, "left_anti"), upserts, keys)
  }

  /** Op validation fused into the apply pass itself: an op outside
    * {upsert, delete} (or a NULL) raises *during* the single scan of the
    * change batch — no eager `distinct().collect()` pre-pass doubling the
    * batch read. `concat_ws` keeps the message non-NULL for NULL ops. */
  private def withCheckedOp(changes: DataFrame, opCol: String): DataFrame =
    changes.withColumn(opCol,
      when(col(opCol).isin("upsert", "delete"), col(opCol))
        .otherwise(raise_error(concat_ws("",
          lit(s"applyCdc: unknown op '"), col(opCol), lit("'")))))

  /** Per-batch CDC telemetry: `upserted` = upsert rows in the batch
    * (insert + update), `deleted` = delete rows that matched a live key
    * (deletes of absent keys are no-ops), `total` = post-apply rowcount. */
  case class CdcStats(upserted: Long, deleted: Long, total: Long)

  /** [[applyCdc]] against a key-hash-BUCKETED parquet table — the physical
    * CDC consumer: per micro-batch cost is O(touched buckets), exactly like
    * [[upsertParquetBucketed]], but the change batch may also DELETE.
    * Untouched bucket directories are never read, rewritten, or moved; a
    * bucket whose rows are all deleted has its directory retired through
    * the same checked backup path as a rewrite. Idempotent per batch
    * (deletes of absent keys no-op, upserts replay to the same image), so
    * bucket-level replay after a partial failure is safe. */
  def applyCdcParquetBucketed(spark: SparkSession, tablePath: String, changes: DataFrame,
      keys: Seq[String], nBuckets: Int = 64, opCol: String = "op"): CdcStats = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(changes.columns.contains(opCol), s"applyCdc: changes must carry '$opCol'")
    val live = new Path(tablePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a table whose every bucket was deleted by a previous batch exists
    // as a dir with no bucket children — parquet schema inference would
    // fail on it, so it takes the fresh-install path like a new table
    val existed = fs.exists(live) &&
      fs.listStatus(live).exists(_.getPath.getName.startsWith(BucketCol + "="))
    val changesB = withCheckedOp(changes, opCol)
      .withColumn(BucketCol, bucketOf(keys, nBuckets)).persist()
    try {
      // the first pass builds the whole cached row, so it also runs the
      // fused op validation
      val nChanges = requireUniqueKeys(changesB, keys)
      val upserted = changesB.filter(col(opCol) === "upsert").count()
      val tmp = new Path(tablePath + ".tmp")
      if (!existed) {
        // first batch: deletes of absent keys are no-ops; install the upserts
        changesB.filter(col(opCol) === "upsert").drop(opCol)
          .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        swapInto(fs, tmp, live)
        CdcStats(upserted, 0L, countBucketed(spark, fs, live))
      } else if (nChanges == 0) {
        CdcStats(0L, 0L, countBucketed(spark, fs, live))
      } else {
        val touched = changesB.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).sorted
        // partition pruning: only the touched bucket directories are read
        val target = spark.read.parquet(tablePath)
          .filter(col(BucketCol).isin(touched.map(b => b: Any): _*))
        val deleteKeys = changesB.filter(col(opCol) === "delete").select(keys.map(col): _*)
        val deleted = target.join(deleteKeys, keys, "left_semi").count()
        applyCdc(target, changesB, keys, opCol)
          .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        val bak = new Path(tablePath + ".bak")
        touched.foreach { b =>
          val part = s"$BucketCol=$b"
          val src = new Path(tmp, part)
          val dst = new Path(live, part)
          if (fs.exists(src)) swapInto(fs, src, dst, new Path(bak, part))
          else if (fs.exists(dst)) {
            // every row of this bucket was deleted: retire the directory
            // through the backup area (restorable until the batch completes)
            fs.mkdirs(bak)
            if (!fs.rename(dst, new Path(bak, part)))
              throw new IOException(s"applyCdc swap: cannot retire emptied bucket $dst")
          }
        }
        fs.delete(tmp, true)
        fs.delete(bak, true)
        CdcStats(upserted, deleted, countBucketed(spark, fs, live))
      }
    } finally changesB.unpersist()
  }

  /** Rowcount of a bucketed table that may have had every bucket deleted —
    * parquet schema inference fails on a dir with no files, so probe first. */
  private def countBucketed(spark: SparkSession, fs: FileSystem, live: Path): Long =
    if (fs.exists(live) &&
        fs.listStatus(live).exists(_.getPath.getName.startsWith(BucketCol + "=")))
      spark.read.parquet(live.toString).count()
    else 0L

  /** Per-branch MERGE telemetry, matching the reference's printouts
    * (inserted / updated per MERGE, etl_sales_analytics.py:241-283).
    * `total` is the post-merge table rowcount. */
  case class MergeStats(inserted: Long, updated: Long, total: Long)

  /** Upsert against a parquet "table" directory with write-temp-then-swap
    * — the batch-engine approximation of the reference's transactional
    * MERGE (SURVEY.md §7.5: vanilla Spark has no multi-table
    * transactions). The swap goes through Hadoop's FileSystem with every
    * rename checked and rolled back on failure, so it works on any
    * cluster filesystem (HDFS/S3A/local) and can never delete the only
    * surviving copy of the table.
    *
    * Returns [[MergeStats]], observed during the one write (see
    * [[writeMerge]]): no count runs before or after it. `stage` must be
    * unique on `keys` (the MERGE precondition — a violation would both
    * multiply rows through the full-outer join and skew the stats); the
    * check is fused into the write, and a violation re-runs the exact
    * [[requireUniqueKeys]] aggregate to throw its
    * `IllegalArgumentException`. The stage is read once, so it is never
    * cached here; a stage the caller persisted stays cached. Its pipeline
    * (for the ETL: CSV parse, dedupe, FK joins) runs once per whole load
    * only because [[graft.Pipeline]] caches its staging frames, which
    * the reject writes read too. */
  def upsertParquet(spark: SparkSession, tablePath: String, stage: DataFrame,
      keys: Seq[String]): MergeStats =
    writeMerged(spark, tablePath, stage, keys)()

  /** [[upsertParquet]] in two steps. This call writes the merged table
    * next to the live one (`<table>.tmp`), checking `stage` and observing
    * the stats in that one write; the live table is not touched, and a
    * failing write deletes the `.tmp` it started. The merged table carries
    * its [[SchemaSidecar]], and the live table is read through it, so
    * the MERGE runs no schema-inference job. It returns the second
    * step, the swap that installs the merged table and yields the stats.
    * A caller loading several tables ([[graft.Pipeline.run]]) writes them
    * all before it swaps any, and [[discardMerged]]s them if one fails. */
  private[graft] def writeMerged(spark: SparkSession, tablePath: String,
      stage: DataFrame, keys: Seq[String]): () => MergeStats = {
    val live = new Path(tablePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = if (fs.exists(live)) Some(SchemaSidecar.readParquet(spark, tablePath)) else None
    val tmp = new Path(tablePath + ".tmp")
    val (_, stats) =
      try writeMerge(target, stage, keys) { df =>
        df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        SchemaSidecar.write(fs, tmp, df.schema)
      } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    () => { swapInto(fs, tmp, live); stats }
  }

  /** Deletes the merged table [[writeMerged]] left next to `tablePath`
    * and that will not be swapped in. */
  private[graft] def discardMerged(spark: SparkSession, tablePath: String): Unit = {
    val tmp = new Path(tablePath + ".tmp")
    tmp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tmp, true)
  }

  /** Runs `body` with `stage` cached. A stage the caller already cached
    * is left as it is — its cache belongs to the caller and outlives the
    * call; an uncached one is persisted for the body and released after
    * it, on success and on failure. */
  private[graft] def cachedWhileIn[A](stage: DataFrame)(body: => A): A = {
    val owned = stage.storageLevel == StorageLevel.NONE
    if (owned) stage.persist()
    try body finally if (owned) stage.unpersist()
  }

  /** Partition column carrying the stable key-hash bucket of the bucketed
    * layout (internal; [[readBucketed]] hides it). */
  val BucketCol = "__bucket"

  /** Stable bucket id in [0, nBuckets) from the key columns. */
  def bucketOf(keys: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** Read a bucketed table without the internal layout column. */
  def readBucketed(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath).drop(BucketCol)

  /** MERGE into a key-hash-BUCKETED parquet table: the layout is
    * Hive-partitioned on `pmod(hash(keys), nBuckets)`, and a merge
    * rewrites ONLY the bucket directories containing staged keys —
    * untouched buckets' files are never read, rewritten, or moved. This
    * is the CDC/streaming shape: per micro-batch cost is O(touched
    * buckets), not O(table); at 100 TB a small batch touches a handful of
    * buckets instead of rewriting the warehouse (the round-4 verdict's
    * scale-killer).
    *
    * Atomicity is per bucket (each bucket directory goes through the same
    * checked swap as [[upsertParquet]]): a crash mid-merge can leave some
    * buckets new and some old, and re-running the batch repairs exactly
    * that — the upsert is idempotent per key, so bucket-level replay is
    * safe. Same MergeStats contract and stage-uniqueness precondition as
    * [[upsertParquet]]. */
  def upsertParquetBucketed(spark: SparkSession, tablePath: String, stage: DataFrame,
      keys: Seq[String], nBuckets: Int = 64): MergeStats = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val live = new Path(tablePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existed = fs.exists(live)
    val before = if (existed) spark.read.parquet(tablePath).count() else 0L
    val stageB = stage.withColumn(BucketCol, bucketOf(keys, nBuckets)).persist()
    try {
      val staged = requireUniqueKeys(stageB, keys)
      val tmp = new Path(tablePath + ".tmp")
      if (!existed) {
        stageB.write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        swapInto(fs, tmp, live)
      } else if (staged > 0) {
        val touched = stageB.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).sorted
        // partition pruning: only the touched bucket directories are read
        val target = spark.read.parquet(tablePath)
          .filter(col(BucketCol).isin(touched.map(b => b: Any): _*))
        upsert(target, stageB, keys)
          .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(tmp.toString)
        // install only the touched bucket directories; backups live
        // OUTSIDE the table directory so partition discovery never sees
        // a half-swapped ".old" as a partition value
        val bak = new Path(tablePath + ".bak")
        touched.foreach { b =>
          val part = s"$BucketCol=$b"
          swapInto(fs, new Path(tmp, part), new Path(live, part), new Path(bak, part))
        }
        fs.delete(tmp, true)
        fs.delete(bak, true)
      }
      val total = spark.read.parquet(tablePath).count()
      val inserted = total - before
      MergeStats(inserted, staged - inserted, total)
    } finally stageB.unpersist()
  }

  /** The MERGE stats derivation assumes every stage row matches at most
    * one target row; duplicate stage keys would multiply rows through the
    * full-outer join and misreport inserted/updated as plausible-looking
    * wrong numbers. Fail loudly instead. One aggregate gives both the
    * row count (returned) and the distinct-key count; NULL keys group
    * together, as in `dropDuplicates` (and as in [[writeMerge]]'s fused
    * window check, which runs this only once that check has failed). The
    * bucketed writers run it on their persisted stage, so it costs one
    * pass over cached data. */
  private[graft] def requireUniqueKeys(stage: DataFrame, keys: Seq[String]): Long = {
    val r = stage.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count")), lit(0L)), count(lit(1))).head()
    val (staged, distinct) = (r.getLong(0), r.getLong(1))
    if (distinct != staged)
      throw new IllegalArgumentException(
        s"${uniquenessMessage(keys)} — $staged rows but $distinct distinct keys")
    staged
  }

  private def uniquenessMessage(keys: Seq[String]): String =
    s"upsert: stage must be unique on (${keys.mkString(", ")})"

  /** Checked two-phase swap: live → live.old, tmp → live. Any failed
    * rename aborts with the previous table restored; the .old backup is
    * dropped only after the new data is installed. (On object stores the
    * rename is a copy, not atomic — a table format is the real fix; this
    * is the strongest guarantee a plain-directory warehouse offers.) */
  private[graft] def swapInto(fs: FileSystem, tmp: Path, live: Path): Unit =
    swapInto(fs, tmp, live, new Path(live.toString + ".old"))

  /** Same checked swap with an explicit backup location — the bucketed
    * merge parks per-bucket backups OUTSIDE the table directory so Spark's
    * partition discovery never mistakes a mid-swap backup for data. */
  private[graft] def swapInto(fs: FileSystem, tmp: Path, live: Path, old: Path): Unit = {
    if (!fs.exists(tmp))
      throw new IOException(s"upsert swap: staged data missing at $tmp; table untouched")
    if (old.getParent != null) fs.mkdirs(old.getParent)
    if (fs.exists(old) && !fs.delete(old, true))
      throw new IOException(s"upsert swap: cannot clear stale backup $old; table untouched")
    val existed = fs.exists(live)
    if (existed && !fs.rename(live, old))
      throw new IOException(s"upsert swap: cannot move $live aside; table untouched")
    if (!fs.rename(tmp, live)) {
      if (existed && !fs.rename(old, live))
        throw new IOException(
          s"upsert swap: install failed AND rollback failed — previous table preserved at $old")
      throw new IOException(s"upsert swap: cannot install $tmp at $live; previous table restored")
    }
    if (existed && !fs.delete(old, true))
      System.err.println(s"[WARN] upsert swap: new table installed but backup $old not removed")
  }
}
