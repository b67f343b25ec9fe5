package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sources.{Replica, SchemaSidecar, Snapshot}

/** One stored, delta-resolved table of a persisted index: its path
  * suffix (`""` for the main rows) and the column it is Hive-partitioned
  * by, if any. */
final case class IndexTable(suffix: String, partCol: Option[String] = None)

/** The frozen side table of a persisted index (`_codebook`, `_params`):
  * `train` derives it, in its stored form, once at build. Every later
  * encode reads the stored copy and every fold copies it verbatim —
  * retraining would shift every stored code. */
final case class SideTable(suffix: String, train: DataFrame => DataFrame)

/** A persisted index's frames in [[IndexFamily.tables]] order, plus its
  * side table. */
final case class IndexFrames(tables: Seq[DataFrame], side: Option[DataFrame])

/** One persisted-index family (LSH, IVF, PQ, SQ8 and BQ in [[AnnIndex]],
  * BM25 in [[TextIndex]]) — only what differs between families:
  *  - `tables`: the stored tables, each resolved against the delta;
  *  - `encode`: input rows + stored side table → one frame per table;
  *  - `serve`: the top-k answer to a request `Q` over resolved frames;
  *  - `side`: the frozen side table, if any;
  *  - `prepare`: a materialized pass over the input that every table's
  *    encoding shares (BM25 tokenizes once for postings and docs); the
  *    lifecycle frees it after use.
  * Everything else — build, append, resolve, fold, serve-follow — is
  * [[IndexLifecycle]]. */
final case class IndexFamily[Q](
    idCol: String,
    tables: Seq[IndexTable],
    encode: (DataFrame, Option[DataFrame]) => Seq[DataFrame],
    serve: (IndexFrames, Q) => DataFrame,
    side: Option[SideTable] = None,
    prepare: Option[DataFrame => DataFrame] = None)

/** The base+delta lifecycle every persisted index shares.
  *
  *  - [[build]] persists an index; [[append]] adds a batch's rows in
  *    O(batch), never reading or rewriting stored files. Both encode
  *    through the STORED side table, so build, append and fold encode
  *    bit-identically; serve-after-append equals a rebuild over the union.
  *  - A FOLLOWING index is a frozen base plus a delta snapshot table kept
  *    current by [[graft.sources.Replica.sync]] from the base's build
  *    version on. [[serveFollow]] answers from the resolved frames: base
  *    rows whose id the delta touched (tombstone shadow keys ∪ live keys)
  *    anti-join out, and the delta's live rows encode through the same
  *    derivation and union in — equal to a rebuild over the corpus's
  *    current state. The delta rows are materialized, which keeps dynamic
  *    partition pruning on the base scan only.
  *  - [[fold]] writes exactly those resolved frames as a fresh frozen base
  *    (stored base rows pass through untouched; the corpus is never read)
  *    and returns the handoff cursor: the source version the delta was
  *    synced to. The follower continues against a FRESH delta root seeded
  *    there; the old pair keeps serving until it flips.
  *
  * Tables with a partition column are hash-repartitioned by it before
  * their partitioned write, so each write task holds whole partitions
  * (one file per partition, not one per task × partition). The tables of
  * one write run as concurrent jobs. */
object IndexLifecycle {

  /** Build and persist `df`'s index at `path` (overwrite = rebuild). The
    * side table trains on `trainOn` (default `df`) and lands first; the
    * rows then encode through the stored copy. */
  def build[Q](f: IndexFamily[Q], df: DataFrame, path: String,
      trainOn: Option[DataFrame] = None): Unit = {
    val side = f.side.map { s =>
      writeTable(s.train(trainOn.getOrElse(df)), path + s.suffix, "overwrite", None)
      SchemaSidecar.readParquet(df.sparkSession, path + s.suffix)
    }
    encoded(f, df, side)(write(f, _, None, path, "overwrite"))
  }

  /** Append a NEW batch's rows to the index at `path`, encoded through
    * the stored side table. O(batch). */
  def append[Q](f: IndexFamily[Q], batch: DataFrame, path: String): Unit = {
    val side = f.side.map(s => SchemaSidecar.readParquet(batch.sparkSession, path + s.suffix))
    encoded(f, batch, side)(write(f, _, None, path, "append"))
  }

  /** The stored frames of the index at `path`. */
  private def read[Q](spark: SparkSession, f: IndexFamily[Q], path: String): IndexFrames =
    IndexFrames(f.tables.map(t => SchemaSidecar.readParquet(spark, path + t.suffix)),
      f.side.map(s => SchemaSidecar.readParquet(spark, path + s.suffix)))

  /** Serve `q` from the persisted index at `path` alone. */
  def serve[Q](spark: SparkSession, f: IndexFamily[Q], path: String, q: Q): DataFrame =
    f.serve(read(spark, f, path), q)

  /** Serve `q` from the frozen base at `basePath` plus the delta
    * `deltaRoot`/`deltaTable`. */
  def serveFollow[Q](spark: SparkSession, f: IndexFamily[Q], basePath: String,
      deltaRoot: String, deltaTable: String, q: Q): DataFrame =
    f.serve(resolve(spark, f, basePath, deltaRoot, deltaTable)._1, q)

  /** FOLD base + delta into a fresh frozen base at `newBasePath` and
    * return the handoff cursor. O(base + delta). A never-synced delta
    * throws (no cursor to hand off — a guessed one would break the
    * exactly-once chain). A sync landing mid-fold would let the new base
    * absorb changes past the returned cursor, so it fails loudly — re-run
    * the fold. Only a commit moves the cursor, so the cursor is re-read
    * only when the delta root's head version moved during the fold. */
  def fold[Q](spark: SparkSession, f: IndexFamily[Q], basePath: String,
      deltaRoot: String, deltaTable: String, newBasePath: String): Long = {
    val head = Snapshot.currentVersion(spark, deltaRoot)
    val cur = Replica.cursor(spark, deltaRoot).getOrElse(
      throw new IllegalStateException(
        s"fold: no sync cursor at $deltaRoot — the delta was never synced; " +
          "nothing to fold or hand off"))
    val (resolved, deltas) = resolve(spark, f, basePath, deltaRoot, deltaTable)
    try write(f, resolved.tables, resolved.side, newBasePath, "overwrite")
    finally deltas.foreach(NearDup.freeCheckpoint)
    val now =
      if (Snapshot.currentVersion(spark, deltaRoot) == head) Some(cur)
      else Replica.cursor(spark, deltaRoot)
    if (!now.contains(cur))
      throw new IllegalStateException(
        s"fold: a concurrent sync advanced the delta cursor " +
          s"($cur -> ${now.getOrElse("absent")}) while the fold ran; " +
          "the written base may absorb changes past the handoff version — " +
          "discard it and re-run the fold (the old base+delta pair kept serving)")
    cur
  }

  /** DELTA-OVERHEAD PROBE of a base+delta pair — the scheduling half of
    * the follow → fold lifecycle. Serving a follow costs the base scan
    * plus the touched-key anti-join plus the re-encoded live rows, so the
    * serve-time overhead over a freshly folded base grows with
    * (live + touched) / base. */
  case class FollowDeltaStats(baseRows: Long, deltaLiveRows: Long,
      deltaTouchedKeys: Long, syncCursor: Option[Long]) {
    /** Serve-time rows added/suppressed per base row; +∞ for an empty
      * base (any delta dominates — fold immediately). */
    def overhead: Double =
      if (baseRows == 0L) Double.PositiveInfinity
      else (deltaLiveRows + deltaTouchedKeys).toDouble / baseRows
    /** The poll-side fold trigger. */
    def shouldFold(budget: Double): Boolean = overhead > budget
  }

  /** Measure a follow pair's delta overhead without serving: `live` is
    * the delta's row count, `touched` the serve path's own anti-join
    * frame, `base` the base's parquet row count (footer metadata).
    * `syncCursor` is None for a never-synced delta (a fold would throw). */
  def followDeltaStats[Q](spark: SparkSession, f: IndexFamily[Q],
      basePath: String, deltaRoot: String, deltaTable: String): FollowDeltaStats = {
    val live = Snapshot.read(spark, deltaRoot, deltaTable)
    FollowDeltaStats(
      baseRows = SchemaSidecar.readParquet(spark, basePath + f.tables.head.suffix).count(),
      deltaLiveRows = live.count(),
      deltaTouchedKeys = touchedKeys(spark, f.idCol, live, deltaRoot, deltaTable).count(),
      syncCursor = Replica.cursor(spark, deltaRoot))
  }

  /** Ids the delta touched since the base: tombstone shadow keys ∪ the
    * live rows' keys, distinct. */
  private def touchedKeys(spark: SparkSession, idCol: String, live: DataFrame,
      deltaRoot: String, deltaTable: String): DataFrame = {
    val liveKeys = live.select(col(idCol))
    Snapshot.shadowedKeys(spark, deltaRoot, deltaTable) match {
      case Some(shadow) => shadow.select(col(idCol)).unionByName(liveKeys).distinct()
      case None => liveKeys.distinct()
    }
  }

  /** The resolved frames of a following index plus the delta
    * checkpoints, which the caller frees once done. Shared by serve and
    * fold, so a fold persists exactly what the follow mode serves. */
  private def resolve[Q](spark: SparkSession, f: IndexFamily[Q], basePath: String,
      deltaRoot: String, deltaTable: String): (IndexFrames, Seq[DataFrame]) = {
    val base = read(spark, f, basePath)
    val live = Snapshot.read(spark, deltaRoot, deltaTable)
    val touched = touchedKeys(spark, f.idCol, live, deltaRoot, deltaTable)
    val deltas = encoded(f, live, base.side)(_.zip(base.tables).map { case (d, b) =>
      d.select(b.columns.map(col).toSeq: _*).localCheckpoint(true)
    })
    val resolved = base.tables.zip(deltas).map { case (b, d) =>
      b.join(touched, Seq(f.idCol), "left_anti").unionByName(d)
    }
    (IndexFrames(resolved, base.side), deltas)
  }

  /** Run `use` over the family's encoding of `df`, freeing a prepared
    * input afterwards. */
  private def encoded[Q, A](f: IndexFamily[Q], df: DataFrame, side: Option[DataFrame])(
      use: Seq[DataFrame] => A): A = f.prepare match {
    case None => use(f.encode(df, side))
    case Some(prep) =>
      val in = prep(df)
      try use(f.encode(in, side)) finally NearDup.freeCheckpoint(in)
  }

  private def write[Q](f: IndexFamily[Q], frames: Seq[DataFrame],
      side: Option[DataFrame], path: String, mode: String): Unit =
    Par.inParallel[Unit](f.tables.zip(frames).map { case (t, df) => () =>
      writeTable(df, path + t.suffix, mode, t.partCol)
    } ++ f.side.zip(side).map { case (s, df) => () =>
      writeTable(df, path + s.suffix, mode, None)
    })

  /** Write one stored table and record its data files' schema in its
    * [[SchemaSidecar]], so reads of it run no schema-inference job. An
    * append whose schema differs from the recorded one drops the
    * sidecar: reads then infer, as Spark does for mixed files. */
  private def writeTable(df: DataFrame, path: String, mode: String,
      partCol: Option[String]): Unit = {
    partCol match {
      case Some(c) => df.repartition(col(c)).write.mode(mode).partitionBy(c).parquet(path)
      case None => df.write.mode(mode).parquet(path)
    }
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val schema = StructType(df.schema.filterNot(fl => partCol.contains(fl.name)))
    if (mode == "overwrite") SchemaSidecar.write(fs, dir, schema)
    else if (!SchemaSidecar.read(fs, dir).contains(schema))
      fs.delete(new Path(dir, SchemaSidecar.Name), false)
  }
}
