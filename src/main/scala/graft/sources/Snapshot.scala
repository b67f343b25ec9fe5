package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Upsert
import graft.operators.Upsert.MergeStats

/** Versioned multi-table snapshot store over plain parquet — the atomic
  * CROSS-TABLE commit the reference gets from loading all four tables in
  * one SQL Server transaction (`/root/reference/etl_sales_analytics.py`
  * main: one connection, commit at the end). A plain-directory warehouse
  * (Upsert.upsertParquet) can only swap tables one at a time, so a crash
  * mid-load leaves the warehouse mutually inconsistent; this layer makes
  * the whole load all-or-nothing.
  *
  * Layout under `root`:
  * {{{
  *   _commits/v0000000001.manifest   // commit log: one file per version
  *   data/<table>/<uuid>/...parquet  // immutable data directories
  * }}}
  * A manifest maps table → relative data dir and is the ONLY commit
  * point: data dirs are invisible until a manifest references them.
  * Publication is `FileSystem.create(path, overwrite = false)` of the
  * next version's manifest — an atomic claim on HDFS and local FS, so
  * two racing committers can't both win a version. Readers walk versions
  * newest-first and take the first COMPLETE manifest (header + footer
  * checksum line), so a torn write from a crashed committer is skipped,
  * not half-read.
  *
  * Scale notes: the manifest is O(tables), never O(data) — commit cost
  * is independent of table size; readers resolve one small file then
  * scan parquet as usual (column pruning and filter pushdown are
  * untouched because the data files are plain parquet). Old versions
  * stay readable (snapshot isolation / time travel) until [[vacuum]].
  *
  * SCHEMA EVOLUTION: every segment records its written schema in a
  * `_graft_schema` sidecar; a table's read schema is the union of its
  * segments' schemas in commit order ([[mergedSchema]]). An appended
  * batch may ADD columns — readers NULL-backfill them for older
  * segments (and NULL-backfill the batch's rows for columns it omits)
  * with zero data rewritten; a shared column changing TYPE is rejected
  * loudly at commit time ([[commitAppend]]) and again at read time for
  * legacy dirs. Time travel pins each version to its own segment list,
  * hence to exactly the schema that version committed with.
  *
  * MERGE-ON-READ DELETE / UPSERT: [[deleteWhere]] commits the matching
  * rows' key tuples as a tombstone segment under a `table~del` shadow
  * entry — O(deleted keys) write cost, zero data rewritten; every read
  * path joins the keys back out, and [[compactTable]] folds the deletes
  * into a physical rewrite (the deletion-vector discipline of the
  * Delta/Iceberg merge-on-read position papers, keyed rather than
  * file-positional because plain parquet has no stable row ids).
  * [[upsertMergeOnRead]] extends the same shadow with COVERAGE-scoped
  * tombstones ([[CovCol]]) to give row-level MERGE at O(batch) write
  * cost, and [[changesBetween]] reads the appended segments + shadow
  * diffs back out as an O(changes) CDC change feed.
  */
object Snapshot {

  private val CommitsDir = "_commits"
  private val DataDir = "data"
  private val Header = "GRAFT-SNAPSHOT v1"
  private val CheckpointName = "_checkpoint"
  private val CkptHeader = "GRAFT-CHECKPOINT v1"

  /** Manifest-file reads since process start (checkpoint included) —
    * instrumentation for the O(1)-head-resolution contract: a spec can
    * diff it around a read and assert the checkpoint short-circuits the
    * O(commits) listing walk. */
  private[graft] val manifestFileReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Manifest BYTES written since process start — instrumentation for
    * the bounded-commit-cost contract: with delta manifests a
    * metadata-only commit writes O(changed tables) text, not the full
    * O(tables × segments) map, and a spec diffs this counter across a
    * commit run to assert it. */
  private[graft] val manifestBytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long): Path =
    new Path(new Path(root, CommitsDir), f"v$v%010d.manifest")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".manifest"))
      Try(n.stripPrefix("v").stripSuffix(".manifest").toLong).toOption
    else None
  }

  /** (version, path) of every commit-log file, newest first — including
    * torn ones (a torn file still occupies its version slot). */
  private def versions(fs: FileSystem, root: String): Seq[(Long, Path)] = {
    val dir = new Path(root, CommitsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath).map(_ -> s.getPath))
      .sortBy(-_._1)
  }

  /** Parse a manifest file; None if torn (missing header or footer, or
    * footer count disagreeing with the entries). */
  private def parseManifest(fs: FileSystem, p: Path): Option[Map[String, String]] = {
    manifestFileReads.incrementAndGet()
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
        finally in.close()
      } catch { case _: IOException => return None }
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Header) return None
    val footer = lines.last
    if (!footer.startsWith("END ")) return None
    val entries = lines.tail.init.map(_.split("\t", -1)).collect {
      case Array(t, rel) => t -> rel
    }
    if (Try(footer.stripPrefix("END ").toLong).toOption.contains(entries.size.toLong))
      Some(entries.toMap)
    else None
  }

  /** Meta-entry marking a DELTA manifest; its value is the version of
    * the chain's last FULL manifest, which the delta's entries layer
    * over. Written by [[commitManifestOn]] whenever the cumulative diff
    * since that full manifest fits [[FullDeltaMax]] entries — so a
    * metadata-only commit (a streaming sink's per-micro-batch manifest,
    * a rollback, an append) writes O(changed tables) text instead of
    * re-encoding the full O(tables × segments) table map every time
    * (the write-side twin of the read checkpoint; Delta Lake's
    * JSON-commits + periodic parquet checkpoint and Iceberg's manifest
    * lists bound the same growth). Resolution ([[resolveManifest]]) is
    * at most ONE further manifest read — a delta's base is always FULL,
    * never another delta. */
  private val DeltaBaseKey = "~delta_base"

  /** Delta-entry key prefix for an APPEND to a table's segment list:
    * `~app:<table> → seg1,seg2` appends those segments to the base's
    * rel — so a log-structured table with 1,000 accumulated segments
    * costs each append commit only the NEW segment names since the last
    * full manifest, not the whole list re-encoded. */
  private val DeltaAppPrefix = "~app:"

  /** Delta-entry VALUE marking a table removed relative to the full
    * base ('~' can't start a real rel — rels are `data/...` paths). */
  private val RemovedVal = "~removed"

  /** Cumulative-delta entry budget: past this the commit writes a FULL
    * manifest (re-anchoring future deltas), so resolution work and
    * per-commit text both stay bounded while full-map rewrites amortize
    * to 1-in-~FullDeltaMax commits on a hot chain. */
  private val FullDeltaMax = 32

  /** Resolve a raw manifest to its FULL table map: full manifests
    * return as-is; a delta layers its entries over the full base named
    * by [[DeltaBaseKey]] (one further read, never a chain walk). Throws
    * if the base is missing/torn — [[vacuum]] always retains the full
    * base of every retained delta, so this only fires on external
    * tampering. */
  private def resolveManifest(fs: FileSystem, root: String,
      m: Map[String, String]): Map[String, String] =
    m.get(DeltaBaseKey) match {
      case None => m
      case Some(bv) =>
        val base = parseManifest(fs, manifestPath(root, bv.toLong))
          .getOrElse(throw new IllegalStateException(
            s"snapshot: delta manifest's full base v$bv is missing or torn at $root"))
        resolveDelta(base, m)
    }

  /** Layer a delta manifest's update/append/removal entries over its
    * FULL base map. Entry semantics are key-disjoint by construction
    * (a delta never holds both `t` and `~app:t`), so application order
    * doesn't matter. */
  private def resolveDelta(base: Map[String, String],
      delta: Map[String, String]): Map[String, String] = {
    var out = base
    delta.foreach {
      case (DeltaBaseKey, _) => ()
      case (k, RemovedVal) => out -= k
      case (k, v) if k.startsWith(DeltaAppPrefix) =>
        val t = k.stripPrefix(DeltaAppPrefix)
        out += t -> out.get(t).map(r => s"$r,$v").getOrElse(v)
      case (k, v) => out += k -> v
    }
    out
  }

  /** Parsed `_commits/_checkpoint`: the newest complete version on any
    * chain at write time, the main head AS OF that version (inline
    * table map, so resolving main needs no further manifest read), and —
    * when the root has carried a checkpoint since birth — every branch's
    * head version (`branches = Some(...)`, complete as of `max`), so
    * branch head resolution is also O(1) instead of an O(commits)
    * listing walk. `branches = None` marks a legacy root whose branch
    * inventory below `max` is unknown — branch resolution there falls
    * back to the listing walk, never to a wrong answer. */
  private case class Ckpt(max: Long, main: Option[(Long, Map[String, String])],
      branches: Option[Map[String, Long]])

  private def checkpointPath(root: String): Path =
    new Path(new Path(root, CommitsDir), CheckpointName)

  /** Read the checkpoint; None if absent or torn (same header+footer
    * tear discipline as manifests). ADVISORY ONLY — a missing or stale
    * checkpoint degrades to the listing walk, never to a wrong answer:
    * manifests are write-once under the claim protocol, so a checkpoint
    * true at its write instant stays true for every version <= max, and
    * [[scanState]] re-resolves anything committed after it. */
  private def readCheckpoint(fs: FileSystem, root: String): Option[Ckpt] = {
    val p = checkpointPath(root)
    val text =
      try {
        val in = fs.open(p)
        manifestFileReads.incrementAndGet()
        try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
        finally in.close()
      } catch { case _: IOException => return None }
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != CkptHeader) return None
    val footer = lines.last
    if (!footer.startsWith("END ")) return None
    val body = lines.tail.init
    if (!Try(footer.stripPrefix("END ").toLong).toOption.contains(body.size.toLong))
      return None
    val fields = body.map(_.split("\t", -1))
    val max = fields.collectFirst { case Array("max", v) => Try(v.toLong).toOption }
      .flatten.getOrElse(return None)
    val mainV = fields.collectFirst { case Array("main", v) => Try(v.toLong).toOption }
      .flatten
    val entries = fields.collect { case Array("T", t, rel) => t -> rel }.toMap
    if (mainV.exists(_ > max)) return None
    // branch heads: `bn` declares the count (its PRESENCE marks the
    // inventory as complete — a checkpoint written before branch
    // tracking existed has no bn line and stays branches = None); each
    // `B name version` names one live chain head
    val bn = fields.collectFirst { case Array("bn", n) => Try(n.toLong).toOption }.flatten
    val bEntries = fields.collect { case Array("B", b, v) =>
      Try(v.toLong).toOption.map(b -> _)
    }.flatten.toMap
    val branches = bn match {
      case None => None
      case Some(n) =>
        if (bEntries.size.toLong != n || bEntries.values.exists(_ > max)) return None
        Some(bEntries)
    }
    Some(Ckpt(max, mainV.map(_ -> entries), branches))
  }

  /** Best-effort checkpoint publish (temp file + rename; every failure
    * swallowed — the manifest is the only commit point, the checkpoint
    * only accelerates reads). Racing writers may interleave so the
    * survivor can be the OLDER of two checkpoints; that only loses
    * recency, which the forward probe in [[scanState]] recovers. */
  private def writeCheckpoint(fs: FileSystem, root: String, ck: Ckpt): Unit =
    try {
      val dest = checkpointPath(root)
      val tmp = new Path(dest.getParent, s"$CheckpointName.${UUID.randomUUID()}.tmp")
      val body = Seq(s"max\t${ck.max}") ++
        ck.main.toSeq.flatMap { case (v, m) =>
          s"main\t$v" +: m.toSeq.sorted.map { case (t, rel) => s"T\t$t\t$rel" }
        } ++
        ck.branches.toSeq.flatMap { bs =>
          s"bn\t${bs.size}" +: bs.toSeq.sorted.map { case (b, v) => s"B\t$b\t$v" }
        }
      val out = fs.create(tmp, true)
      try out.write((CkptHeader +: body :+ s"END ${body.size}").mkString("\n")
        .getBytes(UTF_8))
      finally out.close()
      fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
    } catch { case _: IOException => () }

  /** One resolved look at a root's commit log: newest complete version
    * on ANY chain, the RESOLVED main head, the checkpoint it was
    * resolved through (None on legacy/torn-checkpoint roots), and the
    * branch heads seen in the post-checkpoint window (the piece
    * [[commitManifestOn]] folds into the next checkpoint so its branch
    * inventory stays complete even when a racer's checkpoint write was
    * lost). */
  private case class ScanState(maxComplete: Long,
      mainHead: Option[(Long, Map[String, String])],
      ck: Option[Ckpt], windowBranches: Map[String, Long])

  /** Scan the commit log — resolved through the checkpoint when one
    * exists: one checkpoint read plus parses of only the manifests
    * committed AFTER it (normally zero), instead of listing an
    * O(commits) `_commits` dir on every read. The streaming sinks
    * commit once per micro-batch, so a year of 1-minute batches is
    * ~500k commit files — head resolution must not scale with that.
    * Correctness of the bounded walk: a slot is only ever claimed one
    * past the newest COMPLETE manifest, so complete manifests sit
    * slot-contiguous above `ck.max` and a forward EXISTENCE probe (no
    * file reads) finds the top of the log; parsing down from there
    * classifies the post-checkpoint window (torn slots skipped, branch
    * manifests recorded by chain) and falls back to the checkpoint's
    * inline main head when the window holds no newer main commit. No
    * checkpoint (legacy root, or torn write) → the full listing walk. */
  private def scanState(fs: FileSystem, root: String): ScanState =
    readCheckpoint(fs, root) match {
      case Some(ck) =>
        var top = ck.max
        while (fs.exists(manifestPath(root, top + 1L))) top += 1L
        var newestComplete = ck.max
        var sawComplete = false
        var newerMain: Option[(Long, Map[String, String])] = None
        var winBranches = Map.empty[String, Long]
        var v = top
        while (v > ck.max) {
          parseManifest(fs, manifestPath(root, v)) match {
            case Some(m) =>
              if (!sawComplete) { newestComplete = v; sawComplete = true }
              m.get(BranchKey) match {
                case Some(b) =>
                  if (!winBranches.contains(b)) winBranches += b -> v
                case None =>
                  if (newerMain.isEmpty) newerMain = Some(v -> m)
              }
            case None => () // torn top-of-log claim — skip, keep walking
          }
          v -= 1L
        }
        val head = newerMain
          .map { case (hv, m) => hv -> resolveManifest(fs, root, m) }
          .orElse(ck.main)
        ScanState(newestComplete, head, Some(ck), winBranches)
      case None =>
        val all = versions(fs, root)
        val parsed = all.view.flatMap { case (v, p) => parseManifest(fs, p).map(v -> _) }
        val newestComplete = parsed.headOption.map(_._1).getOrElse(0L)
        val head = parsed.filterNot(_._2.contains(BranchKey)).headOption
          .map { case (hv, m) => hv -> resolveManifest(fs, root, m) }
        ScanState(newestComplete, head, None, Map.empty)
    }

  /** Newest COMPLETE committed version and its RESOLVED table map — MAIN
    * chain only: manifests tagged with a [[BranchKey]] meta-entry belong
    * to a named branch and are invisible to every main-chain
    * reader/writer (manifests written before branching existed carry no
    * tag and are main by construction). */
  private def current(fs: FileSystem, root: String): Option[(Long, Map[String, String])] =
    scanState(fs, root).mainHead

  /** Newest committed version, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    current(fsOf(spark, root), root).map(_._1)

  /** A manifest value is a comma-joined list of immutable data dirs —
    * one for replace-committed tables, several for APPEND-committed ones
    * (the log-structured shape of [[commitAppend]]); readers union the
    * segments. */
  private def relDirs(rel: String): Seq[String] = rel.split(',').toSeq

  /** Read a table's segment list under ONE union schema (see
    * [[mergedSchema]]): segments written before a column existed
    * NULL-backfill it — the parquet reader fills requested-but-absent
    * columns with NULL when handed an explicit schema, so the backfill
    * costs nothing and no segment is ever rewritten. */
  private def readRel(spark: SparkSession, root: String, rel: String): DataFrame = {
    val paths = relDirs(rel).map(r => new Path(root, r).toString)
    spark.read.schema(mergedSchema(spark, root, rel)).parquet(paths: _*)
  }

  /** A segment's written schema: its [[SchemaSidecar]] when present
    * (O(1) — no footer sampling), else the segment's own parquet footers
    * (legacy dirs written before schema tracking). */
  private def segmentSchema(spark: SparkSession, root: String,
      seg: String): org.apache.spark.sql.types.StructType = {
    val dir = new Path(root, seg)
    SchemaSidecar.read(fsOf(spark, root), dir)
      .getOrElse(spark.read.parquet(dir.toString).schema)
  }

  /** SCHEMA EVOLUTION: the union schema of a segment list, in segment
    * (commit) order — later segments may ADD columns (readers backfill
    * NULL for older segments); a column present in several segments must
    * keep ONE type, or the read fails loudly (silent cross-type
    * coercion corrupts data; rewrite the table to change a type). Each
    * version's manifest pins its own segment list, so time travel reads
    * each version under exactly the schema it committed with. Cost is
    * O(segments) sidecar reads — never a data or footer scan. */
  private[graft] def mergedSchema(spark: SparkSession, root: String,
      rel: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val segs = relDirs(rel)
    segs.map(segmentSchema(spark, root, _)).reduceLeft { (acc: StructType, s: StructType) =>
      val byName = acc.fields.map(f => f.name -> f).toMap
      val extra = s.fields.filterNot(f => byName.contains(f.name))
      s.fields.foreach { f =>
        byName.get(f.name).foreach { prev =>
          if (prev.dataType != f.dataType) throw new IllegalStateException(
            s"snapshot: column '${f.name}' changes type across segments " +
              s"(${prev.dataType.simpleString} -> ${f.dataType.simpleString}) — " +
              "type changes require a table rewrite, not an append")
        }
      }
      // a column absent from any segment must be readable as NULL there
      val widened = acc.fields.map { f =>
        s.fields.find(_.name == f.name) match {
          case Some(sf) => f.copy(nullable = f.nullable || sf.nullable)
          case None => f.copy(nullable = true)
        }
      }
      StructType(widened ++ extra.map((f: StructField) => f.copy(nullable = true)))
    }
  }

  /** Manifest entry name of `table`'s tombstone shadow — the
    * merge-on-read DELETE state ([[deleteWhere]]). '~' can't appear in
    * a committed table name (guarded in the write APIs), so the shadow
    * can never collide with a real table. */
  private def delKey(table: String): String = table + "~del"

  private def isDelKey(entry: String): Boolean = entry.endsWith("~del")

  /** Manifest meta-entry naming the branch a manifest belongs to; absent
    * on main-chain manifests (including every pre-branching manifest). */
  private val BranchKey = "~branch"

  /** Meta-entry recording the MAIN version a branch forked from — the
    * fast-forward precondition [[mergeBranch]] checks. */
  private val BranchBaseKey = "~branchbase"

  /** Meta-entry marking a branch head as deleted ([[dropBranch]]). */
  private val BranchDroppedKey = "~branchdropped"

  /** Entries that are snapshot metadata, not user tables: tombstone
    * shadows and the branch bookkeeping keys. */
  private def isMetaKey(entry: String): Boolean =
    isDelKey(entry) || entry == BranchKey || entry == BranchBaseKey ||
      entry == BranchDroppedKey

  private def requireCommittableName(table: String): Unit =
    require(!table.contains('~'),
      s"snapshot: table name '$table' is invalid — '~' is reserved for " +
        "tombstone shadows and branch metadata")

  /** Hidden tombstone COVERAGE column: a tombstone row (keys…, cov = c)
    * suppresses key-matching rows of data segments with ordinal < c.
    * [[deleteWhere]] writes c = Long.MaxValue — every current AND
    * future segment, the by-key erasure contract; [[upsertMergeOnRead]]
    * writes c = the data-segment count at its base version, so every
    * PRIOR version of the key is suppressed while the batch it appends
    * at exactly that ordinal is served. Legacy tombstone segments
    * written before coverage existed lack the column and NULL-backfill
    * on read ([[mergedSchema]]) — coalesced to MaxValue, their original
    * suppress-everything semantics. */
  private val CovCol = "__graft_cov"

  /** Hidden per-row data-segment ordinal, attached only while resolving
    * coverage-scoped tombstones and dropped before rows leave. */
  private val SegCol = "__graft_seg"

  /** `table`'s per-key tombstone state in `rels`: (key cols…, CovCol =
    * MAX coverage across the key's tombstones — a row in segment s is
    * suppressed iff s < some tombstone's cov iff s < the max). One row
    * per tombstoned key, O(deleted keys); None when the table has no
    * tombstone shadow. */
  private def tombstoneKeys(spark: SparkSession, root: String,
      rels: Map[String, String], table: String): Option[DataFrame] =
    tombstoneRows(spark, root, rels, table).map { raw =>
      import org.apache.spark.sql.functions.{col, max}
      val keys = raw.columns.filterNot(_ == CovCol).toSeq
      raw.groupBy(keys.map(col): _*).agg(max(col(CovCol)).as(CovCol))
    }

  /** `table`'s stored tombstone rows in `rels`, unaggregated, with a
    * legacy missing or NULL cov read as MaxValue. */
  private def tombstoneRows(spark: SparkSession, root: String,
      rels: Map[String, String], table: String): Option[DataFrame] =
    rels.get(delKey(table)).map { rel =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val raw = readRel(spark, root, rel)
      if (raw.columns.contains(CovCol))
        raw.withColumn(CovCol, coalesce(col(CovCol), lit(Long.MaxValue)))
      else raw.withColumn(CovCol, lit(Long.MaxValue))
    }

  /** Read `table`'s segment list with merge-on-read tombstones resolved
    * — the one read body behind [[read]], [[readAt]], [[readPruned]]
    * and [[readPrunedEq]]. With no tombstone shadow this is ONE
    * multi-path parquet scan (identical plan to a plain read). With
    * tombstones, each segment is tagged with its ordinal and ONE
    * left-join against the aggregated O(deleted keys) coverage frame
    * ([[tombstoneKeys]]) filters suppressed rows — rows with NULL key
    * columns never match a tombstone and always survive, matching the
    * old anti-join semantics. `filesPerSeg`, when given, narrows each
    * segment to a pruned file subset (the stats/Bloom skipping paths);
    * ordinals are positions in the FULL segment list either way, so
    * coverage semantics are identical under pruning. */
  private def readResolved(spark: SparkSession, root: String,
      rels: Map[String, String], table: String,
      filesPerSeg: Option[Seq[Seq[String]]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val rel = rels(table)
    val segs = relDirs(rel)
    val paths: Seq[Seq[String]] = filesPerSeg.getOrElse(
      segs.map(s => Seq(new Path(root, s).toString)))
    require(paths.length == segs.length,
      s"snapshot readResolved: ${paths.length} per-segment path lists for ${segs.length} segments")
    val schema = mergedSchema(spark, root, rel)
    def empty = readRel(spark, root, rel).filter(lit(false))
    tombstoneKeys(spark, root, rels, table) match {
      case None =>
        val flat = paths.flatten
        if (flat.isEmpty) empty else spark.read.schema(schema).parquet(flat: _*)
      case Some(tomb) =>
        Seq(SegCol, CovCol).foreach { c =>
          require(!schema.fieldNames.contains(c),
            s"snapshot: table '$table' column '$c' collides with internal tombstone state")
        }
        val keys = tomb.columns.filterNot(_ == CovCol).toSeq
        val tagged = paths.zipWithIndex.collect { case (ps, i) if ps.nonEmpty =>
          spark.read.schema(schema).parquet(ps: _*).withColumn(SegCol, lit(i.toLong))
        }
        if (tagged.isEmpty) empty
        else tagged.reduce(_.union(_))
          .join(tomb, keys, "left_outer")
          .filter(col(CovCol).isNull || col(SegCol) >= col(CovCol))
          // a using-columns join reorders (keys first): restore the
          // table's column order, dropping the internal columns
          .select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Table → absolute data path(s) of the newest committed snapshot
    * (comma-joined when the table has appended segments). Tombstone
    * shadows are internal state, not tables — hidden here. */
  def tables(spark: SparkSession, root: String): Map[String, String] =
    current(fsOf(spark, root), root).map(_._2).getOrElse(Map.empty)
      .filter { case (t, _) => !isMetaKey(t) }
      .map { case (t, rel) =>
        t -> relDirs(rel).map(new Path(root, _).toString).mkString(",")
      }

  /** DESCRIBE HISTORY for a snapshot root — one row per committed
    * version (main chain AND branch commits, flagged apart), from the
    * manifest log alone: table inventory, live data-segment count, and
    * tombstone-shadow count per version. The audit/debug surface every
    * versioned store grows ("when did this table appear?", "which
    * commit exploded the segment count?", "is a shadow accumulating?"),
    * answered with ZERO data IO — manifests are O(tables) text files.
    * Torn manifests (a crashed writer's partial commit) are skipped
    * exactly as readers skip them. Output sorted by version:
    * (version, is_branch, n_tables, tables, n_shadow_tables,
    * n_segments). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, root)
    // delta manifests share full bases — memoize base parses so a
    // 1,000-delta log costs O(versions + distinct bases) reads
    val baseMemo = scala.collection.mutable.Map.empty[Long, Option[Map[String, String]]]
    versions(fs, root)
      .flatMap { case (v, p) => parseManifest(fs, p).map(v -> _) }
      .map { case (v, raw) =>
        val m = raw.get(DeltaBaseKey) match {
          case None => raw
          case Some(bv) =>
            baseMemo.getOrElseUpdate(bv.toLong,
                parseManifest(fs, manifestPath(root, bv.toLong)))
              .map(base => resolveDelta(base, raw))
              // torn base: best-effort inventory of the delta's own
              // update entries (append/removal markers dropped)
              .getOrElse(raw.filterNot { case (k, v) =>
                k == DeltaBaseKey || k.startsWith(DeltaAppPrefix) || v == RemovedVal
              })
        }
        val user = m.keySet.filter(!isMetaKey(_))
        val shadows = m.keySet.filter(isDelKey)
        (v, if (raw.contains(BranchKey)) 1L else 0L, user.size.toLong,
          user.toSeq.sorted.mkString(","), shadows.size.toLong,
          (user ++ shadows).toSeq.map(k => relDirs(m(k)).length.toLong).sum)
      }
      .sortBy(_._1)
      .toDF("version", "is_branch", "n_tables", "tables",
        "n_shadow_tables", "n_segments")
  }

  /** Read one table of the newest committed snapshot (tombstoned rows
    * resolved away — see [[deleteWhere]]). */
  def read(spark: SparkSession, root: String, table: String): DataFrame = {
    requireCommittableName(table)
    val byName = currentRels(spark, root)
    if (!byName.contains(table))
      throw new IllegalArgumentException(
        s"snapshot: no table '$table' at $root (have: ${
          byName.keys.toSeq.filterNot(isMetaKey).sorted.mkString(", ")})")
    readResolved(spark, root, byName, table)
  }

  private def currentRels(spark: SparkSession, root: String): Map[String, String] =
    current(fsOf(spark, root), root).map(_._2).getOrElse(Map.empty)

  /** Table → absolute data path AS OF a specific committed `version`
    * (time travel). Committed versions are immutable — data dirs are
    * write-once and only [[vacuum]] deletes them — so a pinned version
    * keeps reading the same bytes while the snapshot advances.
    * Throws if the version never committed completely or was vacuumed. */
  def tablesAt(spark: SparkSession, root: String, version: Long): Map[String, String] =
    relsAt(spark, root, version)
      .filter { case (t, _) => !isMetaKey(t) }
      .map { case (t, rel) =>
        t -> relDirs(rel).map(new Path(root, _).toString).mkString(",")
      }

  private def relsAt(spark: SparkSession, root: String, version: Long): Map[String, String] = {
    val fs = fsOf(spark, root)
    // versioned slots have deterministic names — resolve the manifest
    // with ONE direct path probe, not an O(commits) directory listing
    // (mainVersionsBetween calls this per version in a change-feed
    // range; a listing per step made that O(range x commits))
    val manifest = manifestPath(root, version)
    if (!fs.exists(manifest))
      throw new IllegalArgumentException(
        s"snapshot: no version $version at $root (have: ${
          versions(fs, root).map(_._1).sorted.mkString(", ")})")
    val m = parseManifest(fs, manifest)
      .getOrElse(throw new IllegalStateException(
        s"snapshot: version $version at $root is torn/incomplete"))
    resolveManifest(fs, root, m)
  }

  /** Read one table as of `version` — how a pipeline pins its input
    * (reproducible ablations, audits, incremental-delta baselines)
    * while writers keep committing. */
  /** The MAIN-history versions in (fromVersion, toVersion] — the step
    * endpoints a change-feed consumer iterates one at a time when it
    * needs per-step preimages (branch commits share the version
    * sequence but are not main history and contribute no steps). Cost:
    * O(versions in range) manifest reads, never data. */
  def mainVersionsBetween(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): Seq[Long] = {
    require(fromVersion >= 0L && fromVersion <= toVersion,
      s"snapshot mainVersionsBetween: bad range [$fromVersion, $toVersion]")
    ((fromVersion + 1L) to toVersion)
      .filter(v => !relsAt(spark, root, v).contains(BranchKey))
  }

  def readAt(spark: SparkSession, root: String, table: String, version: Long): DataFrame = {
    requireCommittableName(table)
    val byName = relsAt(spark, root, version)
    if (!byName.contains(table))
      throw new IllegalArgumentException(
        s"snapshot: no table '$table' at $root version $version (have: ${
          byName.keys.toSeq.filterNot(isMetaKey).sorted.mkString(", ")})")
    // the version's OWN tombstone state: a version committed before a
    // delete still reads the deleted rows (time travel)
    readResolved(spark, root, byName, table)
  }

  /** Atomically publish new contents for `newTables` (other tables keep
    * their current data). Data is written FIRST (invisible), then the
    * manifest claims the next version; a crash anywhere before the claim
    * leaves only unreferenced files. With `expectBase = Some(v)` the
    * commit fails instead of publishing if anyone committed after
    * version v (optimistic concurrency for read-modify-write callers);
    * `None` means blind last-writer-wins on the touched tables. */
  def commit(spark: SparkSession, root: String, newTables: Map[String, DataFrame],
      expectBase: Option[Long] = None,
      statsCols: Map[String, Seq[String]] = Map.empty,
      bloomCols: Map[String, Seq[String]] = Map.empty,
      bloomBits: Long = 1L << 20): Long = {
    require(newTables.nonEmpty, "snapshot commit: no tables given")
    newTables.keys.foreach(requireCommittableName)
    val fs = fsOf(spark, root)
    // independent table writes run as CONCURRENT jobs (each is a small
    // single-digit-task job; serialized they pay per-job latency +
    // driver gaps once per table — a 4-artifact commit measured ~4x the
    // single-table commit wall). Failure leaves only unreferenced files.
    val written = graft.operators.Par.inParallel(newTables.toSeq.map {
      case (t, df) => () =>
        t -> writeData(spark, root, t, df, statsCols.getOrElse(t, Seq.empty),
          bloomCols.getOrElse(t, Seq.empty), bloomBits)
    }).toMap
    // a replace supersedes any accumulated merge-on-read deletes: the
    // new contents are what the caller wants readable, verbatim
    commitManifest(fs, root, written, expectBase,
      removals = newTables.keySet.map(delKey))
  }

  /** LOG-STRUCTURED append commit: each table in `appends` gains ONE new
    * immutable segment dir holding only the given rows — the existing
    * segments are never rewritten, so commit cost is O(batch), never
    * O(table); readers union the segment list from the manifest. Tables
    * in `replaces` publish a whole new single segment (the [[commit]]
    * semantics) in the SAME atomic manifest — which is what lets a
    * consumer pair a data append with a progress-marker update and get
    * exactly-once out of at-least-once delivery (see
    * StreamOps.streamingCorpusIngestExactlyOnce). Older versions keep
    * reading their own segment lists (time travel unaffected); segment
    * counts grow per append — [[compactTable]] folds them back into one.
    *
    * ALWAYS compare-and-swap: the appended segment list is derived from
    * the base version read on entry, so publishing over a DIFFERENT base
    * would silently drop a concurrent writer's segments — unlike
    * [[commit]], blind last-writer-wins is not sound here. With
    * `expectBase = None` the commit pins itself to the entry base;
    * either way a concurrent commit fails this one loudly (retry by
    * re-calling — the new call re-reads the advanced base). */
  def commitAppend(spark: SparkSession, root: String,
      appends: Map[String, DataFrame],
      replaces: Map[String, DataFrame] = Map.empty,
      expectBase: Option[Long] = None,
      statsCols: Map[String, Seq[String]] = Map.empty,
      bloomCols: Map[String, Seq[String]] = Map.empty,
      bloomBits: Long = 1L << 20): Long = {
    require(appends.nonEmpty || replaces.nonEmpty, "snapshot commitAppend: no tables given")
    (appends.keys ++ replaces.keys).foreach(requireCommittableName)
    require(appends.keySet.intersect(replaces.keySet).isEmpty,
      s"snapshot commitAppend: tables in both appends and replaces: ${
        appends.keySet.intersect(replaces.keySet).mkString(", ")}")
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    expectBase.foreach { e =>
      val baseV = base.map(_._1).getOrElse(0L)
      if (baseV != e) throw new IllegalStateException(
        s"snapshot commit conflict at $root: expected base version $e, found $baseV")
    }
    val pinnedBase = expectBase.getOrElse(base.map(_._1).getOrElse(0L))
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    // SCHEMA EVOLUTION gate, checked BEFORE any data writes: an appended
    // batch may add columns (older segments read them back as NULL) and
    // may omit columns (its rows read back NULL there), but a column it
    // shares with the stored table must keep the stored type — rejected
    // loudly here, at commit time, not discovered by some later reader.
    appends.foreach { case (t, df) =>
      baseRels.get(t).foreach { rel =>
        val stored = mergedSchema(spark, root, rel)
        val storedByName = stored.fields.map(f => f.name -> f).toMap
        df.schema.fields.foreach { f =>
          storedByName.get(f.name).foreach { prev =>
            require(prev.dataType == f.dataType,
              s"snapshot commitAppend: table '$t' column '${f.name}' type change " +
                s"${prev.dataType.simpleString} -> ${f.dataType.simpleString} — " +
                "type changes require a replace commit (table rewrite), not an append")
          }
        }
      }
    }
    // appended segments and replaced tables are ALL independent writes —
    // run them as one pool of concurrent jobs (see [[commit]])
    val segs = graft.operators.Par.inParallel(
      (appends.toSeq ++ replaces.toSeq).map { case (t, df) => () =>
        t -> writeData(spark, root, t, df, statsCols.getOrElse(t, Seq.empty),
          bloomCols.getOrElse(t, Seq.empty), bloomBits)
      }).toMap
    val appended = appends.keys.map { t =>
      t -> baseRels.get(t).map(old => s"$old,${segs(t)}").getOrElse(segs(t))
    }.toMap
    val replaced = replaces.keys.map(t => t -> segs(t)).toMap
    commitManifest(fs, root, appended ++ replaced, Some(pinnedBase),
      removals = replaces.keySet.map(delKey))
  }

  /** MERGE-ON-READ DELETE: remove every row of `table` matching `pred`
    * by committing the matching rows' `keyCols` tuples as a TOMBSTONE
    * segment — no data file is read beyond the predicate scan and NONE
    * is rewritten, so delete cost is O(matching scan) + O(deleted keys),
    * never O(table) (the shape a GDPR/right-to-be-forgotten erasure
    * needs on a 100 TB corpus). Every read path ([[read]], [[readAt]],
    * [[readPruned]]) anti-joins the tombstoned keys back out;
    * [[compactTable]] folds the deletes into a physical rewrite and
    * clears the tombstones.
    *
    * Contract: deletion is BY KEY — a tombstoned key tuple suppresses
    * every current and FUTURE-appended row with that key until a
    * compaction folds the tombstones (after which the key may be
    * re-inserted). Key columns must be non-NULL for matching rows and
    * must be the SAME columns (names and types) across a table's
    * accumulated deletes — a mismatch is rejected loudly. Versions
    * committed before the delete still read the rows (time travel is
    * pinned to each version's own tombstone state).
    *
    * Optimistic CAS like [[commitAppend]]: the tombstone list is
    * derived from the base read on entry; a concurrent commit fails
    * this one loudly (re-call to retry on the advanced base). */
  def deleteWhere(spark: SparkSession, root: String, table: String,
      pred: org.apache.spark.sql.Column, keyCols: Seq[String],
      expectBase: Option[Long] = None): Long = {
    require(keyCols.nonEmpty, "snapshot deleteWhere: no key columns given")
    requireCommittableName(table)
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    expectBase.foreach { e =>
      val baseV = base.map(_._1).getOrElse(0L)
      if (baseV != e) throw new IllegalStateException(
        s"snapshot commit conflict at $root: expected base version $e, found $baseV")
    }
    val pinnedBase = expectBase.getOrElse(base.map(_._1).getOrElse(0L))
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    val rel = baseRels.getOrElse(table,
      throw new IllegalArgumentException(s"snapshot deleteWhere: no table '$table' at $root"))
    import org.apache.spark.sql.functions.{col, lit}
    // resolve EXISTING tombstones first so already-deleted rows don't
    // re-tombstone, then keep only the key tuples of matching rows
    val deleted = readResolved(spark, root, baseRels, table)
      .filter(pred)
      .select(keyCols.map(col): _*)
      .distinct()
    baseRels.get(delKey(table)).foreach { drel =>
      val stored = mergedSchema(spark, root, drel)
      require(stored.fields.filterNot(_.name == CovCol).map(f => (f.name, f.dataType)).toSeq ==
          deleted.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"snapshot deleteWhere: key columns ${deleted.schema.fieldNames.mkString(",")} " +
          s"differ from the table's prior deletes (${stored.fieldNames.filterNot(_ == CovCol).mkString(",")}) — " +
          "compact the table before changing delete keys")
    }
    // cov = MaxValue: suppress the key in every current AND future
    // segment until a compaction folds the tombstones ([[CovCol]])
    val seg = writeData(spark, root, delKey(table),
      deleted.withColumn(CovCol, lit(Long.MaxValue)))
    val newRel = baseRels.get(delKey(table)).map(old => s"$old,$seg").getOrElse(seg)
    commitManifest(fs, root, Map(delKey(table) -> newRel), Some(pinnedBase))
  }

  /** MERGE-ON-READ UPSERT: row-level MERGE that never reads or rewrites
    * stored data. One atomic commit publishes (a) `batch` as a new
    * appended segment and (b) a reshaped tombstone shadow in which every
    * batch key carries a COVERAGE-scoped tombstone (cov = the
    * data-segment count at the base version — "suppress this key in
    * every segment BEFORE the batch", [[CovCol]]); the batch's own rows,
    * landing at exactly that ordinal, are served. After the commit,
    * [[read]] sees precisely `old rows whose key is not in batch` ∪
    * `batch`.
    *
    * Cost is O(batch) + O(accumulated tombstones): the shadow is FOLDED
    * into one fresh segment (batch keys' prior tombstones drop — so an
    * upsert RESURRECTS a key erased by [[deleteWhere]], the MERGE
    * contract; non-batch tombstones carry over verbatim), and the data
    * segments are untouched — the write shape a continuously upserted
    * 100 TB table needs. Contrast [[mergeCommit]] / [[Upsert.upsert]],
    * which rewrite the table (merge-on-WRITE) — the right trade only
    * for small dimension tables or scheduled folds; [[compactTable]]
    * turns the accumulated upserts physical off the ingest path.
    *
    * Preconditions, all rejected loudly: `batch` unique and non-NULL on
    * `keyCols`; `keyCols` matching the table's prior tombstone keys (if
    * any); shared columns keeping their stored type (`batch` MAY add
    * columns — the [[commitAppend]] schema-evolution gate). Optimistic
    * CAS like [[commitAppend]]: a concurrent commit fails this one
    * loudly; re-call to retry on the advanced base. */
  def upsertMergeOnRead(spark: SparkSession, root: String, table: String,
      batch: DataFrame, keyCols: Seq[String],
      expectBase: Option[Long] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomBits: Long = 1L << 20): Long =
    applyChanges(spark, root, table, keyCols, upserts = Some(batch),
      deleteKeys = None, expectBase = expectBase,
      statsCols = statsCols, bloomCols = bloomCols, bloomBits = bloomBits)

  /** The general merge-on-read WRITE primitive behind
    * [[upsertMergeOnRead]] and [[graft.sources.Replica]]: in ONE atomic
    * commit, row-level MERGE `upserts` (optional), erase `deleteKeys`
    * (optional — key tuples only, exactly `keyCols`), and REPLACE the
    * tables in `replaces` (progress markers — the exactly-once pairing
    * of [[commitAppend]]). Tombstone shaping: upsert keys get
    * cov = base-segment-count (prior versions suppressed, the appended
    * batch served), delete keys get cov = MaxValue (erasure outlives
    * future appends, the [[deleteWhere]] contract); both FOLD the
    * existing shadow — their keys' prior tombstones drop, others carry
    * over — so a key in BOTH sets ends up deleted (MaxValue wins the
    * per-key max). Zero stored data read or rewritten; preconditions as
    * [[upsertMergeOnRead]]. */
  def applyChanges(spark: SparkSession, root: String, table: String,
      keyCols: Seq[String],
      upserts: Option[DataFrame], deleteKeys: Option[DataFrame],
      replaces: Map[String, DataFrame] = Map.empty,
      expectBase: Option[Long] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomBits: Long = 1L << 20): Long = {
    require(keyCols.nonEmpty, "snapshot applyChanges: no key columns given")
    requireCommittableName(table)
    replaces.keys.foreach(requireCommittableName)
    require(!replaces.contains(table),
      s"snapshot applyChanges: table '$table' cannot also be replaced")
    upserts.foreach { b =>
      keyCols.foreach { k =>
        require(b.columns.contains(k),
          s"snapshot applyChanges: upsert batch lacks key column '$k'")
      }
    }
    deleteKeys.foreach { d =>
      require(d.columns.toSeq == keyCols,
        s"snapshot applyChanges: deleteKeys columns ${d.columns.mkString(",")} " +
          s"must be exactly the key columns ${keyCols.mkString(",")}")
    }
    import org.apache.spark.sql.functions.{col, lit}
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    expectBase.foreach { e =>
      val baseV = base.map(_._1).getOrElse(0L)
      if (baseV != e) throw new IllegalStateException(
        s"snapshot commit conflict at $root: expected base version $e, found $baseV")
    }
    val pinnedBase = expectBase.getOrElse(base.map(_._1).getOrElse(0L))
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    // schema-evolution gate, same as commitAppend: adds OK, type changes not
    for (b <- upserts; rel <- baseRels.get(table)) {
      val storedByName = mergedSchema(spark, root, rel).fields.map(f => f.name -> f).toMap
      b.schema.fields.foreach { f =>
        storedByName.get(f.name).foreach { prev =>
          require(prev.dataType == f.dataType,
            s"snapshot applyChanges: table '$table' column '${f.name}' type change " +
              s"${prev.dataType.simpleString} -> ${f.dataType.simpleString} — " +
              "type changes require a replace commit (table rewrite), not an upsert")
        }
      }
    }
    // The MERGE preconditions (batch keys non-NULL and unique) are
    // checked inside the commit's own writes, not by a separate action:
    // the write that reads the batch keys — the tombstone fold's
    // per-key aggregate, or, for a new table, its first segment through
    // `count(*) over (partition by keys)` — raises on a NULL key or a
    // key seen twice (the [[Upsert.writeMerge]] pattern). Only when that
    // fires does the exact aggregate run, for the caller's
    // `IllegalArgumentException`; every segment dir this call started is
    // deleted, unpublished.
    val badKeys =
      s"snapshot applyChanges: upsert batch fails its key check on (${keyCols.mkString(", ")})"
    def keyChecked(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{count, raise_error, when}
      val perKey = "__graft_per_key"
      df.withColumn(perKey, count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
        .filter(when(keyCols.map(col(_).isNull).reduce(_ || _) || col(perKey) > 1,
          raise_error(lit(badKeys))).otherwise(lit(true)))
        .drop(perKey)
    }
    def requireKeys(bp: DataFrame): Unit = {
      import org.apache.spark.sql.functions.{countDistinct, struct, sum, when}
      val chk = bp.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        countDistinct(struct(keyCols.map(col): _*)).as("nk"),
        sum(when(keyCols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L)).as("nulls"))
        .head()
      val (n, nk, nulls) =
        (chk.getLong(0), chk.getLong(1), if (chk.isNullAt(2)) 0L else chk.getLong(2))
      require(nulls == 0L,
        s"snapshot applyChanges: upsert batch has NULL in key columns ${keyCols.mkString(",")}")
      require(nk == n,
        s"snapshot applyChanges: upsert batch must be unique on (${keyCols.mkString(", ")}) — " +
          s"$n rows but $nk distinct keys")
    }
    // the batch is read by two writes (its segment and the tombstone
    // fold): cached while this runs, unless the caller already cached it
    def checkAndWrite(): Long = {
      import scala.jdk.CollectionConverters._
      val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val existing = existingDirs(fs, root, table +: delKey(table) +: replaces.keys.toSeq)
      // ALL data writes of this commit (replaced tables, the batch
      // segment, the tombstone fold) are independent — staged as thunks
      // below and run as ONE pool of concurrent jobs (see [[commit]]).
      // Entry keys cannot collide: replaces excludes `table`, and
      // tombstone-shadow keys carry '~' which committable names reject.
      val writeJobs = Seq.newBuilder[() => (String, String)]
      replaces.foreach { case (t, df) =>
        writeJobs += (() => t -> writeData(spark, root, t, df, onSegment = started.add))
      }
      baseRels.get(table) match {
        case None =>
          // first ingest: create the table from the batch — no prior
          // segments to suppress, so upsert keys need NO tombstones
          // (keeping a bootstrap's shadow EMPTY is what keeps every
          // later read on the plain no-join path). deleteKeys ARE
          // recorded (cov=MaxValue): they erase matching batch rows
          // (delete wins, as documented) and keep the shadow a complete
          // touched-key record for base+delta consumers
          // ([[shadowedKeys]]); deletes without any batch anchor an
          // empty key-schema segment so the shadow has a table to
          // shadow (later appends widen the schema).
          val dataDf = upserts.orElse(deleteKeys.map(_.limit(0)))
          dataDf.foreach { df =>
            val data = if (upserts.isDefined) keyChecked(df) else df
            writeJobs += (() => table ->
              writeData(spark, root, table, data, statsCols, bloomCols, bloomBits, started.add))
            deleteKeys.foreach { d =>
              writeJobs += (() => delKey(table) -> writeData(spark, root,
                delKey(table), d.distinct().withColumn(CovCol, lit(Long.MaxValue)),
                onSegment = started.add))
            }
          }
        case Some(rel) if upserts.isDefined || deleteKeys.isDefined =>
          // ONE aggregate folds the shadow and checks the upsert keys: per
          // key, the largest cov among this commit's keys (upserts
          // nSegs, deletes MaxValue — a key in both ends deleted) replaces
          // the key's prior tombstones; untouched keys keep theirs. A key
          // with two upsert rows, or a NULL key among them, raises.
          val nSegs = relDirs(rel).length.toLong
          val src = "__graft_src"
          val prior = tombstoneRows(spark, root, baseRels, table).map { p =>
            val priorKeys = p.columns.filterNot(_ == CovCol).toSeq
            require(priorKeys.sorted == keyCols.sorted,
              s"snapshot applyChanges: key columns ${keyCols.mkString(",")} differ " +
                s"from the table's prior tombstones (${priorKeys.mkString(",")}) — " +
                "compact the table before changing keys")
            p.select(keyCols.map(col) :+ col(CovCol): _*).withColumn(src, lit(0))
          }
          val up = upserts.map(_.select(keyCols.map(col): _*)
            .withColumn(CovCol, lit(nSegs)).withColumn(src, lit(1)))
          val del = deleteKeys.map(_.withColumn(CovCol, lit(Long.MaxValue)).withColumn(src, lit(2)))
          val folded = {
            import org.apache.spark.sql.functions.{coalesce, count, max, raise_error, when}
            Seq(prior, up, del).flatten.reduce(_.unionByName(_))
              .groupBy(keyCols.map(col): _*)
              .agg(max(when(col(src) > 0, col(CovCol))).as("__new"),
                max(when(col(src) === 0, col(CovCol))).as("__old"),
                count(when(col(src) === 1, 1)).as("__ups"))
              .select(keyCols.map(col) :+
                when(col("__ups") > 1 ||
                    (col("__ups") > 0 && keyCols.map(col(_).isNull).reduce(_ || _)),
                  raise_error(lit(badKeys)))
                  .otherwise(coalesce(col("__new"), col("__old"))).as(CovCol): _*)
          }
          upserts.foreach { bp =>
            writeJobs += (() => table ->
              s"$rel,${writeData(spark, root, table, bp, statsCols, bloomCols, bloomBits, started.add)}")
          }
          writeJobs += (() => delKey(table) ->
            writeData(spark, root, delKey(table), folded, onSegment = started.add))
        case Some(_) => ()
      }
      val jobs = writeJobs.result()
      require(jobs.nonEmpty,
        "snapshot applyChanges: nothing to commit (no upserts, deletes, or replaces)")
      val entries =
        try graft.operators.Par.inParallel(jobs).toMap
        catch {
          case e: Throwable =>
            discardSegments(fs, root, started.asScala.toSeq, existing)
            if (Upsert.causes(e).exists(c => Option(c.getMessage).exists(_.contains(badKeys))))
              upserts.foreach(requireKeys)
            throw e
        }
      commitManifest(fs, root, entries, Some(pinnedBase))
    }
    upserts.fold(checkAndWrite())(Upsert.cachedWhileIn(_)(checkAndWrite()))
  }

  /** RIGHT-TO-BE-FORGOTTEN: key-level erasure across SEVERAL tables in
    * ONE atomic commit — the GDPR/CCPA "delete this subject everywhere"
    * primitive. Per-table [[deleteWhere]]/[[applyChanges]] calls erase
    * correctly but publish table-by-table: a crash between commits
    * leaves the subject half-erased, and an auditor snapshotting
    * between versions sees orders without their customer. Here every
    * table's tombstone shadow (cov = MaxValue — erasure outlives future
    * appends, the deleteWhere contract, prior shadows folded the same
    * way) is staged first and a single manifest CAS publishes them all:
    * readers see the subject fully present or fully gone, never partial.
    *
    * `deletes` maps table → (keyCols, key frame). Key frames are
    * DataFrames, not driver-side lists — the victim key set flows
    * through joins (O(victim rows) tombstones, zero data rewritten),
    * so a subject with millions of fact rows erases without a collect.
    * Erasure is logical until [[compactTable]]/[[vacuum]] make it
    * physical — schedule compaction to meet hard-deletion SLAs.
    * Returns the published version. */
  def forgetKeys(spark: SparkSession, root: String,
      deletes: Map[String, (Seq[String], DataFrame)],
      expectBase: Option[Long] = None): Long = {
    require(deletes.nonEmpty, "snapshot forgetKeys: no tables given")
    deletes.keys.foreach(requireCommittableName)
    import org.apache.spark.sql.functions.{col, lit}
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    expectBase.foreach { e =>
      val baseV = base.map(_._1).getOrElse(0L)
      if (baseV != e) throw new IllegalStateException(
        s"snapshot commit conflict at $root: expected base version $e, found $baseV")
    }
    val pinnedBase = expectBase.getOrElse(base.map(_._1).getOrElse(0L))
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    val updates = deletes.map { case (table, (keyCols, keys)) =>
      require(keyCols.nonEmpty, s"snapshot forgetKeys: no key columns for '$table'")
      require(baseRels.contains(table),
        s"snapshot forgetKeys: no table '$table' at $root")
      require(keys.columns.toSeq == keyCols,
        s"snapshot forgetKeys: key frame columns ${keys.columns.mkString(",")} " +
          s"must be exactly the key columns ${keyCols.mkString(",")} for '$table'")
      val newTomb = keys.distinct().withColumn(CovCol, lit(Long.MaxValue))
      val folded = tombstoneKeys(spark, root, baseRels, table) match {
        case None => newTomb
        case Some(prior) =>
          val priorKeys = prior.columns.filterNot(_ == CovCol).toSeq
          require(priorKeys.sorted == keyCols.sorted,
            s"snapshot forgetKeys: key columns ${keyCols.mkString(",")} differ " +
              s"from table '$table''s prior tombstones (${priorKeys.mkString(",")}) — " +
              "compact the table before changing keys")
          prior.join(newTomb.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(newTomb)
      }
      delKey(table) -> writeData(spark, root, delKey(table), folded)
    }
    commitManifest(fs, root, updates, Some(pinnedBase))
  }

  /** Fold an append-table's segments back into one dir (a new version;
    * the old segmented versions stay readable until [[vacuum]]). The
    * costs-O(table) rewrite every log-structured store schedules
    * off the ingest path. Accumulated tombstones ([[deleteWhere]]) are
    * resolved INTO the rewrite and cleared from the manifest — after a
    * compaction the deletes are physical and the keys re-insertable. */
  def compactTable(spark: SparkSession, root: String, table: String,
      statsCols: Seq[String] = Seq.empty): Long = {
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    if (!baseRels.contains(table))
      throw new IllegalArgumentException(s"snapshot compact: no table '$table' at $root")
    val resolved = readResolved(spark, root, baseRels, table)
    val folded = writeData(spark, root, table, resolved, statsCols)
    commitManifest(fs, root, Map(table -> folded),
      expectBase = Some(base.map(_._1).getOrElse(0L)),
      removals = Set(delKey(table)))
  }

  /** O(1) SHALLOW CLONE: `dstTable` becomes a new table whose manifest
    * entry references `srcTable`'s IMMUTABLE segments — one manifest
    * write, zero data IO, however large the source (the Delta/Iceberg
    * shallow-clone shape: dev copies of a 100 TB production table,
    * what-if mutations, migration staging). The tombstone shadow is
    * cloned too, so a merge-on-read state clones faithfully. The clone
    * and the source then evolve INDEPENDENTLY — each append/upsert/
    * delete touches its own manifest entry; segments stay shared until
    * one side rewrites them, and [[vacuum]] keeps a shared segment
    * alive while ANY retained manifest references it (the reference
    * walk is entry-agnostic), so diverging clones never tear each
    * other's data. Refuses an existing `dstTable` — clone is a create,
    * not a merge. */
  def cloneTable(spark: SparkSession, root: String, srcTable: String,
      dstTable: String): Long = {
    requireCommittableName(srcTable)
    requireCommittableName(dstTable)
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    val rels = base.map(_._2).getOrElse(Map.empty)
    val rel = rels.getOrElse(srcTable,
      throw new IllegalArgumentException(
        s"snapshot clone: no table '$srcTable' at $root"))
    require(!rels.contains(dstTable),
      s"snapshot clone: table '$dstTable' already exists at $root")
    val updates = Map(dstTable -> rel) ++
      rels.get(delKey(srcTable)).map(delKey(dstTable) -> _)
    commitManifest(fs, root, updates,
      expectBase = Some(base.map(_._1).getOrElse(0L)))
  }

  /** INCREMENTAL small-file OPTIMIZE: bin-pack only the segments whose
    * data is under `targetBytes` into one right-sized segment; segments
    * already at target stay in the manifest BYTE-UNTOUCHED. A
    * frequently-appended 100 TB table accumulates one small segment per
    * micro-batch — [[compactTable]] (and the freestanding-dir
    * [[Warehouse.compact]]) would rewrite the whole body (O(table)) to
    * fix what is an O(small files) problem; this is the scheduled
    * maintenance pass that keeps scan parallelism sane at
    * O(accumulated small bytes) cost. Returns the new version, or the
    * current one untouched when fewer than two segments are undersized
    * (nothing to pack). Refuses tables with live tombstone shadows —
    * merge-on-read coverage is ordinal-scoped, and re-ordering segments
    * under it would silently change which rows a shadow masks; fold
    * deletes first ([[compactTable]]). Like every physical rewrite,
    * this breaks [[changesBetween]] windows that span it — consume
    * feeds before scheduling optimizes. */
  def optimizeTable(spark: SparkSession, root: String, table: String,
      targetBytes: Long, statsCols: Seq[String] = Seq.empty): Long = {
    require(targetBytes > 0, "snapshot optimize: targetBytes must be positive")
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    val baseRels = base.map(_._2).getOrElse(Map.empty)
    val rel = baseRels.getOrElse(table,
      throw new IllegalArgumentException(s"snapshot optimize: no table '$table' at $root"))
    require(!baseRels.contains(delKey(table)),
      s"snapshot optimize: table '$table' has live tombstone shadows — " +
        "fold deletes with compactTable before bin-packing segments")
    def dataBytes(seg: String): Long =
      fs.listStatus(new Path(root, seg)).iterator
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    val segs = relDirs(rel)
    val (small, big) = segs.partition(dataBytes(_) < targetBytes)
    if (small.size < 2) return base.map(_._1).getOrElse(0L)
    // union the small segments at their sidecar schemas (NULL-backfill
    // across evolution steps, same contract as the read path), then
    // bin-pack into ceil(bytes/target) files
    val smallBytes = small.map(dataBytes).sum
    val files = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    val parts = small.map { seg =>
      spark.read.schema(mergedSchema(spark, root, seg))
        .parquet(new Path(root, seg).toString)
    }
    val union = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val packed = writeData(spark, root, table, union.repartition(files), statsCols)
    commitManifest(fs, root, Map(table -> (big :+ packed).mkString(",")),
      expectBase = Some(base.map(_._1).getOrElse(0L)))
  }

  /** ROLLBACK: publish a NEW version whose contents are exactly those of
    * an earlier main-chain `version` — the bad-load undo every snapshot
    * store needs (Iceberg `rollback_to_snapshot`, Delta RESTORE). O(1):
    * one manifest read + one manifest write, zero data files touched or
    * rewritten — the new head re-references the target version's segment
    * dirs verbatim (including its tombstone-shadow state), and tables
    * created after the target disappear from the head. History is
    * PRESERVED, not erased: the rolled-back versions stay addressable
    * via [[readAt]] until [[vacuum]] sweeps them, and the rollback
    * itself is an ordinary optimistic-concurrency commit (fails loudly
    * if a writer lands after the head it read).
    *
    * Followers beware: a rollback SHRINKS segment lists, so
    * [[changesBetween]] across the boundary throws its
    * replaced-or-compacted error (by design — the feed covers
    * append/delete/upsert history only); change-feed consumers re-seed
    * from the rollback version, exactly as after a [[compactTable]]. */
  def rollbackTo(spark: SparkSession, root: String, version: Long): Long = {
    val fs = fsOf(spark, root)
    val target = relsAt(spark, root, version)
    require(!target.contains(BranchKey),
      s"snapshot rollback: version $version at $root is a branch commit — " +
        "roll back to main-chain versions only (mergeBranch publishes a branch)")
    val head = current(fs, root).getOrElse(throw new IllegalStateException(
      s"snapshot rollback: no committed main version at $root"))
    require(version <= head._1,
      s"snapshot rollback: version $version is ahead of the head ${head._1} at $root")
    commitManifest(fs, root, target, expectBase = Some(head._1),
      removals = head._2.keySet -- target.keySet)
  }

  /** MERGE-style upsert of several staged tables in ONE atomic commit —
    * the reference's single-transaction four-table load. Each stage
    * merges against its table in the CURRENT snapshot, resolved through
    * its tombstones (same semantics and MergeStats contract as
    * [[Upsert.upsertParquet]], including the stage-unique-on-keys
    * precondition); all merged tables then publish under one version, so
    * readers see the whole load or none of it. Each table is ONE Spark
    * action through [[Upsert.writeMerge]]: the data write also observes
    * the stats and checks the stage keys, so no count runs before or
    * after it. The per-table writes run as CONCURRENT jobs (the shape of
    * [[commit]]); if one fails (a duplicate stage key throws the exact
    * `IllegalArgumentException` of [[Upsert.requireUniqueKeys]]), its
    * siblings' jobs are cancelled, nothing is published, and the written
    * data dirs stay unreferenced. The stage is read once and never cached
    * here; a stage the caller persisted stays cached. Fails without
    * publishing if another writer commits concurrently. */
  def mergeCommit(spark: SparkSession, root: String,
      stages: Map[String, (DataFrame, Seq[String])],
      statsCols: Map[String, Seq[String]] = Map.empty): (Long, Map[String, MergeStats]) = {
    require(stages.nonEmpty, "snapshot mergeCommit: no tables given")
    stages.keys.foreach(requireCommittableName)
    val fs = fsOf(spark, root)
    val base = current(fs, root)
    val baseTables = base.map(_._2).getOrElse(Map.empty)
    val merged = graft.operators.Par.inParallel(stages.toSeq.map {
      case (t, (stage, keys)) => () =>
        // merge against the RESOLVED view: tombstoned rows are gone and
        // stay gone (the rewrite below also clears the tombstones)
        val existing =
          if (baseTables.contains(t)) Some(readResolved(spark, root, baseTables, t))
          else None
        val (rel, stats) = Upsert.writeMerge(existing, stage, keys)(
          writeData(spark, root, t, _, statsCols.getOrElse(t, Seq.empty)))
        (t, rel, stats)
    })
    val v = commitManifest(fs, root,
      merged.map { case (t, rel, _) => t -> rel }.toMap,
      expectBase = Some(base.map(_._1).getOrElse(0L)),
      removals = stages.keySet.map(delKey))
    (v, merged.map { case (t, _, s) => t -> s }.toMap)
  }

  /** Drop all but the newest `keepLast` complete versions: older commit
    * files and every data directory no retained version references.
    * Run only while no commit is in flight — an uncommitted writer's
    * data dirs look unreferenced and would be swept.
    *
    * SAME-ROOT consumer cursors are honored: when a `_curate` marker
    * table exists ([[graft.Pipeline.curateFollow]] — its `src_version`
    * names THIS root's versions), every version >= the lagging-most
    * cursor is retained too, because the consumer's next sync replays
    * [[changesBetween]] over (cursor, head] and a swept version in that
    * range fails it loudly. An abandoned appId therefore pins history —
    * release it by deleting its marker row (a replace commit on
    * `_curate`) before vacuuming, or pass `respectCursors = false` to
    * sweep regardless (accepting that lagging followers must
    * re-bootstrap). CROSS-root consumers ([[Replica.sync]] — cursors
    * live in the DESTINATION root) are invisible here by construction;
    * their contract stays "vacuum the source only past every replica's
    * cursor", scheduled by the operator. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1,
      respectCursors: Boolean = true): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = fsOf(spark, root)
    val all = versions(fs, root)
    val parsed = all.flatMap { case (v, p) =>
      parseManifest(fs, p).map(m => (v, p, m))
    }
    // retention is per-CHAIN: the newest keepLast MAIN manifests (branch
    // manifests interleave in the version sequence but are not main
    // history), plus every LIVE branch's head — a branch's data must
    // survive any number of main commits and vacuums until it is merged
    // or dropped. Non-head branch manifests are sweepable (branches
    // promise a head, not time travel).
    val mains = parsed.filterNot(_._3.contains(BranchKey))
    val liveBranchHeads = parsed
      .flatMap(t => t._3.get(BranchKey).map(_ -> t))
      .groupBy(_._1).values.toSeq
      .map(_.head) // parsed is newest-first: head = the branch's head
      // dropped-check on the RESOLVED head (a re-created branch's delta
      // carries the dropped marker only as a removal entry)
      .collect { case (_, t)
          if !resolveManifest(fs, root, t._3).contains(BranchDroppedKey) => t }
    val cursorFloor: Option[Long] =
      if (respectCursors && current(fs, root).exists(_._2.contains("_curate")))
        read(spark, root, "_curate")
          .agg(org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.col("src_version"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getLong(0))
          }
      else None
    val retained = mains.filter { case (v, _, _) =>
      cursorFloor.exists(v >= _)
    } ++ mains.take(keepLast) ++ liveBranchHeads
    // a retained DELTA manifest resolves through its full base: that
    // base manifest file must survive the sweep, and the data dirs it
    // contributes to the resolved state are live. Keep-set compares by
    // VERSION (listStatus paths are scheme-qualified, constructed paths
    // are not — Path equality would silently sweep the bases).
    val baseVersions = retained.flatMap { case (_, _, m) =>
      m.get(DeltaBaseKey).map(_.toLong)
    }.toSet
    val keptVersions = retained.map(_._1).toSet ++ baseVersions
    // a kept full-base manifest is REFERENCED TOO: its file survives the
    // sweep (a retained delta resolves through it), so readAt at that
    // version must keep working — without its own resolved rels in the
    // keep-set, a table the delta later replaced would have its base
    // segments swept and the visibly-surviving version would fail
    // MID-READ with missing parquet paths instead of the clean
    // 'no version' error a swept manifest gives.
    val keptBaseManifests = parsed.collect {
      case t @ (v, _, _) if baseVersions.contains(v) => t
    }
    val referenced = (retained ++ keptBaseManifests)
      .flatMap { case (_, _, m) => resolveManifest(fs, root, m).valuesIterator }
      .filterNot(_.isEmpty) // branch meta entries carry non-path values
      .flatMap(relDirs).toSet
    all.collect { case (v, p) if !keptVersions.contains(v) => fs.delete(p, false) }
    val dataRoot = new Path(root, DataDir)
    if (fs.exists(dataRoot))
      for {
        tableDir <- fs.listStatus(dataRoot).toSeq
        child <- fs.listStatus(tableDir.getPath).toSeq
        rel = s"$DataDir/${tableDir.getPath.getName}/${child.getPath.getName}"
        if !referenced.contains(rel)
      } fs.delete(child.getPath, true)
    // Prune the checkpoint's branch inventory of entries whose head
    // manifest this sweep just deleted (a dropped branch's heads are
    // never retained): the inventory otherwise only GROWS — every
    // checkpoint rewrite carries the dangling `B name version` forever
    // and every chainHead lookup on that name pays a wasted
    // parseManifest of a deleted file before returning None. Entries
    // ABOVE the checkpoint's max are structurally impossible (inventory
    // is complete as of max), so keptVersions is the full keep test.
    // Vacuum's contract (no commit in flight) covers the rewrite race.
    readCheckpoint(fs, root).foreach { ck =>
      ck.branches.foreach { inv =>
        val pruned = inv.filter { case (_, v) => keptVersions.contains(v) }
        if (pruned.size != inv.size)
          writeCheckpoint(fs, root, ck.copy(branches = Some(pruned)))
      }
    }
  }

  // ---- BRANCHES (write-audit-publish) --------------------------------

  /** Newest complete manifest of a LIVE branch (None once dropped). */
  private def branchHead(fs: FileSystem, root: String,
      branch: String): Option[(Long, Map[String, String])] =
    chainHead(fs, root, Some(branch))
      .filterNot(_._2.contains(BranchDroppedKey))

  private def requireBranchName(branch: String): Unit =
    require(branch.nonEmpty && branch != "main" &&
      !branch.exists(c => c == '~' || c == '\t' || c == '\n' || c == ','),
      s"snapshot: invalid branch name '$branch'")

  /** Live branch names, newest-forked first. The dropped-marker check
    * runs on each branch's RESOLVED head: a re-created branch's delta
    * head carries `BranchDroppedKey → removed`, which only resolution
    * can tell apart from a live marker. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    versions(fs, root)
      .flatMap { case (_, p) => parseManifest(fs, p) }
      .flatMap(m => m.get(BranchKey).map(_ -> m))
      .groupBy(_._1).toSeq
      .collect {
        case (b, heads)
            if !resolveManifest(fs, root, heads.head._2).contains(BranchDroppedKey) => b
      }
      .sorted
  }

  /** Fork a named BRANCH from the current main head — the
    * write-audit-publish (WAP) primitive: a pipeline writes its output
    * to a branch, validation queries read the branch, and only
    * [[mergeBranch]] makes it visible to main readers; a failed audit
    * just [[dropBranch]]es. The fork is O(1) — one manifest copying the
    * head's entries (data dirs are immutable and shared; nothing is
    * copied); the branch records its fork point for the fast-forward
    * check. Main and branch commits interleave freely in the global
    * version sequence without seeing each other. */
  def createBranch(spark: SparkSession, root: String, branch: String): Long = {
    requireBranchName(branch)
    val fs = fsOf(spark, root)
    require(branchHead(fs, root, branch).isEmpty,
      s"snapshot: branch '$branch' already exists at $root")
    val base = current(fs, root)
    val baseV = base.map(_._1).getOrElse(0L)
    // the branch chain's base is its own newest manifest — after a drop
    // that manifest carries the dropped marker and stale fork-state; a
    // re-created branch must fork CLEANLY from main's head, so the new
    // manifest replaces every entry and clears the marker
    val priorKeys = chainHead(fs, root, Some(branch))
      .map(_._2.keySet).getOrElse(Set.empty)
    val fork = base.map(_._2).getOrElse(Map.empty) ++
      Map(BranchKey -> branch, BranchBaseKey -> baseV.toString)
    commitManifestOn(fs, root, Some(branch), fork,
      expectBase = None, removals = priorKeys -- fork.keySet)
  }

  /** Table → absolute data path(s) at `branch`'s head (the [[tables]]
    * shape). Throws if the branch does not exist or was dropped. */
  def branchTables(spark: SparkSession, root: String, branch: String): Map[String, String] =
    branchRels(spark, root, branch)
      .filter { case (t, _) => !isMetaKey(t) }
      .map { case (t, rel) =>
        t -> relDirs(rel).map(new Path(root, _).toString).mkString(",")
      }

  private def branchRels(spark: SparkSession, root: String,
      branch: String): Map[String, String] = {
    requireBranchName(branch)
    branchHead(fsOf(spark, root), root, branch).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot: no branch '$branch' at $root (have: ${
          branches(spark, root).mkString(", ")})"))
  }

  /** Read one table at `branch`'s head (tombstones resolved — the
    * [[read]] semantics on the branch chain). */
  def readBranch(spark: SparkSession, root: String, branch: String,
      table: String): DataFrame = {
    requireCommittableName(table)
    val byName = branchRels(spark, root, branch)
    if (!byName.contains(table))
      throw new IllegalArgumentException(
        s"snapshot: no table '$table' on branch '$branch' at $root (have: ${
          byName.keys.toSeq.filterNot(isMetaKey).sorted.mkString(", ")})")
    readResolved(spark, root, byName, table)
  }

  /** Atomically publish new contents for `newTables` ON the branch
    * (the [[commit]] semantics — replace, tombstones cleared); main and
    * other branches are untouched. Data dirs are written first and the
    * branch manifest claims the next global slot. */
  def commitBranch(spark: SparkSession, root: String, branch: String,
      newTables: Map[String, DataFrame],
      statsCols: Map[String, Seq[String]] = Map.empty): Long = {
    require(newTables.nonEmpty, "snapshot commitBranch: no tables given")
    newTables.keys.foreach(requireCommittableName)
    requireBranchName(branch)
    val fs = fsOf(spark, root)
    val head = branchHead(fs, root, branch).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no branch '$branch' at $root — createBranch first"))
    val written = newTables.map { case (t, df) =>
      t -> writeData(spark, root, t, df, statsCols.getOrElse(t, Seq.empty))
    }
    commitManifestOn(fs, root, Some(branch), written,
      expectBase = Some(head._1),
      removals = newTables.keySet.map(delKey))
  }

  /** FAST-FORWARD publish: make `branch`'s head the new MAIN head — the
    * "publish" step of write-audit-publish. Sound only while main still
    * sits at the branch's fork point (nothing to reconcile); if main
    * advanced since the fork this fails LOUDLY (a 3-way merge is a
    * policy decision, not something a storage layer should improvise) —
    * re-fork and re-apply. The branch stays live (pointing at the same
    * state now shared with main); drop it when done. Returns the new
    * main version. */
  def mergeBranch(spark: SparkSession, root: String, branch: String): Long = {
    requireBranchName(branch)
    val fs = fsOf(spark, root)
    val (headV, headM) = branchHead(fs, root, branch).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no branch '$branch' at $root"))
    val forkBase = headM.get(BranchBaseKey).map(_.toLong).getOrElse(
      throw new IllegalStateException(
        s"snapshot: branch '$branch' head v$headV lacks a fork-base record"))
    val mainNow = current(fs, root)
    val mainV = mainNow.map(_._1).getOrElse(0L)
    if (mainV != forkBase) throw new IllegalStateException(
      s"snapshot mergeBranch conflict at $root: branch '$branch' forked from " +
        s"main v$forkBase but main is now v$mainV — re-fork and re-apply")
    val mainMap = mainNow.map(_._2).getOrElse(Map.empty)
    val branchMap = headM - BranchKey - BranchBaseKey - BranchDroppedKey
    // entries main holds that the branch dropped (e.g. tombstone shadows
    // cleared by a branch replace) must not resurrect through the merge
    commitManifestOn(fs, root, None, branchMap,
      expectBase = Some(forkBase),
      removals = mainMap.keySet -- branchMap.keySet)
  }

  /** Delete a branch: its head stops resolving, its manifests and any
    * data dirs only it referenced become [[vacuum]]-sweepable. The
    * abandoned-audit half of write-audit-publish. */
  def dropBranch(spark: SparkSession, root: String, branch: String): Long = {
    requireBranchName(branch)
    val fs = fsOf(spark, root)
    val head = branchHead(fs, root, branch).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no branch '$branch' at $root"))
    commitManifestOn(fs, root, Some(branch),
      Map(BranchDroppedKey -> ""), expectBase = Some(head._1))
  }

  /** Write `df` to a fresh immutable data dir; returns the relative path
    * (not yet visible to readers — only a manifest makes it so). With
    * `statsCols` nonempty a per-FILE min/max sidecar is derived and
    * written into the dir before it becomes visible — the data-skipping
    * layer next to Hive partitioning and Z-order (which cluster; this
    * PRUNES). Costs one extra scan of the newly written data at commit
    * time — O(batch), never O(table). */
  private def writeData(spark: SparkSession, root: String, table: String,
      df: DataFrame, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, bloomBits: Long = 1L << 20,
      onSegment: String => Unit = _ => ()): String = {
    // ',' joins segment dirs in manifest values, so names can't carry it
    require(table.nonEmpty && !table.exists(c => c == '/' || c == '\t' || c == '\n' || c == ','),
      s"snapshot: invalid table name '$table'")
    val rel = s"$DataDir/$table/${UUID.randomUUID().toString}"
    onSegment(rel)
    df.write.parquet(new Path(root, rel).toString)
    // record the written schema next to the data (still invisible):
    // segment-list readers union these instead of sampling footers
    SchemaSidecar.write(fsOf(spark, root), new Path(root, rel), df.schema)
    if (statsCols.nonEmpty) writeStats(spark, root, rel, statsCols)
    if (bloomCols.nonEmpty)
      // bits/item ≈ 10 → ~1% fpp at capacity; both knobs scale together
      writeBloom(spark, root, rel, bloomCols, (bloomBits / 10L).max(1L), bloomBits)
    rel
  }

  /** Of `root`, its data dir and the data dirs of `tables`, the ones
    * that exist now ([[discardSegments]] removes only dirs it created). */
  private def existingDirs(fs: FileSystem, root: String, tables: Seq[String]): Set[Path] = {
    val data = new Path(root, DataDir)
    (new Path(root) +: data +: tables.map(new Path(data, _))).filter(fs.exists).toSet
  }

  /** Delete the unpublished segment dirs `rels` of a failed commit, then
    * the parent dirs that did not exist before it (`existing`) and are
    * empty again, deepest first — the root's listing is as it was. */
  private def discardSegments(fs: FileSystem, root: String, rels: Seq[String],
      existing: Set[Path]): Unit = {
    rels.foreach(r => fs.delete(new Path(root, r), true))
    val parents = rels.map(r => new Path(root, r).getParent).distinct ++
      Seq(new Path(root, DataDir), new Path(root))
    parents.filterNot(existing).foreach { p =>
      Try(if (fs.listStatus(p).isEmpty) fs.delete(p, false))
    }
  }

  /** Sidecar name: the underscore prefix makes Spark's parquet reader
    * treat it as a hidden file, so data reads never see it. */
  private val StatsName = "_graft_stats"

  /** Column types the skipping stats support: ordering of the serialized
    * min/max must be reconstructible engine-independently. Dates
    * serialize ISO (lexicographic == chronological); numerics re-parse;
    * timestamps serialize EPOCH MICROS (zone-free — see [[statSer]]);
    * timestamp_ntz serializes `LocalDateTime.toString` (zone-free ISO)
    * and decimals serialize as exact `BigDecimal` strings — so money and
    * event-time columns carry skipping stats directly, no cents/epoch
    * cast needed. */
  private val StatsTypes = Set("tinyint", "smallint", "int", "bigint",
    "float", "double", "string", "date", "timestamp", "timestamp_ntz")

  /** Canonical ZONE-INDEPENDENT serialization of a stat bound of declared
    * type `t`, shared by the sidecar writer ([[writeStats]]) and the
    * probe side ([[readPrunedMulti]]). TIMESTAMP bounds serialize as
    * epoch micros: the previous `java.sql.Timestamp.toString` wall-time
    * form depended on the writer JVM's default zone (and was ambiguous
    * inside a DST fall-back overlap), so a root written and read under
    * different JVM/session zones could unsoundly SKIP files holding
    * matching rows. Every other supported type's natural string form is
    * already engine-independent. */
  private def statSer(t: String, v: Any): String = t match {
    case "timestamp" => String.valueOf(tsMicros(v))
    case _ => String.valueOf(v)
  }

  /** Epoch micros of a timestamp bound/probe in any shape callers hand
    * in: java.sql.Timestamp (what collect() returns under the default
    * java8API=false), java.time.Instant (java8API=true), an epoch-micros
    * long or its string form (the serialized sidecar bound), or — for
    * sidecars written before the micros format — the legacy
    * `Timestamp.toString` wall form, parsed under the JVM default zone
    * (exactly how those sidecars were written, so legacy roots keep
    * resolving on the machine convention that wrote them). */
  private def tsMicros(v: Any): Long = v match {
    case x: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(x)
    case x: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(x)
    case x: Long => x
    case x: Int => x.toLong
    case other =>
      val s = String.valueOf(other)
      if (s.nonEmpty && s.matches("[+-]?[0-9]+")) s.toLong
      else org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(java.sql.Timestamp.valueOf(s))
  }

  /** `decimal(p,s)` at any precision/scale is supported beside the fixed
    * [[StatsTypes]] names; everything else still rejects loudly. */
  private def statsSupported(t: String): Boolean =
    StatsTypes.contains(t) || t.startsWith("decimal(")

  /** Engine-independent ordering of two serialized stat bounds of
    * declared type `t` — the single comparator every stats consumer
    * (file pruning, metadata aggregates) folds with. */
  private def statCmp(t: String, a: String, b: String): Int = t match {
    case "tinyint" | "smallint" | "int" | "bigint" => a.toLong.compareTo(b.toLong)
    case "float" | "double" => a.toDouble.compareTo(b.toDouble)
    case "timestamp" => // epoch micros ([[statSer]]); legacy wall forms
      // from pre-micros sidecars parse through the same tsMicros funnel
      tsMicros(a).compareTo(tsMicros(b))
    case "timestamp_ntz" => // serialized LocalDateTime.toString (ISO-8601)
      java.time.LocalDateTime.parse(a).compareTo(java.time.LocalDateTime.parse(b))
    case d if d.startsWith("decimal") =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => a.compareTo(b) // string, date (ISO): lexicographic
  }

  private def statsPath(root: String, rel: String): Path =
    new Path(new Path(root, rel), StatsName)

  /** Pseudo-column name of the per-file / per-segment ROW-COUNT stat
    * lines ('~' can't be a real committed column's first char for any
    * column a caller can ask stats for — the write APIs guard '~' in
    * table names and [[statsAgg]] rejects it in column names). */
  private val CountStat = "~count"

  /** Pseudo-file key of segment-level stat lines: the segment's total
    * row count ('~total', '~count') and the tracked-column manifest
    * ('~total', '~cols') — the latter is what lets [[statsAgg]] tell a
    * tracked-but-all-NULL column (sound: min/max are NULL) from an
    * untracked one (unsound: must throw). */
  private val TotalKey = "~total"
  private val ColsStat = "~cols"

  /** Derive per-file min/max for `cols` (plus per-file and segment-total
    * row counts, and the tracked-column manifest) from the
    * (just-written, still invisible) data dir and persist them next to
    * the data. One aggregate over `_metadata.file_name` — map-side
    * combined, collects O(files × cols) rows. */
  private def writeStats(spark: SparkSession, root: String, rel: String,
      cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val d = SchemaSidecar.readParquet(spark, new Path(root, rel).toString)
    cols.foreach { c =>
      val t = d.schema(c).dataType.simpleString
      require(statsSupported(t),
        s"snapshot stats: column '$c' has unsupported type $t (supported: ${
          StatsTypes.toSeq.sorted.mkString(", ")}, decimal(p,s))")
    }
    val aggs = count(lit(1)).as("__cnt") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val rows = d.groupBy(col("_metadata.file_name").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val types = cols.map(c => c -> d.schema(c).dataType.simpleString).toMap
    def enc(v: Any): String =
      java.net.URLEncoder.encode(String.valueOf(v), UTF_8.name())
    val lines = rows.flatMap { r =>
      val f = r.getAs[String]("__f")
      val cnt = r.getAs[Long]("__cnt")
      s"${enc(f)}\t${enc(CountStat)}\tbigint\t$cnt\t$cnt" +: cols.flatMap { c =>
        val lo = r.getAs[Any](s"__min_$c")
        val hi = r.getAs[Any](s"__max_$c")
        // an all-NULL file has no usable bounds: no line → never pruned
        if (lo == null || hi == null) None
        else Some(s"${enc(f)}\t${enc(c)}\t${types(c)}\t${
          enc(statSer(types(c), lo))}\t${enc(statSer(types(c), hi))}")
      }
    }
    // segment totals: row count (files with rows sum to it — empty part
    // files hold 0 rows by definition) and the tracked-column manifest
    val total = rows.map(_.getAs[Long]("__cnt")).sum
    val meta = Seq(
      s"${enc(TotalKey)}\t${enc(CountStat)}\tbigint\t$total\t$total",
      s"${enc(TotalKey)}\t${enc(ColsStat)}\tstring\t${enc(cols.mkString(","))}\t-")
    val all = meta ++ lines
    val fs = fsOf(spark, root)
    val out = fs.create(statsPath(root, rel), false)
    try out.write((Header +: all :+ s"END ${all.length}").mkString("\n").getBytes(UTF_8))
    finally out.close()
  }

  /** Sidecar of per-file BLOOM filters ([[writeBloom]]). */
  private val BloomName = "_graft_bloom"

  /** Column types the bloom sidecar supports. Integral columns insert
    * their long value; strings, timestamps and decimals insert
    * xxhash64(value) (seed 42, the `functions.xxhash64` default, which
    * hashes a timestamp's micros and a decimal's unscaled form) —
    * probe-side hashing must rebuild the identical Catalyst literal. */
  private val BloomTypes = Set("tinyint", "smallint", "int", "bigint",
    "string", "timestamp", "timestamp_ntz")

  private def bloomSupported(t: String): Boolean =
    BloomTypes.contains(t) || t.startsWith("decimal(")

  private def bloomPath(root: String, rel: String): Path =
    new Path(new Path(root, rel), BloomName)

  /** Derive a per-file Bloom filter for each of `cols` from the
    * just-written (still invisible) dir and persist them next to the
    * data — the POINT-LOOKUP skipping layer beside [[writeStats]]'
    * min/max ranges: a hash-distributed layout gives every file the
    * full [min, max] span (ranges prune nothing), but an equality probe
    * answers "might this file hold key k?" per file and skips the rest.
    * One aggregate over `_metadata.file_name` (Spark's own
    * BloomFilterAggregate, the engine that powers AQE runtime filters),
    * collecting O(files × cols × numBits/8) bytes — size the filter to
    * the driver: `numBits` defaults to 2^20 (128 KiB/file/column,
    * ~1% fpp at 100k distinct keys per file); production tables with
    * very many files budget bits accordingly (the sidecar is read
    * whole at probe time). */
  private def writeBloom(spark: SparkSession, root: String, rel: String,
      cols: Seq[String], expectedItems: Long, numBits: Long): Unit = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import org.apache.spark.sql.graft.BloomBridge
    val d = SchemaSidecar.readParquet(spark, new Path(root, rel).toString)
    val types = cols.map(c => c -> d.schema(c).dataType.simpleString).toMap
    cols.foreach { c =>
      require(bloomSupported(types(c)),
        s"snapshot bloom: column '$c' has unsupported type ${types(c)} " +
          s"(supported: ${BloomTypes.toSeq.sorted.mkString(", ")}, decimal(p,s))")
    }
    def input(c: String) = types(c) match {
      case "string" | "timestamp" | "timestamp_ntz" => xxhash64(col(c))
      case d if d.startsWith("decimal") => xxhash64(col(c))
      case _ => col(c).cast("long")
    }
    val aggs = cols.map(c =>
      BloomBridge.bloomAgg(input(c), expectedItems, numBits).as(s"__bf_$c"))
    val rows = d.groupBy(col("_metadata.file_name").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8.name())
    val b64 = java.util.Base64.getEncoder
    val lines = rows.flatMap { r =>
      val f = r.getAs[String]("__f")
      cols.flatMap { c =>
        Option(r.getAs[Array[Byte]](s"__bf_$c")).map(bytes =>
          s"${enc(f)}\t${enc(c)}\t${types(c)}\t${b64.encodeToString(bytes)}")
      }
    }
    val fs = fsOf(spark, root)
    val out = fs.create(bloomPath(root, rel), false)
    try out.write((Header +: lines.toSeq :+ s"END ${lines.length}").mkString("\n").getBytes(UTF_8))
    finally out.close()
  }

  /** (file name → (type, bloom bytes)) for `column`; None when the
    * sidecar is absent/torn or has nothing for the column — callers
    * MUST then read everything (skipping is an optimization). */
  private def fileBlooms(fs: FileSystem, root: String, rel: String,
      column: String): Option[Map[String, (String, Array[Byte])]] = {
    val p = bloomPath(root, rel)
    if (!fs.exists(p)) return None
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
        finally in.close()
      } catch { case _: IOException => return None }
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Header) return None
    if (!lines.last.startsWith("END ")) return None
    def dec(s: String): String = java.net.URLDecoder.decode(s, UTF_8.name())
    val b64 = java.util.Base64.getDecoder
    val entries = lines.tail.init.map(_.split("\t", -1)).collect {
      case Array(f, c, t, blob) if dec(c) == column =>
        dec(f) -> ((t, b64.decode(blob)))
    }
    if (entries.isEmpty) None else Some(entries.toMap)
  }

  /** The long a probe value inserts/probes under — MUST mirror
    * [[writeBloom]]'s input expression exactly (same xxhash64 seed). */
  private def bloomProbeHash(t: String, value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    def xx(lit: CLit): Long = XxHash64(Seq(lit), 42L).eval(null).asInstanceOf[Long]
    t match {
      case "string" => xx(CLit(String.valueOf(value)))
      case "timestamp" =>
        // same micros the column-side xxhash64 hashed: tsMicros accepts
        // a Timestamp/Instant (zone-free conversion), epoch micros, or
        // the legacy wall-time string form
        xx(CLit(tsMicros(value), org.apache.spark.sql.types.TimestampType))
      case "timestamp_ntz" =>
        val ldt = value match {
          case x: java.time.LocalDateTime => x
          case s => java.time.LocalDateTime.parse(
            String.valueOf(s).replace(' ', 'T'))
        }
        xx(CLit.create(ldt, org.apache.spark.sql.types.TimestampNTZType))
      case d if d.startsWith("decimal") =>
        // rebuild the exact Decimal(p,s) the column carried so the
        // unscaled form (what xxhash64 hashes) matches bit-for-bit
        val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(d)
        val bd = value match {
          case x: java.math.BigDecimal => x
          case x: BigDecimal => x.bigDecimal
          case s => new java.math.BigDecimal(String.valueOf(s))
        }
        xx(CLit.create(bd, dt))
      case _ => String.valueOf(value).toLong
    }
  }

  /** Read `table` keeping only the files whose Bloom filter says
    * `column` MIGHT contain `value` — the point-lookup twin of
    * [[readPruned]], effective where min/max ranges are not: a
    * hash-distributed or unsorted layout spans the whole key range in
    * every file, yet each file's filter still rejects absent keys, so
    * an equality probe touches ~1 file (plus the fpp share) instead of
    * the table. The result may contain non-matching rows from kept
    * files: apply the exact predicate on top (this method SKIPS, never
    * filters). False positives only — a file is never wrongly skipped.
    * Falls back to the full read for segments without a bloom sidecar
    * for `column`; tombstoned rows are resolved like every read path. */
  def readPrunedEq(spark: SparkSession, root: String, table: String,
      column: String, value: Any, version: Option[Long] = None): DataFrame = {
    requireCommittableName(table)
    val byName = version.map(v => relsAt(spark, root, v))
      .getOrElse(currentRels(spark, root))
    val rel = byName.getOrElse(table,
      throw new IllegalArgumentException(
        s"snapshot: no table '$table' at $root (have: ${
          byName.keys.toSeq.filterNot(isMetaKey).sorted.mkString(", ")})"))
    val fs = fsOf(spark, root)
    val filesPerSeg = relDirs(rel).map { seg =>
      val segPath = new Path(root, seg).toString
      fileBlooms(fs, root, seg, column) match {
        case None => Seq(segPath)
        case Some(blooms) =>
          blooms.collect {
            case (f, (t, bytes))
                if org.apache.spark.util.sketch.BloomFilter
                  .readFrom(new java.io.ByteArrayInputStream(bytes))
                  .mightContainLong(bloomProbeHash(t, value)) =>
              s"$segPath/$f"
          }.toSeq.sorted
      }
    }
    readResolved(spark, root, byName, table, Some(filesPerSeg))
  }

  /** (file name → (min, max)) for `column`, parsed from the sidecar; None
    * when the sidecar is absent/torn or carries nothing for the column —
    * callers MUST then fall back to reading everything. */
  private def fileStats(fs: FileSystem, root: String, rel: String,
      column: String): Option[Map[String, (String, String, String)]] = {
    val p = statsPath(root, rel)
    if (!fs.exists(p)) return None
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
        finally in.close()
      } catch { case _: IOException => return None }
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Header) return None
    if (!lines.last.startsWith("END ")) return None
    def dec(s: String): String = java.net.URLDecoder.decode(s, UTF_8.name())
    val entries = lines.tail.init.map(_.split("\t", -1)).collect {
      case Array(f, c, t, lo, hi) if dec(c) == column => dec(f) -> ((t, dec(lo), dec(hi)))
    }
    if (entries.isEmpty) None else Some(entries.toMap)
  }

  /** Read `table` (at `version`, or the newest commit) keeping only the
    * files whose recorded [min, max] for `column` intersects [lo, hi] —
    * manifest-level data skipping, the pruning layer partition dirs and
    * Z-order clustering don't give a plain-parquet snapshot. The result
    * may still contain non-matching rows from kept files: apply the
    * exact predicate on top (this method only SKIPS, it never filters).
    * Skipping is sound ONLY for range predicates on `column`: files
    * whose `column` values are all NULL are skipped (min/max ignore
    * NULLs, and NULL satisfies no range) — do not use the result to
    * answer IS NULL queries. Falls back to the full read when the commit
    * recorded no stats for `column` — pruning is an optimization, never
    * a correctness gate. */
  def readPruned(spark: SparkSession, root: String, table: String,
      column: String, lo: Any, hi: Any, version: Option[Long] = None): DataFrame =
    readPrunedMulti(spark, root, table, Seq((column, lo, hi)), version)

  /** Multi-predicate form of [[readPruned]]: keep only the files whose
    * recorded [min, max] intersects EVERY `(column, lo, hi)` box side —
    * per-file survivor sets intersect across predicates, so on a
    * Z-clustered layout ([[Cluster.clusteredCommit]]) a 2-D box read
    * touches O(box/file volume) files where a linearly-sorted layout
    * prunes on the leading column only. Same soundness contract as
    * [[readPruned]]: kept files may hold non-matching rows (apply the
    * exact predicate on top), all-NULL files are skipped (no IS NULL
    * probes), and a column with no recorded stats prunes nothing. */
  def readPrunedMulti(spark: SparkSession, root: String, table: String,
      preds: Seq[(String, Any, Any)], version: Option[Long] = None): DataFrame = {
    require(preds.nonEmpty, "readPrunedMulti: need at least one predicate")
    requireCommittableName(table)
    val byName = version.map(v => relsAt(spark, root, v))
      .getOrElse(currentRels(spark, root))
    val rel = byName.getOrElse(table,
      throw new IllegalArgumentException(
        s"snapshot: no table '$table' at $root (have: ${byName.keys.toSeq.sorted.mkString(", ")})"))
    val fs = fsOf(spark, root)
    def cmp(t: String, a: String, b: String): Int = statCmp(t, a, b)
    // per SEGMENT: a stats sidecar prunes that segment's files; a
    // segment without stats reads whole (soundness over savings).
    // None = "whole segment survives" (distinct from Some(all files):
    // a later predicate can still prune a Some set file-by-file, but a
    // statless segment must stay whole regardless of other predicates).
    val filesPerSeg = relDirs(rel).map { seg =>
      val segPath = new Path(root, seg).toString
      val survivors = preds.foldLeft(Option.empty[Set[String]]) {
        case (acc, (column, lo, hi)) =>
          fileStats(fs, root, seg, column) match {
            case None => acc // no stats for this column → cannot prune here
            case Some(stats) =>
              // probe bounds canonicalize PER LINE under the line's
              // declared type ([[statSer]]): a Timestamp probe compares
              // as zone-free micros, never as wall-time text
              val keep = stats.collect {
                case (f, (t, mn, mx))
                    if cmp(t, mx, statSer(t, lo)) >= 0 &&
                      cmp(t, mn, statSer(t, hi)) <= 0 => f
              }.toSet
              Some(acc.fold(keep)(_ intersect keep))
          }
      }
      survivors match {
        case None => Seq(segPath)
        case Some(keep) => keep.map(f => s"$segPath/$f").toSeq.sorted
      }
    }
    // merge-on-read deletes apply to every read path, pruned or not
    readResolved(spark, root, byName, table, Some(filesPerSeg))
  }

  /** ALL parsed stat lines of a segment's sidecar as (file, col, type,
    * lo, hi) — the raw form [[statsAgg]] folds; None when the segment
    * has no (or a torn) sidecar. */
  private def statsAllLines(fs: FileSystem, root: String,
      rel: String): Option[Seq[(String, String, String, String, String)]] = {
    val p = statsPath(root, rel)
    if (!fs.exists(p)) return None
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
        finally in.close()
      } catch { case _: IOException => return None }
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Header) return None
    if (!lines.last.startsWith("END ")) return None
    def dec(s: String): String = java.net.URLDecoder.decode(s, UTF_8.name())
    Some(lines.tail.init.map(_.split("\t", -1)).collect {
      case Array(f, c, t, lo, hi) => (dec(f), dec(c), t, dec(lo), dec(hi))
    })
  }

  /** METADATA-ONLY aggregate: `COUNT(*)` plus `MIN`/`MAX` of `cols` for
    * `table` (at `version`, or the head) answered entirely from the
    * manifest and the per-segment stats sidecars — ZERO data files
    * opened, O(segments) sidecar reads, driver-side folding of
    * O(files × cols) recorded bounds. The lakehouse fast path (Iceberg
    * and Delta answer these from snapshot metadata) that turns a 100 TB
    * `SELECT count(*), max(ts)` freshness probe into milliseconds.
    *
    * Result: one row — `table_rows` BIGINT, then `min_<c>`, `max_<c>`
    * typed as recorded at write. MIN/MAX ignore NULLs (SQL semantics:
    * all-NULL files write no bounds line; a tracked column with no
    * bounds anywhere yields NULL min/max, matching `MIN(col)` over an
    * all-NULL column).
    *
    * Loud, never wrong: throws if the table carries merge-on-read
    * tombstones (suppressed rows would make every stat a lie — fold
    * with [[compactTable]] first), if any segment was committed without
    * a count-bearing stats sidecar, or if a requested column was not in
    * that commit's `statsCols` (untracked ≠ all-NULL — only the
    * tracked-column manifest can tell them apart). */
  def statsAgg(spark: SparkSession, root: String, table: String,
      cols: Seq[String] = Seq.empty, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    requireCommittableName(table)
    cols.foreach(c => require(!c.startsWith("~"),
      s"snapshot statsAgg: bad column name '$c'"))
    val byName = version.map(v => relsAt(spark, root, v))
      .getOrElse(currentRels(spark, root))
    val rel = byName.getOrElse(table,
      throw new IllegalArgumentException(
        s"snapshot statsAgg: no table '$table' at $root (have: ${
          byName.keys.toSeq.filterNot(isMetaKey).sorted.mkString(", ")})"))
    require(!byName.contains(delKey(table)),
      s"snapshot statsAgg: table '$table' carries merge-on-read tombstones — " +
        "metadata stats would count suppressed rows; compactTable first")
    val fs = fsOf(spark, root)
    def cmp(t: String, a: String, b: String): Int = statCmp(t, a, b)
    var totalRows = 0L
    // col -> (type, lo, hi); None bounds = tracked but all-NULL so far
    val folded = scala.collection.mutable.LinkedHashMap[String, (String, Option[(String, String)])]()
    relDirs(rel).foreach { seg =>
      val lines = statsAllLines(fs, root, seg).getOrElse(throw new IllegalStateException(
        s"snapshot statsAgg: segment '$seg' of '$table' has no stats sidecar — " +
          "commit with statsCols (or compactTable with them) to enable metadata aggregates"))
      val segTotal = lines.collectFirst {
        case (TotalKey, CountStat, _, lo, _) => lo.toLong
      }.getOrElse(throw new IllegalStateException(
        s"snapshot statsAgg: segment '$seg' of '$table' predates count-bearing " +
          "sidecars — compactTable (or re-commit) to refresh its stats"))
      totalRows += segTotal
      val tracked = lines.collectFirst {
        case (TotalKey, ColsStat, _, lo, _) => lo.split(',').filter(_.nonEmpty).toSet
      }.getOrElse(Set.empty[String])
      cols.foreach { c =>
        require(tracked.contains(c),
          s"snapshot statsAgg: column '$c' was not in segment '$seg''s statsCols — " +
            "untracked columns have no recorded bounds")
        lines.foreach {
          case (f, `c`, t, lo, hi) if f != TotalKey =>
            folded.get(c) match {
              case None => folded(c) = (t, Some((lo, hi)))
              case Some((t0, None)) =>
                require(t0 == t, s"snapshot statsAgg: column '$c' type drifts ($t0 vs $t)")
                folded(c) = (t, Some((lo, hi)))
              case Some((t0, Some((lo0, hi0)))) =>
                require(t0 == t, s"snapshot statsAgg: column '$c' type drifts ($t0 vs $t)")
                folded(c) = (t,
                  Some((if (cmp(t, lo, lo0) < 0) lo else lo0,
                        if (cmp(t, hi, hi0) > 0) hi else hi0)))
            }
          case (_, `c`, t, _, _) => // segment-meta line for c: pin the type
            if (!folded.contains(c)) folded(c) = (t, None)
          case _ => ()
        }
        if (!folded.contains(c)) {
          // tracked but no bounds line in any file yet: all-NULL column.
          // Type comes from the segment schema (cheap sidecar read).
          val t = segmentSchema(spark, root, seg).apply(c).dataType.simpleString
          folded(c) = (t, None)
        }
      }
    }
    // reconstruct a typed value from the serialized bound: timestamps
    // come back from zone-free micros (timestamp_micros), never from a
    // wall-time string cast under the session zone
    def boundCol(t: String, v: String): org.apache.spark.sql.Column =
      if (t == "timestamp")
        org.apache.spark.sql.functions.timestamp_micros(lit(tsMicros(v)))
      else lit(v).cast(t)
    val outCols = lit(totalRows).as("table_rows") +: cols.map { c =>
      folded(c) match {
        case (t, Some((lo, _))) => boundCol(t, lo).as(s"min_$c")
        case (t, None) => lit(null).cast(t).as(s"min_$c")
      }
    } ++: cols.map { c =>
      folded(c) match {
        case (t, Some((_, hi))) => boundCol(t, hi).as(s"max_$c")
        case (t, None) => lit(null).cast(t).as(s"max_$c")
      }
    }
    spark.range(1).select(outCols: _*)
  }

  /** The key tuples currently tombstone-SHADOWED for `table`: every key
    * a merge-on-read delete or upsert has touched since the table's
    * creation or last fold (compaction/replace clears the shadow), one
    * row per key, O(touched keys). None when no shadow exists. A
    * base+delta consumer (e.g. a serving index following a mutating
    * corpus, [[graft.operators.IndexLifecycle.serveFollow]]) anti-joins
    * this against its frozen base and unions the live delta rows —
    * union with the table's current keys to also cover rows that
    * arrived in the table's CREATION commit, whose upsert keys are
    * deliberately not shadowed (see [[applyChanges]]). */
  def shadowedKeys(spark: SparkSession, root: String, table: String): Option[DataFrame] = {
    requireCommittableName(table)
    tombstoneKeys(spark, root, currentRels(spark, root), table)
      .map(_.drop(CovCol))
  }

  /** Feed metadata column: 'insert' | 'delete'. */
  val ChangeTypeCol = "_change_type"
  /** Feed metadata column: the version that produced the change. */
  val CommitVersionCol = "_commit_version"

  /** INCREMENTAL CHANGE FEED: the row-level changes `table` underwent
    * over versions (fromVersion, toVersion], as the table's columns (at
    * toVersion's schema, older rows NULL-backfilled) plus
    * [[ChangeTypeCol]] and [[CommitVersionCol]]. The feed reads ONLY
    * the segments those versions APPENDED plus the O(deleted keys)
    * tombstone shadows — never the table body — so its cost is
    * O(changes), the CDC shape a 100 TB downstream (index maintenance,
    * replication, cache invalidation) needs; a version-diff by key
    * ([[graft.queries.EtlQueries]] etl_table_diff) answers the same
    * question at O(table) when history has been folded away.
    *
    * Per version v in range:
    *   - INSERTS: the rows of v's appended segments that v's own
    *     tombstone state serves — an upsert's batch IS emitted (its
    *     coverage stops just before the batch), an append of a
    *     [[deleteWhere]]-erased key is NOT (suppressed at birth);
    *   - DELETES: the keys whose tombstone coverage INCREASED at v (an
    *     erasure, or an upsert suppressing the key's prior versions) —
    *     key columns populated, every other column NULL.
    * An upsert therefore emits delete(key) + insert(new row) for EVERY
    * batch key — including keys that were not previously live, whose
    * delete events are no-ops on apply. That conservatism is the
    * O(changes) trade: deciding prior liveness would read the table
    * body, exactly what the feed exists to avoid (a consumer that needs
    * the insert/update split joins the feed against its own
    * materialization, which it holds anyway). Applying each version's
    * deletes-then-inserts to a materialization of fromVersion
    * reproduces toVersion exactly. `fromVersion = 0` feeds from table
    * creation.
    *
    * Throws if any step in range REPLACED or compacted the table —
    * those rewrite history instead of appending to it; schedule feed
    * consumption before folds, like every log-structured store. */
  def changesBetween(spark: SparkSession, root: String, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    requireCommittableName(table)
    require(fromVersion >= 0L && fromVersion <= toVersion,
      s"snapshot changesBetween: bad version range [$fromVersion, $toVersion]")
    import org.apache.spark.sql.functions.{col, lit}
    // branch manifests share the version sequence but are not main
    // history: they contribute no main-chain change and are skipped;
    // consecutive MAIN versions pair up across them. Endpoints must be
    // main versions (cursors recorded by main-chain consumers are).
    def relsOfMain(v: Long): Option[Map[String, String]] =
      if (v == 0L) Some(Map.empty)
      else {
        val m = relsAt(spark, root, v)
        if (m.contains(BranchKey)) None else Some(m)
      }
    def relsOf(v: Long): Map[String, String] =
      relsOfMain(v).getOrElse(throw new IllegalArgumentException(
        s"snapshot changesBetween: version $v at $root is a branch " +
          "commit, not main history"))
    val toRels = relsOf(toVersion)
    val toRel = toRels.getOrElse(table,
      throw new IllegalArgumentException(
        s"snapshot changesBetween: no table '$table' at $root version $toVersion"))
    val schema = mergedSchema(spark, root, toRel)
    Seq(ChangeTypeCol, CommitVersionCol).foreach { c =>
      require(!schema.fieldNames.contains(c),
        s"snapshot changesBetween: table '$table' column '$c' collides with feed metadata")
    }
    // align a step's frame (possibly at an older, narrower schema) to
    // toVersion's schema, then stamp the metadata columns
    def shaped(df: DataFrame, changeType: String, v: Long): DataFrame = {
      val cols = schema.fields.map { f =>
        if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
        // cast only on a REAL type difference — a cast between types
        // differing only in nested nullability is unresolvable
        // (catalogString renders types without nullability flags)
        else if (df.schema(f.name).dataType.catalogString == f.dataType.catalogString)
          col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      }
      df.select(cols.toSeq: _*)
        .withColumn(ChangeTypeCol, lit(changeType))
        .withColumn(CommitVersionCol, lit(v))
    }
    relsOf(fromVersion) // endpoint validation (throws on a branch version)
    val mainVs = fromVersion +: ((fromVersion + 1L) to toVersion)
      .filter(v => relsOfMain(v).isDefined)
    val parts = mainVs.sliding(2).toSeq.collect { case Seq(p, v) => (p, v) }
      .flatMap { case (prevV, v) =>
      val prev = relsOf(prevV)
      val cur = relsOf(v)
      val oldSegs = prev.get(table).map(relDirs).getOrElse(Nil)
      val newSegs = cur.get(table).map(relDirs).getOrElse(Nil)
      require(newSegs.take(oldSegs.length) == oldSegs,
        s"snapshot changesBetween: table '$table' was replaced or compacted at " +
          s"version $v — the change feed covers append/delete/upsert history only")
      val inserts: Option[DataFrame] =
        if (newSegs.length == oldSegs.length) None
        else {
          // read ONLY the appended segments; ordinals stay global so the
          // version's own coverage-scoped tombstones resolve correctly
          val files = newSegs.zipWithIndex.map { case (s, i) =>
            if (i < oldSegs.length) Seq.empty[String]
            else Seq(new Path(root, s).toString)
          }
          Some(shaped(readResolved(spark, root, cur, table, Some(files)), "insert", v))
        }
      val deletes: Option[DataFrame] =
        if (prev.get(delKey(table)) == cur.get(delKey(table))) None
        else tombstoneKeys(spark, root, cur, table).flatMap { tn =>
          val oldCov = "__graft_cov_prev"
          val grown = tombstoneKeys(spark, root, prev, table) match {
            case None => tn
            case Some(to0) =>
              val keys = tn.columns.filterNot(_ == CovCol).toSeq
              tn.join(to0.withColumnRenamed(CovCol, oldCov), keys, "left_outer")
                .filter(col(oldCov).isNull || col(CovCol) > col(oldCov))
                .drop(oldCov)
          }
          Some(shaped(grown.drop(CovCol), "delete", v))
        }
      // deletes first: applying a version's events in feed order must
      // reproduce its state, and an upsert's delete precedes its insert
      deletes.toSeq ++ inserts.toSeq
    }
    val outCols = (schema.fieldNames.toSeq :+ ChangeTypeCol :+ CommitVersionCol).map(col)
    parts.reduceOption(_.unionByName(_))
      .getOrElse(shaped(readRel(spark, root, toRel).filter(lit(false)), "insert", toVersion)
        .filter(lit(false)))
      .select(outCols: _*)
  }

  /** How long a committer waits for an in-flight claim on its target
    * slot to complete before giving up (overridable for tests). */
  private[graft] var claimWaitMs: Long = 30000L

  /** Claim the next version slot with `updates` layered over the target
    * chain's newest complete manifest — NEVER skipping an in-flight
    * claim. Skipping past a TORN slot is the lost-update race: a slow
    * writer holding slot N (file created, body still flushing — it
    * parses as torn) would let us claim N+1 layered over a base that
    * excludes N, permanently shadowing N's tables the moment it
    * completes, even though both commits "succeeded". So while the
    * NEWEST slot is torn we wait for its claimant to complete (our base
    * then advances — `expectBase` callers abort as stale, blind callers
    * retry on the new base). A claim that never completes (its writer
    * crashed) blocks committers until `claimWaitMs`, then this throws —
    * loud, not silent; [[vacuum]] sweeps the dead claim file and
    * unblocks the slot.
    *
    * Version slots are GLOBAL across main and every branch (one
    * monotone sequence — what makes any committed version addressable
    * by [[readAt]]); each chain's base/expectBase arithmetic sees only
    * its own manifests, so a complete other-chain manifest above our
    * head is simply claimed past, while a torn one is waited on like
    * any in-flight claim. On a branchless root every slot is main and
    * this degenerates to exactly the old claim-baseV+1 protocol. */
  private def commitManifest(fs: FileSystem, root: String,
      updates: Map[String, String], expectBase: Option[Long],
      removals: Set[String] = Set.empty): Long =
    commitManifestOn(fs, root, None, updates, expectBase, removals)

  /** Newest COMPLETE manifest of `branch`'s chain (None = main), with
    * its RESOLVED table map. Unlike [[branchHead]] this sees dropped
    * heads — the raw chain lookup. Branch resolution rides the
    * checkpoint's branch inventory when the root has carried one since
    * birth (`ck.branches` defined): the post-checkpoint window names
    * any newer head, else the inventory does — O(1) reads, the same
    * contract main heads got in r12. A legacy root (no inventory) falls
    * back to the O(commits) listing walk, never to a wrong answer. */
  private def chainHead(fs: FileSystem, root: String,
      branch: Option[String]): Option[(Long, Map[String, String])] =
    branch match {
      case None => current(fs, root)
      case Some(b) =>
        val st = scanState(fs, root)
        val raw: Option[(Long, Map[String, String])] = st.ck.flatMap(_.branches) match {
          case Some(inventory) =>
            st.windowBranches.get(b).orElse(inventory.get(b)).flatMap { hv =>
              parseManifest(fs, manifestPath(root, hv)).map(hv -> _)
            }
          case None =>
            versions(fs, root).view
              .flatMap { case (v, p) => parseManifest(fs, p).map(v -> _) }
              .find(_._2.get(BranchKey).contains(b))
        }
        raw.map { case (v, m) => v -> resolveManifest(fs, root, m) }
    }

  private def commitManifestOn(fs: FileSystem, root: String,
      branch: Option[String], updates: Map[String, String],
      expectBase: Option[Long],
      removals: Set[String] = Set.empty): Long = {
    val deadline = System.currentTimeMillis() + claimWaitMs
    while (true) {
      val st = scanState(fs, root)
      val (maxComplete, mainHead) = (st.maxComplete, st.mainHead)
      val base = branch match {
        case None => mainHead
        case _ => chainHead(fs, root, branch)
      }
      val baseV = base.map(_._1).getOrElse(0L)
      expectBase.foreach { e =>
        if (baseV != e) throw new IllegalStateException(
          s"snapshot commit conflict at $root: expected base version $e, found $baseV")
      }
      val merged = (base.map(_._2).getOrElse(Map.empty) ++ updates) -- removals
      // Raw manifest body: a DELTA against the chain's last FULL
      // manifest when the cumulative diff fits the budget — so a
      // streaming sink's per-micro-batch commit writes O(changed
      // tables) text, not the full O(tables × segments) map re-encoded
      // — else the FULL merged map (first commit on the chain, diff
      // outgrew [[FullDeltaMax]], or the head manifest is unreadable).
      val rawBody: Map[String, String] = base match {
        case None => merged
        case Some((headV, headResolved)) =>
          parseManifest(fs, manifestPath(root, headV)) match {
            case None => merged // unreadable head — full is always sound
            case Some(headRaw) =>
              val fullBaseV = headRaw.get(DeltaBaseKey).map(_.toLong).getOrElse(headV)
              // carry the head's cumulative diff, fold this commit in
              var d = if (headRaw.contains(DeltaBaseKey)) headRaw - DeltaBaseKey
                      else Map.empty[String, String]
              updates.foreach { case (t, newRel) =>
                val appKey = DeltaAppPrefix + t
                headResolved.get(t) match {
                  case Some(oldRel) if newRel == oldRel => () // no-op entry
                  case Some(oldRel) if newRel.startsWith(oldRel + ",") =>
                    // an APPEND: record only the new segment names
                    val suffix = newRel.substring(oldRel.length + 1)
                    if (d.get(t).exists(_ != RemovedVal)) d += t -> s"${d(t)},$suffix"
                    else if (d.contains(appKey)) d += appKey -> s"${d(appKey)},$suffix"
                    else d += appKey -> suffix
                  case _ => // replace / create / resurrect: full new rel
                    d -= appKey
                    d += t -> newRel
                }
              }
              removals.foreach { t =>
                d -= (DeltaAppPrefix + t)
                d += t -> RemovedVal
              }
              // the chain tag must ride the RAW manifest — scanState and
              // vacuum classify chains without resolving
              branch.foreach(b => d += BranchKey -> b)
              // rotate to FULL when the delta stops paying for itself:
              // past the entry budget, or its TEXT is no longer well
              // under the full map's (an append-heavy carried diff can
              // be 1 entry yet carry the whole segment list)
              def textLen(m: Map[String, String]): Long =
                m.iterator.map { case (k, v) => (k.length + v.length + 2).toLong }.sum
              val delta = d + (DeltaBaseKey -> fullBaseV.toString)
              if (d.size > FullDeltaMax || textLen(delta) * 2L > textLen(merged)) merged
              else delta
          }
      }
      // claim ONE PAST the newest complete manifest of ANY chain — on a
      // branchless root this is exactly the old claim-baseV+1 protocol
      // (main head IS the newest complete manifest), and torn junk parked
      // at a far-away slot stays ignored, while a torn claim on the
      // target slot itself is waited on (the adjacency that prevents the
      // lost-update shadowing described above)
      val next = maxComplete + 1L
      val target = manifestPath(root, next)
      fs.mkdirs(target.getParent)
      if (fs.exists(target)) {
        // The slot is claimed but not complete (complete would have
        // advanced maxComplete). Wait for the claimant rather than
        // jumping over it with a base that excludes it.
        if (System.currentTimeMillis() >= deadline) throw new IllegalStateException(
          s"snapshot commit: version slot $next at $root held by an incomplete claim " +
            s"for over ${claimWaitMs}ms — claimant crashed? run vacuum to clear it")
        Thread.sleep(50L)
      } else {
        val claimed =
          try {
            val out = fs.create(target, false)
            try {
              val body = (Header +:
                rawBody.toSeq.sorted.map { case (t, rel) => s"$t\t$rel" } :+
                s"END ${rawBody.size}").mkString("\n")
              out.write(body.getBytes(UTF_8))
              manifestBytesWritten.addAndGet(body.length.toLong)
            } finally out.close()
            true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case e: IOException if e.getMessage != null &&
              e.getMessage.contains("already exists") => false
          }
        if (claimed) {
          // Publish the checkpoint AFTER the durable commit (its loss is
          // harmless). Main commits inline their own table map; a branch
          // commit carries forward the main head resolved at claim time —
          // still the newest main <= next, since no commit can have landed
          // between our claim and now (any racer waits on our slot).
          val ckMain = branch match {
            case None => Some(next -> merged)
            case Some(_) => mainHead
          }
          // Branch inventory: complete as of `next` when it was complete
          // as of the old checkpoint (window heads folded in — they cover
          // commits whose own checkpoint write was lost), or on a fresh
          // root's very first commit. A legacy root (pre-inventory
          // checkpoint, or none with existing commits) stays None —
          // branch resolution there keeps the listing walk.
          val ckBranches: Option[Map[String, Long]] = (st.ck match {
            case Some(ck) => ck.branches
            case None => if (maxComplete == 0L) Some(Map.empty[String, Long]) else None
          }).map(_ ++ st.windowBranches ++ branch.map(_ -> next))
          writeCheckpoint(fs, root, Ckpt(next, ckMain, ckBranches))
          return next
        }
        // Lost the create race for this slot — loop: the winner's commit
        // will advance our base (or show up as the in-flight claim above).
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
