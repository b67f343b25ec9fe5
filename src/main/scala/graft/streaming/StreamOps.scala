package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

import graft.operators.{IndexFamily, IndexLifecycle}
import graft.sources.Replica.IngestMark

/** Streaming-first event operators. Each transform is written against an
  * unbounded DataFrame and runs identically in batch — the batch-gated
  * EventQueries reuse these bodies, and a readStream source can be piped
  * through them unchanged (windows and session_window are the same
  * Catalyst operators in both modes; only the watermark is
  * streaming-specific state-GC metadata).
  *
  * Scale notes: windowed/session aggregation state is partitioned by
  * (group keys) across executors; the watermark bounds state size — an
  * unbounded-lateness stream would otherwise accumulate state forever at
  * 100 TB/day rates. mapGroupsWithState keys state by user with the same
  * shuffle partitioning.
  */
object StreamOps {

  /** Typed view of the events table (ts in microseconds, tz-naive UTC). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Running per-user aggregate maintained by custom state. */
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Exact order-independent sum of a 2-dp double (same contract as the
    * batch queries — decimal in flight, double at the surface). */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Event-time watermark: tolerate `delay` of lateness, GC older state. */
  def withEventWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)

  /** Tumbling 1-hour counts/sums per event type. Unordered (streaming
    * sinks forbid global sort); batch callers add their own ORDER BY. */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding 1-hour windows every 15 minutes per event type — the
    * "smooth" form of [[hourlyStats]] a monitoring surface wants. Each
    * event lands in window/slide = 4 windows (Spark's window() generates
    * them inline — a 4× Expand before the aggregate, no self-join), then
    * the same partial+final hash aggregate as tumbling. */
  def slidingStats(events: DataFrame, size: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** 30-minute-gap sessions per user (session_window merges events whose
    * time is within the gap of the session's end; end bound exclusive). */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup by key within the watermark horizon —
    * duplicate events (at-least-once sources, retried producers) are
    * dropped as long as they arrive within the lateness bound, and the
    * dedup state is GC'd past it (unbounded state otherwise). */
  def dedupeStream(events: DataFrame, keys: Seq[String], delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** CDC-style streaming MERGE: each micro-batch upserts into a
    * key-hash-BUCKETED parquet warehouse table (update-on-match,
    * insert-on-miss, never delete). foreachBatch is the bridge between a
    * streaming source and a batch-only sink; exactly-once per key follows
    * from upsert idempotence even when a batch is replayed after failure.
    * The batch is deduped on the keys first — a micro-batch can carry
    * several versions of one key and MERGE requires unique stage keys.
    *
    * Scale: the bucketed layout means each micro-batch reads and rewrites
    * ONLY the bucket directories containing its keys — O(touched buckets)
    * I/O per batch, not O(table). A small CDC batch against a 100 TB
    * warehouse touches a handful of buckets instead of rewriting all of
    * it (the round-4 scale-killer). Read the table back with
    * [[graft.operators.Upsert.readBucketed]]. */
  def streamingUpsert(events: DataFrame, tablePath: String, keys: Seq[String],
      ord: Seq[org.apache.spark.sql.Column],
      nBuckets: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val stage = graft.operators.Transform.dedupeKeepLast(batch, keys, ord)
      graft.operators.Upsert.upsertParquetBucketed(
        batch.sparkSession, tablePath, stage, keys, nBuckets)
      ()
    }

  /** EXACTLY-ONCE streaming MERGE-ON-READ upsert — the O(batch)
    * complement of [[streamingUpsert]]'s bucketed merge-on-write: each
    * micro-batch keep-last-dedupes on its keys and publishes through
    * ONE atomic [[graft.sources.Snapshot.applyChanges]] commit pairing
    * the coverage-scoped upsert (zero stored data read or rewritten —
    * the shape for high-rate CDC against a 100 TB table, where even
    * touched-bucket rewrites are too much write amplification) with the
    * replayed-batch marker ([[ingestBatchExactlyOnce]]'s txnAppId
    * pattern) — at-least-once foreach-batch delivery becomes
    * exactly-once. Schedule [[graft.sources.Snapshot.compactTable]]
    * off the ingest path to fold the accumulated segments + shadow. */
  def streamingUpsertMor(events: DataFrame, root: String, table: String,
      keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      appId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertBatchMorExactlyOnce(batch, batchId, root, table, keys, ord, appId)
      ()
    }

  /** One micro-batch of [[streamingUpsertMor]] — public so replay
    * semantics are directly testable. Returns true if this call
    * published, false for a skipped replay. AppId semantics as
    * [[ingestBatchExactlyOnce]]. */
  def upsertBatchMorExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      table: String, keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      appId: String = "default"): Boolean = {
    import graft.sources.Snapshot
    val spark = batch.sparkSession
    val (base, marks) = IngestMark.pinned(spark, root)
    if (marks.get(appId).exists(_ >= batchId)) return false
    val stage = graft.operators.Transform.dedupeKeepLast(batch, keys, ord)
    Snapshot.applyChanges(spark, root, table, keys,
      upserts = Some(stage), deleteKeys = None,
      replaces = Map(IngestMark.advanced(spark, marks, appId, batchId)),
      expectBase = Some(base))
    true
  }

  /** STREAMING QUALITY GATE — expectations enforced on the stream (the
    * Delta-Live-Tables shape on this engine's snapshot store): every
    * micro-batch splits on the declared violation predicates
    * ([[graft.operators.Expectations]] semantics — NULL predicate = not
    * a violation); PASSING rows MERGE into `table`, VIOLATING rows
    * MERGE into `table + "_quarantine"` (tagged with their batch id —
    * nothing is silently dropped, the reject-capture contract of the
    * reference's FK splits), and the batch's audit report (one row per
    * check: violations/total/pass) accumulates in `table + "_audit"`.
    *
    * Exactly-once: the audit + marker publish atomically WITH the
    * main-table MERGE (one applyChanges commit), and the quarantine
    * MERGE before it is idempotent by key — so at-least-once
    * foreachBatch delivery yields exactly-once tables, quarantine, and
    * audit (a replayed batch short-circuits on the marker; a crash
    * between the two commits replays the idempotent quarantine MERGE).
    * Audit accumulation is a replace of a checks×batches-sized frame —
    * bounded, never data-sized. Key columns must be NON-NULL (both
    * MERGEs key on them — route NULL-key rows out upstream; a NOT-NULL
    * key check here would try to quarantine an unkeyable row and fail
    * loudly rather than corrupt). */
  def streamingAudited(rows: DataFrame, root: String, table: String,
      keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      checks: Seq[(String, org.apache.spark.sql.Column)],
      appId: String = "audited-ingest")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      auditedBatchExactlyOnce(batch, batchId, root, table, keys, ord, checks, appId)
      ()
    }

  /** STREAMING FOLLOWING-INDEX maintenance — the serving-index story
    * driven by a LIVE STREAM instead of the batch change feed: each
    * micro-batch of vectors MERGEs into the corpus snapshot store
    * exactly-once ([[upsertBatchMorExactlyOnce]] — O(batch), marker
    * paired atomically) and then [[graft.sources.Replica.sync]] pushes
    * the O(changes) net delta to the delta-index root, so
    * [[graft.operators.IndexLifecycle.serveFollow]] (any index family)
    * serves base + stream-fed delta with zero corpus re-reads.
    * `initialCursor` seeds the FIRST
    * sync at the base index's build version (the follow-mode contract:
    * the delta starts exactly where the frozen base stops); replayed
    * micro-batches short-circuit on the marker and the cursor makes the
    * trailing sync a no-op — exactly-once end to end under
    * at-least-once foreachBatch delivery. Folds
    * ([[graft.operators.IndexLifecycle.fold]]) run OFF this path,
    * exactly as they do for the batch-fed delta. */
  def streamingAnnFollow(vecs: DataFrame, root: String, table: String,
      keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      deltaRoot: String, deltaTable: String, initialCursor: Long,
      appId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      annFollowBatchExactlyOnce(batch, batchId, root, table, keys, ord,
        deltaRoot, deltaTable, initialCursor, appId)
      ()
    }

  /** One micro-batch of [[streamingAnnFollow]] — public so replay
    * semantics are directly testable. Returns true if the corpus MERGE
    * published (false = replay skip; the sync after a skip finds no
    * changes past its cursor and no-ops). */
  def annFollowBatchExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      table: String, keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      deltaRoot: String, deltaTable: String, initialCursor: Long,
      appId: String = "default"): Boolean = {
    val published = upsertBatchMorExactlyOnce(batch, batchId, root, table,
      keys, ord, appId)
    graft.sources.Replica.sync(batch.sparkSession, root, table,
      deltaRoot, deltaTable, keys, appId, initialCursor)
    published
  }

  /** The ACTIVE (frozen base, following delta) pair of a budget-folded
    * follow lifecycle: which base path serves, which delta root follows
    * it, the sync cursor the pair is seeded at (the base build version
    * for generation 0, the fold's handoff cursor after), and how many
    * folds have re-anchored the pair. */
  final case class AnnFollowPair(basePath: String, deltaRoot: String,
      cursor: Long, generation: Int)

  /** One micro-batch of the BUDGET-FOLDED streaming follow — the loop
    * closure of [[graft.operators.IndexLifecycle.followDeltaStats]]:
    * first the exactly-once MERGE + sync of [[annFollowBatchExactlyOnce]]
    * against the ACTIVE pair, then the fold TRIGGER — when the post-sync
    * delta overhead ((live + touched) / base) crosses `foldBudget`, the
    * family's [[graft.operators.IndexLifecycle.fold]] runs OFF the
    * serving path (the old pair keeps serving until this returns), and
    * the returned pair names the fresh frozen base plus a FRESH delta
    * root seeded at the fold's handoff cursor — the next micro-batch's
    * sync replays exactly the changes the fold did not absorb. Folding on
    * a timer wastes O(base) rebuild writes; never folding lets serve cost
    * creep without bound — the budget is the knob in between. Serving
    * equals a from-scratch rebuild across any number of folds
    * (StreamingSpec gates it for LSH and IVF). */
  def annFollowBatchBudgeted[Q](batch: DataFrame, batchId: Long, root: String,
      table: String, keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      deltaTable: String, pair: AnnFollowPair, family: IndexFamily[Q],
      workDir: String, foldBudget: Double,
      appId: String = "default"): AnnFollowPair = {
    annFollowBatchExactlyOnce(batch, batchId, root, table, keys, ord,
      pair.deltaRoot, deltaTable, pair.cursor, appId)
    val spark = batch.sparkSession
    // a fresh post-fold delta root stays EMPTY until its first
    // publishing sync (a replayed batch's trailing sync no-ops) —
    // nothing to measure, nothing to fold
    if (!graft.sources.Snapshot.tables(spark, pair.deltaRoot).contains(deltaTable))
      return pair
    val stats = IndexLifecycle.followDeltaStats(spark, family, pair.basePath,
      pair.deltaRoot, deltaTable)
    if (stats.syncCursor.isEmpty || !stats.shouldFold(foldBudget)) pair
    else {
      val gen = pair.generation + 1
      val newBase = s"$workDir/base-$gen"
      val cur = IndexLifecycle.fold(spark, family, pair.basePath, pair.deltaRoot,
        deltaTable, newBase)
      AnnFollowPair(newBase, s"$workDir/delta-$gen", cur, gen)
    }
  }

  /** STREAMING follow WITH the fold scheduler wired in: holds the active
    * [[AnnFollowPair]] across micro-batches (each batch may advance it
    * through [[annFollowBatchBudgeted]]) and exposes it to the serving
    * side — `serve` always answers from the CURRENT pair, so a fold
    * landing between two queries is invisible except for the smaller
    * delta. One instance per follower, like the query it wraps.
    *
    * RESTART-DURABLE: the active pair is PERSISTED under `workDir`
    * (`_active_pair`, temp-file + rename) the moment a fold advances
    * it, BEFORE any micro-batch can sync into the new generation's
    * delta root, and rehydrated lazily on the instance's first batch or
    * serve. Without this a streaming-query restart from its checkpoint
    * would resume at `initial` (generation 0) while post-fold batches —
    * marked done in the engine's offset log, never replayed — were
    * synced only into a later generation's delta root: serve() would
    * silently answer without them. A torn or unparsable marker fails
    * LOUDLY (it cannot tell generation 3 from 4; serving a stale pair
    * silently drops acknowledged writes). */
  final class AnnFollowFolding[Q](root: String, table: String, keys: Seq[String],
      ord: Seq[org.apache.spark.sql.Column], deltaTable: String,
      family: IndexFamily[Q],
      workDir: String, foldBudget: Double, initial: AnnFollowPair,
      appId: String = "default") {
    @volatile private var active: AnnFollowPair = initial
    @volatile private var hydrated = false
    def current: AnnFollowPair = active

    private val MarkerHeader = "graft-follow-pair-v1"
    private def markerPath = new org.apache.hadoop.fs.Path(workDir, "_active_pair")

    private def fsOf(spark: org.apache.spark.sql.SparkSession) =
      markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Persist `p` as the durable active pair. Called AFTER a fold
      * completes and BEFORE the in-memory flip — a crash in between
      * re-fires the (idempotent) fold trigger on the next batch, while
      * a crash before the write is safe because nothing has synced into
      * the new delta root yet (the old pair still serves every
      * acknowledged batch). */
    private def writeMarker(spark: org.apache.spark.sql.SparkSession,
        p: AnnFollowPair): Unit = {
      val fs = fsOf(spark)
      val tmp = new org.apache.hadoop.fs.Path(workDir,
        s"_active_pair.${java.util.UUID.randomUUID()}.tmp")
      val body = Seq(MarkerHeader, p.basePath, p.deltaRoot,
        p.cursor.toString, p.generation.toString, "END").mkString("\n")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(markerPath, false)
      if (!fs.rename(tmp, markerPath))
        throw new IllegalStateException(
          s"AnnFollowFolding: cannot publish active-pair marker at $markerPath")
    }

    /** Read the persisted pair; None when no fold has ever landed.
      * Malformed content throws — see the class scaladoc. */
    private def readMarker(
        spark: org.apache.spark.sql.SparkSession): Option[AnnFollowPair] = {
      val fs = fsOf(spark)
      if (!fs.exists(markerPath)) return None
      val in = fs.open(markerPath)
      val text =
        try scala.io.Source.fromInputStream(in,
          java.nio.charset.StandardCharsets.UTF_8.name()).mkString
        finally in.close()
      text.split("\n", -1).toSeq.filter(_.nonEmpty) match {
        case Seq(MarkerHeader, base, delta, cur, gen, "END") =>
          Some(AnnFollowPair(base, delta, cur.toLong, gen.toInt))
        case _ => throw new IllegalStateException(
          s"AnnFollowFolding: torn or foreign active-pair marker at " +
            s"$markerPath — refusing to serve a possibly-stale pair " +
            "(acknowledged post-fold batches would be silently missing); " +
            "restore or remove the marker deliberately")
      }
    }

    /** First-touch rehydration: a restarted process resumes at the
      * persisted pair instead of `initial`. A marker OLDER than the
      * in-memory pair (this instance folded past it but the marker
      * write was the durable one) never rolls `active` back. */
    private def ensureHydrated(spark: org.apache.spark.sql.SparkSession): Unit =
      if (!hydrated) synchronized {
        if (!hydrated) {
          readMarker(spark).foreach { p =>
            if (p.generation > active.generation) active = p
          }
          hydrated = true
        }
      }

    def writer(vecs: DataFrame)
        : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
      vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        ensureHydrated(batch.sparkSession)
        val next = annFollowBatchBudgeted(batch, batchId, root, table, keys,
          ord, deltaTable, active, family, workDir, foldBudget, appId)
        if (next.generation != active.generation)
          writeMarker(batch.sparkSession, next)
        active = next
        ()
      }
    def serve(spark: org.apache.spark.sql.SparkSession, q: Q): DataFrame = {
      ensureHydrated(spark)
      val p = active // one volatile read: base and delta from the SAME pair
      // a just-folded pair's fresh delta root is empty until the next
      // publishing sync — the new base alone IS the corpus at the cursor
      if (graft.sources.Snapshot.tables(spark, p.deltaRoot).contains(deltaTable))
        IndexLifecycle.serveFollow(spark, family, p.basePath, p.deltaRoot, deltaTable, q)
      else
        IndexLifecycle.serve(spark, family, p.basePath, q)
    }
  }

  /** One micro-batch of [[streamingAudited]] — public so replay and
    * split semantics are directly testable. Returns true if the batch
    * published (false = replay skip). */
  def auditedBatchExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      table: String, keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      checks: Seq[(String, org.apache.spark.sql.Column)],
      appId: String = "audited-ingest"): Boolean = {
    import graft.sources.Snapshot
    require(checks.nonEmpty, "auditedBatch: no expectation checks given")
    val spark = batch.sparkSession
    val quarTable = table + "_quarantine"
    val auditTable = table + "_audit"
    if (IngestMark.values(spark, root).get(appId).exists(_ >= batchId)) return false
    val staged = graft.operators.Transform.dedupeKeepLast(batch, keys, ord)
      .localCheckpoint(true)
    try {
      val viol = coalesce(checks.map(_._2).reduce(_ || _), lit(false))
      val quar = staged.filter(viol).withColumn("batch_id", lit(batchId))
      // commit 1 (idempotent by key — replay-safe): quarantined rows
      if (!quar.isEmpty)
        Snapshot.applyChanges(spark, root, quarTable, keys,
          upserts = Some(quar), deleteKeys = None)
      // commit 2 (atomic: rows + audit + marker): passing rows MERGE,
      // the audit report appends via bounded replace
      val report = graft.operators.Expectations
        .rowChecks(staged, table, checks)
        .withColumn("batch_id", lit(batchId))
      // the base after commit 1, then the marker and audit this commit
      // rewrites: a commit landing in between fails the CAS
      val (base, marks) = IngestMark.pinned(spark, root)
      val auditAll =
        if (Snapshot.tables(spark, root).contains(auditTable))
          Snapshot.read(spark, root, auditTable)
            .filter(col("batch_id") =!= batchId).unionByName(report)
        else report
      Snapshot.applyChanges(spark, root, table, keys,
        upserts = Some(staged.filter(!viol)), deleteKeys = None,
        replaces = Map(auditTable -> auditAll,
          IngestMark.advanced(spark, marks, appId, batchId)),
        expectBase = Some(base))
      true
    } finally graft.operators.NearDup.freeCheckpoint(staged)
  }

  /** STREAMING incremental view maintenance: each micro-batch lands in
    * the base table exactly-once ([[upsertBatchMorExactlyOnce]] — a
    * replayed batch skips), then the persisted aggregate view advances
    * over the table's change feed from its own cursor
    * ([[graft.operators.ViewMaintenance.advanceView]] — itself
    * idempotent: no changes past the cursor, no commit). Two idempotent
    * commits per micro-batch, so at-least-once foreachBatch delivery
    * cannot double-count a batch into the view — the streaming shape of
    * the etl_ivm_agg gate, keeping a dashboard rollup current under a
    * CDC stream for O(batch + view groups) per micro-batch. */
  def streamingIvm(events: DataFrame, root: String, table: String,
      keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      groupKeys: Seq[String], measures: Seq[String],
      appId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ivmBatchExactlyOnce(batch, batchId, root, table, keys, ord,
        groupKeys, measures, appId)
      ()
    }

  /** One micro-batch of [[streamingIvm]] — public so replay semantics
    * are directly testable. Returns true if the batch published (false
    * = replay skip; the view advance still runs and no-ops on its own
    * cursor). */
  def ivmBatchExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      table: String, keys: Seq[String], ord: Seq[org.apache.spark.sql.Column],
      groupKeys: Seq[String], measures: Seq[String],
      appId: String = "default"): Boolean = {
    val landed = upsertBatchMorExactlyOnce(batch, batchId, root, table, keys, ord, appId)
    graft.operators.ViewMaintenance.advanceView(batch.sparkSession, root,
      table, keys, groupKeys, measures)
    landed
  }

  /** STREAMING end-to-end curation: each micro-batch lands in the raw
    * corpus table exactly-once ([[upsertBatchMorExactlyOnce]] — a
    * replayed batch skips), then the frozen-model incremental curator
    * ([[graft.Pipeline.curateFollow]]) advances the curated table over
    * the corpus's change feed — itself exactly-once on its own cursor,
    * so the composition is two idempotent commits per micro-batch and
    * at-least-once foreach-batch delivery cannot double-curate. The
    * stream keeps raw corpus, curated corpus, dedup state, model
    * artifacts, and both cursors mutually consistent in ONE snapshot
    * root.
    *
    * The FIRST delta trains the frozen models ([[graft.Pipeline
    * .curateFollow]] bootstrap) — on a cold store that is the first
    * micro-batch, which is a poor training slice; production seeds the
    * corpus and runs one curateFollow BEFORE attaching the stream, so
    * the stream only ever applies models trained on the seed corpus. */
  def streamingCurate(docs: DataFrame, root: String,
      srcTable: String = "documents", dstTable: String = "documents_curated",
      idCol: String = "doc_id", textCol: String = "text", langCol: String = "lang",
      maxAvgNllMicro: Long = 3410000L, appId: String = "curate-ingest")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      curateBatchExactlyOnce(batch, batchId, root, srcTable, dstTable,
        idCol, textCol, langCol, maxAvgNllMicro, appId)
      ()
    }

  /** One micro-batch of [[streamingCurate]] — public so replay semantics
    * are directly testable. Returns (ingest published, curate version)
    * — (false, None) is a fully-replayed no-op. */
  def curateBatchExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      srcTable: String = "documents", dstTable: String = "documents_curated",
      idCol: String = "doc_id", textCol: String = "text", langCol: String = "lang",
      maxAvgNllMicro: Long = 3410000L,
      appId: String = "curate-ingest"): (Boolean, Option[Long]) = {
    val ingested = upsertBatchMorExactlyOnce(batch, batchId, root, srcTable,
      Seq(idCol), ord = Seq(col(idCol)), appId = appId)
    val curled = graft.Pipeline.curateFollow(batch.sparkSession, root,
      srcTable, dstTable, idCol, textCol, langCol,
      maxAvgNllMicro = maxAvgNllMicro)
    (ingested, curled)
  }

  /** STREAMING corpus ingestion with cross-corpus dedup: each micro-batch
    * of documents is (1) exact-deduped within itself (min id per
    * normalized fingerprint — a batch can repeat a doc), (2) deduped
    * AGAINST the already-published corpus (exact + verified-near, via
    * [[graft.operators.NearDup.dedupeAgainst]] — corpus-internal pairs
    * never recomputed), and (3) APPENDED to the corpus parquet dir. The
    * continuous corpus-building loop: the published corpus only ever
    * grows by genuinely novel documents.
    *
    * Scale: the corpus-side signatures PERSIST in a sibling
    * `<corpusPath>_sig` parquet dir ([[graft.operators.DedupState]]) that
    * is bootstrapped once and appended per batch alongside the corpus —
    * absorbing a batch reads the state dir, never corpus text, so the
    * per-batch cost is one O(corpus-rows) state scan + cross-candidate
    * joins; the appends are new files only, no rewrite. NOT
    * idempotent under batch REPLAY the way the keyed MERGE is: a
    * replayed batch re-checks against the corpus its first run extended,
    * finds its own documents there, and drops them — converging content,
    * though a crash BETWEEN dedup and append can still double-append
    * within one run (an exactly-once sink needs the snapshot log). */
  def streamingCorpusIngest(docs: DataFrame, corpusPath: String,
      idCol: String, textCol: String, minJaccard: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      import graft.operators.DedupState
      val spark = batch.sparkSession
      val hfs = new org.apache.hadoop.fs.Path(corpusPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def exists(p: String) = hfs.exists(new org.apache.hadoop.fs.Path(p))
      val sigPath = DedupState.stateTable(corpusPath)
      // in-batch exact dedup: keep the min id per fingerprint
      val fp = graft.functions.Text.fingerprint(col(textCol))
      val keyed = batch.withColumn("__fp", fp)
      val canon = keyed.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      val unique = keyed.join(canon, Seq("__fp", idCol), "left_semi").drop("__fp")
      // the corpus side of the dedup reads ONLY the signature state dir;
      // a corpus predating the state dir gets it bootstrapped here (the
      // last time corpus text is ever read on this path)
      val fresh =
        if (exists(corpusPath)) {
          if (!exists(sigPath))
            DedupState.stateOf(spark.read.parquet(corpusPath), idCol, textCol)
              .write.mode("overwrite").parquet(sigPath)
          DedupState.dedupeAgainstState(spark.read.parquet(sigPath), unique,
            idCol, textCol, minJaccard)
        } else DedupState.withState(unique, idCol, textCol).localCheckpoint(true)
      try {
        if (fresh.count() > 0) {
          // data first, then state: a crash between the two leaves the
          // new docs unindexed and a replay can double-append them —
          // the same documented double-append window this variant always
          // had; the snapshot variant below closes it atomically
          fresh.drop(DedupState.StateCols: _*)
            .write.mode("append").parquet(corpusPath)
          fresh.select(col(idCol), col(DedupState.FpCol),
              col(DedupState.ShCol), col(DedupState.SigCol))
            .write.mode("append").parquet(sigPath)
        }
      } finally graft.operators.Curate.release(fresh)
      ()
    }

  /** EXACTLY-ONCE streaming corpus ingestion — [[streamingCorpusIngest]]
    * with its documented double-append window closed through the
    * snapshot log: each micro-batch publishes its novel documents as ONE
    * atomic [[graft.sources.Snapshot.commitAppend]] that pairs the
    * corpus APPEND segment with a REPLACED one-row `_ingest` progress
    * marker. Foreach-batch delivery is at-least-once; the marker turns
    * it exactly-once:
    *
    *  - a REPLAYED batch (crash after commit, before the sink
    *    checkpoint advanced) sees marker >= its batchId and no-ops;
    *  - a crash BEFORE the commit leaves only unreferenced data dirs —
    *    nothing visible, the replay redoes the work;
    *  - the append and the marker are one manifest, so no failure can
    *    publish one without the other;
    *  - `expectBase` pins the version read at batch start: a concurrent
    *    writer fails this batch loudly and the retry re-reads.
    *
    * Per batch the corpus pays the same state-table dedup as the
    * non-transactional variant (the `<table>_sig` signature table rides
    * in the SAME atomic commit as the corpus append — a doc and its
    * signature rows publish together or not at all) plus one O(batch)
    * segment write and an O(tables) manifest — never a corpus rewrite
    * ([[graft.sources.Snapshot.compactTable]] folds segments off the
    * ingest path). */
  def streamingCorpusIngestExactlyOnce(docs: DataFrame, root: String,
      table: String, idCol: String, textCol: String, minJaccard: Double = 0.5,
      appId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatchExactlyOnce(batch, batchId, root, table, idCol, textCol,
        minJaccard, appId)
      ()
    }

  /** One micro-batch of [[streamingCorpusIngestExactlyOnce]] — public so
    * replay semantics are directly testable (and callable from a custom
    * trigger loop). Returns true if this call published, false for a
    * skipped replay.
    *
    * `appId` names the LOGICAL STREAM the batch ids belong to (the Delta
    * txnAppId pattern): the replay check only suppresses a batch whose
    * id the SAME app already published. Restarting with a fresh
    * checkpoint directory resets batchIds to 0 — run it under a new
    * appId or genuinely-novel early batches would be mistaken for
    * replays and silently dropped; under a new appId they re-check
    * against the corpus instead (the dedup keeps replayed CONTENT from
    * duplicating). The marker keeps ONE watermark row per appId (merged
    * on every commit, never wholesale-replaced), so interleaving writers
    * under distinct appIds preserves each other's replay guarantee. */
  def ingestBatchExactlyOnce(batch: DataFrame, batchId: Long, root: String,
      table: String, idCol: String, textCol: String,
      minJaccard: Double = 0.5, appId: String = "default"): Boolean = {
    import graft.operators.DedupState
    import graft.sources.Snapshot
    val spark = batch.sparkSession
    val (base, marks) = IngestMark.pinned(spark, root)
    if (marks.get(appId).exists(_ >= batchId)) return false
    val tablesNow = Snapshot.tables(spark, root).keySet
    // in-batch exact dedup: keep the min id per fingerprint
    val fp = graft.functions.Text.fingerprint(col(textCol))
    val keyed = batch.withColumn("__fp", fp)
    val canon = keyed.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    val unique = keyed.join(canon, Seq("__fp", idCol), "left_semi").drop("__fp")
    // the corpus side of the dedup reads ONLY the persisted signature
    // state table (fp + hashed shingle set + minhash sig per doc, see
    // DedupState) — corpus TEXT is read at most once per root lifetime,
    // to bootstrap the state for a corpus that predates it
    val sigT = DedupState.stateTable(table)
    val bootstrapState =
      if (tablesNow.contains(table) && !tablesNow.contains(sigT))
        Some(DedupState.stateOf(Snapshot.read(spark, root, table),
          idCol, textCol).localCheckpoint(true))
      else None
    val fresh =
      if (tablesNow.contains(table)) {
        val state = bootstrapState.getOrElse(Snapshot.read(spark, root, sigT))
        DedupState.dedupeAgainstState(state, unique, idCol, textCol, minJaccard)
      } else DedupState.withState(unique, idCol, textCol).localCheckpoint(true)
    try {
      val freshState = fresh.select(col(idCol), col(DedupState.FpCol),
        col(DedupState.ShCol), col(DedupState.SigCol))
      // corpus append + state append + marker are ONE manifest: no
      // failure can publish a doc without its signature rows (or either
      // without the watermark)
      val appends =
        if (fresh.isEmpty) Map.empty[String, org.apache.spark.sql.DataFrame]
        else Map(table -> fresh.drop(DedupState.StateCols: _*), sigT -> freshState)
      val appendsWithBoot = bootstrapState match {
        case Some(b) => appends.updatedWith(sigT) {
          case Some(f) => Some(b.unionByName(f))
          case None    => Some(b)
        }
        case None => appends
      }
      // all-dup batches still advance the marker — replays skip cheaply
      Snapshot.commitAppend(spark, root, appendsWithBoot,
        Map(IngestMark.advanced(spark, marks, appId, batchId)), expectBase = Some(base))
      true
    } finally {
      graft.operators.Curate.release(fresh)
      bootstrapState.foreach(graft.operators.NearDup.freeCheckpoint)
    }
  }

  /** Watermarked STREAM-STREAM interval join: attribute each purchase to
    * the same user's click(s) within the trailing `horizon`
    * (click_ts ∈ [purchase_ts - horizon, purchase_ts]). Both inputs
    * carry event-time watermarks and the join condition bounds the
    * event-time distance, which is exactly what lets Spark GC BOTH
    * join-state buffers: a buffered click older than
    * (click watermark + horizon) can never match a future purchase, so
    * state size is rate × horizon, not stream length. Inner join —
    * unattributed purchases drop; run in batch the same body is a plain
    * self-equi-join with the two range predicates. */
  def attributePurchases(clicks: DataFrame, purchases: DataFrame,
      delay: String = "10 minutes", horizon: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    // left_outer: an unmatched purchase is emitted WITH NULL click
    // columns — but only once the click watermark passes purchase_ts
    // (before that a matching click could still arrive, so the engine
    // must hold the row; this late emission is the semantic difference
    // between streaming and batch outer joins).
    p.join(c,
        col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"), col("value"))
  }

  /** A loyalty-tier boundary crossing: cumulative user value crossed
    * `tier × step` at event time `ts`. */
  case class TierCrossing(user_id: Long, tier: Long, ts: java.sql.Timestamp)

  /** flatMapGroupsWithState: emit ZERO OR MORE rows per user per
    * micro-batch — one for every multiple of `stepCents` the user's
    * cumulative purchase value crosses (the "notify at each loyalty
    * tier" shape; mapGroupsWithState can't express it because its
    * contract is exactly one output per group). State is a single Long
    * of cumulative cents per user — bounded by user cardinality. Events
    * inside a batch are processed in event-time order; `value` must be
    * non-negative for tiers to be monotone. */
  def tierCrossings(events: Dataset[Event], stepCents: Long): Dataset[TierCrossing] = {
    require(stepCents > 0, s"stepCents must be positive, got $stepCents")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, TierCrossing](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[TierCrossing]
          batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val before = cum / stepCents
            cum += math.round(e.value * 100)
            val after = cum / stepCents
            var k = before + 1
            while (k <= after) { out += TierCrossing(userId, k, e.ts); k += 1 }
          }
          state.update(cum)
          out.result().iterator
      }
  }

  /** Custom keyed state: running per-user event count + value total,
    * carried across micro-batches via mapGroupsWithState. The state is a
    * single small record per user — bounded by cardinality, not stream
    * length. In batch mode the state store starts empty and the result
    * equals a plain groupBy. */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          // exact accumulation: cents as longs, double only at the surface
          var n = prev.n_events
          var cents = math.round(prev.total_value * 100)
          batch.foreach { e => n += 1; cents += math.round(e.value * 100) }
          val next = UserRunning(userId, n, cents / 100.0)
          state.update(next)
          next
      }
  }
}
