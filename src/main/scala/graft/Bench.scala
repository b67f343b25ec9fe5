package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** The local core count of a main's session ([[buildSession]]):
    * `SPARK_GRAFT_CPUS`, else 4. */
  def sessionCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** One timed measurement of one query on one pass. */
  final case class Sample(name: String, pass: Int, sec: Double, err: Option[String])

  /** Fresh bench session — local[cpus], UTC-pinned (the TIMESTAMP_NTZ
    * normalization in Tables is only 1:1 with the verified oracle runs
    * under UTC), shuffle partitions = cpus, `file://` mounted through
    * [[graft.sources.NioLocalFileSystem]] (no forked `chmod` per written
    * file). Shared by main and by the re-init path in [[runSamples]]. */
  def buildSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.sources.NioLocalFileSystem.SessionConf)
      // AQE's partition coalescing floors partitions at minPartitionSize
      // (default 1m) — right when stage cost tracks BYTES, but it
      // collapses per-row-EXPENSIVE small-byte stages (candidate-pair
      // verify via array_intersect/levenshtein, 64-way signature votes:
      // a few hundred KB in, seconds of CPU) to 1-2 tasks while the
      // rest of the machine idles. 64k keeps parallelismFirst (on by
      // default) effective for those stages; at production volumes
      // totalBytes/parallelism is far above either floor, so this is
      // the identity there — scale-adaptive, not a local[32] tune.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Absorb one-time costs (janino/codegen init, parquet footer reader,
    * shuffle service, localCheckpoint block-manager setup) before timing
    * or profiling — the first query otherwise carries ~5 s of JVM warmup
    * that is not its own. Touches every table family: queries run in
    * sorted order, so whichever name sorts first would absorb the warmup
    * of its whole input family (measured ~3 s on the first doc_* query).
    * Each warmup has its OWN try so one missing table (e.g. an sfDir
    * without documents.parquet) doesn't skip the rest. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    def attempt(a: => Unit): Unit = try a catch { case _: Throwable => () }
    attempt(spark.read.parquet(s"$sfDir/region.parquet").count())
    attempt(SparkEntry.entry(spark).count())
    attempt(graft.model.Tables.documents(spark, sfDir).count())
    attempt(graft.model.Tables.embeddings(spark, sfDir).count())
    attempt(graft.model.Tables.events(spark, sfDir).count())
    attempt(spark.range(10).localCheckpoint(true).count())
  }

  /** After a query: free the checkpoints behind `results`
    * ([[graft.operators.Curate.release]]), then sweep EVERY block still
    * persisted in the session. A leaked localCheckpoint from one query
    * otherwise crowds executor memory and taxes every later query — the
    * r9 full bench charged 47 s of such cross-query noise to innocent
    * pure-map queries. Then delete the application's query scratch
    * ([[graft.model.Tables.releaseScratch]]), so none is left in /tmp.
    * Survives a query that stopped the context. */
  def release(spark: SparkSession, results: DataFrame*): Unit = {
    try {
      results.foreach(graft.operators.Curate.release)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    } catch { case _: Throwable => () }
    try graft.model.Tables.releaseScratch(spark) catch { case _: Throwable => () }
  }

  /** Run-major measurement loop, ISOLATED per query: a query that kills
    * the SparkContext (an executor OOM in local mode stops the whole
    * local context) is recorded as its own error, and the NEXT sample
    * gets a fresh session from `newSession` — the r12 sf1 rerun showed
    * one SparkException on emb_near_dup_banded cascading into
    * IllegalStateException on the next three queries because every later
    * `fn(spark, ...)` touched the stopped context. `warm` re-runs on
    * every fresh session so the replacement's one-time costs (parquet
    * footers, broadcast infra) are not charged to the innocent query
    * that happens to run first on it. */
  def runSamples(names: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, runsFor: String => Int, trace: Boolean,
      newSession: () => SparkSession,
      warm: SparkSession => Unit = _ => ()): Seq[Sample] = {
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    var spark = newSession()
    warm(spark)
    def freshIfDead(): Unit =
      if (spark.sparkContext.isStopped) {
        // Clear the stopped session from the builder's caches so
        // getOrCreate builds a real replacement instead of handing the
        // corpse back.
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
        warm(spark)
      }
    if (names.isEmpty) return Nil
    val maxRuns = names.map { case (n, _) => runsFor(n) }.max
    (1 to maxRuns).flatMap { pass =>
      names.filter { case (name, _) => pass <= runsFor(name) }
        .map { case (name, fn) =>
          freshIfDead()
          val gc0 = if (trace) gcMillis() else 0L
          val t0 = System.nanoTime()
          // A failing query must be VISIBLE: it is timed, but its error
          // lands in the sample instead of silently reporting a fast run.
          // The measured wall stops at `tSec`, captured right after the
          // action (+ the query's own checkpoint release) — the explain
          // dump below runs OUTSIDE it, so an EXPLAIN=1 run's numbers
          // stay comparable with normal runs (the dump used to execute
          // inside the timer and inflate every measured query).
          var tSec = 0.0
          val err =
            try {
              val df = fn(spark, sfDir)
              df.count()
              // checkpoint-returning queries (doc_curate) would otherwise
              // leave corpus-sized blocks resident for the whole session
              graft.operators.Curate.release(df)
              tSec = (System.nanoTime() - t0) / 1e9
              // Post-execution plan dump (SPARK_GRAFT_BENCH_EXPLAIN=1):
              // AFTER the action, AdaptiveSparkPlan prints its FINAL
              // plan — the instrument for reading AQE's actual join
              // choice (broadcast vs shuffle) at a given sf, not the
              // static plan's guess.
              if (sys.env.get("SPARK_GRAFT_BENCH_EXPLAIN").contains("1"))
                System.err.println(s"[explain] $name pass=$pass\n" +
                  df.queryExecution.explainString(
                    org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
              None
            }
            catch { case e: Throwable =>
              tSec = (System.nanoTime() - t0) / 1e9
              Some(e.getClass.getSimpleName)
            }
          val sample = Sample(name, pass, tSec, err)
          if (trace) System.err.println(
            f"[trace] $name pass=$pass wall=${sample.sec}%.3f gc_ms=${gcMillis() - gc0}")
          // the sweep runs outside the timer
          release(spark)
          // Collect between samples, OUTSIDE the timer: heap garbage from
          // a heavy neighbor (checkpoint blocks, broadcast values,
          // shuffle buffers) otherwise lands as collection pressure
          // inside the NEXT query's measurement (r10, trace-verified).
          System.gc()
          sample
        }
    }
  }

  private def round3(x: Double): Double = math.round(x * 1000.0) / 1000.0

  /** The baseline-comparison tail of the bench JSON line (or "" without
    * a usable baseline): per-query ratios, the shared-key total ratio,
    * and two headline extremes —
    *
    *  - `worst_ratio`, FLOORED at `floorSec` of baseline wall: every
    *    r13 ratio above 1.3 was a 0.45-1.1 s query whose ratio is pure
    *    scheduler/GC jitter (the top "regression" was 1.87x on a 0.59 s
    *    query), and unfloored it would eventually cross the 2x gate on
    *    a loaded run with no code change;
    *  - `worst_abs`, the largest median-minus-baseline wall delta, NO
    *    floor — a sub-second query that regresses enough to matter in
    *    wall terms surfaces here.
    *
    * Numerator and denominator run over the SAME key set (baseline
    * value > 0): a zero-valued baseline entry previously inflated the
    * numerator while vanishing from the denominator, and an all-zero
    * baseline emitted NaN — invalid JSON. */
  def ratioTail(medians: Seq[(String, Double)], baseline: Map[String, Double],
      floorSec: Double = 1.0): String = {
    val pairs = medians.flatMap { case (k, m) =>
      baseline.get(k).filter(_ > 0.0).map(b => (k, m, b))
    }
    val sharedBase = pairs.map(_._3).sum
    if (pairs.isEmpty || sharedBase <= 0.0) "" else {
      val rs = pairs.map { case (k, m, b) => s"\"" + k + "\":" + round3(m / b) }
        .mkString("{", ",", "}")
      val worst = pairs.filter(_._3 >= floorSec)
        .map { case (k, m, b) => (k, round3(m / b)) }
        .sortBy(-_._2).headOption
        .map { case (k, r) =>
          s""","worst_ratio":{"query":"$k","ratio":$r,"floor_sec":$floorSec}""" }
        .getOrElse("")
      val worstAbs = pairs.map { case (k, m, b) => (k, round3(m - b)) }
        .sortBy(-_._2).headOption
        .map { case (k, d) => s""","worst_abs":{"query":"$k","delta_sec":$d}""" }
        .getOrElse("")
      val sharedNow = pairs.map(_._2).sum
      s""","ratios":$rs,"total_vs_baseline":${round3(sharedNow / sharedBase)}$worst$worstAbs"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sessionCpus
    // Single-shot timings proved noisy enough to mislead (r7 verdict #3:
    // 4-8x phantom "regressions"). Default to 3 runs per query and report
    // the per-query MEDIAN, with min/max spread recorded alongside.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // The heavy doc_*/emb_* families carried 10-35x min/max spreads in the
    // r9 driver run (machine contention during their alphabetical
    // stretch) — more samples per heavy query so the median survives a
    // bad pass. (a 1-run quick-iterate session stays 1-run everywhere)
    val heavyRuns = sys.env.get("SPARK_GRAFT_BENCH_HEAVY_RUNS")
      .map(_.toInt).getOrElse(if (runs <= 1) 1 else 5).max(runs)
    def runsFor(name: String): Int =
      if (name.startsWith("doc_") || name.startsWith("emb_")) heavyRuns else runs
    // Sorted-key order: hash-map order changes as the query map grows,
    // which confounds round-over-round per-query deltas with warmup /
    // cache position. Sorted order is stable across rounds.
    // Local-iteration filter (same contract as Verify): unset for the
    // driver's full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Per-sample trace (SPARK_GRAFT_BENCH_TRACE=1): one stderr line per
    // (query, pass) with wall time and the JVM GC-time delta across the
    // sample — the direct instrument for attributing a heavy-tail pass
    // to collection pressure vs plan re-derivation (r10 verdict task 6).
    val trace = sys.env.get("SPARK_GRAFT_BENCH_TRACE").contains("1")
    // run-major order (full pass 1, full pass 2, ...) so a query's repeats
    // don't feed each other's caches back-to-back. Heavy families run in
    // the extra passes alone (pass > runs times only doc_*/emb_*).
    val samples =
      runSamples(names, sfDir, runsFor, trace, () => buildSession(cpus), warm(_, sfDir))
    // Pass 1 is each query's OWN codegen/broadcast warmup (the heaviest
    // queries measured a first run 2x their steady state even after the
    // table-family warm() block) — with 2+ passes it is excluded from
    // both the median and the spread, so round-over-round deltas compare
    // steady states, not warmup luck. Errors stay visible from any pass.
    val timed = if (runs >= 2) samples.filter(_.pass >= 2) else samples
    val byName = timed.groupBy(_.name).toSeq.sortBy(_._1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val qs = byName.map { case (k, ss) => s"\"" + k + "\":" + median(ss.map(_.sec)) }
      .mkString("{", ",", "}")
    val spread = byName.map { case (k, ss) =>
      s"\"" + k + "\":[" + ss.map(_.sec).min + "," + ss.map(_.sec).max + "]"
    }.mkString("{", ",", "}")
    val errs = samples.groupBy(_.name).toSeq.sortBy(_._1)
      .flatMap { case (k, ss) => ss.flatMap(_.err).headOption.map(e =>
        s"\"" + k + "\":\"" + e + "\"")
      }.mkString("{", ",", "}")
    val total = byName.map { case (_, ss) => median(ss.map(_.sec)) }.sum
    val discarded = if (runs >= 2) 1 else 0
    // Ratio vs the FROZEN per-query baseline (artifacts/BASELINE_BENCH_
    // sf0.1.json, committed by the refresh protocol; override with
    // SPARK_GRAFT_BASELINE). This makes the "within 2x" perf gate
    // mechanical: a regression surfaces as its ratio in the bench line
    // itself instead of ad-hoc diffing of round snapshots. Applied only
    // when the baseline was recorded at the SAME sf dir; queries new
    // since the freeze have no ratio (they extend the surface, they
    // can't regress it).
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "artifacts/BASELINE_BENCH_sf0.1.json")
    val baseline: Map[String, Double] =
      try {
        val txt = Files.readString(Paths.get(basePath))
        if (!txt.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
        else {
          val tail = txt.substring(txt.indexOf("\"queries\":{") + 11)
          val body = tail.substring(0, tail.indexOf('}'))
          """"([^"]+)":([0-9.eE+\-]+)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }
    val medians = byName.map { case (k, ss) => k -> median(ss.map(_.sec)) }
    val tail = ratioTail(medians, baseline)
    // `cpus` is stamped into the line because it CONFOUNDS comparisons:
    // the r13 committed sf1 bench was measured core-starved and read the
    // CPU-bound pair family 2.5x slower (doc_jaccard_join 31 -> 78 s)
    // while the small-query bulk ran ~10% faster — unexplainable from
    // the JSON alone until the core count travels with the numbers.
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs,"runs":$runs,"warmup_runs_discarded":$discarded,"cpus":"$cpus","sf":"$sfDir"$tail}"""
    println(json)
    // The r7 artifact captured only an sbt-log tail and truncated the
    // per-query map — always ALSO write the full JSON line to a file.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try Files.writeString(Paths.get(out), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] cannot write $out: $e") }
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
