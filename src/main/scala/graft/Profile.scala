package graft
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Optimization instrument (guide §1: measure first) — NOT part of the
  * bench/verify driver contract. Runs named queries once on a warmed
  * session and prints, per query:
  *
  *   - one line per Spark JOB: wall ms, total task time ms, task count,
  *     and the engine frame that submitted it (see [[Recorder]]);
  *   - the DRIVER GAP series: time between consecutive jobs (manifest
  *     IO, planning, FS round-trips) — for lifecycle composites this is
  *     where non-job wall hides;
  *   - a summary: wall, job wall, gaps, job count. Jobs of concurrent
  *     phases (`Par.inParallel`) overlap, so job wall is the length of
  *     the UNION of the job intervals, and wall = job wall + gaps +
  *     outside (before the first and after the last job) with no term
  *     negative.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
  *   sbt "runMain graft.Profile txt_bm25_compacted doc_curate_v3"
  */
object Profile {
  private[graft] final case class JobRec(id: Int, start: Long, var end: Long,
      site: String, var taskMs: Long, var tasks: Int)

  /** Records every job with the innermost `graft` frame of the SQL
    * execution that submitted it (the job's `spark.sql.execution.id`).
    * AQE submits a query's stage jobs from pool threads, whose own call
    * site is `CompletableFuture.java`; the execution keeps the caller's.
    * A job outside any SQL execution (an RDD action, a checkpoint) takes
    * the frame of its own stages' call site. */
  private[graft] final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    private val byId = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val execSite = new ConcurrentHashMap[Long, String]()

    def clear(): Unit = { jobs.clear(); byId.clear(); stageJob.clear() }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, graftFrame(s.details).getOrElse(s.description))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
      val site = exec
        .orElse(e.stageInfos.view.flatMap(s => graftFrame(s.details)).headOption)
        .orElse(e.stageInfos.headOption.map(_.name.takeWhile(_ != '\n')))
        .getOrElse("")
      val r = JobRec(e.jobId, e.time, 0L, site, 0L, 0)
      jobs.add(r); byId.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byId.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val jid = stageJob.getOrDefault(e.stageInfo.stageId, -1)
      Option(byId.get(jid)).foreach { r =>
        r.taskMs += e.stageInfo.taskMetrics.executorRunTime
        r.tasks += e.stageInfo.numTasks
      }
    }
  }

  /** The innermost frame of package `graft` in a call-site stack (one
    * `StackTraceElement` per line, innermost first). */
  private[graft] def graftFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).map { l =>
      val i = l.indexOf("graft.")
      if (i == 0 || (i > 0 && l(i - 1) == '/')) l.substring(i) else ""
    }.find(_.nonEmpty)

  /** (covered, gaps) of time intervals [start, end]: the length of their
    * union, and the uncovered time between the first start and the last
    * end. */
  private[graft] def unionMs(intervals: Seq[(Long, Long)]): (Long, Long) = {
    var covered = 0L; var gaps = 0L; var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (reach != Long.MinValue && s > reach) gaps += s - reach
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (covered, gaps)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    // same family warmup as Bench so one-time costs don't pollute jobs
    Bench.warm(spark, sfDir)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          rec.clear()
          val t0 = System.currentTimeMillis()
          val df = fn(spark, sfDir)
          df.count()
          val wallMs = System.currentTimeMillis() - t0
          Bench.release(spark, df)
          // listener events are async — give the bus a moment to drain
          Thread.sleep(600)
          import scala.jdk.CollectionConverters._
          val js = rec.jobs.asScala.toSeq.sortBy(_.start)
          println(f"%n=== $name wall=${wallMs / 1000.0}%.2f s jobs=${js.size} ===")
          var prevEnd = 0L
          js.foreach { j =>
            val dur = (j.end - j.start).max(0L)
            val gap = if (prevEnd == 0L) 0L else (j.start - prevEnd).max(0L)
            prevEnd = j.end.max(prevEnd)
            val d = if (j.site.length > 110) j.site.take(110) + "…" else j.site
            println(f"  job ${j.id}%4d wall=${dur}%5d ms gap_before=${gap}%5d ms taskTime=${j.taskMs}%6d ms tasks=${j.tasks}%4d  $d")
          }
          val (jobWall, gaps) = unionMs(js.map(j => (j.start, j.end.max(j.start))))
          println(f"  [sum] jobWall=${jobWall} ms  driverGaps=${gaps} ms  outside=${wallMs - jobWall - gaps} ms")
          js.groupBy(_.site).toSeq.sortBy(-_._2.size).foreach { case (site, g) =>
            println(f"  [site] ${g.size}%4d jobs  ${unionMs(g.map(j => (j.start, j.end.max(j.start))))._1}%6d ms  $site")
          }
      }
    }
    spark.stop()
  }
}
