package graft
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization instrument (guide §1: measure first) — NOT part of the
  * bench/verify driver contract. Runs named queries once on a warmed
  * session and prints, per query:
  *
  *   - one line per Spark JOB: wall ms, total task time ms, task count,
  *     and the job group/description (callers label phases with
  *     setJobDescription);
  *   - the DRIVER GAP series: time between consecutive jobs (manifest
  *     IO, planning, FS round-trips) — for lifecycle composites this is
  *     where non-job wall hides;
  *   - a summary: wall, Σjob wall, Σgaps, job count.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile txt_bm25_compacted doc_curate_v3"
  */
object Profile {
  private final case class JobRec(id: Int, start: Long, var end: Long,
      desc: String, var taskMs: Long, var tasks: Int,
      var stages: List[String] = Nil)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    // same family warmup as Bench so one-time costs don't pollute jobs
    Bench.warm(spark, sfDir)

    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRec(e.jobId, e.time, 0L, desc, 0L, 0)
        jobs.add(r); byId.put(e.jobId, r)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(byId.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageJob.getOrDefault(e.stageInfo.stageId, -1)
        Option(byId.get(jid)).foreach { r =>
          r.taskMs += e.stageInfo.taskMetrics.executorRunTime
          r.tasks += e.stageInfo.numTasks
          r.stages ::= e.stageInfo.name.takeWhile(_ != '\n')
        }
      }
    })

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          jobs.clear(); byId.clear(); stageJob.clear()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.count()
          val wallMs = (System.nanoTime() - t0) / 1e6
          Bench.release(spark, df)
          // listener events are async — give the bus a moment to drain
          Thread.sleep(600)
          import scala.jdk.CollectionConverters._
          val js = jobs.asScala.toSeq.sortBy(_.start)
          println(f"%n=== $name wall=${wallMs / 1000}%.2f s jobs=${js.size} ===")
          var prevEnd = 0L
          var sumJob = 0L; var sumGap = 0L
          js.foreach { j =>
            val dur = (j.end - j.start).max(0L)
            val gap = if (prevEnd == 0L) 0L else (j.start - prevEnd).max(0L)
            sumJob += dur; sumGap += gap
            prevEnd = j.end.max(prevEnd)
            val stageNames = j.stages.reverse.mkString(" | ")
            val d0 = if (j.desc.nonEmpty) j.desc else stageNames
            val d = if (d0.length > 110) d0.take(110) + "…" else d0
            println(f"  job ${j.id}%4d wall=${dur}%5d ms gap_before=${gap}%5d ms taskTime=${j.taskMs}%6d ms tasks=${j.tasks}%4d  $d")
          }
          println(f"  [sum] jobWall=${sumJob} ms  driverGaps=${sumGap} ms  outside=${wallMs - sumJob - sumGap}%.0f ms")
      }
    }
    spark.stop()
  }
}
