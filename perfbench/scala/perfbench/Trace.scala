package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a public call the benchmark made into the engine. */
final case class Span(name: String, startNs: Long, endNs: Long)

/** Totals of the Spark work done while a window was open. `busyS` is the
  * union of the jobs' intervals; `byModule` is task seconds per module. */
final case class Work(jobs: Int, stages: Int, taskS: Double, inputBytes: Long, csvInputBytes: Long,
    outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, busyS: Double,
    sqlExecutions: Int, byModule: Map[String, Double])

/** Stage → engine module attribution from a call site (innermost frame
  * first): a stage's own (`StageInfo.details`), or, when that holds no
  * engine frame (AQE submits query stages from its own threads), the call
  * site of the SQL action whose job ran the stage. */
object Attribution {
  /** The module of the innermost `graft.*` frame, lower-cased
    * (`graft.operators.Upsert$.upsertParquet(Upsert.scala:190)` → `upsert`),
    * or `other` when no engine frame is on the stack. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "other"
      case Some(frame) =>
        val parts = frame.takeWhile(_ != '(').split('.')
        parts(parts.length - 2).takeWhile(_ != '$').toLowerCase
    }
}

/** The traced run's instruments: a SparkListener and a
  * QueryExecutionListener attached from the benchmark's side, plus spans
  * kept in memory around each public call. Nothing is added to the engine.
  * Time spent inside the callbacks is summed so the run can report what
  * tracing itself costs. */
final class Trace(spark: SparkSession) {
  private final case class JobRec(id: Int, start: Long, var end: Long)
  private final case class StageRec(module: String, taskS: Double, inputBytes: Long,
      csvInputBytes: Long, outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      completedMs: Long)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val executionModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageModule = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val executions = new ConcurrentLinkedQueue[Long]()
  private val callbackNs = new AtomicLong()
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val r = JobRec(e.jobId, e.time, 0L)
      jobs.add(r); jobById.put(e.jobId, r)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionModule.get(id.toLong)))
        .foreach(m => e.stageIds.foreach(stageModule.put(_, m)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        timed(executionModule.put(x.executionId, Attribution.moduleOf(x.details)))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val m = i.taskMetrics
      // a stage scanning CSV carries the file scan's operator scope
      val csv = i.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.contains("csv")))
      val module = Attribution.moduleOf(i.details) match {
        case "other" => stageModule.getOrDefault(i.stageId, "other")
        case own => own
      }
      stages.add(StageRec(module, m.executorRunTime / 1e3,
        m.inputMetrics.bytesRead, if (csv) m.inputMetrics.bytesRead else 0L,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        i.completionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(executions.add(System.currentTimeMillis()))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `f` inside a span named `name`. Spans do not nest: every call
    * the benchmark makes into the engine is a top-level one. */
  def span[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, t0, t1)
      callbackNs.addAndGet(System.nanoTime() - t1)
    }
  }

  def overheadS: Double = callbackNs.get() / 1e9

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Spark work whose jobs started, stages completed and SQL executions
    * ended in [t0Ms, t1Ms]. */
  def work(t0Ms: Long, t1Ms: Long): Work = {
    drain()
    val js = jobs.asScala.filter(j => j.start >= t0Ms && j.start <= t1Ms).toSeq
    val ss = stages.asScala.filter(s => s.completedMs >= t0Ms && s.completedMs <= t1Ms).toSeq
    // busy time: the union of job intervals, so concurrent jobs count once
    var busy = 0L; var until = Long.MinValue
    js.sortBy(_.start).foreach { j =>
      val end = math.max(j.end, j.start)
      if (j.start > until) { busy += end - j.start; until = end }
      else if (end > until) { busy += end - until; until = end }
    }
    Work(js.size, ss.size, ss.map(_.taskS).sum, ss.map(_.inputBytes).sum, ss.map(_.csvInputBytes).sum,
      ss.map(_.outputBytes).sum, ss.map(_.shuffleWriteBytes).sum, ss.map(_.spillBytes).sum,
      busy / 1e3, executions.asScala.count(at => at >= t0Ms && at <= t1Ms),
      ss.groupBy(_.module).map { case (m, xs) => m -> xs.map(_.taskS).sum })
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
