package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

/** One operation of a workload: `prepare` and `verify` run outside the
  * timer, `run` inside it. `verify` returns what run.py checks. */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(): Unit
  def verify(): Map[String, Any]
  def cleanup(): Unit = ()
}

/** The JVM side of one benchmark run (run.py prepares the inputs and
  * checks the outputs). Usage:
  * {{{
  *   perfbench.Main --workload <name> --work <dir> --seconds <s> --trace <0|1> --cpus <n>
  * }}}
  * Set-up (session and warm-up) runs three times and each time is
  * reported. Then ops run in a closed loop with one client until their
  * summed wall reaches `--seconds` and a rotation of the workload's ops is
  * complete. Results go to `<work>/result.json`. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val mainAtMs = System.currentTimeMillis()
    val jvmStartS = (mainAtMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val o = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = o("work")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cpus = o("cpus")
    val w = Workloads(o("workload"), work)

    var spark: SparkSession = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = graft.Bench.buildSession(cpus)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val out = mutable.LinkedHashMap[String, Any]("jvm_start_s" -> jvmStartS, "setup_reps_s" -> setupS,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version)
    val trace = if (traced) Some(new Trace(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    var i = 0
    while (measured < seconds || i % w.rotation != 0) {
      val rec = runOne(spark, w.op(spark, i), trace)
      measured += rec("s").asInstanceOf[Double]
      ops += rec
      i += 1
    }
    out("ops") = ops.toSeq
    out("live_mem_mb") = liveMemMb()
    trace.foreach { t =>
      out("isolated") = w.isolated(spark, t)
      out("trace_overhead_s") = t.overheadS
      out("spans") = t.spansJson
      t.detach()
    }
    out("oracle_sql") = w.oracleSql
    out("peak_rss_mb") = vmHwmMb()
    Files.writeString(Paths.get(work, "result.json"), mapper.writeValueAsString(out))
    stopSession(spark)
  }

  /** Run one op: prepare, time `run`, verify and clean up. Failures are
    * recorded, never thrown, so one bad op cannot end the run. */
  private def runOne(spark: SparkSession, op: Op, trace: Option[Trace]): Map[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]("name" -> op.name)
    var sec = 0.0
    try {
      op.prepare()
      val gc0 = gcSeconds(); val cpu0 = cpuSeconds()
      val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      try trace.fold(op.run())(_.span(op.name)(op.run()))
      finally {
        sec = (System.nanoTime() - t0) / 1e9
        rec("cpu_s") = cpuSeconds() - cpu0
        rec("gc_s") = gcSeconds() - gc0
      }
      val t1Ms = System.currentTimeMillis()
      trace.foreach { t =>
        val wk = t.work(t0Ms, t1Ms)
        rec("trace") = Map("jobs" -> wk.jobs, "stages" -> wk.stages, "task_s" -> wk.taskS,
          "input_bytes" -> wk.inputBytes, "csv_input_bytes" -> wk.csvInputBytes,
          "output_bytes" -> wk.outputBytes, "shuffle_write_bytes" -> wk.shuffleWriteBytes,
          "spill_bytes" -> wk.spillBytes, "busy_s" -> wk.busyS,
          "sql_executions" -> wk.sqlExecutions, "task_s_by_module" -> wk.byModule) ++ opPhases(op)
      }
      rec("check") = op.verify()
    } catch {
      case e: Throwable =>
        rec("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
    } finally {
      try op.cleanup() catch { case _: Throwable => () }
      try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      catch { case _: Throwable => () }
    }
    rec("s") = sec
    rec.toMap
  }

  private def opPhases(op: Op): Map[String, Any] = op match {
    case q: QueryOp => Map("plan_s" -> q.planS, "exec_s" -> q.execS)
    case _ => Map.empty
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still reachable after full collections, plus loaded class
    * metadata: what the run leaves resident. (The JIT's code cache is left
    * out: its size follows compilation timing, not the program.) Spark's
    * ContextCleaner frees the broadcast and shuffle state of collected
    * references on its own thread, so it gets a moment between the two. */
  private def liveMemMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
    (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed + metaspace) / 1048576.0
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  // ---------------------------------------------------------------- helpers

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** (files, bytes) under `root` modified at or after `sinceMs`. */
  def writtenSince(root: Path, sinceMs: Long): (Long, Long) = if (!Files.exists(root)) (0L, 0L) else {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs - 1000)
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }

  /** Order-free fingerprint of collected rows. */
  def fingerprint(rows: Array[Row]): String =
    s"${rows.length}:${rows.iterator.map(_.hashCode.toLong & 0xffffffffL).sum}"

  def exportRows(spark: SparkSession, rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      dir: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)
}
