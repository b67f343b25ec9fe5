package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits
}

object SparkSpec {
  // Rebuild-if-stopped instead of a lazy val: BenchSpec's isolation test
  // deliberately stops the shared local SparkContext (simulating the
  // executor-OOM kill the bench must survive); suites run sequentially
  // in the fork, so the next suite's `lazy val spark` lands here and
  // gets a live replacement.
  private var cached: SparkSession = _
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      cached = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(graft.sources.NioLocalFileSystem.SessionConf)
        .getOrCreate()
      cached.sparkContext.setLogLevel("WARN")
    }
    cached
  }
}
