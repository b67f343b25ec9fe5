package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork).
  * Each suite's teardown deletes the session's query scratch and the
  * suite's temp dirs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits

  private var tempRoot: Option[Path] = None
  private var tempDirs = 0

  /** A fresh empty dir `prefix<n>` inside one `/tmp/spec-<digits>` dir
    * per suite, which the suite's teardown deletes. Names stay short:
    * plan strings abbreviate long file-index paths, and specs find a
    * scan in a plan by its path. */
  def tempDir(prefix: String): String = synchronized {
    val parent = tempRoot.getOrElse {
      val p = Files.createTempDirectory("spec-")
      tempRoot = Some(p)
      p
    }
    tempDirs += 1
    Files.createDirectory(parent.resolve(s"$prefix$tempDirs")).toString
  }

  override def afterAll(): Unit =
    try SparkSpec.releaseScratch()
    finally try tempRoot.foreach(p => FileUtil.fullyDelete(p.toFile))
    finally super.afterAll()
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
      releaseScratch()
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

  /** Deletes the scratch of the session built last, if any was built. */
  def releaseScratch(): Unit = synchronized {
    if (cached != null) graft.model.Tables.releaseScratch(cached)
  }
}
