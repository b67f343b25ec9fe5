package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The session mounts `file://` through the engine's file system, which
  * sets the permission bits Hadoop's stock local file system sets, with
  * no child process. */
class LocalFsSpec extends SparkSpec {
  import sqlImplicits._

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The full mode, special bits included, in octal. */
  private def mode(p: java.nio.file.Path): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  import LocalFsSpec.fileClasses

  private val engine = (classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName)

  test("the session's file:// FileSystem is the engine's, on the driver and in tasks") {
    assert(fileClasses(spark.sparkContext.hadoopConfiguration) == engine)
    val inTasks = spark.range(4).repartition(4).mapPartitions { _ =>
      val conf = new Configuration()
      org.apache.spark.SparkEnv.get.conf.getAll.collect {
        case (k, v) if k.startsWith("spark.hadoop.") => conf.set(k.stripPrefix("spark.hadoop."), v)
      }
      Iterator(fileClasses(conf))
    }.collect().distinct.toSeq
    assert(inTasks == Seq(engine))
  }

  test("written files and dirs keep the stock permission bits") {
    val dir = Files.createTempDirectory("graft-fs")
    // a Spark write: dirs 0755, files 0644 under Hadoop's default umask 022
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(dir.resolve("t").toString)
    val walk = Files.walk(dir.resolve("t"))
    try walk.forEach { p =>
      val want = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
      assert(perms(p) == want, s"$p")
    } finally walk.close()

    // explicit modes, a sticky bit and a missing path: same as the stock
    // local file system
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = new Path(dir.toUri).getFileSystem(conf)
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), new Configuration())
    Seq("ours" -> ours, "stock" -> stock).foreach { case (name, fs) =>
      val base = new Path(dir.resolve(name).toUri)
      fs.mkdirs(new Path(base, "d700"), new FsPermission("700"))
      fs.mkdirs(new Path(base, "d1777"))
      fs.setPermission(new Path(base, "d1777"), new FsPermission("1777"))
      fs.create(new Path(base, "f600"), new FsPermission("600"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.create(new Path(base, "f")).close()
      fs.setPermission(new Path(base, "f"), new FsPermission("640"))
      intercept[java.io.IOException](
        fs.setPermission(new Path(base, "missing"), new FsPermission("644")))
    }
    // the FileContext API, which streaming checkpoints write through
    Seq("ours" -> spark.sparkContext.hadoopConfiguration, "stock" -> new Configuration())
      .foreach { case (name, conf) =>
        val fc = FileContext.getFileContext(URI.create("file:///"), conf)
        val base = new Path(dir.resolve(name).toUri)
        fc.mkdir(new Path(base, "fc700"), new FsPermission("700"), true)
        fc.create(new Path(base, "fc600"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("600"))).close()
      }
    Seq("d700", "d1777", "f600", "f", "fc700", "fc600").foreach { n =>
      assert(mode(dir.resolve("ours").resolve(n)) == mode(dir.resolve("stock").resolve(n)), n)
    }
    assert(mode(dir.resolve("ours/d700")) == "700")
    assert(mode(dir.resolve("ours/d1777")) == "1777")
    assert(mode(dir.resolve("ours/f600")) == "600")
    assert(mode(dir.resolve("ours/f")) == "640")
    assert(mode(dir.resolve("ours/fc700")) == "700")
    assert(mode(dir.resolve("ours/fc600")) == "600")
    assert(Files.exists(Paths.get(dir.resolve("ours").toString, ".f600.crc")))
  }
}

object LocalFsSpec {
  /** The classes `file://` resolves to under `conf`: FileSystem, FileContext. */
  def fileClasses(conf: Configuration): (String, String) = (
    new Path("file:///").getFileSystem(conf).getClass.getName,
    FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass.getName)
}
