package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file://` file system over [[NioRawLocalFileSystem]]:
  * the same files, checksums and permission bits, with no child process
  * per created file or directory. Sessions mount it through
  * [[NioLocalFileSystem.SessionConf]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The same for Hadoop's `FileContext` API, which streaming checkpoints
  * and state stores write through: `LocalFs` over [[NioRawLocalFileSystem]]. */
final class NioLocalFs(uri: java.net.URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `RawLocalFs` (whose constructors Hadoop keeps package-private) over
  * [[NioRawLocalFileSystem]], with its overrides. */
final class NioRawLocalFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` whose `setPermission` sets the bits through
  * `java.nio`. Without the native hadoop library the stock one forks
  * `chmod` for every file and directory it creates (1–2 ms each; a
  * partitioned index write creates hundreds). Special bits (sticky) and
  * stores without POSIX attributes keep Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      // FsPermission renders the nine bits as "rwxr-x---", nio's format
      try Files.setPosixFilePermissions(file.toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
      }
    }
}

object NioLocalFileSystem {
  /** The one session setting that mounts `file://` through these
    * classes (`FileSystem` and `FileContext`), on the driver and in
    * every task. */
  val SessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
