package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local filesystem without its process forks. Without libhadoop
  * (`NativeCodeLoader`'s "unable to load native-hadoop library" warning),
  * `RawLocalFileSystem` runs `chmod` in a child process for every file and
  * `.crc` it creates, and FileContext's rename runs `readlink` on each path
  * it checks: ~22 forks per streaming trigger for the offset log, the
  * commit log and the `graft-file-log`. [[NioRawLocalFileSystem]] sets the
  * same mode bits through NIO and answers the link check through NIO;
  * every other method, and every case NIO cannot decide, is Hadoop's own
  * code. The files on disk are the same (names, `.crc` siblings,
  * write-tmp-then-rename), so a checkpoint moves freely between a session
  * with these classes and one without.
  *
  * A session gets them through [[LocalFs.sparkConf]]; HDFS, S3 and every
  * other scheme are untouched. */
object LocalFs {
  /** The `spark.hadoop.*` keys that register the fork-free classes for
    * `file:` — FileSystem (`graft-file-log`, parquet writes) and
    * FileContext (Spark's offset and commit logs). */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName)
}

/** `RawLocalFileSystem` with NIO in place of its two forks. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. Hadoop's code runs when libhadoop is loaded (it
    * does not fork then), for bits NIO cannot set (sticky, setuid,
    * setgid) and on a store without POSIX attributes. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || (mode & ~0x1ff) != 0)
      super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(mode))
    catch { case _: UnsupportedOperationException =>
      super.setPermission(p, permission)
    }
  }

  /** Hadoop runs `readlink` on `new File(f.toString)` and returns
    * `getFileStatus(f)` when that names no link; for a qualified path the
    * string is a relative name like `file:/tmp/x`, which names no file at
    * all. This looks at the same string through NIO, and leaves a link to
    * Hadoop's code. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val maybeLink =
      try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (maybeLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

object NioRawLocalFileSystem {
  private val perms = PosixFilePermission.values // OWNER_READ … OTHERS_EXECUTE

  /** The POSIX permission set of mode bits `mode` (0 to 0777). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- perms.indices if (mode & (0x100 >> i)) != 0) s.add(perms(i))
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; the stock
  * constructor that takes a FileSystem is package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums over
  * the raw store, rooted at `file:///` whatever URI it is built for) over
  * [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
