package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileContext, FileStatus, FileSystem, FileUtil, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] and [[NioLocalFs]] against Hadoop's stock
  * `LocalFileSystem` and `LocalFs`: each operation runs through both on
  * sibling paths, and the results on disk and in the returned statuses
  * must be the same. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-localfs")
  private val modes = Seq("000", "600", "644", "700", "755", "777")
    .map(Integer.parseInt(_, 8))
  private val local = URI.create("file:///")

  private def conf(umask: String, nio: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl",
      if (nio) classOf[NioLocalFs].getName
      else classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  /** The stock and the NIO filesystem, each as FileSystem and as
    * FileContext, built directly (no FileSystem cache). */
  private final class Impl(val name: String, val fs: FileSystem, val fc: FileContext)
  private def impls(umask: String): Seq[Impl] =
    Seq("stock" -> new LocalFileSystem, "nio" -> new NioLocalFileSystem)
      .map { case (name, fs) =>
        val c = conf(umask, name == "nio")
        fs.initialize(local, c)
        new Impl(name, fs, FileContext.getFileContext(AbstractFileSystem.get(local, c), c))
      }

  /** All 12 mode bits, sticky/setuid/setgid included. */
  private def modeOf(p: JPath): Int =
    Files.getAttribute(p, "unix:mode",
      java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** relative path → mode of everything under `dir`. */
  private def modeTree(dir: JPath): Map[String, Int] = {
    val s = Files.walk(dir)
    try s.toArray.map(_.asInstanceOf[JPath]).filter(_ != dir)
      .map(p => dir.relativize(p).toString -> modeOf(p)).toMap
    finally s.close()
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  override def afterAll(): Unit =
    FileUtil.fullyDelete(root.toFile, true)

  test("mode bits after create, mkdirs and setPermission (FileSystem and " +
      "FileContext) equal the stock filesystem's, for 6 modes under 2 umasks") {
    for (umask <- Seq("022", "077"); mode <- modes) {
      val perm = new FsPermission(mode.toShort)
      val onDisk = impls(umask).map { impl =>
        val dir = Files.createDirectories(
          root.resolve(f"modes-$umask-$mode%03o").resolve(impl.name))
        val d = hpath(dir)
        impl.fs.create(new Path(d, "fs-create"), perm, true, 4096,
          1.toShort, 1L << 25, null).close()
        impl.fc.create(new Path(d, "fc-create"),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.perms(perm)).close()
        assert(impl.fs.mkdirs(new Path(d, "fs-mkdirs/leaf"), perm))
        impl.fc.mkdir(new Path(d, "fc-mkdir/leaf"), perm, true)
        for ((api, set) <- Seq[(String, Path => Unit)](
            "fs" -> (impl.fs.setPermission(_, perm)),
            "fc" -> (impl.fc.setPermission(_, perm)))) {
          val f = new Path(d, s"$api-set")
          impl.fs.create(f, true).close()
          set(f)
          assert(modeOf(dir.resolve(s"$api-set")) == mode,
            f"${impl.name} $api setPermission $mode%03o")
        }
        modeTree(dir)
      }
      assert(onDisk(0) == onDisk(1), f"umask $umask, mode $mode%03o")
      val masked = mode & ~Integer.parseInt(umask, 8)
      assert(onDisk(1)("fs-create") == masked && onDisk(1)("fs-mkdirs/leaf") == masked,
        f"umask $umask, mode $mode%03o")
    }
  }

  test("a sticky-bit mode is set by Hadoop's own code (NIO cannot set it)") {
    val sticky = Integer.parseInt("1755", 8)
    val set = impls("022").map { impl =>
      val dir = Files.createDirectories(root.resolve("sticky").resolve(impl.name))
      impl.fs.setPermission(hpath(dir), new FsPermission(sticky.toShort))
      modeOf(dir)
    }
    assert(set == Seq(sticky, sticky))
  }

  /** What a status call returns, as comparable values. */
  private def outcome(status: => FileStatus): Either[String, Seq[Any]] =
    Try(status).toEither.left.map(_.getClass.getName).map { st =>
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else None, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
    }

  test("getFileLinkStatus of a file, a directory, a symlink and a dangling " +
      "symlink, through both APIs, by qualified and bare path, equals " +
      "the stock filesystem's") {
    val dir = Files.createDirectories(root.resolve("links"))
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectories(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("missing"))
    val Seq(stock, nio) = impls("022")
    for (p <- Seq(file, sub, link, dangling);
         path <- Seq(hpath(p), new Path(p.toString))) {
      for ((api, call) <- Seq[(String, Impl => FileStatus)](
          "fs" -> (_.fs.getFileLinkStatus(path)),
          "fc" -> (_.fc.getFileLinkStatus(path)))) {
        assert(outcome(call(nio)) == outcome(call(stock)), s"$api $path")
      }
    }
    // the bare link paths are the cases where Hadoop's readlink finds a link
    assert(nio.fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.fc.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("a file and its .crc written by one filesystem read back with " +
      "checksum verification through the other, both ways") {
    val bytes = Array.tabulate[Byte](3000)(i => (i * 31 + i / 7).toByte)
    val impl = impls("022")
    val crcs = for ((writer, reader) <- Seq(impl(0) -> impl(1), impl(1) -> impl(0));
         api <- Seq("fs", "fc")) yield {
      val dir = Files.createDirectories(
        root.resolve("crc").resolve(s"$api-${writer.name}"))
      val p = new Path(hpath(dir), "data")
      val out = if (api == "fs") writer.fs.create(p, true)
        else writer.fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(bytes) finally out.close()
      def read(in: java.io.InputStream): Array[Byte] =
        try in.readAllBytes() finally in.close()
      assert(read(reader.fs.open(p)).sameElements(bytes), s"$api ${writer.name}")
      assert(read(reader.fc.open(p)).sameElements(bytes), s"$api ${writer.name}")
      val crc = Files.readAllBytes(dir.resolve(".data.crc")).toSeq
      // the checksum is verified: a flipped byte fails the FileSystem read
      val onDisk = Files.readAllBytes(dir.resolve("data"))
      onDisk(1500) = (onDisk(1500) ^ 1).toByte
      Files.write(dir.resolve("data"), onDisk)
      intercept[ChecksumException](read(reader.fs.open(p)))
      crc
    }
    assert(crcs.distinct.size == 1, "the .crc bytes differ between writers")
  }
}
