package graft.ops

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** Parity of the fork-free local filesystem ([[NioRawLocalFileSystem]]
  * and its `FileSystem` / `FileContext` wrappers) with Hadoop's
  * shell-backed `RawLocalFileSystem` and the `file://` classes it
  * replaces: the same status fields and exceptions, the same mode after
  * every `setPermission`, the same rename and overwrite rules.
  */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(local, new Configuration()); fs
  }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val raw = init(new RawLocalFileSystem)

  private def tmp(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink else null,
    s.getModificationTime, s.getBlockSize, s.getReplication,
    s.getPermission, s.getOwner, s.getGroup)

  private def outcome[A](f: => A): Either[Class[_], A] =
    try Right(f) catch { case e: Exception => Left(e.getClass) }

  test("status fields and exceptions match RawLocalFileSystem for a " +
      "file, a dir, a sticky dir, a symlink and a missing path") {
    val d = tmp("localfs-status")
    val file = Files.write(d.resolve("data.bin"), Array.fill[Byte](1234)(7))
    Files.setAttribute(file, "unix:mode", Integer.valueOf(0x1a0)) // 0640
    val dir = Files.createDirectory(d.resolve("sub"))
    Files.write(dir.resolve("child"), Array[Byte](1, 2, 3))
    val sticky = Files.createDirectory(d.resolve("sticky"))
    Files.setAttribute(sticky, "unix:mode", Integer.valueOf(0x3ed)) // 01755
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val paths = Seq(file, dir, sticky, link, d.resolve("missing"))
      .flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
    paths.foreach { p =>
      assert(outcome(fields(nio.getFileStatus(p))) ==
        outcome(fields(raw.getFileStatus(p))), s"getFileStatus($p)")
      assert(outcome(fields(nio.getFileLinkStatus(p))) ==
        outcome(fields(raw.getFileLinkStatus(p))), s"getFileLinkStatus($p)")
      assert(outcome(nio.listStatus(p).map(fields).toSeq) ==
        outcome(raw.listStatus(p).map(fields).toSeq), s"listStatus($p)")
    }
    assert(outcome(nio.getFileStatus(new Path(d.resolve("missing").toString)))
      == Left(classOf[FileNotFoundException]))
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileStatus(new Path(sticky.toString)).getPermission
      .getStickyBit)
  }

  test("permissions load lazily: a path deleted after its status is " +
      "taken fails at the first permission read, as with `ls`") {
    val d = tmp("localfs-lazy")
    val f = Files.write(d.resolve("gone"), Array[Byte](1))
    val p = new Path(f.toString)
    val (n, r) = (nio.getFileStatus(p), raw.getFileStatus(p))
    Files.delete(f)
    assert(outcome(n.getOwner) == Left(classOf[RuntimeException]))
    assert(outcome(r.getOwner) == Left(classOf[RuntimeException]))
  }

  test("setPermission leaves the same mode as chmod for all 512 rwx " +
      "modes, a sticky dir and a setgid dir") {
    val d = tmp("localfs-chmod")
    val (a, b) = (Files.createFile(d.resolve("a")), Files.createFile(d.resolve("b")))
    (0 until 512).foreach { m =>
      val perm = new FsPermission(m.toShort)
      nio.setPermission(new Path(a.toString), perm)
      raw.setPermission(new Path(b.toString), perm)
      assert(mode(a) == m && mode(b) == m, f"mode $m%o: nio ${mode(a)}%o, " +
        f"chmod ${mode(b)}%o")
    }
    Seq(0x3ed /* 01755 */, 0x1ed /* 0755 */).foreach { m =>
      val (x, y) = (Files.createDirectory(d.resolve(s"sx$m")),
        Files.createDirectory(d.resolve(s"sy$m")))
      // a setgid dir: chmod(1) keeps the bit under a numeric mode
      Seq(x, y).foreach(Files.setAttribute(_, "unix:mode",
        Integer.valueOf(0x5fd))) // 02775
      nio.setPermission(new Path(x.toString), new FsPermission(m.toShort))
      raw.setPermission(new Path(y.toString), new FsPermission(m.toShort))
      assert(mode(x) == mode(y), f"dir mode $m%o: nio ${mode(x)}%o, " +
        f"chmod ${mode(y)}%o")
    }
  }

  test("FileSystem.rename onto an existing file returns false and keeps " +
      "both files, as Hive's ProxyLocalFileSystem did") {
    val fs = FileSystem.get(local, spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    val hive = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    hive.initialize(local, new Configuration())
    Seq(fs, hive).foreach { f =>
      val d = tmp("localfs-rename")
      Seq("src", "dst").foreach(n =>
        Files.write(d.resolve(n), n.getBytes("UTF-8")))
      val (src, dst) = (new Path(d.resolve("src").toUri),
        new Path(d.resolve("dst").toUri))
      assert(!f.rename(src, dst), f.getClass.getName)
      assert(Files.readString(d.resolve("src")) == "src")
      assert(Files.readString(d.resolve("dst")) == "dst")
      assert(f.rename(src, new Path(d.resolve("moved").toUri)))
      assert(Files.readString(d.resolve("moved")) == "src")
    }
  }

  test("FileContext.rename(OVERWRITE) replaces a pointer file (checksum " +
      "included) and refuses a non-empty dir, as Hadoop's LocalFs does") {
    val graftConf = spark.sessionState.newHadoopConf()
    val stockConf = new Configuration()
    def run(conf: Configuration): (String, Either[Class[_], Unit]) = {
      val fc = FileContext.getFileContext(local, conf)
      val fs = FileSystem.get(local, conf)
      val d = new Path(tmp("localfs-fc").toUri)
      def write(p: Path, s: String): Unit = {
        val out = fs.create(p, true)
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      write(new Path(d, "LATEST"), "1")
      write(new Path(d, "LATEST.tmp"), "22")
      fc.rename(new Path(d, "LATEST.tmp"), new Path(d, "LATEST"),
        Options.Rename.OVERWRITE)
      val in = fs.open(new Path(d, "LATEST")) // verifies the .crc
      val pointer = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      fs.mkdirs(new Path(d, "vdst"))
      write(new Path(d, "vdst/part"), "x")
      fs.mkdirs(new Path(d, "vsrc"))
      pointer -> outcome(fc.rename(new Path(d, "vsrc"), new Path(d, "vdst"),
        Options.Rename.OVERWRITE))
    }
    assert(FileContext.getFileContext(local, graftConf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    val graft = run(graftConf)
    assert(graft == ("22", Left(classOf[IOException])), graft)
    assert(graft == run(stockConf))
  }
}
