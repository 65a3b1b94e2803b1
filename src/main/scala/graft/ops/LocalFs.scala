package graft.ops

import java.io.{DataOutput, File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal,
  PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its three shell-outs replaced by
  * `java.nio` calls. Without `libhadoop`, `RawLocalFileSystem` runs
  * `chmod` for every permission it sets (each file and dir it creates),
  * `ls -ld` for every permission, owner or group it reads, and
  * `readlink` for every link check (several per `FileContext` rename): one
  * process launch each, on every commit and listing of the engine.
  *
  * Same answers, no process:
  *  - [[setPermission]]: `chmod(2)` through nio. Modes nio cannot
  *    express go to `super` (a shell `chmod`): the sticky bit, and a
  *    directory carrying setuid/setgid, which `chmod(1)` keeps under a
  *    numeric mode and `chmod(2)` would clear.
  *  - [[getFileStatus]] / [[listStatus]]: one `stat`; permission, owner
  *    and group load lazily from one more `stat` (`unix:mode,owner,group`,
  *    following links: Hadoop runs `ls -ld` on the canonical path), as
  *    Hadoop's `DeprecatedRawLocalFileStatus` does. A path deleted
  *    between the listing and the first permission read fails then,
  *    with the `RuntimeException` Hadoop throws when `ls` fails.
  *  - [[getFileLinkStatus]]: `Files.isSymbolicLink` on the path string,
  *    as Hadoop's `readlink` does (so a `file:`-qualified path never
  *    reads as a link, as before); a non-link returns
  *    [[getFileStatus]], a link goes to `super`.
  *
  * Off a platform with the `unix` attribute view every call goes to
  * `super`. Bound to `file://` by [[graft.Sessions.tuned]] through
  * [[NioLocalFileSystem]] and [[NioLocalFs]].
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val f = pathToFile(p).toPath
    if (!Unix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      if ((old & TypeMask) == Dir && (old & SetIds) != 0)
        super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.foreach { case (bit, perm) => if ((mode & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(f, perms)
      }
    }
  }

  override def getFileStatus(p: Path): FileStatus =
    if (!Unix) super.getFileStatus(p)
    else {
      val f = pathToFile(p)
      // File.exists() in Hadoop: any stat failure reads as "absent"
      val a = try Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
        catch { case _: FileSystemException =>
          throw new FileNotFoundException(s"File $p does not exist") }
      new LazyPermissionStatus(a.size, a.isDirectory, getDefaultBlockSize(p),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  /** `super` lists a directory through [[getFileStatus]] per child; only
    * its single-file case builds a shell-backed status directly.
    */
  override def listStatus(p: Path): Array[FileStatus] =
    if (!Unix) super.listStatus(p)
    else {
      val s = getFileStatus(p)
      if (s.isDirectory) super.listStatus(p) else Array(s)
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Unix && !Files.isSymbolicLink(new File(p.toString).toPath))
      getFileStatus(p)
    else super.getFileLinkStatus(p)
}

object NioRawLocalFileSystem {
  private val Unix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val TypeMask = 0xf000 // S_IFMT
  private val Dir = 0x4000 // S_IFDIR
  private val SetIds = 0xc00 // S_ISUID | S_ISGID

  /** rwxrwxrwx, high bit first — the declaration order of the enum. */
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex.map {
    case (perm, i) => (0x100 >> i) -> perm
  }

  /** A status whose permission, owner and group are read on first use. */
  private final class LazyPermissionStatus(len: Long, dir: Boolean,
                                           blockSize: Long, mtime: Long,
                                           atime: Long, path: Path)
      extends FileStatus(len, dir, 1, blockSize, mtime, atime,
        null, null, null, path) {
    @volatile private var loaded = false

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    override def write(out: DataOutput): Unit = { load(); super.write(out) }

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a = try Files.readAttributes(new File(getPath.toUri).toPath,
            "unix:mode,owner,group")
          catch { case e: IOException => throw new RuntimeException(
            s"Error while reading file permissions of $getPath", e) }
        // the bits FsPermission.valueOf keeps from `ls -ld`: rwx + sticky
        setPermission(new FsPermission(
          (a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. `rename` onto an existing file returns
  * false, the rule of Hive's `ProxyLocalFileSystem` (the `file://`
  * class `hive-exec` registers through ServiceLoader, which resolves
  * when no class is configured).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` binding that
  * [[Staging.atomicRename]] goes through): Hadoop's `LocalFs` shape —
  * checksums over a delegate to [[NioRawLocalFileSystem]].
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
