package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two per-file child processes replaced
  * by `java.nio` calls. Without the native `libhadoop`, `RawLocalFileSystem`
  * forks `chmod` for every file and directory it creates (`setPermission`)
  * and `readlink` for every `FileContext.rename` (`getFileLinkStatus` on
  * source and destination, for the file and again for its `.crc`). Every
  * other method, and so every byte on disk, is Hadoop's own. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `Files.setPosixFilePermissions`; a sticky bit or
    * a non-POSIX filesystem takes Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) return super.setPermission(p, permission)
    // a plain FsPermission of the mode bits: subclasses such as FsCreateModes
    // print more than `rwxr-xr-x`
    val rwx = PosixFilePermissions.fromString(new FsPermission(mode).toString)
    try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Hadoop 3.4's `deprecatedGetFileLinkStatusInternal`: a file or directory
    * returns its status, a symlink a symlink status with the qualified target
    * (a dangling one with default attributes), a missing path throws
    * `FileNotFoundException`. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) return getFileStatus(f)
    val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, getLinkTarget(f))
    try {
      val s = getFileStatus(f)
      val a = Files.readAttributes(file, classOf[PosixFileAttributes])
      new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
        a.owner.getName, a.group.getName, target, f)
    } catch {
      case _: FileNotFoundException | _: NoSuchFileException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
    }
  }

  /** The unqualified link target; a non-link fails as in Hadoop. */
  override def getLinkTarget(f: Path): Path = {
    val file = pathToFile(f).toPath
    if (Files.isSymbolicLink(file)) new Path(Files.readSymbolicLink(file).toString)
    else getFileStatus(f).getSymlink
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFs` over the fork-free raw filesystem. Hadoop's own class cannot
  * be reused (its constructors are package-private), so its overrides are
  * copied here unchanged. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `LocalFs` over the fork-free raw one, so
  * streaming checkpoints keep `FileContext`'s atomic no-overwrite rename. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
