package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem,
  ForkFreeRawLocalFs}
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem keeps Hadoop's local semantics: modes,
  * symlink status, no-overwrite rename, `:` in names, and it is what the
  * session's Hadoop configuration resolves `file:` to. */
class LocalFsSpec extends AnyFunSuite with SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): JPath = Files.createTempDirectory("localfs_")
  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hpath(p: JPath): Path = new Path(p.toUri)

  test("the session resolves file: to the fork-free FileSystem and AbstractFileSystem") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isInstanceOf[ForkFreeLocalFs])
  }

  test("create and mkdirs set exact POSIX modes") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val dir = tmp()
    for ((octal, rwx) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------")) {
      val perm = new FsPermission(octal)
      val f = dir.resolve(s"f$octal")
      fs.create(hpath(f), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      assert(mode(f) == rwx, s"file $octal")
      val d = dir.resolve(s"d$octal")
      assert(fs.mkdirs(hpath(d), perm))
      assert(mode(d) == rwx, s"dir $octal")
    }
  }

  test("getFileLinkStatus: file, symlink, dangling symlink, missing path") {
    val fs = new ForkFreeRawLocalFileSystem
    fs.initialize(new URI("file:///"), conf)
    val dir = tmp()
    val file = Files.write(dir.resolve("file"), "abc".getBytes)
    val plain = fs.getFileLinkStatus(hpath(file))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)

    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val ls = fs.getFileLinkStatus(hpath(link))
    assert(ls.isSymlink && ls.getLen == 3)
    assert(ls.getSymlink.toUri.getPath == file.toString)
    assert(fs.getLinkTarget(hpath(link)) == new Path(file.toString))

    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val ds = fs.getFileLinkStatus(hpath(dangling))
    assert(ds.isSymlink && ds.getSymlink.toUri.getPath == dir.resolve("gone").toString)

    intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(dir.resolve("missing"))))
  }

  test("FileContext rename without OVERWRITE onto an existing file still fails") {
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    val dir = tmp()
    val src = Files.write(dir.resolve("src"), "s".getBytes)
    val dst = Files.write(dir.resolve("dst"), "d".getBytes)
    intercept[FileAlreadyExistsException](
      fc.rename(hpath(src), hpath(dst), Options.Rename.NONE))
    assert(new String(Files.readAllBytes(dst)) == "d")
    fc.rename(hpath(src), hpath(dir.resolve("moved")), Options.Rename.NONE)
    assert(!Files.exists(src) && Files.exists(dir.resolve("moved")))
  }

  test("a path containing ':' is a valid local name") {
    val dir = tmp()
    val name = s"$dir/a:b"
    assert(AbstractFileSystem.get(new URI("file:///"), conf).isValidName(name))
    // the raw layer creates it (ChecksumFs cannot name a `.crc` for it, as in Hadoop)
    val raw = FileContext.getFileContext(new ForkFreeRawLocalFs(new URI("file:///"), conf), conf)
    raw.create(new Path(new URI("file", null, name, null)), EnumSet.of(CreateFlag.CREATE)).close()
    assert(Files.exists(dir.resolve("a:b")))
  }
}
