package graft

import java.nio.file.{Files, LinkOption, Path}

/** Scratch directories for stream gates and Bench's stream drains, all
  * under ONE per-JVM root in java.io.tmpdir that a single shutdown hook
  * deletes. Callers delete what they can as soon as they are
  * done with it; what they cannot (a sink dir that a returned frame still
  * reads lazily) goes with the root at exit. */
private[graft] object TempDirs {

  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_tmp")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  /** A new empty directory under [[root]]. */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete a file tree. Symbolic links are removed, never followed. */
  def delete(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val paths = Files.walk(p) // does not follow links
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally paths.close()
    }
}
