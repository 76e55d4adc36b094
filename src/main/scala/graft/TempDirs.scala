package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

/** Scratch directories for stream gates, Bench's stream drains and the
  * export gates, deleted by ONE shutdown hook. Stream gates and drains get
  * fresh dirs under a per-JVM root in java.io.tmpdir; an export gate
  * overwrites one pid-scoped dir per name on every build. Callers delete
  * what they can as soon as they are done with it; what they cannot (a
  * sink dir that a returned frame still reads lazily) goes at exit. */
private[graft] object TempDirs {

  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => owned.forEach(p => delete(p))))

  private def own(p: Path): Path = {
    hook
    owned.add(p)
    p
  }

  lazy val root: Path = own(Files.createTempDirectory("graft_tmp"))

  /** A new empty directory under [[root]]. */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** `<java.io.tmpdir>/<prefix><pid>`, deleted at exit. The pid keeps
    * concurrent JVMs apart, and rebuilding a query overwrites the same dir
    * instead of leaving one copy per build. perfbench reads
    * `graft_export_gate_<pid>` by this name. */
  def pidScoped(prefix: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/$prefix${ProcessHandle.current().pid()}"
    own(Paths.get(out))
    out
  }

  /** Delete a file tree. Symbolic links are removed, never followed. */
  def delete(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val paths = Files.walk(p) // does not follow links
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally paths.close()
    }
}
