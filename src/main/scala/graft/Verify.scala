package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The dump runs WORKER-PARALLEL (default 4 threads, env
  * `SPARK_GRAFT_VERIFY_PAR`): the 322 queries are independent, and a
  * serial dump at ~1.5 s/query blows past a wall-time budget (the r16/r17
  * driver artifact came back `{}`). Each worker pulls names off one shared
  * queue and runs them on its OWN `spark.newSession()` clone — shared
  * SparkContext (so the 32 cores are one pool), but per-thread SQLConf and
  * temp-view catalog, so the streaming gates' scoped
  * `spark.sql.shuffle.partitions` save/restore and any temp views never
  * race across queries. The workers also share one compiled-code cache
  * (artifact isolation is off, see [[GraftSession]]): a class one worker
  * compiled is not compiled again by another. Heavy families (the
  * `q_stream_*` gates stage + drain real micro-batches) are queued FIRST
  * so the long poles start early instead of straggling the tail. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only these queries (local iteration; the
    // driver always passes exactly two args and gets the full dump).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Longest-pole-first order: streaming gates (fixed staging + drain
    // latency each) ahead of batch queries; alphabetical within a class
    // for determinism.
    def weight(name: String): Int =
      if (name.startsWith("q_stream")) 0
      else if (name.startsWith("q_bitext") || name.startsWith("q_sim")) 1
      else 2
    val work = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => DataFrame)]()
    SparkEntry.queries.toSeq.sortBy { case (n, _) => (weight(n), n) }
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach(work.add)
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt.max(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to par).map { i =>
      val t = new Thread(() => {
        // per-worker session clone: isolated SQLConf + temp views,
        // shared context/cache — see object doc
        val s = spark.newSession()
        var next = work.poll()
        while (next != null) {
          val (name, fn) = next
          val t0 = System.nanoTime()
          // repartition(1), not coalesce(1): coalesce would collapse the
          // whole plan into one task; the shuffle keeps upstream parallel.
          try {
            fn(s, sfDir).repartition(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(
              f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            failures.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          next = work.poll()
        }
      }, s"verify-$i")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] done, failures=${failures.get()}")
    spark.stop()
  }
}
