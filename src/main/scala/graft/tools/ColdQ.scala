package graft.tools

import graft.SparkEntry

/** COLD-cache timings (SCALE.md's sweep caveat closer): both sweep scales
  * fit in page cache, so the measured exponents are compute scaling; this
  * tool separates the I/O term. Per query: codegen/session warmup on a
  * DIFFERENT tiny dir (the target's pages stay untouched), drop the OS
  * page cache (`echo 3 > drop_caches` — root sandbox), time the FIRST run
  * at the target SF (cold parquet listing + footers + data), then the
  * second (warm) run for the in-JVM delta.
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.ColdQ q_redact ...
  */
object ColdQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/.bench-data/sf1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val spark = Probe.session("graft-coldq")
    def run(n: String, dir: String): Long =
      SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
    val names = if (args.nonEmpty) args.toSeq else Seq("q_redact")
    names.foreach(n => run(n, warmDir))
    names.foreach { n =>
      val rc = new ProcessBuilder("sh", "-c",
        "sync; echo 3 > /proc/sys/vm/drop_caches").inheritIO().start().waitFor()
      require(rc == 0, s"drop_caches failed (rc=$rc)")
      val t0 = System.nanoTime(); run(n, sfDir)
      val cold = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); run(n, sfDir)
      val warm = (System.nanoTime() - t1) / 1e9
      println(f"[coldq] $n%-18s cold=$cold%7.2fs warm=$warm%7.2fs io_term=${cold - warm}%6.2fs")
    }
    spark.stop()
  }
}
