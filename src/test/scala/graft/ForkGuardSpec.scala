package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ops.Console
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

/** Local file I/O starts no child process: a checkpointed stream (with a
  * restart) and a batch parquet write, recorded with JFR's `jdk.ProcessStart`
  * event, show no process started from Hadoop's `Shell`. */
class ForkGuardSpec extends AnyFunSuite with SparkSpec {

  private def shellForks(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val file = Files.createTempFile("forks_", ".jfr")
    try {
      r.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        .map(e => s"${e.getString("command")}\n  " +
          e.getStackTrace.getFrames.asScala.take(12).map(_.toString).mkString("\n  "))
    } finally { r.close(); Files.delete(file) }
  }

  test("a checkpointed stream, its restart and a parquet write start no Hadoop Shell process") {
    // the session and Hadoop's Shell class (whose static init probes `setsid`
    // once per JVM) exist before recording starts
    spark.sparkContext
    Class.forName("org.apache.hadoop.util.Shell")
    val in = Files.createTempDirectory("forks_in")
    val out = Files.createTempDirectory("forks_out").toString
    val ckpt = Files.createTempDirectory("forks_ckpt").toString
    val batchOut = Files.createTempDirectory("forks_batch").resolve("t").toString
    val cmd = s"RAINSTORM FILTER:x AGGREGATE $in 2"
    val forks = shellForks {
      Files.write(in.resolve("c1.txt"), java.util.Arrays.asList("x1", "y", "x2"))
      Console.runStream(spark, cmd, out, ckpt).awaitTermination(60000)
      Files.write(in.resolve("c2.txt"), java.util.Arrays.asList("x3"))
      Console.runStream(spark, cmd, out, ckpt).awaitTermination(60000)
      spark.range(100).repartition(3).write.parquet(batchOut)
    }
    assert(spark.read.parquet(out).count() == 3)
    assert(spark.read.parquet(batchOut).count() == 100)
    assert(forks.isEmpty, forks.take(5).mkString(s"${forks.size} Shell forks, first 5:\n", "\n", ""))
  }
}
