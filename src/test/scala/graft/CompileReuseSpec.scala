package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ops.Console
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Every session of the engine shares one compiled-code cache: a fresh
  * stream (which runs on a clone of its session) and a `newSession()` reuse
  * the classes an earlier run compiled instead of running Janino again.
  * Compiles are Spark's JVM-wide `CodegenMetrics` count, read around a body
  * while no other query runs. */
class CompileReuseSpec extends AnyFunSuite with SparkSpec {

  private val isolation = "spark.sql.artifact.isolation.enabled"

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private lazy val input = {
    val in = Files.createTempDirectory("reuse_in")
    Files.write(in.resolve("c1.txt"), java.util.Arrays.asList("x1", "y", "x2", "zx"))
    in
  }

  test("the session and its newSession() run with artifact isolation off") {
    assert(spark.conf.get(isolation) == "false")
    assert(spark.newSession().conf.get(isolation) == "false")
  }

  test("a second identical stream on fresh checkpoint and sink dirs compiles nothing") {
    val cmd = s"RAINSTORM FILTER:x AGGREGATE $input 2"
    def drain(): Unit = {
      val out = Files.createTempDirectory("reuse_out").toString
      val ckpt = Files.createTempDirectory("reuse_ckpt").toString
      val q = Console.runStream(spark, cmd, out, ckpt)
      assert(q.awaitTermination(60000), "the AvailableNow stream did not finish")
      assert(spark.read.parquet(out).count() == 3)
    }
    val first = compiles(drain())
    val second = compiles(drain())
    assert(second == 0, s"the first stream compiled $first classes, the second $second")
  }

  test("a console line on a newSession() compiles nothing after it ran on the session") {
    val line = s"RAINSTORM FILTER:x TRANSFORM:uppercase $input/c1.txt 2"
    val first = compiles(assert(Console.run(spark, line).collect().length == 3))
    val fresh = spark.newSession()
    val second = compiles(assert(Console.run(fresh, line).collect().length == 3))
    assert(second == 0, s"the session compiled $first classes, its newSession() $second")
  }

  test("no main source adds a session artifact, which would need isolation") {
    val artifact = """\baddArtifacts?\s*\(""".r
    val offenders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filter(p => Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
        .exists(l => artifact.findFirstIn(l).isDefined))
      .toList
    assert(offenders.isEmpty, s"session artifacts need $isolation=true: $offenders")
  }
}
