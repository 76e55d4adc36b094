package graft

import graft.tools.Probe
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Probe]]'s collector on a query whose plan facts are known by
  * construction, its printed line, and the one-session-factory rule. Its
  * agreement with the gate queries' pinned plan facts is in PlansSpec. */
class ProbeSpec extends AnyFunSuite with SparkSpec {

  test("two aggregates over one filtered parquet read: two duplicate scans, no reuse") {
    val dir = Files.createTempDirectory("probe_spec").resolve("t").toString
    spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
      .write.parquet(dir)
    // different partial aggregates, so no exchange is shared, over the same
    // path, read schema and data filter
    def build() = {
      val t = spark.read.parquet(dir).filter(col("k") > 2)
      t.groupBy("k").agg(sum("id").as("s"))
        .join(t.groupBy("k").agg(max("id").as("m")), "k")
    }
    val plans = Files.createTempDirectory("probe_plans")
    val r = Probe.measure(spark, "synthetic", () => build(), Some(plans))
    assert(r.scans == 2 && r.dupScans == 2, r.line)
    assert(r.reused == 0, r.line)
    assert(r.exchanges >= 2, r.line)
    assert(r.jobs > 0 && r.tasks > 0 && r.wallS > 0, r.line)
    val txt = Files.readString(plans.resolve("synthetic.txt"))
    assert(txt.contains("isFinalPlan=false") && txt.contains("isFinalPlan=true"), txt)
    // the pattern scripts/scale_trend.py reads
    val m = """\[probe\] (\S+)\s+([0-9.]+) s""".r.findFirstMatchIn(r.line)
    assert(m.map(_.group(1)).contains("synthetic"), r.line)
    assert(m.exists(g => (g.group(2).toDouble - r.wallS).abs < 0.001), r.line)
  }

  test("pins= counts what a query leaves registered: labelPropagation keeps only the pin its result reads") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val r = Probe.measure(spark, "lpa",
      () => graft.operators.Graph.labelPropagation(edges, rounds = 3))
    assert(r.pins == 1 && r.line.contains(" pins=1 "), r.line)
  }

  test("console lines: split at each RAINSTORM token and measured through Console.run") {
    assert(Probe.consoleLines(Seq("RAINSTORM", "FILTER:\"a b\"", "AGGREGATE", "/d/in.txt", "3",
      "RAINSTORM FILTER:x TRANSFORM:uppercase /d/t.csv 1")) ==
      Seq("RAINSTORM FILTER:\"a b\" AGGREGATE /d/in.txt 3",
        "RAINSTORM FILTER:x TRANSFORM:uppercase /d/t.csv 1"))
    val f = Files.createTempDirectory("probe_console").resolve("in.txt")
    Files.write(f, Seq("alpha x", "beta", "gamma x").asJava)
    val r = Probe.measureConsole(spark, s"RAINSTORM FILTER:x TRANSFORM:uppercase $f 2")
    assert(r.name == "RAINSTORM_FILTER:x_TRANSFORM:uppercase_in.txt_2", r.line)
    assert(r.jobs > 0 && r.exchanges == 0 && r.scans == 1, r.line)
    // the warm run compiled this line's code; the measured run reuses it
    assert(r.compiles == 0 && r.line.endsWith(" compiles=0"), r.line)
    assert("""\[probe\] (\S+)\s+([0-9.]+) s""".r.findFirstMatchIn(r.line).isDefined, r.line)
  }

  test("a console AGGREGATE below the size gate runs 0+2 jobs and 1 exchange; shut, 3+5 jobs, 4 exchanges") {
    for (line <- Seq(
        s"RAINSTORM FILTER:profit AGGREGATE ${ReferenceFiles.dir}/business_1.txt 3",
        s"RAINSTORM COLUMN_FILTER:Category:Warning AGGREGATE ${ReferenceFiles.trafficSignsCsv} 3")) {
      val below = Probe.measureConsole(spark, line)
      assert((below.buildJobs, below.jobs, below.exchanges) == (0, 2, 1), below.line)
      val shut = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        Probe.measureConsole(spark, line))
      assert((shut.buildJobs, shut.jobs, shut.exchanges) == (3, 5, 4), shut.line)
    }
  }

  test("no main source but GraftSession and EntrySmoke calls SparkSession.builder") {
    // EntrySmoke deliberately runs on a plain session without graft configs
    val allowed = Set("GraftSession.scala", "EntrySmoke.scala")
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .filter { p =>
        Files.readAllLines(p).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
          .exists(l => builder.findFirstIn(l).isDefined)
      }.toList
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }
}
