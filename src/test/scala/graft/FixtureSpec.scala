package graft

import graft.ops.{OpCompiler, Pipeline}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end parity on stand-ins for the reference's own data files
  * ([[ReferenceFiles]]): the representative two-operator jobs from
  * FIXTURES.md, checked against independent oracles computed straight
  * from the file bytes. */
class FixtureSpec extends AnyFunSuite with SparkSpec {

  private val dataDir = ReferenceFiles.dir

  private def fileLines(name: String): Seq[String] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dataDir/$name")).asScala.toSeq

  /** Minimal RFC-4180 field splitter (quote = escape = `"`), the oracle for
    * Spark's csv parse — the deliberate divergence from the reference's
    * naive split(",") (SURVEY.md §1.1). */
  private def parseCsv(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else inQ = false
        } else sb += c
      } else if (c == '"') inQ = true
      else if (c == ',') { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.result()
  }

  test("COLUMN_FILTER:Sign_Post then AGGREGATE over Traffic_Signs_1000.csv") {
    val df = Tables.trafficSigns(spark, s"$dataDir/Traffic_Signs_1000.csv")
    val out = Pipeline.fromDescriptors(
      Seq("COLUMN_FILTER:Sign_Post:Punched Telespar", "AGGREGATE"),
      OpCompiler.Ctx(None, Seq("OBJECTID")))(df)
    val got = out.select("running_count").collect().map(_.getLong(0)).sorted.toSeq
    val want = fileLines("Traffic_Signs_1000.csv")
      .count(l => parseCsv(l).lift(6).exists(_.trim == "Punched Telespar"))
    assert(want > 0, "fixture should match some rows")
    assert(got == (1L to want.toLong))
  }

  test("COLUMN_FILTER:Category then select over the quoted-comma CSV") {
    val df = Tables.trafficSigns(spark, s"$dataDir/Traffic_Signs_1000.csv")
    val out = Pipeline.fromDescriptors(
      Seq("COLUMN_FILTER:Category:Warning", "TRANSFORM:select:OBJECTID,Sign_Type"),
      OpCompiler.Ctx(None, Seq("OBJECTID")))(df)
    assert(out.columns.toSeq == Seq("OBJECTID", "Sign_Type"))
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // Category is column 8 — AFTER the embedded-comma Size_ field, where the
    // reference's naive split misparses; the proper-CSV oracle is the spec.
    val want = fileLines("Traffic_Signs_1000.csv").map(parseCsv)
      .filter(_.lift(8).exists(_.trim == "Warning"))
      .map(f => (f(2), f(3))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("FILTER:profit then AGGREGATE over the business articles") {
    val docs = Tables.lines(spark, s"$dataDir/business_*.txt")
    val out = Pipeline.fromDescriptors(
      Seq("FILTER:profit", "AGGREGATE"),
      OpCompiler.Ctx(Some("value"), Seq("file", "line_no")))(docs)
    val got = out.select("running_count").collect().map(_.getLong(0)).sorted.toSeq
    val files = new java.io.File(dataDir).list().filter(
      n => n.startsWith("business_") && n.endsWith(".txt")).toSeq
    val want = files.map(f => fileLines(f).count(_.toLowerCase.contains("profit"))).sum
    assert(want > 0)
    assert(got == (1L to want.toLong))
  }

  test("FILTER:euros then splitintowords conserves token counts") {
    val docs = Tables.lines(spark, s"$dataDir/business_1.txt")
    val out = Pipeline.fromDescriptors(
      Seq("FILTER:euros", "TRANSFORM:splitintowords"),
      OpCompiler.Ctx(Some("value"), Seq("file", "line_no")))(docs)
    val want = fileLines("business_1.txt")
      .filter(_.toLowerCase.contains("euros"))
      .map(l => l.trim.split("\\s+").length).sum
    assert(out.count() == want)
  }

  test("TRANSFORM:uppercase then FILTER:LUFTHANSA chains case-sensitively") {
    val docs = Tables.lines(spark, s"$dataDir/business_1.txt")
    val out = Pipeline.fromDescriptors(
      Seq("TRANSFORM:uppercase", "FILTER:LUFTHANSA"),
      OpCompiler.Ctx(Some("value"), Seq("file", "line_no")))(docs)
    val want = fileLines("business_1.txt").count(_.toLowerCase.contains("lufthansa"))
    assert(want > 0)
    assert(out.count() == want)
    assert(out.select("value").collect().forall(_.getString(0).contains("LUFTHANSA")))
  }
}
