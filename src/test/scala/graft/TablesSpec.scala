package graft

import graft.ops.{OpCompiler, Pipeline}
import graft.sources.{Layouts, Tables}
import graft.tools.Probe
import java.nio.file.Files
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with SparkSpec {

  test("lines numbers a file exactly even when it splits into many scan blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lines").toFile
    val f = new java.io.File(dir, "big.txt")
    val n = 500
    val content = (0 until n).map(i => f"line-$i%05d-${"x" * 40}").mkString("\n")
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    // ~24 KB file, 1 KB blocks -> ~24 splits; tiny openCost so splits are
    // bin-packed many-per-partition in size order (the misnumbering trigger)
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "1024",
      "spark.sql.files.openCostInBytes" -> "16") {
      // assert on the SCAN partitioning (the joined output is AQE-coalesced)
      assert(spark.read.text(f.getAbsolutePath).rdd.getNumPartitions > 4,
        "test must actually split the file")
      val got = Tables.lines(spark, f.getAbsolutePath)
      val rows = got.collect().map(r => r.getLong(2) -> r.getString(0)).sortBy(_._1)
      assert(rows.map(_._1).toSeq == (0L until n.toLong))
      assert(rows.map(_._2).toSeq == content.linesIterator.toSeq)
    }
  }

  /** A ~24 KB file of `n` numbered lines: one split by default, ~24
    * splits under `spark.sql.files.maxPartitionBytes=1024`. */
  private def numberedFile(n: Int = 500): (String, Seq[String]) = {
    val f = Files.createTempDirectory("graft_lines_n").resolve("n.txt")
    val lines = (0 until n).map(i => f"line-$i%05d-${"x" * 40}")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    (f.toString, lines)
  }

  /** (line_no, line) per file name, in line_no order. */
  private def numberingByFile(df: org.apache.spark.sql.DataFrame): Map[String, Seq[(Long, String)]] =
    df.collect().groupBy(_.getString(1).replaceAll(".*/", "")).map { case (k, rows) =>
      k -> rows.map(r => r.getLong(2) -> r.getString(0)).sortBy(_._1).toSeq }

  test("the split layout is fixed at construction: run split after building unsplit raises") {
    val (f, lines) = numberedFile()
    val builtUnsplit = Tables.lines(spark, f)
    val e = intercept[Exception] {
      withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
        assert(spark.read.text(f).rdd.getNumPartitions > 4, "test must actually split the file")
        builtUnsplit.collect()
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("no line offset")), e)
    // the reverse drift, built split and run unsplit, still numbers exactly
    val builtSplit = withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
      Tables.lines(spark, f)
    }
    assert(spark.read.text(f).rdd.getNumPartitions == 1)
    assert(numberingByFile(builtSplit) == Map("n.txt" -> lines.indices.map(_.toLong).zip(lines)))
  }

  test("lines keeps blank lines, strips \\r\\n endings and reads a last line without a newline") {
    val dir = Files.createTempDirectory("graft_lines_eol")
    Files.write(dir.resolve("crlf.txt"), "a\r\n\r\nb\r\n  \r\nc".getBytes("UTF-8"))
    Files.write(dir.resolve("lf.txt"), "x\n\ny\n".getBytes("UTF-8"))
    assert(numberingByFile(Tables.lines(spark, dir.toString)) == Map(
      "crlf.txt" -> Seq(0L -> "a", 1L -> "", 2L -> "b", 3L -> "  ", 4L -> "c"),
      "lf.txt" -> Seq(0L -> "x", 1L -> "", 2L -> "y")))
  }

  test("lines restarts the count per file when many small files and an empty one share a scan partition") {
    val dir = Files.createTempDirectory("graft_lines_pack")
    Files.write(dir.resolve("f_empty.txt"), Array.emptyByteArray)
    val files = (1 to 20).map { k =>
      val lines = (0 until 3 + k % 4).map(i => s"f$k-l$i")
      Files.write(dir.resolve(s"f_$k.txt"), lines.mkString("\n").getBytes("UTF-8"))
      s"f_$k.txt" -> lines
    }.toMap
    // generated code, then the interpreted path of the counter
    for (codegen <- Seq(Seq(), Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
      withConf(codegen :+ ("spark.sql.files.openCostInBytes" -> "16"): _*) {
        assert(spark.read.text(s"$dir/f_*.txt").rdd.getNumPartitions < 10,
          "test must pack several files into one scan partition")
        assert(numberingByFile(Tables.lines(spark, s"$dir/f_*.txt")) ==
          files.map { case (k, ls) => k -> ls.indices.map(_.toLong).zip(ls) }, codegen)
      }
  }

  test("line_no after a downstream FILTER, and after TRANSFORM:uppercase then FILTER, is the line's index in the file") {
    val f = Files.createTempDirectory("graft_lines_filter").resolve("mixed.txt")
    val lines = (0 until 600).map(i => if (i % 7 == 3) s"keep $i ${"y" * 30}" else s"drop $i ${"z" * 30}")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    val want = lines.indices.filter(i => lines(i).startsWith("keep")).map(_.toLong)
    val ctx = OpCompiler.Ctx(Some("value"), Seq("file", "line_no"))
    for (conf <- Seq("134217728", "1024"); ops <- Seq(Seq("FILTER:keep"),
        Seq("TRANSFORM:uppercase", "FILTER:KEEP"))) {
      withConf("spark.sql.files.maxPartitionBytes" -> conf) {
        val got = Pipeline.fromDescriptors(ops, ctx)(Tables.lines(spark, f.toString))
          .collect().map(r => r.getAs[Long]("line_no") -> r.getAs[String]("value")).sortBy(_._1).toSeq
        assert(got.map(_._1) == want, s"$ops at maxPartitionBytes=$conf")
        assert(got.forall { case (i, v) => v.equalsIgnoreCase(lines(i.toInt)) }, s"$ops at $conf")
      }
    }
  }

  test("an unsplit file numbers inside the scan: no exchange, window or join, and a text console job runs 1 job") {
    val (f, lines) = numberedFile()
    val nodes = Layouts.executedNodes(Tables.lines(spark, f).queryExecution.executedPlan)
    assert(nodes.count(n => n.isInstanceOf[Exchange] || n.isInstanceOf[WindowExec] ||
      n.isInstanceOf[BaseJoinExec]) == 0, nodes.map(_.nodeName))
    val r = Probe.measureConsole(spark, s"RAINSTORM FILTER:x TRANSFORM:uppercase $f 3")
    assert(r.buildJobs == 0 && r.jobs == 1 && r.exchanges == 0, r.line)
    // both sides of the size bound min(maxPartitionBytes, openCostInBytes)
    // number identically; one byte under the file's length, the bound says
    // "may split" while Spark still reads it whole, which costs the counting
    // job and the offsets join, never a number
    val len = Files.size(java.nio.file.Paths.get(f))
    val want = Map("n.txt" -> lines.indices.map(_.toLong).zip(lines))
    for ((openCost, buildJobs, joins) <- Seq((len, 0, 0), (len - 1, 1, 1)))
      withConf("spark.sql.files.openCostInBytes" -> openCost.toString,
          "spark.sql.files.minPartitionNum" -> "1") {
        assert(spark.read.text(f).rdd.getNumPartitions == 1, "test must read the file whole")
        val r = Probe.measure(spark, s"lines_$openCost", () => Tables.lines(spark, f))
        val built = Tables.lines(spark, f)
        val planJoins = Layouts.executedNodes(built.queryExecution.executedPlan)
          .count(_.isInstanceOf[BaseJoinExec])
        assert((r.buildJobs, planJoins) == (buildJobs, joins), s"openCostInBytes=$openCost: ${r.line}")
        assert(numberingByFile(built) == want, s"openCostInBytes=$openCost")
      }
  }

  test("events NTZ snapshot is epoch-preserving under a non-UTC session zone; registerAll exposes the typed ts") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    // A snapshot whose ts column is TIMESTAMP_NTZ holding UTC wall clock —
    // the shape a timestamp[us] parquet without isAdjustedToUTC reads as
    // when NTZ inference is on. 2024-01-01T12:00:00 UTC = 1704110400 s.
    spark.range(1).select(
      lit(7L).as("user_id"),
      expr("make_timestamp_ntz(2024, 1, 1, 12, 0, 0.5)").as("ts"),
      lit("view").as("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    withConf(
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.session.timeZone" -> "America/New_York") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      assert(raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType,
        "fixture must actually exercise the NTZ branch")
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      // unix_micros reads the instant, session-zone-independent: a bare
      // cast would land 5h off here (12:00 EST = 17:00 UTC)
      assert(got.select(expr("unix_micros(ts)")).head.getLong(0) == 1704110400500000L)
    }
    // registerAll needs every table present — use the real testdata dir,
    // whose TIMESTAMP(NANOS) snapshot reads as a nanos long: the raw view
    // would expose LongType where the contract promises an instant
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(spark.sql("select ts from events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    Tables.tableNames.foreach(spark.catalog.dropTempView(_))
  }

  test("lines numbers each file of a multi-file glob independently from 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lines2").toFile
    for (k <- 1 to 3) {
      val f = new java.io.File(dir, s"part_$k.txt")
      val content = (0 until 10 * k).map(i => s"f$k-l$i").mkString("\n")
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    }
    val got = Tables.lines(spark, s"${dir.getAbsolutePath}/part_*.txt")
      .collect().groupBy(_.getString(1))
    assert(got.size == 3)
    for ((file, rows) <- got) {
      val k = file.replaceAll(".*part_(\\d)\\.txt$", "$1").toInt
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (0L until 10L * k), s"file $file")
      assert(sorted.map(_.getString(0)).toSeq == (0 until 10 * k).map(i => s"f$k-l$i"), s"file $file")
    }
  }

  test("jsonl: schema-first read, corrupt lines quarantined byte-exact") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("part0.jsonl")
    val lines = Seq(
      """{"id": 1, "text": "alpha", "score": 0.5}""",
      """{"id": 2, "text": "beta"}""",              // missing field -> null
      """{"id": "NOT_A_NUMBER", "text": "gamma"}""", // type clash -> corrupt
      """this is not json at all""",
      """{"id": 4, "text": "delta", "score": 2.0, "extra": "ignored"}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val (good, bad) = graft.sources.Tables.jsonlSplit(spark, dir.toString, schema)
    val g = good.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("text")))
      .sortBy(_._1).toSeq
    assert(g == Seq((1L, "alpha"), (2L, "beta"), (4L, "delta")))
    // quarantined rows carry the raw offending line byte-exact
    val b = bad.collect().map(_.getAs[String]("_corrupt_record")).sorted.toSeq
    assert(b == Seq("""{"id": "NOT_A_NUMBER", "text": "gamma"}""",
      """this is not json at all""").sorted)
    // no silent drops: good + quarantined == input lines
    assert(good.count() + bad.count() == lines.length)
    // schema collision on the corrupt column fails fast
    intercept[IllegalArgumentException] {
      graft.sources.Tables.jsonl(spark, dir.toString,
        StructType(Seq(StructField("_corrupt_record", StringType))))
    }
  }

  test("XML round trip preserves markup chars, whitespace, newlines, nulls") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val nasty = Seq((1L, "a & b < c > d"), (2L, "line1\nline2\ttab"),
      (3L, ""), (4L, null.asInstanceOf[String]), (5L, "  padded  "),
      (6L, "unicode: 日本 ü é"), (7L, "]]> <![CDATA[x]]>"), (8L, "\"quotes' &amp;"))
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_spec").toString
    try {
      nasty.toDF("id", "txt").write.mode("overwrite")
        .option("rowTag", "r").format("xml").save(dir)
      val back = spark.read
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("txt", StringType))))
        .option("ignoreSurroundingSpaces", "false") // default TRIMS "  padded  "
        .option("rowTag", "r").format("xml").load(dir)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
        .sortBy(_._1).toSeq
      assert(back == nasty.sortBy(_._1))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
