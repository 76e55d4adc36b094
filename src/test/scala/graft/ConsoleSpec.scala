package graft

import graft.ops.{Console, OpCompiler, Pipeline, StreamOp}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's single-line console entry:
  * `RAINSTORM <op1> <op2> <file> [<numTasks> [<flag>]]`
  * (RainStorm.java:846-877 / Node.java:289-300), tokenized like
  * parseOperationString (Node.java:355-382). */
class ConsoleSpec extends AnyFunSuite with SparkSpec {
  import Console._

  private val trafficCsv = ReferenceFiles.trafficSignsCsv

  test("tokenizer preserves quoted spans and keeps the quote chars (Node.java:355-382)") {
    assert(tokenize("""RAINSTORM FILTER:"Punched Telespar" AGGREGATE f.csv 3 false""") ==
      Seq("RAINSTORM", "FILTER:\"Punched Telespar\"", "AGGREGATE", "f.csv", "3", "false"))
    // multiple spaces collapse; an unclosed quote runs to end of line,
    // exactly as the reference's char walk behaves
    assert(tokenize("""a  b "c d""") == Seq("a", "b", "\"c d"))
    assert(tokenize("") == Seq.empty)
  }

  test("parse: six-token worker form (Node.java:289-300)") {
    val cmd = parse(
      """RAINSTORM "COLUMN_FILTER:Category:Warning" "TRANSFORM:select:OBJECTID,Sign_Type" signs.csv 4 true""")
      .fold(m => fail(m), identity)
    assert(cmd.op1 == StreamOp.ColumnFilter("Category", "Warning"))
    assert(cmd.op2 == StreamOp.Select(Seq("OBJECTID", "Sign_Type")))
    assert(cmd.file == "signs.csv")
    assert(cmd.numTasks == 4)
    assert(cmd.failureScript)
  }

  test("parse: numTasks defaults to 3 when absent (RainStorm.java:853)") {
    val cmd = parse("""RAINSTORM FILTER:error AGGREGATE input.txt""")
      .fold(m => fail(m), identity)
    assert(cmd.numTasks == 3 && !cmd.failureScript)
  }

  test("parse: quoted pattern with spaces survives into the op") {
    val cmd = parse("""RAINSTORM FILTER:"Punched Telespar" AGGREGATE f.csv 3 false""")
      .fold(m => fail(m), identity)
    assert(cmd.op1 == StreamOp.Filter("Punched Telespar"))
  }

  test("parse rejects malformed lines") {
    assert(parse("LS f.csv").isLeft)
    assert(parse("RAINSTORM FILTER:x").isLeft) // missing op2 + file
    assert(parse("RAINSTORM FILTER:x AGGREGATE f.csv zero").isLeft)
    assert(parse("RAINSTORM BOGUS:x AGGREGATE f.csv 3 false").isLeft)
  }

  test("end-to-end on a Traffic_Signs-shaped fixture equals the direct pipeline") {
    val viaConsole = Console.run(spark,
      s"""RAINSTORM "COLUMN_FILTER:Category:Warning" "TRANSFORM:select:OBJECTID,Sign_Type" $trafficCsv 3 false""")
    val direct = Pipeline.fromDescriptors(
      Seq("COLUMN_FILTER:Category:Warning", "TRANSFORM:select:OBJECTID,Sign_Type"),
      OpCompiler.Ctx(None, Seq("OBJECTID")))(
      graft.sources.Tables.trafficSigns(spark, trafficCsv))
    val a = viaConsole.collect().map(_.toSeq).toSet
    val b = direct.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("FILTER on a CSV matches the whole line with its blank fields kept") {
    // `30,,Punched` spans a blank Supplement field; the parsed row holds
    // null there, which must join back as an empty field
    val raw = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(trafficCsv))
    val want = raw.toArray.map(_.toString).filter(_.toLowerCase.contains("30,,punched"))
      .map(_.split(",")(2)).toSeq
    assert(want == Seq("2", "6"))
    for (op1 <- Seq("FILTER:30,,Punched", "FILTERED_TRANSFORM:30,,Punched:uppercase")) {
      val got = Console.run(spark, s"RAINSTORM $op1 TRANSFORM:trim $trafficCsv 2")
        .select("OBJECTID").collect().map(_.getString(0)).sorted.toSeq
      assert(got == want, op1)
    }
  }

  test("numTasks never reshuffles a batch run: same rows, no exchange, scan partitions") {
    val scanParts = graft.sources.Tables.trafficSigns(spark, trafficCsv).rdd.getNumPartitions
    val rows = for (n <- Seq(1, 3, 5)) yield {
      val out = Console.run(spark,
        s"""RAINSTORM "TRANSFORM:select:OBJECTID,Category" "COLUMN_FILTER:Category:Warning" $trafficCsv $n false""")
      val nodes = graft.sources.Layouts.executedNodes(out.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[Exchange]), s"numTasks=$n: ${nodes.map(_.nodeName)}")
      assert(out.rdd.getNumPartitions == scanParts, s"numTasks=$n")
      out.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    assert(rows.head.nonEmpty && rows.distinct.size == 1)
  }

  test("a multi-split input keeps its scan parallelism through Console.run, numbering exactly") {
    val f = java.nio.file.Files.createTempDirectory("console_split").resolve("in.txt")
    val lines = (0 until 400).map(i => if (i % 3 == 1) f"keep $i%04d ${"k" * 30}" else f"drop $i%04d ${"d" * 30}")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    val kept = lines.indices.filter(i => lines(i).startsWith("keep"))
    def rows(line: String) = Console.run(spark, line).collect().map(_.toSeq).toSet
    // the ~17 KB text file splits at 1 KB; the 1.5 KB fixture CSV needs 256 B
    // blocks to split more than three ways
    for ((path, maxBytes, scan, pass, agg) <- Seq(
        (f.toString, "1024", () => spark.read.text(f.toString), "FILTER:keep TRANSFORM:uppercase",
          "FILTER:keep AGGREGATE"),
        (trafficCsv, "256", () => graft.sources.Tables.trafficSigns(spark, trafficCsv),
          "COLUMN_FILTER:Category:Warning TRANSFORM:select:OBJECTID,Sign_Type",
          "COLUMN_FILTER:Category:Warning AGGREGATE"))) {
      val want = (rows(s"RAINSTORM $pass $path 3"), rows(s"RAINSTORM $agg $path 3"))
      withConf("spark.sql.files.maxPartitionBytes" -> maxBytes) {
        val scanParts = scan().rdd.getNumPartitions
        assert(scanParts > 3, s"test must split $path more than numTasks ways")
        val out = Console.run(spark, s"RAINSTORM $pass $path 3")
        assert(out.rdd.getNumPartitions == scanParts, path)
        assert(out.collect().map(_.toSeq).toSet == want._1, path)
        val counted = Console.run(spark, s"RAINSTORM $agg $path 3")
        assert(counted.collect().map(_.toSeq).toSet == want._2, path)
        val key = if (path == trafficCsv) "OBJECTID" else "line_no"
        val byKey = counted.orderBy(key).select(key, "running_count").collect()
        assert(byKey.map(_.getLong(1)).toSeq == (1L to byKey.length.toLong), path)
        if (key == "line_no") assert(byKey.map(_.getLong(0)).toSeq == kept.map(_.toLong))
      }
    }
  }

  test("a select that drops OBJECTID still numbers in OBJECTID order, for any numTasks") {
    // OBJECTID is a string column, so its order is the string order
    val want = graft.sources.Tables.trafficSigns(spark, trafficCsv).orderBy("OBJECTID")
      .select("Sign_Type").collect().map(_.getString(0)).zipWithIndex
      .map { case (t, i) => (t, i + 1L) }.toSet
    def check(): Unit = for (n <- Seq(1, 3, 4)) {
      val out = Console.run(spark, s"RAINSTORM TRANSFORM:select:Sign_Type AGGREGATE $trafficCsv $n")
      assert(out.columns.toSeq == Seq("Sign_Type", "running_count"))
      assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want, s"numTasks=$n")
    }
    check()
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(check())
  }

  test("runStream reads the CSV like run: same rows for the same command") {
    val out = java.nio.file.Files.createTempDirectory("console_csv_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("console_csv_ckpt").toString
    // a glob over the fixture directory: a watched directory whose files are CSV
    val cmdLine = s"""RAINSTORM "COLUMN_FILTER:Category:Warning" "TRANSFORM:select:OBJECTID,Sign_Type" ${ReferenceFiles.dir}/*.csv 1 false"""
    val q = Console.runStream(spark, cmdLine, out, ckpt)
    q.awaitTermination(60000)
    assert(!q.isActive)
    val streamed = spark.read.parquet(out).select("OBJECTID", "Sign_Type")
      .collect().map(_.toSeq).toSet
    val batch = Console.run(spark, cmdLine).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("runStream with a select that drops OBJECTID writes only the selected column") {
    val out = java.nio.file.Files.createTempDirectory("console_select_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("console_select_ckpt").toString
    val cmdLine = s"RAINSTORM COLUMN_FILTER:Category:Warning TRANSFORM:select:Sign_Type ${ReferenceFiles.dir}/*.csv 1"
    val q = Console.runStream(spark, cmdLine, out, ckpt)
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(out)
    assert(streamed.columns.toSeq == Seq("Sign_Type"))
    assert(streamed.collect().map(_.getString(0)).sorted.toSeq ==
      Console.run(spark, cmdLine).collect().map(_.getString(0)).sorted.toSeq)
  }

  test("runStream drives the same command as a streaming job with checkpointed state") {
    val in = java.nio.file.Files.createTempDirectory("console_stream_in").toString
    val out = java.nio.file.Files.createTempDirectory("console_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("console_stream_ckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/chunk1.txt"),
      java.util.Arrays.asList("keep alpha", "drop", "keep beta"))
    val cmdLine = s"""RAINSTORM FILTER:keep "TRANSFORM:uppercase" $in 1 false"""
    val q1 = Console.runStream(spark, cmdLine, out, ckpt)
    q1.awaitTermination(60000)
    assert(!q1.isActive)
    // a second chunk lands (the reference: new HyDFS chunk files) and the
    // restarted query processes ONLY it — exactly-once from the checkpoint
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/chunk2.txt"),
      java.util.Arrays.asList("keep gamma"))
    val q2 = Console.runStream(spark, cmdLine, out, ckpt)
    q2.awaitTermination(60000)
    val vals = spark.read.parquet(out).select("value")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(vals == Seq("KEEP ALPHA", "KEEP BETA", "KEEP GAMMA"))
  }

  test("runStream AGGREGATE: numTasks shards the counter like the reference's N workers") {
    val in = java.nio.file.Files.createTempDirectory("console_agg_in").toString
    val out = java.nio.file.Files.createTempDirectory("console_agg_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("console_agg_ckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/chunk1.txt"),
      java.util.Arrays.asList("a", "b", "c", "d", "e"))
    val q = Console.runStream(spark,
      s"""RAINSTORM FILTER:"" AGGREGATE $in 2 false""", out, ckpt)
    q.awaitTermination(60000)
    val counts = spark.read.parquet(out).select("running_count")
      .collect().map(_.getLong(0)).sorted.toSeq
    // 2 shards: each keeps its own 1,2,... (the reference's interleaved
    // partial counters); together they cover all 5 rows
    assert(counts.length == 5)
    assert(counts.groupBy(identity).forall { case (v, occ) => occ.length <= 2 && v >= 1 })
    val byShardMax = counts.max
    assert(byShardMax <= 5)
  }

  test("text files run through the line-tuple source with lineage order") {
    val dir = java.nio.file.Files.createTempDirectory("console_txt_").toFile
    val f = new java.io.File(dir, "log.txt")
    java.nio.file.Files.write(f.toPath,
      java.util.Arrays.asList("alpha ERROR one", "beta ok", "gamma error two"))
    val out = Console.run(spark,
      s"""RAINSTORM FILTER:error AGGREGATE ${f.getAbsolutePath} 2 false""")
    // global running count 1,2 in line order over the filtered rows
    val rows = out.orderBy("line_no")
      .select("value", "running_count").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alpha ERROR one", "gamma error two"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
