package graft

import graft.ops.{Console, OpCompiler, Pipeline, StreamOp}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's single-line console entry:
  * `RAINSTORM <op1> <op2> <file> [<numTasks> [<flag>]]`
  * (RainStorm.java:846-877 / Node.java:289-300), tokenized like
  * parseOperationString (Node.java:355-382). */
class ConsoleSpec extends AnyFunSuite with SparkSpec {
  import Console._

  /** A Traffic_Signs-shaped headerless CSV (FIXTURES.md §1, 19 columns,
    * the first row is `Traffic_Signs_1000.csv:1`): quoted fields with
    * embedded commas and doubled quotes, blank fields, `Category=Warning`
    * rows and rows that do not match. */
  private lazy val trafficCsv: String = {
    val f = java.nio.file.Files.createTempDirectory("console_signs").resolve("signs.csv")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "-9822752.01226842,4887653.93470103,1,Streetname - Mast Arm,\"16\"\" X 42\"\"\", ,Traffic Signal Mast Arm, ,Streetname, ,D3-1,Champaign,1,,AERIAL,L,Mercury Dr,1.0,",
      "-9822700.50000000,4887600.25000000,2,\"Curve, Left\",30 X 30,,Punched Telespar,2004,Warning,\"Faded \"\"CURVE\"\", replace\",W1-2L,Champaign,2,,GPS,M,,2.0,2019/05/01",
      "-9822600.10000000,4887500.90000000,3,Deer Crossing,,,, ,Warning,,W11-3,Champaign,3,,,,,,",
      "-9822550.00000000,4887450.00000000,4,Stop,\"30\"\" X 30\"\"\",,Punched Telespar,1999,Regulatory,\"Near Warning sign, see 5\",R1-1,Champaign,4,Yes,GPS,H,STOP,4.0,",
      "-9822500.75000000,4887400.50000000,5,\"School, Ahead\",\"16\"\" X 42\"\"\",,Square Post,2010,Warning,,S1-1,Urbana,5,Yes,AERIAL,L,\"SCHOOL, AHEAD\",5.0,2020/01/01",
      "-9822450.00000000,4887350.00000000,6,Speed Limit 30,24 X 30,,Punched Telespar,2012,Regulatory,,R2-1,Champaign,6,,GPS,M,SPEED LIMIT 30,6.0,",
      "-9822400.00000000,4887300.00000000,7,Pedestrian Crossing,\"36\"\" X 36\"\"\",W16-7P,Punched Telespar,2015,Warning,,W11-2,Champaign,7,,GPS,H,,7.0,2021/06/30",
      "-9822350.00000000,4887250.00000000,8,No Parking,12 X 18,,Sign Post,,Parking,,R7-1,Champaign,8,,,,NO PARKING,8.0,",
      "-9822300.00000000,4887200.00000000,9,\"Merge, Right\",,,Square Post,2008,Warning,\"\"\"Merge\"\" faded\",W4-1,Urbana,9,,AERIAL,L,,9.0,",
      "-9822250.00000000,4887150.00000000,10,One Way,36 X 12,,Traffic Signal Mast Arm,2001,Regulatory,,R6-1,Champaign,10,,GPS,M,ONE WAY,10.0,"))
    f.toString
  }

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

  test("numTasks maps to source parallelism") {
    val out = Console.run(spark,
      s"""RAINSTORM "TRANSFORM:select:OBJECTID,Category" "COLUMN_FILTER:Category:Warning" $trafficCsv 5 false""")
    assert(out.rdd.getNumPartitions == 5)
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
