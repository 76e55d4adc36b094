package graft

import graft.ops.RunningCount
import graft.sources.Layouts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RunningCountSpec extends AnyFunSuite with SparkSpec {

  /** Registers an equality test twice. `name` runs with the size gate shut
    * (`autoBroadcastJoinThreshold=-1`): the two-phase path, windowed per
    * `bucket` (`__graft_pid` on the range path). `name (below the size
    * gate)` runs under the session's conf, where these small inputs take
    * the single-partition window. The body wraps each frame under test in
    * the `ran` it is given, which asserts from the physical plan which path
    * built the frame, so neither setting can pass on the other's path. */
  private def bothPaths(name: String, bucket: String = "__graft_bucket")(
      body: (DataFrame => DataFrame) => Unit): Unit = {
    test(name)(withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body(ran(Some(bucket)))))
    test(s"$name (below the size gate)")(body(ran(None)))
  }

  private def ran(bucket: Option[String])(df: DataFrame): DataFrame = {
    val windows = Layouts.executedNodes(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    val partitionedBy = windows.flatMap(_.partitionSpec.flatMap(_.references.map(_.name)))
    bucket match {
      case None => assert(windows.nonEmpty && partitionedBy.isEmpty, df.queryExecution.executedPlan)
      case Some(b) => assert(partitionedBy.contains(b), df.queryExecution.executedPlan)
    }
    df
  }

  bothPaths("matches the single-partition window row_number on 10k shuffled rows") { ran =>
    import spark.implicits._
    val df = scala.util.Random.shuffle((1L to 10000L).toVector).toDF("k").repartition(7)
    val got = ran(RunningCount.withRunningCount(df, Seq(col("k"))))
    // oracle: the non-scalable global window
    val want = df.withColumn("rc", row_number().over(Window.orderBy("k")).cast("long"))
    val mismatches = got.join(want, "k")
      .filter(col("running_count") =!= col("rc")).count()
    assert(mismatches == 0)
    assert(got.count() == 10000)
  }

  bothPaths("running count is dense 1..n and monotone in key order") { ran =>
    import spark.implicits._
    val df = Seq(5L, 3L, 9L, 1L).toDF("k")
    val got = ran(RunningCount.withRunningCount(df, Seq(col("k"))))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (3L, 2L), (5L, 3L), (9L, 4L)))
  }

  test("empty input yields empty output, no error") {
    import spark.implicits._
    val df = Seq.empty[Long].toDF("k")
    // the optimizer folds a plan over an empty local relation away, so no
    // path shows in it: build and run on both sides of the gate
    assert(RunningCount.withRunningCount(df, Seq(col("k"))).count() == 0)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      assert(RunningCount.withRunningCount(df, Seq(col("k"))).count() == 0))
  }

  bothPaths("running sum/max/min match the global-window oracle, nulls included") { ran =>
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = scala.util.Random.shuffle((1L to 4000L).toVector).map { k =>
      (k, if (k % 37 == 0) null else java.lang.Long.valueOf(rnd.nextInt(1000) - 500))
    }
    val df = rows.toDF("k", "v").repartition(9)
    val gw = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for ((kind, oracle) <- Seq(
        (RunningCount.Kind.Sum, sum(col("v")).over(gw)),
        (RunningCount.Kind.Max, max(col("v")).over(gw)),
        (RunningCount.Kind.Min, min(col("v")).over(gw)))) {
      val got = ran(RunningCount.withRunningAgg(df, col("v"), kind, Seq(col("k")), "ra"))
      val want = df.withColumn("want", oracle)
      val bad = got.join(want.select("k", "want"), "k")
        .filter(not(col("ra") <=> col("want"))).count()
      assert(bad == 0, s"kind=$kind")
    }
  }

  bothPaths("running sum: leading nulls stay null until the first value (SQL semantics)") { ran =>
    import spark.implicits._
    val df = Seq[(Long, java.lang.Long)]((1L, null), (2L, null), (3L, 10L), (4L, null), (5L, 5L))
      .toDF("k", "v").repartition(3)
    val got = ran(RunningCount.withRunningAgg(df, col("v"), RunningCount.Kind.Sum, Seq(col("k")), "rs"))
      .orderBy("k").collect().map(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
    assert(got.toSeq == Seq(None, None, Some(10L), Some(10L), Some(15L)))
  }

  bothPaths("running max on a string order key takes the range-checkpoint path",
      bucket = "__graft_pid") { ran =>
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = scala.util.Random.shuffle((1 to 2000).toVector)
      .map(i => (f"k$i%06d", rnd.nextDouble() * 100))
      .toDF("k", "v").repartition(5)
    val got = ran(RunningCount.withRunningAgg(df, col("v"), RunningCount.Kind.Max, Seq(col("k")), "rm"))
    val gw = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("want", max(col("v")).over(gw))
    assert(got.join(want.select("k", "want"), "k")
      .filter(not(col("rm") <=> col("want"))).count() == 0)
  }

  test("AGGREGATE:sum:field parses; unknown tails still fall back to the counter") {
    import graft.ops.StreamOp
    assert(StreamOp.parse("AGGREGATE:sum:amount") ==
      Right(StreamOp.AggregateField(RunningCount.Kind.Sum, "amount")))
    assert(StreamOp.parse("AGGREGATE:MAX:v") ==
      Right(StreamOp.AggregateField(RunningCount.Kind.Max, "v")))
    assert(StreamOp.parse("AGGREGATE") == Right(StreamOp.Aggregate))
    assert(StreamOp.parse("AGGREGATE:median:v") == Right(StreamOp.Aggregate))
    assert(StreamOp.parse("AGGREGATE:count:v") == Right(StreamOp.Aggregate))
  }

  bothPaths("descending sort-order key numbers largest-first, matching the global window") { ran =>
    import spark.implicits._
    val df = scala.util.Random.shuffle((1L to 5000L).toVector).toDF("k").repartition(7)
    val got = ran(RunningCount.withRunningCount(df, Seq(col("k").desc)))
    val want = df.withColumn("rc", row_number().over(Window.orderBy(col("k").desc)).cast("long"))
    val mismatches = got.join(want, "k")
      .filter(col("running_count") =!= col("rc")).count()
    assert(mismatches == 0)
  }

  bothPaths("null keys follow the sort order's null placement") { ran =>
    import spark.implicits._
    val df = Seq[java.lang.Long](5L, null, 3L, null, 9L, 1L).toDF("k").repartition(3)
    // asc (nulls first): the two nulls take counts 1, 2
    val asc = ran(RunningCount.withRunningCount(df, Seq(col("k"))))
    assert(asc.filter(col("k").isNull).select("running_count")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // desc (nulls last): the two nulls take counts 5, 6
    val desc = ran(RunningCount.withRunningCount(df, Seq(col("k").desc)))
    assert(desc.filter(col("k").isNull).select("running_count")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
    assert(desc.filter(col("k") === 9L).select("running_count").head().getLong(0) == 1L)
  }

  bothPaths("timestamp order key takes the quantile-bucket path correctly") { ran =>
    import spark.implicits._
    val df = scala.util.Random.shuffle((1L to 3000L).toVector)
      .map(i => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 7919)))
      .toDF("ts").repartition(5)
    val got = ran(RunningCount.withRunningCount(df, Seq(col("ts"))))
    val want = df.withColumn("rc", row_number().over(Window.orderBy("ts")).cast("long"))
    assert(got.join(want, "ts").filter(col("running_count") =!= col("rc")).count() == 0)
  }

  bothPaths("NaN order keys bucket to Spark's sort position (above all doubles)") { ran =>
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // enough rows that NaN/values land in different quantile buckets if
    // mis-bucketed; a handful of NaNs and nulls mixed through
    val vals = (1 to 3000).map(i =>
      if (i % 271 == 0) Double.NaN else rnd.nextDouble() * 1000 - 500)
    val df = scala.util.Random.shuffle(
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toVector)
      .toDF("id", "k").repartition(7)
    // asc: NaN sorts LAST (after every double)
    val asc = ran(RunningCount.withRunningCount(df, Seq(col("k"), col("id"))))
    val wantAsc = df.withColumn("rc",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
    assert(asc.join(wantAsc, Seq("id"))
      .filter(col("running_count") =!= col("rc")).count() == 0)
    // desc: NaN sorts FIRST
    val desc = ran(RunningCount.withRunningCount(df, Seq(col("k").desc, col("id"))))
    val wantDesc = df.withColumn("rc",
      row_number().over(Window.orderBy(col("k").desc, col("id"))).cast("long"))
    assert(desc.join(wantDesc, Seq("id"))
      .filter(col("running_count") =!= col("rc")).count() == 0)
    val nNan = vals.count(_.isNaN)
    // the NaN rows must take exactly the first nNan positions under desc
    assert(desc.filter(isnan(col("k"))).select("running_count")
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to nNan).toSeq)
  }

  bothPaths("no order columns: arrival-order fallback still numbers 1..n") { ran =>
    import spark.implicits._
    val df = Seq("a", "b", "c", "d").toDF("v").repartition(3)
    val got = ran(RunningCount.withRunningCount(df, Seq.empty))
    assert(got.select("running_count").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
    assert(got.columns.toSeq == Seq("v", "running_count"))
  }
}
