package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.ops.Console
import graft.queries.{Oracle, Registry}
import graft.sources.Layouts
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** The one measuring entry point for declared queries and console lines.
  * Per query:
  *  1. one warm run;
  *  2. a timed construction of the DataFrame: `build_ms`, and `build_jobs`,
  *     the eager pin jobs construction fires;
  *  3. one execution of that DataFrame under a scheduler census;
  *  4. the wall time: min of 3 full runs, construction plus
  *     `queryExecution.toRdd.count()` — Bench's timing discipline.
  *
  * It prints one line per query:
  * {{{
  * [probe] <name> <wall> s build_ms=… build_jobs=… jobs=… stages=… tasks=…
  *   shuffle_kb=… exchanges=… reused=… scans=… dup_scans=… pins=… compiles=…
  * }}}
  * `jobs` counts the execution's jobs; `stages`, `tasks` and `shuffle_kb`
  * cover construction and execution together (a skipped stage counts in
  * `stages`, not in `tasks`). The plan facts read the AQE final plan,
  * subqueries included: `Exchange` and `ReusedExchange` nodes, file scans,
  * and `dup_scans` — scans sharing path, read schema and data filters with
  * another scan, i.e. places where a forked DataFrame re-reads its input.
  * `pins` counts the persistent RDDs the measured construction and run
  * left registered (a key-set difference): the checkpoint pins the
  * returned plan reads, plus any pin an operator leaked. `compiles` counts
  * the Janino compiles of the measured construction and run (Spark's
  * `CodegenMetrics`, JVM-wide): after the warm run a query whose generated
  * code is reused, a fresh stream's or session's included, reads 0. AQE
  * numbers whole-stage codegen classes in the order its query stages
  * finish, so a plan whose concurrent stages finish in another order than
  * in the warm run can compile again.
  * `--plans <dir>` also writes `<dir>/<name>.txt`: the formatted plan
  * before execution and again after it (the AQE final plan). With no query
  * names it prints the query/oracle inventory instead: the counts, then
  * each query without oracle SQL and why it has none.
  *
  * A `RAINSTORM <op1> <op2> <file> [<numTasks>]` line after the query
  * names is measured the same way through `Console.run`; it runs to the
  * next `RAINSTORM` token or the end, and its name is its tokens, each cut
  * to its last path segment, with `_` for every run of spaces. sbt drops
  * `"` from arguments, so a line with a quoted pattern runs through `java`
  * on the exported classpath. Console lines alone need no
  * `SPARK_GRAFT_SF_DIR`.
  * {{{
  * SPARK_GRAFT_SF_DIR=<testdata dir> [SPARK_GRAFT_CPUS=n] \
  *   sbt "runMain graft.tools.Probe [--plans <dir>] q_a q_b ..."
  * sbt "runMain graft.tools.Probe RAINSTORM FILTER:x TRANSFORM:uppercase <file> 3"
  * }}}
  */
object Probe {

  final case class Reading(name: String, wallS: Double, buildMs: Long, buildJobs: Long,
      jobs: Long, stages: Long, tasks: Long, shuffleKb: Long,
      exchanges: Int, reused: Int, scans: Int, dupScans: Int, pins: Int, compiles: Long) {
    def line: String =
      f"[probe] $name $wallS%.3f s build_ms=$buildMs build_jobs=$buildJobs jobs=$jobs " +
        s"stages=$stages tasks=$tasks shuffle_kb=$shuffleKb exchanges=$exchanges " +
        s"reused=$reused scans=$scans dup_scans=$dupScans pins=$pins compiles=$compiles"
  }

  private final class Census extends SparkListener {
    val jobs, stages, tasks, shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      stages.addAndGet(e.stageInfos.size)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      tasks.addAndGet(e.stageInfo.numTasks)
      shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  def measure(spark: SparkSession, name: String, build: () => DataFrame,
      plans: Option[Path] = None): Reading = {
    val sc = spark.sparkContext
    def run(): Long = build().queryExecution.toRdd.count()
    run()
    // the warm run's events must not reach the census
    GraftListenerBus.drain(sc)
    val census = new Census
    sc.addSparkListener(census)
    val registered = sc.getPersistentRDDs.keySet
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (df, buildMs, buildJobs) = try {
      val t0 = System.nanoTime()
      val df = build()
      val buildMs = (System.nanoTime() - t0) / 1000000
      GraftListenerBus.drain(sc)
      val buildJobs = census.jobs.get
      val before = plans.map(_ => df.queryExecution.explainString(FormattedMode))
      df.queryExecution.toRdd.count()
      GraftListenerBus.drain(sc)
      for (dir <- plans; b <- before)
        Files.writeString(dir.resolve(s"$name.txt"), b + "\n" +
          df.queryExecution.explainString(FormattedMode))
      (df, buildMs, buildJobs)
    } finally sc.removeSparkListener(census)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    val pins = (sc.getPersistentRDDs.keySet -- registered).size
    val nodes = Layouts.executedNodes(df.queryExecution.executedPlan)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val dupScans = scans.groupBy(s => (s.relation.location.rootPaths.mkString(","),
      s.requiredSchema.simpleString, s.dataFilters.map(_.sql).sorted.mkString("&")))
      .values.filter(_.size > 1).map(_.size).sum
    val wallS = (1 to 3).map { _ =>
      val t = System.nanoTime()
      run()
      (System.nanoTime() - t) / 1e9
    }.min
    Reading(name, wallS, buildMs, buildJobs, census.jobs.get - buildJobs,
      census.stages.get, census.tasks.get, census.shuffleBytes.get / 1024,
      nodes.count(_.isInstanceOf[Exchange]), nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      scans.size, dupScans, pins, compiles)
  }

  /** The console lines in Probe's arguments: each `RAINSTORM` token starts
    * one, which runs to the next such token or the end. */
  def consoleLines(args: Seq[String]): Seq[String] =
    Console.tokenize(args.mkString(" ")).foldLeft(Vector.empty[Vector[String]]) {
      case (acc, t) if t.equalsIgnoreCase("RAINSTORM") || acc.isEmpty => acc :+ Vector(t)
      case (acc, t) => acc.init :+ (acc.last :+ t)
    }.map(_.mkString(" "))

  /** [[measure]] on one console line, built by `Console.run`. */
  def measureConsole(spark: SparkSession, line: String, plans: Option[Path] = None): Reading =
    measure(spark, Console.tokenize(line).map(t => t.substring(t.lastIndexOf('/') + 1))
      .mkString(" ").replaceAll("\\s+", "_"), () => Console.run(spark, line), plans)

  def main(args: Array[String]): Unit = {
    val (plans, rest) = args.toList match {
      case "--plans" :: dir :: rest => (Some(Files.createDirectories(Paths.get(dir))), rest)
      case rest => (None, rest)
    }
    val (names, console) = rest.span(!_.trim.toUpperCase.startsWith("RAINSTORM"))
    if (rest.isEmpty) {
      val oracles = SparkEntry.oracleSql
      println(s"[probe] queries=${SparkEntry.queries.size} oracles=${oracles.size}")
      Registry.all.filterNot(q => oracles.contains(q.name)).foreach { q =>
        val why = Registry.oracleOf(q) match {
          case Oracle.Unchecked(reason) => reason
          case _ => "fitted: the oracle embeds what the query fits, so it exists once the query ran"
        }
        println(s"[probe] without_oracle ${q.name}: $why")
      }
    } else {
      val sfDir = if (names.isEmpty) "" else sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        sys.error("set SPARK_GRAFT_SF_DIR to a testdata directory"))
      val spark = GraftSession.fromEnv("graft-probe")
      def report(name: String)(reading: => Reading): Unit =
        try println(reading.line)
        catch { case e: Exception => println(s"[probe] $name FAILED ${e.getMessage}") }
      try {
        names.foreach(name => report(name)(
          measure(spark, name, () => SparkEntry.queries(name)(spark, sfDir), plans)))
        consoleLines(console).foreach(line => report(line)(measureConsole(spark, line, plans)))
      } finally spark.stop()
    }
  }
}
