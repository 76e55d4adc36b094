package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    work: File,
    data: File,
    launchMs: Long)

/** Attempted and failed operations. A wrong result, an exception or an
  * input that never came out of a stream counts as failed. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(msg: String, n: Long = 1L): Unit = {
    attempted += n
    failed += n
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  def check(cond: Boolean, msg: => String, n: Long = 1L): Unit =
    if (cond) attempted += n else fail(msg, n)
}

final case class PlanCounts(exchanges: Int, reused: Int, scans: Int)

/** Facts of the executed physical plan, read through the adaptive plan to
  * its final stages (and into subqueries). */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanCounts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanCounts(
      nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count {
        case _: FileSourceScanExec | _: DataSourceV2ScanExecBase => true
        case _ => false
      })
  }
}

/** One timed operation of a closed loop (a console job or a mix query). */
final case class OpRec(
    id: Long,
    name: String,
    latencyMs: Double,
    parseUs: Double = 0.0,
    sourcesMs: Double = 0.0,
    buildMs: Double = 0.0,
    planMs: Double = 0.0,
    execMs: Double = 0.0,
    plan: PlanCounts = PlanCounts(0, 0, 0))

/** Tracing state of a traced run: spans and the Spark listener. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val listener = new ExecListener
  spark.sparkContext.addSparkListener(listener)

  def tag(op: Long, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, op.toString)
    spark.sparkContext.setLocalProperty(ExecListener.PhaseKey, phase)
  }

  def untag(): Unit = {
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
    spark.sparkContext.setLocalProperty(ExecListener.PhaseKey, null)
  }

  /** Time `f` as span `name` of operation `op`, with its Spark jobs
    * tagged by the same phase name. */
  def phase[T](parent: Int, op: Long, name: String, layer: String)(f: => T): (T, Double) = {
    tag(op, name)
    val t0 = Clock.nowUs
    val out = spans.timed(parent, op, name, layer)(f)
    untag()
    (out, (Clock.nowUs - t0) / 1e3)
  }

  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Job and stage spans, each job under the span `parentOf` picks. */
  def addJobSpans(parentOf: JobRec => Option[Int]): Unit = listener.allJobs.foreach { j =>
    parentOf(j).foreach { p =>
      val js = spans.add(p, j.op, s"job ${j.jobId}", "exec.job", j.startMs * 1000L,
        math.max(j.startMs, j.endMs) * 1000L)
      listener.stagesOf(j).foreach { s =>
        spans.add(js, j.op, s"stage ${s.stageId}", "exec.stage", s.submitMs * 1000L,
          math.max(s.submitMs, s.completeMs) * 1000L)
      }
    }
  }

  private lazy val jobsByOp = listener.allJobs.groupBy(_.op)

  /** Work of the harness-tagged jobs of one operation and phase (read
    * after [[drain]]). */
  def jobsOf(op: Long, phases: Set[String]): Seq[JobRec] =
    jobsByOp.getOrElse(op, Vector.empty).filter(j => phases.contains(j.phase))
}

/** Set-up, repeated: one session, then rounds that each generate the
  * inputs and warm up; the last round's inputs are the measured ones.
  * Round 0 is timed from process launch, so it includes JVM and session
  * start. (The session is not restarted between rounds: the engine keeps
  * JVM-wide state that outlives a stopped SparkContext.) */
final case class SetupRound(totalMs: Double, sessionMs: Double, inputMs: Double, warmMs: Double)

object Setup {
  val rounds = 3

  def session(a: Args): SparkSession = {
    val s = graft.GraftSession.local(a.cores, "perfbench")
    s.sparkContext.setLogLevel("WARN")
    // keep every micro-batch's progress record for the run's accounting
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    s
  }

  def run[S](a: Args)(inputs: File => S)(warm: (SparkSession, S) => Unit)
      : (SparkSession, S, Seq[SetupRound]) = {
    val ts = Clock.nowUs
    val spark = session(a)
    val sessionMs = (Clock.nowUs - ts) / 1e3
    var last: Option[S] = None
    val rs = (0 until rounds).map { k =>
      val t0 = if (k == 0) a.launchMs * 1000L else Clock.nowUs
      val t1 = Clock.nowUs
      val dir = new File(a.work, s"round$k")
      dir.mkdirs()
      val s = inputs(dir)
      val t2 = Clock.nowUs
      warm(spark, s)
      val t3 = Clock.nowUs
      last = Some(s)
      SetupRound((t3 - t0) / 1e3, if (k == 0) sessionMs else 0.0, (t2 - t1) / 1e3,
        (t3 - t2) / 1e3)
    }
    (spark, last.get, rs)
  }

  def layerMetrics(rs: Seq[SetupRound]): Map[String, Double] = Map(
    "setup.session_ms" -> rs.head.sessionMs,
    "setup.inputgen_ms" -> Stats.median(rs.map(_.inputMs)),
    "setup.warmup_ms" -> Stats.median(rs.map(_.warmMs)))
}

/** What a workload hands back: end-to-end figures, per-layer figures
  * (traced run only), the traced run's spans and root span, and extra
  * details for the run record. */
final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    trace: Option[(Spans, Int)] = None,
    traceExtra: Seq[(String, Any)] = Nil)

object Harness {
  /** Peak resident set of this JVM, from /proc (MiB). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }

  /** Per-operation medians of the exec layer over `ops`, each op's jobs
    * given by `jobsOf`; `busyWallMs` is the measured wall time. */
  def execLayer(t: Tracer, ops: Seq[Long], jobsOf: Long => Seq[JobRec], execMs: Seq[Double],
      busyWallMs: Double, cores: Int): Map[String, Double] = {
    val tot = ops.map(o => ExecTotals.of(t.listener, jobsOf(o)))
    def med(f: ExecTotals => Double) = Stats.medianOf(tot)(f)
    Map(
      "exec.ms" -> Stats.median(execMs),
      "exec.jobs" -> med(_.jobs.toDouble),
      "exec.stages" -> med(_.stages.toDouble),
      "exec.tasks" -> med(_.tasks.toDouble),
      "exec.task_run_ms" -> med(_.runMs.toDouble),
      "exec.task_cpu_ms" -> med(_.cpuMs),
      "exec.gc_ms" -> med(_.gcMs.toDouble),
      "exec.sched_delay_ms" -> med(_.schedDelayMs.toDouble),
      "exec.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
      "exec.shuffle_fetch_wait_ms" -> med(_.fetchWaitMs.toDouble),
      "exec.spill_bytes" -> med(_.spill.toDouble),
      "exec.failed_tasks" -> tot.map(_.failedTasks.toDouble).sum,
      "exec.core_busy_ratio" ->
        (if (busyWallMs <= 0) 0.0 else tot.map(_.runMs.toDouble).sum / (cores * busyWallMs)),
      "sources.rows_read" -> med(_.inputRows.toDouble),
      "sources.bytes_read" -> med(_.inputBytes.toDouble))
  }

  def catalystLayer(ops: Seq[OpRec]): Map[String, Double] = Map(
    "catalyst.plan_ms" -> Stats.medianOf(ops)(_.planMs),
    "catalyst.exchanges" -> Stats.medianOf(ops)(_.plan.exchanges.toDouble),
    "catalyst.reused_exchanges" -> Stats.medianOf(ops)(_.plan.reused.toDouble),
    "catalyst.scans" -> Stats.medianOf(ops)(_.plan.scans.toDouble))

  /** Full materialization of a frame's plan, as the repo's Bench does:
    * `toRdd` executes every output column. Returns the row count and, for
    * a running-count output, its largest value (-1 otherwise), in one job. */
  def materialize(df: DataFrame): (Long, Long) = {
    val idx = df.schema.fieldNames.indexOf("running_count")
    val rdd = df.queryExecution.toRdd
    if (idx < 0) (rdd.count(), -1L)
    else rdd.mapPartitions { it =>
      var c = 0L
      var m = 0L
      it.foreach { r => c += 1; m = math.max(m, r.getLong(idx)) }
      Iterator.single((c, m))
    }.collect().foldLeft((0L, 0L)) { case ((c, m), (c2, m2)) => (c + c2, math.max(m, m2)) }
  }
}
