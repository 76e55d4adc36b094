package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Wall-clock microseconds with nanoTime resolution. Spark's listener
  * events carry wall-clock milliseconds, so every span lives on this one
  * wall-clock axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseWallUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L
}

/** One timed interval of the traced run: `op` is the operation (job, query
  * or micro-batch) it belongs to, `layer` the module it is charged to. */
final class Span(
    val id: Int,
    val parent: Int,
    val op: Long,
    val name: String,
    val layer: String,
    val startUs: Long,
    var endUs: Long)

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def begin(parent: Int, op: Long, name: String, layer: String,
      startUs: Long = Clock.nowUs): Int = synchronized {
    val s = new Span(buf.size + 1, parent, op, name, layer, startUs, -1L)
    buf += s
    s.id
  }

  def end(id: Int, endUs: Long = Clock.nowUs): Unit = synchronized { buf(id - 1).endUs = endUs }

  def add(parent: Int, op: Long, name: String, layer: String, startUs: Long, endUs: Long): Int = {
    val id = begin(parent, op, name, layer, startUs)
    end(id, endUs)
    id
  }

  def timed[T](parent: Int, op: Long, name: String, layer: String)(f: => T): T = {
    val id = begin(parent, op, name, layer)
    try f finally end(id)
  }

  def all: Vector[Span] = synchronized(buf.toVector)

  /** Exclusive time per layer: every instant of the root span is charged to
    * the deepest span open at that instant (the latest-started one on a
    * tie), so the layer times partition the root's wall time exactly. With
    * parallel stages this is the blocking-path view: an instant counts once,
    * for the layer the result was waiting on. */
  def selfTimeUs(root: Int): Map[String, Long] = {
    val spans = all.filter(s => s.endUs >= s.startUs)
    val byId = spans.map(s => s.id -> s).toMap
    val depth = mutable.HashMap.empty[Int, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).fold(0)(p => depthOf(p) + 1))
    val r = byId(root)
    val inside = spans.filter(s => s.startUs < r.endUs && s.endUs > r.startUs)
    val order = Ordering.by[Span, (Int, Long, Int)](s => (depthOf(s), s.startUs, s.id))
    val active = new java.util.TreeSet[Span](order)
    val events = inside.flatMap { s =>
      Seq((math.max(s.startUs, r.startUs), 1, s), (math.min(s.endUs, r.endUs), 0, s))
    }.sortBy(e => (e._1, e._2))
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var prev = r.startUs
    events.foreach { case (t, kind, s) =>
      if (t > prev && !active.isEmpty) out(active.last().layer) += t - prev
      prev = math.max(prev, t)
      if (kind == 1) active.add(s) else active.remove(s)
    }
    out.toMap
  }

  def toJson: String = all.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Per-stage task totals, folded from task-end events. */
final class StageRec(val stageId: Int) {
  var submitMs = -1L
  var completeMs = -1L
  var firstLaunchMs = Long.MaxValue
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

final class JobRec(
    val jobId: Int,
    val startMs: Long,
    val op: Long,
    val phase: String,
    val batchId: Long,
    val queryId: String,
    val stageIds: Seq[Int]) {
  @volatile var endMs = -1L
}

/** Benchmark-owned SparkListener: records jobs and stages with the
  * operation they ran for. The harness tags its own actions with the
  * local properties [[ExecListener.OpKey]] / [[ExecListener.PhaseKey]];
  * micro-batch jobs carry Spark's own batch-id and query-id properties. */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, new JobRec(e.jobId, e.time,
      prop(ExecListener.OpKey).map(_.toLong).getOrElse(-1L),
      prop(ExecListener.PhaseKey).getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse(""),
      e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  def allJobs: Vector[JobRec] = jobs.values.asScala.toVector.sortBy(_.jobId)

  /** Stages that ran for a job (skipped stages were never submitted). */
  def stagesOf(j: JobRec): Seq[StageRec] =
    j.stageIds.flatMap(id => Option(stages.get(id))).filter(_.submitMs >= 0)
}

object ExecListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

/** Work totals of a set of jobs. */
final case class ExecTotals(
    jobs: Int, stages: Int, tasks: Long, failedTasks: Long, runMs: Long, cpuMs: Double,
    gcMs: Long, schedDelayMs: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, spill: Long, inputBytes: Long, inputRows: Long)

object ExecTotals {
  def of(l: ExecListener, js: Seq[JobRec]): ExecTotals = {
    val ss = js.flatMap(l.stagesOf).distinctBy(_.stageId)
    ExecTotals(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.failedTasks).sum,
      ss.map(_.runMs).sum, ss.map(_.cpuNs).sum / 1e6, ss.map(_.gcMs).sum,
      ss.map(s => if (s.firstLaunchMs == Long.MaxValue) 0L else math.max(0L, s.firstLaunchMs - s.submitMs)).sum,
      ss.map(_.shuffleWriteBytes).sum, ss.map(_.shuffleReadBytes).sum,
      ss.map(_.fetchWaitMs).sum, ss.map(_.spillBytes).sum, ss.map(_.inputBytes).sum,
      ss.map(_.inputRows).sum)
  }
}
