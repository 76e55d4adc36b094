package graft.perfbench

import java.io.File
import graft.ops.Console
import org.apache.spark.sql.SparkSession

/** `console_jobs`: a closed loop with one client running the reference's
  * job model, `RAINSTORM <op1> <op2> <file> <numTasks>` through
  * `Console.run`, each job fully materialized. A cycle is every job shape
  * on every input size, in a seeded order, at numTasks 1, 3 or 4 rotating
  * from cycle to cycle; the run measures whole cycles, so every seed weighs
  * the shapes alike. */
object ConsoleJobs {

  val textSizes: Seq[Int] = Seq(2000, 10000, 40000)
  val csvSizes: Seq[Int] = Seq(1000, 5000, 15000)
  val numTasks: Seq[Int] = Seq(1, 3, 4)

  /** A job shape and its plain-Scala expected result on one input:
    * (rows, final running count or -1). */
  final case class Shape(op1: String, op2: String, csv: Boolean,
      expect: Input => (Long, Long))

  /** One generated input file with its content kept for the checks. */
  final case class Input(path: String, lines: Array[String], rows: Array[Array[String]])

  final case class Job(line: String, expectRows: Long, expectMaxRc: Long)

  private def matching(in: Input, w: String) = in.lines.filter(_.toLowerCase.contains(w))

  val shapes: Seq[Shape] = Seq(
    Shape("FILTER:profit", "AGGREGATE", csv = false,
      in => { val n = matching(in, "profit").length.toLong; (n, n) }),
    Shape("FILTER:euros", "TRANSFORM:splitintowords", csv = false,
      // Spark's split keeps trailing empties, as split(regex, -1) does
      in => (matching(in, "euros").map(_.split("\\s+", -1).length.toLong).sum, -1L)),
    Shape("TRANSFORM:uppercase", "FILTER:MARKET", csv = false,
      in => (in.lines.count(_.toUpperCase.toLowerCase.contains("market")).toLong, -1L)),
    Shape("COLUMN_FILTER:Category:Warning", "TRANSFORM:select:OBJECTID,Sign_Type", csv = true,
      in => (in.rows.count(_(8).trim == "Warning").toLong, -1L)),
    Shape("COLUMN_FILTER:Sign_Type:\"Punched Telespar\"", "AGGREGATE", csv = true,
      in => { val n = in.rows.count(_(3).trim == "Punched Telespar").toLong; (n, n) }))

  /** `jobs(k)`: the cycle's jobs at the k-th numTasks rotation. */
  final case class Prepared(jobs: Vector[Vector[Job]], warm: Vector[Job])

  def inputs(a: Args)(dir: File): Prepared = {
    val text = textSizes.zipWithIndex.map { case (n, i) =>
      val lines = Inputs.textLines(Inputs.rng(a.seed, 100 + i), n)
      val f = new File(dir, s"business_$n.txt")
      Inputs.writeAtomic(f, lines.iterator)
      Input(f.getAbsolutePath, lines, Array.empty)
    }
    val csv = csvSizes.zipWithIndex.map { case (n, i) =>
      val rows = Inputs.trafficRows(Inputs.rng(a.seed, 200 + i), n, firstId = 1)
      val f = new File(dir, s"Traffic_Signs_$n.csv")
      Inputs.writeAtomic(f, rows.iterator.map(Inputs.csvLine))
      Input(f.getAbsolutePath, Array.empty, rows)
    }
    def job(s: Shape, in: Input, k: Int) = {
      val (rows, rc) = s.expect(in)
      Job(s"RAINSTORM ${s.op1} ${s.op2} ${in.path} $k", rows, rc)
    }
    val jobs = numTasks.indices.toVector.map { r =>
      for {
        s <- shapes.toVector
        (in, i) <- (if (s.csv) csv else text).zipWithIndex
      } yield job(s, in, numTasks((r + i) % numTasks.size))
    }
    val warm = shapes.toVector.map(s => job(s, if (s.csv) csv.head else text.head, 3))
    Prepared(jobs, warm)
  }

  private def check(l: Ledger, j: Job, got: (Long, Long)): Unit =
    l.check(got == (j.expectRows, j.expectMaxRc),
      s"${j.line}: got rows/final count $got, expected ${(j.expectRows, j.expectMaxRc)}")

  /** One untraced job: parse to last row. */
  def runJob(spark: SparkSession, j: Job): (Double, (Long, Long)) = {
    val t0 = Clock.nowUs
    val got = Harness.materialize(Console.run(spark, j.line))
    ((Clock.nowUs - t0) / 1e3, got)
  }

  /** One traced job. Parsing and source construction are also timed on
    * their own, before the job, to split the ops and sources layers. */
  def runJobTraced(t: Tracer, parent: Int, op: Long, j: Job): (OpRec, (Long, Long)) = {
    val sp = t.spans.begin(parent, op, "job", "bench")
    val p0 = Clock.nowUs
    val cmd = t.spans.timed(sp, op, "parse", "ops")(Console.parse(j.line))
    val parseUs = (Clock.nowUs - p0).toDouble
    val (_, sourcesMs) = t.phase(sp, op, "sources", "sources")(
      Console.sourceFor(t.spark, cmd.toOption.get.file))
    val t0 = Clock.nowUs
    val (df, buildMs) = t.phase(sp, op, "build", "ops")(Console.run(t.spark, j.line))
    val (_, planMs) = t.phase(sp, op, "plan", "catalyst")(df.queryExecution.executedPlan)
    val (got, execMs) = t.phase(sp, op, "exec", "exec")(Harness.materialize(df))
    val latencyMs = (Clock.nowUs - t0) / 1e3
    t.spans.end(sp)
    (OpRec(op, j.line, latencyMs, parseUs, sourcesMs, buildMs, planMs, execMs,
      PlanFacts.of(df.queryExecution.executedPlan)), got)
  }

  def run(a: Args, ledger: Ledger): Outcome = {
    val (spark, prep, rounds) = Setup.run(a)(inputs(a)) { (s, p) =>
      p.warm.foreach(j => check(ledger, j, runJob(s, j)._2))
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val root = tracer.fold(0)(_.spans.begin(0, -1L, "console_jobs", "bench"))
    val ops = Vector.newBuilder[OpRec]
    val start = Clock.nowUs
    var cycle = 0
    var op = 0L
    while (cycle == 0 || (Clock.nowUs - start) < a.seconds * 1000000L) {
      val order = new scala.util.Random(a.seed * 7919L + cycle)
        .shuffle(prep.jobs(cycle % prep.jobs.size))
      order.foreach { j =>
        op += 1
        tracer match {
          case None =>
            val (ms, got) = runJob(spark, j)
            check(ledger, j, got)
            ops += OpRec(op, j.line, ms)
          case Some(t) =>
            val (rec, got) = runJobTraced(t, root, op, j)
            check(ledger, j, got)
            ops += rec
        }
      }
      cycle += 1
    }
    val measuredMs = (Clock.nowUs - start) / 1e3
    val recs = ops.result()
    val e2e = Map(
      "latency_p50_ms" -> Stats.pct(recs.map(_.latencyMs), 0.50),
      "latency_p95_ms" -> Stats.pct(recs.map(_.latencyMs), 0.95),
      "throughput_per_s" -> recs.size / (measuredMs / 1e3),
      "setup_s" -> Stats.median(rounds.map(_.totalMs)) / 1e3)
    val out = tracer match {
      case None => Outcome(e2e, Map.empty)
      case Some(t) =>
        t.spans.end(root)
        t.drain()
        val phaseSpan = t.spans.all.map(s => (s.op, s.name) -> s.id).toMap
        t.addJobSpans(j => phaseSpan.get((j.op, j.phase)))
        val layers = Map(
          "ops.parse_us" -> Stats.medianOf(recs)(_.parseUs),
          "ops.build_ms" -> Stats.medianOf(recs)(_.buildMs),
          "ops.build_jobs" -> Stats.medianOf(recs)(r => t.jobsOf(r.id, Set("build")).size.toDouble),
          "sources.build_ms" -> Stats.medianOf(recs)(_.sourcesMs),
          "loadgen.events" -> recs.size.toDouble) ++
          Harness.catalystLayer(recs) ++
          Harness.execLayer(t, recs.map(_.id), o => t.jobsOf(o, Set("plan", "exec")),
            recs.map(_.execMs), measuredMs, a.cores)
        Outcome(e2e, layers, Some((t.spans, root)), Seq("cycles" -> cycle))
    }
    out.copy(layers = out.layers ++ (if (a.trace) Setup.layerMetrics(rounds) else Map.empty))
  }
}
