package graft.perfbench

import java.io.File
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `pipeline_mix`: a closed loop with one client running the shuffle-,
  * execution- and construction-heavy operator families through
  * `SparkEntry.queries`, over the sf0.01 tables that ship with the
  * benchmark. The seed shuffles the query order of every pass; the run
  * measures whole passes. Its latency figures describe a pass: the sum
  * over queries of each query's median (p50) or 95th percentile (p95) in
  * the run. (The queries' own costs differ too much for a percentile over
  * all query times to be steady, and a run holds too few passes for a
  * percentile over pass times.) */
object PipelineMix {

  val queries: Seq[String] = Seq("q_triangles", "q_spearman", "q_dedup_clusters",
    "q_bitext_pq", "q_running_sum", "q_bm25", "q_assoc_rules", "q_export_shards")

  /** Output directory of the first warm-up run of query `q`; the outputs
    * are compared with the DuckDB-oracle digests after the run. */
  def outDir(round: File, q: String): File = new File(round, s"mix_out/$q")

  def run(a: Args, ledger: Ledger): Outcome = {
    val dir = a.data.getAbsolutePath
    val rowsOf = scala.collection.mutable.Map.empty[String, Long]
    val (spark, _, rounds) = Setup.run(a)(identity) { (s, round) =>
      val first = rowsOf.isEmpty
      queries.foreach { q =>
        val df = SparkEntry.queries(q)(s, dir)
        if (first) {
          val out = outDir(round, q).getAbsolutePath
          df.write.parquet(out)
          rowsOf(q) = s.read.parquet(out).count()
        } else {
          val n = df.queryExecution.toRdd.count()
          ledger.check(n == rowsOf(q), s"$q: $n rows in warm-up, the first run wrote ${rowsOf(q)}")
        }
      }
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val root = tracer.fold(0)(_.spans.begin(0, -1L, "pipeline_mix", "bench"))
    val ops = Vector.newBuilder[OpRec]
    val sourcesMs = Vector.newBuilder[Double]
    val start = Clock.nowUs
    var pass = 0
    var op = 0L
    while (pass == 0 || (Clock.nowUs - start) < a.seconds * 1000000L) {
      val order = new scala.util.Random(a.seed * 104729L + pass).shuffle(queries)
      order.foreach { q =>
        op += 1
        val (rec, rows) = tracer match {
          case None =>
            val t0 = Clock.nowUs
            val n = SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
            (OpRec(op, q, (Clock.nowUs - t0) / 1e3), n)
          case Some(t) => runTraced(t, spark, root, op, q, dir)
        }
        ledger.check(rows == rowsOf(q), s"$q: $rows rows, the warm-up run wrote ${rowsOf(q)}")
        ops += rec
      }
      tracer.foreach { t =>
        // the source layer alone: constructing each table read
        val (_, ms) = t.phase(root, -1L, "sources", "sources") {
          Seq("lineitem", "documents", "embeddings").foreach(graft.sources.Tables.table(spark, dir, _))
          graft.sources.Tables.events(spark, dir)
        }
        sourcesMs += ms
      }
      pass += 1
    }
    val measuredMs = (Clock.nowUs - start) / 1e3
    val recs = ops.result()
    def passOf(q: Double) = queries.map(n => Stats.pct(recs.filter(_.name == n).map(_.latencyMs), q)).sum
    val e2e = Map(
      "latency_p50_ms" -> passOf(0.50),
      "latency_p95_ms" -> passOf(0.95),
      "throughput_per_s" -> recs.size / (measuredMs / 1e3),
      "setup_s" -> Stats.median(rounds.map(_.totalMs)) / 1e3)
    tracer match {
      case None => Outcome(e2e, Map.empty)
      case Some(t) =>
        t.spans.end(root)
        t.drain()
        val phaseSpan = t.spans.all.map(s => (s.op, s.name) -> s.id).toMap
        t.addJobSpans(j => phaseSpan.get((j.op, j.phase)))
        val perQuery = queries.flatMap { q =>
          val mine = recs.filter(_.name == q)
          def med(f: OpRec => Double) = Stats.medianOf(mine)(f)
          Seq(
            s"operators.$q.build_ms" -> med(_.buildMs),
            s"operators.$q.build_jobs" -> med(r => t.jobsOf(r.id, Set("build")).size.toDouble),
            s"operators.$q.exec_ms" -> med(_.execMs),
            s"operators.$q.jobs" -> med(r => t.jobsOf(r.id, Set("plan", "exec")).size.toDouble),
            s"operators.$q.shuffle_bytes" -> med(r => ExecTotals.of(t.listener,
              t.jobsOf(r.id, Set("build", "plan", "exec"))).shuffleWrite.toDouble))
        }
        val layers = perQuery.toMap ++ Map(
          "sources.build_ms" -> Stats.median(sourcesMs.result()),
          "loadgen.events" -> recs.size.toDouble,
          "sinks.files_written" -> exportFiles(spark).length.toDouble,
          "sinks.bytes_written" -> exportFiles(spark).map(_.length()).sum.toDouble) ++
          Harness.catalystLayer(recs) ++
          Harness.execLayer(t, recs.map(_.id), o => t.jobsOf(o, Set("plan", "exec")),
            recs.map(_.execMs), measuredMs, a.cores) ++
          Setup.layerMetrics(rounds)
        Outcome(e2e, layers, Some((t.spans, root)), Seq("passes" -> pass))
    }
  }

  /** Files of the last q_export_shards export (its JSONL shards). */
  private def exportFiles(spark: SparkSession): Seq[File] = {
    val d = new File(System.getProperty("java.io.tmpdir"),
      "graft_export_gate_" + ProcessHandle.current().pid())
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".jsonl") || f.getName.startsWith("part-")) Seq(f) else Nil
    walk(d)
  }

  private def runTraced(t: Tracer, spark: SparkSession, root: Int, op: Long, q: String,
      dir: String): (OpRec, Long) = {
    val sp = t.spans.begin(root, op, "query", "bench")
    val t0 = Clock.nowUs
    val (df, buildMs) = t.phase(sp, op, "build", "operators")(SparkEntry.queries(q)(spark, dir))
    val (_, planMs) = t.phase(sp, op, "plan", "catalyst")(df.queryExecution.executedPlan)
    val (rows, execMs) = t.phase(sp, op, "exec", "exec")(df.queryExecution.toRdd.count())
    val latencyMs = (Clock.nowUs - t0) / 1e3
    t.spans.end(sp)
    (OpRec(op, q, latencyMs, buildMs = buildMs, planMs = planMs, execMs = execMs,
      plan = PlanFacts.of(df.queryExecution.executedPlan)), rows)
  }
}
