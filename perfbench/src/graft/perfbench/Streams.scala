package graft.perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.ops.Console
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** `live_streams`: two open-loop streams on one session, the way one
  * engine serves two jobs at once:
  *   - `RAINSTORM FILTER:profit AGGREGATE <dir> 4` through
  *     `Console.runStream` into the exactly-once parquet sink;
  *   - `StreamingPipeline.sessionize` over Zipf-skewed user events, then
  *     `startFileSink` (large keyed state).
  * Each run has two phases:
  *   - catch-up: fresh queries drain the backlogs written before they
  *     started; done [[catchupRounds]] times (fresh checkpoints and sinks),
  *     and the rate is the median;
  *   - live: the last round's queries keep running while one generator
  *     thread writes one fixed-size file per stream every [[periodMs]],
  *     each stamped with its due time; a record's end-to-end latency runs
  *     from its file's due time to the end of the micro-batch that
  *     committed it (the batch is read back from the source log).
  * The ProcessingTime trigger fires at multiples of its interval since the
  * epoch; due times sit at fixed phases of that grid ([[phaseMs]] + k ×
  * [[periodMs]], away from the ticks), so every run sees the same arrival
  * pattern and the run-to-run spread reflects the engine. The arrival rate
  * is fixed, so a slower engine shows as latency, and a late generator
  * shows in `loadgen.late_ms_p95`. */
object Streams {

  val triggerMs = 600
  val periodMs = 200
  val phaseMs = 100
  val catchupRounds = 3

  final case class Spec(
      name: String,
      /** Per-layer phase name of the stream's live batches. */
      livePhase: String,
      linesPerFile: Int,
      backlogFiles: Int,
      /** Content of file `i`: a pure function of the seed and `i`. */
      content: (Long, Int) => Array[String],
      /** Construct the source frame alone (the sources layer). */
      source: (SparkSession, String) => DataFrame,
      /** Start the query; returns it and the console parse time in µs, if
        * it goes through the console (the ops layer). */
      start: (SparkSession, String, String, String, Trigger) => (StreamingQuery, Option[Double]),
      /** Check the sink against the generated files; returns failed lines. */
      check: (SparkSession, String, Seq[Array[String]]) => (Long, Seq[String]))

  // ---- the RainStorm stream --------------------------------------------------

  val rainstormShards = 4

  def rainstormLine(in: String): String = s"RAINSTORM FILTER:profit AGGREGATE $in $rainstormShards"

  val rainstorm: Spec = Spec("rainstorm", "live", linesPerFile = 5000, backlogFiles = 20,
    content = (seed, i) => Inputs.textLines(Inputs.rng(seed, 1000000L + i), 5000),
    source = (s, in) => StreamingPipeline.fileLines(s, in),
    start = (s, in, out, ckpt, trig) => {
      val p0 = Clock.nowUs
      Console.parse(rainstormLine(in))
      val parseUs = (Clock.nowUs - p0).toDouble
      (Console.runStream(s, rainstormLine(in), out, ckpt, trig), Some(parseUs))
    },
    check = checkRainstorm)

  /** Exactly-once: every shard's running counts are exactly 1..n over the
    * lines a plain-Scala filter keeps, shard = the engine's shard of the
    * line (first column's hash mod the shard count). */
  def checkRainstorm(spark: SparkSession, out: String, files: Seq[Array[String]])
      : (Long, Seq[String]) = {
    def shard(v: String) = math.floorMod(v.hashCode, rainstormShards)
    val expect = files.flatten.filter(_.toLowerCase.contains("profit")).groupBy(shard)
    val got = spark.read.parquet(out).select("value", "running_count").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(p => shard(p._1))
    var bad = 0L
    val msgs = mutable.ArrayBuffer.empty[String]
    (0 until rainstormShards).foreach { s =>
      val e = expect.getOrElse(s, Seq.empty[String]).sorted
      val g = got.getOrElse(s, Array.empty[(String, Long)])
      val counts = g.map(_._2).sorted.toSeq
      if (g.map(_._1).sorted.toSeq != e || counts != (1L to e.size.toLong)) {
        bad += math.max(e.size, g.length)
        msgs += s"shard $s: ${g.length} rows, counts ${counts.headOption}..${counts.lastOption}, " +
          s"expected ${e.size} rows counted 1..${e.size}"
      }
    }
    (bad, msgs.toSeq)
  }

  // ---- the sessions stream ---------------------------------------------------

  val users = 200000
  val eventsPerFile = 2500
  private lazy val userZipf = new Inputs.Zipf(users, 1.0)
  /** Event time advances one minute per file, 300x wall time. */
  val eventMinutesPerFile = 1
  val baseEventUs = 1704067200000000L // 2024-01-01T00:00:00Z

  val eventSchema: StructType = StructType(Seq(StructField("user_id", StringType),
    StructField("ts", TimestampType), StructField("kind", StringType)))

  def eventsFile(seed: Long, i: Int): Array[String] = {
    val r = Inputs.rng(seed, 2000000L + i)
    val t0 = baseEventUs + i.toLong * eventMinutesPerFile * 60000000L
    Array.fill(eventsPerFile) {
      Inputs.eventLine(Inputs.Event("u" + userZipf.draw(r),
        t0 + r.nextLong(eventMinutesPerFile * 60000000L),
        Inputs.eventKinds(r.nextInt(Inputs.eventKinds.length))))
    }
  }

  val sessionGapMinutes = 30

  val sessions: Spec = Spec("sessions", "sessions", linesPerFile = eventsPerFile,
    backlogFiles = 20,
    content = eventsFile,
    source = eventSource,
    start = (s, in, out, ckpt, trig) =>
      (StreamingPipeline.startFileSink(StreamingPipeline.sessionize(eventSource(s, in),
        gap = s"$sessionGapMinutes minutes"), out, ckpt, trig), None),
    check = checkSessions)

  val specs: Seq[Spec] = Seq(rainstorm, sessions)

  def eventSource(s: SparkSession, in: String): DataFrame =
    s.readStream.schema(eventSchema).option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(in)

  /** Session labels equal a plain-Scala gap sessionization of each user's
    * events in event-time order. */
  def checkSessions(spark: SparkSession, out: String, files: Seq[Array[String]])
      : (Long, Seq[String]) = {
    val gapUs = sessionGapMinutes * 60000000L
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    def micros(s: String): Long = {
      val i = java.time.Instant.from(fmt.parse(s))
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val expect = mutable.HashMap.empty[(String, Long), Long]
    files.flatten.map { l =>
      val p = l.split(",")
      (p(0), micros(p(1)))
    }.groupBy(_._1).foreach { case (u, evs) =>
      var idx = 0L
      var last = Long.MinValue
      evs.map(_._2).sorted.foreach { t =>
        if (last != Long.MinValue && t - last > gapUs) idx += 1
        last = math.max(last, t)
        expect((u, t)) = idx
      }
    }
    val total = files.map(_.length.toLong).sum
    val got = spark.read.parquet(out).selectExpr("user_id", "unix_micros(ts)", "session_idx")
      .collect()
    val wrong = got.count(r => !expect.get((r.getString(0), r.getLong(1))).contains(r.getLong(2)))
    val missing = math.max(0L, total - got.length)
    val bad = wrong + missing
    (bad, if (bad == 0) Nil else Seq(s"$wrong wrong session labels, $missing events missing " +
      s"of $total"))
  }

  // ---- the run -------------------------------------------------------------

  /** One stream's inputs of a set-up round, under `dir`. */
  final case class Prepared(spec: Spec, dir: File, backlog: Seq[Array[String]]) {
    def in: File = new File(dir, "in")
    def out(r: Int): File = new File(dir, s"out$r")
    def ckpt(r: Int): File = new File(dir, s"ckpt$r")
    def backlogLines: Long = spec.backlogFiles.toLong * spec.linesPerFile
  }

  private def fileName(i: Int) = f"part-$i%07d.txt"

  def inputs(a: Args)(round: File): Seq[Prepared] = specs.map { spec =>
    val p = Prepared(spec, new File(round, spec.name), (0 until spec.backlogFiles).map(spec.content(a.seed, _)))
    p.in.mkdirs()
    p.backlog.zipWithIndex.foreach { case (lines, i) =>
      Inputs.writeAtomic(new File(p.in, fileName(i)), lines.iterator)
    }
    p
  }

  /** Warm-up: each query drains its own backlog once, on a checkpoint and
    * sink of its own, so the measured catch-up runs warm code paths. */
  def warm(spark: SparkSession, ps: Seq[Prepared]): Unit = ps.foreach { p =>
    val (q, _) = p.spec.start(spark, p.in.getAbsolutePath, new File(p.dir, "warm-out").getAbsolutePath,
      new File(p.dir, "warm-ckpt").getAbsolutePath, Trigger.AvailableNow())
    q.awaitTermination()
    q.stop()
  }

  private def batchProgress(q: StreamingQuery): Vector[StreamingQueryProgress] =
    q.recentProgress.toVector.filter(_.durationMs.containsKey("addBatch"))

  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  private def inputRows(q: StreamingQuery): Long = batchProgress(q).map(_.numInputRows).sum

  private def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (inputRows(q) < rows && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(10)
    q.exception.foreach(e => throw e)
  }

  /** Source-log entries: input file name -> the batch that read it. */
  def fileBatches(ckpt: File): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]*)\".*\"batchId\":(\\d+)".r.unanchored
    val logs = Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
    logs.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector.collect {
        case entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
      } finally src.close()
    }.toMap
  }

  /** One live file: stream, index, due time and write-complete time (ms). */
  final case class Arrival(stream: Int, i: Int, dueMs: Long, writtenMs: Long)

  /** A started query of one catch-up round. */
  final case class Started(p: Prepared, q: StreamingQuery, parseUs: Option[Double],
      buildMs: Double, catchupEnd: Long)

  def run(a: Args, ledger: Ledger): Outcome = {
    val (spark, ps, rounds) = Setup.run(a)(inputs(a))(warm)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val root = tracer.fold(0)(_.spans.begin(0, -1L, "live_streams", "streaming.idle"))
    val sourcesMs = tracer.toSeq.flatMap { t =>
      ps.map(p => t.phase(root, -2L, "sources", "sources")(p.spec.source(spark, p.in.getAbsolutePath))._2)
    }

    // catch-up rounds; the last round's queries go on into the live phase
    val t00 = System.currentTimeMillis()
    val catchups = (0 until catchupRounds).map { r =>
      val q0 = System.currentTimeMillis()
      val started = ps.map { p =>
        tracer.foreach(_.tag(-2L - r, "build"))
        val b0 = System.currentTimeMillis()
        val (q, parseUs) = p.spec.start(spark, p.in.getAbsolutePath, p.out(r).getAbsolutePath,
          p.ckpt(r).getAbsolutePath, Trigger.ProcessingTime(triggerMs.toLong))
        tracer.foreach(_.untag())
        (p, q, parseUs, (System.currentTimeMillis() - b0).toDouble)
      }.map { case (p, q, parseUs, buildMs) =>
        awaitRows(q, p.backlogLines, 60000L)
        // the batch whose input completes the backlog
        val done = batchProgress(q).scanLeft((0L, Option.empty[StreamingQueryProgress])) {
          case ((n, _), b) => (n + b.numInputRows, Some(b))
        }.collectFirst { case (n, Some(b)) if n >= p.backlogLines => endMs(b) }
        Started(p, q, parseUs, buildMs, done.getOrElse(System.currentTimeMillis()))
      }
      if (r < catchupRounds - 1) started.foreach(_.q.stop())
      (q0, started)
    }
    val backlogLines = ps.map(_.backlogLines).sum
    val rates = catchups.map { case (q0, st) => backlogLines / ((st.map(_.catchupEnd).max - q0) / 1e3) }
    val (liveQ0, live) = catchups.last

    // live phase: due times at fixed phases of the trigger grid
    val liveStart = System.currentTimeMillis()
    val grid = (liveStart / triggerMs + 1) * triggerMs + phaseMs
    val liveMs = math.max(a.seconds * 1000L - (liveStart - t00), a.seconds * 500L)
    val nLive = (liveMs / periodMs).toInt
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Arrival]()
    val liveFiles = ps.map(_ => new Array[Array[String]](nLive))
    val gen = new Thread(() => {
      (0 until nLive).foreach { k =>
        val due = grid + k.toLong * periodMs
        val files = ps.map(p => p.spec.content(a.seed, p.spec.backlogFiles + k))
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        ps.zip(files).zipWithIndex.foreach { case ((p, lines), s) =>
          liveFiles(s)(k) = lines
          Inputs.writeAtomic(new File(p.in, fileName(p.spec.backlogFiles + k)), lines.iterator)
          arrivals.add(Arrival(s, p.spec.backlogFiles + k, due, System.currentTimeMillis()))
        }
      }
    }, "perfbench-loadgen")
    gen.start()
    gen.join()
    val totalLines = ps.map(p => p.backlogLines + nLive.toLong * p.spec.linesPerFile)
    live.zip(totalLines).foreach { case (s, n) => awaitRows(s.q, n, 30000L) }
    val stopMs = System.currentTimeMillis()
    val lastExec = live.map(s =>
      Option(s.q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution))
    live.foreach(_.q.stop())
    val progress = live.map(s => batchProgress(s.q))

    // -- end-to-end: map every file to the batch that committed it; every
    // record of a file shares its latency, so a file weighs its line count
    val arrived = arrivals.asScala.toVector
    val weightUnit = ps.map(_.spec.linesPerFile).reduce((x, y) => BigInt(x).gcd(BigInt(y)).toInt)
    val latencies = live.zipWithIndex.flatMap { case (s, si) =>
      val batchOf = fileBatches(s.p.ckpt(catchupRounds - 1))
      val batchEnd = progress(si).map(b => b.batchId -> endMs(b)).toMap
      def committedAt(i: Int): Option[Long] = batchOf.get(fileName(i)).flatMap(batchEnd.get)
      val mine = arrived.filter(_.stream == si)
      val lat = mine.flatMap(f => committedAt(f.i).map(e => (e - f.dueMs).toDouble))
      val lost = ((0 until s.p.spec.backlogFiles).count(committedAt(_).isEmpty) + mine.size -
        lat.size).toLong * s.p.spec.linesPerFile
      if (lost > 0) ledger.fail(s"${s.p.spec.name}: $lost records not committed by the end of the drain", lost)
      // -- output checks
      val (bad, msgs) = s.p.spec.check(spark, s.p.out(catchupRounds - 1).getAbsolutePath,
        s.p.backlog ++ liveFiles(si).toSeq)
      msgs.foreach(m => ledger.fail(s"${s.p.spec.name}: $m", 0L))
      ledger.failed += bad
      ledger.attempted += totalLines(si) - lost
      lat.flatMap(Seq.fill(s.p.spec.linesPerFile / weightUnit)(_))
    }

    val e2e = Map(
      "latency_p50_ms" -> Stats.pct(latencies, 0.50),
      "latency_p95_ms" -> Stats.pct(latencies, 0.95),
      "throughput_per_s" -> Stats.median(rates),
      "setup_s" -> Stats.median(rounds.map(_.totalMs)) / 1e3)
    val detail = Seq("catchup_rates" -> rates, "live_files" -> arrived.size)

    tracer match {
      case None => Outcome(e2e, Map.empty, None, detail)
      case Some(t) =>
        t.spans.end(root)
        t.drain()
        // micro-batch spans of every round's queries
        val batchSpan = catchups.flatMap(_._2).flatMap { s =>
          batchProgress(s.q).map(b => (s.q.id.toString, b.batchId) -> addBatchSpans(t, root, b))
        }.toMap
        t.addJobSpans { j =>
          batchSpan.get((j.queryId, j.batchId)).map { case (bs, phases) =>
            phases.find { case (s, e, _) => j.startMs * 1000L >= s && j.startMs * 1000L < e }
              .map(_._3).getOrElse(bs)
          }.orElse(if (j.op <= -2L && j.batchId < 0) Some(root) else None)
        }
        // per stream: catch-up batches of the live round, then live batches
        val split = live.zipWithIndex.map { case (s, si) =>
          val last = fileBatches(s.p.ckpt(catchupRounds - 1))
          val cb = (0 until s.p.spec.backlogFiles).flatMap(i => last.get(fileName(i))).maxOption
            .getOrElse(-1L)
          progress(si).partition(_.batchId <= cb)
        }
        val liveBatches = live.zip(split).flatMap { case (s, (_, lv)) => lv.map(b => (s, b)) }
        val jobs = t.listener.allJobs.groupBy(j => (j.queryId, j.batchId))
        val ids = liveBatches.zipWithIndex.map { case ((s, b), k) => k.toLong -> (s.q.id.toString, b.batchId) }.toMap
        val rain = live.head
        val files = live.flatMap(s => Option(s.p.out(catchupRounds - 1).listFiles()).toSeq.flatten)
          .filter(_.getName.startsWith("part-"))
        val late = arrived.map(f => (f.writtenMs - f.dueMs).toDouble)
        val layers = Map(
          "ops.parse_us" -> rain.parseUs.getOrElse(0.0),
          "ops.build_ms" -> rain.buildMs,
          "ops.build_jobs" -> t.listener.allJobs.count(j => j.op == -1L - catchupRounds &&
            j.batchId < 0).toDouble,
          "sources.build_ms" -> Stats.median(sourcesMs),
          "catalyst.plan_ms" -> Stats.medianOf(liveBatches)(sb => dur(sb._2, "queryPlanning")),
          "sinks.files_written" -> files.size.toDouble,
          "sinks.bytes_written" -> files.map(_.length()).sum.toDouble,
          "loadgen.late_ms_p95" -> (if (late.isEmpty) 0.0 else Stats.pct(late, 0.95)),
          "loadgen.events" -> totalLines.sum.toDouble) ++
          lastExec.flatten.map(e => PlanFacts.of(e.executedPlan)).reduceOption((x, y) =>
            PlanCounts(x.exchanges + y.exchanges, x.reused + y.reused, x.scans + y.scans)).map(c => Map(
            "catalyst.exchanges" -> c.exchanges.toDouble,
            "catalyst.reused_exchanges" -> c.reused.toDouble,
            "catalyst.scans" -> c.scans.toDouble)).getOrElse(Map.empty) ++
          phaseLayer("catchup", split.head._1, (rain.catchupEnd - liveQ0).toDouble) ++
          live.zip(split).flatMap { case (s, (_, lv)) =>
            phaseLayer(s.p.spec.livePhase, lv, (stopMs - liveStart).toDouble)
          } ++
          Harness.execLayer(t, ids.keys.toSeq.sorted, k => jobs.getOrElse(ids(k), Vector.empty),
            liveBatches.map(sb => dur(sb._2, "addBatch")), (stopMs - t00).toDouble, a.cores) ++
          Setup.layerMetrics(rounds)
        Outcome(e2e, layers, Some((t.spans, root)), detail ++ Seq(
          "batches" -> progress.map(_.size)))
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The phases of one micro-batch, in the order the engine runs them. */
  private val batchPhases = Seq(
    "latestOffset" -> "streaming", "walCommit" -> "streaming", "getBatch" -> "streaming",
    "queryPlanning" -> "catalyst", "addBatch" -> "exec", "commitOffsets" -> "streaming")

  /** A micro-batch span with its phases laid end to end from its start;
    * returns the batch span and the phase spans as (start µs, end µs, id). */
  private def addBatchSpans(t: Tracer, root: Int, b: StreamingQueryProgress)
      : (Int, Seq[(Long, Long, Int)]) = {
    val s0 = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000L
    val bs = t.spans.add(root, b.batchId, s"batch ${b.batchId}", "streaming", s0,
      s0 + dur(b, "triggerExecution").toLong * 1000L)
    var at = s0
    val phases = batchPhases.flatMap { case (k, layer) =>
      Option(b.durationMs.get(k)).map { d =>
        val e = at + d.longValue * 1000L
        val id = t.spans.add(bs, b.batchId, k, layer, at, e)
        val out = (at, e, id)
        at = e
        out
      }
    }
    (bs, phases)
  }

  private def phaseLayer(ph: String, ps: Seq[StreamingQueryProgress], wallMs: Double)
      : Map[String, Double] = {
    def med(k: String) = Stats.medianOf(ps)(dur(_, k))
    val last = ps.lastOption
    Map(
      s"streaming.$ph.batches" -> ps.size.toDouble,
      s"streaming.$ph.rows_per_batch" -> Stats.medianOf(ps)(_.numInputRows.toDouble),
      s"streaming.$ph.latest_offset_ms" -> med("latestOffset"),
      s"streaming.$ph.get_batch_ms" -> med("getBatch"),
      s"streaming.$ph.query_planning_ms" -> med("queryPlanning"),
      s"streaming.$ph.add_batch_ms" -> med("addBatch"),
      s"streaming.$ph.wal_commit_ms" -> med("walCommit"),
      s"streaming.$ph.commit_offsets_ms" -> med("commitOffsets"),
      s"streaming.$ph.trigger_ms" -> med("triggerExecution"),
      s"streaming.$ph.idle_ms" -> math.max(0.0, wallMs - ps.map(dur(_, "triggerExecution")).sum),
      s"streaming.$ph.state_rows" ->
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      s"streaming.$ph.state_mem_bytes" ->
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      s"streaming.$ph.state_commit_ms" ->
        Stats.medianOf(ps)(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      s"streaming.$ph.processed_over_input" -> Stats.median(ps.flatMap { b =>
        if (b.inputRowsPerSecond > 0 && !b.inputRowsPerSecond.isNaN)
          Some(b.processedRowsPerSecond / b.inputRowsPerSecond) else None
      }))
  }
}
