package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Benchmark process: runs one workload against the engine's public entry
  * points and writes one JSON record (counts, end-to-end figures, and in a
  * traced run the per-layer figures and the span tree).
  *
  *   Main --workload <w> --seed <n> --seconds <s> --trace <0|1> --cores <c>
  *        --work <dir> --data <dir> --launch-ms <epoch ms> --out <file>
  */
object Main {

  val workloads: Map[String, (Args, Ledger) => Outcome] = Map(
    "console_jobs" -> ConsoleJobs.run,
    "pipeline_mix" -> PipelineMix.run,
    "live_streams" -> Streams.run)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, new File(kv("work")), new File(kv("data")), kv("launch-ms").toLong)
    val out = new File(kv("out"))
    val run = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val ledger = new Ledger
    val wallStart = Clock.nowUs
    val o = run(a, ledger)
    val e2e = o.e2e + ("peak_rss_mb" -> Harness.peakRssMb())
    val traceFields = o.trace.toSeq.flatMap { case (spans, root) =>
      val spansFile = new File(out.getParentFile, out.getName.stripSuffix(".json") + ".spans.json")
      Files.write(spansFile.toPath, spans.toJson.getBytes(UTF_8))
      val self = spans.selfTimeUs(root)
      val rootSpan = spans.all(root - 1)
      Seq(
        "spans_file" -> spansFile.getName,
        "root_ms" -> (rootSpan.endUs - rootSpan.startUs) / 1e3,
        "self_time_ms" -> self.map { case (k, v) => k -> v / 1e3 })
    }
    val rec = Json.obj(Seq(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "errors" -> ledger.errors.toSeq,
      "wall_s" -> (Clock.nowUs - wallStart) / 1e6,
      "e2e" -> e2e,
      "layers" -> o.layers,
      "extra" -> o.traceExtra.toMap) ++ traceFields)
    Files.write(out.toPath, (rec + "\n").getBytes(UTF_8))
    // the session's non-daemon threads must not keep the process alive
    System.exit(0)
  }
}
