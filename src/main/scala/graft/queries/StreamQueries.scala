package graft
package queries

import graft.functions.{Sketches, TextFunctions}
import graft.operators.{Curation, Dedup}
import graft.ops.OpCompiler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Streaming gates: each stages its input as in-order micro-batch
  * segments, drains it through the real state-store path, and is compared
  * row for row with its batch twin's oracle. */
private[graft] object StreamQueries {

  /** Stage `log` as `n` time-ordered single-file parquet segments in
    * `base/in` for file-source replay: segment names AND modification
    * times both increase in segment order (the two orderings
    * FileStreamSource may use), so `maxFilesPerTrigger=1` replays the log
    * in `orderCols` order as n micro-batches — the streaming-gate input
    * shape. `extraLast` appends one more segment after the data (a
    * watermark-flush sentinel), staged through `base/tmp`. Returns the
    * input dir. */
  private def stageTimeSegments(
      log: DataFrame,
      n: Int,
      orderCols: Seq[org.apache.spark.sql.Column],
      extraLast: Option[DataFrame],
      base: java.nio.file.Path): String = {
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    val inDir = Files.createDirectory(base.resolve("in"))
    // ONE partitioned write stages every segment + the sentinel (r19):
    // the previous shape paid one repartition(1) write JOB per segment
    // plus an eager pin of the global ntile — n+2 driver-blocking jobs
    // per gate construction, times ~30 gates in the bench. Hash
    // repartition by __b puts each segment's rows in exactly one task
    // (one part file per directory); sortWithinPartitions restores the
    // ntile sort order the per-segment writes used to inherit (orderCols
    // are unique per gate, so the order is deterministic); mtimes are
    // stamped explicitly in segment order as before.
    val bucketed = log.withColumn("__b",
      ntile(n).over(Window.orderBy(orderCols: _*)))
    val all = extraLast match {
      case Some(df) => bucketed.unionByName(df.withColumn("__b", lit(n + 1)))
      case None => bucketed
    }
    val tmp = base.resolve("tmp")
    all.repartition(col("__b")).sortWithinPartitions(col("__b") +: orderCols: _*)
      .write.partitionBy("__b").mode("overwrite").parquet(tmp.toString)
    val segs = (1 to n) ++ extraLast.map(_ => n + 1).toSeq
    segs.foreach { b =>
      val part = tmp.resolve(s"__b=$b").toFile.listFiles()
        .filter(_.getName.startsWith("part-")).head
      val dst = inDir.resolve(f"seg-$b%03d.parquet")
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
    }
    inDir.toString
  }

  /** What a stream gate drains into: the checkpointed parquet file sink
    * over the frame `build` makes from a FACTORY of file-stream sources
    * (the interval-join gates open two), or
    * [[graft.streaming.StreamingPipeline.startScoredParquetSink]] applying
    * the batch relation `score` to each arriving micro-batch (the shape
    * for stream-static scoring whose per-doc agg would force update mode). */
  private sealed trait GateSink

  private final case class FileSink(build: (() => DataFrame) => DataFrame) extends GateSink

  private final case class ScoredSink(score: DataFrame => DataFrame) extends GateSink

  /** Shared streaming-gate drain (every q_stream_*_gate): stage `staged`
    * as 4 in-order segments (+ optional sentinel) in a fresh dir under
    * [[TempDirs.root]], drain them through `sink` under 8 state-store
    * partitions (these drains hold few keys; 32 stores is pure per-store
    * open/load/commit overhead — the Bench discipline) plus `confs`, and
    * return the materialized sink with the operational LATE-DATA readout:
    * `numRowsDroppedByWatermark` summed over every micro-batch's state
    * operators, the metric a production watermark pipeline alarms on (a
    * caller plants late rows via `extraLast`). A scored sink's `_batch_id`
    * — its exactly-once per-batch overwrite key — is provenance, not part
    * of the scored relation, and is dropped. The staged input and the
    * checkpoint are deleted when the drain ends; the sink dir stays for
    * the returned frame's lazy reads and goes with the root at exit. */
  private def streamGate(
      s: SparkSession,
      staged: DataFrame,
      orderCols: Seq[org.apache.spark.sql.Column],
      extraLast: Option[DataFrame] = None,
      confs: Map[String, String] = Map.empty)(
      sink: GateSink): (DataFrame, Long) = {
    val base = TempDirs.fresh("graft_stream_gate")
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val overrides = confs + ("spark.sql.shuffle.partitions" -> "8")
    val prev = overrides.keys.map(k => k -> s.conf.getOption(k)).toMap
    val dropped = try {
      val inDir = stageTimeSegments(staged, 4, orderCols, extraLast, base)
      val schema = s.read.parquet(inDir).schema
      def src(): DataFrame = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      val q = sink match {
        case FileSink(build) =>
          graft.streaming.StreamingPipeline.startFileSink(build(() => src()), out, ckpt)
        case ScoredSink(score) =>
          graft.streaming.StreamingPipeline.startScoredParquetSink(src(), score, out, ckpt)
      }
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      Seq("in", "tmp", "ckpt").foreach(d => TempDirs.delete(base.resolve(d)))
    }
    val frame = s.read.parquet(out)
    (sink match {
      case _: ScoredSink => frame.drop("_batch_id")
      case _: FileSink => frame
    }, dropped)
  }

  val all: Seq[Q] = Seq(
    // The CDC drain END-TO-END UNDER THE HASH GATE: the changelog is split
    // into 4 time-ordered segments, replayed through the real Structured
    // Streaming path (file source, maxFilesPerTrigger=1 -> 4 micro-batches,
    // flatMapGroupsWithState state store, commit log, parquet sink,
    // AvailableNow), and the materialized sink is reduced to the final view
    // (last emission per key = max n_ops, which strictly increases per key).
    // On in-order replay that equals the BATCH twin exactly, so the oracle
    // is q_cdc_latest's own SQL — the one execution mode that previously
    // gated only by parity specs.
    // the streamed drain reduces to the batch view on in-order replay, so
    // the oracle IS the batch twin's
    Q("q_stream_cdc_gate", (s, dir) => {
      val log = ev(s, dir).select(col("user_id"),
        when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("value"), unix_micros(col("ts")).as("ts_us"),
        col("ts"), col("event_id"))
      val sink = streamGate(s, log, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.cdcLatestStream(
          src(), payloadCols = Seq("value", "ts_us"))
      })._1
      sink.groupBy("user_id")
        .agg(max_by(struct(col("op"), col("value"), col("ts_us")),
          col("n_ops")).as("w"), max(col("n_ops")).as("n_ops"))
        .where(col("w.op") =!= "D")
        .select(col("user_id"), col("w.value").as("value"),
          col("w.ts_us").cast("long").as("ts_us"),
          col("n_ops").cast("long").as("n_ops"))
    }, twin("q_cdc_latest")),

    // THE REFERENCE'S OWN JOB under the streaming hash gate: the
    // FILTER + AGGREGATE console pipeline (RAINSTORM op1 op2 file
    // numTasks) replayed as 4 micro-batches with 8 sharded running
    // counters — the deployed semantics of SURVEY §2.1 O9. Which doc
    // receives which count inside a micro-batch is scheduler-order, so
    // the readout checks the INVARIANTS that are exact: per shard, the
    // emitted counts are exactly the sequence 1..n_s (min 1, max n_s,
    // n_s distinct over n_s rows) and the member docs are exactly the
    // filter's matches routed by the shard hash (sum of doc ids).
    // the console pipeline's invariants per shard: counts are exactly
    // 1..n_s over the filter's matches routed by doc_id % 8
    Q("q_stream_console_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      streamGate(s, docs, Seq(col("doc_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.pipeline(
          Seq(graft.ops.StreamOp.Filter("the"), graft.ops.StreamOp.Aggregate),
          OpCompiler.Ctx(Some("text"), Seq("doc_id")), shards = 8)(src())
      })._1
        // shard replayed EXACTLY as usableShardCol routes it: Long.hashCode
        // = (x ^ (x >>> 32)).toInt, and since 8 divides 2^32 the int wrap
        // cannot change the low 3 bits — pmod of the long xor is identical
        // for every doc_id, not just those below 2^32
        .select(pmod(col("doc_id").bitwiseXOR(
            shiftrightunsigned(col("doc_id"), 32)), lit(8)).as("shard"),
          col("doc_id"), col("running_count"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n"),
          max(col("running_count")).as("max_rc"),
          min(col("running_count")).as("min_rc"),
          countDistinct(col("running_count")).as("n_rc"),
          sum(col("doc_id")).cast("long").as("sum_doc_id"))
    }, sql(
      """SELECT xor(doc_id, doc_id >> 32) % 8 AS shard,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS max_rc,
        |  CAST(1 AS BIGINT) AS min_rc,
        |  CAST(count(*) AS BIGINT) AS n_rc,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM documents
        |WHERE contains(lower(text), 'the')
        |GROUP BY 1""".stripMargin)),

    // The STREAMING-DEDUPLICATE state family under the hash gate (the
    // third stateful operator kind after flatMapGroupsWithState and
    // stateStoreSave): documents replay as 4 in-order micro-batches
    // through dropDuplicatesWithinWatermark keyed on the content md5.
    // WHICH copy of a same-batch duplicate survives is operator-internal,
    // so the readout groups the sink by fp — the gate asserts EXACTLY ONE
    // survivor per distinct content came out of the real streaming state
    // machinery (n_out folds any duplicate emission into a count the
    // oracle's literal 1 would catch).
    // streamed dedup: exactly one survivor per distinct content — the
    // oracle's literal 1 catches any duplicate emission
    Q("q_stream_dedup_gate", (s, dir) => {
      // the corpus has no byte-identical texts, so PLANT late-arriving
      // exact copies (every 10th doc re-ids at +100000 -> later ts ->
      // later segments): the n_out = 1 check then PROVES the state
      // machinery dropped 10% of the stream across micro-batches
      val base0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = base0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))
      val docs = base0.unionByName(dupes).select(col("doc_id"), col("text"),
        timestamp_micros(lit(1700000000000000L) +
          col("doc_id") * lit(1000000L)).as("ts"))
      streamGate(s, docs, Seq(col("ts"), col("doc_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.dedupExact(src(), "ts", "30 days")
      })._1
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).cast("long").as("n_out"),
          max(col("text")).as("text"))
    }, sql(
      """SELECT md5(text) AS fp, CAST(1 AS BIGINT) AS n_out, max(text) AS text
        |FROM documents GROUP BY md5(text)""".stripMargin)),

    // STREAMING SPAN DEDUP under the hash gate — dedupExact's
    // sub-document twin (dedupSpans = chunk at ingest, first arrival of
    // each distinct 32-token span passes, state = 16-byte md5 per span):
    // the same planted late-arriving duplicate docs, whose EVERY span must
    // be dropped by the cross-micro-batch state. WHICH copy of a
    // same-batch duplicate span survives is operator-internal, so the
    // readout groups the sink by span fingerprint — exactly one survivor
    // per distinct span, membership = the batch chunker's distinct spans.
    // streamed span dedup: exactly one survivor per distinct 32-token
    // span of the duplicate-decorated corpus (the batch chunker's span
    // derivation, q_dedup_spans' own CTE)
    Q("q_stream_spandedup_gate", (s, dir) => {
      val base0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = base0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))
      val docs = base0.unionByName(dupes).select(col("doc_id"), col("text"),
        timestamp_micros(lit(1700000000000000L) +
          col("doc_id") * lit(1000000L)).as("ts"))
      streamGate(s, docs, Seq(col("ts"), col("doc_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.dedupSpans(
          src(), "ts", "30 days", maxTokens = 32)
      })._1
        .groupBy(md5(col("chunk")).as("fp"))
        .agg(count(lit(1)).cast("long").as("n_out"),
          max(col("chunk")).as("chunk"))
    }, sql(
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
        |ch AS (
        |  SELECT array_to_string(toks[s:s+31], ' ') AS chunk
        |  FROM (SELECT doc_id,
        |          coalesce(regexp_split_to_array(trim(text), '\s+'), []) AS toks
        |        FROM d),
        |       UNNEST(range(1, greatest(len(toks) - 1, 0) + 2, 32)) AS u(s))
        |SELECT md5(chunk) AS fp, CAST(1 AS BIGINT) AS n_out, max(chunk) AS chunk
        |FROM ch GROUP BY md5(chunk)""".stripMargin)),

    // CHAINED MULTI-STATEFUL streaming under the hash gate: content dedup
    // (dropDuplicatesWithinWatermark, state store #1) THEN a tumbling
    // hourly count per source (windowed agg, state store #2) in ONE
    // streaming query — the production ingest shape none of the
    // single-stateful gates exercises. The planted byte-identical copies
    // ride in the 5th segment (a SEPARATE micro-batch, so which copy
    // survives is never same-batch-nondeterministic): the dedup store,
    // populated by batches 1-4, must drop all of them across the batch
    // boundary, and the window store must therefore count ONLY the
    // original rows. The far sentinel advances the final watermark past
    // every real window end (its own forever-open window stays in state,
    // never emitted). Oracle restates both stages declaratively:
    // first-arrival survivor per distinct text, then the hourly rollup.
    // chained dedup -> hourly windowed count, restated declaratively:
    // survivors are the FIRST ARRIVAL (min doc_id = min ts) per distinct
    // text over the duplicate-decorated corpus, then the tumbling rollup
    // over survivor event times (ts = 1700000000 + doc_id seconds)
    Q("q_stream_chained_gate", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text"))
        .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
          col("doc_id") * lit(1000000L)))
      val dupes = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"), col("source"),
          col("text"))
        .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
          col("doc_id") * lit(1000000L)))
      val maxTs = dupes.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(lit(-1L).as("doc_id"),
        lit("__wm_flush__").as("source"), lit("__wm_flush__").as("text"),
        timestamp_micros(lit(maxTs + 31L * 86400L * 1000000L)).as("ts"))
      streamGate(s, base, Seq(col("ts"), col("doc_id")),
          extraLast = Some(dupes.unionByName(sentinel)))(FileSink { src =>
        graft.streaming.StreamingPipeline.dedupThenWindowCounts(
          src(), "ts", "30 days", keyCol = "source")
      })._1
        .where(col("source") =!= "__wm_flush__")
        .select(unix_timestamp(col("w_start")).as("w_start"), col("source"),
          col("n"))
    }, sql(
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
        |  FROM d GROUP BY text)
        |SELECT CAST((1700000000 + doc_id) // 3600 * 3600 AS BIGINT) AS w_start,
        |  source, count(*) AS n
        |FROM surv GROUP BY 1, 2""".stripMargin)),

    // STREAM-STATIC SEMANTIC DEDUP under the hash gate: the incremental
    // SemDeDup ingest (q_dedup_semantic_incr's exact plan — new crawl
    // batch vs the static kept corpus, one cluster-keyed LEFT ANTI with
    // the twin test in the condition) run through the REAL streaming
    // engine as 4 in-order micro-batches. The join is stateless
    // stream-static (corpus side never updates, zero streaming state), so
    // the accumulated sink must hash-match the BATCH oracle row for row —
    // which is precisely why the same plan is the 100 TB ingest-time
    // semantic dedup: restart-safe via the checkpoint, no state store
    // growth, corpus never rewritten.
    // the SAME relation out of the real streaming engine: stream-static
    // left anti is stateless, so the accumulated sink equals the batch
    Q("q_stream_semantic_gate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 3 === 0)
      streamGate(s, emb.filter(col("vec_id") % 3 =!= 0),
          Seq(col("vec_id")))(FileSink { src =>
        Dedup.semanticDedupAgainstCorpus(src(), corpus, k = 8, threshold = 0.4)
      })._1
    }, twin("q_dedup_semantic_incr")),

    // STREAM-STATIC DRIFT Z-SCORING under the hash gate: arriving docs
    // scored against the static corpus's per-source moments
    // (q_standardize_incr's exact plan) — the stats side aggregates once
    // and broadcasts, the stream side is a stateless join, so the
    // append-mode sink equals the batch relation verbatim.
    // the same relation out of the real streaming engine (stateless
    // stream-static join against the broadcast corpus moments)
    Q("q_stream_standardize_gate", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      streamGate(s, docs.filter(col("doc_id") % 5 === 0),
          Seq(col("doc_id")))(FileSink { src =>
        Curation.standardizeAgainstCorpus(src(), corpus, "n_tokens",
          groupCols = Seq("source"))
      })._1
    }, twin("q_standardize_incr")),

    // STREAM-STATIC BIGRAM-RARITY SCORING under the hash gate, through
    // the foreachBatch SCORING sink: the per-doc rollup
    // (q_bigram_lm_incr's plan) is a streaming AGGREGATION — update-mode
    // only in one incremental plan, which no file sink accepts — but a
    // doc's score depends only on its own row + the static corpus, so
    // applying the batch relation PER MICRO-BATCH is semantically exact.
    // Each arriving doc is scored against the static bigram/unigram
    // censuses and appended; the accumulated sink hash-matches the batch
    // oracle. (The in-plan update-mode execution stays pinned in
    // StreamingSpec; this gates the deliverable-sink form.)
    // the same relation out of the foreachBatch scoring sink
    Q("q_stream_bigramlm_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      streamGate(s,
          docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text")),
          Seq(col("doc_id")))(ScoredSink { batch =>
        Curation.bigramRarityAgainstCorpus(batch, corpus)
      })._1
    }, twin("q_bigram_lm_incr")),

    // STREAMING INGEST PPJOIN under the hash gate: each arriving crawl
    // micro-batch exact-Jaccard-joined against the static kept corpus
    // through the foreachBatch scoring sink (a batch's pairs depend only
    // on its own docs + the corpus, so per-batch application is
    // semantically exact). The corpus-side rank-postings census is keyed
    // by the CORPUS document frequencies alone, so `Pins.scopedPersist`'s
    // sameResult guard keeps ONE cached census across all four
    // micro-batches — the incremental discipline that makes this the
    // 100 TB ingest-time exact near-dup check. Oracle: the batch
    // cross-side brute force (q_dedup_ppjoin_incr's own SQL).
    // the SAME relation drained through the foreachBatch scoring sink as
    // four micro-batches: per-batch pairs depend only on the batch's own
    // docs + the static corpus, so the accumulated sink equals the batch
    Q("q_stream_ppjoin_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      streamGate(s,
          docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text")),
          Seq(col("doc_id")))(ScoredSink { batch =>
        Dedup.ppjoinAgainstCorpus(batch, corpus, threshold = 0.5)
      })._1
    }, twin("q_dedup_ppjoin_incr")),

    // STREAMING INGEST DRIFT MONITORING under the hash gate: each
    // arriving micro-batch's Jensen-Shannon divergence against the
    // static reference corpus through the foreachBatch scoring sink —
    // ONE drift row per micro-batch (the alert a production ingest
    // pipeline pages on), so unlike the per-row scoring gates the
    // accumulated sink is a per-SEGMENT relation: the oracle replays the
    // 4-way ntile staging and computes each segment's divergence with
    // the same quantized-ln integer arithmetic. The corpus-side shingle
    // histogram is a pure function of the static corpus (re-derived per
    // batch inside one plan — each micro-batch is one corpus scan, the
    // stream-static discipline).
    // streamed per-batch JSD: replay the 4-way ntile staging, compute each
    // segment's divergence vs the static corpus with the same quantized-ln
    // integer arithmetic (one row per micro-batch, seg dropped — rows
    // identify by their totals)
    Q("q_stream_jsd_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      streamGate(s,
          docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text")),
          Seq(col("doc_id")))(ScoredSink { batch =>
        Curation.jsDivergence(batch, corpus)
      })._1
    }, hashSafe("a_total,b_total,s_p*,s_q*,s_m*,h_p,h_q,h_m,jsd")(
      """WITH st AS (
        |  SELECT doc_id, text, ntile(4) OVER (ORDER BY doc_id) AS seg
        |  FROM documents WHERE doc_id % 5 = 0),
        |segs AS (SELECT DISTINCT seg FROM st),
        |ac AS (
        |  SELECT seg, sh, count(*) AS ca FROM (
        |    SELECT seg, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT seg, regexp_split_to_array(trim(text), '\s+') AS toks
        |          FROM st))
        |  GROUP BY seg, sh),
        |bc0 AS (
        |  SELECT sh, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |          FROM documents WHERE doc_id % 5 <> 0))
        |  GROUP BY sh),
        |bcs AS (SELECT seg, sh, cb FROM bc0 CROSS JOIN segs),
        |c AS (SELECT coalesce(ac.seg, bcs.seg) AS seg,
        |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM ac FULL JOIN bcs ON ac.seg = bcs.seg AND ac.sh = bcs.sh),
        |t AS (SELECT seg, CAST(sum(ca) AS BIGINT) AS a_total,
        |        CAST(sum(cb) AS BIGINT) AS b_total FROM c GROUP BY seg),
        |q AS (SELECT c.seg, ca, cb, a_total, b_total,
        |    CAST(ca AS HUGEINT) * b_total + CAST(cb AS HUGEINT) * a_total AS nmix
        |  FROM c JOIN t ON c.seg = t.seg),
        |s AS (SELECT seg,
        |    sum(CASE WHEN ca > 0 THEN CAST(ca AS HUGEINT) *
        |      (CAST(floor(ln(CAST(ca AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(a_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |      ELSE 0 END) AS s_p,
        |    sum(CASE WHEN cb > 0 THEN CAST(cb AS HUGEINT) *
        |      (CAST(floor(ln(CAST(cb AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(b_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |      ELSE 0 END) AS s_q,
        |    sum(nmix *
        |      (CAST(floor(ln(CAST(nmix AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(2 * CAST(a_total AS HUGEINT) * b_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_m,
        |    max(a_total) AS a_total, max(b_total) AS b_total
        |  FROM q GROUP BY seg),
        |r AS (SELECT a_total, b_total,
        |    CAST(s_p AS DECIMAL(38,0)) AS s_p, CAST(s_q AS DECIMAL(38,0)) AS s_q,
        |    CAST(s_m AS DECIMAL(38,0)) AS s_m,
        |    -(CAST(s_p AS DOUBLE) / CAST(a_total AS DOUBLE)) / 1048576.0 AS h_p,
        |    -(CAST(s_q AS DOUBLE) / CAST(b_total AS DOUBLE)) / 1048576.0 AS h_q,
        |    -(CAST(s_m AS DOUBLE) / (2.0 * CAST(a_total AS DOUBLE) * CAST(b_total AS DOUBLE))) / 1048576.0 AS h_m
        |  FROM s)
        |SELECT a_total, b_total, s_p, s_q, s_m, h_p, h_q, h_m,
        |  h_m - (h_p + h_q) / 2.0 AS jsd
        |FROM r""".stripMargin)),

    // STREAMING PER-BATCH WASSERSTEIN-1 DRIFT under the gate — the
    // numeric-MAGNITUDE companion of q_stream_jsd_gate's distributional
    // readout: each micro-batch's earth-mover's distance vs the static
    // reference cohort, in the column's own units (one drift row per
    // batch through the exactly-once scoring sink). The oracle replays
    // the 4-way ntile staging and each segment's W1 with the identical
    // integer-x-quantized-gap arithmetic.
    // streamed per-batch W1: replay the 4-way ntile staging, each
    // segment vs the static reference with the same integer ECDF-gap x
    // quantized-gap arithmetic (seg dropped — rows identify by totals)
    Q("q_stream_w1_gate", (s, dir) => {
      val events = ev(s, dir)
      val ref = events.filter(col("user_id") % 5 =!= 0)
        .select(col("value"), lit(false).as("__b"))
      streamGate(s,
          events.filter(col("user_id") % 5 === 0)
            .select(col("ts"), col("event_id"), col("value")),
          Seq(col("ts"), col("event_id")))(ScoredSink { batch =>
        Curation.wasserstein1(
          ref.unionByName(batch.select(col("value"), lit(true).as("__b"))),
          "value", col("__b"))
      })._1
    }, hashSafe("n_a,n_b,s_w1*,w1")(
      """WITH st AS (
        |  SELECT value, ntile(4) OVER (ORDER BY ts, event_id) AS seg
        |  FROM events WHERE user_id % 5 = 0),
        |segs AS (SELECT DISTINCT seg FROM st),
        |u AS (
        |  SELECT s.seg, CAST(r.value AS DOUBLE) AS v, 0 AS b
        |  FROM events r CROSS JOIN segs s WHERE r.user_id % 5 <> 0
        |  UNION ALL
        |  SELECT seg, CAST(value AS DOUBLE) AS v, 1 AS b FROM st),
        |c AS (SELECT seg, v,
        |        CAST(count(*) FILTER (b = 0) AS BIGINT) AS ca,
        |        CAST(count(*) FILTER (b = 1) AS BIGINT) AS cb
        |      FROM u WHERE v IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT seg, v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |          lead(v) OVER w AS vn
        |        FROM c WINDOW w AS (PARTITION BY seg ORDER BY v)),
        |t AS (SELECT seg, CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM c GROUP BY 1),
        |s AS (SELECT c2.seg,
        |        sum(CAST(abs(cuma * n_b - cumb * n_a) AS HUGEINT) *
        |            CAST(floor((vn - v) * 1048576.0 + 0.5) AS HUGEINT)) AS s_w1
        |      FROM cum c2 JOIN t ON c2.seg = t.seg
        |      WHERE vn IS NOT NULL GROUP BY 1)
        |SELECT n_a, n_b, CAST(s_w1 AS DECIMAL(38,0)) AS s_w1,
        |  CAST(s_w1 AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1048576.0) AS w1
        |FROM s JOIN t USING (seg)""".stripMargin)),

    // STREAMING PER-BATCH CHI-SQUARE DRIFT under the gate — the
    // CATEGORICAL member of the streaming drift trio (JSD = whole
    // distribution, W1 = numeric magnitude, chi2 = category mix): each
    // micro-batch's event-type mix tested against the static reference
    // cohort, per-category rows + chi2/Cramer's V through the
    // exactly-once scoring sink.
    // streamed per-batch chi2: replay the 4-way ntile staging, each
    // segment's category mix vs the static reference with the identical
    // integer-deviation arithmetic (seg dropped — rows identify by
    // their per-segment counts and terms)
    Q("q_stream_chi2_gate", (s, dir) => {
      val events = ev(s, dir)
      val ref = events.filter(col("user_id") % 5 =!= 0)
        .select(col("event_type"), lit(false).as("__b"))
      streamGate(s,
          events.filter(col("user_id") % 5 === 0)
            .select(col("ts"), col("event_id"), col("event_type")),
          Seq(col("ts"), col("event_id")))(ScoredSink { batch =>
        Curation.chi2Drift(
          ref.unionByName(batch.select(col("event_type"),
            lit(true).as("__b"))),
          "event_type", col("__b"))
      })._1
    }, sql(
      """WITH st AS (
        |  SELECT event_type, ntile(4) OVER (ORDER BY ts, event_id) AS seg
        |  FROM events WHERE user_id % 5 = 0),
        |segs AS (SELECT DISTINCT seg FROM st),
        |u AS (
        |  SELECT s.seg, r.event_type AS category, 0 AS b
        |  FROM events r CROSS JOIN segs s WHERE r.user_id % 5 <> 0
        |  UNION ALL SELECT seg, event_type, 1 FROM st),
        |c AS (SELECT seg, CAST(category AS VARCHAR) AS category,
        |    CAST(count(*) FILTER (b = 0) AS BIGINT) AS o_a,
        |    CAST(count(*) FILTER (b = 1) AS BIGINT) AS o_b
        |  FROM u WHERE category IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT seg, CAST(sum(o_a) AS BIGINT) AS na,
        |        CAST(sum(o_b) AS BIGINT) AS nb,
        |        CAST(count(*) AS BIGINT) AS k FROM c GROUP BY 1),
        |terms AS (SELECT c.seg, category, o_a, o_b,
        |    CAST(o_a * (na + nb) - na * (o_a + o_b) AS BIGINT) AS d_num,
        |    CAST(CAST(o_a * (na + nb) - na * (o_a + o_b) AS HUGEINT) *
        |         CAST(o_a * (na + nb) - na * (o_a + o_b) AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(na AS HUGEINT) * nb * (o_a + o_b) AS DOUBLE) AS term
        |  FROM c JOIN t ON c.seg = t.seg),
        |tot AS (SELECT seg, list_sum(list(term ORDER BY category)) AS chi2
        |        FROM terms GROUP BY 1),
        |kk AS (SELECT seg, k - 1 AS dof, CAST(na + nb AS DOUBLE) AS nn FROM t)
        |SELECT category, o_a, o_b, d_num, term, chi2, dof,
        |  sqrt(chi2 / nn) AS cramers_v
        |FROM terms JOIN tot USING (seg) JOIN kk USING (seg)""".stripMargin)),

    // STREAMING SUBSEQUENCE PATTERN MATCH under the hash gate — the
    // live-motif twin of q_ts_pattern (flatMapGroupsWithState carrying a
    // w-1 value rolling buffer per user): every arriving event completes
    // a window, z-normalized distance in the batch operator's exact fold
    // order, threshold-emit. In-order replay makes the sink EQUAL the
    // batch sliding-window distances at dist <= 1.0 — the oracle is
    // q_ts_pattern's own CTE chain with the top-k cut swapped for the
    // threshold.
    // streamed pattern match: q_ts_pattern's exact CTE chain with the
    // top-k cut swapped for the threshold emit
    Q("q_stream_pattern_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.patternMatch(src(),
          pattern = Array(0.0, 1.0, 3.0, 7.0, 3.0, 1.0), threshold = 1.0)
      })._1
        .select(col("user_id"), col("end_ts_us"), col("dist"))
    }, sql({
      val pattern = Array(0.0, 1.0, 3.0, 7.0, 3.0, 1.0)
      val w = pattern.length
      val mu0 = pattern.sum / w
      val sd0 = math.sqrt(pattern.map(x => (x - mu0) * (x - mu0)).sum / w)
      val qn = pattern.map(x => (x - mu0) / sd0)
      s"""WITH wnd AS (
         |  SELECT user_id, epoch_us(ts) AS end_ts_us,
         |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                      ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS arr
         |  FROM events),
         |c AS (SELECT user_id, end_ts_us, arr FROM wnd WHERE len(arr) = $w),
         |m AS (SELECT user_id, end_ts_us, arr, list_sum(arr) / $w AS mu FROM c),
         |sdev AS (SELECT user_id, end_ts_us, arr, mu,
         |    sqrt(list_sum(list_transform(arr, x -> (x - mu) * (x - mu))) / $w) AS sd
         |  FROM m),
         |z AS (SELECT user_id, end_ts_us,
         |    CASE WHEN sd = 0 THEN list_transform(arr, x -> 0.0)
         |         ELSE list_transform(arr, x -> (x - mu) / sd) END AS zarr
         |  FROM sdev),
         |d AS (SELECT user_id, end_ts_us,
         |    list_sum(list_transform(
         |      list_zip(zarr, CAST(${sqlDoubles(qn)} AS DOUBLE[])),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |  FROM z)
         |SELECT user_id, CAST(end_ts_us AS BIGINT) AS end_ts_us, dist
         |FROM d WHERE dist <= 1.0""".stripMargin
    })),

    // The CDC streaming gate UNDER THE ROCKSDB STATE-STORE PROVIDER —
    // provider parity as a CORRECTNESS row, not just a probe: the same
    // flatMapGroupsWithState drain with every state read/write going
    // through RocksDB (the 10⁹-key deployment config) must produce the
    // identical materialized view, byte for byte under the oracle hash.
    // the RocksDB-provider drain must equal the default-provider view —
    // the oracle IS q_stream_cdc_gate's
    Q("q_stream_cdc_rocksdb_gate", (s, dir) => {
      val log = ev(s, dir).select(col("user_id"),
        when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("value"), unix_micros(col("ts")).as("ts_us"),
        col("ts"), col("event_id"))
      val sink = streamGate(s, log, Seq(col("ts"), col("event_id")),
          confs = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(FileSink {
        src =>
          graft.streaming.StreamingPipeline.cdcLatestStream(
            src(), payloadCols = Seq("value", "ts_us"))
      })._1
      sink.groupBy("user_id")
        .agg(max_by(struct(col("op"), col("value"), col("ts_us")),
          col("n_ops")).as("w"), max(col("n_ops")).as("n_ops"))
        .where(col("w.op") =!= "D")
        .select(col("user_id"), col("w.value").as("value"),
          col("w.ts_us").cast("long").as("ts_us"),
          col("n_ops").cast("long").as("n_ops"))
    }, twin("q_cdc_latest")),

    // The WATERMARKED WINDOWED-AGG streaming mode under the hash gate —
    // the other stateful-operator family (stateStoreSave, where the CDC
    // gate exercises flatMapGroupsWithState). Hourly OHLC bars stream over
    // 4 in-order segments plus a SENTINEL segment (one far-future row on a
    // sentinel key) that pushes the global watermark past every real bar,
    // so Append mode emits the complete bar set; Spark's no-data batch
    // after the final watermark advance flushes the state. Each bar emits
    // exactly once, so the sink (minus the sentinel's own forever-open
    // bar, which never emits, and minus nothing else) IS the batch
    // operator's output — the oracle is q_ohlc's own SQL.
    // the streamed windowed-agg drain emits each watermark-closed bar
    // exactly once, so with the sentinel flush the sink equals the batch
    // twin — the oracle IS q_ohlc's
    Q("q_stream_ohlc_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 4L * 3600L * 1000000L)).as("ts"),
        lit(0.0).as("value"), lit(-1L).as("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinel))(FileSink { src =>
        graft.streaming.StreamingPipeline.ohlcBars(src())
      })._1
        .where(col("event_type") =!= "__wm_flush__")
        .select(col("event_type"), col("bucket_us"), col("open"), col("high"),
          col("low"), col("close"), col("volume_cents"), col("n_events"))
    }, twin("q_ohlc")),

    // The plain TUMBLING-WINDOW streaming aggregate under the hash gate —
    // the single most common streaming query, same sentinel-flush recipe
    // as the OHLC gate (watermarked stateStoreSave, Append emits each
    // window once when the watermark passes it): the sink minus the
    // sentinel's forever-open window IS the batch hourly count table.
    // SKETCHING under the hash gate (20th streaming family): per-window
    // distinct-user KMV sketches maintained by the mergeable
    // TypedImperativeAggregate THROUGH THE STATE STORE across
    // micro-batches — the streaming distinct-count dashboard, with the
    // sketch content (k smallest distinct md5-60 hashes) and the fixed-
    // order estimator hash-exact against the batch oracle. Sentinel-flush
    // discipline of q_stream_window_gate.
    // streaming KMV: the batch replay of the per-(window, type) sketch —
    // k smallest distinct md5-60 of the user-id decimal string
    Q("q_stream_kmv_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 4L * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("event_id"),
        lit(-1L).as("user_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinel))(FileSink { src =>
        src().withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(Sketches.kmvSketch(col("user_id").cast("string"), 32).as("sk"))
          .select(col("window.start").as("w_start"), col("event_type"),
            size(col("sk")).cast("long").as("n_minima"),
            // user_id is never null in this stream, but guard the empty
            // sketch anyway (element_at(…, 0) would throw at runtime)
            when(size(col("sk")) > 0,
              element_at(col("sk"), least(size(col("sk")), lit(32)))).as("kth"),
            Sketches.kmvEstimate(col("sk"), 32).as("est"))
      })._1
        .where(col("event_type") =!= "__wm_flush__")
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("event_type"), col("n_minima"), col("kth"), col("est"))
    }, sql(
      """WITH h AS (
        |  SELECT DISTINCT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |    event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h60
        |  FROM events),
        |r AS (SELECT w_start, event_type, h60,
        |        row_number() OVER (PARTITION BY w_start, event_type ORDER BY h60) AS rn
        |      FROM h),
        |s AS (SELECT w_start, event_type, count(*) AS n_minima, max(h60) AS kth
        |      FROM r WHERE rn <= 32 GROUP BY 1, 2)
        |SELECT w_start, event_type, n_minima, kth,
        |  CASE WHEN n_minima < 32 THEN CAST(n_minima AS DOUBLE)
        |       ELSE 31.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END AS est
        |FROM s""".stripMargin)),

    // the sentinel flush emits every real hourly window once — the
    // tumbling-count twin of the OHLC gate's oracle
    Q("q_stream_window_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 4L * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinel))(FileSink { src =>
        graft.streaming.StreamingPipeline.windowedCounts(src())
      })._1
        .where(col("event_type") =!= "__wm_flush__")
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("event_type"), col("n"))
    }, sql(
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // LATE-DATA ACCOUNTING under the hash gate: the tumbling-window drain
    // with ~7.7% of the events withheld and replayed AFTER the in-order
    // segments established the watermark. Spark drops a late row iff its
    // window END ≤ the filter watermark (boundary pinned in
    // StreamingRecoverySpec), and — the production subtlety this gate
    // exists to pin — a watermark advance takes effect ONE TRIGGER LATER:
    // the late batch (5th file) filters under the watermark planned from
    // data through segment 3, not segment 4 (verified against the
    // checkpoint offset log: batch 4 filtered at offsets/3's
    // batchWatermarkMs). So W = max ts of the first 3 ntile segments −
    // 2h; the kept set is main ∪ {late rows in windows ending after W},
    // and the DROPPED count (summed numRowsDroppedByWatermark over every
    // StreamingQueryProgress — the signal a production watermark pipeline
    // alarms on) rides the same hash as a (-1, '__dropped__', n)
    // accounting row. Second pinned subtlety: the metric counts rows
    // dropped AT THE STATE STORE — i.e., after the map-side partial
    // aggregation — so it is the number of dropped (window, key) GROUPS
    // in the late batch, not raw input rows (561 groups over 575 rows
    // here). The oracle restates all of it from the staging + watermark
    // arithmetic alone (ntile replay + DISTINCT group count).
    // late-data accounting: watermark = max main ts − 2h (ms floor, the
    // engine's clock); a late row is dropped iff its hourly window END ≤
    // watermark, kept rows merge into the tumbling counts, and the
    // dropped total rides as the (-1, '__dropped__') accounting row
    Q("q_stream_late_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"))
      val main = events.filter(col("event_id") % 13 =!= 0)
      val late = events.filter(col("event_id") % 13 === 0)
      val maxTs = main.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("event_id"))
      val (sink, dropped) = streamGate(s, main,
          Seq(col("ts"), col("event_id")),
          extraLast = Some(late.union(sentinel)))(FileSink { src =>
        graft.streaming.StreamingPipeline.windowedCounts(src())
      })
      sink.where(col("event_type") =!= "__wm_flush__")
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("event_type"), col("n"))
        .union(s.range(1).select(lit(-1L).as("w_start"),
          lit("__dropped__").as("event_type"), lit(dropped).as("n")))
    }, sql(
      """WITH m AS (SELECT * FROM events WHERE event_id % 13 <> 0),
        |l AS (SELECT * FROM events WHERE event_id % 13 = 0),
        |seg AS (SELECT ts, ntile(4) OVER (ORDER BY ts, event_id) AS b FROM m),
        |wm AS (SELECT epoch_ms(max(ts)) - 7200000 AS w FROM seg WHERE b <= 3),
        |keptlate AS (
        |  SELECT l.* FROM l, wm
        |  WHERE epoch_ms(date_trunc('hour', l.ts)) + 3600000 > wm.w),
        |kept AS (SELECT event_type, ts FROM m
        |         UNION ALL SELECT event_type, ts FROM keptlate)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n
        |FROM kept GROUP BY 1, 2
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), '__dropped__',
        |  (SELECT count(DISTINCT (date_trunc('hour', l.ts), l.event_type))
        |   FROM l, wm
        |   WHERE epoch_ms(date_trunc('hour', l.ts)) + 3600000 <= wm.w)""".stripMargin)),

    // The SLIDING-WINDOW variant under the hash gate: each event lands in
    // windowLen/slide = 2 overlapping windows; the sentinel (placed past
    // watermark + the longest window) flushes every real window. Oracle =
    // q_events_sliding's own SQL.
    // overlapping 2h/1h windows flushed by the far sentinel — the oracle
    // IS q_events_sliding's
    Q("q_stream_sliding_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinel))(FileSink { src =>
        graft.streaming.StreamingPipeline.slidingCounts(
          src(), windowLen = "2 hours", slide = "1 hour")
      })._1
        .where(col("event_type") =!= "__wm_flush__")
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("event_type"), col("n"))
    }, twin("q_events_sliding")),

    // The streaming SESSIONIZER under the hash gate (5th stateful family:
    // per-event labeling through flatMapGroupsWithState keyed state, where
    // the CDC gate emits per-key views and the dedup gate drops rows):
    // events replay as 4 time-ordered micro-batches; each event gains its
    // user's session ordinal, chained across batches through the
    // (lastTs, idx) state. On in-order replay the labels equal the batch
    // operator's, so the oracle is q_sessionize's own SQL.
    // the streamed sessionizer labels every event with the batch ordinal
    // on in-order replay — the oracle IS q_sessionize's
    Q("q_stream_sessionize_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
      streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.sessionize(src(), gap = "30 minutes")
      })._1
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("session_idx"))
    }, twin("q_sessionize")),

    // The streaming TRANSITION EMITTER under the hash gate (6th family):
    // per-user (last ts, last type) state emits consecutive event-type
    // pairs as the stream arrives; the sink then rolls up to the Markov
    // matrix with the exact aggregation the batch operator uses, so the
    // oracle is q_event_transitions' own SQL.
    // the streamed transition pairs roll up to the batch Markov matrix on
    // in-order replay — the oracle IS q_event_transitions'
    Q("q_stream_transitions_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val pairs = streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.transitions(src())
      })._1
        .filter(col("to_type").isNotNull)
      val counts = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
      counts.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          (col("n").cast("double") / col("n_from")).as("p"))
    }, twin("q_event_transitions")),

    // The IDLE-TIMEOUT EVICTION path under the hash gate: per-user
    // transition state is FREED once the watermark passes lastTs +
    // idleTimeout (EventTimeTimeout), and dormant users RETURN across
    // the 4 segments — their first return event starts pairless from
    // empty state. Gateable because maxGap <= idleTimeout makes the
    // bounded-state result EXACT on in-order replay: eviction needs
    // wm > lastTs + idle, the return event's ts >= wm + delay, so any
    // pair eviction could suppress already exceeds maxGap and is
    // dropped by the gap check in both engines — the documented
    // no-valid-pair-lost contract, now oracle-verified end-to-end.
    // idle-timeout eviction: with maxGap <= idleTimeout the bounded-state
    // stream equals the batch gap-filtered pairs exactly (see the gate
    // comment) — the oracle is the plain lead() pair set under the gap
    Q("q_stream_transitions_idle_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.transitions(
          src().withWatermark("ts", "2 hours"),
          maxGap = Some("30 minutes"), idleTimeout = Some("45 minutes"))
      })._1
        .filter(col("to_type").isNotNull)
        .select(col("user_id"), col("from_type"), col("to_type"))
    }, sql(
      """SELECT user_id, from_type, to_type FROM (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER w AS to_type,
        |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE to_type IS NOT NULL AND gap <= 1800000000""".stripMargin)),

    // The streaming SEQUENCE EMITTER under the gate (32nd family): the
    // last n-1 event types per user ride in keyed state, every arriving
    // event completes a contiguous triple as the stream arrives; the
    // sink then rolls up to occurrences + distinct-user support with
    // exactly the batch aggregation, so on in-order replay the oracle
    // is q_seq3's own SQL.
    // streamed contiguous triples roll up to the batch pattern table on
    // in-order replay — the oracle IS q_seq3's
    Q("q_stream_seq3_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val grams = streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink {
        src => graft.streaming.StreamingPipeline.sequences(src(), n = 3)
      })._1
      grams.groupBy("t0", "t1", "t2")
        .agg(count(lit(1)).cast("long").as("n_occurrences"),
          count_distinct(col("user_id")).cast("long").as("support"))
        .filter(col("support") >= 2)
    }, twin("q_seq3")),

    // The SESSION-WINDOW AGGREGATION streaming mode under the hash gate
    // (7th stateful family: sessionWindowStateStore — merging-window
    // state, distinct from the fixed-window stateStoreSave the OHLC gate
    // covers): per-type session counts stream over 4 in-order segments
    // plus the OHLC gate's sentinel segment (far-future row pushing the
    // watermark past every real session, so Append emits the complete
    // session set; the sentinel's own forever-open session never emits).
    // The oracle is q_events_sessions' own SQL.
    // the streamed session-window aggregate with the sentinel flush emits
    // the complete session set — the oracle IS q_events_sessions'
    Q("q_stream_sessions_gate", (s, dir) => {
      val events = ev(s, dir).select(col("event_type"), col("ts"), col("event_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinel = s.range(1).select(
        lit("__wm_flush__").as("event_type"),
        timestamp_micros(lit(maxTs + 4L * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinel))(FileSink { src =>
        graft.streaming.StreamingPipeline.sessionCounts(
          src(), gap = "30 minutes", watermark = Some("2 hours"))
      })._1
        .where(col("event_type") =!= "__wm_flush__")
        .select(unix_micros(col("s_start")).as("s_start"),
          col("event_type"), col("n"))
    }, twin("q_events_sessions")),

    // The STREAM-STREAM INTERVAL JOIN under the hash gate (8th stateful
    // family: symmetricHashJoin — watermark-bounded buffered state on
    // BOTH sides): the purchase and click streams read the SAME 4
    // in-order segments through two independent file sources; each
    // purchase joins that user's clicks in the preceding 30 minutes.
    // Inner-join matches emit as found, and in-order replay means no row
    // is ever late against the pair watermark, so the sink equals the
    // batch interval join — the oracle is plain SQL over events.
    // the streamed two-sided interval join emits every in-window
    // (purchase, preceding click) pair exactly once on in-order replay —
    // the oracle is the plain batch interval join
    Q("q_stream_join_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours")
      })._1
        .select(col("buy_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), unix_micros(col("cts")).as("cts_us"))
    }, sql(
      """SELECT p.event_id AS buy_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  c.event_id AS click_id, epoch_us(c.ts) AS cts_us
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin)),

    // The SECOND chained multi-stateful shape: stream-stream interval
    // JOIN (state stores buffering both sides) feeding a watermarked
    // tumbling-window AGGREGATION (a third state store) in ONE streaming
    // query — the attribution-rollup production shape ("attributed
    // purchases per hour"). The same per-side sentinels advance both
    // watermarks for the final window flush; they join nothing (distinct
    // user_ids), so no readout filter is even needed. Oracle: the batch
    // join + hourly rollup.
    // join feeding a windowed rollup: the batch join + hourly count
    Q("q_stream_join_window_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = s.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("purchase").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"))
        .union(s.range(1).select(
          lit(-2L).as("event_id"), lit(-2L).as("user_id"),
          lit("click").as("event_type"),
          timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts")))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinels))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_attributed"))
          .select(col("window.start").as("w_start"), col("n_attributed"))
      })._1
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("n_attributed"))
    }, sql(
      """WITH j AS (
        |  SELECT p.ts FROM events p JOIN events c ON p.user_id = c.user_id
        |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |    AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |    AND epoch_us(c.ts) <= epoch_us(p.ts))
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
        |  count(*) AS n_attributed
        |FROM j GROUP BY 1""".stripMargin)),

    // STREAM-STREAM LEFT OUTER interval join under the hash gate — the
    // null-emission-on-watermark surface the inner gate can't exercise:
    // every purchase emits exactly once, matched rows as they resolve,
    // UNMATCHED rows only when the watermark proves no qualifying click
    // can still arrive (held in state until then — late-data correctness
    // over latency). One far sentinel PER SIDE (both pass their stream's
    // filter, so both watermarks advance; distinct sentinel user_ids so
    // they never join) drives the final watermark past every real
    // purchase, flushing the null-matched remainder; the sentinels' own
    // rows stay in state (nothing outranks them) and are filtered by id
    // sign anyway. Oracle: the batch LEFT JOIN with the click predicates
    // in the ON clause.
    // left outer: every purchase row exactly once; the click predicates
    // live in the ON clause so unmatched purchases keep their null row
    Q("q_stream_join_outer_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = s.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("purchase").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"))
        .union(s.range(1).select(
          lit(-2L).as("event_id"), lit(-2L).as("user_id"),
          lit("click").as("event_type"),
          timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts")))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinels))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours",
          joinType = "left_outer")
      })._1
        .where(col("buy_id") >= 0)
        .select(col("buy_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), unix_micros(col("cts")).as("cts_us"))
    }, sql(
      """SELECT p.event_id AS buy_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  c.event_id AS click_id, epoch_us(c.ts) AS cts_us
        |FROM events p LEFT JOIN events c ON p.user_id = c.user_id
        |  AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'""".stripMargin)),

    // ...the RIGHT OUTER mirror — every click emits exactly once, the
    // unconverted ones with null purchase columns once the watermark
    // clears them (join keys coalesce, so an unmatched click keeps its
    // user_id)...
    // right outer: every click exactly once; purchase predicates inside
    // the left input so they don't eat the null side
    Q("q_stream_join_right_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = s.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("purchase").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"))
        .union(s.range(1).select(
          lit(-2L).as("event_id"), lit(-2L).as("user_id"),
          lit("click").as("event_type"),
          timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts")))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinels))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours",
          joinType = "right_outer")
      })._1
        .where((col("buy_id").isNull || col("buy_id") >= 0) &&
          col("click_id") >= 0)
        .select(col("buy_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), unix_micros(col("cts")).as("cts_us"))
    }, sql(
      """SELECT p.event_id AS buy_id, c.user_id AS user_id,
        |  epoch_us(p.ts) AS ts_us, c.event_id AS click_id,
        |  epoch_us(c.ts) AS cts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin)),

    // ...and the FULL OUTER form — the reconciliation shape ("which
    // purchases had no touch AND which touches converted nothing"): both
    // sides' unmatched rows emit with nulls once the watermark clears
    // them; join keys COALESCE across sides so an unmatched click keeps
    // its user_id. Same two per-side sentinels; the readout admits null
    // ids (that is the point) and excludes only the negative sentinel ids.
    // full outer: both sides' unmatched rows keep a null row; filters
    // move INSIDE the join inputs so they don't eat the null sides
    Q("q_stream_join_full_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = s.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("purchase").as("event_type"),
        timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts"))
        .union(s.range(1).select(
          lit(-2L).as("event_id"), lit(-2L).as("user_id"),
          lit("click").as("event_type"),
          timestamp_micros(lit(maxTs + 8L * 3600L * 1000000L)).as("ts")))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinels))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours",
          joinType = "full_outer")
      })._1
        .where((col("buy_id").isNull || col("buy_id") >= 0) &&
          (col("click_id").isNull || col("click_id") >= 0))
        .select(col("buy_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), unix_micros(col("cts")).as("cts_us"))
    }, sql(
      """SELECT p.event_id AS buy_id,
        |  coalesce(p.user_id, c.user_id) AS user_id,
        |  epoch_us(p.ts) AS ts_us, c.event_id AS click_id,
        |  epoch_us(c.ts) AS cts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin)),

    // STREAM-STREAM LEFT SEMI interval join under the gate — the
    // existence form ("did a qualifying click precede this purchase")
    // WITHOUT carrying click columns: each purchase emits AT MOST once,
    // on its first in-window match, never with nulls. No sentinels
    // needed: matched rows emit as matches arrive (like inner) and
    // unmatched rows are simply evicted without emission — there is no
    // null flush to force. Oracle: the batch EXISTS twin.
    // left semi: each purchase at most once, only if a qualifying click
    // precedes it — the batch EXISTS twin
    Q("q_stream_join_semi_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      streamGate(s, events, Seq(col("ts"), col("event_id")))(FileSink { src =>
        graft.streaming.StreamingPipeline.intervalJoin(
          src().filter(col("event_type") === "purchase")
            .select(col("event_id").as("buy_id"), col("user_id"), col("ts")),
          src().filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("cts")),
          Seq("user_id"), "ts", "cts",
          within = "30 minutes", watermark = "2 hours",
          joinType = "left_semi")
      })._1
        .select(col("buy_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
    }, sql(
      """SELECT p.event_id AS buy_id, p.user_id, epoch_us(p.ts) AS ts_us
        |FROM events p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |    AND epoch_us(c.ts) <= epoch_us(p.ts))""".stripMargin)),

    // The streaming ANOMALY DETECTOR under the hash gate (9th family —
    // the ingest-time alerting path: per-key ring state of the trailing
    // 24 closed hour buckets, flagged by the cross-multiplied integer
    // z-test). A bucket only emits when a LATER bucket arrives for the
    // same key, so a far-future sentinel event PER KEY closes every real
    // bucket (the OHLC sentinel idea, per-key because this state is
    // per-key, not watermark-driven); the sentinel's own forever-open
    // bucket never emits. On in-order replay the sink IS the batch
    // detector's output — the oracle is q_anomaly's own SQL.
    // the per-key sentinel closes every real bucket, so the streamed
    // detector's sink is the complete batch output — the oracle IS
    // q_anomaly's
    Q("q_stream_anomaly_gate", (s, dir) => {
      val events = ev(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"))
      val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = events.select(col("event_type")).distinct()
        .select(col("event_type"),
          timestamp_micros(lit(maxTs + 48L * 3600L * 1000000L)).as("ts"),
          lit(-1L).as("event_id"))
      streamGate(s, events, Seq(col("ts"), col("event_id")),
          extraLast = Some(sentinels))(FileSink { src =>
        graft.streaming.StreamingPipeline.anomalyFlags(src())
      })._1
        .select(col("event_type"), col("bucket_us"), col("n"), col("s_prev"),
          col("ss_prev"), col("w_prev"), col("is_anomaly"))
    }, twin("q_anomaly")),

    // The STREAM-STATIC AS-OF JOIN under the hash gate (the zero-state
    // streaming path: the snapshot side broadcasts as validity intervals,
    // each micro-batch is a stateless hash lookup): purchases replay as 4
    // micro-batches against the static view-snapshot frame — the exact
    // composition q_asof_iv gates in batch mode, now executed by the real
    // streaming engine. Stateless ⇒ the sink equals the batch join row
    // for row; the oracle is q_asof_iv's own DuckDB ASOF SQL.
    // the stateless stream-static as-of emits the batch join row for row
    // — the oracle IS q_asof_iv's
    Q("q_stream_asof_gate", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      streamGate(s, purchases, Seq(col("ts"), col("event_id")))(FileSink { src =>
        operators.AsOfJoin.asofJoinStreamStatic(src(), views, Seq("user_id"))
      })._1
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("asof_view_value").as("view_value"),
          unix_micros(col("asof_ts")).as("view_ts_us"))
    }, twin("q_asof")),
  )
}
