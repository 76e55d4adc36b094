package graft

import graft.ops.OpCompiler
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Fault-tolerance parity (SURVEY.md §2.3): the reference kills two stage-2
  * workers mid-job and re-sends unACKed tuples (at-least-once, duplicates
  * possible, counter state lost). Our analog: stop the streaming query
  * mid-stream and restart from the checkpoint — state resumes and the file
  * sink stays exactly-once (strict upgrade). */
class StreamingRecoverySpec extends AnyFunSuite with SparkSpec {

  test("running count resumes from checkpoint across a query restart, exactly-once") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_in").toString
    val out = Files.createTempDirectory("graft_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    def writeBatch(name: String, lines: Seq[String]): Unit = {
      val tmp = Files.createTempFile("graft_stage", ".txt")
      Files.writeString(tmp, lines.mkString("\n"))
      Files.move(tmp, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val src = spark.readStream.text(in)
      val ops = Seq(graft.ops.StreamOp.Filter("keep"), graft.ops.StreamOp.Aggregate)
      val counted = StreamingPipeline.pipeline(ops, OpCompiler.Ctx(Some("value"), Seq.empty))(src)
      StreamingPipeline.startFileSink(counted, out, ckpt)
    }

    writeBatch("b1.txt", Seq("keep one", "drop", "keep two"))
    val q1 = startQuery()
    q1.awaitTermination(60000) // AvailableNow: drains b1 then stops
    assert(!q1.isActive)

    // "crash": the query is down; more data lands (reference: tuples retried
    // to surviving workers, Node.java:1048-1085)
    writeBatch("b2.txt", Seq("keep three", "nope", "keep four"))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val result = spark.read.parquet(out)
    val counts = result.select("running_count").collect().map(_.getLong(0)).sorted.toSeq
    // counter state carried across the restart: 1,2 then 3,4 — no reset, and
    // no duplicated rows from the pre-crash batch
    assert(counts == Seq(1L, 2L, 3L, 4L))
    val values = result.select("value").collect().map(_.getString(0)).toSet
    assert(values == Set("keep one", "keep two", "keep three", "keep four"))
  }

  test("sessionize resumes session ordinals and last-seen times from checkpoint") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sess_in").toString
    val out = Files.createTempDirectory("graft_sess_out").toString
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 09:$m%02d:00")

    def writeBatch(name: String, rows: Seq[(Long, Long, Timestamp)]): Unit = {
      val tmp = Files.createTempDirectory("graft_sess_stage").resolve("w").toString
      rows.toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      StreamingPipeline.startFileSink(
        StreamingPipeline.sessionize(src, gap = "10 minutes"), out, ckpt)
    }

    // pre-crash: user 1 in session 0 (last seen 09:05)
    writeBatch("b1.parquet", Seq((1L, 1L, ts(0)), (2L, 1L, ts(5))))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // post-restart: 09:30 is 25m after the checkpointed last-seen 09:05 —
    // the restarted query must know that and open session 1; 09:32 continues it
    writeBatch("b2.parquet", Seq((3L, 1L, ts(30)), (4L, 1L, ts(32))))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val got = spark.read.parquet(out).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("session_idx"))).toSeq
    assert(got == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
  }

  test("transitions idle-timeout: state evicted by the watermark across a restart; " +
      "returning user starts pairless from empty state") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_idle_in").toString
    val out = Files.createTempDirectory("graft_idle_out").toString
    val ckpt = Files.createTempDirectory("graft_idle_ckpt").toString
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 09:$m%02d:00")

    def writeBatch(name: String,
        rows: Seq[(Long, Long, Timestamp, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_idle_stage").resolve("w").toString
      rows.toDF("event_id", "user_id", "ts", "event_type")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      StreamingPipeline.startFileSink(
        StreamingPipeline.transitions(
          src.withWatermark("ts", "0 seconds"),
          idleTimeout = Some("10 minutes")),
        out, ckpt)
    }

    // run 1: user 1 sits at 09:00 (timeout deadline 09:10); user 2's pair
    // emits. Watermark commits at 09:05.
    writeBatch("b1.parquet", Seq((1L, 1L, ts(0), "a"),
      (2L, 2L, ts(0), "x"), (3L, 2L, ts(5), "y")))
    val q1 = startQuery(); q1.awaitTermination(60000); assert(!q1.isActive)

    // run 2 (restarted from checkpoint): user 3's 09:30 event advances the
    // watermark past both deadlines; the engine's extra timeout batch
    // EVICTS users 1 and 2 — their (lastTs, lastType) slots are freed.
    writeBatch("b2.parquet", Seq((4L, 3L, ts(30), "z")))
    val q2 = startQuery(); q2.awaitTermination(60000); assert(!q2.isActive)

    // run 3 (restarted again): user 1 RETURNS at 09:40. With state evicted
    // the return starts pairless — (a -> b) must NOT appear (it would if
    // the 09:00 state had survived: no maxGap is set) — and the fresh
    // state works: (b -> c) emits within the batch.
    writeBatch("b3.parquet", Seq((5L, 1L, ts(40), "b"), (6L, 1L, ts(42), "c")))
    val q3 = startQuery(); q3.awaitTermination(60000); assert(!q3.isActive)

    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("from_type"), r.getAs[String]("to_type"))).toSet
    assert(got == Set((2L, "x", "y"), (1L, "b", "c")))
  }

  test("streaming as-of join recovers across a restart exactly-once (stateless: offset log only)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_asof_in").toString
    val out = Files.createTempDirectory("graft_asof_out").toString
    val ckpt = Files.createTempDirectory("graft_asof_ckpt").toString

    def writeBatch(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_asof_stage").resolve("w").toString
      rows.toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val snapshots =
      Seq((1L, 10L, "v1"), (1L, 20L, "v2")).toDF("user_id", "ts", "profile")
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      StreamingPipeline.startFileSink(
        graft.operators.AsOfJoin.asofJoinStreamStatic(src, snapshots, Seq("user_id")),
        out, ckpt)
    }

    writeBatch("b1.parquet", Seq((1L, 1L, 12L)))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // crash + restart: the pre-crash event must not re-emit; the post-crash
    // event resolves against the later snapshot
    writeBatch("b2.parquet", Seq((2L, 1L, 22L)))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val got = spark.read.parquet(out).orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("asof_profile"))).toSeq
    assert(got == Seq((1L, "v1"), (2L, "v2")))
  }

  test("streaming aggregate state is a typed product, not an opaque blob") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.BinaryType
    // kryo/java-serialized state encodes as ONE binary column; the typed
    // product schemas are columnar and checkpoint-stable across versions
    val aggSchema = Encoders.product[StreamingPipeline.AggState].schema
    assert(aggSchema.fieldNames.toSeq == Seq("tag", "l", "d", "s"))
    assert(!aggSchema.fields.exists(_.dataType == BinaryType))
    val countSchema = Encoders.product[StreamingPipeline.CountState].schema
    assert(countSchema.fieldNames.toSeq == Seq("n"))
    assert(!countSchema.fields.exists(_.dataType == BinaryType))
  }

  test("running sum resumes from checkpoint across a query restart") {
    val in = Files.createTempDirectory("graft_sum_in").toString
    val out = Files.createTempDirectory("graft_sum_out").toString
    val ckpt = Files.createTempDirectory("graft_sum_ckpt").toString

    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = Files.createTempFile("graft_sum", ".csv")
      Files.writeString(tmp, rows.map { case (id, v) => s"$id,$v" }.mkString("\n"))
      Files.move(tmp, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val src = spark.readStream.schema("id LONG, v LONG").csv(in)
      val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v"))
      val summed = StreamingPipeline.pipeline(ops, OpCompiler.Ctx(None, Seq("id")))(src)
      StreamingPipeline.startFileSink(summed, out, ckpt)
    }

    writeBatch("b1.csv", Seq((1L, 10L), (2L, 5L)))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // crash + restart: the AggState checkpoint must restore the accumulator
    writeBatch("b2.csv", Seq((3L, 7L)))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val sums = spark.read.parquet(out)
      .select("running_sum").collect().map(_.getLong(0)).sorted.toSeq
    assert(sums == Seq(10L, 15L, 22L),
      "sum state must carry across the restart (10, 15, then 15+7)")
  }

  test("session windows recover across a restart: pre- and post-crash events merge") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sess_in").toString
    val out = Files.createTempDirectory("graft_sess_out").toString
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString

    def writeBatch(name: String, rows: Seq[(String, String)]): Unit = {
      val tmp = Files.createTempFile("graft_sess", ".csv")
      Files.writeString(tmp, rows.map { case (ts, k) => s"$ts,$k" }.mkString("\n"))
      Files.move(tmp, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val src = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING").csv(in)
      val sessions = StreamingPipeline.sessionCounts(
        src, gap = "10 minutes", watermark = Some("5 minutes"))
      StreamingPipeline.startFileSink(sessions, out, ckpt)
    }

    // session A: two events 5 min apart (within the gap)
    writeBatch("b1.csv", Seq(
      ("2024-01-01 10:00:00", "click"), ("2024-01-01 10:05:00", "click")))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // restart; an event still within session A's gap must MERGE into the
    // checkpointed partial session, then far-future events close everything
    writeBatch("b2.csv", Seq(
      ("2024-01-01 10:12:00", "click"),   // 7 min after 10:05 -> same session
      ("2024-01-01 11:00:00", "click"),   // new session
      ("2024-01-01 12:00:00", "click")))  // pushes the watermark, closes both
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    val bySession = rows.toSeq.sortBy(_._1)
    // the 3-event merged session survives the restart as ONE row
    assert(bySession.exists { case (s, _, n) => s.startsWith("2024-01-01 10:00:00") && n == 3L },
      s"merged session missing from: ${bySession.mkString(", ")}")
    assert(bySession.exists { case (s, _, n) => s.startsWith("2024-01-01 11:00:00") && n == 1L })
  }

  test("streaming span dedup resumes its fingerprint state from checkpoint across a restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_spans_in").toString
    val out = Files.createTempDirectory("graft_spans_out").toString
    val ckpt = Files.createTempDirectory("graft_spans_ckpt").toString
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

    def writeBatch(name: String, rows: Seq[(Timestamp, Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_spans_stage").resolve("w").toString
      rows.toDF("ts", "doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      StreamingPipeline.startFileSink(
        StreamingPipeline.dedupSpans(src, "ts", "10 minutes", maxTokens = 2),
        out, ckpt)
    }

    // pre-crash: spans [a b] and [c d] enter the fingerprint state
    writeBatch("b1.parquet", Seq((ts(0), 1L, "a b c d")))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // post-restart: [a b] must still be known (state store, not just the
    // offset log) and drop; [e f] is new and passes
    writeBatch("b2.parquet", Seq((ts(2), 2L, "a b e f")))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val got = spark.read.parquet(out).select("doc_id", "chunk")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1L, "a b"), (1L, "c d"), (2L, "e f")))
  }

  test("chained dedup->window resumes BOTH state stores across a restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_chain_in").toString
    val out = Files.createTempDirectory("graft_chain_out").toString
    val ckpt = Files.createTempDirectory("graft_chain_ckpt").toString
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

    def writeBatch(name: String, rows: Seq[(Timestamp, String, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_chain_stage").resolve("w").toString
      rows.toDF("ts", "source", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = StreamingPipeline.startFileSink(
      StreamingPipeline.dedupThenWindowCounts(
        spark.readStream.schema(schema).parquet(in), "ts", "1 hour"),
      out, ckpt)

    // pre-crash: two docs enter the 10:00 window (nothing emits — the
    // watermark 10:05-1h is far from the window end); dedup store holds
    // both fingerprints, window store holds the open partial count
    writeBatch("b1.parquet", Seq((ts(10, 0), "s1", "alpha"), (ts(10, 5), "s1", "beta")))
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)
    assert(spark.read.schema(schema).parquet(out).isEmpty,
      "no window may close before the watermark passes its end")

    // post-restart: the replayed "alpha" must drop via the RESUMED dedup
    // store (state, not offset log); "gamma" merges into the RESUMED open
    // window; the 13:00 sentinel drives the final watermark to 12:00,
    // flushing the 10:00 window with count 3 — not 4 (dup dropped), not 1
    // (pre-crash partial lost)
    writeBatch("b2.parquet", Seq((ts(10, 10), "s1", "alpha"),
      (ts(10, 20), "s1", "gamma"), (ts(13, 0), "wm", "zzz")))
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val got = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((ts(10, 0), "s1", 3L)))
  }

  test("ingest bigram scoring resumes its doc-agg state across a restart (update mode)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_bgr_in").toString
    val out = Files.createTempDirectory("graft_bgr_out").toString
    val ckpt = Files.createTempDirectory("graft_bgr_ckpt").toString
    // corpus "a b b c": unigrams a:1 b:2 c:1; bigrams "a b","b b","b c" x1
    val corpus = Seq((100L, "a b b c")).toDF("doc_id", "text")

    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_bgr_stage").resolve("w").toString
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    writeBatch("b1.parquet", Seq((1L, "a b")))
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      graft.operators.Curation
        .bigramRarityAgainstCorpus(src, corpus, collapseOccurrences = false)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("__batch", lit(id)).write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    val q1 = startQuery(); q1.awaitTermination(60000); assert(!q1.isActive)
    // post-restart: doc 1's agg state must RESUME (n_bg accumulates across
    // the crash), doc 2 is fresh
    writeBatch("b2.parquet", Seq((1L, "b c"), (2L, "x y")))
    val q2 = startQuery(); q2.awaitTermination(60000)

    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val latest = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._6) }.toSeq.sortBy(_._1)
    // doc 1 final: "a b" + "b c" both hit -> n_bg 2, sum_bg 2, prefixes
    // c1(a)+c1(b) = 3; doc 2: one novel transition
    assert(latest == Seq((1L, 2L, 2L, 2L, 3L, 1L), (2L, 1L, 0L, 0L, 0L, 1L)),
      s"got ${latest.mkString(",")}")
    // and the pre-crash emission really was the partial state (1 bigram)
    val doc1First = rows.filter(r => r._1 == 1L).minBy(_._6)
    assert(doc1First._2 == 1L, s"pre-crash doc-1 row: $doc1First")
  }

  test("watermarked tumbling-window counts emit finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val counted = StreamingPipeline.windowedCounts(
      df, windowLen = "10 minutes", watermark = "5 minutes")
    val q = counted.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      mem.addData((t(1), "click"), (t(2), "click"), (t(3), "view"))
      q.processAllAvailable()
      // advance event time far past window [10:00,10:10) + watermark
      mem.addData((t(31), "click"))
      q.processAllAvailable()
      mem.addData((t(59), "view")) // push watermark again to flush
      q.processAllAvailable()

      val rows = spark.table("win_out")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("anomaly flags resume the bucket ring from checkpoint across a restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_anom_in").toString
    val out = Files.createTempDirectory("graft_anom_out").toString
    val ckpt = Files.createTempDirectory("graft_anom_ckpt").toString
    def hts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

    def writeBatch(name: String, rows: Seq[(Long, Timestamp, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_anom_stage").resolve("w").toString
      rows.toDF("event_id", "ts", "event_type").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(in)
      StreamingPipeline.startFileSink(
        StreamingPipeline.anomalyFlags(src, window = 3), out, ckpt)
    }

    // pre-crash: three calm closed buckets (h0..h2 of 5 events; h3 opens)
    val calm = (0 until 3).flatMap(h =>
      (0 until 5).map(i => (h * 10L + i, hts(h, i + 1), "A"))) :+
      (100L, hts(3, 1), "A")
    writeBatch("b1.parquet", calm)
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(!q1.isActive)

    // crash + restart: h3 fills calm (4 more events -> closes at n=5), then
    // an h4 spike of 25 closes h3; h5 closes h4. The ring for h4's test is
    // h1,h2,h3 — carried ACROSS the restart in state.
    val post = (0 until 4).map(i => (200L + i, hts(3, 10 + i), "A")) ++
      (0 until 25).map(i => (300L + i, hts(4, i + 1), "A")) :+
      (400L, hts(5, 1), "A")
    writeBatch("b2.parquet", post)
    val q2 = startQuery()
    q2.awaitTermination(60000)

    val result = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("bucket_us"), r.getAs[Long]("n"),
        r.getAs[Long]("w_prev"), r.getAs[Boolean]("is_anomaly")))
      .sortBy(_._1).toSeq
    // five closed buckets h0..h4; no duplicates from the pre-crash batch
    assert(result.map(_._2) == Seq(5L, 5L, 5L, 5L, 25L))
    // h3 closed post-restart with the PRE-crash buckets h0..h2 in its ring
    assert(result(3)._3 == 3 && !result(3)._4)
    // the h4 spike is flagged against the recovered calm ring
    assert(result(4)._3 == 3 && result(4)._4)
    // warm-up buckets (h0: 0-ring; h1: 1; h2: 2) unflagged
    assert(result.take(3).forall(!_._4))
  }

  test("late-data accounting: rows behind the watermark are dropped, counted " +
      "in numRowsDroppedByWatermark, and the kept set is exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val counted = StreamingPipeline.windowedCounts(
      df, windowLen = "10 minutes", watermark = "5 minutes")
    val q = counted.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // batch 1: windows [00,10) x2 and [30,40) x1; max=35 -> watermark 30
      mem.addData((t(0), "a"), (t(2), "a"), (t(35), "a"))
      q.processAllAvailable()
      // batch 2 runs under watermark 10:30:
      //   t(5), t(6) window [00,10) end 10:10 <= 10:30 -> DROPPED (ONE
      //     group: the metric counts state-store input rows, i.e. the
      //     post-partial-agg (window, key) groups, not raw rows)
      //   t(25) window [20,30) end 10:30 <= 10:30 -> DROPPED (boundary)
      //   t(32) window [30,40) end 10:40 >  10:30 -> kept, merges
      //   t(59) fresh window, raises max to 59 -> watermark 54
      mem.addData((t(5), "a"), (t(6), "a"), (t(25), "a"), (t(32), "a"),
        (t(59), "a"))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "a")) // flush
      q.processAllAvailable()

      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 2L,
        s"expected 2 watermark-dropped GROUPS (3 raw rows), got $dropped")
      val rows = spark.table("late_out")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", 2L))) // late t(5) NOT merged
      assert(rows.contains(("2024-01-01 10:30:00.0", 2L))) // late t(32) merged
      assert(!rows.exists(_._1 == "2024-01-01 10:20:00.0")) // t(25) dropped
    } finally q.stop()
  }

  test("scored parquet sink replaces a replayed batch instead of double-appending (exactly-once)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_score_out").toString
    // the crash-replay case distilled: foreachBatch re-invokes the writer
    // with the SAME batchId after a failure past the write
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    def double(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("score", length(col("v")) * 2)
    StreamingPipeline.writeScoredBatch(b0, double, out, batchId = 0L)
    StreamingPipeline.writeScoredBatch(b0, double, out, batchId = 0L) // replay
    StreamingPipeline.writeScoredBatch(
      Seq((3L, "c")).toDF("id", "v"), double, out, batchId = 1L)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3L, "replayed batch 0 must replace, not append")
    assert(rows.select("_batch_id").distinct().as[Long].collect().sorted.toSeq
      == Seq(0L, 1L))
  }

  test("scored sink with a static frame on the left keeps each batch exactly once across a replay") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_score_static_out").toString
    // the q_stream_w1_gate shape: the scored frame's plan is rooted at a
    // static frame of the main session, while each micro-batch belongs to
    // another session (foreachBatch hands out a clone)
    val ref = Seq(10.0, 20.0).toDF("value").withColumn("__b", lit(false))
    val micro = spark.newSession()
    def batch(vs: Double*) = micro.createDataFrame(vs.map(Tuple1(_))).toDF("value")
    def score(b: org.apache.spark.sql.DataFrame) =
      ref.unionByName(b.select(col("value"), lit(true).as("__b")))
        .groupBy("__b").agg(count(lit(1)).as("n"), sum("value").as("s"))
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modes = Seq(spark, micro).map(_.conf.getOption(modeKey))
    StreamingPipeline.writeScoredBatch(batch(1.0, 2.0), score, out, batchId = 0L)
    StreamingPipeline.writeScoredBatch(batch(5.0), score, out, batchId = 1L)
    StreamingPipeline.writeScoredBatch(batch(1.0, 2.0), score, out, batchId = 0L) // replay
    assert(Seq(spark, micro).map(_.conf.getOption(modeKey)) == modes,
      "the writer must not touch session confs")
    val rows = spark.read.parquet(out)
      .select("_batch_id", "__b", "n", "s").as[(Long, Boolean, Long, Double)]
      .collect().sorted.toSeq
    assert(rows == Seq((0L, false, 2L, 30.0), (0L, true, 2L, 3.0),
      (1L, false, 2L, 30.0), (1L, true, 1L, 5.0)))
  }

  test("a stream gate leaves only its sink dir under the shared temp root") {
    val root = TempDirs.root.toFile
    def gates() = root.listFiles().filter(_.getName.startsWith("graft_stream_gate")).toSet
    val before = gates()
    val n = SparkEntry.queries("q_stream_sessionize_gate")(spark, "/root/testdata/sf0.001").count()
    assert(n > 0L)
    val added = gates() -- before
    assert(added.size == 1, s"one staging dir per gate build: $added")
    // staged input, staging scratch and checkpoint are gone once the
    // drain ends; out/ stays for the frame's lazy reads until JVM exit
    assert(added.head.list().toSet == Set("out"))
  }

  test("scored sink end-to-end: deleting the last checkpoint commit replays the batch without duplicates") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sps_in").toString
    val out = Files.createTempDirectory("graft_sps_out").toString
    val ckpt = Files.createTempDirectory("graft_sps_ckpt").toString

    def writeFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_sps_stage").resolve("w").toString
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
    }
    writeFile("b1.parquet", Seq((1L, "alpha"), (2L, "beta")))
    writeFile("b2.parquet", Seq((3L, "gamma")))
    lazy val schema = spark.read.parquet(in).schema
    def startQuery() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      StreamingPipeline.startScoredParquetSink(
        src, b => b.withColumn("n_chars", length(col("text"))), out, ckpt)
    }
    val q1 = startQuery(); q1.awaitTermination(60000); assert(!q1.isActive)
    assert(spark.read.parquet(out).count() == 3L)

    // crash AFTER the batch-1 write but BEFORE its commit: drop the newest
    // commit marker so the restarted query re-runs that micro-batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2, s"expected 2 commits, got ${commits.length}")
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete()) // hadoop checksum sidecar
    val q2 = startQuery(); q2.awaitTermination(60000)

    val rows = spark.read.parquet(out)
    assert(rows.count() == 3L, "replayed micro-batch must not double-append")
    assert(rows.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
  }
}
