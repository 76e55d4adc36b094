package graft.streaming

import graft.ops.{OpCompiler, StreamOp}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructField, StructType}

/** Structured-Streaming execution of the reference's job model
  * (SURVEY.md §2.3): the same compiled operator pipeline over an unbounded
  * source, with the running count as checkpointed keyed state.
  *
  * Delivery: the reference is at-least-once with possible duplicates (per-tuple
  * ACK + 5s retry, no receiver dedup — Node.java:1528-1544, :117). Spark's
  * checkpointing + replayable sources + idempotent file sinks give
  * exactly-once — a strict upgrade, documented in SURVEY.md §2.3.
  */
object StreamingPipeline {

  /** State for the streaming running count: rows seen so far per shard. */
  final case class CountState(n: Long)

  /** Per-record running count over an unbounded stream, the reference's
    * AGGREGATE op (1,2,3,... one output per input, Operators.java:93-100).
    *
    * `shards` > 1 reproduces the reference's *actual* deployed semantics — N
    * interleaved partial counters, one per stage-2 worker (SURVEY.md §2.1 O9
    * caveat) — and scales linearly (state is keyed by shard). `shards` = 1 is
    * the reference's *intended* single global counter; that is inherently a
    * single serial stream of state updates on any engine, so it funnels each
    * micro-batch through one task — fine for control-plane-sized streams,
    * wrong for 100 TB (use shards > 1 or the batch prefix-sum instead). */
  def runningCount(
      df: DataFrame,
      outputCol: String = "running_count",
      shards: Int = 1): DataFrame = {
    val outSchema: StructType = df.schema.add(outputCol, LongType, nullable = false)
    val outEnc = Encoders.row(outSchema)
    val shardCol = usableShardCol(df)
    df.groupByKey { r: Row => math.floorMod(shardCol(r), shards) }(Encoders.scalaInt)
      .flatMapGroupsWithState[CountState, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[Row], state: GroupState[CountState]) =>
          var c = state.getOption.map(_.n).getOrElse(0L)
          // materialize the micro-batch slice: state.update must happen
          // before the returned iterator is consumed
          val out = rows.map { r => c += 1; Row.fromSeq(r.toSeq :+ c) }.toVector
          state.update(CountState(c))
          out.iterator
      }(Encoders.product[CountState], outEnc)
  }

  /** Shard key extractor: first column's hash (stable across retries for the
    * same row — required for exactly-once counting under task replay). */
  private def usableShardCol(df: DataFrame): Row => Int =
    r => if (r.isNullAt(0)) 0 else r.get(0).hashCode()

  /** State for the streaming running sum/max/min: a typed, tagged product —
    * at most one slot populated, `tag` naming the value's original flavor so
    * the checkpoint is self-describing and columnar (schema-stable across
    * library versions, unlike an opaque kryo blob; tag 0 = no value seen
    * yet, SQL window semantics).
    *
    * COMPATIBILITY: the kryo → product encoder switch changed the
    * checkpointed state schema. A query restarted from a checkpoint written
    * by a pre-switch build fails Spark's state-schema compatibility check;
    * there is no migration path — drain the old query and restart with a
    * fresh checkpoint directory. Acceptable pre-release; recorded here so
    * the failure mode is a documented one. Decimals ride the string slot in exact
    * textual form — the running accumulator may exceed any fixed DecimalType
    * precision internally (the emit side clamps, the state must not).
    * Date/timestamp flavors store epoch days / epoch micros (timestamps are
    * micros-precision in Spark, so this is exact) and restore the same
    * java.sql / java.time class that arrived, which is session-constant
    * (spark.sql.datetime.java8API.enabled). */
  final case class AggState(
      tag: Int,
      l: Option[Long],
      d: Option[Double],
      s: Option[String])

  object AggState {
    val Empty = AggState(0, None, None, None)
    // tag per original flavor, so decode is total without plan-side context
    private val TByte = 1; private val TShort = 2; private val TInt = 3
    private val TLong = 4; private val TFloat = 5; private val TDouble = 6
    private val TJavaDec = 7; private val TScalaDec = 8; private val TString = 9
    private val TSqlDate = 10; private val TLocalDate = 11
    private val TSqlTs = 12; private val TInstant = 13

    def encode(v: Any): AggState = v match {
      case x: java.lang.Byte => AggState(TByte, Some(x.longValue), None, None)
      case x: java.lang.Short => AggState(TShort, Some(x.longValue), None, None)
      case x: java.lang.Integer => AggState(TInt, Some(x.longValue), None, None)
      case x: java.lang.Long => AggState(TLong, Some(x), None, None)
      case x: java.lang.Float => AggState(TFloat, None, Some(x.doubleValue), None)
      case x: java.lang.Double => AggState(TDouble, None, Some(x), None)
      case x: java.math.BigDecimal => AggState(TJavaDec, None, None, Some(x.toString))
      case x: BigDecimal => AggState(TScalaDec, None, None, Some(x.toString))
      case x: String => AggState(TString, None, None, Some(x))
      case x: java.sql.Timestamp => // order matters: Timestamp extends java.util.Date
        AggState(TSqlTs, Some(timestampMicros(x)), None, None)
      case x: java.sql.Date =>
        AggState(TSqlDate, Some(x.toLocalDate.toEpochDay), None, None)
      case x: java.time.LocalDate => AggState(TLocalDate, Some(x.toEpochDay), None, None)
      case x: java.time.Instant =>
        AggState(TInstant, Some(x.getEpochSecond * 1000000L + x.getNano / 1000), None, None)
      case other => throw new IllegalArgumentException(
        s"unsupported streaming aggregate value: ${other.getClass.getName}")
    }

    def decode(st: AggState): Option[Any] = st.tag match {
      case 0 => None
      case TByte => Some(java.lang.Byte.valueOf(st.l.get.toByte))
      case TShort => Some(java.lang.Short.valueOf(st.l.get.toShort))
      case TInt => Some(java.lang.Integer.valueOf(st.l.get.toInt))
      case TLong => Some(java.lang.Long.valueOf(st.l.get))
      case TFloat => Some(java.lang.Float.valueOf(st.d.get.toFloat))
      case TDouble => Some(java.lang.Double.valueOf(st.d.get))
      case TJavaDec => Some(new java.math.BigDecimal(st.s.get))
      case TScalaDec => Some(BigDecimal(st.s.get))
      case TString => Some(st.s.get)
      case TSqlDate => Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(st.l.get)))
      case TLocalDate => Some(java.time.LocalDate.ofEpochDay(st.l.get))
      case TSqlTs =>
        val m = st.l.get
        val ts = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
        Some(ts)
      case TInstant =>
        val m = st.l.get
        Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L))
      case other => throw new IllegalStateException(s"unknown AggState tag: $other")
    }

    private def timestampMicros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  }

  /** Streaming `AGGREGATE:sum|max|min:field` (graft.ops.RunningCount.Kind):
    * per-shard running aggregate of a numeric field, one output per input.
    * The output schema matches the BATCH compile of the same descriptor
    * (OpCompiler -> RunningCount.withRunningAgg, i.e. Spark's own aggregate
    * result types): sum of an integral field accumulates in long (exact past
    * 2^53, where a double accumulator silently loses integer exactness), sum
    * of a decimal in BigDecimal with Spark's widened sum precision, sum of a
    * float/double in double; max/min preserve the field's own type, with
    * strings compared in Spark's UTF8String (code-point) order. One op
    * descriptor therefore yields the same output schema and the same values
    * whether it is run batch or streaming. One deliberate divergence:
    * AGGREGATE:sum over a non-numeric field throws here, where the batch
    * compile inherits Spark's implicit string-to-double cast — rejecting the
    * descriptor beats silently summing parsed strings.
    *
    * Overflow matches the batch window sum under the session's ANSI setting
    * (captured when the plan is built): ANSI on (the Spark 4 default) raises
    * an arithmetic error the moment a prefix exceeds the result type — long
    * sums past Long.MaxValue, decimal sums past the widened precision; ANSI
    * off emits null for the overflowing row and RESTARTS accumulation from
    * the next value, which is exactly what Spark's ANSI-off Sum does (the
    * nulled buffer is indistinguishable from "no values yet", so the next
    * value starts a fresh sum — verified against the batch compile).
    *
    * Max/min accept numeric, decimal, string, date and timestamp fields —
    * the orderable types the batch window accepts. State is the typed
    * product [[AggState]] (kryo-free checkpoints). */
  def runningAgg(
      df: DataFrame,
      valueCol: String,
      kind: graft.ops.RunningCount.Kind,
      outputCol: String,
      shards: Int = 1): DataFrame = {
    import graft.ops.RunningCount.Kind
    import org.apache.spark.sql.types._
    require(kind != Kind.Count, "use runningCount for the counter")
    val inType = df.schema(valueCol).dataType
    // Mirror Spark's Sum.resultType so batch and streaming schemas agree.
    val outType: DataType = kind match {
      case Kind.Sum => inType match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case FloatType | DoubleType => DoubleType
        case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
        case other => throw new IllegalArgumentException(
          s"AGGREGATE:sum needs a numeric field, got $other")
      }
      case _ =>
        inType match {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
               DoubleType | StringType | DateType | TimestampType => ()
          case _: DecimalType => ()
          case other => throw new IllegalArgumentException(
            s"AGGREGATE:${kind.toString.toLowerCase} needs an orderable " +
              s"numeric/decimal/string/date/timestamp field, got $other")
        }
        inType
    }
    // Overflow semantics follow the session's ANSI mode, like the batch
    // window sum (captured here at plan time; see scaladoc).
    val ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled", "true").toBoolean
    // (promote incoming value to accumulator repr, combine) — the repr is
    // also the value emitted, so it must encode as `outType`.
    val promote: Any => Any = (kind, inType) match {
      case (Kind.Sum, ByteType | ShortType | IntegerType | LongType) =>
        v => v.asInstanceOf[Number].longValue()
      case (Kind.Sum, FloatType | DoubleType) => v => v.asInstanceOf[Number].doubleValue()
      case (Kind.Sum, _: DecimalType) => {
        case d: java.math.BigDecimal => BigDecimal(d)
        case d: BigDecimal => d
        case other => BigDecimal(other.toString)
      }
      case _ => identity // max/min: keep the field's own boxed value
    }
    val step: (Any, Any) => Any = kind match {
      case Kind.Sum => (a, b) => (a, b) match {
        case (x: java.lang.Long, y: java.lang.Long) =>
          // ANSI long sum raises on overflow like batch; ANSI-off wraps
          java.lang.Long.valueOf(if (ansi) Math.addExact(x, y) else x + y)
        case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.valueOf(x + y)
        case (x: BigDecimal, y: BigDecimal) => x + y
        case other => sys.error(s"unreachable sum reprs: $other")
      }
      case _ =>
        // max/min over the field's natural order; NaN ranks above all doubles
        // (Spark's ordering). Values are same-typed Comparables.
        val ord: Ordering[Any] = inType match {
          case FloatType =>
            Ordering.by[Any, Float](_.asInstanceOf[Number].floatValue())(
              Ordering.Float.TotalOrdering)
          case DoubleType =>
            Ordering.by[Any, Double](_.asInstanceOf[Number].doubleValue())(
              Ordering.Double.TotalOrdering)
          case StringType =>
            // Spark orders strings as UTF8String (UTF-8 byte order == code
            // points); java String.compareTo is UTF-16 code-UNIT order and
            // ranks supplementary characters differently — use Spark's so
            // batch and streaming max/min agree on every input
            (x: Any, y: Any) =>
              org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String])
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y.asInstanceOf[String]))
          case _ => (x: Any, y: Any) => x.asInstanceOf[Comparable[Any]].compareTo(y)
        }
        if (kind == Kind.Max) (a, b) => ord.max(a, b) else (a, b) => ord.min(a, b)
    }
    // decimal sums clamp each prefix to the widened result precision
    val decimalBounds: Option[(Int, Int)] = (kind, outType) match {
      case (Kind.Sum, d: DecimalType) => Some((d.precision, d.scale))
      case _ => None
    }
    val outSchema: StructType = df.schema.add(outputCol, outType, nullable = true)
    val outEnc = Encoders.row(outSchema)
    val shardCol = usableShardCol(df)
    val vIdx = df.schema.fieldIndex(valueCol)
    df.groupByKey { r: Row => math.floorMod(shardCol(r), shards) }(Encoders.scalaInt)
      .flatMapGroupsWithState[AggState, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[Row], state: GroupState[AggState]) =>
          var acc = state.getOption.flatMap(AggState.decode)
          val out = rows.map { r =>
            if (!r.isNullAt(vIdx)) {
              val v = promote(r.get(vIdx))
              val cand = acc.fold(v)(step(_, v))
              acc = decimalBounds match {
                case Some((p, sc)) =>
                  val dec = org.apache.spark.sql.types.Decimal(cand.asInstanceOf[BigDecimal])
                  if (dec.changePrecision(p, sc)) Some(cand)
                  else if (ansi) throw new ArithmeticException(
                    s"$cand cannot be represented as Decimal($p, $sc) " +
                      "(running decimal sum overflow; ANSI mode)")
                  else None // batch parity: null row, accumulation restarts
                case None => Some(cand)
              }
            }
            Row.fromSeq(r.toSeq :+ acc.orNull)
          }.toVector
          state.update(acc.fold(AggState.Empty)(AggState.encode))
          out.iterator
      }(Encoders.product[AggState], outEnc)
  }

  /** Compile a reference op chain onto a (possibly streaming) DataFrame.
    * Stateless ops are the exact same Catalyst transforms as batch
    * (OpCompiler); AGGREGATE switches to the streaming state operator. */
  def pipeline(ops: Seq[StreamOp], ctx: OpCompiler.Ctx, shards: Int = 1)(
      df: DataFrame): DataFrame = {
    val (out, last) = ops.foldLeft((df, ctx)) { case ((d, c), op) =>
      op match {
        case StreamOp.Aggregate => (runningCount(d, shards = shards), c)
        case StreamOp.AggregateField(kind, field) =>
          (runningAgg(d, field, kind,
            "running_" + kind.toString.toLowerCase, shards), c)
        case other =>
          val (f, c2) = OpCompiler.compile(other, c)
          (f(d), c2)
      }
    }
    OpCompiler.dropHidden(out, last)
  }

  /** Text-line file stream source — the streaming analog of Tables.lines
    * (the reference's chunk files appearing in HyDFS). */
  def fileLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir).withColumn("file", input_file_name())

  /** Socket source (BASELINE.json spark_approach: "Structured Streaming +
    * Kafka/socket source"). */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Option plumbing for the Kafka source — pure, so it is unit-testable
    * without the connector jar (spark-sql-kafka is a separate artifact not
    * shipped in this sandbox; on a cluster `--packages
    * org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>` provides
    * it). Keys are the connector's documented option names. */
  def kafkaOptions(
      bootstrapServers: String,
      topics: Seq[String],
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true,
      extra: Map[String, String] = Map.empty): Map[String, String] = {
    require(bootstrapServers.nonEmpty, "kafka.bootstrap.servers is required")
    require(topics.nonEmpty, "at least one topic is required")
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> failOnDataLoss.toString) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      extra
  }

  /** Decode a Kafka-schema frame to the engine's line model: UTF-8 value
    * bytes as `value`, with (topic, partition, offset) as the lineage
    * identity — the unbounded analog of [[graft.sources.Tables.lines]]'s
    * (file, line_no). Pure projection over the connector's fixed schema
    * (key/value binary, topic, partition, offset, ...), so it is testable
    * on a batch frame of the same shape. */
  def decodeKafka(df: DataFrame): DataFrame =
    df.select(
      col("value").cast("string").as("value"),
      col("topic"), col("partition"), col("offset"))

  /** Kafka line source: `format("kafka")` behind the same source API as
    * [[fileLines]]/[[socketLines]]. Resolution of the `kafka` format happens
    * at `load()` — absent the connector jar this throws Spark's
    * missing-data-source error, which is the documented gate here. */
  def kafkaLines(
      spark: SparkSession,
      bootstrapServers: String,
      topics: Seq[String],
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true,
      extra: Map[String, String] = Map.empty): DataFrame =
    decodeKafka(
      spark.readStream.format("kafka")
        .options(kafkaOptions(bootstrapServers, topics, startingOffsets,
          maxOffsetsPerTrigger, failOnDataLoss, extra))
        .load())

  /** Event-time tumbling-window counts with a watermark — the windowed-agg
    * surface the reference lacks entirely (SURVEY.md §2.3: no event time, no
    * windows, no late-data handling). State is keyed by (window, key):
    * partition-scalable, expired by the watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"))

  /** Sliding-window event-time counts: each event lands in len/slide
    * overlapping windows. Same watermarked state shape as [[windowedCounts]];
    * state size multiplies by the overlap factor, not the stream length. */
  def slidingCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "2 hours",
      slide: String = "1 hour",
      watermark: String = "4 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"))

  /** Session-window event-time counts: per key, events within `gap` of the
    * previous event share a session (gaps-and-islands). Works on batch and
    * streaming frames — Spark's session_window merges partial sessions under
    * the watermark; state is bounded by open sessions per key. */
  def sessionCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(events.withWatermark(tsCol, _))
    src
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"), col(keyCol), col("n"))
  }

  /** Streaming exact dedup by content fingerprint — the ingest-time
    * counterpart of [[graft.operators.Dedup.exact]]: the first arrival of
    * each distinct content passes, later duplicates are dropped. State is
    * keyed by the 16-byte md5 (the text itself never enters the state
    * store) and BOUNDED by the watermark: a duplicate arriving later than
    * `delay` after its original may pass again, in exchange for state that
    * holds only the recent window — the standard trade for unbounded
    * streams (an unbounded-state variant is one `dropDuplicates` away). */
  def dedupExact(
      docs: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text"): DataFrame = {
    val fp = "__graft_fp"
    docs
      .withColumn(fp, md5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** Streaming span (C4-style) dedup — the ingest-time counterpart of
    * [[graft.operators.Dedup.firstOccurrence]] over
    * [[graft.operators.Curation.chunkDocuments]] chunks: each arriving
    * document is chunked into `maxTokens`-token spans, and only the FIRST
    * arrival of each distinct span passes; a span seen before (anywhere in
    * the stream, any document) is dropped at ingest. Output rows are the
    * surviving chunks `(idCol, tsCol, chunk_idx, chunk, n_tokens)` — ready
    * for a downstream packer.
    *
    * Same state discipline as [[dedupExact]]: keyed by the span's 16-byte
    * md5 (span text never enters the state store — state volume is
    * 16 bytes x distinct spans in the window, independent of span length)
    * and BOUNDED by the watermark: a duplicate span arriving later than
    * `delay` after its original may pass again, the standard trade for
    * unbounded crawls. On an in-order stream this equals the batch
    * `firstOccurrence(chunks, md5(chunk), orderBy arrival)` result
    * (parity + restart spec-pinned); null/empty text follows the batch
    * convention (one empty chunk, deduped like any other span). */
  def dedupSpans(
      docs: DataFrame,
      tsCol: String,
      delay: String,
      maxTokens: Int,
      overlap: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fp = "__graft_fp"
    graft.operators.Curation
      .chunkDocuments(docs, maxTokens, overlap, idCol, textCol, carryCols = Seq(tsCol))
      .withColumn(fp, md5(col("chunk")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** CHAINED MULTI-STATEFUL streaming: content dedup THEN a tumbling
    * event-time count in ONE streaming query — the production ingest
    * shape (dedup the crawl, then meter what survived per key per hour)
    * that the reference's 2-op chain (`RainStorm.java:842-979` submits
    * op1 -> op2 as one job, `Node.java:1106-1160`) expresses for its
    * batch ops, upgraded to two WATERMARKED state stores back to back.
    * Spark runs both stateful operators in one plan (supported
    * stateful-after-stateful combination in Append mode since the
    * multiple-stateful-operator work): the dedup store holds one
    * 16-byte md5 per distinct content inside the watermark delay, the
    * window store one count per open (window, key) — both bounded,
    * both checkpointed, one restart domain.
    *
    * The single `withWatermark(tsCol, delay)` upstream governs BOTH
    * stores: duplicates later than `delay` after their original may
    * pass again, and a window flushes once the watermark passes its
    * end. Output = finalized (w_start, keyCol, n) rows over the
    * SURVIVING (first-arrival) documents. */
  def dedupThenWindowCounts(
      docs: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String = "text",
      keyCol: String = "source",
      windowLen: String = "1 hour"): DataFrame = {
    val fp = "__graft_fp"
    docs
      .withColumn(fp, md5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fp)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"))
  }

  /** Event-time micros of a `ts` value: TimestampType (java.sql.Timestamp
    * or java.time.Instant, per spark.sql.datetime.java8API.enabled) or a
    * bigint already in micros. */
  private def micros(ts: Any): Long = ts match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
    case l: Long => l
    case other => throw new IllegalArgumentException(s"unsupported ts type: $other")
  }

  /** Nulls-first comparison of two external-row values of one orderable
    * type — so streaming tie columns accept whatever the batch twins
    * ([[graft.operators.TimeSeries.patternTopK]],
    * [[graft.operators.History.cdcLatest]]) order: int, bigint, string,
    * timestamp — typed compares, never stringified ("10" < "9" would
    * diverge from the batch plan on same-ts ties). */
  private def cmpOrderable(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case (x, _) => throw new IllegalArgumentException(
      s"tie column value of unorderable type ${x.getClass.getName}")
  }

  /** The per-key `flatMapGroupsWithState` scaffold of the keyed stateful
    * operators. Rows group by the key column's VALUE, string-encoded as
    * `"1:" + value`, null as `"0"` (a hash would collide two keys onto one
    * state; the prefix keeps a null key apart from the string "null").
    * `f` gets the key's prior state and its micro-batch rows and returns
    * the new state plus the rows to emit; the state is updated before the
    * rows are handed on.
    *
    * `idle = Some((timeout, lastTs))` bounds an unbounded key universe:
    * EVENT-time timeout (the input needs `withWatermark(tsCol, …)`
    * upstream), deadline = `lastTs(state)` (micros) + timeout, clamped
    * above the current watermark — the engine rejects a deadline at or
    * behind it, and a key whose newest event already trails the idle
    * window then expires at the next watermark move. An expired key's
    * state is removed and emits nothing; a returning key starts from the
    * initial state. Event time, not wall clock, keeps replay
    * deterministic, and a processing-time timeout would make the engine
    * schedule batches forever (`shouldRunAnotherBatch` is unconditionally
    * true for it), wedging `processAllAvailable()`-style quiescence.
    * `None` keeps state forever (NoTimeout).
    *
    * The key encoding, each state class and each operator's timeout mode
    * are the checkpoint format: changing any of them breaks restart from
    * an existing checkpoint. */
  private def keyedState[S](
      df: DataFrame,
      keyCol: String,
      stateEnc: Encoder[S],
      outSchema: StructType,
      idle: Option[(String, S => Long)] = None)(
      f: (Option[S], Iterator[Row]) => (S, Iterator[Row])): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val deadline = idle.map { case (timeout, lastTs) =>
      (graft.ops.Intervals.subDayMicros(timeout) / 1000L, lastTs)
    }
    val timeoutConf =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    df.groupByKey { r: Row =>
        if (r.isNullAt(keyIdx)) "0" else "1:" + r.get(keyIdx)
      }(Encoders.STRING)
      .flatMapGroupsWithState[S, Row](OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (st, out) = f(state.getOption, rows)
            state.update(st)
            deadline.foreach { case (idleMillis, lastTs) =>
              state.setTimeoutTimestamp(math.max(lastTs(st) / 1000L + idleMillis,
                state.getCurrentWatermarkMs() + 1L))
            }
            out
          }
      }(stateEnc, Encoders.row(outSchema))
  }

  /** A row with its event time computed once. */
  private final class Event(val us: Long, val row: Row)

  /** [[keyedState]] as an in-order scan: each key's micro-batch slice is
    * sorted by `(micros(tsCol), tieCols…)` — ties typed and nulls first
    * ([[cmpOrderable]]), the batch twins' `orderBy` — and `step` folds
    * the events in that order from the prior state (`init` for a new
    * key), emitting through its last argument. The sort is stable, so
    * rows tied on every sort column keep arrival order. Ordering is
    * WITHIN a micro-batch only: across batches the state is monotone, so
    * a later batch's event with an earlier timestamp is processed against
    * state already advanced past it (emitted rows are never retracted).
    * Each operator's result therefore equals its batch twin's under
    * per-key in-order arrival across batches (file replay, per-key
    * ordered Kafka partitions — the CDC-shaped assumption of every
    * last-value state); filter late arrivals upstream when that matters. */
  private def keyedScan[S](
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCols: Seq[String],
      stateEnc: Encoder[S],
      outSchema: StructType,
      idle: Option[(String, S => Long)] = None)(
      init: S)(
      step: (S, Row, Long, Row => Unit) => S): DataFrame = {
    val tsIdx = df.schema.fieldIndex(tsCol)
    val tieIdxs = tieCols.map(df.schema.fieldIndex).toArray
    val order: Ordering[Event] = (a: Event, b: Event) => {
      var c = java.lang.Long.compare(a.us, b.us)
      var i = 0
      while (c == 0 && i < tieIdxs.length) {
        c = cmpOrderable(a.row.get(tieIdxs(i)), b.row.get(tieIdxs(i)))
        i += 1
      }
      c
    }
    keyedState(df, keyCol, stateEnc, outSchema, idle) { (prior, rows) =>
      val events = rows.map(r => new Event(micros(r.get(tsIdx)), r)).toArray
      java.util.Arrays.sort(events, order) // TimSort: stable
      val out = Vector.newBuilder[Row]
      val emit: Row => Unit = out += _
      var st = prior.getOrElse(init)
      events.foreach(e => st = step(st, e.row, e.us, emit))
      (st, out.result().iterator)
    }
  }

  /** State for the streaming sessionizer: the user's last-seen event time
    * (epoch micros) and current session ordinal. */
  final case class SessionState(lastTs: Long, idx: Long)

  /** Last-event memory for the streaming transition matrix: micros + type
    * of the user's most recent event ("has" distinguishes the empty state
    * from a real event — an Option would break the product encoder's flat
    * (long, string) slot). */
  final case class TransitionState(lastTs: Long, lastType: String, has: Boolean)

  /** Streaming form of [[graft.operators.Funnel.transitions]]: per-user
    * consecutive event pairs emitted AS THE STREAM ARRIVES — one
    * (user, from_type, to_type) row per transition, ready for any
    * downstream aggregation (the count/probability rollup is one batch agg
    * or windowed streaming agg away). O(1) state per user: (last ts, last
    * type). Events are scanned in (ts, `orderCols`) order per
    * [[keyedScan]]. `maxGap` drops pairs further apart than the gap, same
    * semantics as batch. `idleTimeout` frees the state of idle users
    * ([[keyedState]]); a returning user's first event emits no pair (the
    * empty-state behavior — and with `maxGap` ≤ `idleTimeout` no VALID
    * pair is ever lost, since any pair the timeout could suppress is
    * already beyond the gap). */
  def transitions(
      df: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      orderCols: Seq[String] = Seq("event_id"),
      maxGap: Option[String] = None,
      idleTimeout: Option[String] = None): DataFrame = {
    val gapMicros = maxGap.map(graft.ops.Intervals.subDayMicros)
    val userIdx = df.schema.fieldIndex(userCol)
    val typeIdx = df.schema.fieldIndex(typeCol)
    val outSchema = StructType(Seq(df.schema(userCol),
      StructField("from_type", StringType), StructField("to_type", StringType)))
    keyedScan(df, userCol, tsCol, orderCols, Encoders.product[TransitionState], outSchema,
        idleTimeout.map(_ -> ((s: TransitionState) => s.lastTs)))(
        TransitionState(Long.MinValue, "", has = false)) { (st, r, t, emit) =>
      val tp = r.get(typeIdx) match { case null => null; case v => v.toString }
      if (st.has && gapMicros.forall(g => t - st.lastTs <= g))
        emit(Row(r.get(userIdx), st.lastType, tp))
      TransitionState(t, tp, has = true)
    }
  }

  /** Rolling (n−1)-type tail for the streaming sequence emitter. */
  final case class SeqTailState(tail: Seq[String])

  /** Streaming form of [[graft.operators.Funnel.sequencePatterns]]' gram
    * generation: per user, every arriving event completes the contiguous
    * n-gram ending at it (the last n−1 types ride in keyed state), and
    * the gram row (user, t0…t{n−1}) emits AS THE STREAM ARRIVES — the
    * support/occurrence rollup is one batch agg or windowed streaming
    * agg downstream, exactly the [[transitions]] contract generalized
    * from pairs to n-grams, in the same (ts, `orderCols`) scan order.
    * State is n−1 strings per user, kept forever (no idle timeout). */
  def sequences(
      df: DataFrame,
      n: Int = 3,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      orderCols: Seq[String] = Seq("event_id")): DataFrame = {
    require(n >= 2, s"n must be >= 2: $n")
    val userIdx = df.schema.fieldIndex(userCol)
    val typeIdx = df.schema.fieldIndex(typeCol)
    val outSchema = StructType(df.schema(userCol) +:
      (0 until n).map(i => StructField(s"t$i", StringType)))
    keyedScan(df, userCol, tsCol, orderCols, Encoders.product[SeqTailState], outSchema)(
        SeqTailState(Seq.empty)) { (st, r, _, emit) =>
      val tp = r.get(typeIdx) match { case null => null; case v => v.toString }
      if (st.tail.size == n - 1)
        emit(Row.fromSeq(r.get(userIdx) +: (st.tail :+ tp)))
      SeqTailState((st.tail :+ tp).takeRight(n - 1))
    }
  }

  /** Streaming gap-based sessionization — the labeling counterpart of
    * [[graft.operators.Funnel.sessionize]] (and of [[sessionCounts]], which
    * aggregates): every event gains the user's current session ordinal,
    * carried across micro-batches in keyed state, events scanned in
    * event-time order per [[keyedScan]] — with in-order sources the labels
    * equal the batch operator's. State is one (long, long) per user;
    * `idleTimeout` drops idle users ([[keyedState]]). Choose it ≫ the gap:
    * a dropped user who returns restarts at session_idx 0 (labels stay
    * per-session consistent; only the ordinal resets — the trade every
    * bounded-state sessionizer makes). */
  def sessionize(
      df: DataFrame,
      gap: String = "30 minutes",
      userCol: String = "user_id",
      tsCol: String = "ts",
      outputCol: String = "session_idx",
      idleTimeout: Option[String] = None): DataFrame = {
    val gapMicros = graft.ops.Intervals.subDayMicros(gap)
    val outSchema: StructType = df.schema.add(outputCol, LongType, nullable = false)
    keyedScan(df, userCol, tsCol, Nil, Encoders.product[SessionState], outSchema,
        idleTimeout.map(_ -> ((s: SessionState) => s.lastTs)))(
        SessionState(Long.MinValue, 0L)) { (st, r, t, emit) =>
      val next =
        if (st.lastTs != Long.MinValue && t - st.lastTs > gapMicros) SessionState(t, st.idx + 1)
        else SessionState(math.max(st.lastTs, t), st.idx)
      emit(Row.fromSeq(r.toSeq :+ next.idx))
      next
    }
  }

  /** Streaming TRAINING-SHARD delivery: every micro-batch lands through
    * [[graft.sources.Sinks.exportShardedJsonl]]'s incremental mode — at
    * most one new JSONL file per touched `shard=` dir per batch, shard
    * membership a pure function of the row id under the FIXED `nShards`
    * (identical to what one batch export of the whole stream would
    * assign). The continuous form of the export a trainer's loader
    * tails.
    *
    * Delivery contract: foreachBatch re-runs a failed batch, and a blind
    * append is not idempotent — so this sink is AT-LEAST-ONCE on crash
    * (the reference's own delivery level for its results log, SURVEY
    * §1.4); the deterministic row ids make downstream dedup trivial
    * (`dropDuplicates(idCol)` at read, or [[graft.operators.Dedup]]).
    * Exactly-once file delivery is [[startFileSink]]'s parquet path. */
  def startShardedJsonlSink(
      df: DataFrame,
      outDir: String,
      idCol: String,
      nShards: Int,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // maxShardBytes is unused under fixedShards; 1 satisfies the guard
        graft.sources.Sinks.exportShardedJsonl(batch.toDF(), outDir, idCol,
          maxShardBytes = 1L, fixedShards = Some(nShards), append = true)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Stream-static micro-batch SCORING sink: apply a full batch relation
    * (`score` — aggregations, joins, window shapes the incremental
    * engine's output-mode rules disallow inside one streaming plan) to
    * EACH arriving micro-batch and append the scored rows as parquet.
    * Semantically exact whenever a row's score depends only on its own
    * micro-batch plus STATIC state (every input row arrives in exactly
    * one batch) — the standard production shape for ingest-time
    * corpus-relative scoring (bigram rarity, drift z-scores) whose
    * per-doc aggregation would otherwise force update mode and lose the
    * file sink.
    *
    * Delivery is EXACTLY-ONCE: each micro-batch lands in its own
    * `_batch_id=<id>` partition via dynamic partition overwrite, so a
    * foreachBatch re-run of a failed batch REPLACES its partition
    * instead of double-appending (the idempotent-writer half of the
    * checkpoint contract — same discipline as
    * [[graft.sources.Sinks.compact]]'s marker). Readers see `_batch_id`
    * as an extra partition column; drop it if batch provenance is not
    * wanted. */
  def startScoredParquetSink(
      df: DataFrame,
      score: DataFrame => DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        writeScoredBatch(batch.toDF(), score, outDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The idempotent per-batch writer behind [[startScoredParquetSink]]:
    * scores one micro-batch and overwrites ONLY the `_batch_id=<id>`
    * partition (the write's own dynamic partitionOverwriteMode option,
    * which takes precedence over the session conf). Calling it twice with
    * the same batchId — the crash-replay case — leaves exactly one copy
    * of the batch's rows. */
  private[graft] def writeScoredBatch(
      batch: DataFrame,
      score: DataFrame => DataFrame,
      outDir: String,
      batchId: Long): Unit =
    score(batch)
      .withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id").parquet(outDir)

  /** Results sink: append files + checkpoint — the analog of the reference's
    * job<k>_results.log with exactly-once instead of at-least-once. */
  def startFileSink(
      df: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()

  /** Ring of the last `window` CLOSED hour buckets per key, plus the
    * currently-accumulating open bucket. Parallel Seq[Long]s rather than a
    * Seq of pairs keep the product encoder's state-store schema flat. */
  final case class AnomalyState(
      openBucket: Long, openN: Long, hasOpen: Boolean,
      ringBuckets: Seq[Long], ringNs: Seq[Long])

  /** Streaming form of [[graft.operators.EventSignals.anomalyBuckets]]:
    * per-(key, hour) counts flagged against the trailing `window` closed
    * buckets AS THE STREAM ARRIVES. A bucket is emitted when the first
    * event of a LATER bucket for that key arrives (that closes it — the
    * stream-native completion signal, no watermark clock needed); the
    * still-open final bucket is never emitted, which is exactly the batch
    * operator's output minus each key's last bucket (parity spec-pinned).
    * The flag is the same cross-multiplied integer inequality — no float
    * anywhere, so streaming and batch flags agree bit-for-bit.
    *
    * State is O(window) longs per key — two parallel rings plus the open
    * bucket — independent of event volume. Events are scanned in ts order
    * per [[keyedScan]]; an event for an already-closed bucket is
    * DROPPED (documented, counted nowhere) rather than silently
    * corrupting a published flag — production ingest would add a
    * watermark + delayed close for bounded lateness. */
  def anomalyFlags(
      events: DataFrame,
      window: Int = 24,
      sigmas: Int = 2,
      keyCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(sigmas >= 1, s"sigmas must be >= 1: $sigmas")
    val keyIdx = events.schema.fieldIndex(keyCol)
    val outSchema = StructType(Seq(events.schema(keyCol),
      StructField("bucket_us", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("s_prev", LongType, nullable = false),
      StructField("ss_prev", LongType, nullable = false),
      StructField("w_prev", LongType, nullable = false),
      StructField("is_anomaly", BooleanType, nullable = false)))
    val hourUs = 3600000000L
    keyedScan(events, keyCol, tsCol, Nil, Encoders.product[AnomalyState], outSchema)(
        AnomalyState(0L, 0L, hasOpen = false, Vector.empty, Vector.empty)) { (st, r, t, emit) =>
      val b = t - java.lang.Math.floorMod(t, hourUs)
      if (!st.hasOpen) {
        // a late event for an already-closed bucket is dropped (see
        // scaladoc); "closed" = at or before the newest ring bucket
        if (st.ringBuckets.isEmpty || b > st.ringBuckets.last)
          st.copy(openBucket = b, openN = 1L, hasOpen = true)
        else st
      } else if (b == st.openBucket) {
        st.copy(openN = st.openN + 1L)
      } else if (b > st.openBucket) {
        // close the open bucket: flag it against the ring, batch-identically
        val w = st.ringNs.length.toLong
        val s = st.ringNs.sum
        val ss = st.ringNs.map(x => x * x).sum
        val dev = window * st.openN - s
        val flag = w == window &&
          dev * dev * (window - 1L) >
            sigmas.toLong * sigmas * window * (window * ss - s * s)
        emit(Row(r.get(keyIdx), st.openBucket, st.openN, s, ss, w, flag))
        AnomalyState(b, 1L, hasOpen = true,
          (st.ringBuckets :+ st.openBucket).takeRight(window),
          (st.ringNs :+ st.openN).takeRight(window))
      } else st // b < openBucket: late, dropped
    }
  }

  /** STREAM-STREAM interval join — the two-live-streams shape
    * (click-stream × purchase-stream attribution, impression × conversion)
    * that the zero-state stream-STATIC as-of cannot cover: both sides
    * arrive unbounded, so Spark buffers each side's recent rows in state
    * and the interval condition + watermarks bound that state (rows older
    * than `watermark` + `within` are evicted — without the time bound the
    * state would grow forever and Spark rejects the plan in Append mode).
    *
    * Each left row joins right rows with the same `keyCols` whose
    * `rightTs` lies in [leftTs − within, leftTs] — the "preceding touch
    * within the window" semantics. Inner join: emission can wait for the
    * watermark to pass (late-data correctness over latency, Spark's
    * documented behavior). State is keyed by join key — the same per-key
    * hot-spot caveat as every keyed stateful op.
    *
    * `joinType = "left_outer"` adds the null-emission-on-watermark
    * surface production attribution needs (every purchase row emits,
    * matched or not): an unmatched left row is held in state until the
    * watermark proves no qualifying right row can still arrive, then
    * emits once with null right columns — which is why outer REQUIRES
    * the time-bound condition (Spark rejects an unbounded outer
    * stream-stream join: the null decision would never be safe).
    * `"right_outer"` is the mirror; `"full_outer"` emits BOTH sides'
    * unmatched rows — the reconciliation shape ("which purchases had no
    * touch, and which touches converted nothing"). For the outer forms
    * the key columns are COALESCED across sides, so an unmatched row
    * from either side keeps its join key.
    *
    * `"left_semi"` is the EXISTENCE form — "did a qualifying click
    * precede this purchase" WITHOUT carrying the click columns: each
    * left row emits AT MOST ONCE (when its first in-window match
    * arrives; never with nulls), and the output schema is the left
    * side's alone. Same watermark + time-bound state discipline as
    * inner — matched-side buffering is bounded by `watermark + within`
    * — but downstream sees a deduplicated attribution flag rather than
    * a fan-out of (purchase × touch) pairs. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      within: String,
      watermark: String,
      joinType: String = "inner"): DataFrame = {
    require(keyCols.nonEmpty, "need at least one join key")
    require(
      Set("inner", "left_outer", "right_outer", "full_outer", "left_semi")(
        joinType),
      s"joinType must be inner/left_outer/right_outer/full_outer/left_semi: " +
        joinType)
    val l = left.withWatermark(leftTs, watermark)
    val r0 = right.withWatermark(rightTs, watermark)
    // disambiguate overlapping column names on the right side
    val overlap = (left.columns.toSet intersect right.columns.toSet) -- keyCols
    val r = overlap.foldLeft(r0)((d, c) => d.withColumnRenamed(c, "r_" + c))
    val rTs = if (overlap.contains(rightTs)) "r_" + rightTs else rightTs
    val cond = keyCols.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
      r(rTs) <= l(leftTs)
    val joined = l.join(r, cond, joinType)
    // semi output carries ONLY left columns — nothing to drop or coalesce
    if (joinType == "left_semi") joined
    // inner/left keep the left key; the right-null-emitting forms need a
    // coalesce or an unmatched right row loses its key
    else if (joinType == "right_outer" || joinType == "full_outer")
      keyCols.foldLeft(joined)((d, k) =>
        d.withColumn(s"__k_$k", coalesce(l(k), r(k)))
          .drop(l(k)).drop(r(k)).withColumnRenamed(s"__k_$k", k))
    else
      keyCols.foldLeft(joined)((d, k) => d.drop(r(k)))
  }

  /** Streaming OHLC bars — the watermarked windowed twin of
    * [[graft.operators.EventSignals.ohlcBars]]: one bar per (key, hour),
    * emitted when the watermark closes the window (Append — bars are
    * immutable once emitted, the property a downstream metrics store
    * wants). Identical aggregate shape to the batch operator: min_by /
    * max_by on the (ts, tie) struct merge as PARTIAL aggregates, so
    * streaming state per open bar is one candidate row — never the
    * events — and volume cents stay exact integers. */
  def ohlcBars(
      events: DataFrame,
      delay: String = "2 hours",
      keyCol: String = "event_type",
      tsCol: String = "ts",
      valueCol: String = "value",
      tieCol: String = "event_id"): DataFrame = {
    val ord = struct(col(tsCol), col(tieCol))
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), "1 hour"), col(keyCol))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        sum(round(col(valueCol) * lit(100)).cast("long")).as("volume_cents"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), unix_micros(col("window.start")).as("bucket_us"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume_cents"), col("n_events"))
  }

  /** Streaming subsequence pattern match — the ingest-time twin of
    * [[graft.operators.TimeSeries.patternTopK]]: per key, a rolling
    * buffer of the last `pattern.length − 1` values rides in keyed state;
    * every arriving event completes a window, its z-normalized euclidean
    * distance to the pattern is computed IN ARRIVAL ORDER with exactly
    * the batch operator's fold order (same IEEE steps ⇒ identical
    * distances, parity spec-pinned), and windows at or under `threshold`
    * are emitted as they happen — the live motif/anomaly-shape alarm.
    * Events are scanned in (ts, `tieCol`) order per [[keyedScan]].
    *
    * State is w−1 doubles per key — bounded by the PATTERN, not the
    * stream. Threshold-emit (not top-k): a global top-k is not
    * well-defined over an unbounded stream; rank downstream per window
    * of interest. */
  def patternMatch(
      events: DataFrame,
      pattern: Array[Double],
      threshold: Double,
      znorm: Boolean = true,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      tieCol: String = "event_id"): DataFrame = {
    val w = pattern.length
    require(w >= 2, s"pattern must have >= 2 points: $w")
    val q: Array[Double] =
      if (!znorm) pattern
      else {
        var mu = 0.0; pattern.foreach(mu += _); mu /= w
        var sv = 0.0; pattern.foreach(x => sv += (x - mu) * (x - mu))
        val sd = math.sqrt(sv / w)
        if (sd == 0.0) Array.fill(w)(0.0) else pattern.map(x => (x - mu) / sd)
      }
    val keyIdx = events.schema.fieldIndex(keyCol)
    val vIdx = events.schema.fieldIndex(valueCol)
    val outSchema = StructType(Seq(events.schema(keyCol),
      StructField("end_ts_us", LongType), StructField("dist", DoubleType)))
    // the batch operator's exact arithmetic, in the same order: left-fold
    // sums, mean/std divisions, zero-variance -> all-zero window
    def dist(win: Array[Double]): Double = {
      val z =
        if (!znorm) win
        else {
          var mu = 0.0; win.foreach(mu += _); mu /= w
          var sv = 0.0; win.foreach(x => sv += (x - mu) * (x - mu))
          val sd = math.sqrt(sv / w)
          if (sd == 0.0) Array.fill(w)(0.0) else win.map(x => (x - mu) / sd)
        }
      var d = 0.0
      var i = 0
      while (i < w) { val t = z(i) - q(i); d += t * t; i += 1 }
      d
    }
    keyedScan(events, keyCol, tsCol, Seq(tieCol), Encoders.product[PatternState], outSchema)(
        PatternState(Seq.empty)) { (st, r, t, emit) =>
      val v = r.get(vIdx) match {
        case null => Double.NaN
        case n: java.lang.Number => n.doubleValue()
      }
      val win = st.values :+ v
      if (win.length == w) {
        val d = dist(win.toArray)
        if (d <= threshold) emit(Row(r.get(keyIdx), t, d))
      }
      PatternState(win.takeRight(w - 1))
    }
  }

  final case class PatternState(values: Seq[Double])

  /** Streaming CDC latest-state view — the ingest-time counterpart of
    * [[graft.operators.History.cdcLatest]]: keyed state holds each key's
    * newest (by `(tsCol, tieCol)`) changelog row, and each micro-batch
    * emits ONE row per key whose winning state CHANGED in that batch — an
    * append-mode changelog OF THE VIEW (`op = deleteOp` rows are the
    * tombstone notifications a downstream sink turns into deletes). A
    * batch that only adds STALE rows for a key (older than its current
    * winner) emits nothing: the view did not change. `n_ops` counts every
    * log row ever seen for the key; on an in-order stream every batch
    * touching a key also advances its winner, so the key's LAST emission
    * carries the full count and (filtered of tombstones) the final
    * emissions equal the batch operator's output — parity spec-pinned.
    *
    * State is one small fixed-shape row per key: (order_us, tie, op,
    * payload, n_ops) — payload only, never the log, kept forever: state
    * is the VIEW itself, so an idle timeout would forget a key's current
    * value (only safe above a compacting sink). Grouping and state are
    * [[keyedState]]'s; there is no per-key sort. */
  def cdcLatestStream(
      df: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      opCol: String = "op",
      deleteOp: String = "D",
      payloadCols: Seq[String] = Seq("value")): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val tsIdx = df.schema.fieldIndex(tsCol)
    val tieIdx = df.schema.fieldIndex(tieCol)
    val opIdx = df.schema.fieldIndex(opCol)
    val payIdxs = payloadCols.map(df.schema.fieldIndex)
    val stateSchema = StructType(Seq(
      StructField("order_us", LongType),
      // tie keeps the INPUT column's type so any orderable tie column
      // works, exactly as in the batch twin's max_by
      StructField("tie", df.schema(tieCol).dataType),
      StructField("op", StringType),
      StructField("payload", StructType(payloadCols.map(c => df.schema(c)))),
      StructField("n_ops", LongType)))
    val outSchema = StructType(
      df.schema(keyCol) +: StructField("op", StringType) +:
        payloadCols.map(df.schema(_)) :+ StructField("n_ops", LongType))
    keyedState(df, keyCol, Encoders.row(stateSchema), outSchema) { (prior, rows) =>
      var winUs = prior.map(_.getLong(0)).getOrElse(Long.MinValue)
      var winTie: Any = prior.map(_.get(1)).orNull
      var winOp = prior.map(_.getString(2)).orNull
      var winPay = prior.map(_.getStruct(3)).orNull
      var nOps = prior.map(_.getLong(4)).getOrElse(0L)
      var keyVal: Any = null
      var changed = false
      rows.foreach { r =>
        nOps += 1
        keyVal = r.get(keyIdx)
        val us = micros(r.get(tsIdx))
        val tie = r.get(tieIdx)
        // strict (order_us, tie) max — arrival order within the
        // batch is irrelevant, matching the batch max_by
        if (us > winUs || (us == winUs && cmpOrderable(tie, winTie) > 0)) {
          winUs = us; winTie = tie
          winOp = r.get(opIdx) match { case null => null; case v => v.toString }
          winPay = Row(payIdxs.map(r.get): _*)
          changed = true
        }
      }
      (Row(winUs, winTie, winOp, winPay, nOps),
        if (changed) Iterator.single(Row(keyVal +: winOp +: winPay.toSeq :+ nOps: _*))
        else Iterator.empty)
    }
  }
}
