package graft

import graft.streaming.StreamingPipeline
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The per-key stateful operators' checkpoint format and their shared
  * keyed-state scaffold. A checkpoint restarts only if the state store's
  * key and value schemas are unchanged, so each operator's schemas are
  * pinned here as literals, read back from a real checkpoint with Spark's
  * built-in state reader (`format("statestore")`). */
class KeyedStateSpec extends AnyFunSuite with SparkSpec {

  private def st(fields: StructField*) = StructType(fields)
  private def f(name: String, t: DataType, nullable: Boolean = true) =
    StructField(name, t, nullable)
  private def groupState(fields: StructField*) = st(f("groupState", st(fields: _*)))
  private val timeout = f("timeoutTimestamp", LongType, nullable = false)

  private val stringKey = st(f("value", StringType))
  private val transitionState = Seq(f("lastTs", LongType, nullable = false),
    f("lastType", StringType), f("has", BooleanType, nullable = false))
  private val sessionState = Seq(f("lastTs", LongType, nullable = false),
    f("idx", LongType, nullable = false))

  /** (operator, run it, expected value schema); every key is the string key. */
  private val layouts: Seq[(String, DataFrame => DataFrame, StructType)] = Seq(
    ("transitions", StreamingPipeline.transitions(_),
      groupState(transitionState: _*)),
    ("transitions(idleTimeout)", df => StreamingPipeline.transitions(
      df.withWatermark("ts", "1 hour"), idleTimeout = Some("45 minutes")),
      st(f("groupState", st(transitionState: _*)), timeout)),
    ("sequences", StreamingPipeline.sequences(_, n = 3),
      groupState(f("tail", ArrayType(StringType, containsNull = true)))),
    ("sessionize", StreamingPipeline.sessionize(_),
      groupState(sessionState: _*)),
    ("sessionize(idleTimeout)", df => StreamingPipeline.sessionize(
      df.withWatermark("ts", "1 hour"), idleTimeout = Some("2 hours")),
      st(f("groupState", st(sessionState: _*)), timeout)),
    ("anomalyFlags", StreamingPipeline.anomalyFlags(_),
      groupState(f("openBucket", LongType, nullable = false),
        f("openN", LongType, nullable = false),
        f("hasOpen", BooleanType, nullable = false),
        f("ringBuckets", ArrayType(LongType, containsNull = false)),
        f("ringNs", ArrayType(LongType, containsNull = false)))),
    ("patternMatch", StreamingPipeline.patternMatch(_, Array(0.0, 1.0, 2.0), 10.0),
      groupState(f("values", ArrayType(DoubleType, containsNull = false)))),
    ("cdcLatestStream", StreamingPipeline.cdcLatestStream(_),
      groupState(f("order_us", LongType), f("tie", LongType), f("op", StringType),
        f("payload", st(f("value", DoubleType, nullable = false))),
        f("n_ops", LongType))))

  layouts.foreach { case (name, op, value) =>
    test(s"$name: checkpointed state layout is unchanged") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      val mem = MemoryStream[(Long, String, Timestamp, Long, Double, String)]
      val ckpt = Files.createTempDirectory("graft_layout_ckpt").toString
      val q = op(mem.toDF().toDF("user_id", "event_type", "ts", "event_id", "value", "op"))
        .writeStream.format("noop").option("checkpointLocation", ckpt).start()
      try {
        mem.addData((1L, "view", t(1), 1L, 1.0, "U"), (1L, "click", t(2), 2L, 2.0, "U"),
          (2L, "view", t(3), 3L, 3.0, "D"))
        q.processAllAvailable()
      } finally q.stop()
      val store = spark.read.format("statestore").load(ckpt)
      assert(store.count() == 2L, "one state row per key")
      val key = store.schema("key").dataType
      val got = store.schema("value").dataType
      assert(key == stringKey, s"key schema changed: ${key.json}")
      assert(got == value, s"value schema changed: ${got.json}")
    }
  }

  test("StreamingPipeline: one ts->micros conversion, flatMapGroupsWithState only in the keyed helper and the running aggregates") {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/streaming/StreamingPipeline.scala")).asScala
    val code = lines.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
    def count(s: String) = code.count(_.contains(s))
    assert(count("DateTimeUtils.fromJavaTimestamp") == 1)
    assert(count("DateTimeUtils.instantToMicros") == 1)
    assert(count("\"1:\" +") == 1, "one null-safe string key")
    // the object-level def (two-space indent) enclosing each call
    val memberDef = """^  (?:private )?def (\w+)""".r
    var owner = ""
    val owners = lines.flatMap { l =>
      memberDef.findFirstMatchIn(l).foreach(m => owner = m.group(1))
      val t = l.trim
      if (!t.startsWith("*") && !t.startsWith("//") && t.contains(".flatMapGroupsWithState"))
        Some(owner)
      else None
    }
    assert(owners.sorted == Seq("keyedState", "runningAgg", "runningCount"),
      "a per-key stateful operator must reuse keyedState/keyedScan")
  }
}
