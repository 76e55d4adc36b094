package graft.tools

import graft.SparkEntry
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** RocksDB state-store evidence (SCALE.md): the three per-KEY stateful
  * drains (sessionize, transitions, cdcLatestStream — the ones whose state
  * grows with the key universe, where 10⁹ keys is RocksDB territory) run
  * under `RocksDBStateStoreProvider` at sf1, reporting the last batch's
  * state rows/bytes; then a PARITY check replays the sessionize and
  * transitions HASH GATES (4 in-order micro-batch segments through the
  * real state machinery) under the provider at sf0.01 and diffs the sink
  * against the batch twin — the claim "swap the provider, same answers"
  * as an execution, not a sentence.
  *   runMain graft.tools.RocksDbStateProbe [sf1Dir] [parityDir]
  */
object RocksDbStateProbe {
  def main(args: Array[String]): Unit = {
    val sf1 = args.headOption.getOrElse("/root/repo/.bench-data/sf1")
    val paritySf = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.fromEnv("graft-rocksdb-probe")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // ---- state size at sf1 under RocksDB (per-key drains) ----
    def asDir(table: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_rdb_$table")
      java.nio.file.Files.createSymbolicLink(
        d.resolve(s"$table.parquet"), java.nio.file.Paths.get(s"$sf1/$table.parquet"))
      d.toString
    }
    val evPath = asDir("events")
    val evSchema = spark.read.parquet(evPath).schema
    def ev = {
      val e = spark.readStream.schema(evSchema).parquet(evPath)
      if (evSchema("ts").dataType == LongType)
        e.withColumn("ts", expr("timestamp_micros(ts DIV 1000)")) else e
    }
    def drain(name: String)(df: DataFrame): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rdb_ckpt").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val t0 = System.nanoTime()
        val q = df.writeStream.format("noop").outputMode(OutputMode.Append)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val last = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        val (rows, bytes, ops) = last.map { p =>
          (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum,
            p.stateOperators.map(_.operatorName).mkString("+"))
        }.getOrElse((0L, 0L, "none"))
        println(f"[rocksdb] $sf1%-26s $name%-13s state_rows=$rows%-9d state_bytes=$bytes%-11d wall=$wall%.1fs ops=$ops")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    drain("sessionize")(StreamingPipeline.sessionize(ev, gap = "30 minutes"))
    drain("transitions")(StreamingPipeline.transitions(ev))
    drain("cdc")(StreamingPipeline.cdcLatestStream(ev.select(col("user_id"),
      when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("value"), col("ts"), col("event_id"))))

    // ---- parity: the hash-gate replays under RocksDB == batch twins ----
    def parity(gate: String, batch: String): Unit = {
      val g = SparkEntry.queries(gate)(spark, paritySf)
      val b = SparkEntry.queries(batch)(spark, paritySf)
      val extra = g.exceptAll(b).count()
      val missing = b.exceptAll(g).count()
      val n = b.count()
      println(s"[rocksdb] parity $gate vs $batch: rows=$n extra=$extra missing=$missing " +
        (if (extra == 0 && missing == 0) "OK" else "MISMATCH"))
    }
    parity("q_stream_sessionize_gate", "q_sessionize")
    parity("q_stream_transitions_gate", "q_event_transitions")
    spark.stop()
  }
}
