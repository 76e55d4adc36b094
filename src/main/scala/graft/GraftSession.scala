package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's scale configuration in ONE place:
  *
  * - `spark.sql.shuffle.partitions` sized to the executor slot count (32 on
  *   the local harness; on a real cluster set it to 2-3× total cores — AQE
  *   coalesces down, it can't split up);
  * - AQE left on (runtime re-plan: skew-join splitting, broadcast demotion,
  *   partition coalescing) — Spark 4 default, pinned here explicitly;
  * - `spark.sql.files.maxPartitionBytes` kept at 128m so a 100 TB scan
  *   yields ~800k splits that stream through executors, each fitting
  *   comfortably in task memory;
  * - nanos-timestamp parquet read enabled (older events snapshots stored
  *   TIMESTAMP(NANOS), which Spark otherwise rejects);
  * - NTZ inference off: parquet `timestamp[us]` columns without
  *   isAdjustedToUTC (the current events table) read as plain TIMESTAMP in
  *   the session zone instead of TIMESTAMP_NTZ, keeping `unix_micros` and
  *   every other instant function applicable — identical epoch values
  *   under the UTC session zone below;
  * - UTC session timezone (cross-engine timestamp determinism);
  * - `file:` paths go through [[graft.io.ForkFreeLocalFileSystem]] /
  *   [[graft.io.ForkFreeLocalFs]]: without the native `libhadoop`, Hadoop's
  *   local filesystem forks a `chmod` or `readlink` child process for almost
  *   every file a stream writes (offset/commit logs, state-store deltas,
  *   sink files), which dominated small micro-batches. Only the `file:`
  *   scheme is overridden (`hdfs:`, `s3a:` keep their own classes), and the
  *   files on disk are byte-for-byte the same, so existing checkpoints
  *   restart.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "128m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // default 100 is small for a session running the whole query inventory;
    // eviction means re-running Janino on plans we just compiled
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.io.ForkFreeLocalFs].getName)

  /** Local session for the test/bench harness. Managed tables (the bucketed
    * layouts, Layouts.writeBucketed) land in a throwaway warehouse dir. */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
}
