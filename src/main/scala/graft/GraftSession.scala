package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's scale configuration in ONE place:
  *
  * - `spark.sql.shuffle.partitions` sized to the executor slot count
  *   (`local(cores)` sets it to `cores`; on a real cluster set it to 2-3×
  *   total cores — AQE coalesces down, it can't split up);
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
  *   restart;
  * - artifact isolation off (`spark.sql.artifact.isolation.enabled`), so
  *   every session of the application shares one executor classloader and
  *   one compiled-code cache. Spark's `CodeGenerator` caches Janino
  *   classes by (context classloader, code). With isolation on, each
  *   session's tasks run under their own `ExecutorClassLoader`; each
  *   stream runs on a clone of its session, and each Verify worker on a
  *   `newSession()`. So every fresh stream recompiled every generated
  *   class (10–50 ms each), and its tasks probed the driver's RPC file
  *   server for classes while compiling. Each `live_streams` catch-up
  *   round compiled 26 classes; with isolation off it compiles none, and
  *   the workload's throughput rose 59% (10 paired runs, 4 cores). The 32
  *   stream gates went from 676 compiles to 17 in one Probe pass.
  *   Isolation only separates sessions that add different artifacts
  *   (`addArtifact`, Spark Connect); the engine adds none, and on a
  *   cluster the executors' default loader holds the application jar.
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
    .config("spark.sql.artifact.isolation.enabled", "false")
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

  /** [[local]] on `SPARK_GRAFT_CPUS` cores (default: every core of the
    * host), logging at WARN: the session of Verify, Bench, Probe and the
    * other measuring mains. */
  def fromEnv(appName: String): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = local(cores.toInt, appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
