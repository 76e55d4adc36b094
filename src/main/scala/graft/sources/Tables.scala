package graft.sources

import graft.functions.BlockLineIndex
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, GraftExpr, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Source layer: schema-on-read replaces the reference's hard-coded positional
  * column array (Node.java:113-115) and its HyDFS fetch-to-local-disk scan
  * (Node.java:304-312). Storage durability/replication is delegated to the
  * filesystem (SURVEY.md §1.5) — Spark reads any Hadoop-compatible path.
  */
object Tables {

  /** The one schema the reference knows: 19 string columns for the
    * Traffic_Signs CSVs (Node.java:113-115; files carry no header row). */
  val trafficSignsSchema: StructType = StructType(
    Seq("X", "Y", "OBJECTID", "Sign_Type", "Size_", "Supplement", "Sign_Post",
      "Year_Insta", "Category", "Notes", "MUTCD", "Ownership", "FACILITYID",
      "Schools", "Location_Adjusted", "Replacement_Zone", "Sign_Text",
      "Set_ID", "FieldVerifiedDate").map(StructField(_, StringType, nullable = true)))

  /** Absolute path of the committed Traffic_Signs-shaped fixture
    * (`src/main/resources/graft/Traffic_Signs_1000.csv`: 11 rows in the
    * shape of FIXTURES.md §1). The resource may sit inside a jar (sbt runs
    * forked mains from one), so it is copied once per JVM to a fixed path
    * under `java.io.tmpdir` that outlives the JVM: an oracle run after
    * Verify still reads it. The copy lands by an atomic rename, so JVMs
    * running at once never see a partial file. */
  lazy val trafficSignsFixture: String = {
    val name = "Traffic_Signs_1000.csv"
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"graft/$name is not on the classpath")
    val dir = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir"), "graft_fixture"))
    val tmp = Files.createTempFile(dir, name, ".tmp")
    try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING) finally in.close()
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE).toString
  }

  /** Reader options of the Traffic_Signs CSVs, batch and stream alike:
    * headerless, `"` both quote and escape (RFC-4180 doubled quotes). */
  private val trafficSignsCsv =
    Map("header" -> "false", "quote" -> "\"", "escape" -> "\"")

  /** Proper RFC-4180 CSV read (quoted commas handled) — the deliberate
    * divergence from the reference's naive `line.split(",")`
    * (Operators.java:174, SURVEY.md §1.1). */
  def trafficSigns(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(trafficSignsSchema).options(trafficSignsCsv).csv(path)

  /** [[trafficSigns]] as a file stream: `path` is a directory or glob
    * watched for new CSV files. */
  def trafficSignsStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(trafficSignsSchema).options(trafficSignsCsv).csv(path)

  /** Compatibility mode (SURVEY.md §7.3): the reference's naive `split(",")`
    * column semantics, quoted commas and all — byte-parity with its outputs
    * on rows where RFC-4180 and naive parsing disagree. Off the default
    * path; use [[trafficSigns]] unless replicating reference output. */
  def trafficSignsNaive(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), ",")
    spark.read.text(path).select(
      trafficSignsSchema.fieldNames.zipWithIndex.map {
        case (n, i) => parts.getItem(i).as(n)
      }.toSeq: _*)
  }

  /** Line-tuple source: one row per text line with lineage identity
    * (file, line_no) — the Spark analog of the reference's
    * `uniqueId:filename,lineNumber` tuple id (Node.java:907-913), and like
    * it numbered as the file is read: line_no = block offset + in-block
    * index, both known inside the scan.
    *
    *  - In-block index: [[graft.functions.BlockLineIndex]] over
    *    `(_metadata.file_path, _metadata.file_block_start)`, evaluated
    *    directly over the scan. A FilePartition holds whole splits and reads
    *    each front to back, so a block's rows arrive contiguously and in
    *    file order; no filter is pushed below the counter.
    *  - Block offset: 0 when no file can split. Spark cuts a file into
    *    blocks of min(`spark.sql.files.maxPartitionBytes`,
    *    max(`spark.sql.files.openCostInBytes`, bytes per core)), so a file no
    *    longer than min(maxPartitionBytes, openCostInBytes) is one split. If
    *    the longest file in the read's own listing is within that bound, the
    *    frame is the scan plus a projection: no shuffle, join or Spark job.
    *  - Otherwise one narrow job (no shuffle) counts lines per block, and
    *    their per-file prefix sums join back as a broadcast local table. A
    *    block's offset is the number of lines starting at or before its first
    *    byte, so it holds for any layout with a block at that byte: a file
    *    read whole costs only this job, and a 100 TB corpus one narrow scan.
    *
    * The split layout is fixed at construction: a row in a non-first block
    * with no known offset (`spark.sql.files.*` changed between building and
    * running the frame) raises an error, never a wrong number.
    */
  def lines(spark: SparkSession, path: String): DataFrame = {
    val file = col("_metadata.file_path")
    val blk = col("_metadata.file_block_start")
    val text = spark.read.text(path)
    val longest = text.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.listFiles(Nil, Nil)
    }.flatten.flatMap(_.files.map(_.getLen)).maxOption.getOrElse(0L)
    val conf = text.sparkSession.sessionState.conf
    val split = longest > math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
    val numbered = text.select(col("value"), file.as("file"),
      blk.as("__blk"),
      GraftExpr.column(BlockLineIndex(GraftExpr.expression(file), GraftExpr.expression(blk)))
        .as("__i"))
    val inFirstBlock = col("__blk") === 0L
    val drift = raise_error(concat(lit("Tables.lines: no line offset for the block at byte "),
      col("__blk").cast("string"), lit(" of "), col("file"),
      lit("; the scan splits the file differently than when the frame was built " +
        "(spark.sql.files.*), so build it again")))
    if (!split)
      numbered.select(col("value"), col("file"),
        when(inFirstBlock, col("__i")).otherwise(drift).as("line_no"))
    else
      numbered.join(broadcast(spark.createDataFrame(blockOffsets(text.select(file, blk)))
        .toDF("file", "__blk", "__off")), Seq("file", "__blk"), "left")
        .select(col("value"), col("file"),
          when(inFirstBlock, col("__i"))
            .when(col("__off").isNotNull, col("__off") + col("__i"))
            .otherwise(drift).as("line_no"))
  }

  /** (file, block start, lines before the block) for every block of
    * `meta` — a `(file_path, file_block_start)` scan — that holds a line:
    * one narrow job counts each block's run of rows, then the collected
    * counts are prefix-summed per file in block order. */
  private def blockOffsets(meta: DataFrame): Seq[(String, Long, Long)] = {
    val counts = meta.queryExecution.toRdd.mapPartitions { rows =>
      val runs = Vector.newBuilder[(String, Long, Long)]
      var file: UTF8String = null
      var block, n = -1L
      rows.foreach { r =>
        if (r.getLong(1) != block || !r.getUTF8String(0).equals(file)) {
          if (file != null) runs += ((file.toString, block, n))
          file = r.getUTF8String(0).clone()
          block = r.getLong(1)
          n = 0L
        }
        n += 1L
      }
      if (file != null) runs += ((file.toString, block, n))
      runs.result().iterator
    }.collect()
    counts.groupBy(_._1).values.toSeq.flatMap { blocks =>
      val byStart = blocks.sortBy(_._2)
      byStart.zip(byStart.scanLeft(0L)(_ + _._3)).map { case ((f, b, _), off) => (f, b, off) }
    }
  }

  val tableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  /** Schema-by-path cache (r18): `DataFrameReader.parquet` EAGERLY infers
    * the schema — a footer read + file listing costing ~80 ms per call on
    * the bench host where `read.schema(cached).parquet` costs ~10 ms —
    * and the query registry constructs 1-3 table reads per query. The
    * cache holds ONLY the inferred StructType (pure metadata, the thing a
    * catalog/metastore persists); every read still scans the parquet
    * DATA, and each call builds a FRESH relation (fresh attribute ids, so
    * self-joins are unaffected). Keyed by (path, the two confs that can
    * change what a timestamp column infers as); a path, once read under a
    * given conf pair, is assumed schema-stable for the JVM lifetime — the
    * testdata contract (tests that rewrite schemas use fresh temp dirs). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.types.StructType]()

  /** Load one driver-generated parquet table from an sf directory.
    *
    * A `SPARK_GRAFT_SPLITS` knob (repartition(N) above every read, so
    * the single-row-group testdata scans parallelize and core count
    * becomes measurable — VERDICT r18 item 7) was built and REJECTED in
    * r19: under SPLITS=8 bit_check caught q_running_sum diverging from
    * its oracle — a repartitioned read legally permutes rows that tie on
    * a running aggregate's order key, and the arrival-order-sensitive
    * running-agg oracles encode one specific tie resolution. A harness
    * knob must never be able to change declared results, so scan
    * parallelism stays input-bound here; the scaling story lives in the
    * per-operator repartitions of the order-free heavy paths
    * (zipfFit/giniIndex/heapsFit, spanCorrupt, bitextMarginMinePq). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (path,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"))
    val sch = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Events table with a usable instant-typed `ts`, whatever the parquet
    * snapshot stored:
    *   - TIMESTAMP(NANOS) reads as a nanos-since-epoch long under
    *     spark.sql.legacy.parquet.nanosAsLong=true — convert via integer
    *     division (double division would lose precision above 2^53 ns);
    *   - timestamp[us] without isAdjustedToUTC reads as TIMESTAMP_NTZ when
    *     a session has NTZ inference on (GraftSession turns it off) — the
    *     stored wall-clock fields are UTC instants, so rebuild the instant
    *     via make_timestamp(..., 'UTC'). A bare cast(ts as timestamp) would
    *     interpret the wall clock in the SESSION zone — epoch-preserving
    *     only when that zone happens to be UTC; make_timestamp with an
    *     explicit fixed-offset zone is correct under any session zone (and
    *     'UTC' has no DST, so the field→instant map is bijective). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val e = table(spark, sfDir, "events")
    e.schema("ts").dataType match {
      case LongType => e.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => e.withColumn("ts", expr(
        "make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts), date_part('SECOND', ts), 'UTC')"))
      case _ => e
    }
  }

  /** Register all tables as temp views (for spark.sql use). `events` goes
    * through [[events]] so the view's `ts` is instant-typed whatever the
    * snapshot stored (raw registration would expose a nanos long or an NTZ
    * column to SQL, contradicting that contract). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  /** JSONL (newline-delimited JSON) ingest with an explicit quarantine
    * contract — the interchange format every crawl/annotation pipeline
    * ships. Schema is REQUIRED (schema inference is a full extra pass over
    * the data and is nondeterministic under corrupt rows — never acceptable
    * at 100 TB). The read goes through the TEXT source + `from_json` with a
    * corrupt-record field, NOT `spark.read.json`: the json scan forbids
    * plans that touch only its corrupt column (SPARK-21610 — the documented
    * workaround is caching, a second read, or exactly this formulation),
    * while the text+from_json shape parses once, stays scan-bound with zero
    * shuffles, never silently drops a row (DROPMALFORMED's failure mode)
    * and never kills the job on one bad line (FAILFAST's). Malformed lines
    * come back with null data fields and the raw line byte-exact in
    * `corruptCol`. The same expression runs on `readStream.text` for
    * ingest. */
  def jsonl(
      spark: SparkSession,
      path: String,
      schema: StructType,
      corruptCol: String = "_corrupt_record"): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema already defines $corruptCol")
    val withCorrupt = schema.add(StructField(corruptCol, StringType, nullable = true))
    spark.read.text(path)
      .select(from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corruptCol)).as("__j"))
      .select((schema.fieldNames.toSeq :+ corruptCol).map(n => col("__j." + n)): _*)
  }

  /** (good, quarantined) split of [[jsonl]]: good rows lose the corrupt
    * column; quarantined rows keep their (null) data fields plus the raw
    * line for a replay/fix-up sink. */
  def jsonlSplit(
      spark: SparkSession,
      path: String,
      schema: StructType,
      corruptCol: String = "_corrupt_record"): (DataFrame, DataFrame) = {
    val all = jsonl(spark, path, schema, corruptCol)
    (all.filter(col(corruptCol).isNull).drop(corruptCol),
      all.filter(col(corruptCol).isNotNull))
  }
}
