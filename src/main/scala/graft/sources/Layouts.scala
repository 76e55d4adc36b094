package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-layout levers for repeated keyed work — the piece of the 100 TB
  * design that removes shuffles rather than tuning them. The reference has no
  * analog (its one redistribution is round-robin by line number,
  * Node.java:934-946); at cluster scale, pre-bucketing the big fact tables on
  * their join/agg keys turns every subsequent join between co-bucketed tables
  * into a zero-exchange sort-merge join.
  *
  * Bucketing is Spark's storage-level hash partitioning: `bucketBy(n, keys)`
  * writes each partition as `n` files by `hash(keys) % n` and records the
  * layout in the catalog; the planner then proves both join sides are
  * hash-distributed on the key and plans NO Exchange. Worth it when a table
  * is joined/aggregated on the same key by many queries (fact-dim star
  * schemas, dedup postings, feature joins) — one write-time shuffle amortized
  * over every later read.
  */
object Layouts {

  /** Write `df` as a bucketed (and bucket-sorted) managed table. Sorting
    * within buckets additionally removes the sort-merge join's per-read sort.
    * The pre-write `repartition(buckets, keys)` uses the SAME HashPartitioning
    * pmod arithmetic as the bucket-id spec, so each write task holds exactly
    * one bucket id and writes exactly one file — without the explicit
    * partition count, a task still mixes keys from many bucket ids and the
    * write explodes into up to `numWritePartitions * buckets` small files.
    * On a cluster, pick `buckets` ~ total cores (one bucket per slot). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartition(buckets, keys.map(col): _*)
      .write
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Write `df` sorted for parquet DATA SKIPPING on `sortCols`:
    * range-repartition (globally disjoint key ranges per output file) +
    * sort-within-partitions, so every row group's min/max footer stats
    * cover a narrow slice of the key space. A later scan with a pushed
    * predicate on those columns then prunes whole row groups/files from
    * the footer alone — at 100 TB this is the difference between reading
    * the corpus and reading the slice (the same lever a clustered/Z-ordered
    * table gives; one write-time range shuffle amortized over every later
    * selective read). Complements [[writeBucketed]]: bucketing removes JOIN
    * exchanges on the key, sorting removes SCAN volume under range/point
    * predicates; LayoutsSpec measures the scan-row reduction. */
  def writeSorted(
      df: DataFrame,
      dir: String,
      sortCols: Seq[String],
      partitions: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "need at least one sort column")
    require(partitions >= 1, s"partitions must be >= 1: $partitions")
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** Bit-interleaved (Morton / Z-order) key of two non-negative `bits`-bit
    * values: bit i of `x` lands at position 2i, bit i of `y` at 2i+1, so
    * sorting by the key clusters rows that are close in BOTH dimensions.
    * Pure shift/and/or chain over longs — codegen'd, no UDF. Callers must
    * pass values already reduced to `bits` bits (bucket ids, `pmod`s);
    * higher bits are ignored by construction. */
  def zorderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 8): org.apache.spark.sql.Column = zorderKeyN(Seq(x, y), bits)

  /** 2-D Hilbert-curve key — [[zorderKey]]'s sibling with strictly
    * tighter locality (every curve step moves one cell in ONE dimension,
    * no Z-jumps), so range-written files cover tighter rectangles and
    * two-column min/max skipping prunes more. Same contract: inputs
    * already reduced to `bits` bits. Native codegen'd walk
    * ([[graft.functions.HilbertKey]]). */
  def hilbertKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 8): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(graft.functions.HilbertKey(
      GraftExpr.expression(x), GraftExpr.expression(y), bits))
  }

  /** N-dimensional Morton key — bit i of column j lands at position
    * i*N + j (round-robin interleave), the clustering a table filtered
    * independently on three-plus columns needs (time AND tenant AND
    * language). Resolution per dimension falls as bits must share one
    * long: `bits × N ≤ 62`. */
  def zorderKeyN(cols: Seq[org.apache.spark.sql.Column], bits: Int = 8)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val n = cols.size
    require(n >= 2, s"need at least 2 columns, got $n")
    require(bits >= 1 && bits * n <= 62, s"bits x cols must fit a long: $bits x $n")
    val longs = cols.map(_.cast("long"))
    (for { i <- 0 until bits; (c, j) <- longs.zipWithIndex } yield
      shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered for data skipping on TWO columns at once.
    * [[writeSorted]] on `(a, b)` skips perfectly on `a` but not at all on a
    * bare `b` predicate (every file spans b's full range); Z-ordering
    * trades a little skipping on `a` for real skipping on BOTH — each
    * output file covers a small rectangle of the (a, b) space, so either
    * column's min/max footer stats stay narrow. The standard second
    * clustering lever at 100 TB when two independent predicates are common
    * (e.g. time AND tenant).
    *
    * Each column is first reduced to a 2^bits equi-depth bucket id via
    * `percentile_approx` boundaries + the codegen'd [[graft.functions
    * .BucketIndex]] search (rank-based like a range-partition id, so a
    * skewed value distribution still fills all buckets — raw min/max bit
    * slicing would collapse under skew), then the ids are bit-interleaved
    * and the rows range-written on the z key. One boundary-sampling job +
    * one range shuffle at write time, amortized over every later read. */
  def writeZordered(
      df: DataFrame,
      dir: String,
      c1: String,
      c2: String,
      partitions: Int,
      bits: Int = 8): Unit =
    writeZorderedN(df, dir, Seq(c1, c2), partitions, bits)

  /** N-column form of [[writeZordered]] — same equi-depth bucketing per
    * column, round-robin interleave via [[zorderKeyN]]. */
  def writeZorderedN(
      df: DataFrame,
      dir: String,
      cols: Seq[String],
      partitions: Int,
      bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftExpr
    import graft.functions.BucketIndex
    require(partitions >= 1, s"partitions must be >= 1: $partitions")
    // fail fast, BEFORE the eager percentile-bounds job below — otherwise
    // invalid (cols, bits) pay a full scan of df before zorderKeyN rejects
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits x cols must fit a long: $bits x ${cols.size}")
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(i => lit(i.toDouble / (nb + 1)))
    // one tiny 1-row frame of one boundary array per column; eager
    // localCheckpoint pins the approx draw so re-executions bucket
    // identically
    val boundCols = cols.indices.map(i => s"__b$i")
    val bounds = df.agg(
        percentile_approx(col(cols.head).cast("double"), array(probs: _*), lit(10000))
          .as(boundCols.head),
        cols.tail.zip(boundCols.tail).map { case (c, b) =>
          percentile_approx(col(c).cast("double"), array(probs: _*), lit(10000)).as(b)
        }: _*)
      .localCheckpoint(true)
    def bucket(c: String, b: String) = GraftExpr.column(BucketIndex(
      GraftExpr.expression(col(c).cast("double")),
      GraftExpr.expression(col(b)), descending = false, nullsFirst = true))
    df.crossJoin(broadcast(bounds))
      .withColumn("__graft_z", zorderKeyN(
        cols.zip(boundCols).map { case (c, b) => bucket(c, b) }, bits))
      .drop(boundCols: _*)
      .repartitionByRange(partitions, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(dir)
  }

  /** [[writeZordered]] with the HILBERT key: same equi-depth bucketing
    * (rank-based, skew-proof) per column, but the bucket ids combine via
    * the unit-step [[hilbertKey]] walk instead of the Morton interleave —
    * each range-written file covers an even tighter (a, b) rectangle, so
    * min/max footer skipping prunes at least as well on both columns.
    * 2-D only (the curve's rotation structure is dimension-specific where
    * Morton generalizes trivially — [[writeZorderedN]] remains the N-column
    * tool). */
  def writeHilbert(
      df: DataFrame,
      dir: String,
      c1: String,
      c2: String,
      partitions: Int,
      bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftExpr
    import graft.functions.BucketIndex
    require(partitions >= 1, s"partitions must be >= 1: $partitions")
    require(bits >= 1 && bits <= 31, s"bits out of [1, 31]: $bits")
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(i => lit(i.toDouble / (nb + 1)))
    val bounds = df.agg(
        percentile_approx(col(c1).cast("double"), array(probs: _*), lit(10000))
          .as("__b0"),
        percentile_approx(col(c2).cast("double"), array(probs: _*), lit(10000))
          .as("__b1"))
      .localCheckpoint(true)
    def bucket(c: String, b: String) = GraftExpr.column(BucketIndex(
      GraftExpr.expression(col(c).cast("double")),
      GraftExpr.expression(col(b)), descending = false, nullsFirst = true))
    df.crossJoin(broadcast(bounds))
      .withColumn("__graft_h",
        hilbertKey(bucket(c1, "__b0"), bucket(c2, "__b1"), bits))
      .drop("__b0", "__b1")
      .repartitionByRange(partitions, col("__graft_h"))
      .sortWithinPartitions("__graft_h")
      .drop("__graft_h")
      .write.mode("overwrite").parquet(dir)
  }

  /** Every node of the physical plan that ran (or will run), subqueries
    * included. Unwraps the AQE leaf wrappers: AdaptiveSparkPlanExec before
    * execution, and the Shuffle/BroadcastQueryStageExec nodes a FINALIZED
    * adaptive plan wraps every exchange in — both are leaves, so a naive
    * `collect` misses exactly the nodes under them. */
  def executedNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case q: QueryStageExec => executedNodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(executedNodes)
  }

  /** Number of Exchange (shuffle/broadcast-exchange) nodes in the final
    * physical plan — 0 on a co-bucketed join is the whole point. */
  def countExchanges(df: DataFrame): Int =
    executedNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[Exchange])
}
