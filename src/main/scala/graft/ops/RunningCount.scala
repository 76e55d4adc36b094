package graft.ops

import graft.functions.BucketIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftExpr
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalable global running aggregates: the reference's AGGREGATE op
  * (Operators.java:57-63 / :93-100 — emits 1,2,3,... one output per input)
  * plus the `AGGREGATE:sum|max|min:field` surface its console advertises but
  * never implemented (RainStorm.java:888-891, SURVEY.md §1.3) — here given
  * the declared semantics: every row emits the aggregate of all rows up to
  * and including itself in the global order.
  *
  * Size gate: an input whose optimizer size estimate
  * (`optimizedPlan.stats.sizeInBytes`, the one Spark's broadcast decision
  * reads) is at most `spark.sql.autoBroadcastJoinThreshold`, i.e. small
  * enough for Spark to ship whole to one task, takes the plain exact
  * `agg(...) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)` window and runs no
  * Spark job at construction; a threshold of -1 shuts the gate. Above it
  * that window would collapse the dataset into ONE partition, so: classic
  * two-phase prefix aggregation.
  *
  * Preferred path (numeric/temporal first order key): VALUE-RANGE buckets.
  *   1. in-plan `percentile_approx` of the key -> ~equi-depth boundaries,
  *      eagerly localCheckpoint'ed (ONE tiny row) so the nondeterministic
  *      approx-percentile draw is pinned — both passes below must bucket
  *      identically, and relying on ReuseExchange to dedupe the two plan
  *      subtrees is not a guarantee (config-off or AQE canonicalization
  *      divergence would silently re-draw);
  *   2. bucket(row) = binary search of the key in the broadcast boundary
  *      array (native codegen'd [[BucketIndex]], O(log parts) per row) —
  *      a pure function of the VALUE, honoring desc/nulls ordering;
  *   3. pass A: the running aggregate windowed per bucket (parallel);
  *      pass B: per-bucket totals -> exclusive prefix aggregate via a window
  *      over the tiny (numPartitions-row) rollup, broadcast-joined back and
  *      combined (count/sum: +, max: greatest, min: least — null-correct:
  *      the result is null exactly when no aggregable value precedes).
  * Nothing round-trips the driver — this holds on a 1000-executor cluster.
  *
  * Order keys may be plain columns or explicit sort orders
  * (`col(k).desc`, `col(k).asc_nulls_last`, ...): the head key's direction
  * and null placement are honored in the bucketing so the concatenated
  * per-bucket numbering matches the window's global order.
  *
  * Fallback path (non-orderable-by-percentile key types, e.g. strings):
  * range-repartition by the key and pin the sampled partitioning with an
  * eager localCheckpoint (sampling is nondeterministic, so phases must not
  * re-draw), then the same per-partition prefix aggregate keyed on
  * partition id.
  *
  * Ties get an arbitrary but consistent order, same as the reference's
  * arrival-order results log (SURVEY.md §4); order by a unique key for
  * determinism (sum/max/min over a tied prefix differ by tie order). All-
  * equal keys degenerate to one bucket — the inherent serial case of a
  * totally-ordered running aggregate.
  */
object RunningCount {

  private val B = "__graft_bucket"
  private val T = "__graft_total"

  /** Which running aggregate to compute. */
  sealed trait Kind extends Product with Serializable
  object Kind {
    case object Count extends Kind
    case object Sum extends Kind
    case object Max extends Kind
    case object Min extends Kind

    def fromName(name: String): Option[Kind] = name.toLowerCase match {
      case "count" => Some(Count)
      case "sum"   => Some(Sum)
      case "max"   => Some(Max)
      case "min"   => Some(Min)
      case _       => None
    }
  }

  /** The three pieces each kind contributes to the two-phase plan. */
  private final case class Agg(
      within: WindowSpec => Column,       // inclusive running agg, per bucket
      total: Column,                      // per-bucket total (groupBy agg)
      prefix: WindowSpec => Column,       // exclusive prefix over totals
      combine: (Column, Column) => Column) // (bucket offset, within) -> out

  private def aggFor(kind: Kind, v: Column, t: String = T): Agg = kind match {
    case Kind.Count => Agg(
      w => row_number().over(w).cast("long"),
      count(lit(1)).as(t),
      w => coalesce(sum(col(t)).over(w), lit(0L)),
      (off, in) => off + in)
    case Kind.Sum => Agg(
      w => sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      sum(v).as(t),
      w => sum(col(t)).over(w),
      // null exactly when BOTH sides are null (no non-null value so far) —
      // matching SQL's SUM OVER semantics
      (off, in) => when(off.isNull, in).otherwise(
        when(in.isNull, off).otherwise(off + in)))
    case Kind.Max => Agg(
      w => max(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      max(v).as(t),
      w => max(col(t)).over(w),
      (off, in) => greatest(off, in)) // greatest/least skip nulls
    case Kind.Min => Agg(
      w => min(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      min(v).as(t),
      w => min(col(t)).over(w),
      (off, in) => least(off, in))
  }

  /** The reference's AGGREGATE: global running count, 1,2,3,... */
  def withRunningCount(
      df: DataFrame,
      orderCols0: Seq[Column],
      outputCol: String = "running_count",
      numPartitions: Option[Int] = None): DataFrame =
    withRunningAgg(df, lit(1L), Kind.Count, orderCols0, outputCol, numPartitions)

  /** General running aggregate of `value` over the global `orderCols` order
    * (`AGGREGATE:sum|max|min:field` declared semantics). */
  def withRunningAgg(
      df: DataFrame,
      value: Column,
      kind: Kind,
      orderCols0: Seq[Column],
      outputCol: String = "running_agg",
      numPartitions: Option[Int] = None): DataFrame =
    withRunningAggs(df, Seq((value, kind, outputCol)), orderCols0, numPartitions)

  /** SEVERAL running aggregates over the SAME global order in ONE two-phase
    * pass: one bucketing, one within-bucket window (Spark plans the
    * same-spec window functions into a single Window node), one tiny
    * offsets rollup, one broadcast join — where N separate
    * [[withRunningAgg]] calls would each pay the full shuffle + sort.
    * The rank-and-cumulative shape (`(lit(1), Count, "rnk")` beside
    * `(v, Sum, "cum")`) is the common caller. */
  def withRunningAggs(
      df: DataFrame,
      specs: Seq[(Column, Kind, String)],
      orderCols0: Seq[Column],
      numPartitions: Option[Int] = None): DataFrame = {
    require(specs.nonEmpty, "need at least one aggregate spec")
    require(specs.map(_._3).distinct.size == specs.size,
      s"duplicate output columns: ${specs.map(_._3)}")
    val arrivalCol = "__graft_arrival"
    // No order key (e.g. a Select dropped the lineage columns): fall back to
    // arrival order via monotonically_increasing_id — matching the
    // reference's nondeterministic arrival-order results log.
    val (base, orderCols, dropExtra) =
      if (orderCols0.nonEmpty) (df, orderCols0, Seq.empty[String])
      else (df.withColumn(arrivalCol, monotonically_increasing_id()),
            Seq(col(arrivalCol)), Seq(arrivalCol))
    val conf = df.sparkSession.sessionState.conf
    val parts = numPartitions.getOrElse(conf.numShufflePartitions)
    val aggs = specs.zipWithIndex.map { case ((v, kind, out), i) =>
      (aggFor(kind, v, s"${T}_$i"), out)
    }

    // The head key drives the bucketing; callers may hand us a SortOrder
    // (col(k).desc) — unwrap it and carry direction + null placement into
    // the bucket function (Spark defaults: asc = NULLS FIRST, desc = LAST).
    val (keyCol, descending, nullsFirst) =
      GraftExpr.sortOrder(orderCols.head).getOrElse((orderCols.head, false, true))
    val keyType = base.select(keyCol).schema.head.dataType
    val rankKey = toRankDouble(keyCol, keyType)
    // ANSI-off decimal sums overflow differently on the two paths (the window
    // keeps an exact prefix, two-phase offsets restart, as streaming does)
    val sameOnBoth = conf.ansiEnabled || specs.forall { case (v, k, _) =>
      k != Kind.Sum || !base.select(v).schema.head.dataType.isInstanceOf[DecimalType] }
    val gated = sameOnBoth && // sizeInBytes >= 0, so a -1 threshold shuts the gate
      base.queryExecution.optimizedPlan.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
    val out =
      if (parts <= 1 || gated) singlePartition(base, aggs, orderCols)
      else if (rankKey.isDefined)
        quantileBuckets(base, aggs, rankKey.get, orderCols, descending, nullsFirst, parts)
      else rangeCheckpoint(base, aggs, orderCols, parts)
    out.drop(dropExtra: _*)
  }

  /** Monotone double image of an orderable key, for percentile bucketing.
    * Monotone-non-decreasing is all bucketing needs: a (rare, >2^53) double
    * collision merges two adjacent buckets' boundary rows, affecting balance
    * only, never the final numbering. */
  private def toRankDouble(key: Column, keyType: DataType): Option[Column] = keyType match {
    case _: NumericType => Some(key.cast("double"))
    case DateType => Some(unix_date(key).cast("double"))
    case TimestampType => Some(key.cast("double"))
    case TimestampNTZType => Some(key.cast("timestamp").cast("double"))
    case _ => None
  }

  /** At most one partition or below the size gate: the plain global window. */
  private def singlePartition(
      df: DataFrame, aggs: Seq[(Agg, String)], orderCols: Seq[Column]) = {
    val w = Window.orderBy(orderCols: _*)
    aggs.foldLeft(df) { case (d, (agg, out)) => d.withColumn(out, agg.within(w)) }
  }

  private def quantileBuckets(
      df: DataFrame,
      aggs: Seq[(Agg, String)],
      rankKey: Column,
      orderCols: Seq[Column],
      descending: Boolean,
      nullsFirst: Boolean,
      parts: Int): DataFrame = {
    val probs = (1 until parts).map(i => lit(i.toDouble / parts))
    // ONE row of ~parts doubles; the eager localCheckpoint pins the
    // approx-percentile draw (see scaladoc) at the cost of materializing a
    // single tiny partition. NaN keys are nulled out of the percentile input:
    // a NaN boundary would break BucketIndex's sorted-search invariant, and
    // BucketIndex routes NaN keys to the extreme bucket itself.
    val bounds = df.agg(
      percentile_approx(when(isnan(rankKey), lit(null)).otherwise(rankKey),
        array(probs: _*), lit(10000)).as("__graft_bounds"))
      .localCheckpoint(true)
    val bucketed = df
      .crossJoin(broadcast(bounds))
      .withColumn(B, GraftExpr.column(BucketIndex(
        GraftExpr.expression(rankKey),
        GraftExpr.expression(col("__graft_bounds")),
        descending, nullsFirst)))
      .drop("__graft_bounds")
    prefixCombine(bucketed, aggs, col(B), B, orderCols)
  }

  private def rangeCheckpoint(
      df: DataFrame, aggs: Seq[(Agg, String)], orderCols: Seq[Column],
      parts: Int): DataFrame = {
    val pidCol = "__graft_pid"
    // Eager localCheckpoint pins the sampled range boundaries AND the
    // partition ids so both phases see identical partitioning on
    // re-execution, without a session-lifetime cache entry (checkpointed
    // blocks are released with the RDD).
    val ranged = df
      .repartitionByRange(parts, orderCols: _*)
      .withColumn(pidCol, spark_partition_id())
      .localCheckpoint(true)
    prefixCombine(ranged, aggs, col(pidCol), pidCol, orderCols)
  }

  /** Shared second phase: within-bucket running aggs (one Window node — all
    * share the spec) + tiny exclusive-prefix rollup over bucket totals,
    * broadcast back and combined per aggregate. */
  private def prefixCombine(
      bucketed: DataFrame,
      aggs: Seq[(Agg, String)],
      bucket: Column,
      bucketName: String,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(bucket).orderBy(orderCols: _*)
    def in(i: Int) = s"__graft_in_$i"
    def off(i: Int) = s"__graft_offset_$i"
    val withIn = aggs.zipWithIndex.foldLeft(bucketed) {
      case (d, ((agg, _), i)) => d.withColumn(in(i), agg.within(w))
    }

    // numPartitions-row rollup: a single tiny window partition is fine.
    val totals = aggs.map { case (agg, _) => agg.total }
    val ow = Window.orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = aggs.zipWithIndex.foldLeft(
        bucketed.groupBy(bucket).agg(totals.head, totals.tail: _*)) {
        case (d, ((agg, _), i)) => d.withColumn(off(i), agg.prefix(ow))
      }
      .select(bucket +: aggs.indices.map(i => col(off(i))): _*)

    val joined = withIn.join(broadcast(offsets), bucketName)
    aggs.zipWithIndex.foldLeft(joined) {
        case (d, ((agg, out), i)) =>
          d.withColumn(out, agg.combine(col(off(i)), col(in(i))))
      }
      .drop(bucketName +: aggs.indices.flatMap(i => Seq(in(i), off(i))): _*)
  }
}
