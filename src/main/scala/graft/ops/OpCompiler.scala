package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Compiles [[StreamOp]]s to declarative `DataFrame => DataFrame` transforms.
  *
  * The reference evaluates each op record-at-a-time against raw line strings
  * (Operators.process, Operators.java:73-110); here each op becomes a Catalyst
  * expression so predicate pushdown / column pruning / whole-stage codegen
  * apply for free (SURVEY.md §4: Catalyst strictly dominates the reference's
  * zero-optimizer design).
  *
  * Line model: `lineCol = Some(c)` means column `c` holds the raw line
  * (text sources). `lineCol = None` means the frame is structured (CSV/parquet
  * with schema) and the reference's "whole line" view is the `,`-joined
  * concatenation of all columns — matching its naive `line.split(",")` world
  * while keeping real columns for COLUMN_FILTER / select (SURVEY.md §1.5).
  */
object OpCompiler {
  import StreamOp._

  final case class Ctx(
      lineCol: Option[String],
      /** unique ordering key(s) for the running count; extended with the
        * word position after SplitIntoWords, renamed to [[Hidden]]`+name`
        * when a Select drops them. */
      orderCols: Seq[String])

  /** Name prefix of an order column a Select dropped: it rides along under
    * this name, so a later AGGREGATE still numbers in the source order
    * rather than arrival order (which depends on the partition count), and
    * [[dropHidden]] removes it after the last op. */
  val Hidden = "__graft_order_"

  /** The frame without the order columns a Select hid: the output schema
    * the ops declare. */
  def dropHidden(df: DataFrame, ctx: Ctx): DataFrame =
    df.drop(ctx.orderCols.filter(_.startsWith(Hidden)): _*)

  def compile(op: StreamOp, ctx: Ctx): (DataFrame => DataFrame, Ctx) = op match {
    case Filter(pattern) =>
      val p = pattern.toLowerCase
      (df => df.filter(lower(lineOf(df, ctx)).contains(p)), ctx)

    case ColumnFilter(column, value) =>
      (df => df.filter(trim(col(column)) === value), ctx)

    case Transform(kind) =>
      val f: Column => Column = kind match {
        case Uppercase => upper
        case Lowercase => lower
        case TrimLine  => trim
      }
      (df => mapStringCols(df, ctx, f), ctx)

    case SplitIntoWords =>
      val wordOrder = "__graft_word_pos"
      val newCtx = Ctx(Some("word"), ctx.orderCols :+ wordOrder)
      (df => {
        val keep = df.columns.filterNot(c => ctx.lineCol.contains(c)).map(col).toSeq
        df.select(keep :+ posexplode(split(lineOf(df, ctx), "\\s+")): _*)
          .withColumnRenamed("pos", wordOrder)
          .withColumnRenamed("col", "word")
      }, newCtx)

    case FilteredTransform(pattern, kind) =>
      // one fused op = the same two Catalyst nodes the chain form produces
      // (Operators.java:87-91: predicate guard, then the scalar transform)
      val p = pattern.toLowerCase
      val f: Column => Column = kind match {
        case Uppercase => upper
        case Lowercase => lower
        case TrimLine  => trim
      }
      (df => mapStringCols(df.filter(lower(lineOf(df, ctx)).contains(p)), ctx, f), ctx)

    case Select(columns) =>
      val hide = ctx.orderCols.filterNot(columns.contains)
        .map(c => c -> (if (c.startsWith(Hidden)) c else Hidden + c))
      val newCtx = ctx.copy(orderCols = ctx.orderCols.map(c => hide.toMap.getOrElse(c, c)))
      (df => df.select(columns.map(col) ++ hide.map { case (c, h) => col(c).as(h) }: _*), newCtx)

    case Aggregate =>
      (df => RunningCount.withRunningCount(df, ctx.orderCols.map(col)), ctx)

    case AggregateField(kind, field) =>
      val out = "running_" + kind.toString.toLowerCase
      (df => RunningCount.withRunningAgg(
        df, col(field), kind, ctx.orderCols.map(col), out), ctx)
  }

  /** The reference's "whole line" for matching/transform purposes. A
    * structured frame's null (a blank CSV field) joins as the empty string:
    * `concat_ws` alone skips nulls, turning `a,,Warning` into `a,Warning`. */
  private def lineOf(df: DataFrame, ctx: Ctx): Column =
    ctx.lineCol match {
      case Some(c) => col(c)
      case None    => concat_ws(",", df.columns.filterNot(_.startsWith(Hidden))
        .map(c => coalesce(col(c).cast(StringType), lit(""))).toSeq: _*)
    }

  /** Whole-line transforms (upper/lower/trim) applied to the line column, or
    * to every string column of a structured frame. */
  private def mapStringCols(df: DataFrame, ctx: Ctx, f: Column => Column): DataFrame =
    ctx.lineCol match {
      case Some(c) => df.withColumn(c, f(col(c)))
      case None =>
        val cols = df.schema.fields.map { fld =>
          if (fld.dataType == StringType && !fld.name.startsWith(Hidden)) f(col(fld.name)).as(fld.name)
          else col(fld.name)
        }
        df.select(cols.toSeq: _*)
    }
}

/** A reference "query" = a chain of ops (exactly 2 in the reference,
  * Node.java:1106-1160; any length here — the materialize-to-HyDFS hop
  * between op1 and op2 collapses into one Catalyst plan, SURVEY.md §3.1). */
object Pipeline {
  def apply(ops: Seq[StreamOp], ctx: OpCompiler.Ctx): DataFrame => DataFrame = {
    val (fns, last) = ops.foldLeft((Vector.empty[DataFrame => DataFrame], ctx)) {
      case ((acc, c), op) =>
        val (f, c2) = OpCompiler.compile(op, c)
        (acc :+ f, c2)
    }
    df => OpCompiler.dropHidden(fns.foldLeft(df)((d, f) => f(d)), last)
  }

  /** Parse-and-compile from the reference's textual descriptors, e.g.
    * `Pipeline.fromDescriptors(Seq("FILTER:error", "AGGREGATE"), ctx)`. */
  def fromDescriptors(descriptors: Seq[String], ctx: OpCompiler.Ctx): DataFrame => DataFrame =
    apply(descriptors.map(StreamOp.parseUnsafe), ctx)
}
