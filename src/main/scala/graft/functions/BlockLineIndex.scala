package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Index of a row within its scan block: a per-partition counter, in the
  * style of `monotonically_increasing_id`, that restarts at 0 whenever the
  * `(file path, block start)` pair of its input changes.
  *
  * It numbers lines only when evaluated directly over a file scan: a
  * FilePartition holds whole splits and reads each front to back, so a
  * block's rows arrive contiguously and in file order. `Nondeterministic`
  * keeps every filter above it (the optimizer pushes none through a
  * nondeterministic projection), and `stateful` gives each use its own
  * counter. Inputs are `_metadata.file_path` and
  * `_metadata.file_block_start`, which are never null.
  */
case class BlockLineIndex(left: Expression, right: Expression)
  extends BinaryExpression with Nondeterministic {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "block_line_index"

  @transient private[this] var count: Long = _
  @transient private[this] var lastFile: UTF8String = _
  @transient private[this] var lastBlock: Long = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    count = -1L
    lastFile = null
    lastBlock = -1L
  }

  override protected def evalInternal(input: InternalRow): Long = {
    val file = left.eval(input).asInstanceOf[UTF8String]
    val block = right.eval(input).asInstanceOf[Long]
    if (block != lastBlock || !file.equals(lastFile)) {
      // the path may point into a reused row buffer
      lastFile = file.clone()
      lastBlock = block
      count = 0L
    } else count += 1L
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val count = ctx.addMutableState(CodeGenerator.JAVA_LONG, "blockLineCount")
    val lastFile = ctx.addMutableState(classOf[UTF8String].getName, "blockLineFile")
    val lastBlock = ctx.addMutableState(CodeGenerator.JAVA_LONG, "blockLineStart")
    ctx.addPartitionInitializationStatement(
      s"$count = -1L; $lastFile = null; $lastBlock = -1L;")
    val file = left.genCode(ctx)
    val block = right.genCode(ctx)
    ev.copy(
      isNull = FalseLiteral,
      code = code"""
        |${file.code}
        |${block.code}
        |if (${block.value} != $lastBlock || !${file.value}.equals($lastFile)) {
        |  $lastFile = ${file.value}.clone();
        |  $lastBlock = ${block.value};
        |  $count = 0L;
        |} else {
        |  $count++;
        |}
        |final long ${ev.value} = $count;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BlockLineIndex =
    copy(left = l, right = r)
}
