package graft.ops

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's single-line console entry point:
  *
  *   RAINSTORM <op1> <op2> <file> [<numTasks> [<true|false>]]
  *
  * Reassembled from the reference's two halves: the console builds exactly this
  * line and sends it to the leader (RainStorm.java:846-877 — filename at index
  * 3, numTasks at 4 defaulting to 3), and the leader requires the six-token
  * form `RAINSTORM op1 op2 filename numTasks true/false` (Node.java:289-300).
  * `numTasks` is validated and is [[runStream]]'s shard count; as in the
  * reference (SURVEY.md Parallelism row, Node.java:298, :627-643) it never sets
  * batch parallelism. Tokenization preserves quoted spans exactly like the
  * reference's character-walking tokenizer (Node.java:355-382): a `"` toggles
  * quote mode and is KEPT in the token; spaces split only outside quotes. Quote
  * STRIPPING happens downstream in the op layer, as in the reference
  * (COLUMN_FILTER values Node.java:417-420, FILTER patterns via
  * Operators.createFilter) — here in [[StreamOp.parse]]. As a convenience
  * superset, a descriptor token quoted WHOLE (`"FILTER:a b"`) is also accepted
  * (the reference's interactive prompt never produces that shape; its tokenizer
  * would pass the quotes through and fail in createOperator).
  *
  * The trailing boolean is the reference's chaos flag (`isScriptEnabled`,
  * Node.java:300 — kills two workers 1.5 s into the job). It is parsed and
  * surfaced but needs no engine support: task/executor failure recovery is
  * Spark's scheduler, not application code (SURVEY.md §1.5).
  */
object Console {

  /** A parsed console command: exactly two ops (the reference's fixed
    * two-stage shape, Node.java:1106-1160), the input file, the task count
    * and the chaos flag. */
  final case class RainStormCommand(
      op1: StreamOp,
      op2: StreamOp,
      file: String,
      numTasks: Int,
      failureScript: Boolean) {
    def ops: Seq[StreamOp] = Seq(op1, op2)
  }

  /** Quote-aware tokenizer, byte-for-byte the reference's semantics
    * (parseOperationString, Node.java:355-382): `"` toggles inQuotes and is
    * appended; ` ` splits only outside quotes; empty tokens are dropped. */
  def tokenize(line: String): Seq[String] = {
    val tokens = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    line.foreach {
      case '"' => inQuotes = !inQuotes; cur.append('"')
      case ' ' if !inQuotes =>
        if (cur.nonEmpty) { tokens += cur.toString; cur.clear() }
      case c => cur.append(c)
    }
    if (cur.nonEmpty) tokens += cur.toString
    tokens.result()
  }

  /** Strip one symmetric outer quote pair from a descriptor token (the
    * whole-token convenience form); inner quotes are left for
    * [[StreamOp.parse]] to handle exactly as the reference does. */
  private def unwrapDescriptor(tok: String): String =
    if (tok.length >= 2 && tok.startsWith("\"") && tok.endsWith("\""))
      tok.substring(1, tok.length - 1)
    else tok

  def parse(line: String): Either[String, RainStormCommand] =
    tokenize(line) match {
      case cmd +: rest if cmd.equalsIgnoreCase("RAINSTORM") =>
        rest match {
          case op1Tok +: op2Tok +: file +: tail if tail.length <= 2 =>
            for {
              op1 <- StreamOp.parse(unwrapDescriptor(op1Tok))
              op2 <- StreamOp.parse(unwrapDescriptor(op2Tok))
              numTasks <- tail.headOption match {
                case None => Right(3) // console default, RainStorm.java:853
                case Some(n) => n.toIntOption.filter(_ > 0)
                  .toRight(s"numTasks must be a positive integer: $n")
              }
            } yield RainStormCommand(op1, op2, file, numTasks,
              failureScript = tail.lift(1).exists(_.equalsIgnoreCase("true")))
          case _ => Left(
            "expected: RAINSTORM <op1> <op2> <file> [<numTasks> [<true|false>]]")
        }
      case _ => Left("not a RAINSTORM command")
    }

  /** Source dispatch by file extension — the schema decision the reference
    * hard-codes (every file is lines; `,`-split ops assume the Traffic_Signs
    * columns, Node.java:113-115). `.csv` loads the structured traffic schema
    * through the RFC-4180 reader; anything else is the line-tuple source with
    * (file, line_no) lineage identity. Returns the frame and the op-compiler
    * context (line column + running-count order keys). */
  def sourceFor(spark: SparkSession, file: String): (DataFrame, OpCompiler.Ctx) =
    if (file.toLowerCase.endsWith(".csv"))
      (Tables.trafficSigns(spark, file), OpCompiler.Ctx(None, Seq("OBJECTID")))
    else
      (Tables.lines(spark, file), OpCompiler.Ctx(Some("value"), Seq("file", "line_no")))

  /** Parse and run one console line as one Catalyst plan over the input as
    * split, with no `numTasks` reshuffle; the running count orders by the
    * ctx order keys, so results are the same for every `numTasks` and layout. */
  def run(spark: SparkSession, line: String): DataFrame = {
    val cmd = parse(line).fold(msg => throw new IllegalArgumentException(msg), identity)
    val (src, ctx) = sourceFor(spark, cmd.file)
    Pipeline(cmd.ops, ctx)(src)
  }

  /** The same console line driven as a Structured-Streaming job — the
    * reference's jobs ARE stream jobs (tuples pipelined between stages,
    * results appended to the job log as they arrive). The file argument is
    * read as a DIRECTORY watched for new files, the streaming analog of
    * chunk files appearing in HyDFS; results land in `outDir` exactly-once
    * through the checkpointed file sink. Here `numTasks` maps to the
    * sharded running-count state — which reproduces the reference's ACTUAL
    * deployed AGGREGATE semantics of N interleaved per-worker counters
    * (numTasks stage-2 tasks each kept their own count; SURVEY.md §2.1 O9
    * caveat). Pass a 1-task command for the single global counter. */
  def runStream(
      spark: SparkSession,
      line: String,
      outDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamingPipeline
    val cmd = parse(line).fold(msg => throw new IllegalArgumentException(msg), identity)
    val (src, ctx) =
      if (cmd.file.toLowerCase.endsWith(".csv"))
        (Tables.trafficSignsStream(spark, cmd.file), OpCompiler.Ctx(None, Seq("OBJECTID")))
      else
        (StreamingPipeline.fileLines(spark, cmd.file),
          OpCompiler.Ctx(Some("value"), Seq("file")))
    val out = StreamingPipeline.pipeline(cmd.ops, ctx, shards = cmd.numTasks)(src)
    StreamingPipeline.startFileSink(out, outDir, checkpointDir, trigger)
  }
}
