package graft
package queries

import graft.ops.{OpCompiler, Pipeline, RunningCount}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** The reference operator surface (SURVEY.md §2.1): FILTER, COLUMN_FILTER,
  * the TRANSFORM family and the AGGREGATE running count, driven through the
  * parsed op pipeline exactly as the reference's console submits them. */
private[graft] object ReferenceQueries {

  val all: Seq[Q] = Seq(
    // O1 FILTER — case-insensitive substring match on the line.
    Q("q_filter", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Pipeline.fromDescriptors(Seq("FILTER:window"),
        OpCompiler.Ctx(Some("text"), Seq("doc_id")))(docs)
    }, sql(
      "SELECT doc_id, text FROM documents WHERE contains(lower(text), 'window')"), bench = true),

    // O2 COLUMN_FILTER + O7 select — exact trimmed equality on one column.
    Q("q_column_filter", (s, dir) => {
      val li = t(s, dir, "lineitem")
      Pipeline.fromDescriptors(
        Seq("COLUMN_FILTER:l_returnflag:R",
          "TRANSFORM:select:l_orderkey,l_linenumber,l_returnflag"),
        OpCompiler.Ctx(None, Seq("l_orderkey", "l_linenumber")))(li)
    }, sql(
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE trim(l_returnflag) = 'R'"),
      bench = true),

    // O3 TRANSFORM:uppercase — applied to every string column.
    Q("q_transform_upper", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"))
      Pipeline.fromDescriptors(Seq("TRANSFORM:uppercase"),
        OpCompiler.Ctx(None, Seq("doc_id")))(docs)
    }, sql(
      "SELECT doc_id, upper(text) AS text, upper(lang) AS lang, upper(source) AS source FROM documents")),

    // O4 TRANSFORM:lowercase.
    Q("q_transform_lower", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      Pipeline.fromDescriptors(Seq("TRANSFORM:lowercase"),
        OpCompiler.Ctx(None, Seq("doc_id")))(docs)
    }, sql(
      "SELECT doc_id, lower(lang) AS lang, lower(source) AS source FROM documents")),

    // O5 TRANSFORM:trim (input padded so the trim is observable).
    Q("q_transform_trim", (s, dir) => {
      val padded = t(s, dir, "part").select(col("p_partkey"),
        concat(lit("  "), col("p_name"), lit(" ")).as("p_name"))
      Pipeline.fromDescriptors(Seq("TRANSFORM:trim"),
        OpCompiler.Ctx(None, Seq("p_partkey")))(padded)
    }, sql(
      "SELECT p_partkey, trim('  ' || p_name || ' ') AS p_name FROM part")),

    // O8 FILTERED_TRANSFORM — fused filter->map; Catalyst fuses the chain
    // into one stage (the reference hand-fused it, Operators.java:87-91).
    Q("q_filtered_transform", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // the FUSED descriptor (Operators.java:87-91) — semantically identical
      // to the FILTER + TRANSFORM chain, and Catalyst compiles both to the
      // same two nodes
      Pipeline.fromDescriptors(Seq("FILTERED_TRANSFORM:table:uppercase"),
        OpCompiler.Ctx(Some("text"), Seq("doc_id")))(docs)
    }, sql(
      "SELECT doc_id, upper(text) AS text FROM documents WHERE contains(lower(text), 'table')")),

    // O6 TRANSFORM:splitintowords — the reference's generator op.
    Q("q_split_words", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"))
      Pipeline.fromDescriptors(Seq("TRANSFORM:splitintowords"),
        OpCompiler.Ctx(Some("text"), Seq("doc_id")))(docs)
        .select(col("doc_id"), col("__graft_word_pos").cast("long").as("pos"), col("word"))
    }, sql(
      """SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos, unnest(toks) AS word
        |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents WHERE doc_id < 50)""".stripMargin), bench = true),

    // O7 TRANSFORM:select — projection.
    Q("q_select", (s, dir) => {
      Pipeline.fromDescriptors(Seq("TRANSFORM:select:p_partkey,p_name"),
        OpCompiler.Ctx(None, Seq("p_partkey")))(t(s, dir, "part"))
    }, sql(
      "SELECT p_partkey, p_name FROM part")),

    // O9 AGGREGATE — scalable global running count (1,2,3,... per row).
    Q("q_running_count", (s, dir) => {
      Pipeline.fromDescriptors(Seq("AGGREGATE"),
        OpCompiler.Ctx(None, Seq("event_id")))(ev(s, dir).select("event_id"))
    }, sql(
      "SELECT event_id, CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS running_count FROM events"),
      bench = true),

    // AGGREGATE:sum:field — the reference's declared-but-unimplemented
    // running-aggregate surface (RainStorm.java:888-891), via the descriptor
    // parser. DECIMAL accumulation on both engines: windowed double sums
    // differ in ulps across engines (DuckDB uses segment-tree combination).
    Q("q_running_sum", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("l_quantity"))
      Pipeline.fromDescriptors(Seq("AGGREGATE:sum:l_quantity"),
        OpCompiler.Ctx(None, Seq("l_orderkey", "l_linenumber")))(li)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("running_sum").cast("double").as("running_sum"))
    }, sql(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    OVER (ORDER BY l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum
        |FROM lineitem""".stripMargin), bench = true),

    // AGGREGATE:max:field via the library API (max of existing doubles is
    // engine-exact, no decimal detour needed).
    Q("q_running_max", (s, dir) =>
      RunningCount.withRunningAgg(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice"), RunningCount.Kind.Max,
        Seq(col("o_orderkey")), "running_max")
        .select(col("o_orderkey"), col("running_max")), sql(
      """SELECT o_orderkey,
        |  MAX(o_totalprice) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS running_max
        |FROM orders""".stripMargin)),

    // AGGREGATE:min:field — the last §2-surface variant, under the same
    // windowed oracle shape as max (comparison-only, engine-exact).
    Q("q_running_min", (s, dir) =>
      RunningCount.withRunningAgg(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice"), RunningCount.Kind.Min,
        Seq(col("o_orderkey")), "running_min")
        .select(col("o_orderkey"), col("running_min")), sql(
      """SELECT o_orderkey,
        |  MIN(o_totalprice) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS running_min
        |FROM orders""".stripMargin)),

    // The canonical reference job shape: op1 -> op2 chain (FILTER then
    // AGGREGATE, Node.java:1106-1160) in ONE Catalyst plan.
    Q("q_pipeline_filter_count", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Pipeline.fromDescriptors(
        Seq("FILTER:join", "TRANSFORM:select:doc_id", "AGGREGATE"),
        OpCompiler.Ctx(Some("text"), Seq("doc_id")))(docs)
    }, sql(
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS running_count
        |FROM documents WHERE contains(lower(text), 'join')""".stripMargin)),

    // The reference's structured workload on its fixture shape: the
    // FIXTURES.md representative job (COLUMN_FILTER -> TRANSFORM:select)
    // over the committed Traffic_Signs fixture (Tables.trafficSignsFixture),
    // through the descriptor parse -> compile path and the proper RFC-4180
    // reader (quoted commas handled, the documented divergence from the
    // reference's naive split).
    // DuckDB reads the same fixture CSV directly (RFC-4180 both sides).
    Q("q_traffic_pipeline", (s, _) => {
      val signs = graft.sources.Tables.trafficSigns(s,
        graft.sources.Tables.trafficSignsFixture)
      Pipeline.fromDescriptors(
        Seq("COLUMN_FILTER:Category:Warning", "TRANSFORM:select:OBJECTID,Sign_Type"),
        OpCompiler.Ctx(None, Seq("OBJECTID")))(signs)
    }, sql(
      (s"""SELECT OBJECTID, Sign_Type
        |FROM read_csv('${graft.sources.Tables.trafficSignsFixture}',
        |  header=false, columns={""".stripMargin +
        graft.sources.Tables.trafficSignsSchema.fieldNames
          .map(n => s"'$n': 'VARCHAR'").mkString(", ") +
        """})
        |WHERE trim(Category) = 'Warning'""".stripMargin))),

    // The full console surface in one line: the reference's actual UX is a
    // single `RAINSTORM <op1> <op2> <file> <numTasks> <flag>` command
    // (RainStorm.java:846-877, Node.java:289-300) — tokenize, parse, pick
    // the source by extension, run both ops as one plan over one scan.
    // Console command line: COLUMN_FILTER then the running count, numbered in
    // OBJECTID order over the filtered rows (window evaluates after WHERE).
    // All 19 columns ride through, as the reference's results log would show.
    Q("q_console", (s, _) => {
      graft.ops.Console.run(s,
        "RAINSTORM \"COLUMN_FILTER:Category:Warning\" AGGREGATE " +
          s"${graft.sources.Tables.trafficSignsFixture} 3 false")
    }, sql(
      (s"""SELECT *, CAST(row_number() OVER (ORDER BY OBJECTID) AS BIGINT) AS running_count
        |FROM read_csv('${graft.sources.Tables.trafficSignsFixture}',
        |  header=false, columns={""".stripMargin +
        graft.sources.Tables.trafficSignsSchema.fieldNames
          .map(n => s"'$n': 'VARCHAR'").mkString(", ") +
        """})
        |WHERE trim(Category) = 'Warning'""".stripMargin))),

    // The compatibility mode: the reference's NAIVE split(",") semantics
    // (quoted commas shift columns, Operators.java:174) — byte-parity with
    // its outputs. The oracle reproduces the same naive split with
    // string_split over raw lines, so the shifted rows match exactly too.
    // Naive split(",") parity: raw lines split on every comma, 1-based
    // column access (OBJECTID=3, Sign_Type=4, Category=9), out-of-range -> NULL
    // in both engines.
    Q("q_traffic_naive", (s, _) => {
      val signs = graft.sources.Tables.trafficSignsNaive(s,
        graft.sources.Tables.trafficSignsFixture)
      Pipeline.fromDescriptors(
        Seq("COLUMN_FILTER:Category:Streetname", "TRANSFORM:select:OBJECTID,Sign_Type"),
        OpCompiler.Ctx(None, Seq("OBJECTID")))(signs)
    }, sql(
      s"""WITH raw AS (
        |  SELECT string_split(line, ',') AS p
        |  FROM read_csv('${graft.sources.Tables.trafficSignsFixture}',
        |    header=false, delim='', quote='', columns={'line': 'VARCHAR'}))
        |SELECT p[3] AS OBJECTID, p[4] AS Sign_Type
        |FROM raw WHERE trim(p[9]) = 'Streetname'""".stripMargin)),
  )
}
