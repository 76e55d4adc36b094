package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builders and oracle fragments shared by more than one query family. */
private[queries] object Kit {

  // routes through Tables.table for the schema-by-path cache (r18): the
  // bare reader's eager schema inference cost ~80 ms per construction —
  // the dominant fixed cost of every cheap query in the bench tail
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.table(s, dir, name)

  /** events with TIMESTAMP(NANOS) `ts` converted to TimestampType. */
  def ev(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(s, dir)

  /** Shared export-gate back half: write `docs` (doc_id, text) as
    * deterministic JSONL shards into ONE pid-scoped dir (overwritten per
    * invocation — bench passes re-build these queries 3-5× per run, and
    * a fresh temp dir each time would accrete corpus copies until /tmp
    * fills) and read the WRITTEN shards back, so serialization fidelity,
    * layout, and the shard derivation all sit inside the oracle compare. */
  def exportAndReadShards(
      s: SparkSession,
      docs: DataFrame,
      dirName: String,
      maxShardBytes: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val out = TempDirs.pidScoped(dirName)
    graft.sources.Sinks.exportShardedJsonl(docs, out, "doc_id", maxShardBytes)
    s.read
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("shard", LongType))))
      .json(out)
      .select(col("doc_id"), col("text"), col("shard"))
  }

  /** A Scala double array as a DuckDB list literal. `Double.toString` is the
    * shortest round-tripping decimal, so DuckDB parses back the exact same
    * IEEE value the Spark expression holds — PROVIDED the literal actually
    * parses as DOUBLE: a bare decimal like `1.9639610121239315` parses as
    * DECIMAL first, and DuckDB's DECIMAL→DOUBLE conversion (int128 /
    * 10^scale in floating point) can land 1 ulp off the correctly-rounded
    * parse (measured on the q_ts_pattern literal). An exponent suffix
    * forces the DOUBLE parse path, which is correctly rounded. */
  def sqlDoubles(xs: Array[Double]): String =
    xs.map { x =>
      val s = x.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }.mkString("[", ", ", "]")

  /** Sign-bit LSH bucket as SQL over column `e` (array<double>): bit p set
    * iff e · plane_p >= 0 — mirrors [[graft.functions.HyperplaneBucket]]'s
    * left-fold dot (DuckDB `list_sum` accumulates in the same array order,
    * the bit-exactness contract every cosine oracle here relies on). */
  def sqlLshBucket(planes: Seq[Array[Double]], e: String = "e"): String =
    planes.zipWithIndex.map { case (plane, p) =>
      s"(CASE WHEN list_sum(list_transform(list_zip($e, ${sqlDoubles(plane)}), " +
        s"z -> z[1] * z[2])) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Left-fold cosine between `a.e` and `b.e`, identical accumulation to
    * [[graft.functions.CosineSimilarity]] (same fragment as q_dedup_embed /
    * q_sim_topk, which hash-match). */
  def sqlCos(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a.e, $b.e), z -> z[1] * z[2])) / " +
      s"(sqrt(list_sum(list_transform($a.e, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($b.e, x -> x * x))))"

  /** The deterministic doc_id-scheduled markup decoration shared by
    * q_strip_markup and the q_pipeline_web capstone (the q_redact
    * injection pattern): script body, comment, tags, entity cluster,
    * style body — each planted on its own modulus. */
  def webMarkupDecoration: org.apache.spark.sql.Column = concat(
    lit("<html><body>"),
    when(col("doc_id") % 7 === 0,
      lit("<script type=\"text/js\">var x = 1 < 2;</script>"))
      .otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit("<!-- tracking "), col("doc_id"), lit(" -->")))
      .otherwise(lit("")),
    lit("<p class=\"main\">"), col("text"), lit("</p>"),
    when(col("doc_id") % 5 === 0,
      lit("<p>5 &lt; 6 &amp;&amp; &quot;q&#39;s&quot;&nbsp;ok</p>"))
      .otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("<style>p { color: red; }</style>"))
      .otherwise(lit("")),
    lit("</body></html>"))

  /** SQL spelling of [[webMarkupDecoration]] followed by the strip chain
    * GENERATED from the engine's own
    * [[graft.functions.TextFunctions.markupSteps]] — patterns shared
    * verbatim (the redactPii discipline), so the two engines can only
    * agree by running the same rules in the same order. */
  def strippedCleanSql: String = {
    val deco =
      """('<html><body>'
        |  || CASE WHEN doc_id % 7 = 0 THEN '<script type="text/js">var x = 1 < 2;</script>' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN '<!-- tracking ' || doc_id || ' -->' ELSE '' END
        |  || '<p class="main">' || text || '</p>'
        |  || CASE WHEN doc_id % 5 = 0 THEN '<p>5 &lt; 6 &amp;&amp; &quot;q&#39;s&quot;&nbsp;ok</p>' ELSE '' END
        |  || CASE WHEN doc_id % 3 = 0 THEN '<style>p { color: red; }</style>' ELSE '' END
        |  || '</body></html>')""".stripMargin
    def q(s: String) = s.replace("'", "''")
    val chain = graft.functions.TextFunctions.markupSteps.foldLeft(deco) {
      case (acc, (true, re, rep)) =>
        s"regexp_replace($acc, '${q(re)}', '${q(rep)}', 'g')"
      case (acc, (false, l, rep)) =>
        s"replace($acc, '${q(l)}', '${q(rep)}')"
    }
    s"trim($chain)"
  }

  /** The q_quality_model demo weight vector: 64 fixed-point (k/10⁶)
    * bucket weights from a deterministic formula — a stand-in for a
    * trained fastText-style artifact, stated as identical decimal
    * literals in the engine plan and the oracle SQL. */
  def bowWeights: Seq[Double] =
    (0 until 64).map(b => ((b * 2654435761L) % 2001 - 1000) / 1e6)
}
