package graft

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: every declared query by name, with its DuckDB oracle
  * SQL, covering each implemented operator from SURVEY.md §2 (the
  * reference's FILTER / COLUMN_FILTER / TRANSFORM family / AGGREGATE running
  * count, Operators.java:13-19) plus the scale-path extension operators
  * (dedup, similarity search, multimodal, text analysis). Each query is
  * declared once, as a `Q` in its family file under `graft/queries`; these
  * are views of [[graft.queries.Registry]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  def oracleSql: Map[String, String] = Registry.oracleSql
}
