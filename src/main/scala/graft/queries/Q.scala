package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the builder that makes its DataFrame from a
  * session and a testdata directory, the DuckDB [[Oracle]] its output is
  * checked against, and `bench`: whether Bench times it as a headliner.
  * Each query is one `Q` in its family file; [[Registry]] collects them. */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    bench: Boolean = false)

/** How a query's output is checked against DuckDB. */
sealed trait Oracle

object Oracle {

  /** DuckDB SQL over the same parquet tables by name; every alias matches
    * the Spark column name (the hash gate sorts columns by name and hashes).
    *
    * `hashSafe` is a column spec `"a,b*,c"`: every output column in order,
    * each DECIMAL one starred. The registry casts the starred columns to
    * STRING on the build side and to VARCHAR on the oracle side (exact
    * digits; scale-0 decimals print as the same plain signed digits in
    * both engines), so one spec drives both. The hash gate canonicalizes
    * DECIMAL columns differently on its two read paths: all 22 of its
    * hash_match failures in one round were exactly the decimal-emitting
    * queries, while scripts/bit_check.py found no value difference (see
    * OPTIMIZATION_r19.md). */
  final case class Sql(text: () => String, hashSafe: Option[String]) extends Oracle

  /** SQL that embeds what the query fitted on its last run in this JVM
    * (centroids, components: seed-pinned but data-dependent), so it is
    * `None` until the query has run. Verify runs every query before it
    * reads [[Registry.oracleSql]]. */
  final case class Fitted(read: () => Option[String]) extends Oracle

  /** The oracle of another query whose output is the same relation (a
    * streaming gate and its batch query, an approximate path and the exact
    * one it must equal). */
  final case class Twin(of: String) extends Oracle

  /** No DuckDB restatement exists; the hash gate checks only that rows
    * come back. `reason` says why. */
  final case class Unchecked(reason: String) extends Oracle
}

/** The oracle constructors the family files declare queries with. */
object Q {
  def sql(text: => String): Oracle = Oracle.Sql(() => text, None)
  def hashSafe(spec: String)(text: => String): Oracle = Oracle.Sql(() => text, Some(spec))
  def fitted(read: => Option[String]): Oracle = Oracle.Fitted(() => read)
  def twin(of: String): Oracle = Oracle.Twin(of)
  def unchecked(reason: String): Oracle = Oracle.Unchecked(reason)
}
