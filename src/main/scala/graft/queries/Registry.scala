package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Every declared query, in family order. `SparkEntry.queries`,
  * `SparkEntry.oracleSql` and `Bench.headliners` are views of it.
  *
  * Numeric outputs are designed for bit-exact cross-engine agreement: sums
  * go through exact DECIMAL accumulation (the source data carries <=2
  * decimal places), divisions and cosines use a fixed sequential left-fold
  * accumulation (Spark `aggregate` HOF == DuckDB `list_sum`), and no
  * floating round() is relied on anywhere a hash must match. */
object Registry {

  val all: Seq[Q] = Seq(
    ReferenceQueries.all, RelationalQueries.all, EventQueries.all, GraphQueries.all,
    StatsQueries.all, TextQueries.all, DatasetQueries.all, DedupQueries.all,
    SearchQueries.all, StreamQueries.all, MediaQueries.all).flatten

  val byName: Map[String, Q] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  all.foreach(q => q.oracle match {
    case Oracle.Twin(of) => require(byName.get(of).exists(!_.oracle.isInstanceOf[Oracle.Twin]),
      s"${q.name}: twin of $of, which is not a query with an oracle of its own")
    case _ =>
  })

  /** The oracle `q` is checked against: a twin's is the one it names. */
  def oracleOf(q: Q): Oracle = q.oracle match {
    case Oracle.Twin(of) => byName(of).oracle
    case o => o
  }

  /** A hash-safe spec as (column, starred) pairs. */
  def specColumns(spec: String): Seq[(String, Boolean)] =
    spec.split(",").toSeq.map(_.trim).map(c => (c.stripSuffix("*"), c.endsWith("*")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = all.map { q =>
    q.name -> (oracleOf(q) match {
      case Oracle.Sql(_, Some(spec)) =>
        val cols = specColumns(spec).map {
          case (n, true) => col(n).cast("string").as(n)
          case (n, false) => col(n)
        }
        (s: SparkSession, dir: String) => q.build(s, dir).select(cols: _*)
      case _ => q.build
    })
  }.toMap

  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Oracle SQL by query name, rebuilt per call: a fitted oracle appears
    * once its query has run in this JVM. */
  def oracleSql: Map[String, String] = all.flatMap { q =>
    (oracleOf(q) match {
      case Oracle.Sql(text, None) => Some(text())
      case Oracle.Sql(text, Some(spec)) =>
        val items = specColumns(spec).map {
          case (n, true) => s"CAST($n AS VARCHAR) AS $n"
          case (n, false) => n
        }
        Some(s"SELECT ${items.mkString(", ")} FROM (\n${text()}\n) __hs")
      case Oracle.Fitted(read) =>
        val sql = read()
        if (sql.isEmpty && warned.add(q.name))
          System.err.println(s"WARN oracleSql: ${q.name} oracle OMITTED — it embeds " +
            s"what ${q.name} fitted, and ${q.name} has not run in this JVM (run it " +
            "before reading oracleSql); the gate degrades to rows-only")
        sql
      case _ => None
    }).map(q.name -> _)
  }.toMap

  val headliners: Seq[String] = all.filter(_.bench).map(_.name)
}
