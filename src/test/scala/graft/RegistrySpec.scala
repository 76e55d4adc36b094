package graft

import graft.queries.{Oracle, Q, Registry}
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's invariants: one declaration per name, an oracle
  * (or a reason for none) per query, resolvable headliners and twins, and
  * hash-safe specs that match what their queries actually emit. */
class RegistrySpec extends AnyFunSuite with SparkSpec {

  /** The sf0.001 tables directory, the one `SparkEntry.entry` reads. */
  private lazy val sf: String =
    new java.io.File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent

  test("every query name is declared once") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("declared twice: ", ", ", ""))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("derived views: 338 queries, 256 headliners, 332 SQL oracles") {
    assert(SparkEntry.queries.size == 338)
    assert(Bench.headliners.size == 256)
    assert(Bench.headliners.distinct == Bench.headliners)
    val sqlOracles = Registry.all.count(q => Registry.oracleOf(q).isInstanceOf[Oracle.Sql])
    assert(sqlOracles == 332)
    // fitted oracles join once their queries ran (other suites may run them)
    assert(SparkEntry.oracleSql.size >= 332 && SparkEntry.oracleSql.size <= 336)
  }

  test("every query has an oracle, a fitted oracle or a named reason") {
    val byKind = Registry.all.groupBy(q => Registry.oracleOf(q).getClass.getSimpleName)
      .map { case (k, qs) => k -> qs.map(_.name).toSet }
    assert(byKind.keySet == Set("Sql", "Fitted", "Unchecked"))
    assert(byKind("Fitted") ==
      Set("q_sim_ivf", "q_ann_recall_refined", "q_bitext_ivf_trained", "q_pca_project"))
    assert(byKind("Unchecked") == Set("q_compress_signal", "q_profile_sketch"))
    Registry.all.foreach {
      case Q(name, _, Oracle.Unchecked(reason), _) =>
        assert(reason.trim.nonEmpty, s"$name has no reason for lacking an oracle")
      case _ =>
    }
  }

  test("every headliner and every twin reference resolves") {
    assert(Bench.headliners.forall(SparkEntry.queries.contains))
    val twins = Registry.all.collect { case Q(name, _, Oracle.Twin(of), _) => name -> of }
    assert(twins.size == 18)
    val sqls = SparkEntry.oracleSql
    twins.foreach { case (name, of) =>
      val target = Registry.byName.get(of)
      assert(target.nonEmpty, s"$name is a twin of undeclared $of")
      assert(!target.get.oracle.isInstanceOf[Oracle.Twin], s"$name: twin of twin $of")
      assert(sqls.get(name) == sqls.get(of))
    }
  }

  test("hash-safe specs list the raw build's columns in order and star its decimals") {
    val specs = Registry.all.flatMap(q => Registry.oracleOf(q) match {
      case Oracle.Sql(_, Some(spec)) => Some(q -> spec)
      case _ => None
    })
    assert(specs.size == 22)
    specs.foreach { case (q, spec) =>
      val schema = q.build(spark, sf).schema
      val cols = Registry.specColumns(spec)
      assert(cols.map(_._1) == schema.fieldNames.toSeq, s"${q.name}: spec $spec")
      assert(cols.filter(_._2).map(_._1).toSet ==
        schema.fields.filter(_.dataType.isInstanceOf[DecimalType]).map(_.name).toSet,
        s"${q.name}: starred columns of $spec are not the decimal ones")
    }
  }
}
