package graft.tools
import graft.SparkEntry

/** Dump every declared query's OUTPUT SCHEMA (no execution — schema only)
  * as one JSON line per query: {"name": ..., "schema": "col:type,..."}.
  * Diagnostic for correlating result-shape properties (e.g. decimal+double
  * column mixes) with the driver's hash-gate outcomes. */
object SchemaDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Probe.session("graft-schemadump")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val s =
        try fn(spark, sfDir).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        catch { case e: Throwable => s"ERR ${e.getClass.getSimpleName}" }
      println(s"""SCHEMA {"name": "$name", "schema": "$s"}""")
    }
    spark.stop()
  }
}
