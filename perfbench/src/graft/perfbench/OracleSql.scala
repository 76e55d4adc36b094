package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the mix queries as one JSON object, for
  * perfbench/oracle/make_expected.py. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = PipelineMix.queries.map(q => q -> graft.SparkEntry.oracleSql(q))
    Files.write(Paths.get(args(0)), (Json.obj(sql) + "\n").getBytes(UTF_8))
  }
}
