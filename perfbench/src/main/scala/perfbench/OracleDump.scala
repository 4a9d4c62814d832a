package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes the DuckDB oracle SQL of the suite's queries as one JSON object,
  * from which `run.py` computes the oracle answers once per build.
  *
  * Usage: OracleDump FILE */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(args(0)),
      Json.value(QuerySuite.Queries.flatMap(q => oracles.get(q).map(q -> _)).toMap))
  }
}
