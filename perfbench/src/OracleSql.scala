package perfbench

import java.nio.file.{Files, Paths}

import graft.queries.AllQueries

/** Writes the DuckDB oracle SQL of the named registry queries as one JSON
  * object. usage: perfbench.OracleSql <out.json> <query,query,...> */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = args(1).split(",").toSeq.flatMap(q => AllQueries.oracles.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(args(0)), Harness.json(sql))
  }
}
