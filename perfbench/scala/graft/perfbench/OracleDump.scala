package graft.perfbench

import graft.SparkEntry

/** Writes `SparkEntry.oracleSql` for the named queries as one JSON object
  * (query → DuckDB SQL, or null when the query has no oracle) to the file
  * given first. Used by `perfbench/make_digests.py`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    val out = args.tail.map(q => q -> oracles.get(q)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.head),
      Json(out))
  }
}
