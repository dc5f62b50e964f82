package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's `queries` (Spark impl) and
  * `oracles` (DuckDB-equivalent SQL). Invariant: each oracle key has a
  * queries entry with identical output column names (the driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextOps.queries ++ DedupOps.queries ++
      SimilarityOps.queries ++ MultimodalOps.queries ++
      EventOps.queries ++ GraphOps.queries ++ SkewOps.queries ++
      graft.sources.Formats.queries ++ graft.streaming.StreamOps.queries

  /** The queries a dev main runs: the `asked` names, sorted, or every
    * registered query when none is asked. A typo must fail loudly
    * (ADVICE r9): a silently dropped name runs a smaller set than
    * asked — an empty bench run, or a missing .plan file that makes
    * the two-boot plan diff (`Bench --plans`) vacuously pass for that
    * query. */
  private[graft] def selectQueries(asked: Seq[String]): Seq[String] = {
    val unknown = asked.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — " +
        "check SparkEntry.queries keys")
    (if (asked.isEmpty) queries.keys.toSeq else asked).sorted
  }

  /** A JSON string literal: escapes backslash, quote and every control
    * character (<0x20). A tab or CR in an oracle's SQL would otherwise
    * make the correctness compare's `json.load` fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextOps.oracles ++ DedupOps.oracles ++
      SimilarityOps.oracles ++ MultimodalOps.oracles ++
      EventOps.oracles ++ GraphOps.oracles ++ SkewOps.oracles ++
      graft.sources.Formats.oracles ++ graft.streaming.StreamOps.oracles
}
