package graft

import org.apache.spark.sql.SpillableRuns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The block-replay sort-merge join must return exactly what Spark's
  * own join returns: multi-column keys, null keys on both sides, keys
  * present on one side only, a non-equi condition, the marked frame on
  * either side, and spilled runs replayed over several blocks per key
  * (buffer thresholds of 8 rows, ~18 streamed rows per key). */
class BlockSortMergeJoinSpec extends AnyFunSuite {
  import TestSpark.spark

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("a join with a marked spillable run matches Spark's join, either side, spilled runs") {
    val state = spark.range(0, 3000).select(
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 7).as("sk"),
      (col("id") % 3).as("sk2"), col("id").as("x"))
    val edges = spark.range(0, 500).select(
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") % 9).as("ek"),
      (col("id") % 3).as("ek2"), col("id").as("y"))
    val on = col("ek") === col("sk") && col("ek2") === col("sk2") &&
      col("y") * 5 < col("x")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("ek", "ek2", "y", "sk", "sk2", "x").collect()
        .map(_.toSeq.mkString(",")).sorted.toSeq
    // Under the session's own thresholds: Spark's sort-merge join would
    // itself run out of heap on the spill settings below (the replay
    // cost the block join removes).
    val expected = rows(edges.join(state, on))
    assert(expected.nonEmpty)
    withConf(
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "8",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val marked = SpillableRuns.mark(state)
      for ((name, joined) <- Seq(
          "marked right" -> edges.join(marked, on),
          "marked left" -> marked.join(edges, on))) {
        assert(joined.queryExecution.executedPlan.toString.contains("BlockSortMergeJoin"),
          s"$name: not planned as a block sort-merge join")
        assert(rows(joined) == expected, s"$name: rows differ from Spark's join")
      }
    }
  }
}
