package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** The co-purchase pair counts behind q26, q36, GraphPin and the graph
  * family: one sorted pass per order must count exactly what the
  * self-join formula counts — distinct (order, part) items joined on
  * the order, p1 < p2, orders per pair. */
class CoPurchaseSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private object Aqe extends AdaptiveSparkPlanHelper

  /** The formula the one-pass derivation replaces, computed here. */
  private def selfJoinPairs(lines: DataFrame): DataFrame = {
    val items = lines.select("l_orderkey", "l_partkey").distinct()
    items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
  }

  test("pairs from one pass per order equal the self-join formula on a fixture") {
    val n: java.lang.Long = null
    // Written as three files, so the scan reads them as three input
    // partitions and order 5's rows start out in two of them.
    val files: Seq[Seq[(java.lang.Long, java.lang.Long)]] = Seq(
      Seq((1L, 10L), (1L, 20L), (1L, 10L), // a duplicate line counts once
        (2L, 30L),                          // a single-item order: no pair
        (n, 10L), (n, 20L),                 // null orders: dropped
        (5L, 20L), (5L, 30L)),
      Seq((4L, 10L), (4L, n), (4L, 20L),   // a null part: dropped
        (6L, 40L), (6L, 40L),               // one part twice: no pair
        (5L, 10L), (5L, 30L)),
      (1L to 7L).map(p => (3L: java.lang.Long, (100L + p): java.lang.Long))) // 21 pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_copurchase_")
    try {
      val path = s"$dir/lineitem.parquet"
      files.foreach(rows => rows.toDF("l_orderkey", "l_partkey").coalesce(1)
        .write.mode("append").parquet(path))
      val lines = Tables(spark, dir.toString).lineitem
      assert(lines.filter(col("l_orderkey") === 5)
        .select(spark_partition_id()).distinct().count() == 2,
        "order 5 should span two input partitions")

      val pairs = Relational.coPurchasePairCounts(spark, dir.toString)
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = Map((10L, 20L) -> 3L, (10L, 30L) -> 1L, (20L, 30L) -> 1L) ++
        (for (a <- 101L to 107L; b <- a + 1 to 107L) yield (a, b) -> 1L)
      assert(got == want)

      val formula = selfJoinPairs(lines)
      assert(pairs.exceptAll(formula).isEmpty && formula.exceptAll(pairs).isEmpty)

      val joins = Aqe.collect(pairs.queryExecution.executedPlan) { case j: BaseJoinExec => j }
      assert(joins.isEmpty, pairs.queryExecution.executedPlan.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
