package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Physical-plan shape assertions (the 100 TB posture, SURVEY.md §5):
  * filters/projections reach the parquet scan, dims broadcast, top-k
  * avoids global sort. Uses explain("formatted") text — the same
  * evidence a human plan audit reads.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private object Aqe extends AdaptiveSparkPlanHelper

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("q02 pushes filters and prunes columns at the scan") {
    val p = plan(Relational.q02FilterProject(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity"), p)
    // pruned read schema: no l_shipdate/l_comment in the scan
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("q06 pushes its selective predicates to the scan") {
    val p = plan(Relational.q06ForecastRevenue(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q05 star join broadcasts the dimension tables") {
    val p = plan(Relational.q05LocalSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q14 broadcasts part") {
    val p = plan(Relational.q14ConditionalAgg(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q03 top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q03ShippingPriority(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q08 top-k plans TakeOrderedAndProject") {
    val p = plan(Relational.q08TopkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q12 plans a left-semi join") {
    val p = plan(Relational.q12SemiJoin(spark, sf))
    assert(p.contains("LeftSemi"), p)
  }

  test("q11 plans a left-anti join") {
    val p = plan(Relational.q11AntiJoin(spark, sf))
    assert(p.contains("LeftAnti"), p)
  }

  // The runtime-filter posture for 100 TB fact-fact joins: when one side
  // carries a selective non-join predicate and the other is a huge scan,
  // Catalyst (InjectRuntimeFilter) builds a bloom filter from the
  // selective side and pushes a bloom_filter_might_contain probe into
  // the big side's scan — rows that cannot join are dropped BEFORE the
  // shuffle. The production size thresholds (10 GB application-side
  // scan) can't trigger at test scale, so this spec lowers them to
  // demonstrate the mechanism; the session-default confs stay untouched.
  test("q25 top-20 plans TakeOrderedAndProject over the aggregate") {
    val p = plan(Relational.q25ReturnedItems(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q26 basket pairs scans lineitem once, exchanges it once on l_orderkey, joins nothing") {
    // Broadcast off = the 100 TB shuffle path. The pairs come from one
    // sorted pass per order over items hash-partitioned on l_orderkey:
    // one scan, one exchange on the order key, and no join at all.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      // AQE plans stage by stage, so the evidence lives in the
      // executed adaptive plan, not the static explain.
      val df = Relational.q26BasketPairs(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan
      val scans = Aqe.collect(p) { case s: FileSourceScanExec => s.relation.location.rootPaths }
      assert(scans.size == 1 && scans.head.forall(_.getName == "lineitem.parquet"), p)
      val byOrder = Aqe.collect(p) {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.startsWith("hashpartitioning(l_orderkey") => e
      }
      assert(byOrder.size == 1, p)
      assert(Aqe.collect(p) { case j: BaseJoinExec => j }.isEmpty, p)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("mr_secondary_sort pushes the rank predicate into a WindowGroupLimit") {
    val p = plan(Relational.mrSecondarySort(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("emb_outliers bottom-3 is a WindowGroupLimit, centroids broadcast") {
    val p = plan(graft.operators.SimilarityOps.embOutliers(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("runtime bloom filter injects into the big side of a selective fact-fact join") {
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle-join shape
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = Tables(spark, sf)
      val selective = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      val j = t.lineitem
        .join(selective, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"), optimized.take(3000))
      assert(optimized.contains("bloom_filter_agg"), optimized.take(3000))
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ---- SizeGate default-cap derivation (VERDICT r7 #4): the default
  // broadcast row cap scales with the session's memory conf instead of
  // being a sandbox-sized constant, floored at the measured-safe 8M.

  test("SizeGate derived row cap maps heap bounds to row caps, floored at 8M") {
    import graft.plans.SizeGate
    // No memory bound derivable → the r7 constant floor.
    assert(SizeGate.derivedRowCap(None) == SizeGate.DefaultRowCap)
    // 1 GiB heap: 1/8 = 128 MiB / 96 B ≈ 1.4M rows < floor → floor.
    assert(SizeGate.derivedRowCap(Some(1L << 30)) == SizeGate.DefaultRowCap)
    // 16 GiB heap: 2 GiB budget / (48 B × 2 relation overhead) ≈ 22.4M
    // rows — scales past the floor exactly as budget over BUILT bytes
    // (ADVICE r8: a HashedRelation costs ~2× the raw rows).
    assert(SizeGate.derivedRowCap(Some(16L << 30))
      == (2L << 30) / (SizeGate.RowWidthBytes * SizeGate.RelationOverhead))
    // Memory-rich (128 GiB): the budget clamps at 4 GiB of BUILT
    // relation — half the 8 GiB broadcast hard ceiling — so a
    // big-memory session can never derive itself back into the
    // die-instead-of-degrade regime.
    assert(SizeGate.derivedRowCap(Some(128L << 30))
      == SizeGate.MaxBroadcastBytes /
        (SizeGate.RowWidthBytes * SizeGate.RelationOverhead))
    // Monotone in memory: more heap never lowers the cap.
    val caps = Seq(1L, 2L, 8L, 32L, 64L, 128L)
      .map(g => SizeGate.derivedRowCap(Some(g << 30)))
    assert(caps == caps.sorted)
  }

  test("SizeGate SHJ slots: local master ignores a copied-in executor.cores (ADVICE r8)") {
    import graft.plans.SizeGate
    // local[] shares ONE heap across all par slots — a cluster conf
    // left in spark-defaults must not inflate the SHJ bound par/cores×.
    assert(SizeGate.slotsPerExecutor("local[32]", Some("4"), 32) == 32)
    assert(SizeGate.slotsPerExecutor("local[*]", None, 16) == 16)
    // Cluster master: the conf IS the executor width; absent conf
    // collapses to the always-safe all-slots-one-executor assumption.
    assert(SizeGate.slotsPerExecutor("spark://m:7077", Some("4"), 32) == 4)
    assert(SizeGate.slotsPerExecutor("yarn", None, 64) == 64)
    intercept[IllegalArgumentException] {
      SizeGate.slotsPerExecutor("yarn", Some("four"), 8)
    }
  }

  test("SizeGate conf override beats the derived default (the degraded-path driver)") {
    import graft.plans.SizeGate
    val df = spark.range(1).toDF("v")
    // The local session derives from the JVM heap — whatever it is,
    // it must respect the floor.
    assert(SizeGate.rowCap(df) >= SizeGate.DefaultRowCap)
    spark.conf.set(SizeGate.CapConf, "123")
    try {
      assert(SizeGate.rowCap(df) == 123L)
      assert(SizeGate.fits(df, 123L) && !SizeGate.fits(df, 124L))
    } finally spark.conf.unset(SizeGate.CapConf)
  }
}
