package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.{AdaptivePar, Checkpoints}

/** Relational query layer + MapReduce-core operators (SURVEY.md §2.1–2.2).
  *
  * Design rules (see SURVEY.md §5–6):
  *  - pure DataFrame API → Catalyst gets pushdown/pruning/join-reorder;
  *  - dimension tables carry an explicit `broadcast()` hint;
  *  - every output has a deterministic total ORDER BY (incl. unique
  *    tiebreak) and identical column aliases to the DuckDB oracle;
  *  - double aggregates are `round(_, 3|4)` because shuffle-order
  *    double summation is not bit-stable.
  *
  * Scale notes: top-k goes through TakeOrderedAndProject (per-partition
  * heaps, no global sort); all groupBys partial-aggregate map-side;
  * fact-fact joins shuffle on their key and rely on AQE skew handling.
  */
object Relational {

  /** Order-independent money aggregation (the pattern the q05 bucketed
    * twin forced at sf0.1 — see q05Body): the money columns are
    * fixed-2-decimal values, so summing exact BIGINT cent units (with
    * a DECIMAL(38,0) accumulator for 100 TB headroom; DuckDB widens to
    * INT128 on its own) makes every sum independent of shuffle order —
    * a plan or partitioning change can never move a rounded digit
    * again. Quantity sums stay plain: quantities are integral doubles,
    * and integer-valued double sums below 2^53 are already exact in
    * any order. */
  private def centsSum(c: String) =
    sum(expr(s"CAST(round(($c) * 100) AS BIGINT)").cast("decimal(38,0)"))
      .cast("double")

  /** Σ price·(1−discount) rounded to 3 decimals WHOLLY in integers.
    * The exact sum has 4 decimal digits (1e-4 units), so "round to 3"
    * is (S + 5) div 10 — integer half-up. Rounding the double quotient
    * instead hit an exact-half boundary at sf0.1 where Spark
    * (BigDecimal HALF_UP on the double) and DuckDB (libm round of the
    * double) disagree by 0.001; in integer space both engines compute
    * the identical value, then the /1000 division maps it to the
    * identical double. */
  private def discRev3 =
    expr("CAST((sum(CAST(" +
      "CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))" +
      " AS DECIMAL(38,0))) + 5) div 10 AS DOUBLE) / 1000")

  /** TPC-H Q1 shape: multi-aggregate scan over the biggest fact table. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 3).as("sum_qty"),
        round(centsSum("l_extendedprice") / 100, 3).as("sum_base_price"),
        discRev3.as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(centsSum("l_discount") / 100 / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** map+filter with full scan pushdown (PushedFilters + pruned ReadSchema). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_quantity") >= 48 && col("l_discount") >= 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q3 shape: 3-way join, agg, top-10 by revenue. */
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(t.lineitem.filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(discRev3.as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4 shape: EXISTS as a left-semi join. */
  def q04OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(t.lineitem.filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q5 shape: 6-way star join; all dims broadcast. */
  def q05LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    q05Body(t, t.orders, t.lineitem)
  }

  /** q05 on the bucketed-by-orderkey fact layout
    * (Formats.bucketedFacts): identical result (same oracle as
    * q05_local_supplier); the orders⋈lineitem exchange AND both sorts
    * vanish because the layout already provides the join's required
    * distribution and order. The plan assertion lives in FormatsSpec. */
  def q05Bucketed(spark: SparkSession, dir: String): DataFrame = {
    val (o, l) = graft.sources.Formats.bucketedFacts(spark, dir)
    q05Body(Tables(spark, dir), o, l)
  }

  private def q05Body(t: Tables, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    t.customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      // Fixed-point BIGINT units (the graph_pagerank parity pattern):
      // price and discount are 2-decimal values, so P·(100−D) is an
      // exact integer per row and the sum is ORDER-INDEPENDENT — a
      // double sum here rounded differently per partitioning (the
      // bucketed twin hit 46379781.294 vs .293 at sf0.1). DECIMAL(38,0)
      // accumulator: an int64 sum is safe to ~1e9 rows but this query's
      // whole point is surviving 100x scale (DuckDB widens to INT128 on
      // its own).
      .agg(discRev3.as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** TPC-H Q6 shape: selective scan + single global aggregate. */
  def q06ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(expr("CAST((sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT) AS DECIMAL(38,0))) + 5) div 10 AS DOUBLE) / 1000")
        .as("revenue"))

  /** distinct = shuffle dedup. */
  def q07Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select("c_nationkey", "c_mktsegment").distinct()
      .orderBy("c_nationkey", "c_mktsegment")

  /** top-k: Catalyst plans TakeOrderedAndProject (no global sort). */
  def q08TopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(20)

  /** Window rank per group (top-5 customers per segment by balance). */
  def q09WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"))
    Tables(spark, dir).customer
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 5)
      .orderBy("c_mktsegment", "rnk", "c_custkey")
  }

  /** union of mapped branches. */
  def q10UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.select(col("c_custkey").as("id"), lit("customer").as("kind"))
      .unionAll(t.supplier.select(col("s_suppkey").as("id"), lit("supplier").as("kind")))
      .orderBy("kind", "id")
  }

  /** NOT EXISTS as a left-anti join (customers with no orders). */
  def q11AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** left-semi with pushed predicate on the probe side. */
  def q12SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.supplier
      .join(t.lineitem.filter(col("l_quantity") >= 49),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** groupBy + HAVING. */
  def q13GroupbyHaving(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
      .orderBy("c_nationkey")

  /** TPC-H Q14 shape: CASE-WHEN conditional aggregation over a join. */
  def q14ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val units = "CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))"
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-09-01").cast("timestamp"))
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(expr(s"CASE WHEN p_type = 'PROMO' THEN $units ELSE 0 END")
            .cast("decimal(38,0)")).cast("double")
          / sum(expr(units).cast("decimal(38,0)")).cast("double"),
        4).as("promo_pct"))
  }

  /** Global reduce: the redmap `reduce` primitive over the fact table. */
  def aggReduceStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem.agg(
      count(lit(1)).as("n"),
      round(sum("l_quantity"), 3).as("sum_qty"),
      round(centsSum("l_extendedprice") / 100 / count(lit(1)), 4).as("avg_price"),
      min("l_extendedprice").as("min_price"),
      max("l_extendedprice").as("max_price"),
      countDistinct("l_orderkey").as("n_orders"))

  /** Time-bucketed aggregation over the events stream table. */
  def evHourlyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 3).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Gap-based sessionization (30-min inactivity) via window lag +
    * cumulative session counting; micro-second integer arithmetic so the
    * oracle comparison is exact. */
  def evSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeBody(Tables(spark, dir).events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id")))

  /** ev_sessionize on the bucketed-by-user events layout
    * (Formats.bucketedEvents): identical result (same oracle); the
    * user_id exchange under the window AND its sort both vanish — the
    * layout's (user_id, tus, event_id) sort prefix is exactly the
    * window order. FormatsSpec asserts the plan shape. */
  def evSessionizeBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionizeBody(graft.sources.Formats.bucketedEvents(spark, dir)
      .select("user_id", "tus", "event_id"))

  private def sessionizeBody(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ev
      .withColumn("prev", lag("tus", 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull || col("tus") - col("prev") > 1800000000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("is_new").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Global total-order sort — redmap's `sort` primitive. Spark plans a
    * range exchange (sampled split points, one sorted run per partition,
    * no single-node sort), the distributed equivalent of a
    * TotalOrderPartitioner job. */
  def mrSortGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(desc("c_acctbal"), col("c_custkey"))

  /** As-of join: each 'click' event matched to the same user's latest
    * 'view' event at-or-before it (the canonical time-series point-in-
    * time join; DuckDB expresses it natively as ASOF LEFT JOIN).
    *
    * Implementation is the union-scan pattern, NOT a join: tag both
    * sides, sort per user by (time, side), and carry the last view value
    * forward with a running `last(ignoreNulls)` window. One shuffle on
    * user_id, no pair explosion, immune to time-range skew — at 100 TB
    * this beats a range join by construction. */
  def evAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), col("event_id"), lit(0).as("side"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus"), col("event_id"), lit(1).as("side"), col("value"))
    // side orders views before clicks at equal timestamps — same tie rule
    // as ASOF's ts >= condition ((user_id, ts) is unique in the data, so
    // this only pins determinism).
    val w = Window.partitionBy("user_id")
      .orderBy("tus", "side", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("prev_view_value",
        last(when(col("side") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id"), col("value").as("click_value"),
        col("prev_view_value"))
      .orderBy("user_id", "event_id")
  }

  /** Exact interpolated percentiles per group (both engines use linear
    * interpolation: Spark `percentile`, DuckDB `quantile_cont`). */
  def aggPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy("event_type")

  /** EXACT per-group median — distributed rank selection WITHOUT a
    * global sort, and without the engine-specific quantile
    * interpolation agg_percentiles leans on: rows collapse to a
    * (group, value) HISTOGRAM first (partial-aggregated, and bounded
    * by the VALUE DOMAIN — money has ≤1e7 distinct cents whatever the
    * row count, so the histogram stops growing at 100 TB even though
    * the corpus doesn't), then a domain-sized cumulative count locates
    * the rank-⌈n/2⌉ value (the LOWER median — a row that exists, no
    * interpolation, no FP). The median is an exact cents integer; /100
    * is the only double.
    *
    * This is the counting-selection idiom every exact-quantile-at-
    * scale system uses — and the same histogram serves any rank for
    * free: the query reports BOTH the median (rank ⌈n/2⌉) and p90
    * (rank ⌈9n/10⌉) from one cumulative pass, proving the claim in
    * the gated output rather than a comment. */
  def aggExactMedian(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir).orders
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("o_orderpriority", "c")
      .agg(count(lit(1)).as("cnt"))
    val tot = h.groupBy("o_orderpriority").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("o_orderpriority").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Both ranks selected in ONE pass over the cumulative rows (a rank
    // matches exactly one histogram row, so min(when(...)) picks it;
    // one row may serve both ranks): a rankPick-join formulation would
    // consume the histogram+window subtree twice — no CSE across the
    // self-join, 9 shuffles instead of 5 (PlanAuditSpec caught it).
    h.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), "o_orderpriority")
      .filter((col("cum") - col("cnt") < expr("(n + 1) div 2") &&
        expr("(n + 1) div 2") <= col("cum")) ||
        (col("cum") - col("cnt") < expr("(9 * n + 9) div 10") &&
          expr("(9 * n + 9) div 10") <= col("cum")))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        (min(when(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"), col("c")))
          .cast("double") / 100).as("median"),
        (min(when(col("cum") - col("cnt") < expr("(9 * n + 9) div 10") &&
          expr("(9 * n + 9) div 10") <= col("cum"), col("c")))
          .cast("double") / 100).as("p90"))
      .orderBy("o_orderpriority")
  }

  /** Mergeable equi-width histogram-quantile SKETCH, gated against the
    * exact answer — the quantile member of the sketch family
    * (HLL/KMV/CMS cover distinct/heavy-hitters; this covers
    * percentiles): 1024 equi-width bins over [min, max] whose counts
    * are a semilattice (bin counts ADD across shards/days — the
    * mergeable property exact quantiles lack, and why a 100 TB
    * fleet's per-hour quantile rollups ship bin vectors, not values),
    * quantile estimate = lower edge of the first bin whose cumulative
    * count reaches the rank — deterministic integer arithmetic
    * end-to-end, error bounded by one bin width by construction.
    *
    * The query reports the sketch estimate NEXT TO the exact
    * counting-selection value ([[aggExactMedian]]'s histogram) for
    * p50/p90/p99 with the signed error in cents — the
    * [[graft.operators.SimilarityOps]] sim_recall_eval move: the
    * accuracy gate IS a gated query, not a comment. One checkpointed
    * value-domain histogram feeds bounds, bins, and the exact side;
    * both cumulative windows are single-partition but DOMAIN-bounded
    * (≤1024 bins; ≤|distinct cents| rows), never corpus-sized. */
  def aggQuantileBins(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir).lineitem
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .groupBy("c").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bounds = h.agg(min("c").as("lo"), max("c").as("hi"),
      sum("cnt").as("n"))
    val ranks = bounds
      .select(explode(array(lit(50), lit(90), lit(99))).as("q"),
        col("n"), col("lo"), col("hi"))
      .select(col("q"), expr("(q * n + 99) div 100").as("r"),
        col("lo"), col("hi"))
    val bins = h.crossJoin(broadcast(bounds))
      .groupBy(expr("((c - lo) * 1024) div (hi - lo + 1)").as("b"))
      .agg(sum("cnt").as("bc"))
    val wb = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = bins.withColumn("cum", sum("bc").over(wb))
      .join(broadcast(ranks), col("cum") >= col("r"))
      .groupBy("q")
      .agg(min("b").as("eb"), max("lo").as("lo"), max("hi").as("hi"))
      .select(col("q"),
        expr("lo + (eb * (hi - lo + 1)) div 1024").as("est_cents"))
    val wc = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ex = h.withColumn("cum", sum("cnt").over(wc))
      .join(broadcast(ranks.select("q", "r")), col("cum") >= col("r"))
      .groupBy("q").agg(min("c").as("exact_cents"))
    est.join(ex, "q")
      .select(col("q"), col("est_cents"), col("exact_cents"),
        (col("est_cents") - col("exact_cents")).as("err_cents"))
      .orderBy("q")
  }

  /** Exact WEIGHTED median — [[aggExactMedian]]'s counting selection
    * with per-row weights (unit price weighted by quantity: "the
    * price at which half the VOLUME trades", the volume-weighted
    * benchmark a naive row-median misstates whenever weight and value
    * correlate). Identical scale shape: value-domain histogram with
    * exact BIGINT weight mass, one cumulative window, the rank pick
    * is the first value whose running mass reaches half the total —
    * all-integer (2·cum ≥ W), no interpolation. */
  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir).lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_cents"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag", "unit_cents")
      .agg(sum("q").as("mass"))
    val w = Window.partitionBy("l_returnflag").orderBy("unit_cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum", sum("mass").over(w))
      .join(broadcast(h.groupBy("l_returnflag").agg(sum("mass").as("tw"))),
        "l_returnflag")
      .filter(col("cum") - col("mass") < expr("(tw + 1) div 2")
        && expr("(tw + 1) div 2") <= col("cum"))
      .groupBy("l_returnflag")
      .agg(max("tw").as("total_weight"),
        (min("unit_cents").cast("double") / 100).as("weighted_median"))
      .orderBy("l_returnflag")
  }

  /** FULL OUTER join — the one join type the suite's q05/q11/q12
    * family didn't yet gate (inner/left/semi/anti are covered): per
    * nation, the count of HIGH-BALANCE customers full-outer-joined
    * against the count of high-balance suppliers. The >9900 gate makes
    * both sides sparse, so nations genuinely appear on only one side
    * and the null-fill semantics (the part a full outer join exists
    * for) are exercised in the gated values, not just the plan.
    * Both sides are nation-sized partial aggregates — the join is
    * dim-scale regardless of corpus size. */
  def q38FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val hc = t.customer.filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_rich_customers"))
    val hs = t.supplier.filter(col("s_acctbal") > 9900)
      .groupBy(col("s_nationkey").as("snk"))
      .agg(count(lit(1)).as("n_rich_suppliers"))
    hc.join(hs, col("nk") === col("snk"), "full_outer")
      .select(coalesce(col("nk"), col("snk")).as("nationkey"),
        coalesce(col("n_rich_customers"), lit(0L)).as("n_rich_customers"),
        coalesce(col("n_rich_suppliers"), lit(0L)).as("n_rich_suppliers"))
      .orderBy("nationkey")
  }

  /** Ratio-to-report window (share-of-total within a hierarchy level —
    * the remaining window-function shape next to rank/ntile/lag/moving):
    * each nation's share of its REGION's revenue. Revenue rolls up to
    * exact BIGINT cents per nation first (partial-aggregated,
    * region×nation-sized), the region total is a full-partition window
    * over those ~25 rows (no second scan, no self-join), and the share
    * is ONE division of two exact integers in both engines. */
  def q37RatioToReport(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
    rev
      .withColumn("region_cents",
        sum("rev_cents").over(Window.partitionBy("region")))
      .selectExpr("region", "nation",
        "CAST(rev_cents AS DOUBLE) / 100 AS revenue",
        "CAST(rev_cents AS DOUBLE) / region_cents AS share")
      .orderBy("region", "nation")
  }

  /** The shared moment-combination formulas for [[aggMoments]] — ONE
    * text, fed verbatim to BOTH engines (selectExpr here, CTE columns
    * in the oracle), so the FP expression trees are identical by
    * construction: given bit-equal inputs, each stage's IEEE ops
    * produce bit-equal outputs and no rounding agreement is needed
    * beyond the gate's 6dp. Stage 2 turns exact integer power sums
    * into raw moments; stage 3 centers them; stage 4 normalizes. */
  private val MomStage2 = Seq(
    "CAST(s1 AS DOUBLE) / n AS m1",
    "CAST(s2 AS DOUBLE) / n AS r2",
    "CAST(s3 AS DOUBLE) / n AS r3",
    "CAST(s4 AS DOUBLE) / n AS r4")
  private val MomStage3 = Seq(
    "r2 - m1 * m1 AS m2",
    "r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3",
    "r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1 AS m4")
  private val MomStage4 = Seq(
    "m1 / 100 AS mean",
    "sqrt(m2) / 100 AS stddev_pop",
    "m3 / (m2 * sqrt(m2)) AS skewness",
    "m4 / (m2 * m2) - 3 AS kurtosis_excess")

  /** Exact higher central moments per group — population skewness and
    * excess kurtosis of order value per return flag, the distribution-
    * shape diagnostics (tail asymmetry, outlier weight) a quality
    * pipeline tracks next to [[aggVarianceWelford]]'s spread. ONE
    * partial-aggregated scan accumulates the four raw power sums
    * Σc..Σc⁴ as EXACT DECIMAL(38,0)/HUGEINT integers (cents⁴ ≈ 1e28
    * per row — order-independent integer addition, the cents-sum
    * contract lifted to fourth powers; headroom to ~1e9 rows/group at
    * this price domain, beyond which you shift to group-mean-centered
    * accumulators), and the moment combination runs AFTER aggregation
    * on one row per group via formulas whose TEXT is shared with the
    * oracle — identical IEEE trees, bit-equal doubles. */
  def aggMoments(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .selectExpr("l_returnflag",
        "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0)) AS c")
      .selectExpr("l_returnflag", "c", "c * c AS c2")
      .selectExpr("l_returnflag", "c", "c2", "c2 * c AS c3", "c2 * c2 AS c4")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("c").as("s1"), sum("c2").as("s2"),
        sum("c3").as("s3"), sum("c4").as("s4"))
      .selectExpr("l_returnflag" +: "n" +: MomStage2: _*)
      .selectExpr("l_returnflag" +: "n" +: "m1" +: MomStage3: _*)
      .selectExpr("l_returnflag" +: "n" +: MomStage4: _*)
      .orderBy("l_returnflag")

  private[operators] def aggMomentsOracle: String =
    s"""WITH p AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS c
       |  FROM lineitem),
       |pw AS (SELECT l_returnflag, c, c * c AS c2 FROM p),
       |pw2 AS (SELECT l_returnflag, c, c2, c2 * c AS c3, c2 * c2 AS c4 FROM pw),
       |s AS (
       |  SELECT l_returnflag, count(*) AS n, sum(c) AS s1, sum(c2) AS s2,
       |    sum(c3) AS s3, sum(c4) AS s4
       |  FROM pw2 GROUP BY 1),
       |m AS (SELECT l_returnflag, n, ${MomStage2.mkString(", ")} FROM s),
       |cm AS (SELECT l_returnflag, n, m1, ${MomStage3.mkString(", ")} FROM m)
       |SELECT l_returnflag, n, ${MomStage4.mkString(", ")}
       |FROM cm ORDER BY l_returnflag""".stripMargin

  /** Exact per-nation MEDIAN ABSOLUTE DEVIATION of customer balances —
    * the robust dispersion statistic an outlier-filtering pipeline uses
    * where stddev would be poisoned by the very outliers it screens
    * (flag x when |x − median| > k·MAD is the robust z-score; compare
    * emb_outliers' mean/stddev cut, which this complements with a
    * breakdown point of 50% instead of 0%).
    *
    * Two chained [[aggExactMedian]] value-domain histograms: balances
    * collapse to a (nation, cents) histogram whose cumulative pass
    * locates the lower median; deviations |c − median| then RE-collapse
    * to a second (nation, dev-cents) histogram (folding the mirrored
    * value domain — at most the original bin count, usually fewer) and
    * the same rank selection reads the MAD. Both statistics are exact
    * cents integers chosen from rows that exist — no interpolation, no
    * FP until the final /100 — and both histograms are bounded by the
    * VALUE DOMAIN, not the corpus, so the whole reduction is two
    * partial-aggregated scans + two domain-sized windows at any scale.
    * The median join is broadcast: 25 rows onto a domain-sized side. */
  def aggMad(spark: SparkSession, dir: String): DataFrame = {
    // The histogram feeds BOTH median passes — localCheckpoint'ed so
    // the scan+aggregate subtree isn't re-planned per consumer (the
    // rankPick-join CSE trap above: un-cut, this query plans 14
    // shuffles and scans customer twice; cut, 7 and once). Domain-
    // bounded rows, so the materialization is small at any scale.
    val h = Tables(spark, dir).customer
      .select(col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("c"))
      .groupBy("c_nationkey", "c")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // n comes from a full-partition window on the SAME exchange the
    // cumulative window already needs — no separate total + join.
    def lowerMedian(hist: DataFrame, vcol: String, out: String,
        carry: Seq[String]): DataFrame = {
      val wCum = Window.partitionBy("c_nationkey").orderBy(vcol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("c_nationkey")
      hist.withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(wAll))
        .filter(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"))
        .groupBy("c_nationkey")
        .agg(max("n").as("n"),
          (min(vcol).as(out) +: carry.map(c => max(c).as(c))): _*)
    }
    val med = lowerMedian(h, "c", "medc", Nil)
    // medc and n ride along as per-group constants so the final result
    // needs no second consumption of `med` (which would re-plan it).
    val devH = h.join(broadcast(med), "c_nationkey")
      .select(col("c_nationkey"), abs(col("c") - col("medc")).as("d"),
        col("cnt"), col("medc"))
      .groupBy("c_nationkey", "d")
      .agg(sum("cnt").as("cnt"), max("medc").as("medc"))
    lowerMedian(devH, "d", "madc", Seq("medc"))
      .select(col("c_nationkey"), col("n"),
        (col("medc").cast("double") / 100).as("median_bal"),
        (col("madc").cast("double") / 100).as("mad_bal"))
      .orderBy("c_nationkey")
  }

  /** Exact Gini coefficient of order value per customer market segment
    * — the revenue-concentration / inequality measure a curation
    * pipeline tracks per stratum (the same statistic data-mixing work
    * reports per source). Rides the [[aggExactMedian]] value-domain
    * histogram idiom: order totals collapse to a (segment, cents)
    * histogram (bounded by the PRICE DOMAIN, not the corpus — the
    * histogram stops growing at 100 TB), a domain-sized cumulative
    * pass gives each distinct value its sorted-rank block
    * [p+1, p+cnt], and the doubled rank-weighted sum
    * 2·Σ i·x_i = Σ_v v·(2·cnt·p + cnt·(cnt+1)) reduces per segment
    * (doubling keeps the triangular term integral — no division until
    * the end). Gini = (2·Σi·x_i − (n+1)·Σx) / (n·Σx); every
    * accumulator is exact DECIMAL(38,0) (DuckDB: HUGEINT), and the
    * reported gini is ONE division of the same two exact integers in
    * both engines — the ev_anomaly no-FP-until-the-last-op contract,
    * no rounding agreement needed.
    *
    * Scale: the segment lookup shuffles on the uniform o_custkey; the
    * histogram partial-aggregates map-side; the per-segment window
    * reads the domain-bounded histogram, never corpus-sized input. */
  def aggGini(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val h = t.orders
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("c_mktsegment").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum", sum("cnt").over(w))
      .groupBy("c_mktsegment")
      .agg(
        sum("cnt").as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * cnt")).as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (2 * CAST(cnt AS DECIMAL(38,0))" +
          " * (cum - cnt) + CAST(cnt AS DECIMAL(38,0)) * (cnt + 1))")).as("t2"))
      .select(col("c_mktsegment"), col("n"),
        (col("s").cast("double") / 100).as("total"),
        (col("t2") - (col("n").cast("decimal(38,0)") + 1) * col("s"))
          .cast("double")
          ./((col("n").cast("decimal(38,0)") * col("s")).cast("double"))
          .as("gini"))
      .orderBy("c_mktsegment")
  }

  /** ROLLUP grouping sets: per (priority, status) + subtotals + total.
    * NULLS FIRST pinned explicitly — Spark and DuckDB default opposite
    * null orderings. */
  def q15Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), round(centsSum("o_totalprice") / 100, 3).as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** CUBE grouping sets (all 4 subsets of the two keys, vs rollup's
    * prefix chain): customer counts and exact-cents balance by
    * nation × segment with both margins and the grand total. Same
    * null-ordering pin as q15_rollup. Spark plans one Expand (×4) +
    * one partial-aggregated shuffle — the subtotal rows cost one extra
    * pass over the expanded rows, never extra scans. */
  def q28Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .cube("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        round(centsSum("c_acctbal") / 100, 3).as("total_bal"))
      .orderBy(col("c_nationkey").asc_nulls_first, col("c_mktsegment").asc_nulls_first)

  /** Explicit GROUPING SETS — the third grouping-lattice shape next to
    * q15_rollup (prefix chain) and q28_cube (full lattice): a
    * hand-picked set list ((priority, status), (status), ()) that
    * neither rollup nor cube can express, with the per-column
    * `grouping()` markers exposed so NULL-as-subtotal and NULL-as-data
    * are distinguishable downstream. Same physical shape as
    * rollup/cube: ONE Expand (×3) over the scan + one
    * partial-aggregated shuffle — subtotals cost an extra pass over
    * the expanded rows, never extra scans. Null ordering pinned as in
    * q15_rollup. */
  def q39GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping(col("o_orderpriority")).cast("long").as("g_priority"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        count(lit(1)).as("n"),
        round(centsSum("o_totalprice") / 100, 3).as("total"))
      .orderBy(col("g_priority"), col("g_status"),
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** Pivot: order counts per status × priority (fixed value list, so the
    * output schema is static and oracle-mirrorable as conditional
    * aggregation). */
  def q16Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderstatus")

  /** Dedup keep-best: cluster documents by normalized fingerprint, keep
    * the highest-quality member (longest, doc_id tiebreak) — the
    * "representative picker" half of a dedup pipeline. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(expr("CAST(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) AS BINARY)"))
    val w = Window.partitionBy("fp").orderBy(desc("n_chars"), col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("n_chars"), fp.as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"), col("n_chars"))
      .orderBy("fp")
  }

  /** Custom typed-Aggregator variance (Welford/Chan merge) next to the
    * built-in var_samp; the oracle pins both to DuckDB's var_samp, so
    * the distributed merge path is proven exact to 4 decimals. */
  def aggVarianceWelford(spark: SparkSession, dir: String): DataFrame = {
    val welford = udaf(graft.functions.VarianceWelford)
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        round(welford(col("l_quantity")), 4).as("var_welford"),
        round(var_samp("l_quantity"), 4).as("var_builtin"))
      .orderBy("l_returnflag")
  }

  /** Correlated scalar subquery (customers above their nation's average
    * balance) — exercises Catalyst's subquery decorrelation: the plan
    * becomes an aggregate + join, not a per-row subquery execution. */
  def q17CorrSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).customer.createOrReplaceTempView("graft_customer")
    spark.sql(
      """SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
        |FROM graft_customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** HyperLogLog distinct-count estimate next to the exact count —
    * DETERMINISTIC and oracle-gated, upgrading the roadmap's "HLL
    * behind a rows-only check" (an engine-specific HLL register layout
    * can't face an oracle; this one can because every step is pinned):
    * 32-bit md5 hash, p=6 → m=64 dense registers, bucket = top 6
    * bits, rank = leading-zero count of the remaining 26 bits computed
    * as 27 − length(bin(w)) — INTEGER string length, no libm log2 —
    * and the register build is a plain partial-aggregated max per
    * (group, bucket): max IS the HLL merge, so the sketch distributes
    * and re-merges for free at any scale. The estimator sum
    * Σ 2^(−M_j) is a sum of 64 exact powers of two spanning 33 bits of
    * mantissa — EXACT in IEEE double in any order — so the only
    * cross-engine float risk is one ln() in the small-range branch.
    * Same distinct-first input as agg_kmv_distinct (the HLL of a
    * multiset is the HLL of its support). */
  /** The 64-register HLL estimator over (sp, present) columns — shared
    * by [[aggHllDistinct]] and [[aggHllOverlap]], mirrored verbatim in
    * both oracles (every term is either an exact dyadic sum or a
    * pinned-association double, so the estimate is bit-stable). */
  /** The 32-bit md5 key hash (first 8 hex chars as a BIGINT) shared by
    * the sketch family — agg_hll_distinct/agg_hll_sweep/
    * agg_kmv_distinct and the gated streaming sketch twins — so every
    * consumer sketches the SAME hash stream the oracles mirror. */
  private[graft] val OrderkeyHash32 =
    "CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"

  private[graft] val HllEstExpr =
    """CASE WHEN (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096 / (sp + (64 - present)) <= 160
      |       AND present < 64
      |     THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - present))
      |     ELSE (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096 / (sp + (64 - present)) END""".stripMargin

  def aggHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val est = HllEstExpr
    Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .withColumn("h",
        expr(OrderkeyHash32))
      .select(col("l_returnflag"),
        expr("h div 67108864").as("bucket"), // top 6 of 32 bits
        expr("h % 67108864").as("w"))        // remaining 26 bits
      .withColumn("rho", expr("CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END"))
      .groupBy("l_returnflag", "bucket")
      .agg(max("rho").as("r"), count(lit(1)).as("nk"))
      .groupBy("l_returnflag")
      .agg(
        sum("nk").as("n_exact"),
        count(lit(1)).as("present"),
        sum(expr("pow(CAST(2 AS DOUBLE), -r)")).as("sp"))
      .select(col("l_returnflag"),
        round(expr(est), 3).as("est_distinct"),
        col("n_exact"))
      .orderBy("l_returnflag")
  }

  /** HLL estimator over per-(p, m) register summaries (present, sp,
    * n_exact) with m as a COLUMN — [[HllEstExpr]] generalized so one
    * formula string serves every register count in the sweep; the
    * small-range linear-counting switch threshold is the standard
    * 2.5·m. */
  private val HllSweepDerived = Seq(
    "p", "mm AS m", "n_exact",
    """round(CASE WHEN (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / mm))
      |            * mm * mm / (sp + (mm - present)) <= CAST(2.5 AS DOUBLE) * mm
      |            AND present < mm
      |      THEN mm * ln(CAST(mm AS DOUBLE) / (mm - present))
      |      ELSE (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / mm))
      |            * mm * mm / (sp + (mm - present)) END, 3)
      | + 0.0 AS est_distinct""".stripMargin)

  /** HLL sketch-SIZING sweep — the tuning curve for the memory knob
    * (the sim_probe_sweep move applied to the sketch family): the
    * SAME distinct-key hash stream estimated at p ∈ {4, 6, 8}
    * (m = 16/64/256 registers) next to the exact count, so the
    * size-vs-error trade is measured, not guessed, before a 100 TB
    * deployment commits register budget × key cardinality of state.
    * One distinct pass; the 3× fan-out replicates the (value-distinct)
    * hash stream, never the fact table; registers build as
    * partial-aggregated max per (p, bucket) — the merge-for-free
    * property the sweep is sizing. StatSpec pins n_exact equality
    * across rows and a 5-standard-error accuracy band per m.
    *
    * The estimator family is deliberately HllEstExpr's (bias constant
    * + 2.5·m linear-counting switch) at every p — the subject is the
    * SIZE curve under one estimator, not per-size bias tuning. */
  def aggHllSweep(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_orderkey")).distinct()
      .withColumn("h",
        expr(OrderkeyHash32))
      .select(col("h"), explode(expr("array(4, 6, 8)")).as("p"))
      .selectExpr("p",
        "CAST(CASE p WHEN 4 THEN 16 WHEN 6 THEN 64 ELSE 256 END AS BIGINT) AS mm",
        "h")
      .selectExpr("p", "mm",
        "h div (4294967296 div mm) AS bucket",
        "h % (4294967296 div mm) AS w")
      .withColumn("rho",
        expr("CASE WHEN w = 0 THEN 33 - p ELSE 33 - p - length(bin(w)) END"))
      .groupBy("p", "mm", "bucket")
      .agg(max("rho").as("r"), count(lit(1)).as("nk"))
      .groupBy("p", "mm")
      .agg(sum("nk").as("n_exact"),
        count(lit(1)).as("present"),
        sum(expr("pow(CAST(2 AS DOUBLE), -r)")).as("sp"))
      .selectExpr(HllSweepDerived: _*)
      .orderBy("p")

  /** ANOVA derived stats over the exact (k, n, ssb, ssw) accumulators
    * — one formula string for both engines ([[TtestDerived]] pattern). */
  private val AnovaDerived = Seq(
    "k", "n_rows",
    """round((CAST(ssb AS DOUBLE) / (k - 1))
      | / (CAST(ssw AS DOUBLE) / (n_rows - k)), 4) + 0.0 AS f_stat""".stripMargin,
    "round(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE), 4) + 0.0 AS eta_sq")

  /** One-way ANOVA across ALL order priorities — [[statTtest]]
    * generalized from two groups to k (the omnibus "does priority
    * matter at all" test run before pairwise comparisons): F =
    * (SSB/(k−1))/(SSW/(n−k)) plus the η² effect size. Per-group exact
    * moments (the t-test posture) feed per-group SSB/SSW terms, each
    * ONE pinned-association double quantized to whole dollars² before
    * an exact BIGINT fold — order-independent across any partitioning;
    * the checkpointed 5-row moment table feeds totals and terms from
    * one scan. */
  def statAnova(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("nj"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("sj"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("qj"))
      .localCheckpoint()
    val tot = g.agg(sum("nj").as("n"),
      sum(expr("CAST(sj AS DECIMAL(38,0))")).as("s"),
      count(lit(1)).as("k"))
    g.crossJoin(broadcast(tot))
      .select(col("k"), col("n").as("n_rows"),
        expr("""CAST(round(
          CAST(nj AS DOUBLE)
          * ((CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n)
             * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n))
          / 10000) AS BIGINT)""").as("ssbq"),
        expr("""CAST(round(
          (CAST(qj * nj - sj * sj AS DOUBLE) / nj) / 10000) AS BIGINT)""")
          .as("sswq"))
      .groupBy("k", "n_rows")
      .agg(sum("ssbq").as("ssb"), sum("sswq").as("ssw"))
      .selectExpr(AnovaDerived: _*)
  }

  /** Brown–Forsythe variance-homogeneity test (Levene's W with the
    * MEDIAN center — the robust form) across document sources on
    * n_chars: W is one-way ANOVA's F computed on z = |x − group
    * median|, the "are the sources' length SPREADS comparable"
    * pre-check run before any pooled-variance test ([[statAnova]]
    * answers the MEANS question; this answers the variances one).
    *
    * Everything folds from ONE corpus scan: rows collapse to the
    * (source, n_chars) histogram (value-domain bounded — the
    * [[aggExactMedian]] counting-selection posture), the exact lower
    * median comes off the cumulative histogram, and the z-moments
    * (nj, Σz, Σz²) re-read the SAME checkpointed histogram weighted by
    * cnt — z is exact-integer chars since the lower median is an
    * actual value. SSB/SSW terms follow the [[statAnova]] contract:
    * one pinned-association double per GROUP (k of them, not n),
    * rounded to integer chars² before the exact fold. */
  def statLevene(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir).documents
      .groupBy("source", "n_chars")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tot = h.groupBy("source").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = h.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), "source")
      .filter(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
        expr("(n + 1) div 2") <= col("cum"))
      .select(col("source"), col("n_chars").as("med"))
    val gm = h.join(broadcast(med), "source")
      .withColumn("z", abs(col("n_chars") - col("med")))
      .groupBy("source")
      .agg(sum("cnt").as("nj"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * cnt")).as("sj"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z * cnt")).as("qj"))
      .localCheckpoint()
    val t = gm.agg(sum("nj").as("n"),
      sum(expr("CAST(sj AS DECIMAL(38,0))")).as("s"),
      count(lit(1)).as("k"))
    gm.crossJoin(broadcast(t))
      .select(col("k"), col("n").as("n_rows"),
        expr("""CAST(round(
          CAST(nj AS DOUBLE)
          * ((CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n)
             * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n))
          ) AS BIGINT)""").as("ssbq"),
        expr("CAST(round(CAST(qj * nj - sj * sj AS DOUBLE) / nj) AS BIGINT)")
          .as("sswq"))
      .groupBy("k", "n_rows")
      .agg(sum("ssbq").as("ssb"), sum("sswq").as("ssw"))
      .selectExpr("k", "n_rows",
        """round((CAST(ssb AS DOUBLE) / (k - 1))
          | / (CAST(ssw AS DOUBLE) / (n_rows - k)), 4) + 0.0 AS w_stat""".stripMargin)
  }

  /** Data-freshness lag per event type — the staleness panel an
    * ingestion on-call reads: minutes between each type's newest event
    * and the corpus high-water mark, with volumes. One
    * partial-aggregated pass + a 1-row broadcast; exact integer
    * minutes. */
  def qcFreshness(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).events
      .select(col("event_type"), unix_micros(col("ts")).as("tus"))
      .groupBy("event_type")
      .agg(max("tus").as("mt"), count(lit(1)).as("n_rows"))
    per.crossJoin(broadcast(per.agg(max("mt").as("gm"))))
      .select(col("event_type"), col("n_rows"),
        expr("(gm - mt) div 60000000").as("lag_minutes"))
      .orderBy("event_type")
  }

  /** Order-independent table content checksum — the migration/replica
    * validation primitive (the "did the copy land bit-identical"
    * check a DistCp-style move or engine swap ends with): each row
    * canonicalizes to a delimited string, hashes to a 63-bit integer
    * via md5, and the table digest is the exact SUM of row hashes —
    * commutative, so any partitioning/order yields the same digest,
    * and a single changed row moves it. One map-side pass + a 1-row
    * fold; DECIMAL(38,0)/HUGEINT so the sum never wraps differently
    * across engines. */
  def mrTableChecksum(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(expr(
        """CAST(conv(substr(md5(concat_ws('|',
          |  CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
          |  o_orderstatus, CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
          |  CAST(unix_micros(o_orderdate) AS STRING), o_orderpriority)), 1, 15), 16, 10)
          |AS BIGINT)""".stripMargin).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(h AS DECIMAL(38,0))")).cast("string").as("content_digest"))

  /** Benford first-digit audit over order totals — the forensic
    * screen for fabricated or truncated monetary data: observed
    * first-significant-digit shares (exact ppm) next to the Benford
    * expectation log10(1 + 1/d). Digits come from the exact-cents
    * string head (no float log bucketing), the expectation is one
    * deterministic double per digit, and the whole op is one
    * 9-key partial-aggregated count. */
  def qcBenford(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables(spark, dir).orders
      .select(expr(
        "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .filter(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n"))
    f.crossJoin(broadcast(f.agg(sum("n").as("tot"))))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div tot").as("obs_ppm"),
        expr("CAST(round(log10(1 + CAST(1 AS DOUBLE) / digit) * 1000000) AS BIGINT)")
          .as("exp_ppm"))
      .orderBy("digit")
  }

  /** The Welch t-statistic pipeline downstream of the 6 exact moment
    * columns (n1, s1, q1, n2, s2, q2 — counts, cent sums, squared-cent
    * sums): ONE formula string evaluated by BOTH engines (Spark expr
    * and DuckDB SQL share the arithmetic grammar), so association is
    * pinned by construction. All inputs exact integers → every derived
    * double is bit-identical. */
  private val TtestDerived = Seq(
    "n1", "n2",
    "round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100, 4) + 0.0 AS mean_diff",
    """round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
      | / sqrt((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |      + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2), 4)
      | + 0.0 AS t_stat""".stripMargin,
    """round(((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |     + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
      |  * ((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |     + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
      |  / (((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1)
      |     * ((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1) / (n1 - 1)
      |   + ((CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
      |     * ((CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2) / (n2 - 1)), 4)
      | + 0.0 AS welch_dof""".stripMargin)

  /** Welch's two-sample t-test between order-value populations
    * (1-URGENT vs 5-LOW priority, exact cents) — the significance
    * test an experimentation platform runs on revenue-per-order
    * deltas. One pass builds the six exact moments (BIGINT counts,
    * DECIMAL(38,0)/HUGEINT sums and squared sums — the agg_moments
    * posture); t and the Welch–Satterthwaite dof derive through
    * [[TtestDerived]], shared verbatim with the oracle. Scale: one
    * partial-aggregated pass over the pruned 2-column scan, 1-row
    * output — no shuffle wider than the 2-group conditional agg. */
  def statTtest(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .agg(
        sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "1-URGENT",
          expr("CAST(c AS DECIMAL(38,0))")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("s1"),
        sum(when(col("g") === "1-URGENT",
          expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"),
        sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === "5-LOW",
          expr("CAST(c AS DECIMAL(38,0))")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("s2"),
        sum(when(col("g") === "5-LOW",
          expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q2"))
      .selectExpr(TtestDerived: _*)

  /** Mann–Whitney derived stats over the exact integer accumulators
    * (n1, n2, r1_2 = 2·rank-sum of group 1 with average-rank ties,
    * tiesum = Σ(t³−t)) — ONE formula string for both engines, like
    * [[TtestDerived]]. */
  private val MannWhitneyDerived = Seq(
    "n1", "n2",
    "round(CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2, 4) + 0.0 AS u1",
    """round((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2 - (CAST(n1 AS DOUBLE) * n2) / 2)
      | / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
      |   * ((n1 + n2 + 1) - CAST(tiesum AS DOUBLE)
      |       / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 4)
      | + 0.0 AS z_stat""".stripMargin)

  /** Mann–Whitney U rank-sum test between the same two order-value
    * populations as [[statTtest]] — the NONPARAMETRIC member of the
    * testing family (no normality assumption; the test experimentation
    * platforms reach for on skewed revenue). Ties get average ranks
    * (kept integer as 2·rank), the normal approximation carries the
    * tie correction Σ(t³−t), and every accumulator is an exact
    * DECIMAL(38,0)/HUGEINT integer — the z statistic derives through
    * one shared formula string.
    *
    * Scale: ranks come from ONE cumulative window over the
    * VALUE-DISTINCT table (per-value group counts first — the rank
    * table is |distinct values|, not |rows|); an unbounded value
    * domain would bin first, exactly like agg_histogram. */
  def statMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("c")
      .agg(
        sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("c2"))
      .withColumn("cnt", col("c1") + col("c2"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("avg2", expr("2 * (cum - cnt) + cnt + 1"))
      .agg(
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * avg2")).as("r1_2"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tiesum"))
      .selectExpr(MannWhitneyDerived: _*)
  }

  /** Effect-size readout, shared formula text: Cohen's d from the
    * exact per-group moments (pooled-SD form), Cliff's delta from the
    * exact dominance counts — gt, plus lt reconstructed as
    * n1·n2 − Σc1·cum2 (ties cancel out of the subtraction). The band
    * CASE runs on the RAW |d| (identical IEEE both engines). */
  private val EffectSizeDerived = Seq(
    "n1", "n2",
    """round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |  - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      | / sqrt((CAST(n1 * q1 - s1 * s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |        + CAST(n2 * q2 - s2 * s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |       / CAST(n1 + n2 - 2 AS DOUBLE)), 4) + 0.0 AS cohens_d""".stripMargin,
    "round(CAST(gt - (n1 * n2 - s1c2) AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) + 0.0 AS cliffs_delta")

  /** Kolmogorov–Smirnov two-sample test between the same order-value
    * populations as [[statTtest]] / [[statMannWhitney]] — the
    * DISTRIBUTION-SHAPE member of the testing family (t compares
    * means, U compares ranks, KS compares whole ECDFs). The statistic
    * is EXACT: D = max |F1 − F2| over the merged value domain
    * evaluates as max |cum1·n2 − cum2·n1| on integers, divided once
    * at the end by n1·n2 — no float ever enters the sup. The
    * asymptotic significance scale sqrt(n1·n2/(n1+n2))·D rides along.
    * Same scale shape as Mann–Whitney: one cumulative window over the
    * value-DISTINCT table, then a 1-row fold. */
  private val KsDerived = Seq(
    "n1", "n2",
    "round(CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) + 0.0 AS ks_d",
    """round(sqrt((CAST(n1 AS DOUBLE) * n2) / (n1 + n2))
      | * (CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)), 4)
      | + 0.0 AS ks_stat""".stripMargin)

  /** Effect sizes between the [[statTtest]] populations — the
    * PRACTICAL-significance readout next to the p-value family (a
    * large-n test flags differences nobody should act on; d and δ say
    * how BIG the difference is in SD and dominance terms): Cohen's d
    * from the exact per-group value moments (pooled-SD form — scale
    * cancels, so cents need no conversion), Cliff's delta from the
    * exact dominance counts over the merged value-distinct table
    * (gt = Σ c1·cum2₍strictly below₎; lt reconstructs as n1·n2 − Σ
    * c1·cum2 so ties land in neither — no float enters either count).
    * Same scale shape as Mann–Whitney: one value-distinct partial agg,
    * one cumulative window over the bounded value domain, a 1-row
    * fold, and the shared [[EffectSizeDerived]] formula text. */
  def statEffectSize(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("c")
      .agg(
        sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals
      .withColumn("cum2", sum("c2").over(w))
      .agg(
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * c")).as("s1"),
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * c * c")).as("q1"),
        sum(expr("CAST(c2 AS DECIMAL(38,0)) * c")).as("s2"),
        sum(expr("CAST(c2 AS DECIMAL(38,0)) * c * c")).as("q2"),
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * (cum2 - c2)")).as("gt"),
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * cum2")).as("s1c2"))
      .selectExpr(EffectSizeDerived: _*)
  }

  def statKsTest(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("c")
      .agg(
        sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("c2"))
    val tot = vals.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w))
      .crossJoin(broadcast(tot))
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max(expr(
          "abs(CAST(cum1 AS DECIMAL(38,0)) * n2 - CAST(cum2 AS DECIMAL(38,0)) * n1)"))
          .as("dnum"))
      .selectExpr(KsDerived: _*)
  }

  /** Jarque–Bera derived stats over the unrounded MomStage4 shape
    * moments — the last two formula layers shared verbatim with the
    * oracle (the [[MomStage2]]..[[MomStage4]] chain runs first, so the
    * skewness/kurtosis doubles entering here are bit-equal
    * cross-engine). The χ²(2) 5% critical value 5.991464547107979 is a
    * LITERAL (the stat_sprt move — no quantile function ever runs in
    * either engine), so the boolean verdict compares bit-equal doubles
    * against the same constant. */
  private val JbDerived = Seq(
    "round(skewness, 4) + 0.0 AS skew",
    "round(kurtosis_excess, 4) + 0.0 AS kurt_excess",
    """round(CAST(n AS DOUBLE) * (skewness * skewness / 6
      | + kurtosis_excess * kurtosis_excess / 24), 4) + 0.0 AS jb""".stripMargin,
    """CAST(n AS DOUBLE) * (skewness * skewness / 6
      | + kurtosis_excess * kurtosis_excess / 24)
      | <= 5.991464547107979 AS is_normal""".stripMargin)

  /** Jarque–Bera normality screen per order priority — the gate that
    * decides whether the parametric members of the testing family
    * (stat_ttest / stat_anova) read out on safe ground or the
    * rank-based twins (stat_mann_whitney / stat_kruskal_wallis) should
    * carry the decision: JB = n·(S²/6 + K²/24) over population
    * skewness S and excess kurtosis K, flagged against the χ²(2) 5%
    * critical value. Moments ride the [[aggMoments]] machinery — ONE
    * partial-aggregated scan accumulates Σc..Σc⁴ as exact
    * DECIMAL(38,0)/HUGEINT integers (order-independent; cents⁴ ≈ 1e31
    * per row leaves ~1e7-rows-per-group headroom at this price domain,
    * beyond which the accumulators shift to group-mean-centered form),
    * and every downstream double derives through the SAME MomStage +
    * JbDerived formula text in both engines — identical IEEE trees,
    * bit-equal JB before the round. Scale: one shuffle onto the
    * 5-value priority domain; everything after is per-group rows. */
  def statJarqueBera(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .selectExpr("o_orderpriority AS priority",
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0)) AS c")
      .selectExpr("priority", "c", "c * c AS c2")
      .selectExpr("priority", "c", "c2", "c2 * c AS c3", "c2 * c2 AS c4")
      .groupBy("priority")
      .agg(count(lit(1)).as("n"), sum("c").as("s1"), sum("c2").as("s2"),
        sum("c3").as("s3"), sum("c4").as("s4"))
      .selectExpr("priority" +: "n" +: MomStage2: _*)
      .selectExpr("priority" +: "n" +: "m1" +: MomStage3: _*)
      .selectExpr("priority" +: "n" +: MomStage4: _*)
      .selectExpr("priority" +: "n" +: JbDerived: _*)
      .orderBy("priority")

  private[operators] def statJarqueBeraOracle: String =
    s"""WITH p AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS c
       |  FROM orders),
       |pw AS (SELECT priority, c, c * c AS c2 FROM p),
       |pw2 AS (SELECT priority, c, c2, c2 * c AS c3, c2 * c2 AS c4 FROM pw),
       |s AS (
       |  SELECT priority, count(*) AS n, sum(c) AS s1, sum(c2) AS s2,
       |    sum(c3) AS s3, sum(c4) AS s4
       |  FROM pw2 GROUP BY 1),
       |m AS (SELECT priority, n, ${MomStage2.mkString(", ")} FROM s),
       |cm AS (SELECT priority, n, m1, ${MomStage3.mkString(", ")} FROM m),
       |m4 AS (SELECT priority, n, ${MomStage4.mkString(", ")} FROM cm)
       |SELECT priority, n, ${JbDerived.mkString(",\n")}
       |FROM m4 ORDER BY priority""".stripMargin

  /** The five-value order-priority domain (the q16_pivot list) — ONE
    * definition for every operator that fans a statistic across the
    * fixed priority groups. */
  private[operators] val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Kruskal–Wallis accumulator layer — ONE text for both engines
    * (it is pure arithmetic over the folded integers, so no div/`//`
    * dialect split is needed): n = Σnⱼ, k = #nonempty groups, and
    * S = Σⱼ Rⱼ²/nⱼ evaluated per group as ONE double
    * multiply-then-divide of exact integers summed in a FIXED
    * five-term expression tree (never an aggregation) — bit-equal
    * cross-engine, no accumulation-order dependence. Rⱼ carries 2·rank
    * units, so S is 4× the textbook Σ Rⱼ²/nⱼ and the H formula below
    * compensates with 3/(n(n+1)) in place of 12/(n(n+1)). */
  private val KwAccLayer = Seq(
    "CAST(" + (1 to 5).map(i => s"n$i").mkString(" + ") + " AS BIGINT) AS n",
    "CAST(" + (1 to 5).map(i => s"CASE WHEN n$i > 0 THEN 1 ELSE 0 END")
      .mkString(" + ") + " AS BIGINT) AS k",
    (1 to 5).map(i =>
      s"CASE WHEN n$i > 0 THEN CAST(r$i AS DOUBLE) * r$i / n$i ELSE 0 END")
      .mkString(" + ") + " AS s_acc",
    "tiesum")

  /** Kruskal–Wallis derived stats over (n, k, s_acc, tiesum): H in
    * 2·rank units (see [[KwAccLayer]]) plus the tie-corrected H/C with
    * C = 1 − Σ(t³−t)/(n³−n) — ONE formula text for both engines. */
  private val KruskalDerived = Seq(
    "n", "k",
    """round(s_acc * 3 / (CAST(n AS DOUBLE) * (n + 1)) - 3 * (n + 1), 4)
      | + 0.0 AS h_stat""".stripMargin,
    """round((s_acc * 3 / (CAST(n AS DOUBLE) * (n + 1)) - 3 * (n + 1))
      | / (1 - CAST(tiesum AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)), 4)
      | + 0.0 AS h_tie""".stripMargin)

  /** Kruskal–Wallis rank-sum omnibus across ALL FIVE order-priority
    * populations — the nonparametric twin of stat_anova exactly as
    * stat_mann_whitney is of stat_ttest (k groups instead of 2; the
    * omnibus an experimentation platform runs on skewed revenue before
    * pairwise drill-downs). Ranks stay integer as 2·average-rank over
    * the VALUE-DISTINCT histogram (the statMannWhitney posture: the
    * rank table is |distinct values|, not |rows|), per-group rank sums
    * Rⱼ accumulate as exact DECIMAL(38,0)/HUGEINT integers, and H plus
    * its tie correction derive through the shared [[KwAccLayer]] +
    * [[KruskalDerived]] texts — bit-equal cross-engine. Scale: one
    * partial-aggregated histogram shuffle + one window over the
    * domain-bounded value table + a 1-row fold; an unbounded value
    * domain would bin first, exactly like agg_histogram. */
  def statKruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val condCounts = Priorities.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"c${i + 1}") }
    val v = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("c")
      .agg(condCounts.head, condCounts.tail: _*)
      .withColumn("cnt", expr((1 to 5).map(i => s"c$i").mkString(" + ")))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folds =
      (1 to 5).map(i => sum(col(s"c$i")).as(s"n$i")) ++
      (1 to 5).map(i =>
        sum(expr(s"CAST(c$i AS DECIMAL(38,0)) * avg2")).as(s"r$i")) :+
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tiesum")
    v.withColumn("cum", sum("cnt").over(w))
      .withColumn("avg2", expr("2 * (cum - cnt) + cnt + 1"))
      .agg(folds.head, folds.tail: _*)
      .selectExpr(KwAccLayer: _*)
      .selectExpr(KruskalDerived: _*)
  }

  private[operators] def statKruskalWallisOracle: String = {
    val conds = Priorities.zipWithIndex.map { case (p, i) =>
      s"sum(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS c${i + 1}" }
    val folds =
      (1 to 5).map(i => s"CAST(sum(c$i) AS BIGINT) AS n$i") ++
      (1 to 5).map(i => s"sum(c$i::HUGEINT * avg2) AS r$i") :+
      "sum(cnt::HUGEINT * cnt * cnt - cnt) AS tiesum"
    s"""WITH x AS (
       |  SELECT o_orderpriority AS g,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
       |  FROM orders),
       |v AS (
       |  SELECT c, ${conds.mkString(", ")}
       |  FROM x GROUP BY c),
       |vc AS (SELECT *, c1 + c2 + c3 + c4 + c5 AS cnt FROM v),
       |r AS (
       |  SELECT *, sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM vc),
       |a AS (SELECT *, 2 * (cum - cnt) + cnt + 1 AS avg2 FROM r),
       |m AS (SELECT ${folds.mkString(", ")} FROM a),
       |acc AS (SELECT ${KwAccLayer.mkString(", ")} FROM m)
       |SELECT ${KruskalDerived.mkString(",\n")}
       |FROM acc""".stripMargin
  }

  /** OLS derived stats over the exact integer accumulators (n, sx, sy,
    * sxx, sxy, syy — count, value sums, squared sums, cross sum): ONE
    * formula string for both engines, like [[TtestDerived]]. The r²
    * avoids the DECIMAL(38,0)-overflowing (n·sxx−sx²)(n·syy−sy²)
    * product by multiplying the two exact-quotient DOUBLE factors
    * instead — identical IEEE trees cross-engine. */
  private val LinregDerived = Seq(
    "f", "n",
    """round(CAST(n * sxy - sx * sy AS DOUBLE)
      | / CAST(n * sxx - sx * sx AS DOUBLE), 4)
      | + 0.0 AS slope""".stripMargin,
    """round((CAST(sy AS DOUBLE)
      |  - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
      |    * CAST(sx AS DOUBLE)) / n, 4)
      | + 0.0 AS intercept""".stripMargin,
    """round((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
      | * (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE)), 4)
      | + 0.0 AS r2""".stripMargin)

  /** Simple OLS regression of whitespace-token count on character
    * count, per language — the PARAMETRIC-model member of the stats
    * family (t/U/KS/ANOVA test group differences; this FITS a
    * relationship), on a pair with real structure: tokens grow
    * linearly with characters at 1/(avg word length + 1), and the
    * per-language slopes are exactly the tokens-per-char calibration a
    * byte-budgeted pipeline multiplies by. (The lineitem qty/revenue
    * pair was measured independent in this generator — corr ≈ 0.003 —
    * so it demonstrates nothing and admits no sign invariant.)
    * All six moment accumulators are exact BIGINT/DECIMAL(38,0)
    * integers from ONE partial-aggregated pass (the agg_moments
    * posture; n·sxy ≤ ~1e27 at 1e10 docs — 38-digit headroom), and
    * slope/intercept/r² derive through [[LinregDerived]] shared
    * verbatim with the oracle, so every double is bit-identical.
    * Scale: one pruned scan, |langs|-group partial agg, no other
    * shuffle. */
  def statLinreg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang").as("f"),
        expr("CAST(n_chars AS BIGINT)").as("x"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)").as("y"))
      .groupBy("f")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .selectExpr(LinregDerived: _*)
      .orderBy("f")

  /** Spearman rho derived from the exact 2·average-rank accumulators —
    * the overflow-safe two-factor split of [[LinregDerived]] applied
    * to the correlation: rho = cov / (sd·sd) with each factor one
    * exact-integer CAST-DOUBLE quotient under a correctly-rounded
    * sqrt. */
  private val SpearmanDerived = Seq(
    "n",
    """round(CAST(n * sxy - sx * sy AS DOUBLE)
      | / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      | / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 4)
      | + 0.0 AS rho""".stripMargin)

  /** Spearman rank correlation between the same character/token pair
    * as [[statLinreg]] — the NONPARAMETRIC correlation member
    * (monotone association without linreg's linearity assumption; the
    * Mann–Whitney average-rank machinery pointed at two columns). Ties
    * get average ranks kept integer as 2·rank (the avg2 idiom), every
    * accumulator is an exact DECIMAL(38,0)/HUGEINT integer (n·sxy ≤
    * 4n⁴ — exact to ~1e8 rows; past that the value domains would bin
    * first, exactly like agg_histogram), and rho derives through
    * [[SpearmanDerived]].
    *
    * Scale: both rank tables are VALUE-DISTINCT (char and token counts
    * are band-bounded domains; the char side broadcasts at test scale,
    * the token side shuffles on the value, uniform by construction);
    * the one ordered window runs over each distinct table, not the
    * corpus (the statMannWhitney posture and caveat), and the final
    * fold is one partial-aggregated pass. */
  def statSpearman(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables(spark, dir).documents
      .select(expr("CAST(n_chars AS BIGINT)").as("x"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)").as("y"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def ranks(c: String): DataFrame = rows
      .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .select(col("v"), expr("2 * (cum - cnt) + cnt + 1").as(s"r$c"))
    rows
      .join(broadcast(ranks("x")), rows("x") === col("v")).drop("v")
      .join(ranks("y"), col("y") === col("v")).drop("v")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(rx AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(ry AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * rx")).as("sxx"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * ry")).as("sxy"),
        sum(expr("CAST(ry AS DECIMAL(38,0)) * ry")).as("syy"))
      .selectExpr(SpearmanDerived: _*)
  }

  /** Poisson(1) inverse-CDF on a 16-bit uniform draw carried as FOUR
    * lowercase hex chars (`u4`) — the weight a row gets in one
    * bootstrap replicate. Fixed-width lowercase hex compares bytewise
    * exactly like the integer it encodes, so the CASE is pure string
    * comparison: no conv(), no doubles, and one md5 feeds EIGHT draws
    * (128 bits / 16). The thresholds are floor(F_Poisson(k)·65536) in
    * hex — a ≤2⁻¹⁶ CDF quantization that both engines share verbatim.
    * Chosen over the former 32-bit conv() draw after profiling: the
    * md5+conv per-(row, replicate) loop was the suite's heaviest
    * per-row scalar stage, and whenever the JIT hadn't compiled its
    * codegen'd method yet it ran interpreted at ~50× cost (43.7 s in
    * the official r5 loop vs 0.6 s warm) — less per-row work is the
    * only fix that holds regardless of compile scheduling.
    *
    * Since r7 this text is the ORACLE side only: Spark evaluates the
    * bit-identical chain through the native codegen'd
    * [[graft.functions.BootstrapWeights]] expression (VERDICT r6 #2 —
    * the equivalence proof lives in its class doc, and the hash gate
    * pins the two formulations equal on every run). */
  private[graft] val PoissonW16Expr =
    """CASE WHEN u4 < '5e2d' THEN 0
      |     WHEN u4 < 'bc5a' THEN 1
      |     WHEN u4 < 'eb71' THEN 2
      |     WHEN u4 < 'fb23' THEN 3
      |     WHEN u4 < 'ff10' THEN 4
      |     WHEN u4 < 'ffd9' THEN 5
      |     WHEN u4 < 'fffa' THEN 6
      |     ELSE 7 END""".stripMargin

  /** Bootstrap confidence interval for mean order value via the
    * POISSON bootstrap — the at-scale bootstrap: classical resampling
    * needs n draws per replicate from a materialized population, while
    * Poisson(1) weights make every replicate a weighted ONE-PASS
    * aggregate (each row draws its own multiplicity independently —
    * how production experimentation platforms bootstrap shuffled
    * data). All B=50 replicates ride one scan: the replicate id
    * explodes map-side, weights come from a deterministic md5 draw
    * (row key × replicate group — each md5 feeds 8 draws via
    * [[PoissonW16Expr]]'s hex-substring trick), and the shuffle is 50
    * keys of exact (Σw·cents, Σw) pairs. The CI is nearest-rank over
    * the 50 replicate means (5th/95th pct at ranks 3/48); means are
    * exact integer ratios so ordering is deterministic. */
  def statBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 50
    val base = Tables(spark, dir).orders
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
    // The replicate explode multiplies every input row by B, so the
    // per-row draw work runs INSIDE the scan's partitioning — and a
    // compact orders file arrives as 1-2 partitions, single-threading
    // 50× the corpus. The explicit repartition spreads the expansion
    // over every core BEFORE it happens (a cheap row-count-sized
    // shuffle; measured 13.5 → ~2 s at sf0.1 / local[32]).
    // The whole draw chain (md5 per 8-replicate group → 16-bit hex
    // slice → Poisson CDF CASE) is ONE native codegen'd expression —
    // graft.functions.BootstrapWeights, bit-identical to the unrolled
    // SQL the oracle still runs (class doc has the equivalence). The
    // per-row work lives in pre-compiled library bytecode, so the
    // HotSpot-interpreted warmup window that made this query's
    // driver-cold cost 50× its warm cost (VERDICT r6 #2: 20.2 s cold
    // vs 1.35 s warm) cannot reappear — the generated stage is a tiny
    // static call + posexplode, not a 50-branch hex-compare tree.
    val reps = base
      .repartition(graft.plans.AdaptivePar.forTable(spark, dir, "orders",
        graft.plans.AdaptivePar.ExpandBytesPerTask))
      .select(col("c"),
        posexplode(expr(s"graft_bootstrap_weights(o_orderkey, $B)"))
          .as(Seq("b", "w")))
      .groupBy("b")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * c")).as("swc"),
        sum(col("w").cast("long")).as("sw"))
      .select(col("b"), expr("(CAST(swc AS DOUBLE) / sw) / 100").as("mean_b"))
    val ranked = reps.withColumn("rk",
      row_number().over(Window.orderBy(col("mean_b"), col("b"))))
    val full = base
      .agg(sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"), count(lit(1)).as("n"))
      .select(expr("(CAST(s AS DOUBLE) / n) / 100").as("mean_full"))
    ranked
      .agg(
        max(when(col("rk") === 3, col("mean_b"))).as("lo"),
        max(when(col("rk") === 48, col("mean_b"))).as("hi"))
      .crossJoin(broadcast(full))
      .select(
        (round(col("mean_full"), 4) + lit(0.0)).as("mean_est"),
        (round(col("lo"), 4) + lit(0.0)).as("ci_lo"),
        (round(col("hi"), 4) + lit(0.0)).as("ci_hi"),
        lit(B).as("n_boot"))
  }

  /** HLL set-overlap estimate by inclusion–exclusion — the sketch
    * answer to "how many orderkeys appear under BOTH return flags":
    * |A∩R| ≈ est(A) + est(R) − est(A∪R), where all three estimates
    * come from ONE tagged register build (each (flag, key) row feeds
    * its own set and the union set, so the union sketch costs no
    * extra scan — exactly how mergeable sketches compose in a
    * warehouse rollup). Exact intersection count rides along for the
    * error check. Registers are dyadic-sum exact like
    * [[aggHllDistinct]]; one checkpointed distinct feeds tags + exact
    * side. */
  def aggHllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).lineitem
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("f"), col("l_orderkey"))
      .distinct()
      .localCheckpoint()
    val exact = d.groupBy("l_orderkey").agg(count(lit(1)).as("nf"))
      .filter(col("nf") === 2)
      .agg(count(lit(1)).as("n_exact_overlap"))
    val ests = d
      .select(explode(
        when(col("f") === "A", array(lit("a"), lit("u")))
          .otherwise(array(lit("r"), lit("u")))).as("s"), col("l_orderkey"))
      .distinct()
      .withColumn("h",
        expr(OrderkeyHash32))
      .select(col("s"),
        expr("h div 67108864").as("bucket"),
        expr("h % 67108864").as("w"))
      .withColumn("rho", expr("CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END"))
      .groupBy("s", "bucket")
      .agg(max("rho").as("r"))
      .groupBy("s")
      .agg(count(lit(1)).as("present"),
        sum(expr("pow(CAST(2 AS DOUBLE), -r)")).as("sp"))
      .select(col("s"), expr(HllEstExpr).as("est"))
    ests
      .agg(
        max(when(col("s") === "a", col("est"))).as("ea"),
        max(when(col("s") === "r", col("est"))).as("er"),
        max(when(col("s") === "u", col("est"))).as("eu"))
      .crossJoin(broadcast(exact))
      .select(
        (round(col("ea"), 3) + lit(0.0)).as("est_a"),
        (round(col("er"), 3) + lit(0.0)).as("est_r"),
        (round(col("eu"), 3) + lit(0.0)).as("est_union"),
        (round(col("ea") + col("er") - col("eu"), 3) + lit(0.0)).as("est_overlap"),
        col("n_exact_overlap"))
  }

  /** TPC-H Q18 shape: large-volume orders — aggregate the fact table,
    * filter on the aggregate, join back to orders + customer. The
    * groupBy and the orders join share the orderkey hash partitioning,
    * so Catalyst reuses one exchange for both. */
  def q18BigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    q18Body(t, t.orders, t.lineitem)
  }

  /** q18 on the bucketed-by-orderkey fact layout
    * (Formats.bucketedFacts): identical result (same oracle as
    * q18_big_spenders). Here BOTH orderkey repartitions die — the
    * groupBy(l_orderkey) partial/final agg collapses onto the bucketed
    * scan's distribution and the orders join-back reuses it — the
    * single biggest shuffle eliminator the layout buys at 100 TB. */
  def q18Bucketed(spark: SparkSession, dir: String): DataFrame = {
    val (o, l) = graft.sources.Formats.bucketedFacts(spark, dir)
    q18Body(Tables(spark, dir), o, l)
  }

  private def q18Body(t: Tables, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val big = lineitem
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 3).as("sum_qty"))
      .filter(col("sum_qty") > 180)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q19 shape: OR-of-ANDs disjunctive predicate over a broadcast
    * dim join — exercises Catalyst's CNF conversion / partial pushdown
    * (the l_quantity bounds common to all branches reach the scan). */
  def q19DisjunctivePred(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(31, 50) &&
          col("l_quantity").between(20, 40)))
      .agg(
        discRev3.as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21 shape: double-correlated EXISTS + NOT EXISTS — lines in
    * completed orders with a big quantity whose order has OTHER suppliers
    * but none of them big: semi-join + semi-join + anti-join, all on the
    * orderkey (one shuffle layout), supplier dim broadcast at the end. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select("l_orderkey", "l_suppkey", "l_quantity")
    val fKeys = t.orders.filter(col("o_orderstatus") === "F").select("o_orderkey")
    val l1 = li.filter(col("l_quantity") > 30)
      .join(fKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val others = li.select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
    val withOther = l1.join(others,
      col("l_orderkey") === col("o2_orderkey") && col("l_suppkey") =!= col("o2_suppkey"),
      "left_semi")
    val bigOthers = li.filter(col("l_quantity") > 30)
      .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
    withOther.join(bigOthers,
        col("l_orderkey") === col("o3_orderkey") && col("l_suppkey") =!= col("o3_suppkey"),
        "left_anti")
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(10)
  }

  /** TPC-H Q22 shape: scalar subquery (global positive-balance average)
    * + NOT EXISTS anti-join + aggregate, via spark.sql so Catalyst's
    * subquery planning (broadcast of the 1-row aggregate) is exercised
    * end to end. */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("graft_customer")
    t.orders.createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_nationkey, count(*) AS n_cust,
        | round(CAST(sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 100, 3) AS total_bal
        |FROM graft_customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** KMV distinct-count sketch (graft.functions.KmvDistinct) next to the
    * exact count: bounded-memory mergeable cardinality estimation whose
    * result is DETERMINISTIC (the k-min set of a fixed hash is
    * order-independent), so the DuckDB oracle reproduces the estimate
    * exactly — the property engine-specific HLL sketches can't give an
    * oracle gate. Hash = first 8 md5 hex chars of the key, mirrored. */
  def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvDistinct)
    // Distinct FIRST (a codegen'd partial-agg hash shuffle over the
    // full fact table), sketch + exact count over the ~30× smaller
    // distinct key set: the typed Aggregator pays a buffer
    // serialize/deserialize per input row, so feeding it raw lines
    // would put 600k rows through object-hash aggregation for the same
    // answer (the KMV of a multiset equals the KMV of its support, and
    // count(*) over distinct (flag, key) pairs IS the exact distinct).
    Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .withColumn("h",
        expr(OrderkeyHash32))
      .groupBy("l_returnflag")
      .agg(
        round(kmv(col("h")), 3).as("est_distinct"),
        count(lit(1)).as("n_exact"))
      .orderBy("l_returnflag")
  }

  /** The MapReduce string-aggregation classic (group-concat — the
    * shape of every "build a posting/roster per key" reduce): per
    * nation, the sorted roster of its suppliers as one CSV value plus
    * the count. Determinism comes from sorting INSIDE the aggregate
    * domain (array_sort on the collected list == DuckDB's
    * string_agg ORDER BY) — collect order is partition-dependent, the
    * sorted join is not.
    *
    * Scale: one partial-agg shuffle on the nation key; the roster row
    * is O(group size) — the same bounded-value-size caveat as
    * txt_inverted_index's postings (cap or tier hot keys in
    * production; nations are a constant 25 here). */
  def mrGroupConcat(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        expr("array_join(array_sort(collect_list(s_name)), ',')").as("roster"))
      .orderBy("nation")
  }

  /** redmap `CoGroup` as a declarative plan: per nation, customers and
    * suppliers grouped side by side (keys from EITHER input survive).
    * The DataFrame formulation is two partial-aggregates + a full-outer
    * join on the key — what cogroup compiles to when the per-key merge
    * is itself an aggregation (RedmapOpsSpec proves the typed
    * `cogroupOp` produces the identical result). */
  def mrCogroup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.customer.groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 3).as("sum_acctbal"))
    val s = t.supplier.groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("sum_acctbal"), lit(0.0)).as("sum_acctbal"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  /** Set operations — the remaining relational-algebra surface:
    * INTERSECT (customers ordering in both years) and EXCEPT (in 1998
    * but not 1999), tagged and unioned into one result. Spark plans
    * both as distinct + left-semi/anti joins on the shuffled key — the
    * same scale shape as q12/q11; nothing new to tune, but the operator
    * surface deserves its own oracle-checked entry. */
  def q20SetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir).orders
    def active(year: Int): DataFrame = orders
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select("o_custkey")
    val both = active(1998).intersect(active(1999))
      .select(lit("both").as("tag"), col("o_custkey"))
    val only98 = active(1998).except(active(1999))
      .select(lit("only_1998").as("tag"), col("o_custkey"))
    both.unionByName(only98).orderBy("tag", "o_custkey")
  }

  /** TPC-H Q7 shape (volume shipping): revenue between two specific
    * nations, by direction and ship year. The two 1-row nation filters
    * broadcast and prune lineitem/customer EARLY (Catalyst pushes the
    * pair predicate through the broadcast joins), so the only shuffle
    * left is the orders⋈lineitem fact join — the same layout every
    * other fact query reuses. */
  def q23VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val n1 = broadcast(t.nation
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t.nation
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("snk"))
      .join(n2, col("c_nationkey") === col("cnk"))
      .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
        (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(discRev3.as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape (national market share): one supplier nation's
    * share of ECONOMY-part revenue sold into AMERICA, per order year.
    * Both sums run in exact integer cent-product units (order-
    * independent — see centsSum); only the final share is a double,
    * and a quotient of two exact integers is bit-identical across
    * engines before the round. */
  def q24MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val vol = expr(
      "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0))")
    t.lineitem
      .join(broadcast(t.part.filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("cnk"), col("n_regionkey"))),
        col("c_nationkey") === col("cnk"))
      .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("vol", vol)
      .groupBy("o_year")
      .agg(round(
        sum(when(col("supp_nation") === "NATION_2", col("vol"))
          .otherwise(lit(0).cast("decimal(38,0)"))).cast("double") /
          sum(col("vol")).cast("double"), 4).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q10 shape (returned-item reporting): top-20 customers by
    * revenue lost to returns in one year. Selective filters land on
    * both fact scans (PushedFilters), nation broadcasts, and the final
    * top-20 is TakeOrderedAndProject over the aggregated (per-customer)
    * rows — never a global sort of the join output. */
  def q25ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.filter(col("l_returnflag") === "R")
      .join(t.orders.filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(discRev3.as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** Co-purchase pair counts (p1 < p2, n_orders = the orders holding
    * both parts): the one derivation behind [[q26BasketPairs]], q36,
    * GraphPin and the graph family's edge list. The line items are
    * hash-partitioned on l_orderkey once, so every order's lines sit in
    * one partition, and the items overload below walks each order
    * once. */
  private[graft] def coPurchasePairCounts(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairCounts(Tables(spark, dir).lineitem
      .select("l_orderkey", "l_partkey")
      .repartition(col("l_orderkey")))

  /** Pair counts over caller-supplied (orderkey, partkey) rows clustered
    * on l_orderkey (duplicates allowed) — lets q36 pass its checkpointed
    * items instead of re-deriving them. The "pairs" pattern of MapReduce
    * co-occurrence counting: each partition is sorted on (order, part),
    * so an order is one run with its parts in increasing order, and one
    * pass over the run emits (p1, p2) for every p1 < p2 among its
    * distinct parts ([[BasketPairs]]). No join and no distinct: pair
    * volume is Σ C(distinct parts per order, 2), bounded by the order
    * shape, never n². Rows with a null key are dropped, as the oracle's
    * equi-join on the order and its p1 < p2 condition drop them. */
  private[operators] def coPurchasePairCounts(items: DataFrame): DataFrame = {
    import items.sparkSession.implicits._
    items.select("l_orderkey", "l_partkey")
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .sortWithinPartitions("l_orderkey", "l_partkey")
      .as[(Long, Long)]
      .mapPartitions(rows => new BasketPairs(rows))
      .toDF("p1", "p2")
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** (p1, p2) for every p1 < p2 of each order's distinct parts, over
    * (orderkey, partkey) rows sorted on both: an order's parts are
    * buffered once (equal neighbours skipped), then its pairs stream
    * out before the next order is read. */
  private final class BasketPairs(rows: Iterator[(Long, Long)])
      extends Iterator[(Long, Long)] {
    private var parts = new Array[Long](16)
    private var n = 0          // distinct parts of the current order
    private var i = 0          // next pair is (parts(i), parts(j))
    private var j = 1
    private var ahead: (Long, Long) = if (rows.hasNext) rows.next() else null

    private def nextOrder(): Unit = {
      val order = ahead._1
      n = 0
      while (ahead != null && ahead._1 == order) {
        if (n == 0 || parts(n - 1) != ahead._2) {
          if (n == parts.length) parts = java.util.Arrays.copyOf(parts, 2 * n)
          parts(n) = ahead._2
          n += 1
        }
        ahead = if (rows.hasNext) rows.next() else null
      }
      i = 0
      j = 1
    }

    def hasNext: Boolean = {
      while (i >= n - 1 && ahead != null) nextOrder()
      i < n - 1
    }

    def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException("no more pairs")
      val pair = (parts(i), parts(j))
      j += 1
      if (j == n) { i += 1; j = i + 1 }
      pair
    }
  }

  /** Market-basket co-occurrence: the top part pairs ordered together
    * ([[coPurchasePairCounts]]); the top-20 is TakeOrderedAndProject
    * over the aggregated pairs. */
  def q26BasketPairs(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairCounts(spark, dir)
      .orderBy(desc("n_orders"), col("p1"), col("p2"))
      .limit(20)

  /** Association rules a→b over the co-purchase baskets (the market-
    * basket step after [[q26BasketPairs]]'s raw counts): confidence
    * = n(ab)/n(a) and lift = N·n(ab)/(n(a)·n(b)), support ≥ 2 orders,
    * top-20 by lift. Canonical pairs fan out to both directions via
    * ONE stack (no second pair pass); the per-item counts and the
    * 1-row basket total broadcast onto the directed rules.
    *
    * Cross-engine float contract: every numerator/denominator is an
    * exact BIGINT product (counts are small: n(ab)·N < 2^53, so the
    * DOUBLE casts are exact), and each metric is ONE division of the
    * same two exact integers in both engines — the ev_anomaly
    * no-FP-until-the-last-op rule. The lift sort is therefore on
    * bit-identical doubles; (a, b) breaks genuine ties.
    *
    * Scale: the distinct items are checkpointed once, partitioned on
    * l_orderkey, and read by all three consumers (pair counts, item
    * counts, basket total); pair volume is Σ C(items/order, 2) —
    * order-shape-bounded, never n²; the top-20 is
    * TakeOrderedAndProject. */
  def q36AssocRules(spark: SparkSession, dir: String): DataFrame = {
    // Three consumers of the distinct-items set: un-cut, each would
    // scan and aggregate lineitem again. Checkpoint once, partitioned
    // on l_orderkey so the pair count walks each order in place (the
    // layout survives the checkpoint through Checkpoints.tracked). The
    // width is explicit: AQE would coalesce a width-less repartition by
    // the items' size, and the pair count, whose output is several
    // times larger, would run in fewer tasks. The blocks stay for the
    // readout; session teardown reclaims them.
    val (items, _) = Checkpoints.tracked(Tables(spark, dir).lineitem
      .select("l_orderkey", "l_partkey").distinct()
      .repartition(AdaptivePar.forTable(spark, dir, "lineitem",
        AdaptivePar.LoopBytesPerTask), col("l_orderkey")))
    val directed = coPurchasePairCounts(items)
      .selectExpr("stack(2, p1, p2, n_orders, p2, p1, n_orders) AS (a, b, nab)")
      .filter(col("nab") >= 2)
    val cnt = items.groupBy("l_partkey").agg(count(lit(1)).as("n"))
    directed
      .join(broadcast(cnt.select(col("l_partkey").as("a"), col("n").as("na"))), "a")
      .join(broadcast(cnt.select(col("l_partkey").as("b"), col("n").as("nb"))), "b")
      .crossJoin(broadcast(
        items.agg(countDistinct("l_orderkey").as("n_baskets"))))
      .select(col("a"), col("b"), col("nab"), col("na"), col("nb"),
        (col("nab").cast("double") / col("na")).as("confidence"),
        expr("CAST(nab * n_baskets AS DOUBLE) / CAST(na * nb AS DOUBLE)").as("lift"))
      .orderBy(desc("lift"), col("a"), col("b"))
      .limit(20)
  }

  /** TPC-H Q2 shape (min-cost supplier) on the DERIVED supply catalog
    * — the schema has no partsupp, so the supply table is derived from
    * observed trade: per (part, supplier), the minimum unit price ever
    * charged, in EXACT integer cents via `price_cents div quantity`
    * (quantities are integral; floor division is the cast-free
    * cross-engine idiom — see the edit-near threshold note). Then the
    * Q2 question: for each part, WHICH AMERICA-region supplier offers
    * it cheapest (argmin via a rank-1 window → WindowGroupLimit, ties
    * to the smaller suppkey), cheapest 20 offers overall.
    *
    * Scale: one partial-aggregated (part, supplier) groupBy on the
    * fact table; the region gate broadcasts and prunes BEFORE the
    * argmin; the global top-20 is TakeOrderedAndProject. */
  def q30CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ps = t.lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_cents"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("unit_cents").as("min_unit_cents"))
    val sups = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val w = Window.partitionBy("l_partkey").orderBy("min_unit_cents", "l_suppkey")
    ps.join(broadcast(sups), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
        col("s_name"), col("n_name"),
        (col("min_unit_cents").cast("double") / 100).as("unit_price"))
      .orderBy("unit_price", "p_partkey")
      .limit(20)
  }

  /** TPC-H Q9 shape (product-type profit) on the DERIVED supply
    * catalog — the schema has no partsupp, so supply cost per
    * (part, supplier) is the q30 derivation: the minimum unit price
    * ever charged, in exact integer cents (`price_cents div quantity`).
    * Profit per line = price·(1−discount) − unit_cost·quantity, kept
    * in 1e-4-dollar BIGINT units ("centi-cents": price_cents ×
    * (100−disc_pct) is already that unit, and cost_cents × 100 joins
    * it) so the per-nation-per-year sum is order-independent; the ONE
    * double is the final S/10000 — the same exact-integer-quotient
    * both engines compute bit-identically.
    *
    * Scale: the part filter broadcasts and prunes the fact scan FIRST;
    * the cost catalog is a partial-aggregated (part, supplier) groupBy
    * over the already-pruned lines (the min for a pair is the same
    * whether derived before or after a part-side filter — every line
    * of the pair shares the part); the catalog join shuffles on the
    * same (part, supplier) key its groupBy just produced. The pruned
    * line set feeds BOTH the catalog and the fact side, so it is
    * localCheckpoint'ed — one fact scan, not two (the minhash
    * one-pass lesson; the checkpoint holds the ~3%-selectivity slim
    * projection, far cheaper than a second full scan at 100 TB). */
  def q31ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val gearLines = t.lineitem
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(broadcast(t.part.filter(col("p_name").like("%gear%"))
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .localCheckpoint()
    val ps = gearLines
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_cents"))
      .groupBy("ps_partkey", "ps_suppkey")
      .agg(min("unit_cents").as("min_unit_cents"))
    gearLines
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"),
        expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100) AS BIGINT)) - " +
          "min_unit_cents * CAST(l_quantity AS BIGINT) * 100 " +
          "AS DECIMAL(38,0))").as("profit_cc"))
      .groupBy("nation", "o_year")
      .agg(expr("CAST(sum(profit_cc) AS DOUBLE) / 10000").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape (important stock) on the DERIVED supply catalog:
    * per (part, supplier), holding value = min unit cents × total
    * traded quantity; per part, the summed value; keep parts whose
    * value exceeds 1.5× the AVERAGE part's value (a scale-free gate —
    * a constant fraction-of-total threshold empties as the part count
    * grows, which is exactly why TPC-H SF-scales its own fraction; 0
    * rows at sf0.1 proved it here). The gate is the classic
    * scalar-subquery-vs-groups pattern — the 1-row global (total,
    * count) broadcasts onto the per-part aggregate and the comparison
    * cross-multiplies in DECIMAL(38,0): 2·value·n_parts > 3·total — no
    * double division anywhere; the output `value` double is the only
    * cast, an exact-integer /100 both engines agree on.
    *
    * Scale: two partial-aggregated shuffles on shrinking keys —
    * (part, supplier) then part — and a broadcast of ONE row; the
    * threshold compare is a codegen'd filter, and top-50-by-value is
    * TakeOrderedAndProject with a partkey tiebreak. */
  def q32ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ps = t.lineitem
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("unit_cents").as("min_unit_cents"), sum("qty").as("tot_qty"))
      .select(col("l_partkey"),
        expr("CAST(min_unit_cents * tot_qty AS DECIMAL(38,0))").as("value_cents"))
    val byPart = ps.groupBy("l_partkey")
      .agg(sum("value_cents").cast("decimal(38,0)").as("part_value_cents"))
    byPart
      .crossJoin(broadcast(
        byPart.agg(sum("part_value_cents").cast("decimal(38,0)").as("total_cents"),
          count(lit(1)).as("n_parts"))))
      .filter(expr("part_value_cents * n_parts * 2 > total_cents * 3"))
      .select(col("l_partkey").as("p_partkey"),
        expr("CAST(part_value_cents AS DOUBLE) / 100").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
      .limit(50)
  }

  /** TPC-H Q16 shape on the derived supply relation: distinct-supplier
    * counts per (brand, type, size) over selective part predicates,
    * EXCLUDING flagged suppliers via NOT-IN (the "customer complaints"
    * exclusion — here s_acctbal < 0). Exercises the
    * count(DISTINCT) + anti-join + multi-attribute grouping combo the
    * other TPC-H shapes don't.
    *
    * Scale shape: the supplier-part pairs come from ONE distinct over
    * the pruned 2-column lineitem scan; the flagged-supplier set is a
    * broadcast left-anti (6 rows — never a shuffle); part predicates
    * push to the part scan before its broadcast join; the
    * count(DISTINCT suppkey) per group is a two-phase partial
    * aggregate on the (brand, type, size) keys. */
  def q40PartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ps = t.lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    val flagged = t.supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    ps.join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(t.part
        .filter(col("p_size").isin(1, 9, 14, 23, 36, 45, 49)
          && col("p_brand") =!= "Brand#13"
          && !col("p_type").startsWith("PROMO"))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape (excess/concentrated stock) on the DERIVED supply
    * relation: suppliers in one nation who, for some filtered part they
    * supply, shipped MORE THAN HALF of that (part, supplier) pair's
    * all-time quantity in a single recent year — Q20's double-nested
    * IN with a correlated scalar-aggregate threshold, collapsed the
    * Spark-first way into ONE conditional aggregate over the pair keys
    * plus a cross-multiplied integer gate (recent·2 > total — no
    * division, no float) and a left-semi join back to suppliers.
    *
    * Scale: the part filter broadcasts and prunes the fact scan first;
    * the pair rollup is one partial-aggregated shuffle on (part, supp)
    * keys; the qualifying-supplier set collapses to a distinct before
    * the semi join; the nation gate broadcasts. */
  def q41ExcessStock(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val qualifying = t.lineitem
      .join(broadcast(t.part.filter(col("p_name").like("%bolt%"))
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        (year(col("l_shipdate")) === 2000).as("recent"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("qty").as("tot_qty"),
        sum(when(col("recent"), col("qty")).otherwise(0L)).as("recent_qty"))
      .filter(col("recent_qty") * 2 > col("tot_qty"))
      .select(col("l_suppkey")).distinct()
    t.supplier
      .join(broadcast(Tables(spark, dir).nation
        .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("acctbal_cents"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q12 shape (shipping modes and order priority) — the LAST of
    * the 22 TPC-H query shapes, completing the sweep. This schema ships
    * no l_shipmode/commitdate/receiptdate, so the mode is the DERIVED
    * fulfillment class q35 established (order→ship latency bands:
    * ≤14 d express, ≤60 d standard, else economy), and the Q12 payload
    * is kept verbatim: per mode, how many lines belong to critical
    * (URGENT/HIGH) orders vs the rest, over one ship-year. Distinct
    * from q35_ship_delay on purpose: Q12 PIVOTS the priority dimension
    * into two conditional counts per mode row (the two-bucket CASE
    * sum), q35 reports the full priority×band grid with shares.
    *
    * Scale: the year filter prunes the fact scan (pushed to parquet);
    * one fact-fact equi-join on orderkey (the co-partitioned join every
    * Q12 engine runs), then a per-row map and a partial-aggregated
    * count on a 3-key domain — no window, no second shuffle. */
  def q42ShipModes(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_mode",
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 14, "express")
          .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 60, "standard")
          .otherwise("economy"))
      .groupBy("ship_mode")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("ship_mode")
  }

  /** 2D SKYLINE (Pareto frontier) — orders no other order beats on
    * BOTH axes (higher value AND earlier date): the classic dominance
    * query behind best-tradeoff shortlists. The naive form is an
    * O(n²) NOT EXISTS anti-join; sorted by (value desc, date asc), a
    * point is dominated iff some EARLIER row has date ≤ its own, so
    * the frontier is one running-min window — O(n log n).
    *
    * Scale shape: a global-sort window is one corpus-sized partition,
    * so the query uses the skyline DECOMPOSITION LAW skyline(S) =
    * skyline(∪ᵢ skyline(Sᵢ)): level 1 runs the running-min window per
    * hash bucket (32 parallel partitions, each emitting only its
    * local frontier — the result SET is identical under any
    * partitioning because dominance is partition-independent), level
    * 2 re-runs the same window on the tiny survivor union. Exact
    * integer cents and days; output DISTINCT (both engines collapse
    * duplicate frontier points identically, making the window's
    * first-kept-wins tiebreak invisible). The oracle states the
    * O(n²) definition directly — same set by the law. */
  def q43Skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables(spark, dir).orders.select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"),
      expr("unix_micros(o_orderdate) div 86400000000").as("d"))
    def frontier(df: DataFrame, parts: Seq[String]): DataFrame = {
      val w = (if (parts.isEmpty) Window.partitionBy()
        else Window.partitionBy(parts.map(col): _*))
        .orderBy(desc("c"), col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("mind", min("d").over(w))
        .filter(col("mind").isNull || col("mind") > col("d"))
        .drop("mind")
    }
    val local = frontier(
      pts.withColumn("b", expr("crc32(CAST(c * 131071 + d AS STRING)) % 32")),
      Seq("b")).drop("b")
    frontier(local, Seq.empty)
      .select((col("c").cast("double") / 100).as("price"), col("d").as("day"))
      .distinct()
      .orderBy(desc("price"), col("day"))
  }

  /** RFM customer segmentation — the classic marketing/churn feature
    * cube: per customer, Recency (days from the corpus's last order
    * date to the customer's last order), Frequency (order count), and
    * Monetary (lifetime spend in exact cents), each scored 1-3 by
    * FIXED business thresholds (R: ≤365 / ≤730 days; F: ≥12 / ≥7
    * orders; M: ≥$3.0M / ≥$1.5M), rolled up to the 27-cell segment
    * grid with exact-dollar totals.
    *
    * Fixed thresholds are the deliberate scale choice over quartile
    * scoring: ntile over RAW customers is a global single-task window
    * (fine over the 25-row aggregate in agg_ntile_quartiles, wrong
    * over a 1e8-row customer dimension at 100 TB), while threshold
    * scoring is a pure per-row map — the only non-linear pieces are
    * the one-row global-max-date broadcast and the 27-key partial-
    * aggregated rollup. All gates integer-exact (datediff days, order
    * counts, BIGINT cents), so the segment assignment is bit-stable
    * across engines and partition orders. */
  def q33RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val perCust = t.orders
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"))
    val gmax = t.orders.agg(max(col("o_orderdate")).as("gmax"))
    perCust.crossJoin(broadcast(gmax))
      .withColumn("rec_days", datediff(col("gmax"), col("last_order")))
      .withColumn("r_score",
        when(col("rec_days") <= 365, 3).when(col("rec_days") <= 730, 2).otherwise(1))
      .withColumn("f_score",
        when(col("freq") >= 12, 3).when(col("freq") >= 7, 2).otherwise(1))
      .withColumn("m_score",
        when(col("spend_cents") >= 300000000L, 3)
          .when(col("spend_cents") >= 150000000L, 2).otherwise(1))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("spend_cents").cast("decimal(38,0)")).cast("double") / 100)
          .as("total_spend"),
        min("o_custkey").as("sample_custkey"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Order→ship latency distribution per order priority — ship date
    * minus order date bucketed into SLA bands (≤7 week, ≤30 month,
    * ≤90 quarter, >90 slow), per-priority counts and exact-ppm
    * shares: the fulfillment SLA report, and the remaining
    * date-arithmetic surface (datediff on two DATE columns; the other
    * date ops bin timestamps). One fact-fact equi-join (orderkey),
    * then a pure per-row map → partial-aggregated count on the
    * |priorities|×4 domain → per-priority total broadcast for the
    * cross-multiplied ppm; integer end-to-end. */
  def q35ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val b = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay", datediff(col("l_shipdate"), col("o_orderdate")))
      .withColumn("bucket",
        when(col("delay") <= 7, "week")
          .when(col("delay") <= 30, "month")
          .when(col("delay") <= 90, "quarter")
          .otherwise("slow"))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n"))
    val tot = b.groupBy("o_orderpriority").agg(sum("n").as("n_prio"))
    b.join(broadcast(tot), "o_orderpriority")
      .select(col("o_orderpriority"), col("bucket"), col("n"),
        expr("n * 1000000 div n_prio").as("share_ppm"))
      .orderBy("o_orderpriority", "bucket")
  }

  /** Mergeable quantile SAMPLE sketch — the fifth sketch family member
    * next to HLL/KMV/CMS/Bloom, covering quantiles: per group, the 100
    * smallest DISTINCT md5(orderkey-linenumber-value) hashes form a
    * deterministic uniform sample, and p50/p90 are nearest-rank stats
    * OF THE SAMPLE (⌈q·k⌉ — integer rank math, no interpolation: the
    * equi-depth interpolation formulas are a known cross-engine ulp
    * trap). The k-min-by-hash set is a join-semilattice exactly like
    * KMV's (k-min of a union == k-min of merged k-mins), so the sketch
    * merges across partitions/days/shards for free and the result is
    * independent of partitioning — the property that makes it a SKETCH
    * rather than a sort.
    *
    * Scale: the sample cut is a per-group WindowGroupLimit (per-
    * partition heap, rows die before the shuffle); the rank windows
    * then run over ≤100 rows per group. The exact n comes from a
    * separate 2-column partial-aggregated scan (no md5 paid there).
    * Compare agg_exact_median: exact quantiles cost a value-domain
    * histogram + cumsum (5 shuffles); the sample answers with one
    * WindowGroupLimit at bounded error — the tradeoff a 100 TB
    * pipeline actually chooses. */
  def aggQuantileSample(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rows = t.lineitem.select(col("l_returnflag").as("grp"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
      // (orderkey, linenumber) is NOT unique in this corpus (dup rows
      // exist) — fold the value into the hash so rows tied on skey are
      // full duplicates carrying identical v: the sample is then
      // partition-order-invariant even though row identity is not.
      expr("md5(concat(CAST(l_orderkey AS STRING), '-', " +
        "CAST(l_linenumber AS STRING), '-', " +
        "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING)))")
        .as("skey"))
    // SAMPLE CONTRACT (shared with quantileSampleStream /
    // quantileSnapshotStream — ADVICE r10): the sample is the 100
    // smallest DISTINCT skeys per group, NOT the first-100-rows
    // multiset. A full-duplicate row collapses onto its skey — safe
    // because skey folds v in, so equal skeys carry identical v — and
    // the streaming twin's per-key state buffer (a Map keyed by skey)
    // then agrees with the batch sample EVEN when a duplicate lands
    // inside a group's 100 smallest hashes; with the old multiset rule
    // the twins drifted exactly there. dense_rank (not row_number)
    // keeps the WindowGroupLimit per-partition heap pushdown; the
    // dedup after the ≤100-distinct cut touches only sample-sized
    // rows, so the extra exchange is k-bounded.
    val wS = Window.partitionBy("grp").orderBy("skey")
    val samp = rows.withColumn("srn", dense_rank().over(wS))
      .filter(col("srn") <= 100)
      .drop("srn")
      .dropDuplicates("grp", "skey")
    val wR = Window.partitionBy("grp").orderBy("v", "skey")
    val wK = Window.partitionBy("grp")
    val est = samp
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("kg", count(lit(1)).over(wK))
      .groupBy("grp")
      .agg(count(lit(1)).as("k"),
        max(when(col("rn") === expr("(kg + 1) div 2"), col("v"))).as("p50c"),
        max(when(col("rn") === expr("(9 * kg + 9) div 10"), col("v"))).as("p90c"))
    val n = rows.groupBy("grp").agg(count(lit(1)).as("n"))
    est.join(n, "grp")
      .select(col("grp"), col("n"), col("k"),
        (col("p50c").cast("double") / 100).as("p50_est"),
        (col("p90c").cast("double") / 100).as("p90_est"))
      .orderBy("grp")
  }

  /** Year-over-year revenue growth per nation — the lag-window trend
    * report (the remaining window-function surface next to rank/ntile/
    * moving stats: `lag` across an ordered partition): revenue by
    * (nation, order year), each year's growth vs the prior year as
    * exact SIGNED ppm. Negative growth exercises the signed integral-
    * division parity: Spark `div` and DuckDB BIGINT `//` both truncate
    * toward zero, but DuckDB's `//` on DECIMAL operands FLOORS (found
    * live: -699219 vs -699220) — so the ORACLE stays in BIGINT (ample
    * at oracle scales) while the Spark side runs the difference in
    * DECIMAL(38,0) for 100 TB headroom; `div` on decimals still
    * truncates toward zero, so values agree. First year's growth is
    * NULL identically in both engines.
    *
    * Scale: one fact-dim join chain (customer/nation broadcast-able),
    * one partial-aggregated groupBy on the tiny (nation, year) domain,
    * and the lag window runs per nation over ≤#years rows — nothing
    * single-task, nothing fact-sized past the first aggregate. */
  def q34YoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
    val w = Window.partitionBy("nation").orderBy("o_year")
    rev
      .withColumn("prev_cents", lag("rev_cents", 1).over(w))
      .select(col("nation"), col("o_year"),
        (col("rev_cents").cast("double") / 100).as("revenue"),
        // DECIMAL(38,0) difference×1e6 — a BIGINT intermediate would
        // overflow once per-cell revenue crosses ~9e12 cents; div
        // returns LONG (the ppm itself is small).
        expr("(CAST(rev_cents AS DECIMAL(38,0)) - prev_cents) * 1000000" +
          " div prev_cents").as("yoy_ppm"))
      .orderBy("nation", "o_year")
  }

  /** Bloom-filter membership sketch — the fourth mergeable sketch next
    * to KMV (distinct count), HLL (distinct count), and CMS
    * (frequency): per returnflag group, a 256-bit Bloom filter over
    * the group's DISTINCT orderkeys (k=4 hash positions = 2 md5 hex
    * chars each — deterministic, cross-engine, and the bit-OR merge is
    * a semilattice so the filter re-merges for free at scale exactly
    * like HLL's register max). Reported per (group, probe key): the
    * filter's maybe-present verdict vs ground truth (the false-
    * positive behavior made visible) plus the group's set-bit count —
    * all exact integers/booleans, no estimate formula (ln() would be
    * a libm-parity trap).
    *
    * Scale: one distinct pass + a 4× position explode (bounded),
    * everything partial-aggregated; the probe side is a literal
    * handful of keys. This is the operator a pipeline persists next
    * to a partition to skip non-member lookups (the same idea
    * Spark's runtime bloom pruning applies plan-side, §2.9). */
  def aggBloomFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def posArr(c: String): String =
      "transform(sequence(0, 3), j -> " +
        s"CAST(conv(substr(md5(CAST($c AS STRING)), j * 8 + 7, 2), 16, 10) AS INT))"
    val probeKeys = Seq(1L, 2L, 3L, 999999998L, 999999999L)
    // keys feeds THREE consumers (bit build, flag domain, ground
    // truth) — checkpoint or the lineitem distinct re-runs per
    // consumer (the minhash diamond; un-cut this query paid ~2x).
    val keys = Tables(spark, dir).lineitem
      .select(col("l_returnflag").as("flag"), col("l_orderkey")).distinct()
      .localCheckpoint()
    // bits feeds both the membership join and the popcount — one pass.
    // The md5 is hoisted into its own column before the position
    // derivation: Spark does not lift loop-invariant expressions out of
    // higher-order-function lambdas, so the inline form hashed every
    // key FOUR times (k× the corpus's md5 cost for the one digest).
    // And the positions come from a plain explode + substr, NOT
    // transform(sequence(...), j -> ...): a higher-order function is
    // CodegenFallback, which runs the whole corpus-sized stage through
    // the interpreted evaluator (the stat_bootstrap_ci lesson).
    val bits = keys
      .withColumn("h", md5(col("l_orderkey").cast("string")))
      .select(col("flag"), col("h"), explode(expr("sequence(0, 3)")).as("j"))
      .select(col("flag"),
        expr("CAST(conv(substr(h, j * 8 + 7, 2), 16, 10) AS INT)").as("b"))
      .distinct()
      .localCheckpoint()
    val nbits = bits.groupBy("flag").agg(count(lit(1)).as("n_bits_set"))
    val probes = probeKeys.toDF("probe_key")
    val flags = keys.select("flag").distinct()
    val hits = flags.crossJoin(broadcast(probes))
      .select(col("flag"), col("probe_key"),
        explode(expr(posArr("probe_key"))).as("b"))
      .join(bits, Seq("flag", "b"), "left_semi")
      .groupBy("flag", "probe_key").agg(count(lit(1)).as("nh"))
    // Ground truth only matters AT the probe keys — filter on the
    // literal set BEFORE the join so the truth side is ≤ |probes|·
    // |flags| rows instead of every distinct (flag, orderkey).
    val truly = keys
      .filter(col("l_orderkey").isin(probeKeys: _*))
      .select(col("flag"), col("l_orderkey").as("probe_key"))
      .withColumn("t", lit(true))
    flags.crossJoin(broadcast(probes))
      .join(hits, Seq("flag", "probe_key"), "left")
      .join(nbits, "flag")
      .join(truly, Seq("flag", "probe_key"), "left")
      .select(col("flag"), col("probe_key"),
        (coalesce(col("nh"), lit(0L)) === 4).as("maybe_present"),
        coalesce(col("t"), lit(false)).as("truly_present"),
        col("n_bits_set"))
      .orderBy("flag", "probe_key")
  }

  /** TPC-H Q15 shape (top supplier): the supplier(s) whose discounted
    * revenue over one shipdate quarter equals the MAXIMUM per-supplier
    * revenue — the aggregate → scalar-max → join-back-on-equality
    * pattern (Q15's CREATE VIEW unrolled inline). The equality test
    * runs on the integer-exact 3-decimal revenue (see [[discRev3]]):
    * a double revenue could tie-or-not depending on summation order,
    * but the cents-product sum is order-independent, so "equals max"
    * is deterministic cross-engine even with genuine ties (all tied
    * suppliers are returned, ordered by key). The quarter filter lands
    * on the lineitem scan (PushedFilters); the max is a 1-row
    * broadcast cross join, the supplier dim broadcasts. */
  def q29TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(discRev3.as("total_revenue"))
    rev
      .crossJoin(broadcast(rev.agg(max("total_revenue").as("mr"))))
      .filter(col("total_revenue") === col("mr"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Classic MapReduce secondary sort: per key (user), values ordered
    * by a secondary key (ts) — here the first 3 event ids per user.
    *
    * The Hadoop idiom is partition-by-key + sort-within-partition on a
    * composite key; Spark's window with a rank predicate is the
    * declarative twin, and the rn<=3 filter becomes a WindowGroupLimit
    * (per-partition top-3 heap BEFORE the exchange), so state per user
    * is O(3), not O(events) — the collect_list only ever sees the 3
    * survivors. */
  def mrSecondarySort(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(tus, event_id))), " +
          "x -> CAST(x.event_id AS STRING)), ',')").as("first3"),
        count(lit(1)).as("n_first"))
      .orderBy("user_id")
  }

  /** 10-bucket equi-width histogram over o_totalprice (the profiling
    * twin of qc_profile's bounds). Equi-width (value-range) buckets,
    * not equi-depth: the bucket function is pure IEEE arithmetic on
    * (v, min, max) — bit-identical across engines with NO rounding
    * contract needed, where interpolated decile boundaries would pit
    * Spark's and DuckDB's quantile interpolation ulp-for-ulp on every
    * tie. Two scans total: a 1-row (min, max) aggregate broadcast to
    * the bucket-assignment scan, then one partial-agg groupBy on 10
    * keys. */
  def aggHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val mm = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    // hi == lo guard (ADVICE r4): on a constant column the bucket
    // expression divides by zero — Spark yields NULL (least(10, NULL)
    // = 10) while DuckDB computes 0*10/0.0 = NaN and errors on the
    // int cast. One bucket-1 branch in BOTH engines instead.
    o.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(1)).otherwise(
          least(lit(10), (floor((col("o_totalprice") - col("lo")) * 10 /
            (col("hi") - col("lo"))) + 1).cast("int"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        round(centsSum("o_totalprice") / 100, 3).as("sum_price"))
      .orderBy("bucket")
  }

  /** ntile over an aggregate: nations quartiled by exact total customer
    * account balance. The window input is the 25-row groupBy output —
    * ntile needs a total order, which is only sane over aggregated
    * (group-sized) data; the per-row ranks stay deterministic because
    * the cents sum is exact-integer and the tiebreak is the key. */
  def aggNtileQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val byNation = t.customer
      .groupBy(col("c_nationkey"))
      .agg(sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
    byNation
      .withColumn("quartile",
        ntile(4).over(Window.orderBy(desc("bal_cents"), col("c_nationkey"))))
      .select(col("c_nationkey"), (col("bal_cents").cast("double") / 100).as("total_bal"),
        col("quartile"))
      .orderBy("c_nationkey")
  }

  /** argmax/argmin operator surface: per nation, WHICH customer holds
    * the top account balance (max_by / arg_max — the aggregate that
    * returns a different column than it orders by). Ties are resolved
    * deterministically by packing (balance_cents, custkey) into one
    * BIGINT order key — exact-integer, so both engines pick the same
    * winner; the pack width (1e6 keys per cent value) is a test-schema
    * bound, at larger key domains the same operator takes a wider
    * decimal or a struct order key. */
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .withColumn("bal_key",
        expr("CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey"))
      .groupBy("c_nationkey")
      .agg(
        max_by(col("c_custkey"), col("bal_key")).as("top_custkey"),
        max(col("c_acctbal")).as("top_acctbal"),
        min_by(col("c_custkey"), col("bal_key")).as("bottom_custkey"))
      .orderBy("c_nationkey")

  /** Mode (most frequent value) per group — the remaining classic
    * aggregate surface next to argmax: per nation, the modal market
    * segment among its customers. Count-then-rank: the rank window
    * runs over group×domain counts (bounded), with the value itself as
    * the deterministic tiebreak. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).customer
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("c_nationkey").orderBy(desc("n"), col("c_mktsegment"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"), col("n"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q13 shape (customer distribution): orders-per-customer
    * histogram INCLUDING zero-order customers — the left outer join +
    * two-level aggregation (per-customer count, then count of counts).
    * The second groupBy keys on the count value (tiny domain), so the
    * heavy shuffle is only the first one, on c_custkey. */
  def q27OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(desc("n_custs"), desc("c_count"))
  }

  /** Fixed-SIZE deterministic sample (the reservoir-sampling shape):
    * the k=100 rows with the smallest md5(key) — a uniform-ish sample
    * whose membership is a pure function of the key, so it is stable
    * across runs, engines, partitionings, and cluster sizes (a true
    * random reservoir can never be oracle-checked). Complements
    * mr_sample_hash (fixed-RATE): rate sampling scales the sample with
    * the data; k-min sampling pins the budget. Physically this is
    * TakeOrderedAndProject — a k-row heap per partition, k rows to the
    * driver, never a global sort. */
  def mrReservoir(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .withColumn("skey", md5(col("o_orderkey").cast("string")))
      .orderBy("skey")
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice", "skey")

  /** Referential-integrity audit — orphan foreign keys across every
    * edge of the star schema (the deequ-style cross-TABLE check next
    * to qc_checks' single-table assertions: a broken FK edge silently
    * drops rows from every inner join downstream, so this is the first
    * panel an ingestion gate runs). Per relation: distinct child keys,
    * orphans (no matching parent), and the orphan count as exact
    * integers from a left join's NULL-parent side.
    *
    * Scale: each branch reduces the child to a 1-column DISTINCT key
    * set BEFORE joining (partial-agg shuffle on the key, the join then
    * runs on key-set-sized inputs, never raw fact rows); constant-
    * cardinality parents broadcast; the seven branches are independent subtrees
    * unioned into a 7-row result — Spark schedules them concurrently,
    * and each fact scan reads exactly one column. */
  def qcReferential(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def ck(rel: String, df: DataFrame, key: String): DataFrame =
      df.select(lit(rel).as("relation"), col(key).cast("long").as("k"))
        .filter(col("k").isNotNull)
    def pk(rel: String, df: DataFrame, key: String): DataFrame =
      df.select(lit(rel).as("prelation"), col(key).cast("long").as("pk"))
    // ONE tagged union per side, ONE distinct each, ONE co-partitioned
    // join, ONE 7-key rollup — not seven independent join subtrees
    // (that shape planned 21 exchanges; this one's distincts hash on
    // exactly the join key (relation, k), so EnsureRequirements reuses
    // their partitioning and the whole audit is 3 exchanges + the
    // ordering). The union does mean each fact column rides one shared
    // shuffle rather than its own broadcast — the right trade at scale,
    // where part/supplier/customer parents outgrow broadcast anyway.
    val children =
      ck("customer_nation", t.customer, "c_nationkey")
        .unionAll(ck("lineitem_orders", t.lineitem, "l_orderkey"))
        .unionAll(ck("lineitem_part", t.lineitem, "l_partkey"))
        .unionAll(ck("lineitem_supplier", t.lineitem, "l_suppkey"))
        .unionAll(ck("nation_region", t.nation, "n_regionkey"))
        .unionAll(ck("orders_customer", t.orders, "o_custkey"))
        .unionAll(ck("supplier_nation", t.supplier, "s_nationkey"))
        .distinct()
    val parents =
      pk("customer_nation", t.nation, "n_nationkey")
        .unionAll(pk("lineitem_orders", t.orders, "o_orderkey"))
        .unionAll(pk("lineitem_part", t.part, "p_partkey"))
        .unionAll(pk("lineitem_supplier", t.supplier, "s_suppkey"))
        .unionAll(pk("nation_region", t.region, "r_regionkey"))
        .unionAll(pk("orders_customer", t.customer, "c_custkey"))
        .unionAll(pk("supplier_nation", t.nation, "n_nationkey"))
        .distinct()
    children
      .join(parents,
        col("relation") === col("prelation") && col("k") === col("pk"), "left")
      .groupBy("relation")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .orderBy("relation")
  }

  /** The one schema list both engines' completeness panels derive
    * from — sharing it means the Spark plan and the oracle cannot
    * drift from EACH OTHER; a testdata schema change surfaces as an
    * analysis error on both sides at once (the TESTDATA.md contract,
    * hardcoded deliberately rather than reflected, so the panel also
    * DETECTS a column going missing instead of silently narrowing). */
  private val CompletenessSchema: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Schema-wide completeness matrix — null counts for EVERY column of
    * EVERY table in one panel (the whole-warehouse deequ completeness
    * sweep; qc_checks asserts on one table, qc_profile profiles one,
    * this is the ingestion gate's first screen across all ten). Each
    * table contributes ONE scan: a single aggregate row (count + one
    * conditional sum per column) unpivoted by `stack` into per-column
    * rows — no per-column scans, no shuffle at all until the final
    * ordering of ~60 rows.
    *
    * Scale: ten independent single-pass aggregates (Spark schedules
    * them concurrently), each reading every column once — this panel
    * is the one legitimate full-width scan in the suite, because its
    * SUBJECT is every column. */
  def qcCompleteness(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Shuffle-count note (r10, VERDICT r9 stretch — MEASURED and
    // REJECTED): a stack-first rewrite (union the per-table
    // (table, column, is_null) stacks, ONE partial-aggregated groupBy)
    // does drop the plan from 10 exchanges to 2 — but the stack's
    // |cols|× row fan-out through the generator made the query 2.7×
    // SLOWER at sf0.1 (1.6 → 4.4 s official runs): the ten exchanges
    // it removes are ONE-ROW partial→final hops that cost nothing,
    // while the rows it manufactures are corpus-sized × column count.
    // The per-table global aggregates below are the efficient shape:
    // column-pruned scans, map-side folds, nine 1-row exchanges.
    CompletenessSchema.map { case (name, cols) =>
      val aggs = cols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"))
      val stackArgs = cols.map(c => s"'$c', nn_$c").mkString(", ")
      t.table(name)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .selectExpr(s"'$name' AS table_name",
          s"stack(${cols.length}, $stackArgs) AS (column_name, n_null)",
          "n_rows")
        .select("table_name", "column_name", "n_rows", "n_null")
    }.reduce(_.unionAll(_))
      .orderBy("table_name", "column_name")
  }

  /** Data-quality assertion pass (the deequ-style CHECK step that
    * gates a pipeline run, next to qc_profile's metrics): five checks
    * over `orders` evaluated in ONE scan — completeness, key
    * uniqueness, value bounds, and an allowed-value-set test — each
    * emitted as (check, metric, passed). Every metric is a ratio of
    * exact integer aggregates (count/sum/min comparisons), so the
    * booleans carry no FP-boundary risk and the doubles are identical
    * across engines. */
  def qcChecks(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
        count_distinct(col("o_orderkey")).as("n_keys"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("n_nonpos"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L)).as("n_bad_status"),
        sum(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2030-01-01").cast("timestamp"), 1L).otherwise(0L))
          .as("n_bad_date"))
      .selectExpr(
        """stack(5,
          |  'completeness_custkey', CAST(n_rows - n_null_cust AS DOUBLE) / n_rows, n_null_cust = 0,
          |  'uniqueness_orderkey',  CAST(n_keys AS DOUBLE) / n_rows,               n_keys = n_rows,
          |  'positive_totalprice',  CAST(n_rows - n_nonpos AS DOUBLE) / n_rows,    n_nonpos = 0,
          |  'status_in_set',        CAST(n_rows - n_bad_status AS DOUBLE) / n_rows, n_bad_status = 0,
          |  'orderdate_in_range',   CAST(n_rows - n_bad_date AS DOUBLE) / n_rows,  n_bad_date = 0
          |) AS (check_name, metric, passed)""".stripMargin)
      .orderBy("check_name")

  /** Keyed pseudonymization audit — the privacy transform a
    * training-data release applies to direct identifiers, proven to
    * preserve exactly what analysts need. Tokens are the first 16 hex
    * chars of SHA-256 over salt‖value (the salt literal stands in for
    * the per-release KMS secret a production pipeline injects;
    * rotating it unlinks releases — the pseudonymization contract).
    * Per market segment the panel proves:
    * (1) UNIQUENESS — distinct tokens == distinct names, so the keyed
    * hash caused no silent identity merges on this domain; and
    * (2) JOINABILITY — order counts joined through the tokenized
    * custkey == joined through the raw key, so referential integrity
    * survives tokenization (the property that makes the released
    * tables analyzable at all).
    *
    * Scale: tokenization is a codegen'd scalar on each side of the
    * usual custkey join (same shuffle layout, a 16-char key instead
    * of a BIGINT); both panels are partial-aggregated counts. */
  def qcPseudonymize(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def tok(e: String) =
      s"substring(sha2(concat('graft-release-1:', CAST($e AS STRING)), 256), 1, 16)"
    val cust = t.customer.select(col("c_custkey"), col("c_mktsegment"),
      col("c_name"), expr(tok("c_custkey")).as("ctok"))
    val names = cust.groupBy("c_mktsegment").agg(
      count(lit(1)).as("n_customers"),
      countDistinct("c_name").as("n_names"),
      countDistinct(expr(tok("c_name"))).as("n_tokens"))
    val rawJ = t.orders.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders_raw"))
    val tokJ = t.orders.select(expr(tok("o_custkey")).as("otok"))
      .join(cust, col("otok") === col("ctok"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders_tok"))
    names.join(rawJ, Seq("c_mktsegment")).join(tokJ, Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("n_customers"), col("n_tokens"),
        (col("n_tokens") === col("n_names")).as("tokens_unique"),
        col("n_orders_raw"), col("n_orders_tok"),
        (col("n_orders_raw") === col("n_orders_tok")).as("join_preserved"))
      .orderBy("c_mktsegment")
  }

  /** Dataset profiler (deequ-style data-quality pass): per-column
    * null count, distinct count, and min/max over `orders` in ONE scan
    * — the schema-validation step a pipeline runs before trusting a new
    * drop of data. Numeric bounds land in (min_num, max_num), string
    * bounds in (min_str, max_str); the other pair is NULL.
    *
    * Shape: a single multi-distinct aggregate (Catalyst plans the
    * distincts via one Expand — still one scan, partial-aggregated
    * map-side) folded to one row, then `stack` unpivots to a row per
    * column. At 100 TB this is the profiler shape you want: no
    * per-column scans, no collects, output = #columns rows. */
  def qcProfile(spark: SparkSession, dir: String): DataFrame =
    // Four exact count_distincts in one aggregate plan an Expand (×5
    // rows) whose partial phase runs inside the scan's partitioning —
    // one row group = one thread without the spread (the
    // stat_bootstrap_ci lesson; measured 6.9 → ~2 s at sf0.1).
    Tables(spark, dir).orders
      .repartition(graft.plans.AdaptivePar.forTable(spark, dir, "orders",
        graft.plans.AdaptivePar.ExpandBytesPerTask))
      .agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_ck"),
        count_distinct(col("o_custkey")).as("nd_ck"),
        min("o_custkey").cast("double").as("mn_ck"),
        max("o_custkey").cast("double").as("mx_ck"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_tp"),
        count_distinct(col("o_totalprice")).as("nd_tp"),
        min("o_totalprice").as("mn_tp"),
        max("o_totalprice").as("mx_tp"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_os"),
        count_distinct(col("o_orderstatus")).as("nd_os"),
        min("o_orderstatus").as("mn_os"),
        max("o_orderstatus").as("mx_os"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn_op"),
        count_distinct(col("o_orderpriority")).as("nd_op"),
        min("o_orderpriority").as("mn_op"),
        max("o_orderpriority").as("mx_op"))
      .selectExpr(
        """stack(4,
          |  'o_custkey', nn_ck, nd_ck, mn_ck, mx_ck, CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  'o_totalprice', nn_tp, nd_tp, mn_tp, mx_tp, CAST(NULL AS STRING), CAST(NULL AS STRING),
          |  'o_orderstatus', nn_os, nd_os, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_os, mx_os,
          |  'o_orderpriority', nn_op, nd_op, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_op, mx_op
          |) AS (column_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)""".stripMargin)
      .orderBy("column_name")

  /** Semi-structured extraction: JSON props → typed aggregate. */
  def evJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("event_type")
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  // Shared by the plain and bucketed twins: the layout changes the
  // physical plan, not the answer, so one oracle gates both.
  // Integer-unit revenue (order-independent; see q05Body). DuckDB's
  // BIGINT sum widens to INT128 by itself.
  private val q05Sql =
    """SELECT n_name,
      |  CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
  private val q18Sql =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, round(sum(l_quantity), 3) AS sum_qty FROM lineitem
      |      GROUP BY l_orderkey HAVING round(sum(l_quantity), 3) > 180) b
      |  ON o_orderkey = b.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  private val evSessionizeSql =
    """WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
      |s AS (SELECT user_id,
      |  CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
      |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Kendall tau-b derived stats over the exact integer accumulators
    * (cc/dd = concordant/discordant pair mass, n, and the DOUBLED tie
    * terms n0_2 = n(n−1), n1_2 = Σcx(cx−1), n2_2 = Σcy(cy−1) — kept
    * ×2 so no accumulator ever needs a halving division) — ONE formula
    * string for both engines ([[TtestDerived]] idiom). tau_b =
    * (C−D)/√((n0−n1)(n0−n2)) = 2(C−D)/√(n0_2−n1_2)/√(n0_2−n2_2). */
  private val KendallDerived = Seq(
    "n",
    "CAST(cc AS BIGINT) AS concordant",
    "CAST(dd AS BIGINT) AS discordant",
    """round(CAST(cc - dd AS DOUBLE) * 2
      | / sqrt(CAST(n0_2 - n1_2 AS DOUBLE))
      | / sqrt(CAST(n0_2 - n2_2 AS DOUBLE)), 4)
      | + 0.0 AS tau_b""".stripMargin)

  /** Kendall's tau-b between document length (n_chars) and whitespace
    * token count — the ordinal-association companion to
    * [[statSpearman]] (same x/y), robust to the monotone-but-nonlinear
    * relation and exact under ties.
    *
    * Scale design: the naive definition is an O(n²) all-pairs sweep.
    * Here rows collapse to their VALUE CELLS first (GROUP BY (x,y) —
    * the [[statMannWhitney]] value-distinct posture), and concordant/
    * discordant mass is counted over CELL pairs weighted by c1·c2 —
    * O(cells²) with cells ≪ rows, via one BroadcastNestedLoopJoin over
    * the broadcast cell table (cells are value-domain-sized; an
    * unbounded domain would bin first, exactly like agg_histogram).
    * Tie corrections come from the x/y MARGINALS of the same
    * checkpointed cell table — one documents scan feeds all four
    * aggregates. Every accumulator is exact DECIMAL(38,0)/HUGEINT;
    * tau derives through [[KendallDerived]] shared verbatim. */
  def statKendallTau(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).documents
      .select(expr("CAST(n_chars AS BIGINT)").as("x"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val b = cells.select(col("x").as("x2"), col("y").as("y2"), col("c").as("c2"))
    val pairs = cells
      .join(broadcast(b),
        col("x") < col("x2") || (col("x") === col("x2") && col("y") < col("y2")))
      .agg(
        sum(expr("CASE WHEN x < x2 AND y < y2 THEN CAST(c AS DECIMAL(38,0)) * c2 ELSE CAST(0 AS DECIMAL(38,0)) END")).as("cc"),
        sum(expr("CASE WHEN x < x2 AND y > y2 THEN CAST(c AS DECIMAL(38,0)) * c2 ELSE CAST(0 AS DECIMAL(38,0)) END")).as("dd"))
    val nRow = cells.agg(sum("c").as("n"))
    val tx = cells.groupBy("x").agg(sum("c").as("cx"))
      .agg(sum(expr("CAST(cx AS DECIMAL(38,0)) * (cx - 1)")).as("n1_2"))
    val ty = cells.groupBy("y").agg(sum("c").as("cy"))
      .agg(sum(expr("CAST(cy AS DECIMAL(38,0)) * (cy - 1)")).as("n2_2"))
    pairs.crossJoin(broadcast(nRow)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .withColumn("n0_2", expr("CAST(n AS DECIMAL(38,0)) * (n - 1)"))
      .selectExpr(KendallDerived: _*)
  }

  /** Welch z for one group against the REST of the population, from
    * the group's exact accumulators (n, s, q) and the rest's
    * (rn, rs, rq = global minus group) — ONE formula string for both
    * engines ([[TtestDerived]] idiom). */
  private val FdrZ =
    """((CAST(s AS DOUBLE) / n - CAST(rs AS DOUBLE) / rn)
      | / sqrt(CAST(q * n - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) / n
      |      + CAST(rq * rn - rs * rs AS DOUBLE) / (CAST(rn AS DOUBLE) * (rn - 1)) / rn))""".stripMargin

  /** Two-sided normal tail probability as a shared QUANTIZED step
    * table in ppm (p at the lower edge of each half-z band) — table
    * literals are engine-independent, so the BH machinery downstream
    * runs on EXACT integers with no float-CDF parity risk. The
    * quantization is conservative (p rounds UP to its band edge) and
    * documented as the contract: this op's subject is the
    * multiple-testing control, not erf precision. */
  private val FdrPpm =
    """CAST(CASE WHEN abs(z) >= 4.0 THEN 100
      | WHEN abs(z) >= 3.5 THEN 500
      | WHEN abs(z) >= 3.0 THEN 2700
      | WHEN abs(z) >= 2.5 THEN 12400
      | WHEN abs(z) >= 2.0 THEN 45500
      | WHEN abs(z) >= 1.5 THEN 133600
      | WHEN abs(z) >= 1.0 THEN 317300
      | WHEN abs(z) >= 0.5 THEN 617100
      | ELSE 1000000 END AS BIGINT)""".stripMargin

  /** Benjamini–Hochberg FDR control over the per-nation "is this
    * nation's customer balance off the rest of the book?" test family
    * — the multiple-comparisons gate every metrics platform needs once
    * it runs one test per segment (m tests at α=0.05 expect m/20 false
    * positives uncontrolled; BH caps the FALSE DISCOVERY RATE instead
    * of Bonferroni's family-wise error, keeping power).
    *
    * Mechanics: per-nation Welch z vs the rest (rest accumulators =
    * broadcast global totals minus the group's — no second scan), p
    * quantized to the shared [[FdrPpm]] table, then the BH step-up:
    * rank p ascending (nation key tiebreak — the quantized table makes
    * ties common and the rank deterministic), k* = max{k : p_k ≤
    * αk/m} via one full-frame window max, discoveries = ranks ≤ k*.
    * The BH comparison is exact integer cross-multiplication
    * (p_ppm·m ≤ 50000·k). Scale: one partial-aggregated scan + m-row
    * (segment-count-sized) window work — the windows run on 25 rows,
    * never on the fact table. */
  def statFdrBh(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).customer
      .select(col("c_nationkey").as("g"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("c"))
      .groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q"))
    val tot = per.agg(sum("n").as("gn"), sum("s").as("gs"), sum("q").as("gq"))
    val z = per.crossJoin(broadcast(tot))
      .withColumn("rn", col("gn") - col("n"))
      .withColumn("rs", col("gs") - col("s"))
      .withColumn("rq", col("gq") - col("q"))
      .selectExpr("g", "n",
        "round(CAST(s AS DOUBLE) / n / 100, 2) + 0.0 AS mean_bal",
        s"$FdrZ AS z")
      .selectExpr("g", "n", "mean_bal",
        "round(z, 4) + 0.0 AS z_stat", s"$FdrPpm AS p_ppm")
    val wk = Window.orderBy("p_ppm", "g")
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    z.withColumn("k", row_number().over(wk).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("kstar",
        max(when(expr("p_ppm * m <= 50000 * k"), col("k"))).over(wAll))
      .selectExpr("g", "n", "mean_bal", "z_stat", "p_ppm", "k",
        "CAST(CASE WHEN kstar IS NOT NULL AND k <= kstar THEN 1 ELSE 0 END AS INT) AS discovered")
      .orderBy("k", "g")
  }

  /** TOST derived stats — the two one-sided Welch z's against a ±δ
    * equivalence margin, from the same six exact accumulators as
    * [[TtestDerived]]; ONE formula string for both engines. The
    * shared SE subterm appears verbatim in both z's (no helper column
    * — the string IS the single definition). */
  private val TostDerived = Seq(
    "n1", "n2",
    "round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100, 4) + 0.0 AS mean_diff",
    """round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 + 50000.0)
      | / sqrt((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |      + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2), 4)
      | + 0.0 AS z_low""".stripMargin,
    """round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 - 50000.0)
      | / sqrt((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |      + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2), 4)
      | + 0.0 AS z_high""".stripMargin,
    """CAST(CASE WHEN
      |  (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 + 50000.0)
      | / sqrt((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |      + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2) >= 1.645
      | AND
      |  (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 - 50000.0)
      | / sqrt((CAST(q1 * n1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
      |      + (CAST(q2 * n2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2) <= -1.645
      | THEN 1 ELSE 0 END AS INT) AS equivalent""".stripMargin)

  /** TOST equivalence test (Schuirmann's two one-sided tests) between
    * the same two order-value populations as [[statTtest]] — the
    * question a rollout gate actually asks ("is the new thing NOT
    * WORSE by more than δ", which no amount of p > 0.05 on a plain
    * t-test answers: absence of evidence ≠ evidence of equivalence).
    * Margin δ = $500 (50000 cents, a literal shared by construction).
    * Equivalence holds iff BOTH one-sided Welch z's clear their 1.645
    * critical value — i.e. the 90% CI for the difference sits inside
    * ±δ. Same six exact one-pass accumulators as the t-test; both z's
    * and the flag derive through [[TostDerived]] shared verbatim (the
    * flag compares the UNROUNDED z's — identical IEEE chains in both
    * engines). Scale: identical to stat_ttest — one partial-aggregated
    * pruned scan, 1-row output. */
  def statTost(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .agg(
        sum(when(col("g") === "1-URGENT", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "1-URGENT",
          expr("CAST(c AS DECIMAL(38,0))")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("s1"),
        sum(when(col("g") === "1-URGENT",
          expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"),
        sum(when(col("g") === "5-LOW", 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === "5-LOW",
          expr("CAST(c AS DECIMAL(38,0))")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("s2"),
        sum(when(col("g") === "5-LOW",
          expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q2"))
      .selectExpr(TostDerived: _*)

  /** Tukey-fence (1.5·IQR) outlier counts per order priority — the
    * robust anomaly screen qc dashboards run per segment (means and
    * stddevs move with the outliers they're hunting; quartiles don't).
    *
    * Exactness: quartiles are TYPE-1 (no interpolation) — q1 = the
    * smallest value whose cumulative count reaches ⌈n/4⌉, q3 at
    * ⌈3n/4⌉ — so every derived quantity stays integer cents, and the
    * fence tests cross-multiply the 1.5 away (2c < 2q1 − 3·IQR) — no
    * float anywhere. Scale: rows collapse to per-(group, value) cells
    * first (the [[statMannWhitney]] value-distinct posture); the
    * cumulative window runs over cells, not rows; the checkpointed
    * cell table feeds both the quartile pass and the fence-count pass
    * (one fact scan total), with the group-sized quartile table
    * broadcast back. An unbounded value domain would bin first, like
    * agg_histogram. */
  def qcIqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy("g", "c").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val wcum = Window.partitionBy("g").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = vals
      .withColumn("cum", sum("cnt").over(wcum))
      .withColumn("n", sum("cnt").over(Window.partitionBy("g")))
      .groupBy("g").agg(
        max("n").as("n"),
        min(when(expr("cum >= (n + 3) div 4"), col("c"))).as("q1"),
        min(when(expr("cum >= (3 * n + 3) div 4"), col("c"))).as("q3"))
    vals.join(broadcast(q), "g")
      .groupBy("g").agg(
        max("n").as("n"),
        max("q1").as("q1_cents"),
        max("q3").as("q3_cents"),
        sum(when(expr("2 * c < 2 * q1 - 3 * (q3 - q1)"), col("cnt"))
          .otherwise(0L)).as("n_low"),
        sum(when(expr("2 * c > 2 * q3 + 3 * (q3 - q1)"), col("cnt"))
          .otherwise(0L)).as("n_high"))
      .orderBy("g")
  }

  val oracles: Map[String, String] = Map(
    "stat_kendall_tau" ->
      s"""WITH r AS (
         |  SELECT CAST(n_chars AS BIGINT) AS x,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS y
         |  FROM documents),
         |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY x, y),
         |cd AS (
         |  SELECT
         |    sum(CASE WHEN a.x < b.x AND a.y < b.y THEN a.c::HUGEINT * b.c ELSE 0 END) AS cc,
         |    sum(CASE WHEN a.x < b.x AND a.y > b.y THEN a.c::HUGEINT * b.c ELSE 0 END) AS dd
         |  FROM cells a JOIN cells b
         |    ON a.x < b.x OR (a.x = b.x AND a.y < b.y)),
         |nn AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM cells),
         |tx AS (SELECT sum(cx::HUGEINT * (cx - 1)) AS n1_2
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x)),
         |ty AS (SELECT sum(cy::HUGEINT * (cy - 1)) AS n2_2
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y)),
         |m AS (SELECT CAST(n AS BIGINT) AS n, cc, dd, n1_2, n2_2,
         |             n * (n - 1) AS n0_2
         |      FROM cd, nn, tx, ty)
         |SELECT ${KendallDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "stat_fdr_bh" ->
      s"""WITH x AS (
         |  SELECT c_nationkey AS g, CAST(round(c_acctbal * 100) AS BIGINT) AS c
         |  FROM customer),
         |per AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    sum(c::HUGEINT) AS s, sum(c::HUGEINT * c) AS q
         |  FROM x GROUP BY g),
         |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS gn, sum(s) AS gs, sum(q) AS gq FROM per),
         |r AS (SELECT g, n, s, q, gn - n AS rn, gs - s AS rs, gq - q AS rq
         |      FROM per, tot),
         |z1 AS (SELECT g, n,
         |         round(CAST(s AS DOUBLE) / n / 100, 2) + 0.0 AS mean_bal,
         |         $FdrZ AS z
         |       FROM r),
         |z2 AS (SELECT g, n, mean_bal, round(z, 4) + 0.0 AS z_stat,
         |         $FdrPpm AS p_ppm
         |       FROM z1),
         |b AS (SELECT *, CAST(row_number() OVER (ORDER BY p_ppm, g) AS BIGINT) AS k,
         |        count(*) OVER () AS m
         |      FROM z2),
         |b2 AS (SELECT *,
         |        max(CASE WHEN p_ppm * m <= 50000 * k THEN k END) OVER () AS kstar
         |       FROM b)
         |SELECT g, n, mean_bal, z_stat, p_ppm, k,
         |  CAST(CASE WHEN kstar IS NOT NULL AND k <= kstar THEN 1 ELSE 0 END AS INT) AS discovered
         |FROM b2 ORDER BY k, g""".stripMargin,
    "qc_iqr_outliers" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT g, c, cnt,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY g) AS n
        |  FROM v),
        |q AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |    min(CASE WHEN cum >= (n + 3) // 4 THEN c END) AS q1,
        |    min(CASE WHEN cum >= (3 * n + 3) // 4 THEN c END) AS q3
        |  FROM w GROUP BY g)
        |SELECT v.g, CAST(max(q.n) AS BIGINT) AS n,
        |  CAST(max(q1) AS BIGINT) AS q1_cents,
        |  CAST(max(q3) AS BIGINT) AS q3_cents,
        |  CAST(sum(CASE WHEN 2 * c < 2 * q1 - 3 * (q3 - q1) THEN cnt ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN 2 * c > 2 * q3 + 3 * (q3 - q1) THEN cnt ELSE 0 END) AS BIGINT) AS n_high
        |FROM v JOIN q ON v.g = q.g
        |GROUP BY v.g ORDER BY v.g""".stripMargin,
    "stat_tost" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |m AS (
         |  SELECT
         |    CAST(sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    sum(CASE WHEN g = '1-URGENT' THEN c::HUGEINT ELSE 0 END) AS s1,
         |    sum(CASE WHEN g = '1-URGENT' THEN c::HUGEINT * c ELSE 0 END) AS q1,
         |    CAST(sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    sum(CASE WHEN g = '5-LOW' THEN c::HUGEINT ELSE 0 END) AS s2,
         |    sum(CASE WHEN g = '5-LOW' THEN c::HUGEINT * c ELSE 0 END) AS q2
         |  FROM x)
         |SELECT ${TostDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "q05_bucketed" -> q05Sql,
    "q18_bucketed" -> q18Sql,
    "q23_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INT) AS l_year,
        | CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q24_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | round(CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |   THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE), 4) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_cheapest_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) // CAST(l_quantity AS BIGINT)) AS min_unit_cents
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |sups AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'),
        |j AS (SELECT ps.l_partkey, ps.l_suppkey, ps.min_unit_cents, s.s_suppkey, s.s_name, s.n_name
        |      FROM ps JOIN sups s ON ps.l_suppkey = s.s_suppkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |        ORDER BY min_unit_cents, l_suppkey) AS rn FROM j)
        |SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
        |  CAST(min_unit_cents AS DOUBLE) / 100 AS unit_price
        |FROM r WHERE rn = 1
        |ORDER BY unit_price, p_partkey LIMIT 20""".stripMargin,
    "agg_exact_median" ->
      """WITH h AS (
        |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
        |cu AS (
        |  SELECT cu0.o_orderpriority, cu0.c, cu0.cnt, cu0.cum, t.n FROM (
        |    SELECT o_orderpriority, c, cnt,
        |      sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY c
        |        ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h) cu0 JOIN t USING (o_orderpriority))
        |SELECT o_orderpriority, max(n) AS n,
        |  CAST(min(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |    THEN c END) AS DOUBLE) / 100 AS median,
        |  CAST(min(CASE WHEN cum - cnt < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= cum
        |    THEN c END) AS DOUBLE) / 100 AS p90
        |FROM cu
        |WHERE (cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum)
        |   OR (cum - cnt < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= cum)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_mad" ->
      """WITH h AS (
        |  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS c,
        |         count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |t AS (SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
        |m AS (
        |  SELECT c_nationkey, max(n) AS n, min(c) AS medc FROM (
        |    SELECT h.c_nationkey, h.c, h.cnt, t.n,
        |      sum(h.cnt) OVER (PARTITION BY h.c_nationkey ORDER BY h.c
        |        ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h JOIN t USING (c_nationkey)) z
        |  WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |  GROUP BY 1),
        |dh AS (
        |  SELECT h.c_nationkey, abs(h.c - m.medc) AS d,
        |         CAST(sum(h.cnt) AS BIGINT) AS cnt
        |  FROM h JOIN m USING (c_nationkey) GROUP BY 1, 2),
        |md AS (
        |  SELECT c_nationkey, min(d) AS madc FROM (
        |    SELECT dh.c_nationkey, dh.d, dh.cnt, t.n,
        |      sum(dh.cnt) OVER (PARTITION BY dh.c_nationkey ORDER BY dh.d
        |        ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM dh JOIN t USING (c_nationkey)) z
        |  WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |  GROUP BY 1)
        |SELECT m.c_nationkey, m.n,
        |  CAST(m.medc AS DOUBLE) / 100 AS median_bal,
        |  CAST(md.madc AS DOUBLE) / 100 AS mad_bal
        |FROM m JOIN md USING (c_nationkey)
        |ORDER BY m.c_nationkey""".stripMargin,
    "agg_gini" ->
      """WITH h AS (
        |  SELECT c_mktsegment, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |         count(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |cu AS (
        |  SELECT c_mktsegment, c, cnt,
        |    sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h)
        |SELECT c_mktsegment, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(c::HUGEINT * cnt) AS DOUBLE) / 100 AS total,
        |  CAST(sum(c::HUGEINT * (2 * cnt::HUGEINT * (cum - cnt) + cnt::HUGEINT * (cnt + 1)))
        |       - (CAST(sum(cnt) AS HUGEINT) + 1) * sum(c::HUGEINT * cnt) AS DOUBLE)
        |    / CAST(CAST(sum(cnt) AS HUGEINT) * sum(c::HUGEINT * cnt) AS DOUBLE) AS gini
        |FROM cu
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q31_product_profit" ->
      """WITH gear AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
        |         l_extendedprice, l_discount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%gear%'),
        |ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) // CAST(l_quantity AS BIGINT)) AS min_unit_cents
        |  FROM gear WHERE l_quantity > 0 GROUP BY 1, 2)
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(
        |    CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |    - min_unit_cents * CAST(l_quantity AS BIGINT) * 100) AS DOUBLE) / 10000 AS profit
        |FROM gear
        |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q42_ship_modes" ->
      """SELECT
        |  CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 14 THEN 'express'
        |       WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 'standard'
        |       ELSE 'economy' END AS ship_mode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Deliberately the O(n²) dominance DEFINITION, not a mirror of the
    // two-level window plan — the skyline set is unique, so the two
    // independent formulations agreeing is a stronger check.
    "q43_skyline" ->
      """WITH p AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |         epoch_us(o_orderdate) // 86400000000 AS d
        |  FROM orders)
        |SELECT DISTINCT c / 100.0 AS price, d AS day
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.c >= a.c AND b.d <= a.d AND (b.c > a.c OR b.d < a.d))
        |ORDER BY price DESC, day""".stripMargin,
    "q35_ship_delay" ->
      """WITH b AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 7 THEN 'week'
        |         WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'month'
        |         WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'quarter'
        |         ELSE 'slow' END AS bucket,
        |    count(*) AS n
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS n_prio
        |        FROM b GROUP BY 1)
        |SELECT b.o_orderpriority, bucket, n, n * 1000000 // n_prio AS share_ppm
        |FROM b JOIN tot ON b.o_orderpriority = tot.o_orderpriority
        |ORDER BY b.o_orderpriority, bucket""".stripMargin,
    "agg_quantile_sample" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    md5(concat(CAST(l_orderkey AS VARCHAR), '-',
        |               CAST(l_linenumber AS VARCHAR), '-',
        |               CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)))
        |      AS skey
        |  FROM lineitem),
        |samp AS (
        |  SELECT DISTINCT grp, v, skey FROM (
        |    SELECT grp, v, skey,
        |      dense_rank() OVER (PARTITION BY grp ORDER BY skey) AS srn
        |    FROM rows_) WHERE srn <= 100),
        |rk AS (
        |  SELECT grp, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY v, skey) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS kg
        |  FROM samp),
        |est AS (
        |  SELECT grp, count(*) AS k,
        |    max(CASE WHEN rn = (kg + 1) // 2 THEN v END) AS p50c,
        |    max(CASE WHEN rn = (9 * kg + 9) // 10 THEN v END) AS p90c
        |  FROM rk GROUP BY grp),
        |n_ AS (SELECT grp, count(*) AS n FROM rows_ GROUP BY grp)
        |SELECT est.grp, n, k,
        |  CAST(p50c AS DOUBLE) / 100 AS p50_est,
        |  CAST(p90c AS DOUBLE) / 100 AS p90_est
        |FROM est JOIN n_ ON est.grp = n_.grp ORDER BY est.grp""".stripMargin,
    "q34_yoy_growth" ->
      """WITH rev AS (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |l AS (
        |  SELECT nation, o_year, rev_cents,
        |    lag(rev_cents) OVER (PARTITION BY nation ORDER BY o_year) AS prev_cents
        |  FROM rev)
        |SELECT nation, CAST(o_year AS INT) AS o_year,
        |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
        |  (rev_cents - prev_cents) * 1000000 // prev_cents AS yoy_ppm
        |FROM l ORDER BY nation, o_year""".stripMargin,
    "q33_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
        |  FROM orders GROUP BY 1),
        |g AS (SELECT max(o_orderdate) AS gmax FROM orders),
        |s AS (
        |  SELECT o_custkey, spend_cents,
        |    CASE WHEN date_diff('day', last_order, gmax) <= 365 THEN 3
        |         WHEN date_diff('day', last_order, gmax) <= 730 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN freq >= 12 THEN 3 WHEN freq >= 7 THEN 2 ELSE 1 END AS f_score,
        |    CASE WHEN spend_cents >= 300000000 THEN 3
        |         WHEN spend_cents >= 150000000 THEN 2 ELSE 1 END AS m_score
        |  FROM pc CROSS JOIN g)
        |SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
        |  CAST(m_score AS INT) AS m_score, count(*) AS n_customers,
        |  CAST(sum(spend_cents) AS DOUBLE) / 100 AS total_spend,
        |  min(o_custkey) AS sample_custkey
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q40_part_suppliers" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_size IN (1, 9, 14, 23, 36, 45, 49)
        |  AND p_brand <> 'Brand#13'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q32_important_stock" ->
      """WITH ps AS (
        |  SELECT l_partkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) // CAST(l_quantity AS BIGINT))
        |      * sum(CAST(l_quantity AS BIGINT)) AS value_cents
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey),
        |bp AS (SELECT l_partkey, sum(value_cents) AS part_value_cents FROM ps GROUP BY 1),
        |tot AS (SELECT sum(part_value_cents) AS total_cents, count(*) AS n_parts FROM bp)
        |SELECT l_partkey AS p_partkey,
        |  CAST(part_value_cents AS DOUBLE) / 100 AS value
        |FROM bp CROSS JOIN tot
        |WHERE part_value_cents * n_parts * 2 > total_cents * 3
        |ORDER BY value DESC, p_partkey LIMIT 50""".stripMargin,
    "agg_bloom_filter" -> {
      def posSql(c: String): String =
        s"((strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), j * 8 + 7, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), j * 8 + 8, 1)) - 1))"
      s"""WITH ks AS (SELECT DISTINCT l_returnflag AS flag, l_orderkey FROM lineitem),
         |jj AS (SELECT unnest(range(0, 4)) AS j),
         |bits AS (
         |  SELECT DISTINCT flag, ${posSql("l_orderkey")} AS b
         |  FROM ks CROSS JOIN jj),
         |nb AS (SELECT flag, count(*) AS n_bits_set FROM bits GROUP BY 1),
         |pr AS (SELECT CAST(unnest([1, 2, 3, 999999998, 999999999]) AS BIGINT) AS probe_key),
         |fl AS (SELECT DISTINCT flag FROM ks),
         |pp AS (
         |  SELECT fl.flag, pr.probe_key, ${posSql("pr.probe_key")} AS b
         |  FROM fl CROSS JOIN pr CROSS JOIN jj),
         |hits AS (
         |  SELECT pp.flag, pp.probe_key, count(*) AS nh
         |  FROM pp JOIN bits ON pp.flag = bits.flag AND pp.b = bits.b
         |  GROUP BY 1, 2),
         |tr AS (SELECT DISTINCT flag, l_orderkey AS probe_key FROM ks)
         |SELECT fl.flag, pr.probe_key,
         |  coalesce(h.nh, 0) = 4 AS maybe_present,
         |  tr.probe_key IS NOT NULL AS truly_present,
         |  nb.n_bits_set
         |FROM fl CROSS JOIN pr
         |LEFT JOIN hits h ON h.flag = fl.flag AND h.probe_key = pr.probe_key
         |JOIN nb ON nb.flag = fl.flag
         |LEFT JOIN tr ON tr.flag = fl.flag AND tr.probe_key = pr.probe_key
         |ORDER BY fl.flag, pr.probe_key""".stripMargin
    },
    "q29_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |m AS (SELECT max(total_revenue) AS mr FROM r)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey, m
        |WHERE total_revenue = mr
        |ORDER BY s_suppkey""".stripMargin,
    "q25_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q26_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |FROM items a JOIN items b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin,
    "q36_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS nab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT p1 AS a, p2 AS b, nab FROM pairs
        |  UNION ALL
        |  SELECT p2 AS a, p1 AS b, nab FROM pairs),
        |cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |        FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
        |SELECT d.a, d.b, CAST(d.nab AS BIGINT) AS nab,
        |  ca.n AS na, cb.n AS nb,
        |  CAST(d.nab AS DOUBLE) / ca.n AS confidence,
        |  CAST(d.nab * n_baskets AS DOUBLE) / CAST(ca.n * cb.n AS DOUBLE) AS lift
        |FROM directed d
        |JOIN cnt ca ON d.a = ca.l_partkey
        |JOIN cnt cb ON d.b = cb.l_partkey
        |CROSS JOIN tot
        |ORDER BY lift DESC, d.a, d.b LIMIT 20""".stripMargin,
    "mr_secondary_sort" ->
      """WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |SELECT user_id,
        | array_to_string(list(CAST(event_id AS VARCHAR) ORDER BY tus, event_id), ',') AS first3,
        | count(*) AS n_first
        |FROM x WHERE rn <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_histogram" ->
      """WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        |SELECT CASE WHEN hi = lo THEN 1
        |  ELSE least(10, CAST(floor((o_totalprice - lo) * 10 / (hi - lo)) AS INT) + 1) END AS bucket,
        | count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        | round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS sum_price
        |FROM orders, mm
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_ntile_quartiles" ->
      """WITH b AS (SELECT c_nationkey, sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents
        |           FROM customer GROUP BY 1)
        |SELECT c_nationkey, CAST(bal_cents AS DOUBLE) / 100 AS total_bal,
        | CAST(ntile(4) OVER (ORDER BY bal_cents DESC, c_nationkey) AS INT) AS quartile
        |FROM b ORDER BY c_nationkey""".stripMargin,
    "mr_reservoir" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | md5(CAST(o_orderkey AS VARCHAR)) AS skey
        |FROM orders ORDER BY skey LIMIT 100""".stripMargin,
    "agg_mode" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |           FROM customer GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY c_nationkey ORDER BY n DESC, c_mktsegment) AS rn
        |      FROM c)
        |SELECT c_nationkey, c_mktsegment AS mode_segment, n
        |FROM r WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
    "agg_argmax" ->
      """WITH k AS (SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey AS bal_key
        |  FROM customer)
        |SELECT c_nationkey,
        | arg_max(c_custkey, bal_key) AS top_custkey,
        | max(c_acctbal) AS top_acctbal,
        | arg_min(c_custkey, bal_key) AS bottom_custkey
        |FROM k GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q27_order_count_dist" ->
      """WITH oc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS n_custs
        |FROM oc GROUP BY c_count
        |ORDER BY n_custs DESC, c_count DESC""".stripMargin,
    "qc_completeness" -> {
      val ctes = CompletenessSchema.map { case (name, cols) =>
        val ks = cols.map(c => s"count($c) AS k_$c").mkString(", ")
        s"a_$name AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, $ks FROM $name)"
      }.mkString("WITH ", ",\n", "")
      val branches = CompletenessSchema.flatMap { case (name, cols) =>
        cols.map(c =>
          s"SELECT '$name' AS table_name, '$c' AS column_name, n_rows, " +
            s"CAST(n_rows - k_$c AS BIGINT) AS n_null FROM a_$name")
      }.mkString("\nUNION ALL\n")
      s"$ctes\n$branches\nORDER BY table_name, column_name"
    },
    "qc_referential" -> {
      def edge(rel: String, child: String, ckey: String,
               parent: String, pkey: String): String =
        s"""SELECT '$rel' AS relation, count(*) AS n_keys,
           |  CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
           |FROM (SELECT DISTINCT $ckey AS k FROM $child WHERE $ckey IS NOT NULL) c
           |LEFT JOIN (SELECT DISTINCT $pkey AS pk FROM $parent) p ON c.k = p.pk""".stripMargin
      Seq(
        edge("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
        edge("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },
    "qc_checks" ->
      """WITH a AS (SELECT
        |  count(*) AS n_rows,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_null_cust,
        |  count(DISTINCT o_orderkey) AS n_keys,
        |  sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_nonpos,
        |  sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS n_bad_status,
        |  sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |            OR o_orderdate >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS n_bad_date
        |  FROM orders),
        |u AS (
        |  SELECT 'completeness_custkey' AS check_name, CAST(n_rows - n_null_cust AS DOUBLE) / n_rows AS metric, n_null_cust = 0 AS passed FROM a
        |  UNION ALL SELECT 'uniqueness_orderkey', CAST(n_keys AS DOUBLE) / n_rows, n_keys = n_rows FROM a
        |  UNION ALL SELECT 'positive_totalprice', CAST(n_rows - n_nonpos AS DOUBLE) / n_rows, n_nonpos = 0 FROM a
        |  UNION ALL SELECT 'status_in_set', CAST(n_rows - n_bad_status AS DOUBLE) / n_rows, n_bad_status = 0 FROM a
        |  UNION ALL SELECT 'orderdate_in_range', CAST(n_rows - n_bad_date AS DOUBLE) / n_rows, n_bad_date = 0 FROM a)
        |SELECT * FROM u ORDER BY check_name""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 3) AS sum_qty,
        | round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS sum_base_price,
        | CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 48 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_local_supplier" -> q05Sql,
    "q06_forecast_revenue" ->
      """SELECT CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) + 5) // 10 AS DOUBLE) / 1000 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q08_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q09_window_rank" ->
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk
        |  FROM customer)
        |WHERE rnk <= 5 ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin,
    "q10_union_all" ->
      """SELECT c_custkey AS id, 'customer' AS kind FROM customer
        |UNION ALL SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier
        |ORDER BY kind, id""".stripMargin,
    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q12_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |ORDER BY s_suppkey""".stripMargin,
    "q13_groupby_having" ->
      """SELECT c_nationkey, count(*) AS cnt FROM customer
        |GROUP BY c_nationkey HAVING count(*) >= 5 ORDER BY c_nationkey""".stripMargin,
    "q14_conditional_agg" ->
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-09-01'""".stripMargin,
    "agg_reduce_stats" ->
      """SELECT count(*) AS n, round(sum(l_quantity), 3) AS sum_qty,
        | round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*), 4) AS avg_price,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem""".stripMargin,
    "ev_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        | round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_sessionize" -> evSessionizeSql,
    "ev_sessionize_bucketed" -> evSessionizeSql,
    "ev_json_extract" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "mr_sort_global" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey""".stripMargin,
    "q38_full_outer" ->
      """WITH hc AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_rich_customers
        |  FROM customer WHERE c_acctbal > 9900 GROUP BY 1),
        |hs AS (
        |  SELECT s_nationkey AS snk, count(*) AS n_rich_suppliers
        |  FROM supplier WHERE s_acctbal > 9900 GROUP BY 1)
        |SELECT coalesce(nk, snk) AS nationkey,
        |  CAST(coalesce(n_rich_customers, 0) AS BIGINT) AS n_rich_customers,
        |  CAST(coalesce(n_rich_suppliers, 0) AS BIGINT) AS n_rich_suppliers
        |FROM hc FULL OUTER JOIN hs ON nk = snk
        |ORDER BY nationkey""".stripMargin,
    "q37_ratio_to_report" ->
      """WITH rev AS (
        |  SELECT r_name AS region, n_name AS nation,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT region, nation,
        |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
        |  CAST(rev_cents AS DOUBLE) / sum(rev_cents) OVER (PARTITION BY region)
        |    AS share
        |FROM rev ORDER BY region, nation""".stripMargin,
    "agg_moments" -> aggMomentsOracle,
    "agg_variance_welford" ->
      """SELECT l_returnflag, round(var_samp(l_quantity), 4) AS var_welford,
        | round(var_samp(l_quantity), 4) AS var_builtin
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_corr_subquery" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "agg_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q28_cube" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_cust,
        | round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS total_bal
        |FROM customer GROUP BY CUBE (c_nationkey, c_mktsegment)
        |ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q15_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q39_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        | CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        | count(*) AS n,
        | round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        |ORDER BY g_priority, g_status,
        | o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q16_pivot" ->
      """SELECT o_orderstatus,
        | count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
        | count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
        | count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
        | count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
        | count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dedup_keep_best" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars,
        |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM f)
        |SELECT fp, doc_id AS keep_id, n_chars FROM r WHERE rn = 1 ORDER BY fp""".stripMargin,
    "mr_group_concat" ->
      """SELECT n_name AS nation, count(*) AS n_suppliers,
        |  string_agg(s_name, ',' ORDER BY s_name) AS roster
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "mr_cogroup" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers,
        |                  round(sum(c_acctbal), 3) AS sum_acctbal
        |           FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1)
        |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  CAST(coalesce(n_customers, 0) AS BIGINT) AS n_customers,
        |  coalesce(sum_acctbal, 0.0) AS sum_acctbal,
        |  CAST(coalesce(n_suppliers, 0) AS BIGINT) AS n_suppliers
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q20_set_ops" ->
      """WITH a98 AS (SELECT o_custkey FROM orders
        |            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |              AND o_orderdate < TIMESTAMP '1999-01-01'),
        |a99 AS (SELECT o_custkey FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |          AND o_orderdate < TIMESTAMP '2000-01-01')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a98 INTERSECT SELECT o_custkey FROM a99)
        |UNION ALL
        |SELECT 'only_1998' AS tag, o_custkey FROM (SELECT o_custkey FROM a98 EXCEPT SELECT o_custkey FROM a99)
        |ORDER BY tag, o_custkey""".stripMargin,
    "qc_pseudonymize" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, c_name,
        |    substr(sha256('graft-release-1:' || CAST(c_custkey AS VARCHAR)), 1, 16)
        |      AS ctok
        |  FROM customer),
        |names AS (
        |  SELECT c_mktsegment, count(*) AS n_customers,
        |    count(DISTINCT c_name) AS n_names,
        |    count(DISTINCT
        |      substr(sha256('graft-release-1:' || CAST(c_name AS VARCHAR)), 1, 16))
        |      AS n_tokens
        |  FROM cust GROUP BY 1),
        |rawj AS (
        |  SELECT c_mktsegment, count(*) AS n_orders_raw
        |  FROM orders JOIN cust ON o_custkey = c_custkey GROUP BY 1),
        |tokj AS (
        |  SELECT c_mktsegment, count(*) AS n_orders_tok
        |  FROM (SELECT
        |    substr(sha256('graft-release-1:' || CAST(o_custkey AS VARCHAR)), 1, 16)
        |      AS otok FROM orders) o
        |  JOIN cust ON otok = ctok GROUP BY 1)
        |SELECT names.c_mktsegment, n_customers, n_tokens,
        |  n_tokens = n_names AS tokens_unique,
        |  n_orders_raw, n_orders_tok,
        |  n_orders_raw = n_orders_tok AS join_preserved
        |FROM names
        |JOIN rawj ON names.c_mktsegment = rawj.c_mktsegment
        |JOIN tokj ON names.c_mktsegment = tokj.c_mktsegment
        |ORDER BY 1""".stripMargin,
    "qc_profile" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(o_custkey) AS c_ck, count(DISTINCT o_custkey) AS nd_ck,
        |    min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
        |    count(o_totalprice) AS c_tp, count(DISTINCT o_totalprice) AS nd_tp,
        |    min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp,
        |    count(o_orderstatus) AS c_os, count(DISTINCT o_orderstatus) AS nd_os,
        |    min(o_orderstatus) AS mn_os, max(o_orderstatus) AS mx_os,
        |    count(o_orderpriority) AS c_op, count(DISTINCT o_orderpriority) AS nd_op,
        |    min(o_orderpriority) AS mn_op, max(o_orderpriority) AS mx_op
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS column_name, CAST(n - c_ck AS BIGINT) AS n_nulls,
        |    CAST(nd_ck AS BIGINT) AS n_distinct, CAST(mn_ck AS DOUBLE) AS min_num,
        |    CAST(mx_ck AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str,
        |    CAST(NULL AS VARCHAR) AS max_str FROM a
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(n - c_tp AS BIGINT), CAST(nd_tp AS BIGINT),
        |    mn_tp, mx_tp, NULL, NULL FROM a
        |  UNION ALL
        |  SELECT 'o_orderstatus', CAST(n - c_os AS BIGINT), CAST(nd_os AS BIGINT),
        |    NULL, NULL, mn_os, mx_os FROM a
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(n - c_op AS BIGINT), CAST(nd_op AS BIGINT),
        |    NULL, NULL, mn_op, mx_op FROM a)
        |ORDER BY column_name""".stripMargin,
    "q18_big_spenders" -> q18Sql,
    "q19_disjunctive_pred" ->
      """SELECT CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 5) // 10 AS DOUBLE) / 1000 AS revenue,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_quantity > 30
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_quantity > 30)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        | round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100, 3) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "agg_kmv_distinct" -> {
      val h8 = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT DISTINCT l_returnflag, $h8 AS h FROM lineitem),
         |r AS (SELECT l_returnflag, h,
         |        row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
         |      FROM h),
         |kth AS (SELECT l_returnflag, h AS hk FROM r WHERE rn = 64),
         |nd AS (SELECT l_returnflag, count(*) AS n FROM h GROUP BY 1),
         |ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact
         |       FROM lineitem GROUP BY 1)
         |SELECT nd.l_returnflag,
         |  round(CASE WHEN nd.n < 64 THEN CAST(nd.n AS DOUBLE)
         |             ELSE 63 * 4294967296.0 / kth.hk END, 3) AS est_distinct,
         |  CAST(ex.n_exact AS BIGINT) AS n_exact
         |FROM nd LEFT JOIN kth USING (l_returnflag)
         |JOIN ex ON ex.l_returnflag = nd.l_returnflag
         |ORDER BY 1""".stripMargin
    },
    "agg_hll_sweep" -> {
      val h8 = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT DISTINCT l_orderkey FROM lineitem),
         |h AS (SELECT $h8 AS h FROM d),
         |f AS (
         |  SELECT p, CAST(CASE p WHEN 4 THEN 16 WHEN 6 THEN 64 ELSE 256 END
         |               AS BIGINT) AS mm, h
         |  FROM h CROSS JOIN (SELECT unnest([4, 6, 8]) AS p)),
         |b AS (
         |  SELECT p, mm, h // (4294967296 // mm) AS bucket,
         |         h % (4294967296 // mm) AS w
         |  FROM f),
         |rk AS (SELECT p, mm, bucket,
         |         CASE WHEN w = 0 THEN 33 - p
         |              ELSE 33 - p - length(bin(w)) END AS rho
         |       FROM b),
         |reg AS (SELECT p, mm, bucket, max(rho) AS r, count(*) AS nk
         |        FROM rk GROUP BY 1, 2, 3),
         |g AS (SELECT p, mm, CAST(sum(nk) AS BIGINT) AS n_exact,
         |        count(*) AS present,
         |        sum(pow(CAST(2 AS DOUBLE), -r)) AS sp
         |      FROM reg GROUP BY 1, 2)
         |SELECT ${HllSweepDerived.mkString(",\n")}
         |FROM g ORDER BY p""".stripMargin
    },
    "agg_hll_distinct" -> {
      val h8 = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
         |h AS (SELECT l_returnflag, $h8 AS h FROM d),
         |b AS (SELECT l_returnflag, h // 67108864 AS bucket, h % 67108864 AS w FROM h),
         |rk AS (SELECT l_returnflag, bucket,
         |         CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END AS rho
         |       FROM b),
         |reg AS (SELECT l_returnflag, bucket, max(rho) AS r, count(*) AS nk
         |        FROM rk GROUP BY 1, 2),
         |g AS (SELECT l_returnflag, CAST(sum(nk) AS BIGINT) AS n_exact,
         |        count(*) AS present,
         |        sum(pow(CAST(2 AS DOUBLE), -r)) AS sp
         |      FROM reg GROUP BY 1)
         |SELECT l_returnflag,
         |  round(CASE WHEN (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096 / (sp + (64 - present)) <= 160
         |              AND present < 64
         |        THEN 64 * ln(CAST(64 AS DOUBLE) / (64 - present))
         |        ELSE (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)) * 4096 / (sp + (64 - present)) END, 3)
         |    AS est_distinct,
         |  n_exact
         |FROM g ORDER BY l_returnflag""".stripMargin
    },
    "agg_weighted_median" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) // CAST(l_quantity AS BIGINT) AS unit_cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mass
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, unit_cents, mass,
        |    sum(mass) OVER (PARTITION BY l_returnflag ORDER BY unit_cents
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h),
        |t AS (SELECT l_returnflag, CAST(sum(mass) AS BIGINT) AS tw
        |      FROM h GROUP BY 1)
        |SELECT c.l_returnflag, max(tw) AS total_weight,
        |  CAST(min(unit_cents) AS DOUBLE) / 100 AS weighted_median
        |FROM c JOIN t USING (l_returnflag)
        |WHERE cum - mass < (tw + 1) // 2 AND (tw + 1) // 2 <= cum
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stat_ks_test" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |v AS (
         |  SELECT c,
         |    sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
         |    sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS c2
         |  FROM x GROUP BY c),
         |r AS (
         |  SELECT
         |    sum(c1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum1,
         |    sum(c2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum2
         |  FROM v),
         |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |             CAST(sum(c2) AS BIGINT) AS n2 FROM v),
         |m AS (
         |  SELECT n1, n2,
         |    max(abs(cum1::HUGEINT * n2 - cum2::HUGEINT * n1)) AS dnum
         |  FROM r CROSS JOIN t GROUP BY n1, n2)
         |SELECT ${KsDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "mr_table_checksum" -> {
      val h15 = (1 to 15)
        .map(i => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH r AS (
         |  SELECT md5(concat_ws('|',
         |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         |    o_orderstatus,
         |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
         |    CAST(epoch_us(o_orderdate) AS VARCHAR), o_orderpriority)) AS h
         |  FROM orders),
         |x AS (SELECT CAST($h15 AS BIGINT) AS hv FROM r)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(hv::HUGEINT) AS VARCHAR) AS content_digest
         |FROM x""".stripMargin
    },
    "stat_levene" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM h GROUP BY 1),
        |cumh AS (
        |  SELECT source, n_chars, cnt,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum
        |  FROM h),
        |med AS (
        |  SELECT c.source, c.n_chars AS med
        |  FROM cumh c JOIN tot USING (source)
        |  WHERE c.cum - c.cnt < (n + 1) // 2 AND (n + 1) // 2 <= c.cum),
        |gm AS (
        |  SELECT h.source, CAST(sum(cnt) AS BIGINT) AS nj,
        |    sum(abs(h.n_chars - med)::HUGEINT * cnt) AS sj,
        |    sum(abs(h.n_chars - med)::HUGEINT * abs(h.n_chars - med) * cnt) AS qj
        |  FROM h JOIN med USING (source) GROUP BY 1),
        |t AS (SELECT CAST(sum(nj) AS BIGINT) AS n, sum(sj) AS s,
        |             CAST(count(*) AS BIGINT) AS k FROM gm),
        |q AS (
        |  SELECT k, n AS n_rows,
        |    CAST(round(
        |      CAST(nj AS DOUBLE)
        |      * ((CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n)
        |         * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n))
        |      ) AS BIGINT) AS ssbq,
        |    CAST(round(CAST(qj * nj - sj * sj AS DOUBLE) / nj) AS BIGINT) AS sswq
        |  FROM gm CROSS JOIN t),
        |m AS (
        |  SELECT k, n_rows, CAST(sum(ssbq) AS BIGINT) AS ssb,
        |         CAST(sum(sswq) AS BIGINT) AS ssw
        |  FROM q GROUP BY 1, 2)
        |SELECT k, n_rows,
        |  round((CAST(ssb AS DOUBLE) / (k - 1))
        |   / (CAST(ssw AS DOUBLE) / (n_rows - k)), 4) + 0.0 AS w_stat
        |FROM m""".stripMargin,
    "agg_quantile_bins" ->
      """WITH h AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |bounds AS (SELECT min(c) AS lo, max(c) AS hi,
        |                  CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |ranks AS (
        |  SELECT q, (q * n + 99) // 100 AS r, lo, hi
        |  FROM bounds, (VALUES (50), (90), (99)) AS t(q)),
        |bins AS (
        |  SELECT ((c - lo) * 1024) // (hi - lo + 1) AS b,
        |         CAST(sum(cnt) AS BIGINT) AS bc
        |  FROM h, bounds GROUP BY 1),
        |bcum AS (SELECT b, sum(bc) OVER (ORDER BY b) AS cum FROM bins),
        |est AS (
        |  SELECT q, CAST(lo + (min(b) * (hi - lo + 1)) // 1024 AS BIGINT)
        |           AS est_cents
        |  FROM bcum JOIN ranks ON cum >= r GROUP BY q, lo, hi),
        |hcum AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM h),
        |ex AS (
        |  SELECT q, min(c) AS exact_cents
        |  FROM hcum JOIN ranks ON cum >= r GROUP BY 1)
        |SELECT q, est_cents, exact_cents,
        |  est_cents - exact_cents AS err_cents
        |FROM est JOIN ex USING (q) ORDER BY q""".stripMargin,
    "qc_freshness" ->
      """WITH p AS (
        |  SELECT event_type, max(epoch_us(ts)) AS mt,
        |         CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(mt) AS gm FROM p)
        |SELECT event_type, n_rows, (gm - mt) // 60000000 AS lag_minutes
        |FROM p CROSS JOIN g ORDER BY event_type""".stripMargin,
    "stat_jarque_bera" -> statJarqueBeraOracle,
    "stat_kruskal_wallis" -> statKruskalWallisOracle,
    "stat_anova" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders),
         |gm AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS nj,
         |    sum(c::HUGEINT) AS sj, sum(c::HUGEINT * c) AS qj
         |  FROM x GROUP BY 1),
         |t AS (SELECT CAST(sum(nj) AS BIGINT) AS n, sum(sj) AS s,
         |             CAST(count(*) AS BIGINT) AS k FROM gm),
         |q AS (
         |  SELECT k, n AS n_rows,
         |    CAST(round(
         |      CAST(nj AS DOUBLE)
         |      * ((CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n)
         |         * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n))
         |      / 10000) AS BIGINT) AS ssbq,
         |    CAST(round(
         |      (CAST(qj * nj - sj * sj AS DOUBLE) / nj) / 10000) AS BIGINT) AS sswq
         |  FROM gm CROSS JOIN t),
         |m AS (
         |  SELECT k, n_rows, CAST(sum(ssbq) AS BIGINT) AS ssb,
         |         CAST(sum(sswq) AS BIGINT) AS ssw
         |  FROM q GROUP BY 1, 2)
         |SELECT ${AnovaDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "qc_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |f AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d WHERE digit >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM f)
        |SELECT digit, n, n * 1000000 // tot AS obs_ppm,
        |  CAST(round(log10(1 + CAST(1 AS DOUBLE) / digit) * 1000000) AS BIGINT) AS exp_ppm
        |FROM f CROSS JOIN t ORDER BY digit""".stripMargin,
    "stat_effect_size" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |v AS (
         |  SELECT c,
         |    sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
         |    sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS c2
         |  FROM x GROUP BY c),
         |r AS (
         |  SELECT c, c1, c2,
         |    sum(c2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum2
         |  FROM v),
         |m AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         |    sum(c1::HUGEINT * c) AS s1, sum(c1::HUGEINT * c * c) AS q1,
         |    sum(c2::HUGEINT * c) AS s2, sum(c2::HUGEINT * c * c) AS q2,
         |    sum(c1::HUGEINT * (cum2 - c2)) AS gt,
         |    sum(c1::HUGEINT * cum2) AS s1c2
         |  FROM r)
         |SELECT ${EffectSizeDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "stat_mann_whitney" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |v AS (
         |  SELECT c,
         |    sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
         |    sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS c2
         |  FROM x GROUP BY c),
         |r AS (
         |  SELECT c1, c2, c1 + c2 AS cnt,
         |    sum(c1 + c2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM v),
         |a AS (SELECT c1, c2, cnt, 2 * (cum - cnt) + cnt + 1 AS avg2 FROM r),
         |m AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         |    sum(c1::HUGEINT * avg2) AS r1_2,
         |    sum(cnt::HUGEINT * cnt * cnt - cnt) AS tiesum
         |  FROM a)
         |SELECT ${MannWhitneyDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "stat_bootstrap_ci" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders),
         |x AS (
         |  SELECT c, g,
         |    md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(g AS VARCHAR)) AS h
         |  FROM base, (SELECT unnest(range(0, 7)) AS g)),
         |uu AS (
         |  SELECT c, g * 8 + i AS b, substr(h, CAST(i * 4 + 1 AS INTEGER), 4) AS u4
         |  FROM x, (SELECT unnest(range(0, 8)) AS i)
         |  WHERE g * 8 + i < 50),
         |ww AS (SELECT c, b, $PoissonW16Expr AS w FROM uu),
         |reps AS (
         |  SELECT b, (CAST(sum(w::HUGEINT * c) AS DOUBLE) / CAST(sum(w) AS BIGINT)) / 100 AS mean_b
         |  FROM ww GROUP BY b),
         |rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM reps),
         |full_m AS (
         |  SELECT (CAST(sum(c::HUGEINT) AS DOUBLE) / count(*)) / 100 AS mean_full
         |  FROM base)
         |SELECT round(mean_full, 4) + 0.0 AS mean_est,
         |  round(max(CASE WHEN rk = 3 THEN mean_b END), 4) + 0.0 AS ci_lo,
         |  round(max(CASE WHEN rk = 48 THEN mean_b END), 4) + 0.0 AS ci_hi,
         |  CAST(50 AS INTEGER) AS n_boot
         |FROM rk CROSS JOIN full_m
         |GROUP BY mean_full""".stripMargin,
    "q41_excess_stock" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 2000
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS recent_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%bolt%'
        |  GROUP BY 1, 2),
        |q AS (
        |  SELECT DISTINCT l_suppkey FROM pairs WHERE recent_qty * 2 > tot_qty)
        |SELECT s_suppkey, s_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN q ON s_suppkey = l_suppkey
        |WHERE n_name = 'NATION_3'
        |ORDER BY s_suppkey""".stripMargin,
    "stat_linreg" ->
      s"""WITH x AS (
         |  SELECT lang AS f,
         |         CAST(n_chars AS BIGINT) AS x,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS y
         |  FROM documents),
         |m AS (
         |  SELECT f, CAST(count(*) AS BIGINT) AS n,
         |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
         |    sum(y::HUGEINT * y) AS syy
         |  FROM x GROUP BY f)
         |SELECT ${LinregDerived.mkString(",\n")}
         |FROM m ORDER BY f""".stripMargin,
    "stat_spearman" ->
      s"""WITH rows_t AS (
         |  SELECT CAST(n_chars AS BIGINT) AS x,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS y
         |  FROM documents),
         |xr AS (
         |  SELECT v, 2 * (cum - cnt) + cnt + 1 AS rx FROM (
         |    SELECT x AS v, count(*) AS cnt,
         |      sum(count(*)) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM rows_t GROUP BY x)),
         |yr AS (
         |  SELECT v, 2 * (cum - cnt) + cnt + 1 AS ry FROM (
         |    SELECT y AS v, count(*) AS cnt,
         |      sum(count(*)) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM rows_t GROUP BY y)),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
         |    sum(rx::HUGEINT * rx) AS sxx, sum(rx::HUGEINT * ry) AS sxy,
         |    sum(ry::HUGEINT * ry) AS syy
         |  FROM rows_t JOIN xr ON rows_t.x = xr.v JOIN yr ON rows_t.y = yr.v)
         |SELECT ${SpearmanDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "stat_ttest" ->
      s"""WITH x AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |m AS (
         |  SELECT
         |    CAST(sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    sum(CASE WHEN g = '1-URGENT' THEN c::HUGEINT ELSE 0 END) AS s1,
         |    sum(CASE WHEN g = '1-URGENT' THEN c::HUGEINT * c ELSE 0 END) AS q1,
         |    CAST(sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    sum(CASE WHEN g = '5-LOW' THEN c::HUGEINT ELSE 0 END) AS s2,
         |    sum(CASE WHEN g = '5-LOW' THEN c::HUGEINT * c ELSE 0 END) AS q2
         |  FROM x)
         |SELECT ${TtestDerived.mkString(",\n")}
         |FROM m""".stripMargin,
    "agg_hll_overlap" -> {
      val h8 = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT DISTINCT l_returnflag AS f, l_orderkey
         |           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
         |t AS (SELECT DISTINCT s, l_orderkey FROM (
         |  SELECT unnest(CASE WHEN f = 'A' THEN ['a', 'u'] ELSE ['r', 'u'] END) AS s,
         |         l_orderkey
         |  FROM d)),
         |h AS (SELECT s, $h8 AS h FROM t),
         |b AS (SELECT s, h // 67108864 AS bucket, h % 67108864 AS w FROM h),
         |rk AS (SELECT s, bucket,
         |         CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END AS rho
         |       FROM b),
         |reg AS (SELECT s, bucket, max(rho) AS r FROM rk GROUP BY 1, 2),
         |g AS (SELECT s, count(*) AS present,
         |        sum(pow(CAST(2 AS DOUBLE), -r)) AS sp
         |      FROM reg GROUP BY 1),
         |e AS (SELECT s, $HllEstExpr AS est FROM g),
         |p AS (SELECT max(CASE WHEN s = 'a' THEN est END) AS ea,
         |             max(CASE WHEN s = 'r' THEN est END) AS er,
         |             max(CASE WHEN s = 'u' THEN est END) AS eu FROM e),
         |x AS (SELECT count(*) AS n_exact_overlap FROM (
         |  SELECT l_orderkey FROM d GROUP BY 1 HAVING count(*) = 2))
         |SELECT round(ea, 3) + 0.0 AS est_a, round(er, 3) + 0.0 AS est_r,
         |  round(eu, 3) + 0.0 AS est_union,
         |  round(ea + er - eu, 3) + 0.0 AS est_overlap, n_exact_overlap
         |FROM p CROSS JOIN x""".stripMargin
    },
    "ev_asof_join" ->
      """SELECT l.user_id, l.event_id, l.value AS click_value,
        |       r.value AS prev_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.event_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary(_, _)),
    "q02_filter_project" -> (q02FilterProject(_, _)),
    "q03_shipping_priority" -> (q03ShippingPriority(_, _)),
    "q04_order_priority" -> (q04OrderPriority(_, _)),
    "q05_local_supplier" -> (q05LocalSupplier(_, _)),
    "q06_forecast_revenue" -> (q06ForecastRevenue(_, _)),
    "q07_distinct" -> (q07Distinct(_, _)),
    "q08_topk_orders" -> (q08TopkOrders(_, _)),
    "q09_window_rank" -> (q09WindowRank(_, _)),
    "q10_union_all" -> (q10UnionAll(_, _)),
    "q11_anti_join" -> (q11AntiJoin(_, _)),
    "q12_semi_join" -> (q12SemiJoin(_, _)),
    "q13_groupby_having" -> (q13GroupbyHaving(_, _)),
    "q14_conditional_agg" -> (q14ConditionalAgg(_, _)),
    "agg_reduce_stats" -> (aggReduceStats(_, _)),
    "ev_hourly_agg" -> (evHourlyAgg(_, _)),
    "ev_sessionize" -> (evSessionize(_, _)),
    "ev_sessionize_bucketed" -> (evSessionizeBucketed(_, _)),
    "ev_json_extract" -> (evJsonExtract(_, _)),
    "mr_sort_global" -> (mrSortGlobal(_, _)),
    "ev_asof_join" -> (evAsofJoin(_, _)),
    "agg_variance_welford" -> (aggVarianceWelford(_, _)),
    "agg_moments" -> (aggMoments(_, _)),
    "q17_corr_subquery" -> (q17CorrSubquery(_, _)),
    "agg_percentiles" -> (aggPercentiles(_, _)),
    "q15_rollup" -> (q15Rollup(_, _)),
    "q28_cube" -> (q28Cube(_, _)),
    "q39_grouping_sets" -> (q39GroupingSets(_, _)),
    "q16_pivot" -> (q16Pivot(_, _)),
    "dedup_keep_best" -> (dedupKeepBest(_, _)),
    "q18_big_spenders" -> (q18BigSpenders(_, _)),
    "q18_bucketed" -> (q18Bucketed(_, _)),
    "q05_bucketed" -> (q05Bucketed(_, _)),
    "q19_disjunctive_pred" -> (q19DisjunctivePred(_, _)),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers(_, _)),
    "q22_idle_customers" -> (q22IdleCustomers(_, _)),
    "agg_kmv_distinct" -> (aggKmvDistinct(_, _)),
    "agg_hll_distinct" -> (aggHllDistinct(_, _)),
    "agg_hll_sweep" -> (aggHllSweep(_, _)),
    "mr_cogroup" -> (mrCogroup(_, _)),
    "mr_group_concat" -> (mrGroupConcat(_, _)),
    "qc_profile" -> (qcProfile(_, _)),
    "qc_pseudonymize" -> (qcPseudonymize(_, _)),
    "q20_set_ops" -> (q20SetOps(_, _)),
    "q23_volume_shipping" -> (q23VolumeShipping(_, _)),
    "q24_market_share" -> (q24MarketShare(_, _)),
    "q25_returned_items" -> (q25ReturnedItems(_, _)),
    "q26_basket_pairs" -> (q26BasketPairs(_, _)),
    "q36_assoc_rules" -> (q36AssocRules(_, _)),
    "q37_ratio_to_report" -> (q37RatioToReport(_, _)),
    "q38_full_outer" -> (q38FullOuter(_, _)),
    "mr_secondary_sort" -> (mrSecondarySort(_, _)),
    "agg_histogram" -> (aggHistogram(_, _)),
    "agg_ntile_quartiles" -> (aggNtileQuartiles(_, _)),
    "mr_reservoir" -> (mrReservoir(_, _)),
    "qc_checks" -> (qcChecks(_, _)),
    "qc_referential" -> (qcReferential(_, _)),
    "qc_completeness" -> (qcCompleteness(_, _)),
    "q27_order_count_dist" -> (q27OrderCountDist(_, _)),
    "q29_top_supplier" -> (q29TopSupplier(_, _)),
    "agg_bloom_filter" -> (aggBloomFilter(_, _)),
    "q30_cheapest_supplier" -> (q30CheapestSupplier(_, _)),
    "q31_product_profit" -> (q31ProductProfit(_, _)),
    "q32_important_stock" -> (q32ImportantStock(_, _)),
    "q40_part_suppliers" -> (q40PartSuppliers(_, _)),
    "agg_hll_overlap" -> (aggHllOverlap(_, _)),
    "stat_ttest" -> (statTtest(_, _)),
    "stat_linreg" -> (statLinreg(_, _)),
    "q41_excess_stock" -> (q41ExcessStock(_, _)),
    "stat_spearman" -> (statSpearman(_, _)),
    "stat_bootstrap_ci" -> (statBootstrapCi(_, _)),
    "stat_mann_whitney" -> (statMannWhitney(_, _)),
    "stat_effect_size" -> (statEffectSize(_, _)),
    "stat_jarque_bera" -> (statJarqueBera(_, _)),
    "stat_kruskal_wallis" -> (statKruskalWallis(_, _)),
    "qc_benford" -> (qcBenford(_, _)),
    "stat_anova" -> (statAnova(_, _)),
    "stat_levene" -> (statLevene(_, _)),
    "agg_quantile_bins" -> (aggQuantileBins(_, _)),
    "mr_table_checksum" -> (mrTableChecksum(_, _)),
    "qc_freshness" -> (qcFreshness(_, _)),
    "stat_ks_test" -> (statKsTest(_, _)),
    "agg_weighted_median" -> (aggWeightedMedian(_, _)),
    "q33_rfm_segments" -> (q33RfmSegments(_, _)),
    "q34_yoy_growth" -> (q34YoyGrowth(_, _)),
    "agg_quantile_sample" -> (aggQuantileSample(_, _)),
    "q35_ship_delay" -> (q35ShipDelay(_, _)),
    "q42_ship_modes" -> (q42ShipModes(_, _)),
    "q43_skyline" -> (q43Skyline(_, _)),
    "agg_exact_median" -> (aggExactMedian(_, _)),
    "agg_mad" -> (aggMad(_, _)),
    "agg_gini" -> (aggGini(_, _)),
    "agg_argmax" -> (aggArgmax(_, _)),
    "agg_mode" -> (aggMode(_, _)),
    "stat_kendall_tau" -> (statKendallTau(_, _)),
    "stat_fdr_bh" -> (statFdrBh(_, _)),
    "qc_iqr_outliers" -> (qcIqrOutliers(_, _)),
    "stat_tost" -> (statTost(_, _)),
  )
}
