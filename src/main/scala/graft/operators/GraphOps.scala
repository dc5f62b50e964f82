package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.{Checkpoints, Fixpoint, SizeGate}

/** Graph analytics over relationally-derived graphs (SURVEY.md §2.10).
  *
  * Companion to DedupOps.dedupComponents (iterative min-label
  * propagation); here the iterative kernel is PageRank power iteration
  * over the customer↔supplier trade graph. The scale split: the
  * EXPENSIVE part is deriving the edge list from the fact tables (the
  * orders ⋈ lineitem shuffle, linear in the data) — it runs ONCE and is
  * localCheckpoint'ed; each iteration is then one edge⋈rank join + one
  * partial-aggregated groupBy on vertex-sized data. Ranks are
  * checkpointed per iteration (the dedup_components lineage-cut
  * pattern), so no plan ever contains more than one iteration and the
  * edge join never re-runs (the r2 sim_knn_graph diamond lesson).
  * Vertex-sized per-round state is SIZE-GATED into the adjacency
  * joins ([[graft.plans.SizeGate.hintIfSmall]], VERDICT r6 #1):
  * post-checkpoint state is a LogicalRDD with unknown stats, so the
  * planner assumes it huge and would shuffle the edge table every
  * round without a hint (measured r5: the hint took the sf0.1
  * pagerank loop 21.4 → ~12 s). Each loop feeds the gate the
  * driver-side row count it already materializes (the freeze measure
  * / frontier count): under the cap the state broadcasts; past it,
  * it repartitions onto the join key and co-partitions with the
  * once-pre-partitioned edge checkpoint — the loops DEGRADE BY
  * CONSTRUCTION to the classic Pregel vertex-shuffle round instead of
  * dying on the broadcast ceiling.
  *
  * Cross-engine parity: ranks are FIXED-POINT BIGINT micro-units
  * (SCALE = 1e12) with truncating integer division (Spark `div`,
  * DuckDB `//`) — integer sums are order-independent, so results are
  * bit-exact across engines, partitionings, and merge orders, with
  * none of the float-summation-order risk an iterated double PageRank
  * would carry. Dangling mass is dropped (standard simplification) —
  * identically in both engines (moot here: the graph is undirected, so
  * every vertex with an edge has out-degree ≥ 1, and isolated vertices
  * hold teleport mass only).
  *
  * Vertex encoding: customer c → 2c, supplier s → 2s+1 (key spaces
  * overlap numerically; parity-tagging is collision-free at any scale).
  */
object GraphOps {

  /** Fixed-point scale: 1 rank unit = 1e-12. */
  private[graft] val Scale = 1000000000000L

  /** L1 distance between two BIGINT columns of `df` — the rank loops'
    * freeze measure: integer, so 0 is an EXACT global freeze. */
  private def l1(df: DataFrame, a: String, b: String): Long =
    Option(df.agg(sum(abs(col(a) - col(b)))).first()
      .getAs[java.lang.Long](0)).fold(0L)(_.longValue)

  /** (row count, Σ`c`) — the freeze measure of the monotone BFS and
    * h-index loops: it repeats exactly when the state stops changing.
    * One single-stage job: each partition folds its rows, the driver
    * adds the partials (an aggregate would add a shuffle stage, i.e. a
    * second job under AQE). An empty state measures (0, 0). */
  private def countAndSum(c: String)(df: DataFrame): (Long, Long) =
    df.select(col(c)).queryExecution.toRdd.mapPartitions { rows =>
      var n, s = 0L
      rows.foreach { r => n += 1; if (!r.isNullAt(0)) s += r.getLong(0) }
      Iterator.single((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }

  /** Loop-state / edge-layout width for every iterative kernel here,
    * derived from the co-purchase driving table's on-disk bytes
    * instead of the defaultParallelism constant (r12 — see
    * [[graft.plans.AdaptivePar]]: capped at defaultParallelism, so
    * the at-scale layout is byte-for-byte what the constant gave;
    * at bench scale the loops stop paying 32 task fixtures per round
    * for a few thousand rows — the 8-vs-32-core control measured the
    * whole loop family equal-or-faster on a quarter of the cores). */
  private[graft] def loopPar(spark: SparkSession, dir: String): Int =
    graft.plans.AdaptivePar.forTable(spark, dir, "lineitem",
      graft.plans.AdaptivePar.LoopBytesPerTask)

  /** Iteration cap — the oracle-mirroring bound, not the expected exit
    * (the kmeansLoop/KmMaxIter pattern): DuckDB unrolls exactly this
    * many MATERIALIZED CTE iterations, and because iterating past the
    * frozen fixpoint is the identity, early-stopped Spark output ==
    * fully-unrolled oracle output. Measured global freeze from the
    * degree-proportional warm start: iteration 17 at ALL THREE test
    * scales (the transient is governed by the d=0.85 decay rate and
    * the init's distance from the solution, not graph size; the
    * uniform init took 33) + headroom. */
  private[graft] val PrMaxIter = 24

  /** Freeze band denominator: a vertex's rank holds still when its
    * update moves it by <= r/PrFreezeDenom (1%). */
  private[graft] val PrFreezeDenom = 100L

  // NOTE (measured): seeded/personalized mode runs to the PrMaxIter
  // cap BY THE MATH, not by chatter — the L1 delta decays at exactly
  // d = 0.85 per round with ~all 16k vertices still moving (the init
  // is all-mass-on-seeds; the solution is 85% diffused, so the
  // transient is the full diffusion). An absolute
  // freeze floor of 1e5 units was tried and changed nothing; both
  // engines truncate at the same cap, so cross-engine equality holds
  // either way. The cap is therefore graph_ppr's cost: ~24 edge passes.

  /** Convergence-driven PageRank (d = 0.85) over the undirected
    * bipartite trade graph: {customer c} ↔ {supplier s} when any order
    * line of c's order was supplied by s. Output: top-20 vertices.
    *
    * Convergence design (VERDICT r4 #2, upgrading the fixed 3
    * iterations): the RAW truncating-integer power iteration has no
    * exact fixpoint to stop at — measured on the sf0.01 graph it
    * enters a 2-CYCLE at iteration ~117 with ~11 rank units/vertex of
    * truncation wobble (the L1 delta plateaus at ~18k units and
    * oscillates forever). The loop therefore iterates a HYSTERESIS
    * map: a vertex's rank keeps its old value when the update would
    * move it by <= 1/[[PrFreezeDenom]] of itself (abs(x − r)·100 <= r,
    * all-integer). Once every vertex is inside its band the map is
    * exactly the identity — a genuine integer fixpoint the L1-delta
    * measure detects as 0 — and past it further iterations reproduce
    * it, which is what lets the DuckDB oracle unroll a FIXED
    * [[PrMaxIter]] iterations while Spark stops at the fixpoint
    * (global freeze at iteration 17 from the warm start on all three
    * test graphs; spec asserts convergence-before-cap). The 1% band
    * is the result
    * precision — two orders of magnitude above the integer wobble, so
    * the cycle is dead by construction, and far below the top-20 rank
    * gaps.
    *
    * Per-iteration cost: ONE distributed job — the out-degree join is
    * hoisted out of the loop (it is iteration-invariant: edges and
    * out-degrees never change), so an iteration is edge⋈rank (rank is
    * vertex-sized — AQE broadcasts it at any scale where vertices fit,
    * shuffles otherwise) + one partial-aggregated groupBy + the
    * vertex-sized freeze join, lineage-cut per round with superseded
    * checkpoint blocks freed (the dedupComponents bookkeeping). */
  /** Seed nation for [[graphPpr]] — the personalization set is
    * "customers of NATION_7", mirrored in the oracle. */
  private val PprSeedNation = 7

  private[graft] def pagerankRanks(spark: SparkSession, dir: String,
      seeded: Boolean = false): (DataFrame, Int) = {
    val t = Tables(spark, dir)
    val sc = spark.sparkContext
    // Edge derivation: the one fact-fact shuffle (orders ⋈ lineitem on
    // orderkey); customer/supplier key columns come free from the fact
    // rows themselves. Checkpointed WITH the out-degree attached: both
    // are iteration-invariant, so the per-iteration plan starts from
    // the materialized (src, dst, outdeg) rows.
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cv"),
        (col("l_suppkey") * 2 + 1).as("sv"))
      .distinct()
      .localCheckpoint()
    val edgesRaw = pairs.select(col("cv").as("src"), col("sv").as("dst"))
      .unionByName(pairs.select(col("sv").as("src"), col("cv").as("dst")))
    val deg = edgesRaw.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Vertices carry N (vertex count) so teleport needs no driver-side
    // constant — a 1-row count broadcast-crossed onto the vertex set.
    // In seeded (personalized) mode they additionally carry the seed
    // flag and the broadcast seed count: the teleport mass lands ONLY
    // on the seed set.
    val vertIds = t.customer.select((col("c_custkey") * 2).as("v"))
      .unionByName(t.supplier.select((col("s_suppkey") * 2 + 1).as("v")))
    val vertsBase = vertIds
      .crossJoin(broadcast(vertIds.agg(count(lit(1)).as("n"))))
    val seedSet = t.customer
      .filter(col("c_nationkey") === PprSeedNation)
      .select((col("c_custkey") * 2).as("v"), lit(1L).as("is_seed"))
    val verts =
      (if (!seeded) vertsBase
       else vertsBase
         // No forced hint on the seed set: it comes straight off the
         // customer scan (real catalog stats), so the planner
         // broadcasts it while it fits and shuffles beyond — unlike
         // post-checkpoint loop state, this side needs no gate.
         .join(seedSet, Seq("v"), "left")
         .crossJoin(broadcast(seedSet.agg(count(lit(1)).as("ns"))))
         .select(col("v"), col("n"),
           coalesce(col("is_seed"), lit(0L)).as("is_seed"), col("ns")))
        // lazy: the count below materializes the blocks in the same
        // job (VERDICT r7 #5 — one driver action, not two).
        .localCheckpoint(eager = false)
    // Driver-side vertex count — the SizeGate input (VERDICT r6 #1).
    // State size is CONSTANT across rounds here (ranks keep every
    // vertex), so one count — which also materializes the lazy
    // checkpoint — decides the layout for the whole loop.
    val nV = verts.count()
    val stateFits = SizeGate.fits(verts, nV)
    // Checkpoint the edge table PRE-PARTITIONED for the gated path
    // (Checkpoints.tracked keeps the layout in the LogicalRDD leaf; a
    // plain localCheckpoint loses it under AQE, which reports
    // UnknownPartitioning):
    //  - broadcast path (state fits): partition on dst — every
    //    iteration's contribution groupBy(dst) collapses onto the
    //    materialized distribution, so the edge side of a round runs
    //    with no exchange;
    //  - degraded path (state too big to broadcast): partition on src,
    //    the state-join key, so each round repartitions the
    //    VERTEX-SIZED rank table onto it and co-partitions — the
    //    classic Pregel round; the edge list is never reshuffled.
    val par = loopPar(spark, dir)
    val (edges, edgeIds) = Checkpoints.tracked(
      edgesRaw.join(deg, "src")
        .repartition(par, col(if (stateFits) "dst" else "src")))

    val carry = if (seeded) Seq("n", "is_seed", "ns") else Seq("n")
    val teleport =
      if (seeded)
        s"CASE WHEN is_seed = 1 THEN ($Scale * 15) div (100 * ns) ELSE CAST(0 AS BIGINT) END"
      else s"($Scale * 15) div (100 * n)"

    // The rank side is SIZE-GATED (SizeGate.hintIfSmall): post-
    // checkpoint ranks are a LogicalRDD with unknown stats, so the
    // planner would otherwise assume them huge and SHUFFLE THE EDGE
    // TABLE on src every iteration (measured: the hint takes the
    // sf0.1 loop 21.4 → ~7 s). While nV fits the cap the rank table
    // broadcasts; past it, it repartitions on src and co-partitions
    // with the src-partitioned edge checkpoint — the loop DEGRADES BY
    // CONSTRUCTION instead of dying on the broadcast ceiling. The
    // contrib side of the update join needs no repartition key: its
    // groupBy(dst) output already carries the dst hash partitioning.
    def step(rk: DataFrame): DataFrame = {
      val contrib = edges
        .join(SizeGate.hintIfSmall(
          rk.select(col("v").as("src"), col("r")), nV, col("src")), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("in_mass"))
      rk.join(SizeGate.hintIfSmall(contrib, nV), col("v") === col("dst"), "left")
        .select(col("v") +: carry.map(col) :+ col("r").as("rp") :+
          expr(s"$teleport + (coalesce(in_mass, CAST(0 AS BIGINT)) * 85) div 100").as("x"): _*)
        .select(col("v") +: carry.map(col) :+ col("rp") :+
          expr(s"CASE WHEN abs(x - rp) * $PrFreezeDenom <= rp THEN rp ELSE x END").as("r"): _*)
    }

    // Degree-proportional WARM START (uniform mode): for an undirected
    // graph the random-walk stationary distribution is exactly
    // degree/2|E|, so init = teleport + d·(degree share) starts ~one
    // band-width from the solution instead of a full mix away —
    // measured freeze drops 33 → 17 iterations, same top-20, at all
    // three test scales. The 85·Scale·outdeg product stays in BIGINT
    // up to outdeg ~1e5; a graph with hotter hubs widens this one
    // expression to DECIMAL(38,0) (both engines), nothing else
    // changes. Seeded mode instead starts from the personalization
    // vector itself (all mass on the seeds) — the PPR analogue of the
    // same idea: the solution concentrates near the seeds, so that is
    // the right warm start.
    val init = Checkpoints.tracked(
      if (seeded)
        verts.select(col("v") +: carry.map(col) :+ lit(0L).as("rp") :+
          expr(s"CASE WHEN is_seed = 1 THEN $Scale div ns ELSE CAST(0 AS BIGINT) END").as("r"): _*)
      else
        verts
          .join(deg.select(col("src").as("v"), col("outdeg")), Seq("v"), "left")
          .crossJoin(broadcast(deg.agg(sum("outdeg").as("tot"))))
          .select(col("v"), col("n"), lit(0L).as("rp"),
            expr(s"($Scale * 15) div (100 * n) + " +
              s"(85 * $Scale * coalesce(outdeg, CAST(0 AS BIGINT))) div (100 * tot)").as("r")))
    // One step per materialized round — measured against the obvious
    // "two steps per job" batching at sf0.1: the composed plan reads
    // the un-checkpointed inner state TWICE (mass-push join + the
    // hysteresis compare — every step consumes prior ranks in two
    // places), so the inner step recomputes and the loop got SLOWER
    // (18.8 s vs 16.6 s). The per-round checkpoint is what keeps each
    // step's plan single-iteration; the loop's cost is the genuine
    // per-iteration edge scan, not removable scheduling overhead.
    // The L1 delta is integer, so 0 means EXACT global freeze (and
    // monotone identity after).
    val ranks = Fixpoint.run(sc, init, PrMaxIter)(l1(_, "r", "rp"), Fixpoint.zero) {
      (r, rk) => r.checkpoint(step(rk))
    }
    Checkpoints.free(sc, edgeIds)
    (ranks.state, ranks.rounds)
  }

  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(spark, dir)._1
      .select(
        when(col("v") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("v div 2").as("key"),
        col("r").as("rank_units"))
      .orderBy(col("rank_units").desc, col("kind"), col("key"))
      .limit(20)

  /** Personalized PageRank from the NATION_7 customer seed set — the
    * "suppliers closest to this customer segment" affinity ranking a
    * recommender runs per segment: teleport mass lands ONLY on the
    * seeds, so rank concentrates in their graph neighborhood instead
    * of at global hubs. Same integer rank units, freeze-band early
    * stop, per-round checkpoint, and dst-partitioned edge layout as
    * [[graphPagerank]] — one parameter (where teleport lands) changes,
    * nothing else. Output: top-20 SUPPLIERS by personalized rank. */
  def graphPpr(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(spark, dir, seeded = true)._1
      .filter(col("v") % 2 === 1)
      .select(expr("v div 2").as("s_suppkey"), col("r").as("rank_units"))
      .orderBy(col("rank_units").desc, col("s_suppkey"))
      .limit(20)

  /** Iteration cap for [[graphHits]] — the oracle-mirroring bound (the
    * PrMaxIter pattern): DuckDB unrolls exactly this many iterations;
    * past the frozen fixpoint each further iteration is the identity.
    * Measured global freeze: iteration 2 at ALL THREE test scales —
    * HITS is power iteration on MᵀM, so the transient decays at
    * (λ₂/λ₁)², and the degree warm start lands one a-step from the
    * uniform vector's image — plus 4× headroom. */
  private[graft] val HitsMaxIter = 8

  /** HITS hub/authority scores over the directed bipartite trade graph
    * (customer → supplier through an order line) — the OTHER classic
    * link-analysis kernel next to [[graphPagerank]]: authorities are
    * suppliers trusted by well-connected customers, hubs are customers
    * whose suppliers are widely trusted — mutually recursive, which is
    * exactly what degree counts miss.
    *
    * Same integer machinery as PageRank with one addition: HITS
    * requires NORMALIZATION each half-step (the raw map is unbounded),
    * so after each mass push the vector rescales to Σ = [[Scale]] via
    * one broadcast 1-row total — the rescale product runs in
    * DECIMAL(38,0)/HUGEINT (value × Scale overflows BIGINT), one
    * integral division back to BIGINT units, identical both engines.
    * The freeze band ([[PrFreezeDenom]], 1%) gives the truncating
    * integer map a genuine fixpoint (the PageRank 2-cycle lesson);
    * once both vectors freeze, pushes, totals, and candidates
    * reproduce exactly, so early-stopped Spark == the oracle's fixed
    * [[HitsMaxIter]]-unrolled CTE chain.
    *
    * Per-round cost: TWO size-gated edge joins (a-step groups on sv,
    * h-step on cv), each collapsing onto its OWN pre-partitioned
    * checkpointed edge copy — zero exchanges per step at any scale
    * where the vertex vectors fit the [[SizeGate]] broadcast cap;
    * past it each half-step joins against the copy partitioned on the
    * JOIN key and pays one vertex-sized state shuffle + one
    * partial-aggregated message shuffle, never an edge reshuffle. */
  private[graft] def hitsScores(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Int) = {
    val t = Tables(spark, dir)
    val sc = spark.sparkContext
    val par = loopPar(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cv"), col("l_suppkey").as("sv"))
      .distinct().localCheckpoint()
    // One edge copy per grouping key: each half-step's groupBy
    // collapses onto its copy's materialized distribution.
    val (eBySv, e1Ids) = Checkpoints.tracked(pairs.repartition(par, col("sv")))
    val (eByCv, e2Ids) = Checkpoints.tracked(pairs.repartition(par, col("cv")))
    val deg = pairs.groupBy("cv").agg(count(lit(1)).as("dg"))
    // Hub warm start ∝ out-degree (the PageRank warm-start move: one
    // a-step of the uniform vector lands exactly there, so this skips
    // a free iteration); isolated customers start and stay at 0.
    val hub0 = t.customer.select(col("c_custkey").as("cv"))
      .join(deg, Seq("cv"), "left")
      .crossJoin(broadcast(deg.agg(sum("dg").as("td"))))
      .select(col("cv"), lit(0L).as("hp"),
        expr(s"($Scale * coalesce(dg, CAST(0 AS BIGINT))) div td").as("h"))
    val auth0 = t.supplier.select(col("s_suppkey").as("sv"),
      lit(0L).as("ap"), lit(0L).as("a"))
    val rescale =
      s"""CASE WHEN tt IS NULL OR tt = 0 THEN CAST(0 AS BIGINT)
         | ELSE CAST((CAST(coalesce(m, CAST(0 AS BIGINT)) AS DECIMAL(38,0))
         |   * $Scale) div tt AS BIGINT) END AS cand""".stripMargin
    def freeze(prevCol: String, outCol: String): String =
      s"""CASE WHEN abs(cand - $prevCol) * $PrFreezeDenom <= $prevCol
         | THEN $prevCol ELSE cand END AS $outCol""".stripMargin
    // Lazy: the gate counts right below materialize each vector's
    // blocks in the same job.
    val (hub, hubIds) = Checkpoints.tracked(hub0, eager = false)
    val (auth, authIds) = Checkpoints.tracked(auth0, eager = false)
    // SizeGate inputs: both score vectors keep every vertex of their
    // side, so one count each — which also materializes the lazy
    // checkpoints — gates the whole loop. When a vector stops
    // fitting the broadcast cap, its mass-push join runs against the
    // edge copy partitioned on the JOIN key (the other side's copy)
    // and the round's shuffle is the vertex-sized vector, never the
    // edge list; the half-step's groupBy then pays one
    // partial-aggregated message shuffle — the classic Pregel round.
    val nHub = hub.count()
    val nAuth = auth.count()
    val aEdges = if (SizeGate.fits(hub, nHub)) eBySv else eByCv
    val hEdges = if (SizeGate.fits(auth, nAuth)) eByCv else eBySv
    // Both half-step checkpoints are lazy: the round's two delta
    // aggregates are the materializing actions — l1(a2) computes a2's
    // blocks, l1(h2) computes h2's (reading a2 back from cache) — so
    // a round runs 2 driver actions, not 4.
    val scores = Fixpoint.run(sc, ((hub, auth), hubIds ++ authIds), HitsMaxIter)(
      { case (h2, a2) => l1(a2, "a", "ap") + l1(h2, "h", "hp") }, Fixpoint.zero) {
      case (r, (hub, auth)) =>
        val araw = aEdges
          .join(SizeGate.hintIfSmall(
            hub.select(col("cv"), col("h")), nHub, col("cv")), "cv")
          .groupBy("sv").agg(sum("h").as("m"))
        val a2 = r.checkpoint(
          auth.join(SizeGate.hintIfSmall(araw, nAuth), Seq("sv"), "left")
            .crossJoin(broadcast(araw.agg(sum("m").as("tt"))))
            .select(col("sv"), col("a").as("ap"), col("m"), col("tt"))
            .selectExpr("sv", "ap", rescale)
            .selectExpr("sv", "ap", freeze("ap", "a")))
        val hraw = hEdges
          .join(SizeGate.hintIfSmall(
            a2.select(col("sv"), col("a")), nAuth, col("sv")), "sv")
          .groupBy("cv").agg(sum("a").as("m"))
        val h2 = r.checkpoint(
          hub.join(SizeGate.hintIfSmall(hraw, nHub), Seq("cv"), "left")
            .crossJoin(broadcast(hraw.agg(sum("m").as("tt"))))
            .select(col("cv"), col("h").as("hp"), col("m"), col("tt"))
            .selectExpr("cv", "hp", rescale)
            .selectExpr("cv", "hp", freeze("hp", "h")))
        (h2, a2)
    }
    Checkpoints.free(sc, e1Ids ++ e2Ids)
    (scores.state._1, scores.state._2, scores.rounds)
  }

  /** Walk length for [[graphWalkCorpus]] (steps per walk; unrolled
    * identically in the oracle). */
  private[graft] val WalkLen = 4

  /** DETERMINISTIC random-walk corpus over the trade graph — the
    * DeepWalk/node2vec input step, where a graph becomes "sentences"
    * for a skip-gram embedding run: [[WalkLen]]-step walks from 50
    * md5-ranked start customers, each step picking neighbor
    * rank = md5(start ∥ step) mod degree from the rank-ordered
    * adjacency. The md5 draw replaces the coin flip (the
    * mix_token_budget move), so the corpus is bit-identical across
    * runs, engines, partitionings, and cluster sizes — which is what
    * makes a 100 TB walk corpus REPRODUCIBLE and its training run
    * auditable. Each step is one join of the 50-row walk frontier
    * (broadcast) against the checkpointed ranked adjacency; per-key
    * fan-out is the vertex degree, filtered to exactly one row by the
    * draw. Starts without edges drop out (inner join, both engines
    * identically). */
  def graphWalkCorpus(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cv"), (col("l_suppkey") * 2 + 1).as("sv"))
      .distinct()
    val adj = pairs.select(col("cv").as("src"), col("sv").as("dst"))
      .unionByName(pairs.select(col("sv").as("src"), col("cv").as("dst")))
    val radj = adj
      .withColumn("rank",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    val starts = t.customer.select((col("c_custkey") * 2).as("v0"))
      .orderBy(md5(col("v0").cast("string")), col("v0")).limit(50)
    var cur = starts
      .withColumn("path", col("v0").cast("string"))
      .withColumn("v", col("v0"))
    for (i <- 1 to WalkLen) {
      cur = broadcast(cur).join(radj, col("v") === col("src"))
        .filter(col("rank") === expr(
          s"CAST(conv(substr(md5(concat(CAST(v0 AS STRING), '_', '$i')), 1, 6), 16, 10) AS BIGINT) % deg"))
        .select(col("v0"),
          concat(col("path"), lit("-"), col("dst").cast("string")).as("path"),
          col("dst").as("v"))
    }
    cur.select(col("v0").as("start_v"), col("path")).orderBy("start_v")
  }

  /** Top-10 authorities (suppliers) and top-10 hubs (customers) by
    * HITS score — see [[hitsScores]]. */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val (hub, auth, _) = hitsScores(spark, dir)
    val topA = auth
      .select(lit("authority").as("kind"), col("sv").as("key"),
        col("a").as("score_units"))
      .orderBy(desc("score_units"), col("key")).limit(10)
    val topH = hub
      .select(lit("hub").as("kind"), col("cv").as("key"),
        col("h").as("score_units"))
      .orderBy(desc("score_units"), col("key")).limit(10)
    topA.unionByName(topH)
      .orderBy(col("kind"), desc("score_units"), col("key"))
  }

  /** Triangle counting over the co-purchase graph: parts are vertices,
    * an edge joins two parts co-ordered in ≥2 distinct orders (the
    * support threshold sparsifies boilerplate co-occurrence), and the
    * output is the top-20 parts by triangle participation — the local
    * clustering signal a recommender / community detector starts from.
    *
    * Scale posture: the edge list derives from ONE sorted pass per
    * order (bounded per-order fan-out, see coPurchasePairCounts) and
    * is localCheckpoint'ed because the triangle enumeration joins it
    * THREE times — without the cut the pair-derivation shuffle would
    * run three times (the minhash r2 lesson). Edges are oriented
    * a<b<c, so each triangle is enumerated exactly once and the wedge
    * join (e1.b = e2.b2) never pairs a hub's full degree against
    * itself in both directions. */
  /** Wedge enumeration for [[triangleCounts]], exposed for the
    * GraphSpec balance evidence: (a, b, c) with a<b<c and edges
    * (a,b), (b,c) present — SPREAD by the closure key before the
    * closure join. The wedge join keys on the shared vertex b, so a
    * hub's O(deg²) wedge set materializes in the ONE task owning
    * hash(b) — and without an explicit exchange it would STAY there
    * through the closure join (broadcast at test scale keeps the
    * b-partitioning; even the shuffle path inherits the skew if AQE
    * coalesces the tiny-looking shuffle). Repartitioning on (a, c) is
    * the DedupOps edit-near pair-id pattern: it is exactly the
    * distribution the closure SMJ needs at scale (no extra exchange on
    * that path) and the fixed count is immune to AQE's bytes-based
    * coalescing, so one hub can no longer pin a task at 100×. */
  private[graft] def wedges(edges: DataFrame, parIn: Int = -1): DataFrame = {
    val par =
      if (parIn > 0) parIn
      else edges.sparkSession.sparkContext.defaultParallelism
    edges.select(col("p1").as("a"), col("p2").as("b"))
      .join(edges.select(col("p1").as("b"), col("p2").as("c")), "b")
      .repartition(par, col("a"), col("c"))
  }

  /** Triangle participation counts over an oriented (p1 < p2) edge
    * list — the core [[graphTriangles]] wraps, parameterized so
    * GraphSpec can drive it with a synthetic hub fixture. */
  private[graft] def triangleCounts(edges: DataFrame, parIn: Int = -1): DataFrame =
    wedges(edges, parIn)
      .join(edges.select(col("p1").as("a"), col("p2").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("n_triangles"))

  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    triangleCounts(edges, loopPar(spark, dir))
      .orderBy(desc("n_triangles"), col("p_partkey"))
      .limit(20)
  }

  /** Neighborhood Jaccard similarity over the co-purchase graph — the
    * structural link-prediction / "parts bought in the same company"
    * signal: for part pairs sharing ≥1 co-purchase neighbor,
    * |N(a)∩N(b)| / |N(a)∪N(b)|, top-20 by similarity.
    *
    * Shape: symmetrized adjacency self-joined on the SHARED NEIGHBOR —
    * the same hot-vertex hazard as the triangle wedge join (a hub's
    * O(deg²) co-neighbor pairs land in one task), so the same (a, c)
    * spread runs BEFORE the pair aggregation (the count's map-side
    * partial agg would otherwise do the hub's deg² hash updates in a
    * single thread). Degrees are vertex-sized joins (broadcast);
    * the Jaccard is one division of two exact integers (bit-identical
    * cross-engine), ranked with the (p1, p2) tiebreak. */
  def graphJaccard(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("d"))
    val par = loopPar(spark, dir)
    val common = adj.select(col("src"), col("dst").as("a"))
      .join(adj.select(col("src"), col("dst").as("c")), "src")
      .filter(col("a") < col("c"))
      .repartition(par, col("a"), col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("src").as("a"), col("d").as("deg1")), "a")
      .join(deg.select(col("src").as("c"), col("d").as("deg2")), "c")
      .select(col("a").as("p1"), col("c").as("p2"), col("common"),
        col("deg1"), col("deg2"),
        round(col("common").cast("double") /
          (col("deg1") + col("deg2") - col("common")), 4).as("jaccard"))
      .orderBy(desc("jaccard"), col("p1"), col("p2"))
      .limit(20)
  }

  /** Adamic–Adar link prediction over the co-purchase graph — the
    * next-link recommender score: for NON-adjacent part pairs that
    * share co-purchase neighbors, Σ over shared neighbors z of
    * 1/ln(deg(z)) — common-neighbor evidence that DISCOUNTS hub
    * neighbors (sharing a niche part is stronger evidence than sharing
    * one everything-buys-it part), exactly the weighting
    * [[graphJaccard]]'s set ratio misses. Existing edges are
    * anti-joined out — the prediction targets links that do not exist
    * yet. Top-20 candidate edges.
    *
    * Determinism: each shared vertex's weight quantizes ONCE to
    * integer nano-units (round(1e9/ln(d)) — degree-1 vertices are
    * filtered out first: they have no second neighbor to complete a
    * wedge, and ANSI mode would refuse their ln(1) = 0 divisor), and
    * a pair's score is an exact BIGINT sum of those units —
    * partition-order-independent, ranked with the (p1, p2) tiebreak.
    * Both engines round the SAME IEEE double 1e9/ln(CAST(d AS
    * DOUBLE)), the txt_js_divergence log-quantization contract.
    *
    * Scale: the wedge join keys on the shared vertex — the triangle
    * hub hazard — so the explicit (a, c) pair-id spread runs before
    * the score aggregation (the [[wedges]] law); degrees are a
    * vertex-sized broadcast onto the adjacency, and the weight rides
    * the wedge row in, so no post-aggregation re-join is needed. */
  def graphAdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    // Degree-1 vertices can't center a wedge (no second neighbor), and
    // their ln(1) = 0 would trip ANSI division — filter BEFORE the
    // weight expression so it never evaluates on them.
    val degW = adj.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2)
      .select(col("src"),
        expr("CAST(round(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)").as("wq"))
    val par = loopPar(spark, dir)
    // Size gate on the vertex-sized degree table (the loop-state hint
    // class, one-shot edition). The bound is the part-table row count —
    // a metadata-only parquet count, and vertices here ARE parts — so
    // no extra aggregation job runs just to size the hint.
    val nParts = Tables(spark, dir).part.count()
    val wadj = adj.join(SizeGate.hintIfSmall(degW, nParts, col("src")), "src")
    val scored = wadj.select(col("src"), col("dst").as("a"), col("wq"))
      .join(adj.select(col("src"), col("dst").as("c")), "src")
      .filter(col("a") < col("c"))
      .repartition(par, col("a"), col("c"))
      .groupBy("a", "c")
      .agg(sum("wq").as("sq"), count(lit(1)).as("common"))
    scored
      .join(edges,
        scored("a") === edges("p1") && scored("c") === edges("p2"), "left_anti")
      .select(col("a").as("p1"), col("c").as("p2"), col("common"),
        (round(col("sq").cast("double") / lit(1000000000.0), 4) + lit(0.0))
          .as("aa_score"))
      .orderBy(desc("aa_score"), col("p1"), col("p2"))
      .limit(20)
  }

  /** Degree distribution of the co-purchase graph — the first
    * diagnostic a graph pipeline prints (is this power-law? where do
    * the hubs start? what support threshold keeps the wedge joins
    * bounded?): vertices per degree value. Two partial-aggregated
    * shuffles — per-vertex degree (vertex keys), then the histogram on
    * the tiny degree domain. */
  def graphDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    // Checkpoint before symmetrizing: the union references the pair
    // pipeline twice (the dedupComponents edge lesson — un-cut, the
    // whole pair-derivation subtree ran once per branch and the
    // plan tripped the PlanAuditSpec shuffle ceiling).
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    adj.groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")
  }

  /** Global clustering coefficient C = 3·triangles / wedges — the
    * one-scalar transitivity summary ("my neighbors know each other")
    * complementing [[graphTriangles]]' per-vertex participation and
    * [[graphAssortativity]]'s degree mixing. Both counts are exact
    * BIGINTs from the SAME oriented edge list (Σ per-vertex triangle
    * participation = 3T by construction — no separate triangle pass;
    * wedges = Σ d(d−1)/2 over the degree table, integer-exact), and C
    * is ONE division of the two in both engines. Rides the existing
    * wedge-spread triangle machinery; the only additions are two
    * 1-row aggregates. */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    val wedgeTot = adj.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val triTot = triangleCounts(edges, loopPar(spark, dir))
      .agg(sum("n_triangles").as("tri3"))
    triTot.crossJoin(broadcast(wedgeTot))
      .selectExpr(
        "CAST(tri3 div 3 AS BIGINT) AS n_triangles",
        "CAST(n_wedges AS BIGINT) AS n_wedges",
        "CAST(tri3 AS DOUBLE) / n_wedges AS clustering_coeff")
  }

  /** Degree assortativity (Newman 2002) of the co-purchase graph — the
    * single scalar that says whether hubs attach to hubs (r > 0,
    * social-network-like) or to leaves (r < 0, internet-like): the
    * Pearson correlation of endpoint degrees over the directed
    * symmetrized edge list. The hub diagnostic behind the wedge-spread
    * decisions, next to [[graphDegreeDist]]'s marginal.
    *
    * Exactness: degrees are integers, so ALL five accumulators
    * (edge count, Σj, Σjk, Σj², and by symmetry Σk = Σj) are exact
    * DECIMAL(38,0)/HUGEINT sums — order-independent — and both the
    * numerator Se·Σjk − (Σj)² and denominator Se·Σj² − (Σj)² are
    * exact INTEGER products (≤ ~1e36 at 1e12 edges — inside both
    * engines' 38-digit range). r is ONE division of the same two
    * exact integers in both engines (the agg_gini contract); no
    * rounding agreement needed.
    *
    * Scale: edges checkpointed once; degrees are a vertex-sized
    * aggregate joined back onto edges (AQE broadcasts at test scale,
    * shuffles where vertices outgrow it — nothing hint-pinned); the
    * moment reduction is one partial-aggregated pass to a single row. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("d"))
    val stats = adj
      .join(deg.select(col("src"), col("d").as("j")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("k")), "dst")
      .agg(count(lit(1)).as("se"),
        sum(expr("CAST(j AS DECIMAL(38,0))")).as("sj"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * j")).as("sj2"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * k")).as("sjk"))
    stats.crossJoin(deg.agg(count(lit(1)).as("n_vertices")))
      .selectExpr(
        "CAST(n_vertices AS BIGINT) AS n_vertices",
        "CAST(se div 2 AS BIGINT) AS n_edges",
        "CAST(CAST(se AS DECIMAL(38,0)) * sjk - sj * sj AS DOUBLE) / " +
          "CAST(CAST(se AS DECIMAL(38,0)) * sj2 - sj * sj AS DOUBLE) AS assortativity")
  }

  /** BFS iteration cap — the oracle-mirroring bound (kmeansLoop /
    * PrMaxIter pattern): measured hub eccentricity is 3-4 at all three
    * test scales (the support-1 co-purchase graph is a dense blob);
    * past the frontier freeze every merge round is the identity, so
    * early-stopped Spark == the oracle's fixed 8-level unroll. Were a
    * corpus's eccentricity ever to exceed the cap, BOTH engines
    * truncate at the same level and still agree. */
  private[graft] val BfsMaxIter = 8

  /** The symmetrized co-purchase edge list, checkpointed (caller frees
    * the returned block ids) — the graph of [[graphBfsLayers]],
    * [[graphDiameter]] and [[graphCloseness]]. */
  private def coPurchaseSym(spark: SparkSession, dir: String): (DataFrame, Set[Int]) = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .select("p1", "p2")
      .localCheckpoint()
    // Pre-partitioned ON src, the per-round state-join key: when the
    // distance table outgrows the SizeGate broadcast cap it
    // repartitions onto this layout and co-partitions — the edge list
    // is materialized once and never reshuffled by the loop.
    Checkpoints.tracked(
      edges.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
        .repartition(loopPar(spark, dir), col("src")))
  }

  /** Level-synchronous BFS over `sym` from `nSeeds` sources at once —
    * the convergence-driven min-label loop behind [[graphBfsLayers]],
    * [[graphDiameter]] (twice) and [[graphCloseness]]. `seeds` holds
    * the `keys` columns plus the start vertex `v`; the result is the
    * final (keys, v, d) distance table, one BFS per distinct `keys`
    * value (no keys: a single BFS). Its blocks stay live for the
    * caller's readout (session teardown reclaims them, the shared
    * iterative-kernel convention).
    *
    * SizeGate input: the distance table GROWS from `nSeeds` rows
    * toward keys × reached vertices; the freeze measure carries its
    * exact row count, so the gate re-decides every round — early
    * frontiers broadcast, a vertex-scale table flips to the
    * co-partitioned shuffle against the src-partitioned sym. */
  private[graft] def bfsSweep(sc: org.apache.spark.SparkContext, sym: DataFrame,
      seeds: DataFrame, keys: Seq[String], nSeeds: Long): DataFrame = {
    val k = keys.map(col)
    val init = Checkpoints.tracked(seeds.select(k :+ col("v") :+ lit(0L).as("d"): _*))
    Fixpoint.run(sc, init, BfsMaxIter)(countAndSum("d"), Fixpoint.unchanged) {
      (r, dist) =>
        val cand = sym
          .join(SizeGate.hintIfSmall(dist, r.last.fold(nSeeds)(_._1), col("v")),
            col("src") === col("v"))
          .groupBy(k :+ col("dst"): _*).agg(min(col("d") + 1).as("d"))
          .select(k :+ col("dst").as("v") :+ col("d"): _*)
        r.checkpoint(
          dist.unionByName(cand).groupBy(k :+ col("v"): _*).agg(min("d").as("d")))
    }.state
  }

  /** Single-source BFS layers (shortest hop distance) over the FULL
    * co-purchase graph, seeded at the max-degree hub (min-vertex
    * tiebreak — deterministic cross-engine): per distance d, how many
    * parts sit d hops from the hub and the smallest such part — the
    * catalog-connectivity profile ("how far is everything from the
    * center of co-purchase space"), and the remaining classic
    * iterative graph kernel next to pagerank / components / triangles.
    *
    * Iteration is monotone frontier labeling (dedupComponents'
    * min-label shape with +1 per hop): dist ∪ (neighbors of dist)+1,
    * min per vertex. A vertex's FIRST label is its BFS distance and
    * never improves, so |dist| grows to a freeze that the integer
    * (count, Σd) measure detects exactly; past it, iterations are the
    * identity. Per round: one edge⋈dist join (dist is vertex-sized —
    * AQE broadcasts while it fits, shuffles beyond) + two partial-
    * aggregated groupBys, lineage-cut per round with superseded
    * checkpoint blocks freed (the pagerank bookkeeping). */
  def graphBfsLayers(spark: SparkSession, dir: String): DataFrame = {
    val (sym, symIds) = coPurchaseSym(spark, dir)
    val seed = sym.groupBy("src").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("src")).limit(1)
      .select(col("src").as("v"))
    val dist = bfsSweep(spark.sparkContext, sym, seed, Nil, 1L)
    Checkpoints.free(spark.sparkContext, symIds)
    dist.groupBy("d").agg(count(lit(1)).as("n_vertices"), min("v").as("min_vertex"))
      .orderBy("d")
  }

  /** Graph diameter LOWER BOUND by the classic double sweep: BFS from
    * the max-degree hub, hop to the farthest vertex found (the
    * graph's periphery — ties break to the min vertex, deterministic
    * cross-engine), BFS again from there; the second eccentricity is
    * the double-sweep diameter estimate, exact on trees and within a
    * small factor on real graphs — the standard O(2·BFS) answer where
    * exact diameter costs all-pairs. Readout is one row: hub + its
    * eccentricity, the peripheral vertex, its eccentricity (the
    * diameter bound), the antipode it reaches, and the reached-vertex
    * count (component size). Scale shape: exactly two [[bfsSweep]]
    * runs over one checkpointed edge list; every readout input is a
    * 1-row aggregate cross-joined at the end. The oracle unrolls BOTH
    * sweeps to the shared [[BfsMaxIter]] cap — past the frontier
    * freeze each level is the identity, and were a corpus's diameter
    * ever to exceed the cap both engines truncate at the same level
    * and still agree. */
  def graphDiameter(spark: SparkSession, dir: String): DataFrame = {
    val (sym, symIds) = coPurchaseSym(spark, dir)
    // The 1-row seeds are localCheckpoint'ed: both feed the readout
    // AFTER sym's blocks are freed, so they must not stay lazy views
    // over the freed edge list.
    val hub = sym.groupBy("src").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("src")).limit(1)
      .select(col("src").as("v"))
      .localCheckpoint()
    val d1 = bfsSweep(spark.sparkContext, sym, hub, Nil, 1L)
    val far1 = d1.orderBy(col("d").desc, col("v")).limit(1)
      .select(col("v"))
      .localCheckpoint()
    val d2 = bfsSweep(spark.sparkContext, sym, far1, Nil, 1L)
    Checkpoints.free(spark.sparkContext, symIds)
    hub.select(col("v").as("hub_vertex"))
      .crossJoin(d1.agg(max("d").as("hub_ecc")))
      .crossJoin(far1.select(col("v").as("peripheral_vertex")))
      .crossJoin(d2.agg(max("d").as("diameter_lb"),
        count(lit(1)).as("n_reached")))
      .crossJoin(d2.orderBy(col("d").desc, col("v")).limit(1)
        .select(col("v").as("antipode_vertex")))
      .select(col("hub_vertex"), col("hub_ecc"), col("peripheral_vertex"),
        col("diameter_lb"), col("antipode_vertex"), col("n_reached"))
  }

  /** [[graphCloseness]] sample size: exact all-sources closeness is
    * O(n·E) — the Eppstein–Wang sampling result is THE scale path, and
    * the sample is the md5-ranked deterministic pick so both engines
    * (and any cluster size) choose the same sources. */
  private[graft] val ClosenessSeeds = 8

  /** Sampled closeness centrality — Wasserman–Faust normalized
    * closeness for [[ClosenessSeeds]] md5-sampled source vertices of
    * the full co-purchase graph: C(s) = (r−1)²/((n−1)·Σd) where r =
    * vertices reached from s and Σd their hop-distance sum (the
    * disconnected-safe form: the (r−1)/(n−1) factor scales reach, so
    * a vertex seeing only a small component can't claim a hub's
    * score). The sampled-source design is the Eppstein–Wang estimator
    * shape: exact closeness needs all-pairs BFS, a sample of sources
    * costs |S| BFS passes at ANY corpus size.
    *
    * Iteration: [[bfsSweep]] keyed by the seed s — ONE loop runs all
    * |S| BFS frontiers concurrently (fatter rounds, not more of them
    * — the kcore lesson), with the same integer (count, Σd) freeze
    * measure and [[BfsMaxIter]] oracle-mirroring cap as
    * [[graphBfsLayers]]. State is ≤ |S|·n rows — |S| is a constant,
    * so the per-round join stays linear in the graph; the closeness
    * itself is ONE division of two exact BIGINT products. */
  def graphCloseness(spark: SparkSession, dir: String): DataFrame = {
    val (sym, symIds) = coPurchaseSym(spark, dir)
    val verts = sym.select(col("src")).distinct()
    // Materialized 1-row |V| — the final closeness select runs AFTER
    // sym's checkpoint blocks are freed, so it must not re-derive
    // verts from the freed lineage.
    val nRow = verts.agg(count(lit(1)).as("n")).localCheckpoint()
    val seeds = verts
      .orderBy(md5(col("src").cast("string").cast("binary")), col("src"))
      .limit(ClosenessSeeds)
      .select(col("src").as("s"), col("src").as("v"))
    val dist = bfsSweep(spark.sparkContext, sym, seeds, Seq("s"), ClosenessSeeds)
    Checkpoints.free(spark.sparkContext, symIds)
    dist.groupBy("s")
      .agg(count(lit(1)).as("reached"), sum("d").as("sum_dist"))
      .crossJoin(broadcast(nRow))
      .select(col("s").as("seed"), col("reached"), col("sum_dist"),
        (round(((col("reached") - 1) * (col("reached") - 1)).cast("double") /
          ((col("n") - 1) * col("sum_dist")).cast("double"), 6) + lit(0.0))
          .as("closeness"))
      .orderBy("seed")
  }

  /** [[graphBetweenness]] source-panel size — its own knob, smaller
    * than [[ClosenessSeeds]]: Brandes costs TWO passes per source
    * with σ/δ state where closeness costs one BFS, so the sampled
    * estimator trades panel width for wall time here (Brandes–Pich:
    * the estimate is unbiased at any panel size; variance shrinks
    * with |S|). */
  private[graft] val BetweennessSeeds = 4

  /** Sampled betweenness centrality — Brandes' algorithm from the
    * [[BetweennessSeeds]] md5-sampled sources (the Brandes–Pich
    * sampled estimator: exact betweenness is all-sources Brandes,
    * O(n·E); a fixed source panel costs |S| two-phase passes at any
    * corpus size): which vertices do shortest paths FUNNEL through —
    * the bridge/bottleneck signal degree and closeness both miss.
    * Top-20 by sampled score.
    *
    * Phase 1 (forward): level-synchronous multi-source BFS keyed by
    * (source, v) — per round, the frontier pushes (dist, path-count σ)
    * one hop out; σ(v) = Σ σ(parents) is final the round v is first
    * reached BECAUSE the BFS is level-synchronous (all level-L parents
    * settle in round L). Settled rows accumulate per round (the
    * dedup_components append shape), frontier
    * empty = done.
    * Phase 2 (backward): Brandes' dependency δ(u) = Σ_children
    * σu/σv·(1 + δ(v)) runs level-by-level from the deepest frontier
    * back to the sources — over the shortest-path DAG edges
    * ((u, v) with d(v) = d(u)+1 per source), derived ONCE after the
    * forward phase and checkpointed pre-partitioned on the
    * (source, child) join key: each level then joins its DAG slice
    * against the broadcast vertex-sized δ table with no per-level
    * scan of the raw edge list (the r5 rework that took the kernel
    * from ~14 s to single digits at sf0.1). The fraction is
    * quantized exactly: δ rides as integer micro-units and each edge
    * contributes (σu·(Q + δq(v))) div σv — the product in
    * DECIMAL(38,0)/HUGEINT (σ can reach deg^L; the hits rescale
    * contract), the integral division truncating identically in both
    * engines, the per-vertex sum an exact BIGINT fold.
    * Betweenness(v) = Σ_sources δq(v), v ≠ source.
    *
    * Scale: per round ONE frontier⋈edges join (frontier is ≤|S|·n
    * rows — vertex-sized × a constant) + partial-aggregated sums; the
    * backward joins run on the settled per-level slices, never the
    * event/corpus tables. The oracle unrolls both phases at the fixed
    * [[BfsMaxIter]] depth (empty levels are the identity — the
    * early-stop == full-unroll law every iterative kernel here uses). */
  def graphBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val edges = Relational.coPurchasePairCounts(spark, dir)
      .select("p1", "p2")
      .localCheckpoint()
    val sym = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    val seeds = sym.select(col("src")).distinct()
      .orderBy(md5(col("src").cast("string").cast("binary")), col("src"))
      .limit(BetweennessSeeds)
    betweennessFrom(spark, sym, seeds, loopPar(spark, dir))
      .orderBy(desc("betweenness"), col("p_partkey"))
      .limit(20)
  }

  /** The two-phase Brandes core over a CALLER-SUPPLIED symmetric edge
    * list and source set — parameterized so GraphSpec can drive it
    * with an analytic fixture (a path graph's betweenness is known in
    * closed form; seeding ALL vertices makes the sampled estimator
    * exact), the triangleCounts testing pattern. Returns one row per
    * vertex reached by ≥1 source: (p_partkey, n_sources,
    * betweenness). */
  private[graft] def betweennessFrom(spark: SparkSession, symIn: DataFrame,
      seeds: DataFrame, parIn: Int = -1): DataFrame = {
    val sc = spark.sparkContext
    val par = if (parIn > 0) parIn else sc.defaultParallelism
    // src-partitioned (the coPurchaseSym layout) so the gated forward
    // rounds co-partition instead of reshuffling edges.
    val (sym, symIds) = Checkpoints.tracked(symIn.repartition(par, col("src")))
    // Forward: ONE checkpointed frame PER LEVEL, kept for the whole
    // kernel — every consumer (the anti-join, the DAG derivation, the
    // backward level slices) only ever needs their UNION, which scans
    // the per-level blocks directly with zero recopy. d rides as
    // min(frontier.d) + 1 instead of a fresh lit(level): with no level
    // literal the round's plan (and its generated code) is
    // level-invariant, so codegen-cache hits replace a per-round
    // Janino compile.
    val (frontier0, _) = Checkpoints.tracked(
      seeds.select(col("src").as("s"), col("src").as("v"),
        lit(0L).as("d"), lit(1L).as("sig")), eager = false)
    // SizeGate inputs: the frontier count is the round's measure (and,
    // the checkpoints being lazy, its materializing action); the
    // cumulative settled count is the monotone upper bound gating
    // every BACKWARD level's delta table (a bound only ever demotes
    // broadcast to shuffle).
    val n0 = frontier0.count()
    val fwd = Fixpoint.run(sc, ((frontier0, List(frontier0)), Set.empty[Int]), BfsMaxIter)(
      _._1.count(), Fixpoint.zero) {
      case (r, (frontier, frames)) =>
        val cand = sym
          .join(SizeGate.hintIfSmall(frontier, r.last.getOrElse(n0), col("v")),
            col("src") === col("v"))
          .groupBy(col("s"), col("dst"))
          .agg(sum("sig").as("sig"), (min(col("d")) + lit(1L)).as("d"))
          .select(col("s"), col("dst").as("v"), col("d"), col("sig"))
        val next = r.checkpoint(
          cand.join(frames.reduce(_ unionByName _).select(col("s"), col("v")),
            Seq("s", "v"), "left_anti"),
          keep = true)
        (next, next :: frames)
    }
    val nSettled = n0 + fwd.measures.sum
    // A final empty frontier ends the loop and settles nothing.
    val emptyLast = fwd.measures.lastOption.contains(0L)
    val frames = if (emptyLast) fwd.state._2.tail else fwd.state._2
    val settled = frames.reduce(_ unionByName _)
    // Backward: per-level dependency tables, deepest first. deltas(L)
    // holds (s, v, dq) for every settled v at level L. The
    // shortest-path DAG edges are derived ONCE (the only further scan
    // of the raw edge list) and checkpointed partitioned on the
    // (s, cv) key every level's join uses.
    val lmax = fwd.rounds - (if (emptyLast) 1L else 0L)
    val (tree, treeIds) = Checkpoints.tracked(
      settled.select(col("s"), col("v").as("u"), col("d").as("du"),
          col("sig").as("usig"))
        .join(sym.select(col("src").as("u"), col("dst").as("cv")), "u")
        .join(settled.select(col("s"), col("v").as("cv"), col("d").as("dv"),
          col("sig").as("csig")), Seq("s", "cv"))
        .filter(col("dv") === col("du") + 1)
        .select(col("s"), col("u"), col("du"), col("usig"),
          col("cv"), col("csig"))
        .repartition(par, col("s"), col("cv")))
    Checkpoints.free(sc, symIds)
    // One EAGER checkpoint per level, kept and accumulated as frames:
    // the readout only needs the union of the level frames.
    val (deltas0, _) = Checkpoints.tracked(
      settled.filter(col("d") === lmax)
        .select(col("s"), col("v"), lit(0L).as("dq")))
    val bwd = Fixpoint.run(sc, ((deltas0, List(deltas0)), Set.empty[Int]), lmax.toInt)(
      _ => (), Fixpoint.never) {
      case (r, (deltas, acc)) =>
        val l = lmax - 1 - r.index
        val contrib = tree.filter(col("du") === l)
          .join(SizeGate.hintIfSmall(
            deltas.select(col("s"), col("v").as("cv"), col("dq")),
            nSettled, col("s"), col("cv")),
            Seq("s", "cv"))
          .groupBy(col("s"), col("u"))
          .agg(sum(expr(
            "CAST(usig AS DECIMAL(38,0)) * (1000000 + dq) div csig")).as("dq"))
          .select(col("s"), col("u").as("v"), col("dq"))
        val next = r.checkpoint(
          settled.filter(col("d") === l).select(col("s"), col("v"))
            .join(contrib, Seq("s", "v"), "left")
            .select(col("s"), col("v"), coalesce(col("dq"), lit(0L)).as("dq")),
          eager = true, keep = true)
        (next, next :: acc)
    }
    // Forward frames and the DAG fed only the (eager) backward
    // checkpoints — free them; the backward frames back the returned
    // readout and are reclaimed by the caller's teardown (Bench
    // unpersists every persistent RDD between queries).
    fwd.state._2.foreach(f => Checkpoints.free(sc, Checkpoints.owned(f)))
    Checkpoints.free(sc, treeIds)
    bwd.state._2.reduce(_ unionByName _)
      .filter(col("v") =!= col("s"))
      .groupBy("v")
      .agg(sum("dq").as("bq"), count(lit(1)).as("n_sources"))
      .select(col("v").as("p_partkey"), col("n_sources"),
        (round(col("bq").cast("double") / lit(1000000.0), 4) + lit(0.0))
          .as("betweenness"))
  }

  /** Coreness iteration cap — the oracle-mirroring bound (BfsMaxIter /
    * PrMaxIter pattern): measured h-index freeze is 21 iterations at
    * sf0.001 (the dense 200-vertex blob peels slowly), 10 at sf0.01,
    * 5 at sf0.1 — + headroom. Past the freeze every h-index round is
    * the identity, so early-stopped Spark == the oracle's fixed
    * 24-level unroll. */
  private[graft] val CoreMaxIter = 24

  /** The support-≥2 co-purchase edge list (the kcore/label-prop/
    * triangles base graph), checkpointed. */
  private[graft] def supportEdges(spark: SparkSession, dir: String): DataFrame =
    Relational.coPurchasePairCounts(spark, dir)
      .filter(col("n_orders") >= 2)
      .select("p1", "p2")
      .localCheckpoint()

  /** Newman modularity of the LPA communities — the quality score
    * that makes [[graphLabelProp]]'s output judgeable: Q = Σ_c
    * (m_c/M − (d_c/2M)²), positive when communities capture more
    * intra-edges than a degree-preserving random graph would. Every
    * input is an exact integer count (within-community edges,
    * community degree mass, M); each community's term is ONE
    * pinned-association double quantized to 1e-9 before an exact
    * BIGINT fold — partition-order-independent, and the oracle reuses
    * the label_prop unroll verbatim upstream. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(spark, dir)
    // lazy: the gate count materializes the blocks (VERDICT r7 #5).
    val lab = labelPropagate(spark, edges, LpaRounds, loopPar(spark, dir))
      .localCheckpoint(eager = false)
    val nV = lab.count()
    val mm = edges.agg(count(lit(1)).as("mm"))
    // The label table is vertex-sized but post-checkpoint (LogicalRDD,
    // unknown stats) — without a hint every consumer shuffles the edge
    // table (the pagerankRanks lesson; the audit ceiling caught the
    // hint-less plan at 10 shuffles). Size-gated: broadcast while the
    // vertex set fits, plain co-shuffle joins beyond the cap (one-shot
    // readout joins, so no edge-layout trick is warranted here).
    val we = edges
      .join(SizeGate.hintIfSmall(
        lab.select(col("v").as("p1"), col("lbl").as("l1")), nV, col("p1")), "p1")
      .join(SizeGate.hintIfSmall(
        lab.select(col("v").as("p2"), col("lbl").as("l2")), nV, col("p2")), "p2")
      .filter(col("l1") === col("l2"))
      .groupBy(col("l1").as("c")).agg(count(lit(1)).as("mc"))
    val dg = edges.select(col("p1").as("v"))
      .unionByName(edges.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dc = dg.join(SizeGate.hintIfSmall(lab, nV, col("v")), "v")
      .groupBy(col("lbl").as("c")).agg(sum("d").as("dsum"))
    dc.join(we, Seq("c"), "left")
      .crossJoin(broadcast(mm))
      .select(expr("""CAST(round((
          CAST(coalesce(mc, 0) AS DOUBLE) / mm
          - (CAST(dsum AS DOUBLE) / (2 * mm)) * (CAST(dsum AS DOUBLE) / (2 * mm))
        ) * 1000000000) AS BIGINT)""").as("tq"))
      .agg(count(lit(1)).as("n_communities"),
        (round(sum("tq").cast("double") / lit(1000000000.0), 4) + lit(0.0))
          .as("modularity"))
  }

  /** k-core decomposition — CORENESS per vertex (the largest k such
    * that v survives k-core peeling) over the support-≥2 co-purchase
    * graph, reported as a distribution: (coreness, n_vertices,
    * min_vertex). The density diagnostic next to degree_dist: degree
    * says how connected a hub is, coreness says how deep the densely
    * interlinked nucleus goes (a fixed-k peel is brittle — the 3-core
    * is empty at sf0.1 — so the full decomposition is the right query).
    *
    * Algorithm: iterated neighborhood H-INDEX (Lü et al., "The H-index
    * of a network node and its relation to degree and coreness",
    * Nature Comm. 2016): start at degree, replace each value with the
    * h-index of the neighbors' values (largest h with ≥h neighbors
    * ≥h); the sequence is monotone non-increasing per vertex and its
    * fixpoint IS the core number. Monotonicity gives an exact integer
    * freeze measure (count, Σc) — identical to the BFS loop — and
    * makes the window tiebreak irrelevant (h is invariant to the order
    * of equal values, so row_number over a non-unique sort is still
    * deterministic in the result). Per round: one edge⋈values join
    * (the vertex-sized values size-gated: broadcast while they fit),
    * one window partitioned by vertex, one groupBy — over the
    * src-partitioned adjacency none of them shuffles, so a round is
    * two jobs, the values' broadcast and the round its freeze measure
    * runs; lineage-cut per round, superseded checkpoint blocks freed. A
    * degree-peeling loop would need a round per distinct core level
    * REMOVED sequentially; h-index rounds run all levels concurrently
    * and freeze in O(diameter·levels) — fewer, fatter rounds, the
    * shape a 1000-executor cluster wants. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(spark, dir)
    val (core, _) = corenessValues(spark, edges, loopPar(spark, dir))
    core.groupBy("c").agg(count(lit(1)).as("n_vertices"), min("v").as("min_vertex"))
      .select(col("c").as("coreness"), col("n_vertices"), col("min_vertex"))
      .orderBy("coreness")
  }

  /** The h-index loop behind [[graphKcore]], exposed for GraphSpec:
    * returns (per-vertex (v, c) coreness values, iterations to the
    * freeze-confirming round). `edges` is an undirected (p1, p2) edge
    * list, one row per edge. */
  private[graft] def corenessValues(
      spark: SparkSession, edges: DataFrame,
      parIn: Int = -1): (DataFrame, Int) = {
    val corePar = if (parIn > 0) parIn else spark.sparkContext.defaultParallelism
    val sc = spark.sparkContext
    val sym = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    // The degree table is the initial value table. Its measure, taken
    // first (lazy: the same job materializes the blocks), gates the
    // loop and picks adj's layout: the value table keeps every vertex,
    // so its size is round-invariant.
    val init = Checkpoints.tracked(
      sym.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("v"), col("c")), eager = false)
    val start = countAndSum("c")(init._1)
    val nV = start._1
    // Broadcast path: adj on src, the key of the h-index window and
    // groupBy, so a round (adj ⋈ broadcast values on dst) runs with no
    // exchange. Degraded path: adj on dst, the state-join key — the
    // value table repartitions onto it and co-partitions, and only the
    // window's exchange on src remains.
    val (adj, adjIds) = Checkpoints.tracked(sym.repartition(corePar,
      col(if (SizeGate.fits(init._1, nV)) "src" else "dst")))
    val w = Window.partitionBy("src").orderBy(col("c").desc)
    val core = Fixpoint.run(sc, init, CoreMaxIter)(
      countAndSum("c"), Fixpoint.unchanged, Some(start)) {
      (r, cur) =>
        val nb = adj.join(SizeGate.hintIfSmall(cur, nV, col("v")),
          col("dst") === col("v"))
          .select(col("src"), col("c"))
          .withColumn("rn", row_number().over(w).cast("long"))
        r.checkpoint(
          nb.groupBy("src")
            .agg(max(when(col("c") >= col("rn"), col("rn")).otherwise(0L)).as("c"))
            .select(col("src").as("v"), col("c")))
    }
    Checkpoints.free(sc, adjIds)
    (core.state, core.rounds)
  }

  /** 2-hop reach — per vertex, the number of DISTINCT vertices within
    * ≤2 hops (the friend-of-friend audience size; top-20 by reach):
    * the influence/coverage metric next to degree (1-hop) and
    * pagerank (∞-hop). Distinct matters: a vertex reachable through
    * many shared neighbors counts once, so reach ≠ Σ neighbor
    * degrees — the wedge DISTINCT is the operator's actual work.
    *
    * Scale: the wedge join keys on the shared middle vertex, so a
    * hub's O(deg²) wedge stream is generated in one task — the
    * explicit (a, c) repartition immediately after the join (the
    * DedupOps banded-DP / triangle wedge-spread pattern) moves the
    * dedup work onto the pair space BEFORE the partial-aggregating
    * distinct, so no task owns a hub's whole neighborhood square. The
    * distinct then collapses map-side per (a, c) partition and the
    * per-vertex count is one more vertex-keyed partial agg. */
  def graph2hopReach(spark: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(spark, dir)
    val adj = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint() // feeds both wedge sides + the direct union
    val par = loopPar(spark, dir)
    val wedge = adj.select(col("dst").as("m"), col("src").as("a"))
      .join(adj.select(col("src").as("m"), col("dst").as("c")), "m")
      .filter(col("a") =!= col("c"))
      .select("a", "c")
      .repartition(par, col("a"), col("c"))
    val reach = wedge.unionByName(adj.select(col("src").as("a"), col("dst").as("c")))
      .distinct()
      .groupBy("a").agg(count(lit(1)).as("reach"))
    reach.select(col("a").as("p_partkey"), col("reach"))
      .orderBy(desc("reach"), col("p_partkey"))
      .limit(20)
  }

  /** Label-propagation round count — FIXED, not convergence-driven:
    * synchronous LPA has no monotone measure (bipartite regions can
    * 2-cycle forever), so unlike BFS/pagerank/kcore there is no
    * "identity past the freeze" contract to early-stop on. Both
    * engines run EXACTLY this many rounds — parity by identical
    * unroll. 8 rounds ≈ 2× the measured BFS eccentricity (3-4) of the
    * denser support-1 graph: labels cannot travel farther than the
    * diameter, so more rounds only re-vote settled regions. */
  private[graft] val LpaRounds = 8

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the support-≥2 co-purchase graph: every vertex
    * starts as its own label; each round it adopts the modal label of
    * its neighborhood INCLUDING ITSELF (the self-vote damps the
    * oscillation sync LPA is prone to), ties to the smallest label —
    * fully deterministic, no randomized tie coin. Report: top-20
    * communities by (size DESC, label), with member count and smallest
    * member.
    *
    * The remaining community-structure kernel next to components
    * (connectivity), kcore (density depth), and pagerank (centrality):
    * LPA splits a connected component into densely-voting regions.
    *
    * Scale: per round one edge⋈labels join (labels vertex-sized — AQE
    * broadcasts while small), one partial-aggregated (v, label) count
    * — a hot vertex's repeated votes collapse map-side — and one
    * per-vertex modal window over ≤deg distinct labels; lineage-cut
    * per round with superseded checkpoint blocks freed (the pagerank
    * bookkeeping). */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    labelPropagate(spark, supportEdges(spark, dir), LpaRounds,
        loopPar(spark, dir))
      .groupBy("lbl").agg(count(lit(1)).as("n_members"), min("v").as("min_vertex"))
      .select(col("lbl").as("community"), col("n_members"), col("min_vertex"))
      .orderBy(desc("n_members"), col("community"))
      .limit(20)
  }

  /** The fixed-round sync-LPA loop behind [[graphLabelProp]], exposed
    * for GraphSpec fixtures: (v, lbl) per vertex after `rounds`
    * self-vote-damped modal updates over the undirected (p1, p2)
    * edge list. */
  private[graft] def labelPropagate(
      spark: SparkSession, edges: DataFrame, rounds: Int,
      parIn: Int = -1): DataFrame = {
    val sc = spark.sparkContext
    val lpPar = if (parIn > 0) parIn else sc.defaultParallelism
    // dst-partitioned — the vote join's state key, so the gated large
    // path co-partitions (the kcore layout rationale).
    val (adj, adjIds) = Checkpoints.tracked(
      edges.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
        .repartition(lpPar, col("dst")))
    val init = Checkpoints.tracked(
      adj.select(col("src")).distinct().select(col("src").as("v"), col("src").as("lbl")),
      eager = false)
    // Round-invariant state size (every vertex keeps a label): one
    // upfront count — the lazy checkpoint's materializing action —
    // gates all rounds.
    val nV = init._1.count()
    val w = Window.partitionBy("src").orderBy(desc("n"), col("lbl"))
    // Fixed rounds, no measure: each round's checkpoint is eager.
    val lab = Fixpoint.run(sc, init, rounds)(_ => (), Fixpoint.never) {
      (r, lab) =>
        val votes = adj.join(SizeGate.hintIfSmall(lab, nV, col("v")),
          col("dst") === col("v"))
          .select(col("src"), col("lbl"))
          .unionByName(lab.select(col("v").as("src"), col("lbl")))
          .groupBy("src", "lbl").agg(count(lit(1)).as("n"))
        r.checkpoint(
          votes.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("src").as("v"), col("lbl")),
          eager = true)
    }
    Checkpoints.free(sc, adjIds)
    lab.state
  }

  val oracles: Map[String, String] = Map(
    "graph_bfs_layers" -> {
      val levels = (1 to BfsMaxIter).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT v, min(d) AS d FROM (
           |    SELECT v, d FROM d${i - 1}
           |    UNION ALL
           |    SELECT s.dst AS v, p.d + 1 AS d
           |    FROM d${i - 1} p JOIN sym s ON p.v = s.src) GROUP BY v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |       UNION ALL SELECT p2, p1 FROM pairs),
         |seed AS (
         |  SELECT src FROM (SELECT src, count(*) AS c FROM sym GROUP BY src)
         |  ORDER BY c DESC, src LIMIT 1),
         |d0 AS (SELECT CAST(src AS BIGINT) AS v, CAST(0 AS BIGINT) AS d FROM seed),
         |$levels
         |SELECT d, count(*) AS n_vertices, min(v) AS min_vertex
         |FROM d$BfsMaxIter GROUP BY d ORDER BY d""".stripMargin
    },
    // Two unrolled BFS chains (hub sweep, then the peripheral sweep
    // seeded at the first sweep's argmax) sharing graph_bfs_layers'
    // level text; both truncate at the same BfsMaxIter as Spark's cap.
    "graph_diameter" -> {
      def unroll(p: String): String = (1 to BfsMaxIter).map { i =>
        s"""$p$i AS MATERIALIZED (
           |  SELECT v, min(d) AS d FROM (
           |    SELECT v, d FROM $p${i - 1}
           |    UNION ALL
           |    SELECT s.dst AS v, q.d + 1 AS d
           |    FROM $p${i - 1} q JOIN sym s ON q.v = s.src) GROUP BY v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |       UNION ALL SELECT p2, p1 FROM pairs),
         |hub AS (
         |  SELECT src AS v FROM (SELECT src, count(*) AS c FROM sym GROUP BY src)
         |  ORDER BY c DESC, src LIMIT 1),
         |d0 AS (SELECT CAST(v AS BIGINT) AS v, CAST(0 AS BIGINT) AS d FROM hub),
         |${unroll("d")},
         |far1 AS (SELECT v FROM d$BfsMaxIter ORDER BY d DESC, v LIMIT 1),
         |e0 AS (SELECT CAST(v AS BIGINT) AS v, CAST(0 AS BIGINT) AS d FROM far1),
         |${unroll("e")}
         |SELECT hub.v AS hub_vertex,
         |  (SELECT max(d) FROM d$BfsMaxIter) AS hub_ecc,
         |  far1.v AS peripheral_vertex,
         |  (SELECT max(d) FROM e$BfsMaxIter) AS diameter_lb,
         |  (SELECT v FROM e$BfsMaxIter ORDER BY d DESC, v LIMIT 1) AS antipode_vertex,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$BfsMaxIter) AS n_reached
         |FROM hub CROSS JOIN far1""".stripMargin
    },
    "graph_betweenness" -> {
      val fwd = (1 to BfsMaxIter).map { i =>
        s"""cand$i AS (
           |  SELECT p.s, e.dst AS v, CAST($i AS BIGINT) AS d,
           |         CAST(sum(p.sig) AS BIGINT) AS sig
           |  FROM fr${i - 1} p JOIN sym e ON p.v = e.src GROUP BY 1, 2),
           |fr$i AS MATERIALIZED (
           |  SELECT c.* FROM cand$i c
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM st${i - 1} t WHERE t.s = c.s AND t.v = c.v)),
           |st$i AS MATERIALIZED (
           |  SELECT * FROM st${i - 1} UNION ALL SELECT * FROM fr$i)"""
          .stripMargin
      }.mkString(",\n")
      val bwd = (0 until BfsMaxIter).reverse.map { l =>
        s"""d$l AS MATERIALIZED (
           |  SELECT p.s, p.v, CAST(coalesce(x.sm, 0) AS BIGINT) AS dq
           |  FROM (SELECT s, v FROM st$BfsMaxIter WHERE d = $l) p
           |  LEFT JOIN (
           |    SELECT p2.s, p2.v,
           |      sum((CAST(p2.sig AS HUGEINT) * (1000000 + dn.dq)) // ch.sig)
           |        AS sm
           |    FROM (SELECT s, v, sig FROM st$BfsMaxIter WHERE d = $l) p2
           |    JOIN sym e ON p2.v = e.src
           |    JOIN (SELECT s, v, sig FROM st$BfsMaxIter WHERE d = ${l + 1}) ch
           |      ON ch.s = p2.s AND ch.v = e.dst
           |    JOIN d${l + 1} dn ON dn.s = ch.s AND dn.v = ch.v
           |    GROUP BY 1, 2) x ON x.s = p.s AND x.v = p.v)"""
          .stripMargin
      }.mkString(",\n")
      val allD = (0 to BfsMaxIter)
        .map(l => s"SELECT * FROM d$l").mkString(" UNION ALL ")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |       UNION ALL SELECT p2, p1 FROM pairs),
         |seeds AS (SELECT src FROM (SELECT DISTINCT src FROM sym)
         |          ORDER BY md5(CAST(src AS VARCHAR)), src
         |          LIMIT $BetweennessSeeds),
         |st0 AS MATERIALIZED (
         |  SELECT CAST(src AS BIGINT) AS s, CAST(src AS BIGINT) AS v,
         |         CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sig
         |  FROM seeds),
         |fr0 AS (SELECT * FROM st0),
         |$fwd,
         |d$BfsMaxIter AS MATERIALIZED (
         |  SELECT s, v, CAST(0 AS BIGINT) AS dq
         |  FROM st$BfsMaxIter WHERE d = $BfsMaxIter),
         |$bwd
         |SELECT v AS p_partkey, count(*) AS n_sources,
         |  round(CAST(sum(dq) AS DOUBLE) / 1000000.0, 4) + 0.0 AS betweenness
         |FROM ($allD) u
         |WHERE v <> s
         |GROUP BY v
         |ORDER BY betweenness DESC, p_partkey LIMIT 20""".stripMargin
    },
    "graph_closeness" -> {
      val levels = (1 to BfsMaxIter).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT s, v, min(d) AS d FROM (
           |    SELECT s, v, d FROM d${i - 1}
           |    UNION ALL
           |    SELECT p.s, e.dst AS v, p.d + 1 AS d
           |    FROM d${i - 1} p JOIN sym e ON p.v = e.src) GROUP BY s, v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |       UNION ALL SELECT p2, p1 FROM pairs),
         |verts AS MATERIALIZED (SELECT DISTINCT src FROM sym),
         |nn AS (SELECT count(*) AS n FROM verts),
         |seeds AS (SELECT src FROM verts
         |          ORDER BY md5(CAST(src AS VARCHAR)), src
         |          LIMIT $ClosenessSeeds),
         |d0 AS (SELECT CAST(src AS BIGINT) AS s, CAST(src AS BIGINT) AS v,
         |              CAST(0 AS BIGINT) AS d FROM seeds),
         |$levels
         |SELECT s AS seed, count(*) AS reached,
         |  CAST(sum(d) AS BIGINT) AS sum_dist,
         |  round(CAST((count(*) - 1) * (count(*) - 1) AS DOUBLE) /
         |        CAST((max(nn.n) - 1) * sum(d) AS DOUBLE), 6) + 0.0
         |    AS closeness
         |FROM d$BfsMaxIter CROSS JOIN nn
         |GROUP BY s ORDER BY seed""".stripMargin
    },
    "graph_degree_dist" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS (SELECT p1 AS src, p2 AS dst FROM edges
        |        UNION ALL SELECT p2, p1 FROM edges),
        |deg AS (SELECT src, count(*) AS degree FROM adj GROUP BY src)
        |SELECT degree, count(*) AS n_vertices
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    "graph_clustering_coeff" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS (SELECT p1 AS src, p2 AS dst FROM edges
        |        UNION ALL SELECT p2, p1 FROM edges),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM edges e1
        |  JOIN edges e2 ON e1.p2 = e2.p1
        |  JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
        |SELECT t AS n_triangles, n_wedges,
        |  CAST(3 * t AS DOUBLE) / n_wedges AS clustering_coeff
        |FROM tri CROSS JOIN w""".stripMargin,
    "graph_assortativity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS (SELECT p1 AS src, p2 AS dst FROM edges
        |        UNION ALL SELECT p2, p1 FROM edges),
        |deg AS (SELECT src, count(*) AS d FROM adj GROUP BY src),
        |e AS (
        |  SELECT dj.d AS j, dk.d AS k
        |  FROM adj JOIN deg dj ON adj.src = dj.src
        |           JOIN deg dk ON adj.dst = dk.src),
        |s AS (
        |  SELECT count(*) AS se,
        |    sum(CAST(j AS HUGEINT)) AS sj,
        |    sum(CAST(j AS HUGEINT) * j) AS sj2,
        |    sum(CAST(j AS HUGEINT) * k) AS sjk
        |  FROM e),
        |v AS (SELECT count(*) AS n_vertices FROM deg)
        |SELECT CAST(n_vertices AS BIGINT) AS n_vertices,
        |  CAST(se // 2 AS BIGINT) AS n_edges,
        |  CAST(CAST(se AS HUGEINT) * sjk - sj * sj AS DOUBLE) /
        |    CAST(CAST(se AS HUGEINT) * sj2 - sj * sj AS DOUBLE) AS assortativity
        |FROM s CROSS JOIN v""".stripMargin,
    "graph_jaccard" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS (SELECT p1 AS src, p2 AS dst FROM edges
        |        UNION ALL SELECT p2, p1 FROM edges),
        |deg AS (SELECT src, count(*) AS d FROM adj GROUP BY src),
        |com AS (
        |  SELECT e1.dst AS a, e2.dst AS c, count(*) AS common
        |  FROM adj e1 JOIN adj e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY 1, 2)
        |SELECT com.a AS p1, com.c AS p2, common, da.d AS deg1, dc.d AS deg2,
        |  round(common * 1.0 / (da.d + dc.d - common), 4) AS jaccard
        |FROM com JOIN deg da ON com.a = da.src JOIN deg dc ON com.c = dc.src
        |ORDER BY jaccard DESC, p1, p2 LIMIT 20""".stripMargin,
    "graph_adamic_adar" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM edges
        |       UNION ALL SELECT p2, p1 FROM edges),
        |degw AS (
        |  SELECT src,
        |    CAST(round(1000000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
        |      AS wq
        |  FROM adj GROUP BY src HAVING count(*) >= 2),
        |com AS (
        |  SELECT e1.dst AS a, e2.dst AS c,
        |    sum(w.wq::HUGEINT) AS sq, count(*) AS common
        |  FROM adj e1
        |  JOIN adj e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  JOIN degw w ON w.src = e1.src
        |  GROUP BY 1, 2)
        |SELECT com.a AS p1, com.c AS p2, common,
        |  round(CAST(sq AS DOUBLE) / 1000000000.0, 4) + 0.0 AS aa_score
        |FROM com
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM edges e WHERE e.p1 = com.a AND e.p2 = com.c)
        |ORDER BY aa_score DESC, p1, p2 LIMIT 20""".stripMargin,
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |tri AS (
        |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e1.p2 = e2.p1
        |  JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |vx AS (SELECT unnest([a, b, c]) AS p_partkey FROM tri)
        |SELECT p_partkey, count(*) AS n_triangles
        |FROM vx GROUP BY 1
        |ORDER BY n_triangles DESC, p_partkey LIMIT 20""".stripMargin,
    "graph_2hop_reach" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
        |adj AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM edges
        |       UNION ALL SELECT p2, p1 FROM edges),
        |hop2 AS (
        |  SELECT DISTINCT a, c FROM (
        |    SELECT x.src AS a, y.dst AS c
        |    FROM adj x JOIN adj y ON x.dst = y.src WHERE x.src <> y.dst
        |    UNION ALL
        |    SELECT src AS a, dst AS c FROM adj))
        |SELECT a AS p_partkey, count(*) AS reach
        |FROM hop2 GROUP BY a ORDER BY reach DESC, p_partkey LIMIT 20""".stripMargin,
    "graph_label_prop" -> {
      // Identical fixed unroll — no early stop on either side (sync
      // LPA has no monotone freeze measure; see LpaRounds).
      val levels = (1 to LpaRounds).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT src AS v, lbl FROM (
           |    SELECT src, lbl, row_number() OVER
           |      (PARTITION BY src ORDER BY n DESC, lbl) AS rn
           |    FROM (SELECT src, lbl, count(*) AS n FROM (
           |            SELECT a.src, b.lbl FROM adj a JOIN l${i - 1} b ON a.dst = b.v
           |            UNION ALL SELECT v AS src, lbl FROM l${i - 1})
           |          GROUP BY src, lbl)) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
         |adj AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM edges
         |       UNION ALL SELECT p2, p1 FROM edges),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM adj),
         |$levels
         |SELECT lbl AS community, count(*) AS n_members, min(v) AS min_vertex
         |FROM l$LpaRounds GROUP BY lbl
         |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
    },
    "graph_modularity" -> {
      // Reuses the graph_label_prop unroll verbatim upstream, then
      // scores the final labels.
      val levels = (1 to LpaRounds).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT src AS v, lbl FROM (
           |    SELECT src, lbl, row_number() OVER
           |      (PARTITION BY src ORDER BY n DESC, lbl) AS rn
           |    FROM (SELECT src, lbl, count(*) AS n FROM (
           |            SELECT a.src, b.lbl FROM adj a JOIN l${i - 1} b ON a.dst = b.v
           |            UNION ALL SELECT v AS src, lbl FROM l${i - 1})
           |          GROUP BY src, lbl)) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |edges AS MATERIALIZED (SELECT p1, p2 FROM pairs WHERE support >= 2),
         |adj AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM edges
         |       UNION ALL SELECT p2, p1 FROM edges),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM adj),
         |$levels,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS mm FROM edges),
         |we AS (
         |  SELECT la.lbl AS c, CAST(count(*) AS BIGINT) AS mc
         |  FROM edges e
         |  JOIN l$LpaRounds la ON e.p1 = la.v
         |  JOIN l$LpaRounds lb ON e.p2 = lb.v
         |  WHERE la.lbl = lb.lbl GROUP BY 1),
         |dg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
         |       FROM adj GROUP BY 1),
         |dc AS (SELECT l.lbl AS c, CAST(sum(d) AS BIGINT) AS dsum
         |       FROM l$LpaRounds l JOIN dg ON dg.v = l.v GROUP BY 1),
         |terms AS (
         |  SELECT CAST(round((
         |      CAST(coalesce(mc, 0) AS DOUBLE) / mm
         |      - (CAST(dsum AS DOUBLE) / (2 * mm)) * (CAST(dsum AS DOUBLE) / (2 * mm))
         |    ) * 1000000000) AS BIGINT) AS tq
         |  FROM dc LEFT JOIN we ON we.c = dc.c CROSS JOIN m)
         |SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |  round(CAST(sum(tq::HUGEINT) AS DOUBLE) / 1000000000.0, 4) + 0.0
         |    AS modularity
         |FROM terms""".stripMargin
    },
    "graph_kcore" -> {
      // Fixed CoreMaxIter-level unroll of the h-index iteration; the
      // Spark side stops at the (count, Σc) freeze, past which each
      // round is the identity — same contract as graph_bfs_layers /
      // graph_pagerank. MATERIALIZED is load-bearing at depth 24.
      val levels = (1 to CoreMaxIter).map { i =>
        s"""v$i AS MATERIALIZED (
           |  SELECT src AS v, max(CASE WHEN c >= rn THEN rn ELSE 0 END) AS c
           |  FROM (SELECT a.src, b.c,
           |          row_number() OVER (PARTITION BY a.src ORDER BY b.c DESC) AS rn
           |        FROM adj a JOIN v${i - 1} b ON a.dst = b.v)
           |  GROUP BY src)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2),
         |adj AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM edges
         |       UNION ALL SELECT p2, p1 FROM edges),
         |v0 AS MATERIALIZED (SELECT src AS v, count(*) AS c FROM adj GROUP BY src),
         |$levels
         |SELECT c AS coreness, count(*) AS n_vertices, min(v) AS min_vertex
         |FROM v$CoreMaxIter GROUP BY c ORDER BY c""".stripMargin
    },
    "graph_pagerank" -> {
      // Scale / the cap / the freeze denominator are interpolated,
      // never hard-coded: a bump to a Scala constant must not silently
      // diverge the oracle. The unroll is a FIXED PrMaxIter iterations
      // (Spark stops at the global-freeze fixpoint, past which each
      // further iteration is the identity — see graphPagerank's
      // scaladoc); MATERIALIZED is load-bearing at this depth (plain
      // CTEs inline and optimizer work compounds per level — the
      // kmeans m=12 oracle took 77 s un-materialized).
      def iter(i: Int): String = {
        val (prev, cN, rN) = (s"r${i - 1}", s"c$i", s"r$i")
        s"""$cN AS MATERIALIZED (SELECT e.dst, sum($prev.r // od.outdeg) AS m
           |  FROM e JOIN od USING (src) JOIN $prev ON $prev.v = e.src
           |  GROUP BY e.dst),
           |$rN AS MATERIALIZED (SELECT p.v, p.n,
           |    CASE WHEN abs(($Scale * 15) // (100 * p.n)
           |                    + (coalesce($cN.m, 0) * 85) // 100 - p.r)
           |                  * $PrFreezeDenom <= p.r
           |         THEN p.r
           |         ELSE ($Scale * 15) // (100 * p.n)
           |                + (coalesce($cN.m, 0) * 85) // 100 END AS r
           |  FROM $prev p LEFT JOIN $cN ON $cN.dst = p.v)""".stripMargin
      }
      s"""WITH p AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cv, l.l_suppkey * 2 + 1 AS sv
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS MATERIALIZED (SELECT cv AS src, sv AS dst FROM p
         |      UNION ALL SELECT sv AS src, cv AS dst FROM p),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |vi AS (SELECT c_custkey * 2 AS v FROM customer
         |       UNION ALL SELECT s_suppkey * 2 + 1 AS v FROM supplier),
         |nn AS (SELECT count(*) AS n FROM vi),
         |tot AS (SELECT sum(outdeg) AS t FROM od),
         |r0 AS MATERIALIZED (
         |  SELECT vi.v, nn.n,
         |    ($Scale * 15) // (100 * nn.n)
         |      + (85 * $Scale * coalesce(od.outdeg, 0)) // (100 * tot.t) AS r
         |  FROM vi CROSS JOIN nn CROSS JOIN tot LEFT JOIN od ON od.src = vi.v),
         |${(1 to PrMaxIter).map(iter).mkString(",\n")}
         |SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CAST(v // 2 AS BIGINT) AS key,
         |  CAST(r AS BIGINT) AS rank_units
         |FROM r$PrMaxIter
         |ORDER BY rank_units DESC, kind, key LIMIT 20""".stripMargin
    },
    "graph_walk_corpus" -> {
      // Same md5-digit draw as the mix_* oracles, on the vertex-id ∥
      // '_' ∥ step string the Spark side hashes.
      def draw(i: Int): String = (1 to 6)
        .map(j => s"(strpos('0123456789abcdef', substr(md5(CAST(v0 AS VARCHAR) || '_$i'), $j, 1)) - 1) * ${1L << (4 * (6 - j))}")
        .mkString("(", " + ", ")")
      def step(i: Int): String =
        s"""s$i AS MATERIALIZED (
           |  SELECT v0, path || '-' || CAST(dst AS VARCHAR) AS path, dst AS v
           |  FROM s${i - 1} JOIN radj ON radj.src = s${i - 1}.v
           |  WHERE rank = ${draw(i)} % deg)""".stripMargin
      s"""WITH p AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cv, l.l_suppkey * 2 + 1 AS sv
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |adj AS (SELECT cv AS src, sv AS dst FROM p
         |        UNION ALL SELECT sv AS src, cv AS dst FROM p),
         |radj AS MATERIALIZED (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rank,
         |    count(*) OVER (PARTITION BY src) AS deg
         |  FROM adj),
         |starts AS (
         |  SELECT c_custkey * 2 AS v0 FROM customer
         |  ORDER BY md5(CAST(c_custkey * 2 AS VARCHAR)), 1 LIMIT 50),
         |s0 AS (SELECT v0, CAST(v0 AS VARCHAR) AS path, v0 AS v FROM starts),
         |${(1 to WalkLen).map(step).mkString(",\n")}
         |SELECT v0 AS start_v, path FROM s$WalkLen ORDER BY start_v""".stripMargin
    },
    "graph_hits" -> {
      // The pagerank unroll pattern with HITS's two half-steps per
      // iteration; every candidate expression is interpolated TWICE
      // (band test + else branch), exactly like the pagerank oracle.
      def aCand(ar: String) =
        s"""CASE WHEN tt.tt IS NULL OR tt.tt = 0 THEN CAST(0 AS BIGINT)
           | ELSE (coalesce($ar.m, 0)::HUGEINT * $Scale) // tt.tt END""".stripMargin
      def iter(i: Int): String = {
        val (hp, ap) = (s"h${i - 1}", s"a${i - 1}")
        val (ar, at, aN, hr, ht, hN) =
          (s"ar$i", s"at$i", s"a$i", s"hr$i", s"ht$i", s"h$i")
        s"""$ar AS MATERIALIZED (
           |  SELECT p.sv, sum($hp.h) AS m FROM p JOIN $hp USING (cv) GROUP BY 1),
           |$at AS (SELECT sum(m) AS tt FROM $ar),
           |$aN AS MATERIALIZED (
           |  SELECT ax.sv,
           |    CASE WHEN abs(${aCand(ar)} - ax.a) * $PrFreezeDenom <= ax.a
           |         THEN ax.a ELSE ${aCand(ar)} END AS a
           |  FROM $ap ax CROSS JOIN $at tt LEFT JOIN $ar ON $ar.sv = ax.sv),
           |$hr AS MATERIALIZED (
           |  SELECT p.cv, sum($aN.a) AS m FROM p JOIN $aN USING (sv) GROUP BY 1),
           |$ht AS (SELECT sum(m) AS tt FROM $hr),
           |$hN AS MATERIALIZED (
           |  SELECT hx.cv,
           |    CASE WHEN abs(${aCand(hr)} - hx.h) * $PrFreezeDenom <= hx.h
           |         THEN hx.h ELSE ${aCand(hr)} END AS h
           |  FROM $hp hx CROSS JOIN $ht tt LEFT JOIN $hr ON $hr.cv = hx.cv)"""
          .stripMargin
      }
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS cv, l.l_suppkey AS sv
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |dg AS MATERIALIZED (SELECT cv, count(*) AS dg FROM p GROUP BY 1),
         |td AS (SELECT sum(dg) AS td FROM dg),
         |h0 AS MATERIALIZED (
         |  SELECT c.c_custkey AS cv,
         |    CAST(($Scale * coalesce(dg.dg, 0)) // td.td AS BIGINT) AS h
         |  FROM customer c CROSS JOIN td LEFT JOIN dg ON dg.cv = c.c_custkey),
         |a0 AS MATERIALIZED (
         |  SELECT s_suppkey AS sv, CAST(0 AS BIGINT) AS a FROM supplier),
         |${(1 to HitsMaxIter).map(iter).mkString(",\n")}
         |SELECT * FROM (
         |  (SELECT 'authority' AS kind, CAST(sv AS BIGINT) AS key,
         |     CAST(a AS BIGINT) AS score_units
         |   FROM a$HitsMaxIter ORDER BY a DESC, sv LIMIT 10)
         |  UNION ALL
         |  (SELECT 'hub' AS kind, CAST(cv AS BIGINT) AS key,
         |     CAST(h AS BIGINT) AS score_units
         |   FROM h$HitsMaxIter ORDER BY h DESC, cv LIMIT 10))
         |ORDER BY kind, score_units DESC, key""".stripMargin
    },
    "graph_ppr" -> {
      // Same edge/degree CTEs and freeze-band update as graph_pagerank;
      // the ONLY semantic change is where teleport mass lands (the
      // NATION_7 customer seed set) and the personalization-vector
      // init. Fixed PrMaxIter unroll == Spark's early-stopped loop
      // (past-fixpoint iterations are the identity).
      def iter(i: Int): String = {
        val (prev, cN, rN) = (s"r${i - 1}", s"c$i", s"r$i")
        s"""$cN AS MATERIALIZED (SELECT e.dst, sum($prev.r // od.outdeg) AS m
           |  FROM e JOIN od USING (src) JOIN $prev ON $prev.v = e.src
           |  GROUP BY e.dst),
           |$rN AS MATERIALIZED (SELECT p.v, p.is_seed, p.ns,
           |    CASE WHEN abs(CASE WHEN p.is_seed = 1
           |                       THEN ($Scale * 15) // (100 * p.ns) ELSE 0 END
           |                    + (coalesce($cN.m, 0) * 85) // 100 - p.r)
           |                  * $PrFreezeDenom <= p.r
           |         THEN p.r
           |         ELSE CASE WHEN p.is_seed = 1
           |                   THEN ($Scale * 15) // (100 * p.ns) ELSE 0 END
           |                + (coalesce($cN.m, 0) * 85) // 100 END AS r
           |  FROM $prev p LEFT JOIN $cN ON $cN.dst = p.v)""".stripMargin
      }
      s"""WITH p AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cv, l.l_suppkey * 2 + 1 AS sv
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS MATERIALIZED (SELECT cv AS src, sv AS dst FROM p
         |      UNION ALL SELECT sv AS src, cv AS dst FROM p),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |vi AS (SELECT c_custkey * 2 AS v FROM customer
         |       UNION ALL SELECT s_suppkey * 2 + 1 AS v FROM supplier),
         |seeds AS (SELECT c_custkey * 2 AS v FROM customer
         |          WHERE c_nationkey = $PprSeedNation),
         |sn AS (SELECT count(*) AS ns FROM seeds),
         |r0 AS MATERIALIZED (
         |  SELECT vi.v,
         |    CASE WHEN s.v IS NOT NULL THEN 1 ELSE 0 END AS is_seed, sn.ns,
         |    CASE WHEN s.v IS NOT NULL THEN $Scale // sn.ns ELSE 0 END AS r
         |  FROM vi CROSS JOIN sn LEFT JOIN seeds s ON s.v = vi.v),
         |${(1 to PrMaxIter).map(iter).mkString(",\n")}
         |SELECT CAST(v // 2 AS BIGINT) AS s_suppkey,
         |  CAST(r AS BIGINT) AS rank_units
         |FROM r$PrMaxIter
         |WHERE v % 2 = 1
         |ORDER BY rank_units DESC, s_suppkey LIMIT 20""".stripMargin
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (graphPagerank(_, _)),
    "graph_ppr" -> (graphPpr(_, _)),
    "graph_hits" -> (graphHits(_, _)),
    "graph_walk_corpus" -> (graphWalkCorpus(_, _)),
    "graph_triangles" -> (graphTriangles(_, _)),
    "graph_jaccard" -> (graphJaccard(_, _)),
    "graph_adamic_adar" -> (graphAdamicAdar(_, _)),
    "graph_degree_dist" -> (graphDegreeDist(_, _)),
    "graph_assortativity" -> (graphAssortativity(_, _)),
    "graph_clustering_coeff" -> (graphClusteringCoeff(_, _)),
    "graph_bfs_layers" -> (graphBfsLayers(_, _)),
    "graph_diameter" -> (graphDiameter(_, _)),
    "graph_closeness" -> (graphCloseness(_, _)),
    "graph_betweenness" -> (graphBetweenness(_, _)),
    "graph_kcore" -> (graphKcore(_, _)),
    "graph_label_prop" -> (graphLabelProp(_, _)),
    "graph_modularity" -> (graphModularity(_, _)),
    "graph_2hop_reach" -> (graph2hopReach(_, _)),
  )
}
