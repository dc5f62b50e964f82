package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Iterative-graph-kernel evidence (SURVEY §2.10): pagerank's
  * convergence contract and the triangle wedge-join balance. */
class GraphSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("pagerank reaches the global-freeze fixpoint before the unroll cap") {
    // The cap is the oracle-mirroring bound, not the expected exit
    // (the kmeansLoop pattern): Spark must stop at the hysteresis
    // fixpoint — delta == 0 exactly — with room to spare, or the
    // early-stop == full-unroll equivalence is running on luck.
    val (ranks, iters) = GraphOps.pagerankRanks(spark, sf)
    info(s"pagerank froze after $iters iterations (cap ${GraphOps.PrMaxIter})")
    assert(iters > 1, "loop exited without iterating")
    assert(iters < GraphOps.PrMaxIter,
      s"no global freeze within ${GraphOps.PrMaxIter} iterations")
    // And the frozen state is a true fixpoint of the map: every rank
    // sits inside its 1% band (rp == r after the last application).
    val moved = ranks.filter(org.apache.spark.sql.functions.expr("r <> rp")).count()
    assert(moved == 0, s"$moved vertices still moving at exit")
  }

  test("triangle wedge join spreads a hub's wedges instead of pinning one task") {
    import spark.implicits._
    // Hub fixture: vertex 100 with 60 in-edges and 60 out-edges under
    // the a<b<c orientation → all 3600 wedges share b=100, i.e. the
    // wedge join materializes them in the ONE task owning hash(100).
    val edges = ((1 to 60).map(i => (i.toLong, 100L)) ++
      (101 to 160).map(i => (100L, i.toLong)) ++
      (1 to 60).map(a => (a.toLong, 101L))).toDF("p1", "p2")
    val w = GraphOps.wedges(edges)
    val plan = w.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(a#\\d+L?, c#\\d+L?".r.findFirstIn(plan).isDefined,
      s"no (a, c) spread exchange in the wedge plan:\n$plan")
    val sizes = w.rdd.mapPartitions(it => Iterator(it.size)).collect()
    val (total, mx) = (sizes.sum, sizes.max)
    info(s"wedge partitions: total=$total max=$mx over ${sizes.length} partitions")
    assert(total == 3600, s"fixture produced $total wedges, expected 3600")
    // Un-spread, one partition holds ALL wedges; spread by (a, c) the
    // hub's set distributes ~uniformly (60×60 distinct keys).
    assert(mx.toDouble <= 2.0 * total / sizes.length,
      s"hot partition $mx exceeds 2x the uniform share of $total/${sizes.length}")
    // And the closure still counts the right triangles: (a, 100, 101)
    // for every leaf a — 60 triangles, all through the hub.
    val counts = GraphOps.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(100L) == 60 && counts(101L) == 60,
      s"hub participation wrong: $counts")
  }

  test("coreness h-index freezes before the cap and satisfies the k-core property") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Fixture with known core structure: a 5-clique (coreness 4), a
    // 4-cycle hanging off it (coreness 2), and a pendant chain
    // (coreness 1). Brute-force peeling gives the expected values.
    val clique = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val cycle = Seq((5L, 10L), (10L, 11L), (11L, 12L), (12L, 5L))
    val chain = Seq((12L, 20L), (20L, 21L))
    val edges = (clique ++ cycle ++ chain).toDF("p1", "p2")
    val (core, iters) = GraphOps.corenessValues(spark, edges)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    info(s"coreness froze after $iters iterations (cap ${GraphOps.CoreMaxIter}): $got")
    assert(iters < GraphOps.CoreMaxIter, "no freeze within the cap")
    val expected = Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L,
      10L -> 2L, 11L -> 2L, 12L -> 2L, 20L -> 1L, 21L -> 1L)
    assert(got == expected, s"coreness mismatch: got $got")
    // And on the real corpus: the freeze must confirm inside the cap
    // (the oracle's fixed unroll is only equivalent past a true
    // fixpoint).
    val corpus = GraphOps.supportEdges(spark, sf)
    val (_, corpusIters) = GraphOps.corenessValues(spark, corpus)
    info(s"corpus coreness froze after $corpusIters (cap ${GraphOps.CoreMaxIter})")
    assert(corpusIters < GraphOps.CoreMaxIter)
  }

  test("degenerate graphs: no edges, one edge, a BFS with no seed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The (count, Σ) freeze measure of an empty state is (0, 0), not a
    // null sum.
    val none = Seq.empty[(Long, Long)].toDF("p1", "p2")
    val (empty, _) = GraphOps.corenessValues(spark, none)
    assert(empty.count() == 0L)
    val (one, _) = GraphOps.corenessValues(spark, Seq((3L, 8L)).toDF("p1", "p2"))
    assert(one.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 1L, 8L -> 1L))
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val noSeed = Seq.empty[Long].toDF("v")
    assert(GraphOps.bfsSweep(spark.sparkContext, sym, noSeed, Nil, 0L).count() == 0L)
    val seeded = GraphOps.bfsSweep(spark.sparkContext, sym, Seq(1L).toDF("v"), Nil, 1L)
    assert(seeded.select(col("v"), col("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 0L, 2L -> 1L))
  }

  test("label propagation separates two cliques joined by a bridge") {
    import spark.implicits._
    // Two 5-cliques {1..5} and {11..15} with a single bridge 5-11:
    // LPA must converge each clique to one community and must NOT
    // merge them across the bridge.
    def cliqueEdges(vs: Seq[Long]) =
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j))
    val edges = (cliqueEdges(1L to 5L) ++ cliqueEdges(11L to 15L) ++ Seq((5L, 11L)))
      .toDF("p1", "p2")
    val lab = GraphOps.labelPropagate(spark, edges, GraphOps.LpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = (1L to 5L).map(lab).toSet
    val c2 = (11L to 15L).map(lab).toSet
    info(s"labels: $lab")
    assert(c1.size == 1, s"clique 1 not converged: $c1")
    assert(c2.size == 1, s"clique 2 not converged: $c2")
    assert(c1 != c2, "bridge merged the two cliques")
  }

  test("bfs frontier freezes before the unroll cap and layers are a partition") {
    val layers = GraphOps.graphBfsLayers(spark, sf).collect()
    // Convergence room: the deepest layer index must sit strictly
    // inside the cap minus the one confirming round, or the
    // early-stop == fixed-unroll equivalence is running on luck.
    val maxD = layers.map(_.getLong(0)).max
    info(s"bfs layers: ${layers.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")}")
    assert(maxD + 1 < GraphOps.BfsMaxIter,
      s"deepest layer $maxD leaves no freeze headroom under cap ${GraphOps.BfsMaxIter}")
    // Layer 0 is exactly the seed.
    assert(layers.find(_.getLong(0) == 0L).exists(_.getLong(1) == 1L))
    // Layers partition the reached set: distances are consecutive.
    assert(layers.map(_.getLong(0)).sorted.sameElements(0L to maxD))
  }

  test("HITS freezes before the cap; vectors stay normalized within truncation") {
    val (hub, auth, iters) = GraphOps.hitsScores(spark, sf)
    info(s"HITS froze after $iters iterations (cap ${GraphOps.HitsMaxIter})")
    assert(iters < GraphOps.HitsMaxIter,
      s"no early stop: $iters == cap — the oracle-unroll equivalence needs a real fixpoint")
    // each normalized vector sums to Scale minus truncation (< 1 unit
    // per vertex) — the rescale did its job
    import org.apache.spark.sql.functions._
    val sumA = auth.agg(sum("a")).first().getLong(0)
    val sumH = hub.agg(sum("h")).first().getLong(0)
    val nA = auth.count(); val nH = hub.count()
    val scale = 1000000000000L
    // freeze-band hysteresis holds each coordinate within 1% of its
    // exact normalized value, so the totals sit within band + truncation
    val tolA = nA + scale / 100; val tolH = nH + scale / 100
    assert(sumA <= scale && sumA >= scale - tolA, s"sum(a)=$sumA n=$nA")
    assert(sumH <= scale && sumH >= scale - tolH, s"sum(h)=$sumH n=$nH")
    val top = GraphOps.graphHits(spark, sf).collect()
    assert(top.length == 20 && top.forall(_.getLong(2) > 0))
  }

  test("Brandes betweenness is exact on an analytic path-graph fixture") {
    // Path 1—2—3—4—5 with EVERY vertex as a source makes the sampled
    // estimator exact, and the closed form is hand-checkable:
    // Σ_s δ_s(v) = 0/6/8/6/0 (ordered-pair dependency; σ ≡ 1 keeps
    // the micro-unit quantization lossless). Verifies the two-phase
    // kernel against analysis, independently of the DuckDB mirror.
    import org.apache.spark.sql.functions.col
    val session = spark
    import session.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("p1", "p2")
    val sym = edges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(edges.select(col("p2").as("src"), col("p1").as("dst")))
    val seeds = sym.select(col("src")).distinct()
    val out = GraphOps.betweennessFrom(spark, sym, seeds)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0),
      s"got $out")
  }

  test("dedup_mis keep-set is independent AND maximal on the near-dup graph") {
    import org.apache.spark.sql.functions._
    // Independence: no near-dup edge joins two kept vectors (the whole
    // point of the keep-policy). Maximality: every dropped contested
    // vertex has a kept neighbor — which also PROVES the Luby loop
    // reached its fixpoint inside the round cap (a capped-out run
    // would leave an active vertex with no kept neighbor).
    val kept = operators.DedupOps.dedupMis(spark, sf).localCheckpoint()
    val pairs = operators.DedupOps.dedupEmbedding(spark, sf)
      .select("id1", "id2").localCheckpoint()
    val keptIds = kept.select(col("vec_id").as("id"))
    val bothKept = pairs
      .join(keptIds.withColumnRenamed("id", "id1"), "id1")
      .join(keptIds.withColumnRenamed("id", "id2"), "id2")
      .count()
    assert(bothKept == 0, s"$bothKept near-dup edges between kept vectors")
    val contested = pairs.select(col("id1").as("id"))
      .unionByName(pairs.select(col("id2").as("id"))).distinct()
    val dropped = contested.join(keptIds, Seq("id"), "left_anti")
    val edges = pairs.unionByName(
      pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val covered = dropped
      .join(edges.withColumnRenamed("id1", "id"), Seq("id"))
      .join(keptIds.withColumnRenamed("id", "id2"), Seq("id2"))
      .select("id").distinct()
    val nDropped = dropped.count()
    val nCovered = covered.count()
    info(s"contested=${contested.count()} dropped=$nDropped covered=$nCovered")
    assert(nDropped > 0, "fixture has no near-dup conflicts — test is vacuous")
    assert(nCovered == nDropped,
      s"${nDropped - nCovered} dropped vertices have NO kept neighbor " +
        "(not maximal — Luby hit the round cap before the fixpoint)")
  }

  test("min-label components match GraphX's independent implementation exactly") {
    // GraphX ships in the Spark distribution and labels each component
    // by its lowest vertex id — the same contract as our min-label
    // loop — so the two must agree vertex-for-vertex. This is the
    // /usr/bin/tar move applied to an iterative kernel: an independent
    // implementation catches the bug class both our engine sides could
    // share (the oracle mirrors our own definition; GraphX does not).
    import org.apache.spark.graphx.{Edge, Graph}
    val pairs = graft.operators.DedupOps.dedupEmbedding(spark, sf)
      .select("id1", "id2").localCheckpoint()
    val ours = graft.operators.DedupOps.minLabelComponents(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edgeRdd = spark.sparkContext.parallelize(
      pairs.collect().map(r => Edge(r.getLong(0), r.getLong(1), 1)).toSeq)
    val theirs = Graph.fromEdges(edgeRdd, 0)
      .connectedComponents().vertices.collect()
      .map { case (v, c) => v -> c }.toMap
    assert(ours.keySet == theirs.keySet,
      s"vertex domains differ: ${(ours.keySet -- theirs.keySet).take(5)} / " +
        s"${(theirs.keySet -- ours.keySet).take(5)}")
    val diverged = ours.filter { case (v, l) => theirs(v) != l }
    assert(diverged.isEmpty,
      s"${diverged.size} vertices labeled differently, e.g. ${diverged.take(3)}")
    // Non-vacuous: multiple components, at least one with 2+ members.
    val sizes = ours.groupBy(_._2).map(_._2.size)
    assert(ours.nonEmpty && sizes.exists(_ >= 2),
      s"fixture degenerate: ${ours.size} vertices, max comp ${if (sizes.isEmpty) 0 else sizes.max}")
  }

  test("diameter double sweep: bound dominates the hub eccentricity, metric sanity") {
    val r = GraphOps.graphDiameter(spark, sf).collect().head
    val hubEcc = r.getAs[Long]("hub_ecc")
    val diamLb = r.getAs[Long]("diameter_lb")
    val reached = r.getAs[Long]("n_reached")
    // The whole point of the second sweep: starting from the periphery
    // can only grow the eccentricity. And any eccentricity is within
    // 2x of any other vertex's in the same component (triangle
    // inequality through that vertex).
    assert(diamLb >= hubEcc, s"sweep 2 shrank the bound: $diamLb < $hubEcc")
    assert(diamLb <= 2 * hubEcc, s"metric violation: $diamLb > 2*$hubEcc")
    assert(hubEcc >= 1 && reached > 1, s"degenerate graph: ecc=$hubEcc reached=$reached")
    assert(r.getAs[Long]("peripheral_vertex") != r.getAs[Long]("hub_vertex")
      || hubEcc == 0, "periphery collapsed onto the hub")
  }

  // ---- SizeGate: the r6-verdict #1 contract. The broadcast hints on
  // vertex-sized loop state are size-GATED, not hard-coded: under the
  // row cap the state broadcasts (the measured-fast small path); past
  // it the loop degrades by construction to co-partitioned shuffles.
  // These tests force the cap to 0 to drive the degraded path on
  // fixture graphs and prove (a) it plans ZERO BroadcastExchange,
  // (b) results are bit-identical to the hinted path.

  /** Run `body` with the broadcast row cap forced to `cap`. */
  private def withRowCap[T](cap: Long)(body: => T): T = {
    spark.conf.set(graft.plans.SizeGate.CapConf, cap.toString)
    try body finally spark.conf.unset(graft.plans.SizeGate.CapConf)
  }

  /** Run `body` with the planner's OWN auto-broadcast off. On fixture
    * graphs the post-checkpoint state carries small stat estimates, so
    * the planner statically broadcasts it regardless of our hint —
    * legitimate (and exactly what would NOT happen at vertex-scale
    * stats), but it would mask what these tests must prove: that the
    * gate stops FORCING a broadcast. With the threshold at -1, any
    * BroadcastExchange in a captured plan can only come from the
    * hint. */
  private def withNoAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, old)
  }

  test("hintIfSmall broadcasts under the cap and co-partitions past it") {
    import org.apache.spark.sql.functions.col
    val session = spark
    import session.implicits._
    val par = spark.sparkContext.defaultParallelism
    // LogicalRDD sides (the post-checkpoint loop-state shape: no stats).
    val edges = (1L to 200L).map(v => (v, v % 50)).toDF("src", "dst")
      .repartition(par, col("src")).localCheckpoint()
    val state = (1L to 200L).map(v => (v, v * 10)).toDF("v", "r").localCheckpoint()
    def joined = edges.join(
      graft.plans.SizeGate.hintIfSmall(state, 200L, col("v")),
      col("src") === col("v"))
    withNoAutoBroadcast {
      val smallPlan = joined.queryExecution.executedPlan.toString
      assert(smallPlan.contains("BroadcastExchange"),
        s"under-cap state not broadcast:\n$smallPlan")
      withRowCap(0L) {
        val bigPlan = joined.queryExecution.executedPlan.toString
        assert(!bigPlan.contains("BroadcastExchange"),
          s"over-cap state still broadcast:\n$bigPlan")
        // REPARTITION_BY_NUM distinguishes OUR explicit co-partition
        // repartition from an EnsureRequirements-inserted exchange
        // (the bare hashpartitioning pattern would match either —
        // review finding, r7).
        assert("Exchange hashpartitioning\\(v#\\d+L?, \\d+\\), REPARTITION_BY_NUM".r
          .findFirstIn(bigPlan).isDefined,
          s"over-cap state not explicitly repartitioned on the join key:\n$bigPlan")
      }
    }
  }

  test("size gate: degraded LPA plans zero BroadcastExchange and matches the hinted result") {
    import graft.plans.PlanCapture
    val session = spark
    import session.implicits._
    def cliqueEdges(vs: Seq[Long]) =
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j))
    val edges = (cliqueEdges(1L to 5L) ++ cliqueEdges(11L to 15L) ++ Seq((5L, 11L)))
      .toDF("p1", "p2")
    def run(): (Seq[(Long, Long)], Seq[String]) = {
      PlanCapture.start()
      val out = GraphOps.labelPropagate(spark, edges, GraphOps.LpaRounds)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (out, PlanCapture.stop())
    }
    val (hinted, hintedPlans) = withNoAutoBroadcast(run())
    // Non-vacuity: the hinted run's round plans really carry the
    // forced broadcast (so absence below means something).
    assert(hintedPlans.exists(_.contains("BroadcastExchange")),
      "capture surface dead: no BroadcastExchange in the hinted run")
    val (degraded, degradedPlans) = withNoAutoBroadcast(withRowCap(0L)(run()))
    val offenders = degradedPlans.filter(_.contains("BroadcastExchange"))
    assert(offenders.isEmpty,
      s"degraded path still plans ${offenders.size} broadcast(s):\n" +
        offenders.headOption.getOrElse(""))
    assert(degraded == hinted,
      s"gate changed the result: hinted=$hinted degraded=$degraded")
  }

  test("size gate: coreness and betweenness results are gate-invariant") {
    import org.apache.spark.sql.functions.col
    val session = spark
    import session.implicits._
    // Coreness fixture: 5-clique + pendant chain (known core levels).
    def cliqueEdges(vs: Seq[Long]) =
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j))
    val kedges = (cliqueEdges(1L to 5L) ++ Seq((5L, 6L), (6L, 7L))).toDF("p1", "p2")
    def coreRun(): Map[Long, Long] =
      GraphOps.corenessValues(spark, kedges)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Betweenness fixture: the analytic path graph, all-vertex seeds.
    val pedges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("p1", "p2")
    val psym = pedges.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(pedges.select(col("p2").as("src"), col("p1").as("dst")))
    def btwRun(): Map[Long, Double] =
      GraphOps.betweennessFrom(spark, psym, psym.select(col("src")).distinct())
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (coreH, btwH) = (coreRun(), btwRun())
    val (coreD, btwD) = withRowCap(0L)((coreRun(), btwRun()))
    assert(coreD == coreH, s"coreness gate-variant: $coreH vs $coreD")
    assert(btwD == btwH, s"betweenness gate-variant: $btwH vs $btwD")
    assert(btwH == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0))
  }

  test("size gate: bfs layers and HITS are gate-invariant (sf fixture)") {
    // bfs drives the shared bfsSweep loop (also diameter's kernel);
    // HITS additionally switches WHICH edge copy each half-step joins
    // (the join-key copy in the degraded path) — both must be
    // readout-identical either way.
    def bfs(): Seq[(Long, Long, Long)] =
      GraphOps.graphBfsLayers(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def hits(): Seq[(String, Long, Long)] =
      GraphOps.graphHits(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val (bH, hH) = (bfs(), hits())
    val (bD, hD) = withRowCap(0L)((bfs(), hits()))
    assert(bD == bH, s"bfs layers gate-variant:\n$bH\nvs\n$bD")
    assert(hD == hH, s"HITS gate-variant:\n$hH\nvs\n$hD")
  }

  test("size gate: pagerank top-20 is identical across edge layouts (sf fixture)") {
    // The gate switches the edge checkpoint's partition key
    // (dst = broadcast path, src = degraded path); integer rank units
    // make the result partition-order-independent, so both layouts
    // must agree bit-for-bit on the full readout.
    def run(): Seq[(String, Long, Long)] =
      GraphOps.graphPagerank(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val hinted = run()
    val degraded = withRowCap(0L)(run())
    assert(degraded == hinted, s"layouts disagree:\n$hinted\nvs\n$degraded")
  }

  test("GraphPin: pagerank + betweenness match the exact local replicas and GraphX (sf fixture)") {
    // The sf1 independent-implementation gate (VERDICT r9 #1), run
    // here at suite scale so the pin logic itself is green every
    // round: GraphPin.check asserts (a) EXACT integer equality of the
    // distributed pagerank ranks + iteration count against a
    // single-threaded CSR replica, (b) GraphX PageRank agreement
    // within the hysteresis band + top-20-in-top-25, (c) EXACT
    // equality of betweenness (n_sources, rounded score) against
    // per-source exact Brandes on the same md5-sampled sources.
    // check() throws on any divergence; the assertions below pin the
    // report's sanity so a degenerate fixture can't pass vacuously.
    val r = graft.GraphPin.check(spark, sf)
    assert(r.prVertices > 100 && r.bwVertices > 100,
      s"degenerate pin fixture: $r")
    assert(r.prIters > 1 && r.prIters == r.prLocalIters)
    assert(r.gxMaxRelErr >= 0.0 && r.gxMaxRelErr <= 0.05)
    assert(r.gxTop20InTop25 && r.bwSeeds == 4)
  }
}
