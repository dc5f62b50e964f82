package graft

import org.apache.spark.sql.{CheckpointLayout, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Checkpoints, Fixpoint}

/** VERDICT r8 #2: Checkpoints ownership must be concurrency-safe.
  * The r1-r8 implementation diffed getPersistentRDDs around the
  * localCheckpoint call, so two queries interleaving on one session
  * could cross-own each other's blocks and a later free() could
  * release a live loop's only copy of truncated-lineage data. r9
  * derives the ids from the checkpointed frame's OWN analyzed plan
  * (the LogicalRDD leaf's rdd), which is per-frame by construction.
  * These tests pin (a) the derivation, (b) disjoint ownership under a
  * deliberate interleave, and (c) two real gated kernels racing on
  * the shared session with correct results and no premature frees.
  */
class CheckpointsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("tracked ids are the frame's own persisted RDD (present until freed)") {
    val sc = spark.sparkContext
    val (out, ids) = graft.plans.Checkpoints.tracked(
      spark.range(0, 5000).toDF("v").withColumn("g", col("v") % 3))
    assert(ids.size == 1, s"expected one owned block set, got $ids")
    assert(ids.subsetOf(sc.getPersistentRDDs.keySet),
      "owned id not registered as a persistent RDD")
    assert(out.count() == 5000L)
    graft.plans.Checkpoints.free(sc, ids)
    // unpersist is async (blocking=false) — poll briefly.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ids.exists(sc.getPersistentRDDs.contains) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(!ids.exists(sc.getPersistentRDDs.contains),
      "freed block still registered")
  }

  test("interleaved tracked calls own DISJOINT ids; freeing one leaves the other computable") {
    val sc = spark.sparkContext
    // Deliberate interleave: both threads enter tracked() inside the
    // same wall-clock window (barrier before the call). Under the old
    // set-diff ownership this reliably cross-attributed; plan-derived
    // ids cannot.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def one(lo: Long, hi: Long) = Future {
      barrier.await()
      graft.plans.Checkpoints.tracked(
        spark.range(lo, hi).toDF("v").withColumn("w", col("v") * 2))
    }
    val (a, b) =
      try Await.result(one(0, 1000).zip(one(1000, 3000)), 120.seconds)
      finally pool.shutdown()
    val ((dfA, idsA), (dfB, idsB)) = (a, b)
    assert(idsA.nonEmpty && idsB.nonEmpty)
    assert((idsA & idsB).isEmpty,
      s"concurrent tracked calls cross-own blocks: $idsA vs $idsB")
    // Free A; B's data must survive (its lineage is truncated — a
    // cross-owned free here would lose B's only copy).
    graft.plans.Checkpoints.free(sc, idsA)
    assert(dfB.agg(sum("w")).first().getLong(0) ==
      (1000L until 3000L).map(_ * 2).sum)
    graft.plans.Checkpoints.free(sc, idsB)
  }

  test("two gated kernels race on one session: both green, no premature frees") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // A finished kernel legitimately leaves its RESULT frame's final
    // checkpoint persisted (freeing it would break the returned
    // DataFrame); Bench/Verify tear those down between queries. The
    // spec does the same so the before/after comparison isolates
    // bookkeeping, not result-block lifetime.
    def teardown(): Unit = {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
    // Serial reference results first.
    val serialPr = SparkEntry.queries("graph_pagerank")(spark, sf)
      .collect().map(_.toString).sorted
    val serialCc = SparkEntry.queries("dedup_components")(spark, sf)
      .collect().map(_.toString).sorted
    teardown()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // Both kernels checkpoint + free per round; racing them on one
    // session is exactly the interleave the old diff ownership could
    // not survive (a cross-free would crash the victim's next round
    // with a missing-block fetch failure, or corrupt its result).
    val fut = Future {
      SparkEntry.queries("graph_pagerank")(spark, sf)
        .collect().map(_.toString).sorted
    }.zip(Future {
      SparkEntry.queries("dedup_components")(spark, sf)
        .collect().map(_.toString).sorted
    })
    val (racedPr, racedCc) =
      try Await.result(fut, 600.seconds)
      finally pool.shutdown()
    assert(racedPr.sameElements(serialPr),
      "pagerank result changed under a concurrent sibling kernel")
    assert(racedCc.sameElements(serialCc),
      "components result changed under a concurrent sibling kernel")
    // Bookkeeping closed out: after the standard between-query
    // teardown, the persistent-RDD set returns exactly to baseline
    // (no orphaned double-owned block, no free() that already hit a
    // foreign id — poll, frees are async).
    teardown()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def leaked = sc.getPersistentRDDs.keySet.toSet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"raced kernels left stray persistent blocks: $leaked")
  }

  // Fixpoint's own contract, on a countdown fixture: every round lowers
  // each of 0..99 by 10, floored at 0, so the values first all reach 0
  // in round 10.
  private def countdownInit(): (DataFrame, Set[Int]) =
    Checkpoints.tracked(spark.range(0, 100).toDF("v"))
  private def countdown(r: Fixpoint.Round[Long], df: DataFrame): DataFrame =
    r.checkpoint(df.select(greatest(col("v") - 10L, lit(0L)).as("v")))
  private def total(df: DataFrame): Long = df.agg(sum("v")).first().getLong(0)
  private def moving(df: DataFrame): Long = df.filter(col("v") > 0).count()

  /** Persistent-RDD ids registered since `before`, once async frees settle. */
  private def leftSince(before: Set[Int], expect: Set[Int]): Set[Int] = {
    val sc = spark.sparkContext
    def left = sc.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (left != expect && System.nanoTime() < deadline) Thread.sleep(20)
    left
  }

  test("Fixpoint stops on an unchanged measure, on a zero measure, and on the cap") {
    val sc = spark.sparkContext
    // Unchanged: the sum first hits 0 in round 10; round 11 repeats it
    // and confirms the freeze (the BFS / kcore / components count).
    val unchanged = Fixpoint.run(sc, countdownInit(), 100)(total, Fixpoint.unchanged)(countdown)
    assert(unchanged.rounds == 11, unchanged.measures)
    assert(unchanged.measures.takeRight(2) == Vector(0L, 0L))
    assert(total(unchanged.state) == 0L)
    // Zero: stops in the round the residual reaches 0 (the pagerank /
    // HITS / MIS count).
    val zero = Fixpoint.run(sc, countdownInit(), 100)(moving, Fixpoint.zero)(countdown)
    assert(zero.rounds == 10, zero.measures)
    // Cap: 4 rounds, whatever the measure says.
    val capped = Fixpoint.run(sc, countdownInit(), 4)(total, Fixpoint.unchanged)(countdown)
    assert(capped.rounds == 4)
    assert(capped.state.agg(max("v")).first().getLong(0) == 59L)
    // A `start` stands in for round 0's measure: round 1's sum (4005)
    // repeats it, so the loop stops after one round.
    val started = Fixpoint.run(sc, countdownInit(), 100)(total, Fixpoint.unchanged,
      start = Some(4005L))(countdown)
    assert(started.rounds == 1, started.measures)
    Seq(unchanged, zero, capped, started).foreach(res =>
      Checkpoints.free(sc, Checkpoints.owned(res.state)))
  }

  test("Fixpoint with cap 0, or a start already at the stop, runs no round") {
    val sc = spark.sparkContext
    for ((cap, start) <- Seq((0, None), (100, Some(0L)))) {
      val (init, ids) = countdownInit()
      val res = Fixpoint.run(sc, (init, ids), cap)(moving, Fixpoint.zero, start) {
        (_, _) => fail("a round ran")
      }
      assert(res.rounds == 0 && (res.state eq init))
      assert(ids.subsetOf(sc.getPersistentRDDs.keySet), "initial blocks were freed")
      Checkpoints.free(sc, ids)
    }
  }

  test("after a Fixpoint loop only the returned state's blocks stay persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val res = Fixpoint.run(sc, countdownInit(), 100)(total, Fixpoint.unchanged)(countdown)
    val live = Checkpoints.owned(res.state)
    assert(live.size == 1)
    assert(leftSince(before, live) == live, "superseded round blocks still persisted")
    assert(total(res.state) == 0L)
    // Kept frames accumulate: they are part of the returned state.
    val (init, ids) = countdownInit()
    val acc = Fixpoint.run(sc, ((init, List(init)), ids), 3)(
      s => total(s._1), Fixpoint.unchanged) {
      case (r, (cur, frames)) =>
        val next = r.checkpoint(cur.select((col("v") + 1).as("v")), keep = true)
        (next, next :: frames)
    }
    val kept = acc.state._2.dropRight(1).flatMap(Checkpoints.owned).toSet
    assert(kept.size == 3)
    assert(leftSince(before, live ++ kept) == live ++ kept,
      "kept frames were freed, or the superseded initial frame was not")
    Checkpoints.free(sc, live ++ kept)
  }

  // Layout under AQE (on in the shared session): a checkpoint keeps the
  // partitioning of the plan that produced it.
  private def leafPartitioning(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }

  test("under AQE a tracked repartition(4, k) keeps its layout: groupBy(k) plans no Exchange") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val sc = spark.sparkContext
    val df = spark.range(0, 2000).toDF("v").withColumn("k", col("v") % 13)
    val (out, ids) = Checkpoints.tracked(df.repartition(4, col("k")))
    val agg = out.groupBy("k").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"checkpointed layout re-shuffled:\n$plan")
    assert(agg.collect().map(_.getLong(1)).sum == 2000L)
    // Spark's own frame, without the re-attached layout, re-shuffles:
    // the case this guards against.
    val plain = df.repartition(4, col("k")).localCheckpoint()
    assert(leafPartitioning(plain).contains(UnknownPartitioning(0)))
    assert(plain.groupBy("k").count().queryExecution.executedPlan.toString.contains("Exchange"))
    Checkpoints.free(sc, ids ++ Checkpoints.owned(plain))
  }

  test("an unknown or foreign final partitioning falls back to Spark's frame") {
    val sc = spark.sparkContext
    val a = spark.range(0, 100).toDF("v").repartition(4, col("v"))
    // A union with an unpartitioned side has no known partitioning:
    // nothing to re-attach.
    val u = a.union(spark.range(100, 200).toDF("v"))
    val uck = u.localCheckpoint()
    u.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec =>
        assert(aqe.isFinalPlan && aqe.executedPlan.outputPartitioning
          .isInstanceOf[UnknownPartitioning], aqe.executedPlan)
      case other => fail(s"not an adaptive plan: $other")
    }
    assert(CheckpointLayout.keepPartitioning(u, uck) eq uck)
    // A partitioning on another frame's attributes, or over another
    // partition count, is not the leaf's: refused.
    a.localCheckpoint() // finishes a's adaptive plan
    val c = spark.range(0, 100).toDF("v").repartition(3, col("v"))
    val cck = c.localCheckpoint()
    assert(CheckpointLayout.keepPartitioning(a, cck) eq cck)
    val d = spark.range(0, 100).toDF("v").repartition(4, col("v"))
    val dck = d.localCheckpoint()
    assert(CheckpointLayout.keepPartitioning(a, dck) eq dck)
    // Its own finished plan is accepted.
    assert(!(CheckpointLayout.keepPartitioning(d, dck) eq dck))
    Checkpoints.free(sc, Seq(a, uck, cck, dck).flatMap(Checkpoints.owned).toSet)
  }

  test("a re-attached layout owns the same blocks as Spark's frame") {
    val sc = spark.sparkContext
    val df = spark.range(0, 500).toDF("v").repartition(4, col("v"))
    val ck = df.localCheckpoint()
    val kept = CheckpointLayout.keepPartitioning(df, ck)
    assert(!(kept eq ck), "nothing was re-attached")
    assert(leafPartitioning(kept).exists(_.numPartitions == 4))
    assert(Checkpoints.owned(kept) == Checkpoints.owned(ck))
    assert(Checkpoints.owned(kept).size == 1)
    assert(kept.agg(sum("v")).first().getLong(0) == (0L until 500L).sum)
    Checkpoints.free(sc, Checkpoints.owned(kept))
  }

  test("kcore's broadcast-path rounds plan no hash exchange") {
    import graft.plans.PlanCapture
    val session = spark
    import session.implicits._
    def cliqueEdges(vs: Seq[Long]) =
      for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j))
    val edges = (cliqueEdges(1L to 5L) ++ Seq((5L, 6L), (6L, 7L))).toDF("p1", "p2")
    PlanCapture.start()
    val (core, rounds) = graft.operators.GraphOps.corenessValues(spark, edges)
    val plans = PlanCapture.stop()
    assert(rounds > 1)
    assert(core.count() == 7L)
    // The round plans are the captured ones that broadcast the state.
    val roundPlans = plans.filter(_.contains("BroadcastExchange"))
    assert(roundPlans.size == rounds, s"${roundPlans.size} round plans for $rounds rounds")
    val shuffled = roundPlans.filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.isEmpty,
      s"a broadcast-path round re-shuffles:\n${shuffled.headOption.getOrElse("")}")
    Checkpoints.free(spark.sparkContext, Checkpoints.owned(core))
  }

  test("freeing a checkpoint logs no locally-checkpointed warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      val (df, ids) = Checkpoints.tracked(spark.range(10).toDF("v"))
      assert(df.count() == 10)
      Checkpoints.free(spark.sparkContext, ids)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    val noise = seen.asScala.filter(_.contains("was locally checkpointed"))
    assert(noise.isEmpty, noise.mkString("\n"))
  }
}
