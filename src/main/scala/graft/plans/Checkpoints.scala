package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.sql.{CheckpointLayout, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** localCheckpoint with block bookkeeping: [[tracked]] returns the
  * checkpointed frame plus the persistent-RDD ids backing it; [[free]]
  * releases them once superseded. Round loops take both through
  * [[Fixpoint]], which also holds the contract for `eager = false`.
  *
  * Ownership: the ids come from the returned frame's OWN analyzed plan
  * — `Dataset.localCheckpoint` yields a [[LogicalRDD]] leaf whose `rdd`
  * IS the persisted internal-row RDD — not from a global
  * getPersistentRDDs set-diff, which under concurrent queries would
  * attribute whatever OTHER queries persisted inside the window to
  * this call, so that a later [[free]] could release a live loop's
  * only copy of truncated-lineage data. Plan-derived ids are per-frame,
  * so concurrent kernels in one session cannot cross-own blocks
  * (CheckpointsSpec races two gated kernels and asserts disjoint
  * ownership + no premature frees).
  *
  * `eager = false` marks the plan for localCheckpoint WITHOUT the
  * upfront materialization job. Block REGISTRATION still happens at
  * call time (RDD.localCheckpoint persists immediately, so the id
  * exists either way); the blocks materialize inside the next action.
  *
  * Layout: the returned frame keeps the partitioning of the plan that
  * produced it, so a loop that checkpoints `df.repartition(n, k)` runs
  * its later groupBy(k) or join on k with no exchange. Spark records
  * that partitioning only without adaptive execution: under AQE, which
  * [[graft.GraftSession]] always enables, the checkpoint's leaf reports
  * `UnknownPartitioning`, and every consumer would re-shuffle a
  * pre-partitioned layout. [[CheckpointLayout.keepPartitioning]]
  * re-attaches the finished adaptive plan's partitioning when it is
  * known and matches the checkpointed RDD, and otherwise leaves
  * Spark's frame as it is.
  */
object Checkpoints {

  def tracked(df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
    PlanCapture.record(df)
    val out = CheckpointLayout.keepPartitioning(df, df.localCheckpoint(eager))
    val ids = owned(out)
    // Deterministic for a pinned Spark version: localCheckpoint always
    // returns a single-LogicalRDD plan on 4.1.2, so a green suite run
    // means this cannot fire in production; if a Spark upgrade changes
    // the plan shape, fail LOUDLY here rather than silently reverting
    // to unowned (never-freed) blocks.
    require(ids.nonEmpty,
      "localCheckpoint no longer yields a LogicalRDD leaf — " +
        "Checkpoints ownership derivation needs updating for this Spark")
    (out, ids)
  }

  /** The persistent-RDD ids behind the checkpointed frames `df` reads. */
  def owned(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  def free(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
}
