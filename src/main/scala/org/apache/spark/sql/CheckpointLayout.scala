package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Gives a localCheckpoint'ed frame back the partitioning of the plan
  * that produced it.
  *
  * `Dataset.localCheckpoint` records the producing plan's
  * `outputPartitioning` in its [[LogicalRDD]] leaf, so that a later
  * groupBy or join on the same keys needs no exchange. Under adaptive
  * execution that plan is an [[AdaptiveSparkPlanExec]], which reports
  * `UnknownPartitioning(0)`, and the layout is lost. The finished
  * adaptive plan (`executedPlan` once `isFinalPlan`) still knows it:
  * it is the plan whose partitions the checkpointed RDD holds.
  *
  * Lives in `org.apache.spark.sql` for the package-private plan-level
  * Dataset factory (`classic.Dataset.ofRows`).
  */
object CheckpointLayout {

  /** `checkpointed` (= `origin.localCheckpoint(...)`) with its leaf
    * carrying the partitioning of `origin`'s finished adaptive plan —
    * only when that partitioning is known, has as many partitions as
    * the checkpointed RDD and refers only to the leaf's attributes.
    * Otherwise `checkpointed` itself is returned. */
  def keepPartitioning(origin: DataFrame, checkpointed: DataFrame): DataFrame =
    (origin.queryExecution.executedPlan, checkpointed.queryExecution.analyzed) match {
      case (aqe: AdaptiveSparkPlanExec, leaf: LogicalRDD) if aqe.isFinalPlan =>
        val p = firstLeaf(aqe.executedPlan.outputPartitioning)
        if (!fits(p, leaf)) checkpointed
        else {
          val args = leaf.productIterator.map(_.asInstanceOf[AnyRef]).toArray
          args(2) = p // LogicalRDD's outputPartitioning
          classic.Dataset.ofRows(checkpointed.queryExecution.sparkSession,
            leaf.makeCopy(args))
        }
      case _ => checkpointed
    }

  /** Spark's own choice for a collection (`LogicalRDD.fromDataset`):
    * its first member, so nested collections cannot grow. */
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  private def fits(p: Partitioning, leaf: LogicalRDD): Boolean = {
    val refs = p match {
      case e: Expression => e.references
      case _ => AttributeSet.empty
    }
    !p.isInstanceOf[UnknownPartitioning] &&
      p.numPartitions == leaf.rdd.getNumPartitions &&
      refs.subsetOf(AttributeSet(leaf.output))
  }
}
