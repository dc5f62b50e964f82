package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorContext

/** The two Spark-private hooks the benchmark's trace needs. */
object Internals {

  /** Blocks until every listener has seen every event posted so far, so
    * a query's jobs, stages, tasks and stream batches are all counted
    * before its record is closed. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Display name of a live accumulator, if it is still registered. */
  def accumulatorName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
