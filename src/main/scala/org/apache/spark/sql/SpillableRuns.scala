package org.apache.spark.sql

import graft.plans.{BlockSortMergeJoin, SpillableRun}

/** Wraps a frame in the [[SpillableRun]] marker.
  *
  * Lives in `org.apache.spark.sql` for the package-private session
  * state (to see the session's planner strategies) and plan-level
  * Dataset factory (`classic.Dataset.ofRows`).
  */
object SpillableRuns {

  /** `df` marked as a spillable run, so that an inner equi-join with it
    * is planned by [[BlockSortMergeJoin]] — or `df` itself on a session
    * whose planner lacks that strategy (one built without
    * `graft.GraftExtensions`), where the marker would have no plan. */
  def mark(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    if (!qe.sparkSession.sessionState.planner.strategies.contains(BlockSortMergeJoin)) df
    else classic.Dataset.ofRows(qe.sparkSession, SpillableRun(qe.analyzed))
  }
}
