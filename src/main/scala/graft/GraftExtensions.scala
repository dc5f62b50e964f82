package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.{BlockSortMergeJoin, RewriteFoldCosine}

/** SparkSessionExtensions entry point: makes any Spark deployment a
  * graft session via config alone —
  * `--conf spark.sql.extensions=graft.GraftExtensions` — injecting the
  * native SQL functions, the fold-cosine rewrite rule and the
  * block-replay sort-merge join strategy. GraftSession
  * wires the same pieces for sessions built in-process, and Tables
  * self-registers the functions as a fallback for bare sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.GraftFunctions.injectInto(ext)
    ext.injectOptimizerRule(_ => RewriteFoldCosine)
    ext.injectPlannerStrategy(_ => BlockSortMergeJoin)
  }
}
