package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._

/** Exact counts over an executed (final AQE) physical plan. They repeat
  * run to run, so a change can show a count moved, not only a time. */
object PlanStats {

  /** Every operator of the plan, with whether it runs inside a
    * WholeStageCodegen stage. AQE wrappers and query stages are looked
    * through, subqueries included; a reused exchange is counted once. */
  private def operators(root: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    val out = Seq.newBuilder[(SparkPlan, Boolean)]
    def walk(p: SparkPlan, codegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, codegen)
      case s: QueryStageExec => walk(s.plan, false)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => walk(w.child, true)
      case i: InputAdapter => walk(i.child, false)
      case other =>
        out += other -> codegen
        other.children.foreach(walk(_, codegen))
        other.subqueries.foreach(walk(_, false))
    }
    walk(root, false)
    out.result()
  }

  private def isNative(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.functions.") ||
      e.prettyName.startsWith("graft_")

  def apply(plan: SparkPlan): Map[String, Any] = {
    val ops = operators(plan)
    val exprs = ops.flatMap(_._1.expressions).flatMap(_.collect { case e => e })
    // Structural nodes that are never codegen'd by design (exchanges,
    // the sink command) are not counted as interpreted operators.
    val interpreted = ops.count { case (p, codegen) =>
      !codegen && !p.isInstanceOf[Exchange] &&
        !p.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.V2CommandExec] &&
        !p.isInstanceOf[CommandResultExec]
    }
    Map(
      "sha" -> graft.Bench.planSha(plan.toString),
      "exchanges" -> ops.count(_._1.isInstanceOf[Exchange]),
      "broadcast_joins" -> ops.count(o => o._1.isInstanceOf[BroadcastHashJoinExec] ||
        o._1.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "shuffle_joins" -> ops.count(o => o._1.isInstanceOf[SortMergeJoinExec] ||
        o._1.isInstanceOf[ShuffledHashJoinExec]),
      "native_exprs" -> exprs.count(isNative),
      "interpreted_ops" -> interpreted,
      "hof_lambdas" -> exprs.count(_.isInstanceOf[LambdaFunction]))
  }
}
