package graft.plans

import org.apache.spark.sql.DataFrame

/** Test-support recorder for per-round physical plans of the
  * iterative kernels.
  *
  * The loops checkpoint every round's state, so by the time a query
  * returns, the per-round plans are gone (LogicalRDD). GraphSpec's
  * SizeGate tests need to PROVE the degraded path plans no
  * BroadcastExchange — this hook records each round's plan string at
  * the one chokepoint every kernel already passes through
  * ([[Checkpoints.tracked]], which [[Fixpoint]] rounds call too), only
  * while a spec has armed it. Disabled (the default, and always in
  * Verify/Bench), [[record]] is a single volatile read.
  */
object PlanCapture {
  @volatile private var enabled = false
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Arm the recorder (clears previous capture). */
  def start(): Unit = synchronized { buf.clear(); enabled = true }

  /** Disarm and return everything captured since [[start]]. */
  def stop(): Seq[String] = synchronized { enabled = false; buf.toList }

  /** Record `df`'s physical plan if armed. With AQE on, the string is
    * the INITIAL static plan (isFinalPlan=false) — exactly the right
    * surface for the hint assertions: a forced broadcast appears
    * here; an AQE runtime small-side conversion (legitimate at any
    * scale) does not. */
  def record(df: DataFrame): Unit =
    if (enabled) {
      val s = df.queryExecution.executedPlan.toString
      synchronized { if (enabled) buf += s }
    }
}
