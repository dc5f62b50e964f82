package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Runs every checkpointed round loop: each iterative kernel
  * (the GraphOps rank/BFS/betweenness/kcore/label-propagation loops,
  * the DedupOps components and MIS rounds) goes through [[run]], and
  * no kernel does its own round bookkeeping.
  *
  * A round: `step` builds the next state from the current one,
  * localCheckpointing each new frame through the [[Round]] it is
  * handed; [[run]] then runs `measure` on the new state, frees the
  * blocks the new state superseded, and asks `stop` whether the loop
  * is done. The loop also ends after `cap` rounds. Freed are the
  * caller's initial blocks (after round 1) and each round's
  * checkpoints (after the next round), except those taken with
  * `keep = true`: those accumulate and stay the caller's to free.
  * After the loop only the returned state's blocks stay persisted.
  *
  * LAZY CONTRACT: a lazy checkpoint (`Round.checkpoint`'s default)
  * skips the upfront materialization job; its blocks fill inside the
  * next action that computes it, so checkpoint + measure ride ONE job
  * per round instead of two (JobCountSpec pins the arithmetic). The
  * measure must therefore be a FULL action over every lazily
  * checkpointed frame of the round (count / aggregate — something
  * that computes every partition), and it runs BEFORE any superseded
  * block is freed: an unmaterialized lazy checkpoint still computes
  * through its parents, and freeing a parent first loses the only
  * copy of truncated-lineage data. A loop with no measure (a fixed
  * round count) checkpoints eagerly. Partial first actions
  * (limit/take) stay correct — the end-of-job doCheckpoint fills
  * missing partitions with a follow-up job — but forfeit the one-job
  * win.
  */
object Fixpoint {

  /** Stop rule: `(previous measure, this round's measure) => done`.
    * The previous measure is the caller's `start` before round 1 (and
    * `None` without one); with a `start`, the rule is also applied to
    * `(None, start)` before any round runs. */
  type Stop[M] = (Option[M], M) => Boolean

  /** Done once a round's measure repeats the previous one — the
    * freeze of a monotone loop. */
  def unchanged[M]: Stop[M] = (prev, m) => prev.contains(m)

  /** Done once the measure is zero: no residual, an empty frontier. */
  val zero: Stop[Long] = (_, m) => m == 0L

  /** Never done: the loop runs exactly `cap` rounds. */
  def never[M]: Stop[M] = (_, _) => false

  /** One round's handle. `index` counts the rounds before this one;
    * `last` is the previous round's measure (the caller's `start`
    * before round 1), which steps feed their SizeGate decisions. */
  final class Round[M] private[Fixpoint] (val index: Int, val last: Option[M]) {
    private[Fixpoint] var owned = Set.empty[Int]

    /** localCheckpoint `df` (lazy unless `eager`), owned by the loop
      * until the next round supersedes it; `keep` leaves the blocks
      * to the caller instead (per-round frames that accumulate). */
    def checkpoint(df: DataFrame, eager: Boolean = false,
        keep: Boolean = false): DataFrame = {
      val (out, ids) = Checkpoints.tracked(df, eager)
      if (!keep) owned ++= ids
      out
    }
  }

  /** The final state and every round's measure, in order. */
  final case class Result[S, M](state: S, measures: Vector[M]) {
    def rounds: Int = measures.size
  }

  /** Runs rounds from `init` — the initial state and the checkpoint
    * blocks backing it, which round 1 supersedes. */
  def run[S, M](sc: SparkContext, init: (S, Set[Int]), cap: Int)(
      measure: S => M, stop: Stop[M], start: Option[M] = None)(
      step: (Round[M], S) => S): Result[S, M] = {
    var (state, superseded) = init
    var measures = Vector.empty[M]
    var last = start
    var done = start.exists(stop(None, _))
    while (!done && measures.size < cap) {
      val round = new Round[M](measures.size, last)
      val next = step(round, state)
      val m = measure(next)
      Checkpoints.free(sc, superseded)
      state = next
      superseded = round.owned
      measures :+= m
      done = stop(last, m)
      last = Some(m)
    }
    Result(state, measures)
  }
}
