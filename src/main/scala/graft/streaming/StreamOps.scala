package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Structured-streaming twins of the batch event operators (SURVEY.md
  * §2.8). The transforms are defined over plain Datasets so the SAME
  * code runs on a `readStream` source in production and on a batch
  * DataFrame in equivalence specs.
  *
  * Scale posture: the windowed aggregate is a standard watermarked
  * tumbling-window groupBy (state store size bounded by watermark
  * horizon × distinct keys); sessionization keeps ONE small state row
  * per user key (last-seen micros, session count, event count) — state
  * grows with |users|, not |events|.
  */
object StreamOps {

  /** Event row used by the streaming twins (micro-second event time —
    * same integer arithmetic as the batch ev_sessionize). */
  final case class Ev(event_id: Long, tus: Long, user_id: Long,
      event_type: String, value: Double)

  /** Per-user sessionization state. */
  final case class SessState(lastTus: Long, nSessions: Long, nEvents: Long)

  /** Output row: running per-user session/event counts. */
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** 30-minute inactivity gap, in microseconds. */
  val SessionGapUs: Long = 1800L * 1000 * 1000

  /** Tumbling 1-hour windowed count+sum per event_type. On a streaming
    * input pair with `.withWatermark("ts", ...)` at the call site, or
    * use [[hourlyAggWatermarked]] for the production append-mode shape. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 3).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("cnt"), col("sum_value"))

  /** Watermarked hourly aggregate — the append-mode production shape of
    * [[hourlyAgg]]. The watermark is the state-boundedness contract at
    * scale: windows older than max(event time) − delay are finalized,
    * EMITTED EXACTLY ONCE, and evicted from the state store (state is
    * O(active windows × keys), not O(stream length)); an event arriving
    * behind the watermark is dropped, never double-counted into an
    * already-emitted window. StreamingSpec drives late events across
    * micro-batches to pin both halves (drop + single emission). */
  def hourlyAggWatermarked(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    hourlyAgg(events.withWatermark("ts", delay))

  /** Watermarked streaming deduplication — the streaming twin of
    * dedup_exact for at-least-once delivery: re-delivered events (same
    * id + event time) are suppressed while their key is in state, and
    * the watermark EVICTS keys older than max(event time) − delay, so
    * state is O(events inside the watermark horizon) rather than
    * O(stream length) — the only contract that survives an unbounded
    * stream. The tradeoff is explicit: an event arriving behind the
    * watermark is dropped (its dedup state may already be gone), which
    * StreamingSpec pins alongside the suppression path. */
  def dedupStream(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicates("event_id", "ts")

  /** Stream-static enrichment join: each micro-batch broadcast-joins the
    * static dimension — stateless (nothing outlives a batch), and the
    * static side is re-resolvable between batches (dim refresh). The
    * scale shape for "attach user/doc metadata to a firehose". */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")

  /** Watermarked stream-stream interval join — the streaming twin of
    * the batch ev_range_join: each click pairs with the same user's
    * views in the preceding 24 h. Inputs: views (v_user, view_id, vts),
    * clicks (c_user, click_id, cts), both watermarked here.
    *
    * The time bound in the join condition is what makes this run
    * unbounded: from `vts >= cts - 24h AND vts < cts` Spark derives the
    * state retention for each side (a buffered view is evictable once
    * the watermark passes vts + 24 h; a click once it passes cts), so
    * join state is O(watermark horizon + interval), not O(stream
    * length). Matches emit as they form (inner join, append mode); a
    * row behind the watermark is dropped, it cannot resurrect evicted
    * partners. StreamingSpec pins pair-equality with the batch interval
    * join across micro-batches plus the late-row drop. */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
      delay: String = "30 minutes"): DataFrame =
    views.withWatermark("vts", delay)
      .join(clicks.withWatermark("cts", delay),
        expr("v_user = c_user AND vts >= cts - INTERVAL 24 HOURS AND vts < cts"))

  /** Keyed 32-bit hash row for the streaming sketch twins. */
  final case class KeyedHash(group: String, h: Long)

  /** Per-group HLL register state (64 dense bytes-worth of ints). */
  final case class HllState(registers: Array[Int])

  /** Running distinct-count estimate per group. */
  final case class GroupDistinct(group: String, est_distinct: Double,
      n_registers_set: Int)

  /** Streaming HyperLogLog — the streaming twin of the batch
    * agg_hll_distinct: per-group 64-register state in
    * mapGroupsWithState, each micro-batch folds its hashes in with
    * register-wise max (max IS the HLL merge, so replays/out-of-order
    * delivery can only re-assert, never corrupt) and re-emits the
    * running estimate. State is O(groups × 64 ints) FOREVER — this is
    * the sketch's whole point on an unbounded stream: exact streaming
    * distinct-count state grows with |keys seen|, the sketch does not.
    *
    * The estimator arithmetic is line-for-line the batch expression
    * (same bucket/rank split of the md5-derived hash, same
    * CAST-to-DOUBLE alpha, same small-range ln branch, same HALF_UP
    * 3-decimal round), so StreamingSpec can assert exact equality with
    * the batch oracle-gated answer after any batch split. */
  /** The register fold shared by the HLL twins: batch rho =
    * 27 - length(bin(w)); length(bin(w)) = 64 - nlz(w). */
  private def foldHllHashes(regs: Array[Int], it: Iterator[KeyedHash]): Unit =
    it.foreach { r =>
      val bucket = (r.h >> 26).toInt           // top 6 of 32 bits
      val w = r.h & ((1L << 26) - 1)           // remaining 26 bits
      val rho =
        if (w == 0L) 27
        else 27 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(bucket)) regs(bucket) = rho
    }

  /** The batch estimator (HllEstExpr) in JVM arithmetic — one
    * definition for the streaming emit AND spec-side window folds. */
  private[graft] def hllEstimate(regs: Array[Int]): (Double, Int) = {
    val present = regs.count(_ > 0)
    var sp = 0.0
    regs.foreach(r => if (r > 0) sp += math.pow(2.0, -r))
    val alpha = 0.7213 / (1 + 1.079 / 64)
    val raw = alpha * 4096 / (sp + (64 - present))
    val est =
      if (raw <= 160 && present < 64) 64 * math.log(64.0 / (64 - present))
      else raw
    (BigDecimal(est).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble,
      present)
  }

  def hllDistinctStream(rows: Dataset[KeyedHash]): Dataset[GroupDistinct] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[HllState, GroupDistinct] {
        (g: String, it: Iterator[KeyedHash], state: GroupState[HllState]) =>
          val regs = state.getOption.map(_.registers).getOrElse(new Array[Int](64))
          foldHllHashes(regs, it)
          state.update(HllState(regs))
          val (est, present) = hllEstimate(regs)
          GroupDistinct(g, est, present)
      }
  }

  /** Per-group raw register vector (the daily sketch TABLE a
    * production pipeline persists). */
  final case class GroupRegisters(group: String, registers: Seq[Int])

  /** Streaming DAILY HLL sketch table — the streaming twin of
    * ev_rolling_hll's ingest half: keyed by day, each micro-batch
    * folds its user hashes into that day's 64 registers with
    * register-wise max (a join-semilattice — replays, reordering, and
    * duplicate delivery re-assert and never corrupt), and the CURRENT
    * register vector is emitted so any downstream window (7-day,
    * 28-day, all-time) derives by merging emitted vectors — the
    * rolling readout is a FOLD OVER STATE, not a second data pass,
    * exactly the batch op's O(days × 64) claim carried to streams.
    * State O(days × 64 ints); days are bounded by the horizon, and a
    * retention policy would evict days past the largest window.
    * StreamingSpec folds the final vectors into 7-day windows and
    * pins the estimates to the oracle-gated batch query. */
  def dailyHllStream(rows: Dataset[KeyedHash]): Dataset[GroupRegisters] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[HllState, GroupRegisters] {
        (g: String, it: Iterator[KeyedHash], state: GroupState[HllState]) =>
          val regs = state.getOption.map(_.registers).getOrElse(new Array[Int](64))
          foldHllHashes(regs, it)
          state.update(HllState(regs))
          GroupRegisters(g, regs.toSeq)
      }
  }

  /** [[dailyHllStream]] re-shaped for an APPEND sink (the
    * hllSnapshotStream move on the daily sketch table): emits each
    * day's CURRENT register vector once per micro-batch; registers
    * fold with register-wise max, so the sink log converges to the
    * same daily sketch table under any micro-batching. Same shared
    * [[foldHllHashes]]. */
  def dailyHllSnapshotStream(rows: Dataset[KeyedHash]): Dataset[GroupRegisters] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[HllState, GroupRegisters](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KeyedHash], state: GroupState[HllState]) =>
          val regs = state.getOption.map(_.registers).getOrElse(new Array[Int](64))
          foldHllHashes(regs, it)
          state.update(HllState(regs))
          Iterator.single(GroupRegisters(g, regs.toSeq))
      }
  }

  /** A keyed (id, value) row for the streaming top-k twin. */
  final case class KeyedValue(group: String, id: Long, value: Double)

  /** Bounded per-group top-k state: entries sorted by (value desc,
    * id asc) — the same total order the batch rank window uses. */
  final case class TopKState(ids: Seq[Long], values: Seq[Double])

  /** Running per-group top-k membership (ids comma-joined in rank
    * order — the same encoding the batch comparison derives). */
  final case class GroupTopK(group: String, top_ids: String)

  /** Streaming top-k per group — the last missing member of the
    * streaming operator family (agg, dedup, joins, sessionize,
    * sketches, and now rank): a bounded k-entry insertion buffer per
    * group in mapGroupsWithState, exactly the batch
    * TakeOrderedAndProject/WindowGroupLimit heap re-expressed as
    * streaming state. State is O(k) per group FOREVER.
    *
    * Contract (ADVICE r4): each id holds at most ONE ranked slot, at
    * its MAX observed value — id → max(value) is a join-semilattice
    * like the sketch states, so replays re-assert (same value: no-op),
    * out-of-order updates converge to the same buffer regardless of
    * delivery order, and an id re-arriving with a HIGHER value moves
    * rather than duplicating its entry (a lower value is absorbed).
    * Inherent streaming-top-k caveat, unchanged: an id evicted from
    * the buffer is forgotten, so a later lower-but-qualifying value
    * for it cannot resurface — exact only when the true top-k is never
    * displaced, which the batch-equality spec exercises. Ordering is
    * the batch rank's total order ((value desc, id asc)), so
    * StreamingSpec asserts exact equality with the batch window-rank
    * result after any batch split. */
  /** ONE definition of the bounded top-k insert fold, shared by both
    * top-k twins. Per-id max-value semantics: skip unless the id is
    * new or strictly improved; an improved id vacates its old slot
    * before re-insertion so it can never occupy two. */
  private def foldTopK(st: TopKState, it: Iterator[KeyedValue],
      k: Int): TopKState = {
    var es = st.ids.zip(st.values).map { case (i, v) => (v, i) }.toVector
    it.foreach { r =>
      val existing = es.indexWhere(_._2 == r.id)
      if (existing < 0 || es(existing)._1 < r.value) {
        if (existing >= 0) es = es.patch(existing, Nil, 1)
        // first position where the existing entry ranks AFTER the
        // new row under (value desc, id asc)
        var pos = es.indexWhere(e => e._1 < r.value ||
          (e._1 == r.value && e._2 > r.id))
        if (pos < 0) pos = es.length
        if (pos < k) {
          es = (es.take(pos) :+ ((r.value, r.id))) ++ es.drop(pos)
          if (es.length > k) es = es.take(k)
        }
      }
    }
    TopKState(es.map(_._2), es.map(_._1))
  }

  def topkStream(rows: Dataset[KeyedValue], k: Int): Dataset[GroupTopK] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[TopKState, GroupTopK] {
        (g: String, it: Iterator[KeyedValue], state: GroupState[TopKState]) =>
          val folded = foldTopK(
            state.getOption.getOrElse(TopKState(Vector.empty, Vector.empty)),
            it, k)
          state.update(folded)
          GroupTopK(g, folded.ids.mkString(","))
      }
  }

  /** One per-batch top-k snapshot: the raw rank buffer in rank order.
    * Merging two k-buffers (per-id max, re-rank, cut at k) equals the
    * k-top of their union when each id's rows were delivered to one
    * fold — the exactly-once staged-replay contract — so the sink log
    * folds exactly. */
  final case class TopKSnapshot(group: String, ids: Seq[Long],
      values: Seq[Double])

  /** [[topkStream]] re-shaped for an APPEND sink, emitting the raw
    * buffer per batch. Same insertion logic via [[topkStream]]'s
    * TopKState handling (the fold is shared by construction: this
    * variant delegates to the same per-row insert). */
  def topkSnapshotStream(rows: Dataset[KeyedValue], k: Int): Dataset[TopKSnapshot] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[TopKState, TopKSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KeyedValue], state: GroupState[TopKState]) =>
          val st = state.getOption.getOrElse(TopKState(Vector.empty, Vector.empty))
          val folded = foldTopK(st, it, k)
          state.update(folded)
          Iterator.single(TopKSnapshot(g, folded.ids, folded.values))
      }
  }

  /** Streaming KMV — the streaming twin of the batch agg_kmv_distinct
    * (completing the sketch pair next to [[hllDistinctStream]]): the
    * k-minimum-values set of a fixed hash is, like HLL's register max,
    * a semilattice (set-union then take-K-smallest), so replayed or
    * out-of-order rows can only re-assert the state, never corrupt it,
    * and the result is independent of how the stream was micro-batched.
    * State is K longs per group FOREVER on an unbounded stream.
    *
    * Reduce, estimate, AND the state type are the batch Aggregator's
    * own (graft.functions.KmvDistinct / KmvState — one definition of
    * "KMV sketch state" in the codebase), so StreamingSpec can assert
    * exact equality with the batch oracle-gated estimate — parity by
    * construction, not by re-implementation. */
  def kmvDistinctStream(rows: Dataset[KeyedHash]): Dataset[GroupDistinct] = {
    import rows.sparkSession.implicits._
    import graft.functions.{KmvDistinct, KmvState}
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[KmvState, GroupDistinct] {
        (g: String, it: Iterator[KeyedHash], state: GroupState[KmvState]) =>
          var s = state.getOption.getOrElse(KmvDistinct.zero)
          it.foreach(r => s = KmvDistinct.reduce(s, r.h))
          state.update(s)
          GroupDistinct(g,
            BigDecimal(KmvDistinct.finish(s))
              .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble,
            s.hs.length)
      }
  }

  /** Per-group sketch state for the APPEND-MODE snapshot twins:
    * the mergeable sketch payload plus the exact rows-seen counter
    * (over the gated queries' distinct-key input, rows seen IS the
    * exact distinct count the batch readout reports). */
  final case class HllCounted(registers: Array[Int], n: Long)

  /** One per-batch HLL snapshot row: the raw 64-register vector (the
    * mergeable state itself, NOT a point estimate — so any downstream
    * reader can fold snapshots with register-wise max, the HLL merge)
    * plus the rows-seen counter. */
  final case class HllSnapshot(group: String, registers: Seq[Int], n_seen: Long)

  /** [[hllDistinctStream]] re-shaped for an APPEND sink (the oracle
    * gate's parquet sink only supports append, and mapGroupsWithState
    * requires update mode): flatMapGroupsWithState emits each group's
    * CURRENT raw registers once per micro-batch. Because the register
    * vector is a join-semilattice (register-wise max), the sink's
    * snapshot log folds to the exact final state under ANY
    * micro-batching — the readback does that fold and then applies the
    * batch estimator SQL verbatim, so the gated result is
    * hash-identical to agg_hll_distinct's oracle. Same shared
    * [[foldHllHashes]] as the update-mode twin — one register-fold
    * definition in the codebase. */
  def hllSnapshotStream(rows: Dataset[KeyedHash]): Dataset[HllSnapshot] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[HllCounted, HllSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KeyedHash], state: GroupState[HllCounted]) =>
          val st = state.getOption.getOrElse(HllCounted(new Array[Int](64), 0L))
          var n = st.n
          foldHllHashes(st.registers, it.map { r => n += 1; r })
          state.update(HllCounted(st.registers, n))
          Iterator.single(HllSnapshot(g, st.registers.toSeq, n))
      }
  }

  /** Per-group KMV snapshot state: the k-min hash set (the Aggregator's
    * own [[graft.functions.KmvState]] payload) + rows-seen counter. */
  final case class KmvCounted(hs: Seq[Long], n: Long)

  /** One per-batch KMV snapshot row: the raw k-min set. */
  final case class KmvSnapshot(group: String, hs: Seq[Long], n_seen: Long)

  /** [[kmvDistinctStream]] re-shaped for an APPEND sink, the
    * [[hllSnapshotStream]] move on the KMV sketch: emit the raw k-min
    * set per batch (k-min of a union == k-min of merged k-mins, so the
    * snapshot log folds exactly under any micro-batching); the reduce
    * is the batch Aggregator's own [[graft.functions.KmvDistinct.reduce]]
    * — one definition of the sketch in the codebase. */
  def kmvSnapshotStream(rows: Dataset[KeyedHash]): Dataset[KmvSnapshot] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.{KmvDistinct, KmvState}
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[KmvCounted, KmvSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KeyedHash], state: GroupState[KmvCounted]) =>
          val st = state.getOption.getOrElse(KmvCounted(Vector.empty, 0L))
          var s = KmvState(st.hs)
          var n = st.n
          it.foreach { r => s = KmvDistinct.reduce(s, r.h); n += 1 }
          state.update(KmvCounted(s.hs, n))
          Iterator.single(KmvSnapshot(g, s.hs, n))
      }
  }

  /** A keyed sample row for the streaming quantile twin: the same
    * (group, md5 sample key, value cents) triple the batch
    * agg_quantile_sample derives per lineitem row. */
  final case class KeyedSample(group: String, skey: String, v: Long)

  /** k-min-by-hash sample state: (skey, v) pairs sorted by skey. */
  final case class QSampleState(skeys: Seq[String], values: Seq[Long])

  /** Running per-group sample-quantile estimates. */
  final case class GroupQuantiles(group: String, k: Long,
      p50_est: Double, p90_est: Double)

  /** Streaming quantile sample — the streaming twin of the batch
    * agg_quantile_sample, completing the sketch-twin family (HLL, KMV,
    * top-k, and now quantiles): per group a bounded k-entry min-by-
    * md5-key buffer in mapGroupsWithState — the batch WindowGroupLimit
    * cut re-expressed as streaming state, O(k) per group FOREVER on an
    * unbounded stream.
    *
    * The buffer is a join-semilattice exactly like KMV's k-min set
    * (k-min of a union == k-min of merged k-mins), so micro-batch
    * boundaries, delivery order, and replays cannot change the
    * converged sample: a replayed row's skey is already present
    * (skey hashes the value in, so same skey ⇒ same row) and
    * re-asserts. Estimates replay the batch integer nearest-rank math
    * verbatim — rank (k+1) div 2 / (9k+9) div 10 over the (v, skey)
    * order — so StreamingSpec asserts EXACT equality with the batch
    * query's estimates after any split.
    *
    * SAMPLE CONTRACT (shared with aggQuantileSample — ADVICE r10):
    * both sides keep the k smallest DISTINCT skeys, never a row
    * multiset. The corpus contains full-duplicate (orderkey,
    * linenumber) rows; this Map-keyed buffer inherently collapses
    * them, so the batch side dedups by skey too (dense_rank cut +
    * dropDuplicates) — without that the twins drift the first time a
    * duplicate's hash lands inside a group's 100 smallest. */
  def quantileSampleStream(rows: Dataset[KeyedSample], k: Int = 100)
      : Dataset[GroupQuantiles] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.group)
      .mapGroupsWithState[QSampleState, GroupQuantiles] {
        (g: String, it: Iterator[KeyedSample], state: GroupState[QSampleState]) =>
          var buf = state.getOption
            .map(s => s.skeys.zip(s.values).toMap).getOrElse(Map.empty[String, Long])
          it.foreach(r => if (!buf.contains(r.skey)) buf += r.skey -> r.v)
          val kept = buf.toSeq.sortBy(_._1).take(k)
          state.update(QSampleState(kept.map(_._1), kept.map(_._2)))
          val sorted = kept.sortBy { case (s, v) => (v, s) }.map(_._2)
          val n = sorted.length.toLong
          def at(r: Long): Double = sorted(math.max(r, 1L).toInt - 1) / 100.0
          GroupQuantiles(g, n, at((n + 1) / 2), at((9 * n + 9) / 10))
      }
  }

  /** Per-group quantile-sample snapshot state: the k-min-by-skey
    * buffer plus the rows-seen counter (the batch query's `n`). */
  final case class QSampleCounted(skeys: Seq[String], values: Seq[Long],
      n: Long)

  /** One per-batch sample snapshot: the RAW kept buffer (mergeable —
    * the k-min-by-skey set is a join-semilattice like KMV's) plus the
    * rows-seen counter. */
  final case class QSnapshot(group: String, skeys: Seq[String],
      values: Seq[Long], n_seen: Long)

  /** [[quantileSampleStream]] re-shaped for an APPEND sink (the
    * [[hllSnapshotStream]] move): emit the raw kept buffer per batch
    * so the sink log folds exactly — k-min of a union == k-min of
    * merged k-mins — and the gated readback re-derives the batch
    * query's integer nearest-rank estimates from the folded sample.
    * Same insert rule as the update twin. */
  def quantileSnapshotStream(rows: Dataset[KeyedSample], k: Int = 100)
      : Dataset[QSnapshot] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rows
      .groupByKey(_.group)
      .flatMapGroupsWithState[QSampleCounted, QSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KeyedSample], state: GroupState[QSampleCounted]) =>
          val st = state.getOption
            .getOrElse(QSampleCounted(Vector.empty, Vector.empty, 0L))
          var buf = st.skeys.zip(st.values).toMap
          var n = st.n
          it.foreach { r =>
            if (!buf.contains(r.skey)) buf += r.skey -> r.v
            n += 1
          }
          val kept = buf.toSeq.sortBy(_._1).take(k)
          state.update(QSampleCounted(kept.map(_._1), kept.map(_._2), n))
          Iterator.single(QSnapshot(g, kept.map(_._1), kept.map(_._2), n))
      }
  }

  /** One closed session: [start_tus, end_tus] and its event count. */
  final case class ClosedSession(user_id: Long, start_tus: Long,
      end_tus: Long, n_events: Long)

  /** Per-user open-session state for [[sessionizeSessions]]. */
  final case class OpenSession(start_tus: Long, lastTus: Long, nEvents: Long)

  /** Gap-based sessionization emitting CLOSED session rows via
    * flatMapGroupsWithState: a session is emitted the moment a later
    * event (possibly batches later) arrives more than the gap after it;
    * the open tail session stays in state. Append-style output — the
    * natural shape for a session log sink. */
  def sessionizeSessions(events: Dataset[Ev]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tus, e.event_id))
          val closed = Seq.newBuilder[ClosedSession]
          var open = state.getOption
          sorted.foreach { e =>
            open match {
              case Some(s) if e.tus - s.lastTus <= SessionGapUs =>
                open = Some(OpenSession(s.start_tus, e.tus, s.nEvents + 1))
              case Some(s) =>
                closed += ClosedSession(userId, s.start_tus, s.lastTus, s.nEvents)
                open = Some(OpenSession(e.tus, e.tus, 1))
              case None =>
                open = Some(OpenSession(e.tus, e.tus, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Gap-based sessionization via mapGroupsWithState: the streaming twin
    * of Relational.evSessionize. Events may arrive across many
    * micro-batches; state carries the last-seen timestamp so a gap that
    * spans a batch boundary still splits sessions identically. Within a
    * micro-batch the group's new events are sorted by (tus, event_id) —
    * same total order as the batch window spec. */
  /** Last-seen event per user — [[transitionsStream]] state (O(users),
    * three fields — never the event history). */
  final case class LastEv(tus: Long, eventId: Long, eventType: String)

  /** One observed transition edge. */
  final case class Transition(from_type: String, to_type: String)

  /** Streaming twin of ev_top_transitions: emits each (event_type →
    * next event_type) pair of a user's stream as it completes, gap-
    * gated at the [[SessionGapUs]] session boundary. State is ONE
    * [[LastEv]] row per user — O(users) forever, like [[sessionize]].
    *
    * Ordering contract: within a micro-batch events sort by
    * (tus, event_id) — the batch window's total order — so intra-batch
    * reordering is free; ACROSS batches delivery must be per-user
    * in-order (the kafka-partition-per-user contract). An event at or
    * behind the per-user high-water mark is DROPPED (no emit, no state
    * advance): an exact replay of the last event is suppressed for
    * free, and a genuinely late event loses its two transitions rather
    * than corrupting neighbors — the same drop-beats-corrupt tradeoff
    * the watermarked ops make. Downstream the edge counts are a plain
    * streaming groupBy count — mergeable, any micro-batching. */
  def transitionsStream(events: Dataset[Ev]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[Ev], state: GroupState[LastEv]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tus, e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            val after = last.forall(l =>
              e.tus > l.tus || (e.tus == l.tus && e.event_id > l.eventId))
            if (after) {
              last.foreach { l =>
                if (e.tus - l.tus <= SessionGapUs)
                  out += Transition(l.eventType, e.event_type)
              }
              last = Some(LastEv(e.tus, e.event_id, e.event_type))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Per-user funnel state: the (tus, event_id) high-water mark (drop
    * rule) plus the three step timestamps (Long.MinValue = unset).
    * Five fields per user, O(users) forever — never the event
    * history. */
  final case class FunnelSt(hwmT: Long, hwmId: Long,
      t1: Long, t2: Long, t3: Long)

  /** Running per-user deepest funnel step. */
  final case class UserSteps(user_id: Long, steps: Int)

  /** Streaming twin of ev_funnel: per user, the deepest step of the
    * view → click (≤24 h) → purchase (≤24 h) funnel seen so far, via
    * ONE [[FunnelSt]] row per user in mapGroupsWithState. The batch
    * rule binds t1 to the FIRST view and each next step to the FIRST
    * qualifying event after it; under per-user in-order delivery (the
    * [[transitionsStream]] kafka-partition-per-user contract, same
    * at-or-behind high-water drop — replays suppressed, a late event
    * loses its step rather than rewriting history) "first qualifying
    * in arrival order" IS the batch min, and a qualifying step's
    * strict tus > previous-step tus means its predecessor is always
    * already bound when it arrives. The emitted deepest-step is
    * MONOTONE per user, so the downstream histogram folds with
    * max(steps) per user — any micro-batching. The 24 h window is
    * the batch operator's own constant ([[EventOps.W24h]] — one
    * definition, the funnelSteps discipline). */
  /** ONE definition of the funnel state fold (the batch funnelSteps
    * rule in JVM form), shared by the update-mode and append-mode
    * twins. */
  private def foldFunnel(prev: FunnelSt, evs: Iterator[Ev]): FunnelSt = {
    val W = graft.operators.EventOps.W24h
    val U = Long.MinValue
    var s = prev
    evs.toSeq.sortBy(e => (e.tus, e.event_id)).foreach { e =>
      val after = s.hwmT == U || e.tus > s.hwmT ||
        (e.tus == s.hwmT && e.event_id > s.hwmId)
      if (after) {
        var (t1, t2, t3) = (s.t1, s.t2, s.t3)
        e.event_type match {
          case "view" if t1 == U => t1 = e.tus
          case "click" if t1 != U && t2 == U &&
            e.tus > t1 && e.tus <= t1 + W => t2 = e.tus
          case "purchase" if t2 != U && t3 == U &&
            e.tus > t2 && e.tus <= t2 + W => t3 = e.tus
          case _ =>
        }
        s = FunnelSt(e.tus, e.event_id, t1, t2, t3)
      }
    }
    s
  }

  private def funnelSteps(s: FunnelSt): Int = {
    val U = Long.MinValue
    if (s.t3 != U) 3 else if (s.t2 != U) 2 else if (s.t1 != U) 1 else 0
  }

  def funnelStream(events: Dataset[Ev]): Dataset[UserSteps] = {
    import events.sparkSession.implicits._
    val U = Long.MinValue
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, UserSteps] {
        (uid: Long, evs: Iterator[Ev], state: GroupState[FunnelSt]) =>
          val s = foldFunnel(
            state.getOption.getOrElse(FunnelSt(U, U, U, U, U)), evs)
          state.update(s)
          UserSteps(uid, funnelSteps(s))
      }
  }

  /** [[funnelStream]] re-shaped for an APPEND sink: emits each touched
    * user's current deepest step once per micro-batch. The deepest
    * step is MONOTONE per user, so the snapshot log folds with
    * max(steps) under any micro-batching — the gated readback's merge.
    * Same [[foldFunnel]] as the update twin. */
  def funnelSnapshotStream(events: Dataset[Ev]): Dataset[UserSteps] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val U = Long.MinValue
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, UserSteps](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[FunnelSt]) =>
          val s = foldFunnel(
            state.getOption.getOrElse(FunnelSt(U, U, U, U, U)), evs)
          state.update(s)
          Iterator.single(UserSteps(uid, funnelSteps(s)))
      }
  }

  /** Per-user attribution state: the overall high-water mark (drop
    * rule) plus the last NON-purchase touch. touchTus == Long.MinValue
    * means no touch seen yet. O(users) forever — four fields, never
    * the event history. */
  /** Per-user first-appearance row (epoch day of the user's earliest
    * event seen so far). */
  final case class UserFirstDay(user_id: Long, first_d: Long)

  /** Streaming twin of ev_new_vs_returning's core: each user's
    * first-ever active day as a running MIN — a join-semilattice like
    * [[abTestStream]]'s conversion flag, so replays, reordering, and
    * duplicates are free and no high-water mark exists. The daily
    * new-user counts are the downstream fold over the emitted states
    * (StreamingSpec pins them against the batch query's new_users
    * column); the returning side needs the per-day active sets and
    * stays a batch/windowed concern by design — the STATE this twin
    * maintains (the first-appearance table) is exactly what the batch
    * op's scaladoc says production persists incrementally. */
  def newVsReturningStream(events: Dataset[Ev]): Dataset[UserFirstDay] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Long, UserFirstDay] {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(Long.MaxValue)
          val d = foldFirstDay(prev, evs)
          state.update(d)
          UserFirstDay(uid, d)
      }
  }

  /** [[newVsReturningStream]] re-shaped for an APPEND sink (the
    * abTestSnapshotStream move): each micro-batch emits every touched
    * user's current running-min first day. min is a join-semilattice,
    * so the snapshot log folds exactly (min per user) under any
    * micro-batching — the property the gated readback relies on. */
  def newVsReturningSnapshotStream(events: Dataset[Ev]): Dataset[UserFirstDay] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserFirstDay](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val d = foldFirstDay(state.getOption.getOrElse(Long.MaxValue), evs)
          state.update(d)
          Iterator.single(UserFirstDay(uid, d))
      }
  }

  /** ONE definition of the running first-day fold, shared by the
    * update-mode and append-mode first-appearance twins. */
  private def foldFirstDay(prev: Long, evs: Iterator[Ev]): Long =
    evs.foldLeft(prev) { (acc, e) =>
      math.min(acc, Math.floorDiv(e.tus, 86400000000L))
    }

  /** Per-user A/B row: deterministic arm + running conversion flag. */
  final case class AbUser(user_id: Long, arm_b: Int, conv: Int)

  /** Streaming twin of ev_ab_test's per-user core: each user's arm is
    * the SAME md5-parity hash the batch query computes (arm membership
    * is a pure function of the key — the property that makes a
    * streaming experiment well-defined at all), and the conversion
    * flag is a running max over the purchase-value gate. The flag is a
    * JOIN-SEMILATTICE (max of a 0/1 per-event gate), so unlike the
    * additive counters this twin needs NO high-water mark: replays,
    * reordering, and duplicate delivery all collapse into the same
    * fixed point for free. State is one Int per user; the arm totals
    * are the downstream mergeable groupBy (StreamingSpec folds the
    * emitted rows and pins equality with the batch readout's
    * accumulators). */
  def abTestStream(events: Dataset[Ev]): Dataset[AbUser] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Int, AbUser] {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Int]) =>
          val conv = foldConv(state.getOption.getOrElse(0), evs)
          state.update(conv)
          AbUser(uid, abArm(uid), conv)
      }
  }

  /** ONE definition of the running conversion fold (the JVM spelling
    * of EventOps.AbConvGate), shared by the update-mode and
    * append-mode A/B twins. */
  private def foldConv(prev: Int, evs: Iterator[Ev]): Int =
    evs.foldLeft(prev) { (acc, e) =>
      if (e.event_type == "purchase" && e.value > 150) 1 else acc
    }

  /** [[abTestStream]] re-shaped for an APPEND sink (the
    * [[hllSnapshotStream]] move): each micro-batch emits every touched
    * user's current (arm, conv) row. conv is a running max of a 0/1
    * gate — a join-semilattice — and the arm is a pure function of the
    * key, so the snapshot log folds exactly (max per user) under any
    * micro-batching; the gated readback folds and then applies the
    * batch readout's own accumulator + derived-column strings. */
  def abTestSnapshotStream(events: Dataset[Ev]): Dataset[AbUser] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, AbUser](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Int]) =>
          val conv = foldConv(state.getOption.getOrElse(0), evs)
          state.update(conv)
          Iterator.single(AbUser(uid, abArm(uid), conv))
      }
  }

  /** The batch query's arm hash, in JVM form: first 16 bits of
    * md5(uid decimal string), parity — bit-equal to Spark SQL's
    * `conv(substr(md5(CAST(uid AS STRING)), 1, 4), 16, 10) % 2`. */
  def abArm(uid: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(uid.toString.getBytes("UTF-8"))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 2
  }

  final case class AttrState(hwTus: Long, hwId: Long,
      touchTus: Long, touchType: String)

  /** One attributed conversion (the purchase's raw value rides along;
    * cents conversion and the conversions/revenue rollup are the
    * downstream mergeable groupBy, like [[transitionsStream]]'s edge
    * counts). */
  final case class Attribution(source_type: String, value: Double)

  /** Streaming twin of ev_attribution: emits each purchase's
    * last-touch credit as it happens. Same ordering and drop contract
    * as [[transitionsStream]] — intra-batch sort by (tus, event_id),
    * per-user in-order delivery across batches, at-or-behind events
    * dropped (exact replays suppressed for free; a late purchase loses
    * its credit rather than crediting a future touch). A purchase
    * advances the high-water mark but never becomes the touch, exactly
    * like the batch window's when-guard. */
  def attributionStream(events: Dataset[Ev]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[Ev], state: GroupState[AttrState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tus, e.event_id))
          val out = Seq.newBuilder[Attribution]
          var s = state.getOption
            .getOrElse(AttrState(Long.MinValue, Long.MinValue, Long.MinValue, ""))
          sorted.foreach { e =>
            val after = e.tus > s.hwTus ||
              (e.tus == s.hwTus && e.event_id > s.hwId)
            if (after) {
              if (e.event_type == "purchase") {
                val src =
                  if (s.touchTus != Long.MinValue &&
                    e.tus - s.touchTus <= SessionGapUs) s.touchType
                  else "direct"
                out += Attribution(src, e.value)
                s = s.copy(hwTus = e.tus, hwId = e.event_id)
              } else {
                s = AttrState(e.tus, e.event_id, e.tus, e.event_type)
              }
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Per-user decayed-score state: high-water mark (drop rule) + the
    * exact micro-unit sum and event count. O(users) forever — four
    * longs, never the event history. */
  final case class DecayState(hwTus: Long, hwId: Long,
      nEvents: Long, units: Long)

  /** Running per-user decayed score in exact micro-units. */
  final case class UserDecayed(user_id: Long, n_events: Long,
      decayed_units: Long)

  /** Streaming twin of ev_decayed_score. The batch op anchors the
    * decay at the corpus max timestamp — unknowable mid-stream — so
    * the anchor is a PARAMETER here (the training-cutoff timestamp a
    * production scorer fixes up front); batch equality holds when the
    * spec anchors both at the same instant. Because each event's term
    * is quantized to integer micro-units BEFORE accumulation (the
    * batch op's own move, replayed verbatim: same pow, same HALF_UP
    * rounding via BigDecimal — Spark SQL round's semantics — same
    * [[graft.operators.EventOps.HalfLifeUs]]), the state sum is an
    * exact BIGINT: micro-batching and arrival order cannot move it.
    * Replays are suppressed by the [[transitionsStream]] at-or-behind
    * drop contract (a decayed SUM is not a semilattice like HLL/KMV/
    * top-k state — re-adding a replayed term would corrupt, so the
    * high-water mark does the suppressing instead). */
  /** ONE definition of the decayed-sum fold (high-water drop + exact
    * micro-unit term quantization), shared by both decay twins. */
  private def foldDecay(prev: DecayState, evs: Iterator[Ev],
      anchorUs: Long): DecayState = {
    val halfLife = graft.operators.EventOps.HalfLifeUs
    var s = prev
    evs.toSeq.sortBy(e => (e.tus, e.event_id)).foreach { e =>
      val after = e.tus > s.hwTus ||
        (e.tus == s.hwTus && e.event_id > s.hwId)
      if (after) {
        val term = java.math.BigDecimal.valueOf(
            e.value * math.pow(0.5,
              (anchorUs - e.tus).toDouble / halfLife) * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        s = DecayState(e.tus, e.event_id, s.nEvents + 1, s.units + term)
      }
    }
    s
  }

  def decayedScoreStream(events: Dataset[Ev], anchorUs: Long): Dataset[UserDecayed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[DecayState, UserDecayed] {
        (userId: Long, evs: Iterator[Ev], state: GroupState[DecayState]) =>
          val s = foldDecay(state.getOption
            .getOrElse(DecayState(Long.MinValue, Long.MinValue, 0L, 0L)),
            evs, anchorUs)
          state.update(s)
          UserDecayed(userId, s.nEvents, s.units)
      }
  }

  /** [[decayedScoreStream]] re-shaped for an APPEND sink: emits each
    * touched user's current (n_events, units) once per micro-batch.
    * n_events is STRICTLY monotone per emission, so the sink log folds
    * with argmax-by-n_events (max of the (n_events, units) struct) —
    * the latest state wins under any micro-batching, with no
    * assumption on the sign of the decayed terms. Same high-water
    * replay drop as the update twin. */
  def decayedSnapshotStream(events: Dataset[Ev], anchorUs: Long)
      : Dataset[UserDecayed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DecayState, UserDecayed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[DecayState]) =>
          val s = foldDecay(state.getOption
            .getOrElse(DecayState(Long.MinValue, Long.MinValue, 0L, 0L)),
            evs, anchorUs)
          state.update(s)
          Iterator.single(UserDecayed(userId, s.nEvents, s.units))
      }
  }

  /** Per-type anomaly-detector state: the hour→count table (capped to
    * the newest [[AnomalyCapHours]] hours) plus the per-type
    * high-water mark for the at-or-behind replay drop. */
  final case class AnomalyState(hwTus: Long, hwId: Long,
      hours: Map[Long, Long])

  /** Running anomaly report for one event type: the flagged hours
    * encoded `hour=cnt=dirn=zsq` (sorted by hour, ';'-joined) — a
    * stable encoding the spec compares against the batch rows. */
  final case class TypeAnomalies(event_type: String, flags: String)

  /** Hour-table cap: 2048 hours (~85 days) of per-type state — the
    * boundedness contract on an unbounded stream. Inside the horizon
    * the recomputed stats equal the batch query's full-corpus stats
    * (the spec's corpus spans ~700 hours); past it the detector
    * becomes a sliding-window variant by declared design. */
  val AnomalyCapHours = 2048

  /** Streaming twin of ev_anomaly: per event type, maintain hourly
    * counts and re-derive the |z| ≥ 2 flag set each micro-batch with
    * the batch query's EXACT integer test (a²(n−1) ≥ 4dn on BigInt —
    * no float state at all, so micro-batching cannot move a flag).
    * Replay safety comes from the [[transitionsStream]] at-or-behind
    * high-water drop (counts are additive, not a semilattice — a
    * replayed event would double-count). State is O(types ×
    * [[AnomalyCapHours]]) forever. */
  /** ONE definition of the anomaly hour-table fold (high-water drop +
    * cap eviction), shared by both anomaly twins. */
  private def foldAnomaly(prev: AnomalyState, evs: Iterator[Ev]): AnomalyState = {
    var s = prev
    evs.toSeq.sortBy(e => (e.tus, e.event_id)).foreach { e =>
      val after = e.tus > s.hwTus ||
        (e.tus == s.hwTus && e.event_id > s.hwId)
      if (after) {
        val h = Math.floorDiv(e.tus, 3600000000L)
        s = AnomalyState(e.tus, e.event_id,
          s.hours.updated(h, s.hours.getOrElse(h, 0L) + 1))
      }
    }
    if (s.hours.size > AnomalyCapHours)
      s = s.copy(hours = s.hours.toSeq.sortBy(-_._1).take(AnomalyCapHours).toMap)
    s
  }

  /** One per-batch anomaly-state snapshot: the RAW per-type hour→count
    * table plus the high-water mark — the mark is strictly monotone
    * per emission, so the sink log folds with argmax by (hwTus, hwId)
    * (latest table wins) and the flag derivation reruns BATCH-side on
    * the folded counts (EventOps.anomalyFromHourly — the raw z_sq
    * arithmetic never streams, so the oracle's un-rounded doubles are
    * reproducible). */
  final case class AnomSnapshot(event_type: String, hwTus: Long,
      hwId: Long, hs: Seq[Long], cnts: Seq[Long])

  /** [[anomalyStream]] re-shaped for an APPEND sink. Same
    * [[foldAnomaly]]. */
  def anomalySnapshotStream(events: Dataset[Ev]): Dataset[AnomSnapshot] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (t: String, evs: Iterator[Ev], state: GroupState[AnomalyState]) =>
          val s = foldAnomaly(state.getOption
            .getOrElse(AnomalyState(Long.MinValue, Long.MinValue, Map.empty)),
            evs)
          state.update(s)
          val sorted = s.hours.toSeq.sortBy(_._1)
          Iterator.single(AnomSnapshot(t, s.hwTus, s.hwId,
            sorted.map(_._1), sorted.map(_._2)))
      }
  }

  def anomalyStream(events: Dataset[Ev]): Dataset[TypeAnomalies] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[AnomalyState, TypeAnomalies] {
        (t: String, evs: Iterator[Ev], state: GroupState[AnomalyState]) =>
          val s = foldAnomaly(state.getOption
            .getOrElse(AnomalyState(Long.MinValue, Long.MinValue, Map.empty)),
            evs)
          state.update(s)
          val n = BigInt(s.hours.size)
          val cnts = s.hours.values.map(BigInt(_))
          val sum = cnts.sum
          val ss = cnts.map(c => c * c).sum
          val flags = s.hours.toSeq.sortBy(_._1).flatMap { case (h, cnt) =>
            val a = n * cnt - sum
            val d = n * ss - sum * sum
            if (n >= 2 && d > 0 && a * a * (n - 1) >= d * n * 4) {
              val z = (a * a * (n - 1)).toDouble / (d * n).toDouble
              val z4 = BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble
              Some(s"$h=$cnt=${if (a > 0) "high" else "low"}=$z4")
            } else None
          }
          TypeAnomalies(t, flags.mkString(";"))
      }
  }

  /** Per-(type, 4 h bar) OHLC state: open/close carry their
    * (tus, event_id) witness so each is an argmin/argmax on the batch
    * query's total order. */
  final case class OhlcState(otus: Long, oid: Long, open: Long,
      ctus: Long, cid: Long, close: Long, high: Long, low: Long)

  /** Running OHLC per (event_type, bar) in 1e-6 BIGINT units. */
  final case class BarOhlc(event_type: String, bar: Long, open_u: Long,
      high_u: Long, low_u: Long, close_u: Long)

  /** Streaming OHLC bars — the streaming twin of the batch
    * ev_ohlc_bars, and a NEW state shape for the twin family:
    * argmin/argmax-by-witness. All four components are join-
    * semilattices — open/close are min/max on the lexicographic
    * (tus, event_id) total order (the witness rides in the state so a
    * later micro-batch can lose the comparison), high/low plain
    * max/min on the value — so replays and out-of-order delivery can
    * only re-assert, never corrupt, with NO ordering contract needed
    * (unlike the sessionizer's gap rule). Count/volume are
    * deliberately absent: sums are not idempotent under replay — a
    * pipeline that needs them runs the counting twins alongside.
    * State is O(bars × 8 longs); bars ever-grow with time, so a
    * production deployment ages out closed bars via the watermark
    * (the hourlyAggWatermarked pattern) — state here is bounded by
    * the spec's corpus. Values quantize with math.round: HALF_UP for
    * the positive-value domain, matching the batch CAST(round(v*1e6))
    * contract. */
  /** ONE definition of the OHLC semilattice fold, shared by both
    * twins. */
  private def foldOhlc(prev: OhlcState, evs: Iterator[Ev]): OhlcState = {
    var s = prev
    evs.foreach { e =>
      val vq = math.round(e.value * 1e6)
      if (e.tus < s.otus || (e.tus == s.otus && e.event_id < s.oid))
        s = s.copy(otus = e.tus, oid = e.event_id, open = vq)
      if (e.tus > s.ctus || (e.tus == s.ctus && e.event_id > s.cid))
        s = s.copy(ctus = e.tus, cid = e.event_id, close = vq)
      if (vq > s.high) s = s.copy(high = vq)
      if (vq < s.low) s = s.copy(low = vq)
    }
    s
  }

  private val OhlcZero = OhlcState(
    Long.MaxValue, Long.MaxValue, 0L,
    Long.MinValue, Long.MinValue, 0L, Long.MinValue, Long.MaxValue)

  def ohlcStream(events: Dataset[Ev]): Dataset[BarOhlc] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.event_type, e.tus / 14400000000L))
      .mapGroupsWithState[OhlcState, BarOhlc] {
        (key: (String, Long), evs: Iterator[Ev], state: GroupState[OhlcState]) =>
          val (ty, bar) = key
          val s = foldOhlc(state.getOption.getOrElse(OhlcZero), evs)
          state.update(s)
          BarOhlc(ty, bar, s.open, s.high, s.low, s.close)
      }
  }

  /** One per-batch OHLC snapshot WITH the open/close witnesses riding
    * along — unlike [[BarOhlc]], this row is mergeable: open folds as
    * argmin by (otus, oid), close as argmax by (ctus, cid), high/low
    * as plain max/min — all join-semilattices, so the sink log folds
    * exactly under any micro-batching. */
  final case class OhlcSnapshot(event_type: String, bar: Long,
      otus: Long, oid: Long, open_u: Long,
      ctus: Long, cid: Long, close_u: Long, high_u: Long, low_u: Long)

  /** [[ohlcStream]] re-shaped for an APPEND sink, emitting the full
    * witness-carrying state per batch. Same [[foldOhlc]]. */
  def ohlcSnapshotStream(events: Dataset[Ev]): Dataset[OhlcSnapshot] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(e => (e.event_type, e.tus / 14400000000L))
      .flatMapGroupsWithState[OhlcState, OhlcSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), evs: Iterator[Ev], state: GroupState[OhlcState]) =>
          val (ty, bar) = key
          val s = foldOhlc(state.getOption.getOrElse(OhlcZero), evs)
          state.update(s)
          Iterator.single(OhlcSnapshot(ty, bar, s.otus, s.oid, s.open,
            s.ctus, s.cid, s.close, s.high, s.low))
      }
  }

  /** Session windows via Spark's BUILT-IN `session_window` aggregation
    * — the declarative state path next to [[sessionize]]'s explicit
    * mapGroupsWithState one (same 30-min gap; the batch twin is
    * EventOps.evSessionNative, same API on the same rows). The engine
    * owns the state: per-(user, open-window) rows that MERGE when late
    * events bridge two windows, finalize in append mode once the
    * watermark passes window end, and are evicted — state is O(open
    * sessions), the only bound that survives an unbounded stream.
    * Emits one row per CLOSED session; StreamingSpec flushes the
    * watermark with a sentinel key and proves the closed set equals
    * the same aggregation run in batch mode on the same rows. */
  def sessionWindowStream(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), col("sw.start").as("w_start"),
        col("sw.end").as("w_end"), col("n_ev"))

  /** §2.8 promoted to the ORACLE gate (VERDICT r8 missing #1):
    * [[hourlyAggWatermarked]] driven end to end as a REAL streaming
    * query — file source → watermarked append-mode agg → parquet file
    * sink with its own checkpoint — on the actual events corpus, then
    * the SINK read back as the query result. The DuckDB oracle is the
    * SAME SQL as the batch ev_hourly_agg, so the gate proves the
    * streaming pipeline's emitted output is row/schema/hash-identical
    * to the batch aggregate: every window emitted exactly once,
    * none lost to state at shutdown, none duplicated by the sink.
    *
    * The flush sentinel: append-mode only emits a window once the
    * watermark passes its end, so a finite input's trailing windows
    * would otherwise stay in state forever. One synthetic event 48 h
    * past max(ts) (filtered from the readback — its own window is
    * never emitted, being beyond the final watermark) pushes the
    * watermark past every real window. This is the standard drain
    * move for batch-replay-through-streaming; on an unbounded
    * production stream the watermark advances by itself and no
    * sentinel exists. */
  def streamHourlyAggGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    replay(spark, dir, "hourly", Seq(ev),
      sentinel = Some(maxTs => org.apache.spark.sql.Row(
        new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000),
        "__flush__", 0.0)))(s => hourlyAggWatermarked(s.head))
      .filter(col("event_type") =!= "__flush__")
      .orderBy("hour", "event_type")
  }

  /** §2.8 oracle promotion #2 — the STATEFUL-MERGE shape: the native
    * session-window stream ([[sessionWindowStream]], engine-owned
    * merging state) driven through the same file-source → file-sink
    * lifecycle, its emitted closed sessions rolled up per user and
    * gated with the SAME oracle as the batch ev_session_native. The
    * sentinel user (-1) advances the watermark past every real
    * session's end so all of them close and emit; its own open
    * session never does. */
  def streamSessionizeGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
      .select(col("user_id"), col("ts"))
    val emitted = replay(spark, dir, "sessions", Seq(ev),
      sentinel = Some(maxTs => org.apache.spark.sql.Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000))))(
      s => sessionWindowStream(s.head))
    emitted.filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_ev").as("n_events"))
      .orderBy("user_id")
  }

  /** §2.8 oracle promotion #3 — the STREAM-STREAM shape:
    * [[viewClickJoin]] (watermarked interval join, per-side state
    * retention derived from the time bound) driven through two real
    * file sources into a checkpointed parquet sink. Inner-join matches
    * emit AS THEY FORM in append mode — no flush sentinel exists or is
    * needed; the watermark's only job is state eviction. The emitted
    * pair log is rolled up per click and LEFT-joined against the click
    * dimension (zero-match clicks never appear in an inner join's
    * output — the readout completes them, as a production readout
    * would), then gated with the SAME oracle as the batch
    * ev_range_join. Hash-equality proves the streaming join emitted
    * EXACTLY the batch pair set: nothing dropped, nothing duplicated
    * across the source → state → sink lifecycle. */
  def streamRangeJoinGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("vts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    // A zero-pair corpus leaves a data-less sink: readSink reads it as
    // zero rows.
    val counts = replay(spark, dir, "rjoin", Seq(views, clicks))(
        s => viewClickJoin(s(0), s(1)))
      .groupBy(col("c_user").as("user_id"), col("click_id").as("event_id"))
      .agg(count(lit(1)).as("n"))
    clicks
      .select(col("c_user").as("user_id"), col("click_id").as("event_id"))
      .join(counts, Seq("user_id", "event_id"), "left")
      .select(col("user_id"), col("event_id"),
        coalesce(col("n"), lit(0L)).as("n_prior_views"))
      .orderBy("user_id", "event_id")
  }

  /** §2.8 oracle promotion #4 — the CUSTOM-STATE shape:
    * [[transitionsStream]] (flatMapGroupsWithState, one LastEv row per
    * user, the at-or-behind high-water drop) through a file source and
    * checkpointed parquet sink, its emitted edge log rolled up and
    * gated with the SAME oracle as the batch ev_top_transitions.
    * Edges emit during the data batch itself (append mode, NoTimeout —
    * the operator owns its emission, no watermark/sentinel involved);
    * the per-batch (tus, event_id) sort inside the operator makes the
    * single-batch replay process every user fully in order, so the
    * emitted set IS the batch lead() pair set — which the hash gate
    * then proves. */
  def streamTransitionsGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    replay(spark, dir, "trans", Seq(evInput(spark, dir)))(
        s => transitionsStream(s.head.as[Ev]).toDF())
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
      .limit(20)
  }

  /** §2.8 oracle promotion #5 — the BUILT-IN DEDUP STATE shape:
    * [[dedupStream]] (watermarked dropDuplicates) with the suppression
    * made REAL and gated: the staged input is the events corpus PLUS
    * an exact-duplicate slice (every 10th event re-delivered — the
    * at-least-once redelivery this operator exists for), and the
    * oracle is the PLAIN events table — so the hash gate passes ONLY
    * if every duplicate was suppressed and every original survived.
    * Deduped rows pass through to the append sink on first sight (no
    * watermark wait); the sentinel just exercises the eviction path
    * before shutdown. */
  def streamDedupGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val withDups = ev.unionAll(ev.filter(col("event_id") % 10 === 0))
    replay(spark, dir, "dedup", Seq(withDups),
      sentinel = Some(maxTs => org.apache.spark.sql.Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000),
        -1L, "__flush__", 0.0)))(s => dedupStream(s.head))
      .filter(col("event_id") >= 0)
      .orderBy("event_id")
  }

  /** §2.8 oracle promotion #6 (VERDICT r9 #2) — the SKETCH-STATE
    * shape, HLL: [[hllSnapshotStream]] driven through the file-source →
    * checkpointed-parquet-sink lifecycle on the SAME distinct-key hash
    * stream the batch agg_hll_distinct sketches, the sink's snapshot
    * log folded with register-wise max (the HLL merge), and the batch
    * estimator applied VERBATIM (Relational.HllEstExpr — one estimator
    * string in the codebase). Oracle: the same SQL as agg_hll_distinct,
    * so hash-equality proves the streaming sketch state that reached
    * the sink is indistinguishable from the batch sketch. No sentinel:
    * the operator emits during the data batch itself (append mode,
    * NoTimeout — no watermark involved). */
  def streamHllDistinctGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val hashed = sketchInput(spark, dir)
    val emitted = replay(spark, dir, "hll", Seq(hashed))(
      s => hllSnapshotStream(s.head.as[KeyedHash]).toDF())
    val folded = emitted
      .select(col("group"), posexplode(col("registers")).as(Seq("pos", "r")))
      .groupBy("group", "pos").agg(max("r").as("r"))
      .filter(col("r") > 0)
      .groupBy("group")
      .agg(count(lit(1)).as("present"),
        sum(expr("pow(CAST(2 AS DOUBLE), -r)")).as("sp"))
    val exact = emitted.groupBy("group").agg(max("n_seen").as("n_exact"))
    folded.join(exact, "group")
      .select(col("group").as("l_returnflag"),
        round(expr(graft.operators.Relational.HllEstExpr), 3).as("est_distinct"),
        col("n_exact"))
      .orderBy("l_returnflag")
  }

  /** §2.8 oracle promotion #7 — the SKETCH-STATE shape, KMV:
    * [[kmvSnapshotStream]] through the same lifecycle, the snapshot
    * log folded with the k-min-of-union merge (explode → distinct →
    * rank ≤ K — exactly [[graft.functions.KmvDistinct.merge]] as a
    * relational plan), the estimate derived with the Aggregator's
    * finish arithmetic. Oracle: the same SQL as agg_kmv_distinct. */
  def streamKmvDistinctGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val hashed = sketchInput(spark, dir)
    val emitted = replay(spark, dir, "kmv", Seq(hashed))(
      s => kmvSnapshotStream(s.head.as[KeyedHash]).toDF())
    val kmin = emitted
      .select(col("group"), explode(col("hs")).as("h")).distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("group").orderBy("h")))
      .filter(col("rn") <= graft.functions.KmvDistinct.K)
    // KmvDistinct.finish verbatim: exact count below K, else
    // (K-1) * 2^32 / h_K — 63 * 4294967296.0 is exact in double, one
    // final division, same association as the Aggregator and oracle.
    val est = kmin.groupBy("group")
      .agg(count(lit(1)).as("nmin"), max("h").as("hk"))
      .select(col("group"),
        round(expr("CASE WHEN nmin < 64 THEN CAST(nmin AS DOUBLE) " +
          "ELSE 63 * 4294967296.0 / hk END"), 3).as("est_distinct"))
    val exact = emitted.groupBy("group").agg(max("n_seen").as("n_exact"))
    est.join(exact, "group")
      .select(col("group").as("l_returnflag"), col("est_distinct"),
        col("n_exact"))
      .orderBy("l_returnflag")
  }

  /** The sketch twins' staged input: the SAME distinct-first key-hash
    * stream the batch agg_hll_distinct / agg_kmv_distinct sketch
    * (Relational.OrderkeyHash32 — one hash string, mirrored in both
    * oracles). */
  private def sketchInput(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .select(col("l_returnflag").as("group"),
        expr(graft.operators.Relational.OrderkeyHash32).as("h"))

  /** The [[Ev]] twins' staged input: the events corpus as [[Ev]] rows,
    * event time in micro-seconds. */
  private def evInput(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Tables(spark, dir).events
      .select(col("event_id"), unix_micros(col("ts")).as("tus"),
        col("user_id"), col("event_type"), col("value"))

  /** §2.8 oracle promotion #8 — the EXPERIMENT-READOUT shape:
    * [[abTestSnapshotStream]] through the same lifecycle on the real
    * events corpus, the per-user snapshot log folded with max(conv)
    * (the flag is a join-semilattice; the arm is a pure function of
    * the key), then the batch readout's OWN accumulator expressions
    * and derived columns (EventOps.AbReadout — the z², rate, and
    * accumulator strings are shared, not copied). Oracle: the same
    * SQL as ev_ab_test. */
  def streamAbTestGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val emitted = replay(spark, dir, "abtest", Seq(ev))(
      s => abTestSnapshotStream(s.head.as[Ev]).toDF())
    emitted.groupBy("user_id")
      .agg(max("conv").as("conv"), max("arm_b").as("arm_b"))
      .agg(
        sum(expr("CASE WHEN arm_b = 0 THEN 1 ELSE 0 END")).as("n_a"),
        sum(expr("CASE WHEN arm_b = 0 THEN conv ELSE 0 END")).as("c_a"),
        sum(expr("CASE WHEN arm_b = 1 THEN 1 ELSE 0 END")).as("n_b"),
        sum(expr("CASE WHEN arm_b = 1 THEN conv ELSE 0 END")).as("c_b"))
      .selectExpr(graft.operators.EventOps.AbReadout: _*)
  }

  /** §2.8 oracle promotion #21 (r12, VERDICT r11 #6 — the one
    * remaining cheaply-gateable update-mode twin): the FIRST-
    * APPEARANCE table, [[newVsReturningStream]] (per-user running-MIN
    * first active day — a join-semilattice, so the sink log folds
    * with min(first_d) under any micro-batching) through the sink
    * lifecycle, folded and rolled up to daily NEW-user counts — the
    * new_users column of ev_new_vs_returning, gated by the same
    * batch definition in the oracle. The returning side needs per-day
    * active sets (windowed state, not a per-user scalar) and stays
    * batch by design — that half is exactly what the batch op
    * computes FROM this persisted table. */
  def streamNewUsersGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val emitted = replay(spark, dir, "newusers", Seq(ev))(
      s => newVsReturningSnapshotStream(s.head.as[Ev]).toDF())
    emitted.groupBy("user_id").agg(min("first_d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
      .orderBy("d")
  }

  /** §2.8 oracle promotion #9 — the EMIT-AS-YOU-GO shape, attribution:
    * [[attributionStream]] (flatMapGroupsWithState, four fields per
    * user, at-or-behind high-water drop — the transitionsStream
    * contract) through the sink lifecycle; each purchase's credited
    * channel emits the moment it converts, the sink log rolls up with
    * the batch query's own per-row cents quantization, and the result
    * gates with the SAME oracle as ev_attribution. */
  def streamAttributionGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val emitted = replay(spark, dir, "attr", Seq(ev))(
      s => attributionStream(s.head.as[Ev]).toDF())
    emitted.groupBy("source_type")
      .agg(count(lit(1)).as("conversions"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("revenue_cents"))
      .orderBy("source_type")
  }

  /** §2.8 oracle promotion #10 — the MONOTONE-SNAPSHOT shape, funnel:
    * [[funnelSnapshotStream]] (per-user deepest step emitted per
    * batch; the step is monotone, so the sink log folds with
    * max(steps)) through the sink lifecycle, folded and histogrammed,
    * gated with the SAME oracle as ev_funnel. */
  def streamFunnelGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val emitted = replay(spark, dir, "funnel", Seq(ev))(
      s => funnelSnapshotStream(s.head.as[Ev]).toDF())
    emitted.groupBy("user_id").agg(max("steps").as("steps"))
      .groupBy("steps").agg(count(lit(1)).as("n_users"))
      .orderBy("steps")
  }

  /** §2.8 oracle promotion #11 — the BUFFER-SNAPSHOT shape, quantile
    * sample: [[quantileSnapshotStream]] on the SAME (group, md5 sample
    * key, cents) rows the batch agg_quantile_sample derives, the sink
    * log folded with the k-min-by-skey merge and the batch query's
    * integer nearest-rank estimates re-derived from the folded sample;
    * gated with the SAME oracle as agg_quantile_sample. */
  def streamQuantileGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = graft.Tables(spark, dir).lineitem
      .select(col("l_returnflag").as("group"),
        expr("md5(concat(CAST(l_orderkey AS STRING), '-', " +
          "CAST(l_linenumber AS STRING), '-', " +
          "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING)))")
          .as("skey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
    val emitted = replay(spark, dir, "qsample", Seq(rows))(
      s => quantileSnapshotStream(s.head.as[KeyedSample]).toDF())
    val merged = emitted
      .select(col("group"),
        explode(arrays_zip(col("skeys"), col("values"))).as("p"))
      .select(col("group"), col("p.skeys").as("skey"), col("p.values").as("v"))
      .distinct()
      .withColumn("srn", row_number().over(
        Window.partitionBy("group").orderBy("skey")))
      .filter(col("srn") <= 100)
      .drop("srn")
    val wR = Window.partitionBy("group").orderBy("v", "skey")
    val wK = Window.partitionBy("group")
    val est = merged
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("kg", count(lit(1)).over(wK))
      .groupBy("group")
      .agg(count(lit(1)).as("k"),
        max(when(col("rn") === expr("(kg + 1) div 2"), col("v"))).as("p50c"),
        max(when(col("rn") === expr("(9 * kg + 9) div 10"), col("v"))).as("p90c"))
    val n = emitted.groupBy("group").agg(max("n_seen").as("n"))
    est.join(n, "group")
      .select(col("group").as("grp"), col("n"), col("k"),
        (col("p50c").cast("double") / 100).as("p50_est"),
        (col("p90c").cast("double") / 100).as("p90_est"))
      .orderBy("grp")
  }

  /** §2.8 oracle promotion #12 — the ARGMAX-BY-COUNTER shape, decayed
    * score: [[decayedSnapshotStream]] (anchor fixed pre-stage at the
    * corpus max event time — the batch query's own anchor) through the
    * sink lifecycle; n_events is strictly monotone per emission, so
    * the log folds with max(struct(n_events, units)) — latest state
    * wins with no sign assumption on the terms — and the batch tail
    * (top-20, score division) runs on the fold. Gated with the SAME
    * oracle as ev_decayed_score. */
  def streamDecayedGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val anchorUs = ev.agg(max("tus")).first().getLong(0)
    val emitted = replay(spark, dir, "decay", Seq(ev))(
      s => decayedSnapshotStream(s.head.as[Ev], anchorUs).toDF())
    emitted.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("decayed_units"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.decayed_units").as("decayed_units"))
      .orderBy(desc("decayed_units"), col("user_id"))
      .limit(20)
      .select(col("user_id"), col("n_events"), col("decayed_units"),
        (col("decayed_units").cast("double") / 1000000).as("decayed_score"))
  }

  /** §2.8 oracle promotion #13 — the WITNESS-SNAPSHOT shape, OHLC:
    * [[ohlcSnapshotStream]] (open/close carry their (tus, event_id)
    * witnesses, so the sink log folds with argmin/argmax struct
    * comparisons — every component a join-semilattice) through the
    * sink lifecycle, PLUS the counting twin alongside for the batch
    * query's n/volume columns (exactly what the ohlcStream scaladoc
    * prescribes: sums are not idempotent, so they ride the counting
    * state, not the OHLC state — here [[graft.api.RedmapOps]]'
    * runningReduceByKeyOp with an argmax-by-count readback). Gated
    * with the SAME oracle as ev_ohlc_bars. */
  def streamOhlcGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    import graft.api.RedmapOps._
    val barUs = 14400000000L
    val ev = evInput(spark, dir)
    val ohlc = replay(spark, dir, "ohlc", Seq(ev))(
      s => ohlcSnapshotStream(s.head.as[Ev]).toDF())
      .groupBy("event_type", "bar")
      .agg(
        min(struct(col("otus"), col("oid"), col("open_u"))).as("o"),
        max(struct(col("ctus"), col("cid"), col("close_u"))).as("c"),
        max("high_u").as("high_u"), min("low_u").as("low_u"))
      .select(col("event_type"), col("bar"),
        col("o.open_u").as("open_u"), col("high_u"), col("low_u"),
        col("c.close_u").as("close_u"))
    val counts = replay(spark, dir, "ohlcn", Seq(ev))(
      s => s.head.as[Ev]
        .map(e => ((e.event_type, e.tus / barUs),
          (1L, math.round(e.value * 1e6))))
        .runningReduceByKeyOp((a, b) => (a._1 + b._1, a._2 + b._2))
        .map { case ((ty, bar), (n, vol)) => (ty, bar, n, vol) }
        .toDF("event_type", "bar", "n", "vol_u"))
      .groupBy("event_type", "bar")
      .agg(max(struct(col("n"), col("vol_u"))).as("m"))
      .select(col("event_type"), col("bar"),
        col("m.n").as("n"), col("m.vol_u").as("vol_u"))
    ohlc.join(counts, Seq("event_type", "bar"))
      .select(col("event_type"),
        expr(s"timestamp_micros(bar * $barUs)").as("bar_start"),
        col("open_u"), col("high_u"), col("low_u"), col("close_u"),
        col("n"), col("vol_u"))
      .orderBy("event_type", "bar_start")
  }

  /** §2.8 oracle promotion #14 — the SKETCH-TABLE shape, daily HLL:
    * [[dailyHllStream]] on the SAME distinct (day, user) hash stream
    * the batch ev_rolling_hll builds its registers from, the sink's
    * register-vector log folded with register-wise max, and the batch
    * query's 7-day rolling-window readout + estimator rerun on the
    * folded registers (same grid, same window, same HllEstExpr). Gated
    * with the SAME oracle as ev_rolling_hll — the persisted-sketch-
    * table production pattern (ingest streams, readouts fold state)
    * proven end to end. */
  def streamDailyHllGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = graft.Tables(spark, dir).events
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("user_id"))
      .distinct()
      .select(col("d").cast("string").as("group"),
        expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)").as("h"))
    val emitted = replay(spark, dir, "dailyhll", Seq(rows))(
      s => dailyHllSnapshotStream(s.head.as[KeyedHash]).toDF())
    val regs = emitted
      .select(col("group").cast("long").as("d"),
        posexplode(col("registers")).as(Seq("bucket", "rr")))
      .groupBy("d", "bucket").agg(max("rr").as("r"))
      .filter(col("r") > 0)
    val grid = regs.select("d").distinct()
      .select(col("d"), explode(expr("sequence(0L, 63L)")).as("bucket"))
    grid.join(regs, Seq("d", "bucket"), "left")
      .withColumn("rr", max("r").over(
        Window.partitionBy("bucket").orderBy("d").rangeBetween(-6, 0)))
      .groupBy("d")
      .agg(count(col("rr")).as("present"),
        sum(expr("pow(CAST(2 AS DOUBLE), -rr)")).as("sp"))
      .select(col("d").as("day"),
        round(expr(graft.operators.Relational.HllEstExpr), 3).as("est_users_7d"),
        col("present"))
      .orderBy("day")
  }

  /** §2.8 oracle promotion #15 — the RAW-STATE-TABLE shape, anomaly:
    * [[anomalySnapshotStream]] (per-type hour→count table + the
    * strictly monotone high-water mark) through the sink lifecycle,
    * the log folded with argmax by (hwTus, hwId) — latest table wins —
    * and the flag derivation rerun on the folded counts via the batch
    * query's OWN tail (EventOps.anomalyFromHourly: the exact-integer
    * test and raw z_sq — which never streams, so the oracle's
    * un-rounded doubles reproduce). Gated with the SAME oracle as
    * ev_anomaly. */
  def streamAnomalyGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val ev = evInput(spark, dir)
    val emitted = replay(spark, dir, "anom", Seq(ev))(
      s => anomalySnapshotStream(s.head.as[Ev]).toDF())
    val latest = emitted
      .groupBy("event_type")
      .agg(max(struct(col("hwTus"), col("hwId"),
        col("hs"), col("cnts"))).as("m"))
      .select(col("event_type"),
        explode(arrays_zip(col("m.hs"), col("m.cnts"))).as("p"))
      .select(col("event_type"), col("p.hs").as("h"), col("p.cnts").as("cnt"))
    graft.operators.EventOps.anomalyFromHourly(latest)
  }

  /** §2.8 oracle promotion #16 — the RANK-BUFFER shape, top-k:
    * [[topkSnapshotStream]] (the bounded insertion buffer emitted raw
    * per batch) over the orders stream, the sink log folded with the
    * buffer merge (per-id max, re-rank, cut at k) and gated with the
    * SAME oracle as q08_topk_orders — the streaming rank state's total
    * order ((value desc, id asc)) IS the batch query's. */
  def streamTopkGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val rows = graft.Tables(spark, dir).orders
      .select(lit("all").as("group"), col("o_orderkey").as("id"),
        col("o_totalprice").as("value"))
    val emitted = replay(spark, dir, "topk", Seq(rows))(
      s => topkSnapshotStream(s.head.as[KeyedValue], 20).toDF())
    emitted
      .select(explode(arrays_zip(col("ids"), col("values"))).as("p"))
      .select(col("p.ids").as("o_orderkey"), col("p.values").as("o_totalprice"))
      .groupBy("o_orderkey").agg(max("o_totalprice").as("o_totalprice"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(20)
  }

  /** §2.1's API surface under the streaming oracle gate (VERDICT r9
    * stretch): the EXACT mr_redmap_pipeline combinator chain — typed
    * RedmapOps facade, not a rewrite — run as a streaming query
    * through the file-source → checkpointed-parquet-sink lifecycle.
    * The stateless prefix (flatMapOp → filterOp → keyByOp →
    * mapValuesOp) is shared verbatim with the batch query; the shuffle
    * step swaps reduceByKeyOp (update-mode, append-incompatible) for
    * its streaming twin runningReduceByKeyOp (same fold `_ + _`,
    * snapshot-per-batch emission), and the batch tail (threshold
    * filter + global sort) runs on the folded sink readback — counts
    * are monotone under the exactly-once replay, so max per key IS the
    * final count. Oracle: the same SQL as mr_redmap_pipeline. */
  def streamRedmapGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val session = spark
    import session.implicits._
    import graft.api.RedmapOps._
    val docs = graft.Tables(spark, dir).documents.select("text")
    val emitted = replay(spark, dir, "redmap", Seq(docs))(s =>
      s.head.as[String]
        .flatMapOp(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq)
        .filterOp(_.length >= 4)
        .keyByOp(identity)
        .mapValuesOp(_ => 1L)
        .runningReduceByKeyOp(_ + _)
        .toDF("word", "cnt"))
    emitted.groupBy("word").agg(max("cnt").as("cnt"))
      .filter(col("cnt") >= 10L)
      .orderBy("word")
  }

  /** §2.8 MULTI-BATCH replay under the oracle gate (VERDICT r9 #3):
    * the same watermarked hourly aggregate as [[streamHourlyAggGated]],
    * but staged as THREE contiguous time-ordered source files plus the
    * sentinel file — each with a strictly increasing mtime — and the
    * source throttled with maxFilesPerTrigger=1, so batch boundaries
    * are deterministic (the file source admits oldest-mtime-first) and
    * the watermark genuinely ADVANCES between batches: windows
    * finalize, emit, and evict MID-STREAM, not only at the final
    * drain. Contiguity by event time is what makes a multi-batch
    * replay ordering-safe where an arbitrary split is not (the
    * [[replay]] scaladoc's caveat): every event in chunk k+1
    * is newer than chunk k's max, so nothing arrives behind the
    * watermark. The gate REQUIRES ≥5 checkpointed batches (4 file
    * batches + the no-data finalize batch) — it fails loudly if
    * the replay ever collapses back to one batch. Oracle: the same
    * SQL as stream_hourly_agg / ev_hourly_agg. */
  def streamHourlyMultiGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    // Sentinel tag is REPLAY-SHAPE-SPECIFIC ("_mb_"): the readback
    // filter's literal then differs from stream_hourly_agg's, so this
    // row's plan sha is independently auditable in the bench plan map
    // instead of aliasing its single-batch twin (VERDICT r10 wrong #3).
    replay(spark, dir, "hourlymb", Seq(ev),
      chunks = Seq(timeChunks(ev, "__flush_mb__")),
      check = { case Seq((_, n)) =>
        require(n >= 5, s"multi-batch replay collapsed to $n batches — " +
          "maxFilesPerTrigger=1 staging is not splitting")
      })(s => hourlyAggWatermarked(s.head))
      .filter(col("event_type") =!= "__flush_mb__")
      .orderBy("hour", "event_type")
  }

  /** §2.8 RESTART under the oracle gate (VERDICT r10 #4) — THE
    * production fault-tolerance contract, previously pinned only by
    * StreamingSpec's MemoryStream restart: the same watermarked hourly
    * aggregate, driven as TWO SEPARATE QUERY RUNS off ONE checkpoint.
    * Run 1 sees only the first two time-ordered chunks (AvailableNow
    * drains them and commits watermark + window state); while the
    * query is DOWN, the remaining chunk and the flush sentinel are
    * staged into the source dir; run 2 starts from the same
    * checkpoint, resumes the watermark mid-corpus, ingests the new
    * files, finalizes and evicts every remaining window. The sink —
    * the union of both runs' exactly-once appends under the file
    * sink's _spark_metadata log — must hash-match the SAME batch
    * oracle as stream_hourly_agg: nothing lost at the stop, nothing
    * replayed at the restart.
    *
    * Chunk contiguity by event time makes the stop point safe for the
    * same reason the multibatch replay is ([[streamHourlyMultiGated]]):
    * run 1's final watermark is chunk-1's max minus the delay, and a
    * window it finalized can contain no chunk-2 event (every one is
    * newer than chunk-1's max). The gate REQUIRES the two runs to be
    * genuinely disjoint: distinct streaming runIds off one checkpoint,
    * ≥2 committed batches before the stop, and ≥2 more after. */
  def streamHourlyRestartGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    // "_rs_" tag: same independent-plan-sha move as the multibatch
    // replay's "_mb_" (VERDICT r10 wrong #3) — the three hourly-agg
    // replay rows stay distinguishable in the bench plan map.
    val chunks = timeChunks(ev, "__flush_rs__")
    // Run 1 sees only the first two chunks; its stop is the query's own
    // AvailableNow termination — state and watermark stay committed in
    // the checkpoint with a third of the corpus still unseen. The rest
    // is staged while no query is running (VERDICT r10 missing #3's
    // exact scenario) and run 2 starts off the same checkpoint.
    replay(spark, dir, "hourlyrs", Seq(ev),
      chunks = Seq(chunks.take(2), chunks.drop(2)),
      check = { case Seq((run1, n1), (run2, n2)) =>
        require(n1 >= 2,
          s"restart gate: run 1 committed only $n1 batches before the stop")
        require(run2 != run1,
          "restart gate: the second start did not get a fresh runId — the " +
            "two runs are not distinct query executions")
        require(n2 >= n1 + 2,
          s"restart gate: run 2 added only ${n2 - n1} committed batches " +
            s"($n1 -> $n2) — the post-restart range is not disjoint")
      })(s => hourlyAggWatermarked(s.head))
      .filter(col("event_type") =!= "__flush_rs__")
      .orderBy("hour", "event_type")
  }

  /** The multi-batch and restart replays' staged chunks: `ev` cut at a
    * third and two thirds of its event-time range, then one sentinel
    * row tagged `flushTag` 48 h past max(ts) that drains the watermark.
    * Cut by event time, every event of chunk k+1 is newer than chunk
    * k's max, so a replay that reads them in order (the mtimes
    * [[replay]] stamps) never sees an event behind its watermark. */
  private def timeChunks(ev: DataFrame, flushTag: String): Seq[DataFrame] = {
    val b = ev.agg(min("ts"), max("ts")).first()
    val (t0, t1) = (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
    val cut1 = new java.sql.Timestamp(t0 + (t1 - t0) / 3)
    val cut2 = new java.sql.Timestamp(t0 + 2 * ((t1 - t0) / 3))
    Seq(
      ev.filter(col("ts") < lit(cut1)),
      ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
      ev.filter(col("ts") >= lit(cut2)),
      ev.sparkSession.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(
        new java.sql.Timestamp(t1 + 48L * 3600 * 1000), flushTag, 0.0)), ev.schema))
  }

  /** §2.8 oracle promotion #19 — the STREAM-STATIC shape, the last
    * stateless streaming face with no oracle row (VERDICT r10 #6):
    * [[enrichStream]] (per-micro-batch broadcast join against a
    * static dimension) driven through the file-source → checkpointed
    * parquet-sink lifecycle on the real corpus, the sink read back
    * row-for-row and gated against the plain batch dim-join SQL. No
    * sentinel and no watermark: the join is stateless, every batch's
    * output appends as it forms. Row-level (not aggregated) on
    * purpose — hash equality then proves per-event join fidelity and
    * exactly-once delivery at the finest grain the gate supports. */
  def streamEnrichGated(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    val ev = t.events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val dim = t.customer
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment"), col("c_nationkey"))
    replay(spark, dir, "enrich", Seq(ev))(s => enrichStream(s.head, dim))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment"), col("c_nationkey"))
      .orderBy("event_id")
  }

  /** Run `body` with `spark.sql.shuffle.partitions` sized to the
    * staged replay volume (r12 — see [[graft.plans.AdaptivePar]]),
    * restoring the session default after. Stateful operators create
    * one STATE STORE per shuffle partition, each paying per-batch
    * delta/snapshot/commit files in the checkpoint plus maintenance —
    * at the gate's staged-file volume a width-32 run is almost all
    * store plumbing (control: the gated stream family measured 1.7×
    * faster at local[4] than local[32] on identical data). Width
    * derives from the staged source bytes and caps at
    * defaultParallelism, so a production-volume source keeps the full
    * cluster width. Results are width-independent: state keys hash to
    * SOME partition either way, and every gated readout re-aggregates
    * and sorts. Scoped per query run (each gate builds a fresh
    * checkpoint, so the state-partition count pinned into it is
    * self-consistent); deliberately NOT applied by [[replay]] to a
    * replay of several query runs (the restart gate), which must agree
    * on the width a shared checkpoint pinned — it keeps the session
    * default. */
  private def withStreamWidth[T](spark: org.apache.spark.sql.SparkSession,
      stagedDirs: Seq[String])(body: => T): T = {
    val bytes = stagedDirs
      .map(graft.plans.AdaptivePar.pathBytes(spark, _))
    val width =
      if (bytes.exists(_ < 0)) spark.sparkContext.defaultParallelism
      else graft.plans.AdaptivePar.forBytes(spark, bytes.sum,
        graft.plans.AdaptivePar.StreamBytesPerTask)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The one batch-replay-through-streaming driver of the gated §2.8
    * queries. It names the work dir (keyed by corpus and pid, deleted
    * and rebuilt per call), reaps dead-pid dirs, stages one source dir
    * per frame of `frames`, runs `pipeline` over those sources into a
    * checkpointed parquet sink (append, AvailableNow) once per query
    * run, passes each run's (runId, committed batches) to `check`, and
    * reads the sink back.
    *
    * By default each frame is staged whole, as one file, plus the
    * optional `sentinel` row (built from the first frame's max
    * timestamp) as a second file of the first source, and ONE query
    * run ingests everything in one data batch with the watermark
    * genuinely behind it, then the no-data batch where the advanced
    * watermark finalizes, EMITS, and evicts every real window.
    * Deliberately NO maxFilesPerTrigger there: the file source admits
    * data against the watermark as of each batch's START, so splitting
    * the replay across batches makes correctness depend on cross-file
    * time order (same-second mtimes can even schedule the sentinel
    * FIRST, dropping the whole corpus as late) — the one-batch shape is
    * the only ordering-free replay. A production rerun gets ordering
    * from per-key-ordered (kafka) or time-partitioned input.
    *
    * With `chunks`, the one source is staged as those frames instead:
    * `chunks(k)` lands, one file per frame with strictly increasing
    * mtimes, just before query run k, and the source admits one file per
    * trigger, oldest mtime first — so the frames must be contiguous in
    * event time ([[timeChunks]]). More than one run restarts off the
    * same checkpoint, with new files staged while no query runs.
    *
    * A single run is sized by [[withStreamWidth]]; several runs keep
    * the session width, which the first run pins into the checkpoint. */
  private def replay(spark: org.apache.spark.sql.SparkSession,
      dir: String, tag: String, frames: Seq[DataFrame],
      sentinel: Option[java.sql.Timestamp => org.apache.spark.sql.Row] = None,
      chunks: Seq[Seq[DataFrame]] = Nil,
      check: Seq[(java.util.UUID, Int)] => Unit = _ => ())(
      pipeline: Seq[DataFrame] => DataFrame): DataFrame = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // Key the work dir by pid too (ADVICE r9): two JVMs on the same
    // corpus (a bench and a verify run) must not delete each other's
    // source/checkpoint/sink mid-stream. Within one JVM calls stay
    // serial per session, so the per-call delete remains safe.
    val work = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stream_${tag}_${key}_p${ProcessHandle.current().pid()}")
    reapDeadPidDirs()
    deleteRecursively(work)
    val srcs = frames.indices.map(i => work.resolve(if (i == 0) "src" else s"src_$i"))
    val sink = work.resolve("sink").toString
    val ckpt = work.resolve("ckpt")
    val mtimeBase = (System.currentTimeMillis / 1000) * 1000 - 3600L * 1000
    // Chunk k lands as src/chunk_k.parquet with mtime base + k minutes:
    // explicit mtimes pin the source's oldest-first admission order
    // regardless of write timing.
    var staged = 0
    def stageChunk(c: DataFrame): Unit = {
      val tmp = work.resolve(s"__stage_$staged")
      c.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val target = Files.move(part,
        Files.createDirectories(srcs.head).resolve(f"chunk_$staged%03d.parquet"))
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtimeBase + staged * 60000L))
      Files.list(tmp).iterator().asScala.toSeq.foreach(Files.deleteIfExists)
      Files.deleteIfExists(tmp)
      staged += 1
    }
    def stageWhole(): Unit = {
      frames.zip(srcs).foreach { case (f, src) => f.coalesce(1).write.parquet(src.toString) }
      sentinel.foreach { row =>
        val f = frames.head
        val tsCol = f.schema.fields
          .find(_.dataType == org.apache.spark.sql.types.TimestampType).get.name
        val maxTs = f.agg(max(tsCol)).first().getTimestamp(0)
        spark.createDataFrame(java.util.List.of(row(maxTs)), f.schema)
          .coalesce(1).write.mode("append").parquet(srcs.head.toString)
      }
    }
    def committedBatches(): Int = {
      val off = ckpt.resolve("offsets")
      if (!Files.exists(off)) 0
      else {
        val ls = Files.list(off)
        try ls.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
        finally ls.close()
      }
    }
    // Built by the first run, so inside withStreamWidth when it sizes.
    lazy val out = pipeline(frames.zip(srcs).map { case (f, src) =>
      val reader = spark.readStream.schema(f.schema)
      (if (chunks.isEmpty) reader else reader.option("maxFilesPerTrigger", "1"))
        .parquet(src.toString)
    })
    def run(): (java.util.UUID, Int) = {
      val q = out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (q.runId, committedBatches())
    }
    val runs: Seq[() => Unit] =
      if (chunks.isEmpty) Seq(() => stageWhole())
      else chunks.map(cs => () => cs.foreach(stageChunk))
    check(runs.map { stage =>
      stage()
      if (runs.size > 1) run()
      else withStreamWidth(spark, srcs.map(_.toString))(run())
    })
    readSink(spark, out, sink)
  }

  /** The parquet sink at `sink`, read with the schema of the streaming
    * frame `out` that wrote it: no footer-inference job, and an empty
    * sink reads as zero rows instead of failing inference. Every field
    * is nullable, as an inferred schema's is. */
  private def readSink(spark: org.apache.spark.sql.SparkSession,
      out: DataFrame, sink: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(
      out.schema.fields.map(_.copy(nullable = true)))).parquet(sink)

  /** Reap graft stream work dirs left by DEAD processes: the per-pid
    * keying that makes concurrent JVMs safe (ADVICE r9) also means a
    * crashed/killed run leaks its source+checkpoint+sink forever — a
    * long-lived node accumulating per-boot checkpoint dirs is a real
    * disk-pressure failure mode (measured here: 720 stale dirs, 14 GB,
    * after one round's boots). Scope: ONLY names matching this file's
    * own `graft_stream_<tag>_<key>_p<pid>` convention whose pid is
    * verifiably not alive — a live pid (ours or a concurrent JVM's) is
    * never raced, and nothing outside the convention is touched. */
  private def reapDeadPidDirs(): Unit = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    import scala.jdk.CollectionConverters._
    val ls =
      try java.nio.file.Files.list(tmp)
      catch { case _: java.io.IOException => return }
    val stale =
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_stream_") && {
          val pidStr = n.substring(n.lastIndexOf("_p") + 2)
          n.lastIndexOf("_p") > 0 && pidStr.nonEmpty &&
            pidStr.forall(_.isDigit) &&
            scala.util.Try(pidStr.toLong).toOption
              .exists(ProcessHandle.of(_).isEmpty)
        }
      }.toSeq
      finally ls.close()
    stale.foreach(deleteRecursively)
  }

  /** Best-effort recursive delete (the Formats.dropBucketedTable walk
    * contract: deterministic close, concurrent deletion = success). */
  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths =
        try walk.iterator().asScala.toSeq.reverse
        catch { case _: java.io.UncheckedIOException => Seq.empty }
        finally walk.close()
      paths.foreach { p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
      }
    }

  /** Oracle-gated streaming queries (SparkEntry wiring). */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map(
      "stream_hourly_agg" -> (streamHourlyAggGated(_, _)),
      "stream_sessionize" -> (streamSessionizeGated(_, _)),
      "stream_range_join" -> (streamRangeJoinGated(_, _)),
      "stream_transitions" -> (streamTransitionsGated(_, _)),
      "stream_dedup_exact" -> (streamDedupGated(_, _)),
      "stream_hll_distinct" -> (streamHllDistinctGated(_, _)),
      "stream_kmv_distinct" -> (streamKmvDistinctGated(_, _)),
      "stream_ab_test" -> (streamAbTestGated(_, _)),
      "stream_redmap_pipeline" -> (streamRedmapGated(_, _)),
      "stream_attribution" -> (streamAttributionGated(_, _)),
      "stream_funnel" -> (streamFunnelGated(_, _)),
      "stream_quantile_sample" -> (streamQuantileGated(_, _)),
      "stream_decayed_score" -> (streamDecayedGated(_, _)),
      "stream_ohlc_bars" -> (streamOhlcGated(_, _)),
      "stream_rolling_hll" -> (streamDailyHllGated(_, _)),
      "stream_anomaly" -> (streamAnomalyGated(_, _)),
      "stream_topk" -> (streamTopkGated(_, _)),
      "stream_hourly_multibatch" -> (streamHourlyMultiGated(_, _)),
      "stream_hourly_restart" -> (streamHourlyRestartGated(_, _)),
      "stream_enrich" -> (streamEnrichGated(_, _)),
      "stream_new_users" -> (streamNewUsersGated(_, _)))

  /** Same oracles as the batch ev_hourly_agg / ev_session_native —
    * THAT is the point: the streaming pipelines' sinks must be
    * indistinguishable from the batch results. */
  private val oraclesBase: Map[String, String] = Map(
    "stream_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        | round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |l AS (
        |  SELECT user_id, tus,
        |    lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
        |  FROM e),
        |s AS (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR tus - prev >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM l)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_range_join" ->
      s"""SELECT c.user_id, c.event_id,
         |  (SELECT count(*) FROM events v
         |   WHERE v.event_type = 'view' AND v.user_id = c.user_id
         |     AND epoch_us(v.ts) >= epoch_us(c.ts) - ${24L * 3600 * 1000000}
         |     AND epoch_us(v.ts) < epoch_us(c.ts)) AS n_prior_views
         |FROM events c WHERE c.event_type = 'click'
         |ORDER BY user_id, event_id""".stripMargin,
    "stream_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |x AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS to_type,
        |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS gap
        |  FROM e)
        |SELECT from_type, to_type, count(*) AS n
        |FROM x WHERE to_type IS NOT NULL AND gap <= 1800000000
        |GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 20""".stripMargin,
    "stream_dedup_exact" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // The sketch / experiment promotions reuse their batch twins'
    // oracles BY REFERENCE — the whole point of the gate is that the
    // streaming sink is indistinguishable from the batch answer, so a
    // drift between the two strings would be a bug, not a choice.
    "stream_hll_distinct" ->
      graft.operators.Relational.oracles("agg_hll_distinct"),
    "stream_kmv_distinct" ->
      graft.operators.Relational.oracles("agg_kmv_distinct"),
    "stream_ab_test" ->
      graft.operators.EventOps.oracles("ev_ab_test"),
    "stream_redmap_pipeline" ->
      graft.operators.TextOps.oracles("mr_redmap_pipeline"),
    "stream_attribution" ->
      graft.operators.EventOps.oracles("ev_attribution"),
    "stream_funnel" ->
      graft.operators.EventOps.oracles("ev_funnel"),
    "stream_quantile_sample" ->
      graft.operators.Relational.oracles("agg_quantile_sample"),
    "stream_decayed_score" ->
      graft.operators.EventOps.oracles("ev_decayed_score"),
    "stream_ohlc_bars" ->
      graft.operators.EventOps.oracles("ev_ohlc_bars"),
    "stream_rolling_hll" ->
      graft.operators.EventOps.oracles("ev_rolling_hll"),
    "stream_anomaly" ->
      graft.operators.EventOps.oracles("ev_anomaly"),
    "stream_topk" ->
      graft.operators.Relational.oracles("q08_topk_orders"),
    // Stream-static enrichment: the oracle is the plain batch dim
    // join — the stream side must be row-for-row indistinguishable
    // from joining the static tables directly.
    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  c.c_mktsegment, c.c_nationkey
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    // The batch ev_new_vs_returning first-appearance definition,
    // rolled to its new_users column — the half the first-appearance
    // STATE determines (min over a user's event days == min over the
    // distinct (day, user) pairs).
    "stream_new_users" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS first_d FROM du GROUP BY 1)
        |SELECT first_d AS d, CAST(count(*) AS BIGINT) AS new_users
        |FROM f GROUP BY 1 ORDER BY d""".stripMargin)

  /** The multi-batch and restart replays share stream_hourly_agg's
    * oracle string (same pipeline, different replay shapes) — appended
    * outside the literal so the map can self-reference it. */
  val oracles: Map[String, String] =
    oraclesBase +
      ("stream_hourly_multibatch" -> oraclesBase("stream_hourly_agg")) +
      ("stream_hourly_restart" -> oraclesBase("stream_hourly_agg"))

  def sessionize(events: Dataset[Ev]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessState, UserSessions] {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tus, e.event_id))
          var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val isNew = s.lastTus == Long.MinValue || e.tus - s.lastTus > SessionGapUs
            s = SessState(e.tus, s.nSessions + (if (isNew) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          UserSessions(userId, s.nSessions, s.nEvents)
      }
  }
}
