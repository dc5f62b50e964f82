package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, Relational}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

/** Batch-equivalence specs for the structured-streaming twins
  * (SURVEY.md §2.8): the streamed result over the sf0.001 events —
  * delivered across MULTIPLE micro-batches, split mid-stream so state
  * must carry across batch boundaries — must equal the batch answer.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def loadEvents(): Seq[Ev] = {
    val t = Tables(spark, sf)
    t.events
      .select(col("event_id"), unix_micros(col("ts")).as("tus"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
  }

  test("streaming anomaly flags equal batch ev_anomaly across micro-batches, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(e => (e.tus, e.event_id))
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[Ev]
    val q = StreamOps.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anom")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // verbatim replay of b: every event at-or-behind the per-type
      // high-water mark → counts must not move.
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      """SELECT event_type, flags FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM anom))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val batch = graft.operators.EventOps.evAnomaly(spark, sf)
      .collect().toSeq.groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.sortBy(_.getLong(1)).map { r =>
          val z4 = BigDecimal(r.getDouble(4))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          s"${r.getLong(1)}=${r.getLong(2)}=${r.getString(3)}=$z4"
        }.mkString(";")
      }
    batch.foreach { case (t, expect) =>
      assert(streamed.getOrElse(t, "") == expect,
        s"type $t diverged: ${streamed.getOrElse(t, "")} vs $expect")
    }
    assert(batch.values.exists(_.nonEmpty))
  }

  test("streaming sessionize equals batch ev_sessionize across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(e => e.tus)
    val (first, second) = evs.splitAt(evs.size / 2)

    val input = MemoryStream[Ev]
    val q = StreamOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Update).start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
    } finally q.stop()

    // Latest state per user (update mode appends one row per touched key
    // per batch; the final row per user is the answer).
    val streamed = spark.sql(
      """SELECT user_id, n_sessions, n_events FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM sess))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = Relational.evSessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming HLL equals the batch agg_hll_distinct after any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same input rows the batch query hashes: distinct (flag, orderkey)
    // through the identical md5-prefix hash.
    val hashes = Tables(spark, sf).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .select(col("l_returnflag"),
        expr("CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .collect().map(r => StreamOps.KeyedHash(r.getString(0), r.getLong(1))).toSeq
    // Deliver across three micro-batches with a replayed overlap — the
    // register max must absorb duplicates without moving the estimate.
    val (a, rest) = hashes.splitAt(hashes.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedHash]
    val q = StreamOps.hllDistinctStream(input.toDS())
      .writeStream.format("memory").queryName("hll").outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(50)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      """SELECT group, est_distinct FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM hll))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val batch = Relational.aggHllDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(streamed == batch,
      s"streaming HLL diverged from batch: $streamed vs $batch")
  }

  test("streaming daily HLL sketches fold into the batch rolling estimate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same (day, user-hash) rows the batch query's register build
    // hashes, keyed by day — delivered UNSORTED across three
    // micro-batches with a full replayed batch.
    val rows = Tables(spark, sf).events
      .selectExpr("unix_micros(ts) div 86400000000 AS d", "user_id").distinct()
      .selectExpr("CAST(d AS STRING) AS d",
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) AS h")
      .collect().map(r => StreamOps.KeyedHash(r.getString(0), r.getLong(1))).toSeq
      .sortBy(_.h)                                // unsorted in day order
    val (a, rest) = rows.splitAt(rows.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedHash]
    val q = StreamOps.dailyHllStream(input.toDS())
      .writeStream.format("memory").queryName("dailyhll")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a); q.processAllAvailable() // full replay of a
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val finalRegs = spark.sql(
      """SELECT group, registers FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM dailyhll))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0).toLong,
        r.getSeq[Int](1).toArray)).toMap
    // The rolling readout is a fold over the emitted state: merge each
    // day's trailing-7 register vectors (max) and estimate with the
    // shared batch arithmetic.
    val streamed = finalRegs.keys.toSeq.sorted.map { d =>
      val merged = new Array[Int](64)
      (d - 6 to d).foreach(dd => finalRegs.get(dd).foreach(regs =>
        (0 until 64).foreach(i => merged(i) = math.max(merged(i), regs(i)))))
      val (est, present) = StreamOps.hllEstimate(merged)
      (d, est, present.toLong)
    }.toSet
    val batch = EventOps.evRollingHll(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"rolled stream sketches diverged: ${streamed -- batch} vs ${batch -- streamed}")
  }

  test("streaming top-k equals the batch rank after any batch split, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables(spark, sf).orders
      .selectExpr("o_orderpriority", "o_orderkey", "o_totalprice")
      .collect().map(r => StreamOps.KeyedValue(r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val (a, rest) = rows.splitAt(rows.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedValue]
    val q = StreamOps.topkStream(input.toDS(), 3)
      .writeStream.format("memory").queryName("topk").outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(40)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      """SELECT group, top_ids FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM topk))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // batch: the same top-3 per priority via the rank window
    val batch = Tables(spark, sf).orders.createOrReplaceTempView("orders_v")
    val expected = spark.sql(
      """SELECT o_orderpriority,
        |  array_join(transform(array_sort(collect_list(struct(rn, o_orderkey))),
        |             x -> CAST(x.o_orderkey AS STRING)), ',') AS top_ids
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders_v) WHERE rn <= 3
        |GROUP BY o_orderpriority""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == expected,
      s"streaming top-k diverged from batch: $streamed vs $expected")
  }

  test("streaming top-k: a same-id update moves its slot instead of occupying two") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ADVICE r4: an id re-arriving with a DIFFERENT value is an update,
    // not a replay — the old per-(value,id) dedup let it hold two of
    // the k slots. Per-id max-value semantics: the improved id moves,
    // a lower re-arrival is absorbed, and delivery order doesn't
    // matter (join-semilattice on id → max value).
    val input = MemoryStream[StreamOps.KeyedValue]
    val q = StreamOps.topkStream(input.toDS(), 3)
      .writeStream.format("memory").queryName("topk_upd")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(Seq(
        StreamOps.KeyedValue("g", 1L, 10.0),
        StreamOps.KeyedValue("g", 2L, 20.0),
        StreamOps.KeyedValue("g", 3L, 30.0)))
      q.processAllAvailable()
      // id=1 improves past everyone; id=2 "updates" DOWN (absorbed).
      input.addData(Seq(
        StreamOps.KeyedValue("g", 1L, 99.0),
        StreamOps.KeyedValue("g", 2L, 5.0)))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.sql(
      """SELECT top_ids FROM (
        |  SELECT *, row_number() OVER (ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM topk_upd))
        |WHERE rn = 1""".stripMargin).collect().head.getString(0)
    // max-value state: 1→99, 3→30, 2→20 (the 5.0 downgrade ignored,
    // and id 1 appears ONCE).
    assert(last == "1,3,2", s"expected 1,3,2 got $last")
  }

  test("streaming KMV equals the batch agg_kmv_distinct after any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same input rows the batch query hashes: distinct (flag, orderkey)
    // through the identical md5-prefix hash.
    val hashes = Tables(spark, sf).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .select(col("l_returnflag"),
        expr("CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .collect().map(r => StreamOps.KeyedHash(r.getString(0), r.getLong(1))).toSeq
    // Three micro-batches with a replayed overlap — the k-min set must
    // absorb duplicates without moving the estimate.
    val (a, rest) = hashes.splitAt(hashes.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedHash]
    val q = StreamOps.kmvDistinctStream(input.toDS())
      .writeStream.format("memory").queryName("kmv").outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(50)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      """SELECT group, est_distinct FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM kmv))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val batch = Relational.aggKmvDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(streamed == batch,
      s"streaming KMV diverged from batch: $streamed vs $batch")
  }

  test("streaming quantile sample equals the batch agg_quantile_sample after any split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Same rows the batch query samples: (flag, skey, cents) with the
    // value folded into the hash key (the non-unique-lineitem-key fix).
    val rows = Tables(spark, sf).lineitem
      .select(col("l_returnflag").as("g"),
        expr("md5(concat(CAST(l_orderkey AS STRING), '-', " +
          "CAST(l_linenumber AS STRING), '-', " +
          "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING)))").as("skey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      .collect().map(r => StreamOps.KeyedSample(r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    val (a, rest) = rows.splitAt(rows.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedSample]
    val q = StreamOps.quantileSampleStream(input.toDS())
      .writeStream.format("memory").queryName("qsamp").outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(100)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      """SELECT group, k, p50_est, p90_est FROM (
        |  SELECT *, row_number() OVER (PARTITION BY group ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM qsamp))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val batch = Relational.aggQuantileSample(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(streamed == batch,
      s"streaming quantile sample diverged from batch: $streamed vs $batch")
  }

  test("flatMapGroupsWithState emits exactly the batch-derivable closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(_.tus)
    val (first, second) = evs.splitAt(evs.size / 2)

    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionizeSessions(input.toDS())
      .writeStream.format("memory").queryName("closed_sess")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql("SELECT * FROM closed_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // Batch derivation: number sessions per user via the gap rule, group
    // events into sessions, drop each user's LAST session (still open in
    // the stream, so never emitted).
    Tables(spark, sf).events.createOrReplaceTempView("events_v")
    val batch = spark.sql(s"""
      |WITH e AS (
      |  SELECT user_id, unix_micros(ts) AS tus, event_id
      |  FROM events_v),
      |m AS (
      |  SELECT user_id, tus,
      |    CASE WHEN lag(tus) OVER w IS NULL
      |              OR tus - lag(tus) OVER w > ${StreamOps.SessionGapUs}
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |s AS (
      |  SELECT user_id, tus,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tus
      |                      ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM m),
      |g AS (
      |  SELECT user_id, sess_id, min(tus) AS start_tus, max(tus) AS end_tus,
      |         count(*) AS n_events
      |  FROM s GROUP BY user_id, sess_id)
      |SELECT user_id, start_tus, end_tus, n_events FROM g
      |WHERE sess_id < (SELECT max(sess_id) FROM g g2 WHERE g2.user_id = g.user_id)
      |""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermarked append mode drops late events and emits each closed window once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Min = 60L * 1000 * 1000 // one minute in micros
    def ev(id: Long, tus: Long) = Ev(id, tus, 1L, "click", 1.0)

    val input = MemoryStream[Ev]
    val q = StreamOps.hourlyAggWatermarked(
        input.toDS().withColumn("ts", timestamp_micros(col("tus"))), "30 minutes")
      .writeStream.format("memory").queryName("hourly_wm")
      .outputMode(OutputMode.Append).start()
    try {
      // b1: three hour-0 events + one at 01:45 → watermark after b1 is
      // 01:15, so the hour-0 window [00:00,01:00) is closeable.
      input.addData(Seq(ev(1, 0), ev(2, 10 * Min), ev(3, 20 * Min), ev(4, 105 * Min)))
      q.processAllAvailable()
      // b2: a LATE hour-0 event (00:05 is behind the 01:15 watermark →
      // must be dropped, not appended into the already-closed window),
      // plus an 03:00 event that advances the watermark to 02:30.
      input.addData(Seq(ev(5, 5 * Min), ev(6, 180 * Min)))
      q.processAllAvailable()
      // b3: one more batch so the 02:30 watermark finalizes hour 1.
      input.addData(Seq(ev(7, 240 * Min)))
      q.processAllAvailable()
    } finally q.stop()

    val emitted = spark.sql("SELECT hour, cnt FROM hourly_wm")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1))).toSet
    // hour 0 emitted once with cnt=3 (late event 5 dropped, NOT 4);
    // hour 1 emitted once with cnt=1; hours 3/4 still open → absent.
    assert(emitted == Set((0L, 3L), (3600L, 1L)), s"emitted=$emitted")
  }

  test("watermarked stream dedup suppresses re-deliveries and bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Min = 60L * 1000 * 1000
    // Times sit well above epoch 0: an event AT the initial watermark
    // (0) is swallowed by the late-row predicate before any state
    // exists — a real edge, but not the one under test.
    val T0 = 100000L * Min
    def ev(id: Long, tus: Long) = Ev(id, T0 + tus, 1L, "click", 1.0)

    val input = MemoryStream[Ev]
    val q = StreamOps.dedupStream(
        input.toDS().withColumn("ts", timestamp_micros(col("tus"))), "30 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // b1: two distinct events.
      input.addData(Seq(ev(1, 0), ev(2, 10 * Min)))
      q.processAllAvailable()
      // b2: event 1 re-delivered (same id+ts, still in state → suppressed)
      // plus a new event.
      input.addData(Seq(ev(1, 0), ev(3, 20 * Min)))
      q.processAllAvailable()
      // b3: advance the watermark to 90 min — evicts the b1/b2 keys.
      input.addData(Seq(ev(4, 120 * Min)))
      q.processAllAvailable()
      // b4: event 1 again, now BEHIND the watermark → dropped as late
      // (its dedup state is gone; bounded state means exactly this).
      input.addData(Seq(ev(1, 0)))
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.sql("SELECT event_id FROM dedup_stream")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L, 4L), s"emitted=$ids") // each exactly once
  }

  test("stream-static enrichment join equals the batch join across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(_.tus)
    val (first, second) = evs.splitAt(evs.size / 2)
    val dim = spark.createDataFrame(
      evs.map(_.user_id).distinct.map(u => (u, if (u % 2 == 0) "even" else "odd")))
      .toDF("user_id", "segment")

    val input = MemoryStream[Ev]
    val q = StreamOps.enrichStream(input.toDS().toDF(), dim)
      .select("event_id", "user_id", "segment")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql("SELECT * FROM enriched")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = StreamOps.enrichStream(
        spark.createDataset(evs).toDF(), dim)
      .select("event_id", "user_id", "segment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join pairs clicks with prior views, drops late rows, bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Min = 60L * 1000 * 1000
    val Hr = 60 * Min
    // Sit well above epoch 0 (initial-watermark edge, see dedup test).
    val T0 = 100000L * Min

    val vIn = MemoryStream[(Long, Long)] // (view_id, tus)
    val cIn = MemoryStream[(Long, Long)] // (click_id, tus)
    val views = vIn.toDS().toDF("view_id", "vtus")
      .select(col("view_id"), lit(1L).as("v_user"), timestamp_micros(col("vtus")).as("vts"))
    val clicks = cIn.toDS().toDF("click_id", "ctus")
      .select(col("click_id"), lit(1L).as("c_user"), timestamp_micros(col("ctus")).as("cts"))
    val q = StreamOps.viewClickJoin(views, clicks, "30 minutes")
      .select("view_id", "click_id")
      .writeStream.format("memory").queryName("vc_join")
      .outputMode(OutputMode.Append).start()
    try {
      // b1: two views then a click 15 min later → click 100 pairs with both.
      vIn.addData(Seq((1L, T0), (2L, T0 + 10 * Min)))
      cIn.addData(Seq((100L, T0 + 15 * Min)))
      q.processAllAvailable()
      // b2: a later click still within 24 h of both views → two more pairs
      // (view state carried across the batch boundary).
      cIn.addData(Seq((101L, T0 + 20 * Min)))
      q.processAllAvailable()
      // b3: jump 50 h ahead on BOTH sides (advances the global watermark
      // far past the old views' vts + 24 h → their state is evictable);
      // the new view pairs with the new click.
      vIn.addData(Seq((3L, T0 + 50 * Hr)))
      cIn.addData(Seq((102L, T0 + 50 * Hr + 5 * Min)))
      q.processAllAvailable()
      // b4: a LATE view (behind the watermark by ~49 h) + an on-time
      // click 10 min after the b3 view. The late view must be dropped:
      // it may NOT pair with click 103 (it is 50 h older anyway) and may
      // not resurrect. Click 103 pairs with view 3 only.
      vIn.addData(Seq((4L, T0 + 30 * Min)))
      cIn.addData(Seq((103L, T0 + 50 * Hr + 10 * Min)))
      q.processAllAvailable()
    } finally q.stop()

    val pairs = spark.sql("SELECT view_id, click_id FROM vc_join")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set(
      (1L, 100L), (2L, 100L), (1L, 101L), (2L, 101L),
      (3L, 102L), (3L, 103L)), s"pairs=$pairs")
  }

  test("file sink + checkpoint: a restarted query resumes exactly-once (no dupes, no loss)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The fault-tolerance contract a production pipeline relies on: the
    // checkpoint stores committed source offsets + the file-sink
    // metadata log records committed files, so a crashed-and-restarted
    // query neither re-emits finished batches nor loses buffered input.
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val (out, ckpt) = (s"$root/out", s"$root/ckpt")
    val input = MemoryStream[Ev]
    def start() = input.toDS()
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    val q1 = start()
    try {
      input.addData(Seq(Ev(1, 1000, 1, "view", 1.0), Ev(2, 2000, 1, "click", 2.0)))
      q1.processAllAvailable()
    } finally q1.stop() // "crash" after batch 0 committed
    input.addData(Seq(Ev(3, 3000, 2, "view", 3.0))) // arrives while down
    val q2 = start() // same checkpoint: resumes from the committed offset
    try q2.processAllAvailable() finally q2.stop()

    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L), s"ids=$ids") // each exactly once
  }

  test("streaming hourly agg (complete mode) equals batch grouping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(_.tus)
    val (first, second) = evs.splitAt(evs.size / 2)

    val input = MemoryStream[Ev]
    val withTs = StreamOps.hourlyAgg(
      input.toDS().withColumn("ts", timestamp_micros(col("tus"))))
    val q = withTs.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql("SELECT * FROM hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = StreamOps.hourlyAgg(
      Tables(spark, sf).events.select(col("ts"), col("event_type"), col("value")))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming transitions equal batch ev_top_transitions counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Global (tus, event_id) order is per-user in-order — the delivery
    // contract; three uneven splits put transitions across boundaries.
    val evs = loadEvents().sortBy(e => (e.tus, e.event_id))
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)

    val input = MemoryStream[Ev]
    val q = StreamOps.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("trans")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // replay batch b verbatim: every event is at-or-behind the
      // per-user high-water mark → zero extra emissions.
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()

    val streamedCounts = spark.sql(
      "SELECT from_type, to_type, count(*) AS n FROM trans GROUP BY 1, 2")
    val streamed = streamedCounts
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.evTransitionCounts(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // The Markov stationary readout composes with the incremental edge
    // state: the same one-row unroll over the STREAMED counts must
    // reproduce the batch query bit-for-bit (counts are mergeable, the
    // readout is deterministic integer math).
    val viaStream = graft.operators.EventOps
      .markovStationaryFrom(streamedCounts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaBatch = graft.operators.EventOps
      .evMarkovStationary(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaStream == viaBatch,
      s"stationary diverged: $viaStream vs $viaBatch")
  }

  test("streaming funnel equals batch ev_funnel across micro-batches, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Per-user in-order delivery (the kafka-partition-per-user
    // contract); three uneven splits put view→click→purchase chains
    // across micro-batch boundaries so FunnelSt must carry over.
    val evs = loadEvents().sortBy(e => (e.tus, e.event_id))
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)

    val input = MemoryStream[Ev]
    val q = StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // replay batch b verbatim: every event is at-or-behind the
      // per-user high-water mark → no step rebinds.
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()

    // steps is monotone per user, so max(steps) == the final state.
    val streamed = spark.sql(
      """SELECT steps, count(*) AS n_users FROM (
        |  SELECT user_id, max(steps) AS steps FROM funnel GROUP BY 1)
        |GROUP BY 1""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val batch = graft.operators.EventOps.evFunnel(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.map(_._2).sum > 0)
  }

  test("streaming attribution equals batch ev_attribution across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Per-user in-order delivery (the kafka-partition-per-user
    // contract); three uneven splits put touch→purchase chains across
    // micro-batch boundaries so AttrState must carry over.
    val evs = loadEvents().sortBy(e => (e.tus, e.event_id))
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)

    val input = MemoryStream[Ev]
    val q = StreamOps.attributionStream(input.toDS())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // replay batch b verbatim: every event is at-or-behind the
      // per-user high-water mark → zero double-credited conversions.
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()

    // The downstream mergeable rollup (cents contract, like the batch).
    val streamed = spark.sql(
      """SELECT source_type, count(*) AS conversions,
         sum(CAST(round(value * 100) AS BIGINT)) AS revenue_cents
         FROM attr GROUP BY 1""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.EventOps.evAttribution(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming decayed score equals batch ev_decayed_score across micro-batches with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(e => (e.tus, e.event_id))
    // The batch op anchors at the corpus max-ts; feed the stream the
    // same anchor (the production training-cutoff parameter).
    val anchorUs = evs.map(_.tus).max
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)

    val input = MemoryStream[Ev]
    val q = StreamOps.decayedScoreStream(input.toDS(), anchorUs)
      .writeStream.format("memory").queryName("decay")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // replay batch b verbatim: a decayed SUM is not idempotent, so
      // this is exactly the case the high-water drop must absorb —
      // every replayed term re-added would shift the BIGINT sum.
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()

    // Latest state per user, then the batch op's own top-20 cut.
    val finalStates = spark.sql(
      """SELECT user_id, n_events, decayed_units FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM decay))
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val streamedTop = finalStates
      .sortBy { case (uid, _, units) => (-units, uid) }.take(20).toSeq
    val batch = graft.operators.EventOps.evDecayedScore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamedTop == batch)
    assert(streamedTop.nonEmpty)
  }

  test("streaming first-appearance states fold to batch new_users per day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Unsorted delivery + full replay: first-day is a min-semilattice,
    // so no ordering contract and no high-water mark exist to test —
    // only convergence to the batch fixed point.
    val evs = loadEvents()
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[Ev]
    val q = StreamOps.newVsReturningStream(input.toDS())
      .writeStream.format("memory").queryName("firstday")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamedNew = spark.sql(
      """SELECT first_d, count(*) AS n FROM (
        |  SELECT user_id, first_d FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
        |    FROM (SELECT *, monotonically_increasing_id() rid FROM firstday))
        |  WHERE rn = 1)
        |GROUP BY first_d""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batchNew = graft.operators.EventOps.evNewVsReturning(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 > 0).toMap
    assert(streamedNew == batchNew,
      s"streamed $streamedNew vs batch $batchNew")
    assert(streamedNew.nonEmpty)
  }

  test("streaming A/B arms equal batch ev_ab_test accumulators, replay-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Deliberately UNSORTED delivery (natural file order) plus a full
    // replayed batch: the conversion flag is a max-semilattice, so the
    // twin must converge to the batch answer with no ordering contract
    // and no high-water mark at all.
    val evs = loadEvents()
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[Ev]
    val q = StreamOps.abTestStream(input.toDS())
      .writeStream.format("memory").queryName("abtest")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    val arms = spark.sql(
      """SELECT
        |  sum(CASE WHEN arm_b = 0 THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN arm_b = 0 THEN conv ELSE 0 END) AS c_a,
        |  sum(CASE WHEN arm_b = 1 THEN 1 ELSE 0 END) AS n_b,
        |  sum(CASE WHEN arm_b = 1 THEN conv ELSE 0 END) AS c_b
        |FROM (
        |  SELECT user_id, arm_b, conv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
        |    FROM (SELECT *, monotonically_increasing_id() rid FROM abtest))
        |  WHERE rn = 1)""".stripMargin)
      .collect().head
    val batch = graft.operators.EventOps.evAbTest(spark, sf).collect().head
    assert((arms.getLong(0), arms.getLong(1), arms.getLong(2), arms.getLong(3)) ==
      (batch.getLong(0), batch.getLong(1), batch.getLong(2), batch.getLong(3)))
    assert(arms.getLong(0) + arms.getLong(2) > 0)
  }

  test("streaming OHLC argmin/argmax states converge to the batch bars under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Unsorted delivery + a full replayed middle batch: every component
    // is a semilattice (open/close argmin/argmax by witness, high/low
    // min/max), so convergence needs no ordering contract.
    val evs = loadEvents()
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.ohlcStream(input.toDS())
      .writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    // latest emitted row per (type, bar) — Update mode re-emits on change
    val streamed = spark.sql(
      """SELECT event_type, bar, open_u, high_u, low_u, close_u FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type, bar ORDER BY rid DESC) rn
        |  FROM (SELECT *, monotonically_increasing_id() rid FROM ohlc))
        |WHERE rn = 1""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val batch = graft.operators.EventOps.evOhlcBars(spark, sf)
      .selectExpr("event_type", "unix_micros(bar_start) div 14400000000 AS bar",
        "open_u", "high_u", "low_u", "close_u")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(streamed == batch, {
      val diff = (streamed.keySet ++ batch.keySet)
        .filter(k => streamed.get(k) != batch.get(k)).take(3)
      s"OHLC divergence at $diff: streamed=${diff.map(streamed.get)} batch=${diff.map(batch.get)}"
    })
    assert(streamed.size > 10)
  }

  test("built-in session_window stream: closed sessions equal the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents().sortBy(_.tus)
    val (first, second) = evs.splitAt(evs.size / 2)
    // Sentinel key far past the data: advancing the watermark beyond
    // every real event closes ALL real sessions, so append mode emits
    // the complete set and the batch comparison is total, not partial.
    val sentinel = Ev(-1L, evs.last.tus + 10L * 86400000000L, -1L, "flush", 0.0)

    def withTs(ds: org.apache.spark.sql.Dataset[Ev]): org.apache.spark.sql.DataFrame =
      ds.withColumn("ts", expr("timestamp_micros(tus)"))

    val input = MemoryStream[Ev]
    val q = StreamOps.sessionWindowStream(withTs(input.toDS()))
      .writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
      input.addData(Seq(sentinel)); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql(
      "SELECT user_id, w_start, w_end, n_ev FROM swin WHERE user_id >= 0")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    // The SAME transform on the same rows in batch mode (no watermark
    // needed — batch finalizes everything).
    val batch = withTs(evs.toDS())
      .groupBy(col("user_id"), expr("session_window(ts, '30 minutes')").as("sw"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), col("sw.start"), col("sw.end"), col("n_ev"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed == batch, {
      val diff = (streamed diff batch) ++ (batch diff streamed)
      s"session sets diverged, e.g. ${diff.take(3)}"
    })
    assert(streamed.size > 10)
    // And the per-user session counts agree with the oracle-gated
    // batch twin (ev_session_native) — same boundary rule by design.
    val counts = streamed.groupBy(_._1).map { case (u, ss) =>
      (u, ss.size.toLong, ss.toSeq.map(_._4).sum)
    }.toSet
    val native = graft.operators.EventOps.evSessionNative(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts == native)
  }

  /** The sketch-twin hashed input (the batch queries' own distinct-key
    * md5 stream — Relational.OrderkeyHash32 semantics). */
  private def loadSketchHashes(): Seq[StreamOps.KeyedHash] =
    Tables(spark, sf).lineitem
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .select(col("l_returnflag"),
        expr("CAST(conv(substr(md5(CAST(l_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .collect().map(r => StreamOps.KeyedHash(r.getString(0), r.getLong(1))).toSeq

  test("append-mode HLL snapshots fold to the batch estimate across batches, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hashes = loadSketchHashes()
    val (a, rest) = hashes.splitAt(hashes.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedHash]
    val q = StreamOps.hllSnapshotStream(input.toDS())
      .writeStream.format("memory").queryName("hllsnap")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(50)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    // Fold the FULL snapshot log with register-wise max — the gated
    // readback's merge — never "take the last row": the fold must land
    // on the same estimate regardless of micro-batching.
    val log = spark.sql("SELECT group, registers, n_seen FROM hllsnap").collect()
    val folded = log.groupBy(_.getString(0)).map { case (g, rows) =>
      val regs = new Array[Int](64)
      rows.foreach { r =>
        val v = r.getSeq[Int](1)
        var i = 0
        while (i < 64) { if (v(i) > regs(i)) regs(i) = v(i); i += 1 }
      }
      (g, StreamOps.hllEstimate(regs)._1, rows.map(_.getLong(2)).max)
    }.toSet
    val batch = Relational.aggHllDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(folded.map(t => (t._1, t._2)) == batch,
      s"folded snapshots diverged from batch: $folded vs $batch")
    // n_seen counts DELIVERIES (additive, not a semilattice): with the
    // 50-row replay it must exceed the distinct count by exactly 50 —
    // the counter's exactly-once contract made explicit. (The gated
    // replay stages each row once, so there n_seen IS n_exact.)
    assert(folded.toSeq.map(_._3).sum == hashes.size + 50)
  }

  test("append-mode KMV snapshots fold to the batch estimate across batches, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hashes = loadSketchHashes()
    val (a, rest) = hashes.splitAt(hashes.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[StreamOps.KeyedHash]
    val q = StreamOps.kmvSnapshotStream(input.toDS())
      .writeStream.format("memory").queryName("kmvsnap")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b ++ a.take(50)); q.processAllAvailable() // replay overlap
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    // Fold the full snapshot log with the k-min-of-union merge, then
    // the Aggregator's own finish — parity by construction.
    val log = spark.sql("SELECT group, hs FROM kmvsnap").collect()
    val folded = log.groupBy(_.getString(0)).map { case (g, rows) =>
      val merged = rows.flatMap(_.getSeq[Long](1)).distinct.sorted
        .take(graft.functions.KmvDistinct.K)
      (g, BigDecimal(graft.functions.KmvDistinct.finish(
        graft.functions.KmvState(merged.toVector)))
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val batch = Relational.aggKmvDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(folded == batch,
      s"folded KMV snapshots diverged from batch: $folded vs $batch")
  }

  test("append-mode A/B snapshots fold to the batch accumulators across batches, with replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = loadEvents()
    val (a, rest) = evs.splitAt(evs.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[Ev]
    val q = StreamOps.abTestSnapshotStream(input.toDS())
      .writeStream.format("memory").queryName("absnap")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(b); q.processAllAvailable() // full replayed batch
      input.addData(c); q.processAllAvailable()
    } finally q.stop()
    // Fold = max(conv) per user over the WHOLE log (the semilattice
    // merge the gated readback uses), then the batch accumulators.
    val arms = spark.sql(
      """SELECT
        |  sum(CASE WHEN arm_b = 0 THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN arm_b = 0 THEN conv ELSE 0 END) AS c_a,
        |  sum(CASE WHEN arm_b = 1 THEN 1 ELSE 0 END) AS n_b,
        |  sum(CASE WHEN arm_b = 1 THEN conv ELSE 0 END) AS c_b
        |FROM (SELECT user_id, max(arm_b) AS arm_b, max(conv) AS conv
        |      FROM absnap GROUP BY user_id)""".stripMargin)
      .collect().head
    val batch = graft.operators.EventOps.evAbTest(spark, sf).collect().head
    assert((arms.getLong(0), arms.getLong(1), arms.getLong(2), arms.getLong(3)) ==
      (batch.getLong(0), batch.getLong(1), batch.getLong(2), batch.getLong(3)))
  }

  test("multi-batch throttled replay: gated hourly agg equals the batch aggregate") {
    // streamHourlyMultiGated REQUIRES ≥5 checkpointed batches (4 file
    // batches + the no-data finalize batch) internally, so this test
    // passing is itself the >1-batch-executed evidence (VERDICT r9 #3);
    // equality with the batch grouping proves watermark ADVANCEMENT
    // across batches emitted every window exactly once, mid-stream.
    val streamed = StreamOps.streamHourlyMultiGated(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val batch = StreamOps.hourlyAgg(
        Tables(spark, sf).events.select(col("ts"), col("event_type"), col("value")))
      .orderBy("hour", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(streamed.size > 100)
    assert(streamed == batch)
  }

  test("a gated stream reaps the work dir a dead process left behind") {
    // No live process has pid 9999999999: it is above any kernel's
    // pid_max, so ProcessHandle.of finds nothing.
    val dead = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_zz_" + "0123456789abcdef" * 2 + "_p9999999999")
    java.nio.file.Files.createDirectories(dead.resolve("ckpt"))
    SparkEntry.queries("stream_transitions")(spark, sf).collect()
    assert(!java.nio.file.Files.exists(dead), s"$dead was not reaped")
  }

  test("a rerun of a gated stream reuses its generated code: no class is compiled again") {
    // Each streaming query runs on a clone of the session. Spark's code
    // cache is keyed by classloader, so a clone that gets a classloader
    // of its own recompiles every class of the stream on every run.
    def run(): Unit = SparkEntry.queries("stream_hourly_agg")(spark, sf).collect()
    run()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    run()
    val again = compiles.getCount - before
    assert(again == 0, s"the second run compiled $again generated classes")
  }
}
