package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Batch-equivalence for the streaming paths (SURVEY §7.3): the streaming
  * hourly aggregation run to completion must equal the batch query, row for
  * row — same grouping keys, same exact-cents aggregates.
  */
class EventStreamsSpec extends SparkSpec {

  private def canon(rows: Array[Row]): Set[String] =
    rows.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")).toSet

  test("streaming hourly stats (AvailableNow, complete mode) == batch hourly stats") {
    val dir = sf("sf0.001")
    val streamed = EventStreams.hourlyStatsToBatch(spark, dir).collect()
    val batch = graft.operators.EventAnalytics
      .hourlyStats(graft.Tables.events(spark, dir)).collect()
    assert(streamed.nonEmpty)
    assert(canon(streamed) === canon(batch))
  }

  test("streaming dedup drops duplicate event ids within the watermark horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(minute: Int) = new java.sql.Timestamp(86400000L + minute * 60000L)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStreams.dedupedEvents(
      input.toDF().toDF("event_id", "ts").withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2)))
      q.processAllAvailable()
      input.addData((2L, ts(3)), (3L, ts(4)))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L)) // one row per id, across batches
    } finally q.stop()
  }

  test("append-mode file-sink hourly stats == batch stats for watermark-passed windows") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = EventStreams.hourlyStatsAppendToBatch(spark, dir).collect()
    val events = graft.Tables.events(spark, dir)
    val maxTs = events.agg(max("ts")).collect()(0).getTimestamp(0)
    // append emits a window when the watermark (max ts - 1 h) passes its
    // end: exactly the batch rows with hour end <= watermark
    val expected = graft.operators.EventAnalytics.hourlyStats(events)
      .where(col("hour") + expr("INTERVAL 2 HOURS") <= lit(maxTs))
      .collect()
    assert(streamed.nonEmpty)
    assert(canon(streamed) === canon(expected))
  }

  test("append-mode sliding stats == batch sliding windows past the watermark") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = EventStreams.slidingStatsAppendToBatch(spark, dir).collect()
    val events = graft.Tables.events(spark, dir)
    val maxUs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val expected = EventStreams.slidingStats(events)
      .where(col("win_start_us") + lit(7200000000L) <= lit(maxUs))
      .collect()
    assert(streamed.nonEmpty)
    assert(canon(streamed) === canon(expected))
    // overlap sanity: every event is in 2 windows, so sliding n-sums are
    // exactly twice the event count for fully-emitted spans
    val slidingTotal = EventStreams.slidingStats(events)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(slidingTotal === 2L * events.count())
  }

  test("append-mode windowed agg evicts state once the watermark passes (bounded state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(hour: Int) = new java.sql.Timestamp(86400000L + hour * 3600000L)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = EventStreams.hourlyStats(
      input.toDF().toDF("ts", "event_type")
        .withColumn("value", lit(1.0))
        .withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("append_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // two windows land in state; watermark (max - 1h) passes neither end
      input.addData((ts(0), "a"), (ts(1), "a"))
      q.processAllAvailable()
      val stateAfterBatch1 =
        q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterBatch1 === 2, "both open windows held in state")
      assert(spark.table("append_evict").count() === 0, "nothing emitted yet")
      // jump event time far ahead: watermark passes both earlier windows —
      // they are emitted once and their state rows EVICTED, not retained
      input.addData((ts(10), "a"))
      q.processAllAvailable()
      val emitted = spark.table("append_evict").collect()
        .map(r => r.getTimestamp(0).getTime).sorted.toSeq
      assert(emitted === Seq(ts(0).getTime, ts(1).getTime))
      val stateAfterBatch2 = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfterBatch2 === 1,
        s"only the open hour-10 window may remain in state, got $stateAfterBatch2")
    } finally q.stop()
  }

  test("append-mode file-sink sessions == batch session windows past the watermark") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = EventStreams.sessionWindowsAppendToBatch(spark, dir).collect()
    val events = graft.Tables.events(spark, dir)
    val maxUs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    // batch session_window over the same events, restricted to sessions
    // whose end the final watermark (max event time - 1 h) passed
    val expected = EventStreams.sessionWindows(events)
      .where(col("session_end_us") + 3600000000L <= maxUs)
      .collect()
    assert(streamed.nonEmpty)
    assert(canon(streamed) === canon(expected))
    // at least one open/late session was legitimately held back
    assert(streamed.length < EventStreams.sessionWindows(events).count())
    // Oracle boundary guard: Spark's watermark is ms-truncated while the
    // oracle cutoff is exact micros, so engine and oracle could disagree
    // only about a session whose end lands within 1 ms of (max ts - 1 h).
    // Assert the fixtures keep every session end >= 1 ms clear of it.
    val cutoffUs = maxUs - 3600000000L
    val minGapUs = EventStreams.sessionWindows(events)
      .select(abs(col("session_end_us") - cutoffUs).as("gap"))
      .agg(min("gap")).collect()(0).getLong(0)
    assert(minGapUs >= 1000L,
      s"a session end sits ${minGapUs}us from the watermark cutoff — inside " +
        "the ms-truncation ambiguity band; the append-mode oracle is unsafe")
  }

  test("append-mode funnel: out-of-order steps resolve via watermark; state evicts at emission") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    def us(min: Int) = (86400000L + min * 60000L) * 1000L
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.funnelRows(
      input.toDF().toDF("user_id", "ts", "event_type").withWatermark("ts", "1 hour"))
      .toDF().writeStream.format("memory").queryName("funnel_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1's purchase ARRIVES first (watermark moves to 180-60=120),
      // then the view and click arrive out of order but still inside the
      // 1h lateness horizon — a naive incremental fold would lose them
      input.addData((1L, ts(180), "purchase"))
      q.processAllAvailable()
      input.addData((1L, ts(130), "click"), (1L, ts(125), "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_evict").count() === 0,
        "nothing may emit before the watermark passes the candidates")
      // a far-future event pushes the watermark past user 1's whole funnel
      input.addData((2L, ts(60 * 24 * 3), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_evict").collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), opt(1), opt(2), opt(3))
      }
      assert(rows.toSet ===
        Set((1L, Some(us(125)), Some(us(130)), Some(us(180)))),
        "the ordered funnel must resolve despite reverse arrival")
      // user 1's buffer state collapsed to a tombstone at emission; user 2
      // remains live
      assert(q.lastProgress.stateOperators(0).numRowsTotal === 2,
        "emitted funnels must retain only a tombstone")
      // a RECENT straggler for the already-emitted user 1 (not late — its
      // ts is ahead of the watermark) must be swallowed by the tombstone:
      // without it, fresh state would emit a second user-1 row at GC
      input.addData((1L, ts(60 * 24 * 3 + 10), "view"))
      q.processAllAvailable()
      // push the watermark past every GC point: user 1's tombstone drops,
      // user 2's funnel window closes (one row), user 99 stays live
      input.addData((99L, ts(60 * 24 * 10), "view"))
      q.processAllAvailable()
      val finalRows = spark.table("funnel_evict").collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), opt(1), opt(2), opt(3))
      }
      assert(finalRows.count(_._1 == 1L) === 1,
        s"user 1 must emit exactly once (tombstone), got ${finalRows.toSeq}")
      assert(finalRows.toSet ===
        Set((1L, Some(us(125)), Some(us(130)), Some(us(180))),
          (2L, Some(us(60 * 24 * 3)), None, None)),
        s"got ${finalRows.toSeq}")
      // user 99 live + user 2's fresh tombstone; user 1's tombstone GC'd
      assert(q.lastProgress.stateOperators(0).numRowsTotal === 2,
        "expired tombstones must be dropped by their own timeout")
    } finally q.stop()
  }

  test("funnel conversion window cuts off late steps; NULL and never-started rows emit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    def us(min: Int) = (86400000L + min * 60000L) * 1000L
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.funnelRows(
      input.toDF().toDF("user_id", "ts", "event_type").withWatermark("ts", "1 hour"))
      .toDF().writeStream.format("memory").queryName("funnel_window")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        (1L, ts(10), "view"),
        (1L, ts(10 + 25 * 60), "click"), // 25h after the view: outside 24h
        (3L, ts(20), "click")) // user 3 never views
      q.processAllAvailable()
      // watermark far past every window-close and GC point
      input.addData((2L, ts(10 + 24 * 60 * 4), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_window").collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), opt(1), opt(2), opt(3))
      }.toSet
      assert(rows === Set(
        (1L, Some(us(10)), None, None), // click outside the window: NULL
        (3L, None, None, None)), // never-started GC row
        s"got $rows")
    } finally q.stop()
  }

  test("stream-static enrichment join is stateless and equals the batch join") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = EventStreams.enrichedPurchasesToBatch(spark, dir)
    val batch = graft.Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .join(graft.Tables.customer(spark, dir), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"),
        col("c_mktsegment"), col("c_nationkey"))
    assert(streamed.count() > 0)
    assert(canon(streamed.collect()) === canon(batch.collect()))
  }

  test("stream-stream interval join equals the batch interval join on a full drain") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = EventStreams.attributionPairsToBatch(spark, dir)
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.Tables.events(spark, dir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        unix_micros(col("ts")).as("pus"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("cus"))
    val batch = p.join(c,
      col("pu") === col("cu") &&
        col("cus") >= col("pus") - 3600000000L && col("cus") <= col("pus"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stream-stream join state is watermark-evicted (bounded two-sided buffers)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(minute: Int) = new java.sql.Timestamp(86400000L + minute * 60000L)
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = pIn.toDF().toDF("purchase_id", "p_user", "p_ts")
      .withWatermark("p_ts", "10 minutes")
    val clicks = cIn.toDF().toDF("click_id", "c_user", "c_ts")
      .withWatermark("c_ts", "10 minutes")
    val q = EventStreams.attributionPairs(purchases, clicks)
      .writeStream.format("memory").queryName("attr_join")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      pIn.addData((1L, 7L, ts(30)))
      cIn.addData((100L, 7L, ts(25)), (101L, 7L, ts(90))) // 101 too late to match 1
      q.processAllAvailable()
      val matched = spark.table("attr_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matched === Set((1L, 100L)), "click within the hour matches immediately")
      val stateEarly = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateEarly > 0, "both sides buffer within the horizon")
      // push event time far ahead on both sides: eligibility windows of the
      // early rows pass, their buffered state is evicted
      pIn.addData((2L, 8L, ts(600)))
      cIn.addData((102L, 8L, ts(600)))
      q.processAllAvailable()
      pIn.addData((3L, 9L, ts(610)))
      cIn.addData((103L, 9L, ts(610)))
      q.processAllAvailable()
      val stateLate = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateLate < stateEarly + 4,
        s"old buffered rows must evict: early=$stateEarly late=$stateLate")
    } finally q.stop()
  }

  test("parquet sink restarts from its checkpoint exactly-once (no dup, no loss)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart")
    val input = MemoryStream[Long]
    def start() = input.toDF().toDF("event_id")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val q1 = start()
    try {
      input.addData(1L, 2L)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the SAME checkpoint + sink: committed offsets/files
    // must not replay, new data must land once
    val q2 = start()
    try {
      input.addData(3L)
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("session windows cover all events with plausible session counts") {
    val dir = sf("sf0.001")
    val sessions = EventStreams.runToBatch(spark, dir, EventStreams.sessionStats(_))
      .collect()
    val batchSessions = graft.operators.EventAnalytics
      .sessionCounts(graft.Tables.events(spark, dir))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every event lands in exactly one session window
    val nEvents = sessions.map(_.getLong(2)).sum
    assert(nEvents === batchSessions.values.map(_._2).sum)
    // per-user session-window count equals the batch gaps-and-islands count
    val perUser = sessions.groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    assert(perUser === batchSessions.view.mapValues(_._1).toMap)
  }
}
