package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {

  import EventStream._

  test("streaming hourly result equals batch result on the same data") {
    val dir = "/root/testdata/sf0.001"
    val streamed = runHourly(spark, dir).collect()
    val batch = hourlyCounts(
      graft.Tables.load(spark, dir, "events"))
      .orderBy("hour", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("streaming hopping windows equal the batch TVF; each event " +
    "lands in exactly 3 windows") {
    val dir = "/root/testdata/sf0.001"
    val streamed = runHopping(spark, dir).collect()
    val batch = hoppingCounts(
      graft.Tables.load(spark, dir, "events"))
      .orderBy("window_start_us", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
    // fan-out invariant: total assigned rows = 3 x non-null events
    val nEvents = graft.Tables.load(spark, dir, "events")
      .filter(org.apache.spark.sql.functions.col("value").isNotNull)
      .count()
    assert(streamed.map(_.getLong(2)).sum == 3 * nEvents)
  }

  test("restart from checkpoint resumes state and offsets, not from zero") {
    // The fault-tolerance contract a cluster deployment rests on:
    // stop a stateful streaming query, add more source files, restart
    // with the SAME checkpoint — the restarted query must (a) not
    // reprocess already-committed files (source offsets), and (b)
    // carry window state forward (state store), so the two-run result
    // equals a single uninterrupted run over all the data.
    import java.nio.file.Files
    val base = tempDir("graft_ckpt_restart")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val mid = ev.agg(
      percentile_approx(unix_micros(col("ts")), lit(0.5), lit(100)))
      .head().getLong(0)
    def runToFiles(): Unit = {
      val q = EventStream.hourlyCounts(
        spark.readStream.schema(EventStream.repairedSchema).parquet(src))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // phase 1: first half arrives, query runs to completion and stops
    ev.filter(unix_micros(col("ts")) < mid)
      .coalesce(1).write.mode("append").parquet(src)
    runToFiles()
    val afterP1 = spark.read.schema(
      "hour TIMESTAMP, event_type STRING, n BIGINT, sum_value DOUBLE")
      .parquet(out).count()
    // phase 2: the rest arrives, the query RESTARTS on the same ckpt
    ev.filter(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(src)
    runToFiles()
    val restarted = spark.read.parquet(out)
      .orderBy("hour", "event_type").collect()
    // control: one uninterrupted run over the identical source dir
    val ckpt2 = base.resolve("ckpt2").toString
    val out2 = base.resolve("out2").toString
    val q2 = EventStream.hourlyCounts(
      spark.readStream.schema(EventStream.repairedSchema).parquet(src))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt2).option("path", out2)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val single = spark.read.parquet(out2)
      .orderBy("hour", "event_type").collect()
    assert(restarted.nonEmpty)
    assert(restarted.length > afterP1,
      s"restart emitted nothing new (p1=$afterP1, total=${restarted.length})")
    assert(restarted.toSeq == single.toSeq,
      "two-run (restart) result differs from the uninterrupted run")
  }

  test("gap detector fires MID-STREAM on silence, computes duration from " +
      "the watermark, and evicts on firing") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000
    val baseUs = 86400L * 1000000 // away from the epoch-0 watermark
    val input = MemoryStream[Ev]
    val q = gapDetect(
        input.toDS()
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), col("us"), col("ts"))
          .as[GEv],
        thresholdMs = 7200000L)
      .writeStream.format("memory").queryName("gaps_test")
      .outputMode(OutputMode.Append()).start()

    // Batch 1: users 7 and 8 both active. No silence yet.
    input.addData(Ev(1, 8, baseUs), Ev(2, 7, baseUs + hourUs / 2))
    q.processAllAvailable()
    assert(spark.table("gaps_test").count() == 0)

    // Batch 2: user 7 returns at t=3h (re-arming its timer at 5h);
    // watermark after the batch = 2h — user 8's 2h timer has NOT been
    // strictly passed, so still no alert.
    input.addData(Ev(3, 7, baseUs + 3 * hourUs))
    q.processAllAvailable()
    assert(spark.table("gaps_test").count() == 0)

    // Batch 3: user 99 at t=10h pushes the watermark to 9h — BOTH
    // stale timers fire mid-stream: user 8 silent since t=0 (9h),
    // user 7 silent since t=3h (6h), durations measured against the
    // watermark at fire time.
    input.addData(Ev(4, 99, baseUs + 10 * hourUs))
    q.processAllAvailable()
    val alerts = spark.table("gaps_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(alerts == Set(
      (8L, baseUs, 9L * 3600000),
      (7L, baseUs + 3 * hourUs, 6L * 3600000)), alerts)
    // fired keys EVICTED: only user 99's state row remains
    assert(EventStream.lastStateRows(q) == 1,
      s"expected 1 state row, got ${EventStream.lastStateRows(q)}")
    q.stop()
  }

  test("streaming exact moments merge across micro-batches to the batch values") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    // Drive the PRODUCTION operator (EventStream.moments) across
    // micro-batches — the single-file oracle gate only ever sees one
    // batch, so the cross-batch state merge is pinned here.
    val q = EventStream.moments(input.toDS())
      .writeStream.format("memory").queryName("moments_test")
      .outputMode(OutputMode.Update()).start()
    // Two micro-batches splitting the values of type 'a' — the state
    // chain must land on EXACTLY the whole-set moments (integer
    // power sums are order/merge independent; a float Welford chain
    // would only be approximately equal).
    input.addData(("a", 1.25), ("a", 2.75), ("b", 10.00))
    q.processAllAvailable()
    input.addData(("a", 4.00))
    q.processAllAvailable()
    val fin = spark.table("moments_test").collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.maxBy(_.getLong(1)) }
    // a: {1.25, 2.75, 4.00}: mean 8/3 dollars, var of cents
    // {125, 275, 400}: exact (3*251250 - 800^2)/9 /10000
    val a = fin("a")
    assert(a.getLong(1) == 3)
    assert(a.getDouble(2) == 800.0 / 300.0, a)
    assert(a.getDouble(3) ==
      (3.0 * (125.0 * 125 + 275 * 275 + 400 * 400) - 800.0 * 800) / 90000.0,
      a)
    val b = fin("b")
    assert(b.getLong(1) == 1 && b.getDouble(2) == 10.0 && b.getDouble(3) == 0.0)
    q.stop()
  }

  test("CDC upsert: latest wins across batches; delete tombstones stale " +
      "emissions; re-upsert resurrects") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    // Drive the PRODUCTION operator (EventStream.cdcUpsert) across
    // micro-batches — the moments-test rationale.
    val q = EventStream.cdcUpsert(input.toDS())
      .writeStream.format("memory").queryName("cdc_test")
      .outputMode(OutputMode.Update()).start()
    def drain(): Map[Long, (Long, Int, Double)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("last_us").desc, col("last_event_id").desc)
      spark.table("cdc_test")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(3), r.getDouble(4))))
        .toMap
    }
    // Batch 1: two upserts.
    input.addData((1L, 7L, 100L, "view", 1.0), (2L, 8L, 100L, "click", 2.0))
    q.processAllAvailable()
    assert(drain() == Map(7L -> ((100L, 0, 1.0)), 8L -> ((100L, 0, 2.0))))
    // Batch 2: user 7 deleted — the tombstone MUST outrank the stale
    // batch-1 emission in the drained view.
    input.addData((3L, 7L, 200L, "error", 0.0))
    q.processAllAvailable()
    val afterDelete = drain()
    assert(afterDelete(7L)._2 == 1, afterDelete)
    assert(afterDelete(8L) == ((100L, 0, 2.0)), afterDelete)
    // Batch 3: user 7 re-upserted — resurrected with the new value;
    // user 8 deleted last — tombstoned out of the live view.
    input.addData((4L, 7L, 300L, "view", 3.0), (5L, 8L, 300L, "error", 0.0))
    q.processAllAvailable()
    val fin = drain()
    assert(fin(7L) == ((300L, 0, 3.0)), fin)
    assert(fin(8L)._2 == 1, fin)
    // state is one row per key — log compaction, not history
    assert(EventStream.lastStateRows(q) == 2)
    q.stop()
  }

  test("windowed funnel: out-of-order views re-anchor the window — " +
      "verdicts resurrect and revoke exactly") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = 48L * 3600L * 1000000L // click window, µs
    val input = MemoryStream[(Long, String, Long)]
    val q = EventStream.windowedFunnel(input.toDS())
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode(OutputMode.Update()).start()
    def drain(): Map[Long, (Int, Int, Int)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_seen").desc)
      spark.table("funnel_test")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getInt(4))))
        .toMap
    }
    // Batch 1 — user 7: click+purchase arrive BEFORE any view (must
    // be retained, not dropped); user 8: a view and a qualifying
    // click near the window's far edge.
    input.addData((7L, "click", 200L), (7L, "purchase", 300L),
      (8L, "view", 100L), (8L, "click", 80L + W))
    q.processAllAvailable()
    val b1 = drain()
    assert(b1(7L) == ((0, 0, 0)), b1) // no view yet — no stage reached
    assert(b1(8L) == ((1, 1, 0)), b1) // 80+W ∈ (100, 100+W]: converts
    // Batch 2 — user 7's view arrives LATE at t=100: the buffered
    // click (200) and purchase (300) must RESURRECT the conversion;
    // user 8's EARLIER view at t=20 re-anchors the window so the
    // once-qualifying click (80+W > 20+W) is pruned forever — the
    // verdict must be REVOKED.
    input.addData((7L, "view", 100L), (8L, "view", 20L))
    q.processAllAvailable()
    val b2 = drain()
    assert(b2(7L) == ((1, 1, 1)), b2)
    assert(b2(8L) == ((1, 0, 0)), b2)
    // Batch 3 — user 8: a click at t=60, BELOW the old anchor (would
    // have been retained-but-useless under v=100), qualifies under
    // the new anchor (60 ∈ (20, 20+W]); a purchase beyond ITS window
    // (60 + 7d + 1µs) must not convert stage 3.
    val P = 7L * 24L * 3600L * 1000000L
    input.addData((8L, "click", 60L), (8L, "purchase", 61L + P))
    q.processAllAvailable()
    val b3 = drain()
    assert(b3(8L) == ((1, 1, 0)), b3)
    // state is per-user and horizon-bounded, one row per key
    assert(EventStream.lastStateRows(q) == 2)
    q.stop()
  }

  test("streaming GK sketch per type satisfies the rank contract vs batch") {
    val dir = "/root/testdata/sf0.001"
    val rows = runPercentiles(spark, dir).collect()
    // one row per (event_type, percentile), every rank check TRUE —
    // i.e. the sketch that merged incrementally across micro-batches
    // still honors the GK envelope against the full batch column
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)),
      rows.filterNot(_.getBoolean(2)).mkString("\n"))
  }

  test("streaming MG sketch finds every heavy hitter within its bound") {
    val rows = runHeavyHitters(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2)),
      rows.mkString("\n"))
  }

  test("mapGroupsWithState accumulates per-user counts across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    val q = runningCounts(input.toDS())
      .writeStream
      .format("memory")
      .queryName("running_counts_test")
      .outputMode(OutputMode.Update())
      .start()

    input.addData(Ev(1, 100, 1000), Ev(2, 100, 2000), Ev(3, 200, 1500))
    q.processAllAvailable()
    val afterB1 = spark.table("running_counts_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterB1 == Map(100L -> 2L, 200L -> 1L))

    input.addData(Ev(4, 100, 3000))
    q.processAllAvailable()
    // Update mode appends the new state row; latest per user wins.
    val latest = spark.table("running_counts_test")
      .collect().groupBy(_.getLong(0))
      .map { case (u, rows) => u -> rows.map(_.getLong(1)).max }
    assert(latest == Map(100L -> 3L, 200L -> 1L))
    q.stop()
  }

  test("flatMapGroupsWithState closes sessions across micro-batches " +
      "and the timeout evicts idle users") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val halfHourUs = 30L * 60 * 1000000
    val hourUs = 3600L * 1000000
    // Keep event times away from epoch 0: the initial watermark is 0
    // and the stateful operator's late-row filter drops rows at or
    // below it, which would silently eat a t=0 event. Real data is
    // decades past the epoch; the test should be too.
    val baseUs = 86400L * 1000000

    val input = MemoryStream[Ev]
    // EventTimeTimeout needs the watermarked COLUMN to reach the
    // stateful operator, so derive ts, watermark it, and keep it (SEv).
    val q = sessionize(
        input.toDS()
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withWatermark("ts", "1 hour")
          .as[SEv])
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append()).start()

    // Batch 1: two events 1 min apart — one open session, nothing out.
    input.addData(Ev(1, 7, baseUs), Ev(2, 7, baseUs + 60L * 1000000))
    q.processAllAvailable()
    assert(spark.table("sessions_test").count() == 0)

    // Batch 2: an event 40 min later closes the first session (2
    // events) and opens a new one.
    input.addData(
      Ev(3, 7, baseUs + 60L * 1000000 + halfHourUs + 600L * 1000000))
    q.processAllAvailable()
    val out = spark.table("sessions_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((7L, 2L, true)))

    // Batch 3: another gap (event at t=3h) closes the second session
    // (1 event). Watermark after this batch: 3h − 1h = 2h, short of
    // the open session's 3.5h timeout — it stays in state.
    input.addData(Ev(4, 7, baseUs + 2 * (halfHourUs + hourUs)))
    q.processAllAvailable()
    assert(spark.table("sessions_test").count() == 2)

    // Batch 4: a DIFFERENT user at t=10h pushes the watermark to 9h,
    // past user 7's 3.5h timeout — the timeout path emits user 7's
    // last session and EVICTS it; only user 99's open session remains
    // in the store. This is the r9 NoTimeout leak, fixed and pinned.
    input.addData(Ev(5, 99, baseUs + 10 * hourUs))
    q.processAllAvailable()
    val all = spark.table("sessions_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(all.sorted.toSeq ==
      Seq((7L, 1L, true), (7L, 1L, true), (7L, 2L, true)), all.toSeq)
    assert(EventStream.lastStateRows(q) == 1,
      s"expected exactly user 99's open session in state, " +
        s"got ${EventStream.lastStateRows(q)} rows")
    q.stop()
  }

  test("native session_window emits a session only after the watermark " +
      "passes its end") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000
    val baseUs = 86400L * 1000000

    val input = MemoryStream[Ev]
    val q = input.toDS()
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .writeStream.format("memory").queryName("sesswin_test")
      .outputMode(OutputMode.Append()).start()

    // Batch 1: two events 1 min apart — the merged session's window
    // end (t+1min+30min) is ahead of the watermark: nothing emits.
    input.addData(Ev(1, 7, baseUs), Ev(2, 7, baseUs + 60L * 1000000))
    q.processAllAvailable()
    assert(spark.table("sesswin_test").isEmpty)

    // Batch 2: an event from ANOTHER user at t=91min pushes the
    // watermark to EXACTLY the first session's end (60s+30min... no:
    // end = 1min+30min = 31min; 91min − 1h = 31min). Emission at
    // wm == end pins Spark's eviction predicate as NON-STRICT
    // (end <= watermark) — which is exactly what the st13 oracle's
    // `last_us + 30min <= wm` states; a strict predicate would hold
    // the session one batch longer and the oracle would be wrong at
    // the ms-aligned boundary.
    input.addData(Ev(3, 99, baseUs + 91 * 60L * 1000000))
    q.processAllAvailable()
    val rows = spark.table("sesswin_test").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toEpochMilli,
        r.getLong(2)))
    assert(rows.toSeq == Seq((7L, baseUs / 1000, 2L)), rows.toSeq)
    q.stop()
    spark.catalog.dropTempView("sesswin_test")
  }

  test("windowTopK emits a window's ranked top-k only after the watermark " +
      "finalizes it, then evicts the window's state") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000
    val baseUs = 86400L * 1000000 // hour-aligned, away from epoch 0

    val input = MemoryStream[Ev]
    val q = EventStream.windowTopK(
        input.toDS()
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withWatermark("ts", "1 hour")
          .as[SEv],
        k = 2)
      .writeStream.format("memory").queryName("wintopk_test")
      .outputMode(OutputMode.Append()).start()

    // Batch 1: one open window [base, base+1h): user 7 x3, user 9 x2,
    // user 8 x1. The watermark is behind the window end: nothing out.
    input.addData(
      Ev(1, 7, baseUs), Ev(2, 7, baseUs + 1000000),
      Ev(3, 7, baseUs + 2000000), Ev(4, 8, baseUs + 3000000),
      Ev(5, 9, baseUs + 4000000), Ev(6, 9, baseUs + 5000000))
    q.processAllAvailable()
    assert(spark.table("wintopk_test").isEmpty)

    // Batch 2: an event at base+3h pushes the watermark to base+2h,
    // past the first window's end — it finalizes: top-2 of 3 users
    // emit with ranks (user 8's single event is cut by k), and only
    // the NEW window's state remains in the store.
    input.addData(Ev(7, 50, baseUs + 3 * hourUs))
    q.processAllAvailable()
    val rows = spark.table("wintopk_test").collect()
      .map(r => (r.getTimestamp(0).toInstant.toEpochMilli,
        r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.sorted.toSeq == Seq(
      (baseUs / 1000, 7L, 3L, 1), (baseUs / 1000, 9L, 2L, 2)),
      rows.toSeq)
    assert(EventStream.lastStateRows(q) == 1,
      s"expected only the open window in state, got " +
        s"${EventStream.lastStateRows(q)}")
    q.stop()
    spark.catalog.dropTempView("wintopk_test")
  }

  test("stream-stream interval join matches purchases to recent views") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000

    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val toTs = (ds: org.apache.spark.sql.Dataset[Ev]) =>
      ds.withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val q = purchasesWithRecentViews(toTs(pIn.toDS()), toTs(vIn.toDS()))
      .select(col("event_id"), col("view_event_id"))
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode(OutputMode.Append()).start()

    // view at t=30min; purchases at t=60min (within 1h) and t=10h (not)
    vIn.addData(Ev(100, 7, hourUs / 2))
    pIn.addData(Ev(1, 7, hourUs), Ev(2, 7, 10 * hourUs))
    q.processAllAvailable()
    // advance both watermarks so joined results flush in append mode
    vIn.addData(Ev(101, 7, 20 * hourUs))
    pIn.addData(Ev(3, 7, 20 * hourUs))
    q.processAllAvailable()

    val pairs = spark.table("ssjoin_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 100L)), pairs) // within the hour
    assert(!pairs.contains((2L, 100L)), pairs) // 9.5h later — excluded
    q.stop()
  }

  test("interval join state is evicted as the watermark advances") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val minuteUs = 60L * 1000000

    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val toTs = (ds: org.apache.spark.sql.Dataset[Ev]) =>
      ds.withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val q = purchasesWithRecentViews(toTs(pIn.toDS()), toTs(vIn.toDS()))
      .select(col("event_id"))
      .writeStream.format("memory").queryName("ssjoin_state_test")
      .outputMode(OutputMode.Append()).start()

    // 8 hours of steady one-user traffic in 1-hour micro-batches:
    // 60 views + 6 purchases per hour, 528 rows lifetime. The join
    // buffers a view only until the watermark passes its matchable
    // horizon (view_ts + 1h join window), a purchase only until the
    // watermark passes its ts, and the watermark itself lags one
    // micro-batch and carries 1h lateness — so live state is bounded
    // by ~4 hours of traffic (4 × 66 rows) no matter how long the
    // stream runs, while the NoTimeout shapes would hold all 528.
    var maxState = -1L
    (0 until 8).foreach { h =>
      vIn.addData((0 until 60).map(m =>
        Ev(100000 + h * 60 + m, 7, (h * 60L + m) * minuteUs)): _*)
      pIn.addData((0 until 6).map(i =>
        Ev(h * 6 + i, 7, (h * 60L + i * 10) * minuteUs)): _*)
      q.processAllAvailable()
      maxState = math.max(maxState, EventStream.lastStateRows(q))
    }
    q.stop()
    assert(maxState > 0, "no state operator progress observed")
    assert(maxState <= 4 * 66,
      s"interval-join state $maxState exceeds the 4h-of-traffic bound")
  }

  test("st26: outer interval join null-attributes a purchase only after finalization") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000

    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val toTs = (ds: org.apache.spark.sql.Dataset[Ev]) =>
      ds.withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val q = purchasesWithRecentViews(
      toTs(pIn.toDS()), toTs(vIn.toDS()), joinType = "left_outer")
      .select(col("event_id"), col("view_event_id"))
      .writeStream.format("memory").queryName("ssjoin_outer_test")
      .outputMode(OutputMode.Append()).start()

    def rows(): Set[(Long, Option[Long])] =
      spark.table("ssjoin_outer_test").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet

    // view at t=30min; purchase 1 at t=1h (matches it), purchase 2 at
    // t=3h (no view in its window).
    vIn.addData(Ev(100, 7, hourUs / 2))
    pIn.addData(Ev(1, 7, hourUs), Ev(2, 7, 3 * hourUs))
    q.processAllAvailable()
    // The unmatched purchase must NOT null-emit yet — a matching view
    // could still arrive; only the watermark may release it.
    assert(!rows().exists(_._2.isEmpty), rows().toString)

    // Advance both sides to t=30h, then nudge again at t=31h so the
    // eviction batch after the watermark update runs.
    vIn.addData(Ev(101, 7, 30 * hourUs))
    pIn.addData(Ev(3, 7, 30 * hourUs))
    q.processAllAvailable()
    vIn.addData(Ev(102, 7, 31 * hourUs))
    pIn.addData(Ev(4, 7, 31 * hourUs))
    q.processAllAvailable()

    val out = rows()
    assert(out.contains((1L, Some(100L))), out.toString) // matched pair
    assert(out.contains((2L, None)), out.toString) // finalized: organic
    assert(!out.contains((1L, None)), out.toString) // matched ≠ re-null
    // Purchases at/above the final watermark stay in state: no null
    // row may exist for them.
    assert(!out.exists(p => p._1 >= 3L && p._2.isEmpty), out.toString)
    q.stop()
  }

  test("streaming dedup with dropDuplicatesWithinWatermark") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    // dedup on event_id within a 1-hour event-time watermark: state
    // for old keys is dropped once the watermark passes (bounded
    // memory — the scale requirement for streaming dedup)
    val q = input.toDS()
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()

    input.addData(Ev(1, 7, 1000000), Ev(1, 7, 1000000), Ev(2, 7, 2000000))
    q.processAllAvailable()
    input.addData(Ev(2, 7, 2000000), Ev(3, 7, 3000000))
    q.processAllAvailable()
    val ids = spark.table("dedup_test").collect()
      .map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("chained windows emit a day only after the watermark closes it") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dayUs = 24L * 3600 * 1000000
    val input = MemoryStream[Ev]
    val hourly = input.toDS()
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(col("window"), "1 day"))
      .agg(sum(col("n")).cast("long").as("n"))
      .select(col("window.start").as("day"), col("n"))
    val q = daily.writeStream.format("memory").queryName("twolevel_test")
      .outputMode(OutputMode.Append()).start()

    // Batch 1: two events on day 0 — day 0 is still open (watermark
    // has not passed its end), so nothing may emit yet.
    input.addData(Ev(1, 7, 1000000), Ev(2, 7, 2 * 3600L * 1000000))
    q.processAllAvailable()
    assert(spark.table("twolevel_test").isEmpty)

    // Batch 2: an event 2 days later pushes the watermark past day
    // 0's end — day 0 (and only day 0) finalizes with both events.
    input.addData(Ev(3, 7, 2 * dayUs + 2 * 3600L * 1000000))
    q.processAllAvailable()
    val rows = spark.table("twolevel_test").collect()
      .map(r => r.getTimestamp(0).toInstant.toEpochMilli -> r.getLong(1))
    assert(rows.toSeq == Seq(0L -> 2L), rows.toSeq)
    q.stop()
    spark.catalog.dropTempView("twolevel_test")
  }

  test("foreachBatch sink: replaying a batch leaves the sink unchanged") {
    val sparkS = spark
    import sparkS.implicits._
    val out = tempDir("st08_spec_").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    writeBatchIdempotent(b0, 0, out)
    writeBatchIdempotent(b1, 1, out)
    // A retried batch 0 (the failure-recovery path) must REPLACE its
    // directory, not append — the sink still holds exactly 3 rows.
    writeBatchIdempotent(b0, 0, out)
    val sink = spark.read.parquet(out)
    assert(sink.count() == 3)
    assert(sink.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  // ----------------------------------------------------------------
  // st28: CDC -> partitioned lake MERGE.
  // ----------------------------------------------------------------

  private def cdcBatch(rows: Seq[(Long, Long, Long, String, Double)])
      : org.apache.spark.sql.DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    rows.toDF("event_id", "user_id", "us", "event_type", "value")
  }

  private def lakeRows(root: String): Seq[String] =
    spark.read
      .option("basePath", root)
      .schema("user_id BIGINT, last_us BIGINT, last_event_id BIGINT, " +
        "deleted INT, value DOUBLE, bucket INT")
      .parquet(root)
      .collect()
      .map(r => r.mkString("|"))
      .sorted.toSeq

  test("st32 auto-compaction: the 2nd commit bin-packs touched " +
      "buckets, the pre-compaction manifest still reads identically, " +
      "and resolution survives replay") {
    val root = tempDir("st32_spec_")
      .resolve("lake").toString
    val lake = new EventStream.AutoCompactLake(spark, root,
      every = 2, fanout = 2)
    // Commit 1: buckets 0 (user 16) and 1 (user 17) → 2 files.
    lake.append(cdcBatch(Seq(
      (1L, 16L, 100L, "view", 1.0),
      (2L, 17L, 100L, "view", 2.0))))
    assert(lake.currentVersion == 1 && lake.currentFiles.size == 2)
    // Commit 2: same buckets (users 24/25) → 4 files, then the
    // cadence fires: 4 rows, target = 4/2 = 2 → one bin per bucket.
    lake.append(cdcBatch(Seq(
      (3L, 24L, 200L, "click", 3.0),
      (4L, 25L, 200L, "click", 4.0))))
    assert(lake.compactions == 1, "compaction did not fire on cadence")
    assert(lake.currentVersion == 3, lake.currentVersion) // append + swap
    assert(lake.currentFiles.size == 2,
      s"bin-pack left ${lake.currentFiles.size} files, expected 2")
    // Lossless rewrite: the pre-compaction manifest (v2) and the
    // post-compaction one (v3) hold the SAME row multiset...
    def rows(v: Int): Seq[String] = lake.readVersion(v)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(rows(2) == rows(3), "compaction changed content")
    // ...and v2's files physically survive the swap (time travel —
    // vacuum, not compaction, reclaims them).
    assert(lake.manifestFiles(2).forall { case (_, p) =>
      new java.io.File(p).exists()
    }, "pre-compaction snapshot files deleted by compaction")
    // Commit 3 on the compacted lake: a NEWER event for user 16 must
    // outrank the compacted row (resolution mixes file eras).
    lake.append(cdcBatch(Seq((5L, 16L, 300L, "view", 9.0))))
    def resolved(): Seq[(Long, Long, Double)] = lake.resolvedCurrent()
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val afterUpdate = resolved()
    assert(afterUpdate == Seq((16L, 300L, 9.0), (17L, 100L, 2.0),
      (24L, 200L, 3.0), (25L, 200L, 4.0)), afterUpdate)
    // Replay: re-delivering the commit adds rows that only TIE the
    // outranking — the resolved state cannot move. The re-delivery
    // is also the 2nd append since the last OPTIMIZE, so the cadence
    // fires again across the replayed data.
    lake.append(cdcBatch(Seq((5L, 16L, 300L, "view", 9.0))))
    assert(lake.compactions == 2)
    assert(resolved() == afterUpdate, "replay moved the resolved state")
  }

  test("st32 auto-compaction: a one-bucket delta's OPTIMIZE rewrites " +
      "only that bucket; untouched buckets' manifest entries pass " +
      "through unchanged") {
    val root = tempDir("st32_narrow_spec_").resolve("lake").toString
    val lake = new EventStream.AutoCompactLake(spark, root,
      every = 2, fanout = 2)
    // Two wide appends (users 16..23 → buckets 0..7): the cadence
    // fires a full-lake OPTIMIZE.
    def wide(era: Long) = cdcBatch((0L until 8L).map(i =>
      (era * 100L + i, 16L + i, era * 100L, "view", i.toDouble)))
    lake.append(wide(1L))
    lake.append(wide(2L))
    assert(lake.compactions == 1)
    val before = lake.currentFiles
    assert(before.map(_._1).toSet == (0 until 8).toSet, before)
    // Two narrow appends (users 16 and 24, both bucket 0): the next
    // OPTIMIZE may rewrite bucket 0 only.
    lake.append(cdcBatch(Seq((301L, 16L, 300L, "click", 1.5))))
    lake.append(cdcBatch(Seq((401L, 24L, 400L, "click", 2.5))))
    assert(lake.compactions == 2, "compaction did not fire on cadence")
    val after = lake.currentFiles
    val rewritten = after.filterNot(before.contains)
    assert(rewritten.nonEmpty && rewritten.forall(_._1 == 0),
      s"narrow OPTIMIZE rewrote outside bucket 0: $rewritten")
    assert(before.filter(_._1 == 0).forall(f => !after.contains(f)),
      "bucket 0's pre-OPTIMIZE files are still current")
    assert(after.filter(_._1 != 0).toSet == before.filter(_._1 != 0).toSet,
      "untouched buckets' manifest entries changed across the narrow " +
        "OPTIMIZE")
    val resolved = lake.resolvedCurrent().collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(resolved == Seq((16L, 300L, 1.5)) ++
      (1L until 8L).map(i => (16L + i, 200L, i.toDouble)) ++
      Seq((24L, 400L, 2.5)), resolved)
  }

  test("st33 retention: files outside the newest manifests are " +
      "physically reclaimed, the retained window stays readable, " +
      "resolution is untouched") {
    val root = tempDir("st33_spec_")
      .resolve("lake").toString
    val lake = new EventStream.AutoCompactLake(spark, root,
      every = 2, fanout = 2, retainVersions = Some(2))
    def rows(v: Int): Seq[String] = lake.readVersion(v)
      .collect().map(_.mkString("|")).sorted.toSeq
    // Era 1: two appends -> v1, v2; OPTIMIZE -> v3; vacuum keeps
    // {v2, v3}, and v2 still references every append file, so the
    // FIRST vacuum must reclaim nothing (retention, not eagerness).
    lake.append(cdcBatch(Seq(
      (1L, 16L, 100L, "view", 1.0), (2L, 17L, 100L, "view", 2.0))))
    val v1Files = lake.manifestFiles(1)
    lake.append(cdcBatch(Seq(
      (3L, 24L, 200L, "click", 3.0), (4L, 25L, 200L, "click", 4.0))))
    assert(lake.compactions == 1 && lake.filesVacuumed == 0,
      s"first vacuum reclaimed ${lake.filesVacuumed} files " +
        "still covered by the retained window")
    assert(rows(2) == rows(3)) // both retained, both fully readable
    // Era 2: two more appends -> v4, v5; OPTIMIZE -> v6; vacuum keeps
    // {v5, v6} — the era-1 append files (referenced only by v1/v2)
    // are now OUTSIDE retention and must be physically gone.
    lake.append(cdcBatch(Seq((5L, 16L, 300L, "view", 9.0))))
    lake.append(cdcBatch(Seq((6L, 25L, 300L, "buy", 8.0))))
    assert(lake.compactions == 2)
    assert(lake.filesVacuumed > 0, "second vacuum reclaimed nothing")
    assert(v1Files.exists { case (_, p) =>
      !new java.io.File(p).exists()
    }, "an era-1 append file survived past its retention window")
    // The retained window is untouched: v5 and v6 read in full and
    // agree row-for-row (the OPTIMIZE between them was lossless).
    assert(rows(5) == rows(6))
    // And the consumer's view is exactly the latest-wins state.
    val resolved = lake.resolvedCurrent().collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(resolved == Seq((16L, 300L, 9.0), (17L, 100L, 2.0),
      (24L, 200L, 3.0), (25L, 300L, 8.0)), resolved)
    // Snapshot expiry includes metadata: the era-1 manifests were
    // diffed once and deleted with their exclusive files — the next
    // vacuum never re-reads them (the r18 manifest-diff altitude).
    assert(!new java.io.File(root, "manifest/v00001.txt").exists(),
      "expired manifest v1 survived its own expiry")
    // Crash-orphan sweep: a data file that belongs to NO manifest (a
    // writer died before its manifest swap) is invisible to the
    // manifest diff by design; the explicit deep walk reclaims it and
    // touches nothing live.
    val crash = new java.io.File(root, "data/b99999/bucket=0")
    crash.mkdirs()
    val orphan = new java.io.File(crash, "part-crash.parquet")
    orphan.createNewFile()
    assert(lake.sweepOrphans() == 1 && !orphan.exists(),
      "crash orphan not reclaimed by the deep sweep")
    assert(lake.currentFiles.forall { case (_, p) =>
      new java.io.File(p).exists()
    }, "sweepOrphans touched a live file")
    val resolvedAfter = lake.resolvedCurrent().collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(resolvedAfter == resolved, "sweepOrphans moved the state")
    // A later vacuum with a LARGER keepVersions than any earlier call
    // reaches back into manifests those earlier calls already expired
    // and deleted — the retained-range computation existence-filters
    // them (r19 ADVICE fix) and degrades gracefully: nothing thrown,
    // nothing reclaimed, the live state untouched.
    assert(lake.vacuum(10) == 0, "widened retention reclaimed a file")
    assert(lake.currentFiles.forall { case (_, p) =>
      new java.io.File(p).exists()
    }, "widened vacuum touched a live file")
    assert(lake.resolvedCurrent().collect().length == resolved.length)
  }

  test("st32/st33 null-ts routing: a null-ts event flows through the " +
      "lake into slice 0 instead of silently matching no slice " +
      "(r17 ADVICE), and an all-dateless feed still commits") {
    val sparkS = spark
    import sparkS.implicits._
    def writeEvents(rows: Seq[(Long, Option[java.sql.Timestamp], Long,
        String, Double)]): String = {
      val dir = tempDir("st32_nullts_").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit(null).cast("string"))
        .select("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .coalesce(1)
        .write.parquet(s"$dir/events.parquet")
      dir
    }
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val dir = writeEvents(Seq(
      // user 100: the dated event outranks its null-ts sibling (the
      // DESC resolution is NULLS LAST in both engines).
      (1L, Some(t1), 100L, "view", 1.0),
      (2L, None, 100L, "click", 2.0),
      // user 200: ONLY a null-ts event — the row the r17 slice
      // expression dropped while the shared st28 oracle emitted it.
      (3L, None, 200L, "view", 3.0),
      // user 300: dated, so min/max are non-null and real slicing
      // runs alongside the coalesced slice-0 route.
      (4L, Some(t2), 300L, "view", 4.0)))
    val got = EventStream.runCdcLakeAutoCompact(spark, dir)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3)))
      .toSeq
    assert(got.map(_._1) == Seq(100L, 200L, 300L), got)
    assert(got(0)._3 == 1.0 && got(0)._2.isDefined,
      s"dated event lost to a null-ts sibling: $got")
    assert(got(1) == ((200L, None, 3.0)),
      s"null-ts-only user missing or misread: $got")
    assert(got(2)._3 == 4.0, got)
    // All-dateless feed (mn/mx NULL): the degenerate one-slice case
    // must still commit every row instead of skipping the stream.
    val dir2 = writeEvents(Seq(
      (1L, None, 10L, "view", 1.5),
      (2L, None, 11L, "click", 2.5)))
    val got2 = EventStream.runCdcLakeRetention(spark, dir2)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3)))
      .toSeq
    assert(got2 == Seq((10L, None, 1.5), (11L, None, 2.5)), got2)
  }

  test("st34 WCC lake: a component-merging delta lands in the label " +
      "store on the refresh cadence, the store is one commit stale " +
      "between cadence points, and the stream equals the batch " +
      "recompute") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tempDir("st34_spec_")
      .resolve("lake").toString
    val lake = new EventStream.WccLabelLake(spark, root, every = 2)
    def hist(): Set[(Long, Long)] = lake.labelsHistogram()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Commit 1: two disjoint pairs — below the cadence, no refresh.
    lake.append(Seq((1L, 1L), (2L, 2L)).toDF("sk", "ck"), batchId = 0L)
    assert(lake.refreshes == 0)
    // Replay of commit 1 (failure-retry): the commit is keyed by
    // batchId and rewritten in place — the pair lake gains no
    // duplicate commit and the refresh cadence does not advance.
    lake.append(Seq((1L, 1L), (2L, 2L)).toDF("sk", "ck"), batchId = 0L)
    assert(lake.refreshes == 0, "replayed commit advanced the cadence")
    assert(new java.io.File(root, "pairs").listFiles().length == 1,
      "replay appended a duplicate pair commit")
    // Commit 2: s1-c2 merges the two components; the cadence fires
    // and the STORE (read back from disk) shows one 4-node component
    // mid-stream — the labels crossed the pre-existing component
    // boundary, so only a seeded re-converge can have produced them.
    lake.append(Seq((1L, 2L)).toDF("sk", "ck"), batchId = 1L)
    assert(lake.refreshes == 1)
    assert(hist() == Set((4L, 1L)), hist())
    // Commit 3: a new isolated pair lands; between cadence points the
    // store is one commit stale BY DESIGN.
    lake.append(Seq((5L, 5L)).toDF("sk", "ck"), batchId = 2L)
    assert(lake.refreshes == 1 && hist() == Set((4L, 1L)))
    // Stream-end flush picks up the pending commit.
    lake.refreshIfPending()
    assert(lake.refreshes == 2)
    assert(hist() == Set((4L, 1L), (2L, 1L)), hist())
    // End-to-end: the streamed maintenance over the sliced testdata
    // feed converges to exactly q80's batch histogram.
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.runStreamWccMaintenance(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Graph.connectedComponents(
      graft.Tables.load(spark, dir, "lineitem"),
      graft.Tables.load(spark, dir, "orders"),
      graft.Tables.load(spark, dir, "customer"),
      graft.Tables.load(spark, dir, "supplier"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed $streamed != batch $batch")
  }

  test("st36 rank lake: cold backfill then seeded refresh on the " +
      "cadence, empty batches still advance it, replayed commits are " +
      "idempotent, and the stream equals the batch restatement of the " +
      "same recurrence") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tempDir("st36_spec_")
      .resolve("lake").toString
    val lake = new EventStream.RankLake(spark, root, every = 2,
      baseIters = 2, deltaIters = 1)
    // Commit 0: below the cadence, no refresh, no store.
    lake.append(Seq((1L, 1L), (2L, 2L)).toDF("sk", "ck"), batchId = 0L)
    assert(lake.refreshes == 0 && lake.topK(10).isEmpty)
    // Replay of commit 0 (failure-retry): keyed by batchId, rewritten
    // in place — no duplicate pairs (outdeg would corrupt), cadence
    // does not advance.
    lake.append(Seq((1L, 1L), (2L, 2L)).toDF("sk", "ck"), batchId = 0L)
    assert(lake.refreshes == 0, "replayed commit advanced the cadence")
    assert(new java.io.File(root, "pairs").listFiles().length == 1,
      "replay appended a duplicate pair commit")
    // Commit 1: cadence fires — COLD backfill (no store existed).
    lake.append(Seq((1L, 2L)).toDF("sk", "ck"), batchId = 1L)
    assert(lake.refreshes == 1)
    // 4 nodes: suppliers 1,2 + customers 1,2.
    assert(lake.topK(10).count() == 4L)
    // Commit 2, EMPTY: no pairs, but the cadence still advances — the
    // unrolled oracle's eras depend only on the batch index, never on
    // slice occupancy.
    lake.append(Seq.empty[(Long, Long)].toDF("sk", "ck"), batchId = 2L)
    assert(lake.refreshes == 1)
    // Commit 3: cadence fires again — this refresh is SEEDED from the
    // store (1 round; a cold 1-round start could not rank the new
    // isolated pair below the connected component, the seeded one
    // keeps the old equilibrium).
    lake.append(Seq((9L, 9L)).toDF("sk", "ck"), batchId = 3L)
    assert(lake.refreshes == 2)
    val top = lake.topK(10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(top.length == 6, top.mkString(","))
    assert(top.map(_._4).toSeq == top.map(_._4).sorted.reverse.toSeq,
      "ranks not descending")
    // End-to-end: the streamed maintenance over the sliced testdata
    // feed equals an independent BATCH restatement of the same
    // recurrence (era prefixes at the cadence points, cold 10-round
    // backfill, rescaled 4-round seeded refreshes) built from the
    // Graph primitives directly — no lake, no stream, no storage.
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStream.runStreamPagerankMaintenance(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val dated = graft.ops.Graph.datedTradePairs(
      graft.Tables.load(spark, dir, "lineitem"),
      graft.Tables.load(spark, dir, "orders")).localCheckpoint()
    val mm = dated.agg(min("d0"), max("d0")).collect()(0)
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val sliced = dated.withColumn("slice",
      coalesce(expr(s"CAST(((d0 - ${mn}L) * 6) DIV ${mx - mn + 1}L " +
        "AS INT)"), lit(0)))
    var store: Option[org.apache.spark.sql.DataFrame] = None
    var nPrev = 0L
    for ((maxSlice, iters) <- Seq((1, 10), (3, 4), (5, 4))) {
      val edges0 = graft.ops.Graph.bipartiteEdges(
        sliced.filter(col("slice") <= maxSlice).select("sk", "ck"))
      val edges = edges0.join(
        edges0.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct()
        .localCheckpoint()
      val n = nodes.count()
      val base = 1000000000000L / n
      val seed = store match {
        case None => nodes.select(col("node"), lit(base).as("r"))
        case Some(prev) => nodes
          .join(prev.withColumnRenamed("node", "bn")
            .withColumnRenamed("r", "br"),
            col("node") === col("bn"), "left")
          .select(col("node"), coalesce(
            expr(s"(br div ${n}L) * ${nPrev}L + " +
              s"((br % ${n}L) * ${nPrev}L) div ${n}L"),
            lit(base)).as("r"))
      }
      store = Some(graft.ops.Graph.prRounds(edges, nodes,
        seed.localCheckpoint(), (15L * base) / 100L, iters,
        df => df.localCheckpoint()))
      nPrev = n
    }
    val batch = graft.ops.Graph.prTopK(store.get, 25)
      .map(t => (t._1, t._2, t._3, t._4))
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed $streamed != batch $batch")
  }

  test("pinSliceOrder: slice data files written within one clock tick " +
      "come out with strictly increasing mtimes, so FileStreamSource " +
      "discovery order IS the slice order") {
    // The failure mode being pinned: sequentially written slices can
    // land on the same filesystem timestamp, and FileStreamSource's
    // mtime ordering breaks ties unspecified — st35/st36's oracles
    // (order-dependent by construction) would flake. After pinning,
    // the global mtime order across slices is total and matches the
    // slice index order.
    val input = tempDir("pin_spec_")
      .toString
    val t0 = System.currentTimeMillis()
    for (i <- 0 until 3) {
      val d = new java.io.File(s"$input/s$i"); d.mkdirs()
      val f = new java.io.File(d, s"part-0000$i.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1))
      f.setLastModified(t0) // force the tie
    }
    EventStream.pinSliceOrder(input, 3)
    val mtimes = (0 until 3).map(i =>
      new java.io.File(s"$input/s$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max)
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3,
      s"mtimes not strictly increasing: $mtimes")
  }

  test("st28 merge: re-applying the same batch leaves the lake " +
      "bit-identical (replay idempotency)") {
    val root = tempDir("st28_idem_")
      .resolve("lake").toString
    val b = cdcBatch(Seq(
      (1L, 10L, 100L, "view", 1.0),
      (2L, 10L, 200L, "click", 2.0),
      (3L, 11L, 150L, "view", 3.0),
      (4L, 12L, 120L, "error", 0.0))) // tombstone
    EventStream.mergeBatchIntoLake(b, root)
    val once = lakeRows(root)
    // the restart path: the same batch re-delivered after a crash
    EventStream.mergeBatchIntoLake(b, root)
    assert(lakeRows(root) == once)
    // tombstone persisted in the lake (so replay cannot resurrect),
    // but hidden from consumers
    assert(once.exists(_.startsWith("12|")))
    assert(once.count(_.startsWith("10|")) == 1) // compacted to latest
  }

  test("st28 merge: incremental batches converge to the single-shot " +
      "merge, late rows never outrank newer state") {
    val rootA = tempDir("st28_inc_")
      .resolve("lake").toString
    val rootB = tempDir("st28_one_")
      .resolve("lake").toString
    val b1 = cdcBatch(Seq(
      (1L, 20L, 100L, "view", 1.0),
      (2L, 21L, 500L, "click", 5.0),
      (3L, 22L, 300L, "view", 3.0)))
    val b2 = cdcBatch(Seq(
      (4L, 20L, 400L, "click", 4.0),  // newer: wins for key 20
      (5L, 21L, 50L, "view", 9.9),    // LATE: must not outrank us=500
      (6L, 22L, 600L, "error", 0.0))) // delete key 22
    EventStream.mergeBatchIntoLake(b1, rootA)
    EventStream.mergeBatchIntoLake(b2, rootA)
    EventStream.mergeBatchIntoLake(cdcBatch(Seq(
      (1L, 20L, 100L, "view", 1.0),
      (2L, 21L, 500L, "click", 5.0),
      (3L, 22L, 300L, "view", 3.0),
      (4L, 20L, 400L, "click", 4.0),
      (5L, 21L, 50L, "view", 9.9),
      (6L, 22L, 600L, "error", 0.0))), rootB)
    assert(lakeRows(rootA) == lakeRows(rootB))
    val live = spark.read
      .option("basePath", rootA)
      .schema("user_id BIGINT, last_us BIGINT, last_event_id BIGINT, " +
        "deleted INT, value DOUBLE, bucket INT")
      .parquet(rootA)
      .filter(col("deleted") === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(live == Seq((20L, 400L, 4.0), (21L, 500L, 5.0)))
  }

  test("st28 merge: an untouched bucket's files are not rewritten " +
      "(partition-scoped copy-on-write)") {
    val root = tempDir("st28_cow_")
      .resolve("lake").toString
    // bucket 1 (user 17 % 8 = 1) and bucket 3 (user 19 % 8 = 3)
    EventStream.mergeBatchIntoLake(cdcBatch(Seq(
      (1L, 17L, 100L, "view", 1.0),
      (2L, 19L, 100L, "view", 2.0))), root)
    def files(b: Int): Map[String, Long] = {
      val d = new java.io.File(s"$root/bucket=$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = files(3)
    Thread.sleep(1100) // lastModified granularity
    // second batch touches only bucket 1
    EventStream.mergeBatchIntoLake(cdcBatch(Seq(
      (3L, 17L, 200L, "click", 9.0))), root)
    assert(files(3) == before,
      "bucket 3 files rewritten by a bucket-1-only batch")
    assert(lakeRows(root).exists(_.startsWith("17|200|")))
  }
}
