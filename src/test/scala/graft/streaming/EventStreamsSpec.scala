package graft.streaming

import graft.testkit.SparkSpec
import graft.queries.EventQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming twins must agree with their batch counterparts on the same
  * data (the memory-sink local smoke per the Spark guide). */
class EventStreamsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg equals the batch e_window_agg result") {
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.windowedAgg(stream), "win_out", OutputMode.Append)
    try {
      // Append mode emits a window only once the 2h watermark passes its
      // end: streamed rows must be a subset of batch, and every window
      // closed by the final watermark must be present.
      val s = spark.table("win_out").select("win_start_us", "event_type", "cnt")
      val b = EventQueries.queries("e_window_agg")(spark, dir)
        .select("win_start_us", "event_type", "cnt")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val maxUs = ev.agg(max(graft.io.Tables.eventMicros(ev))).head().getLong(0)
      val closed = b.where(col("win_start_us") + (3600L * 1000000L) <
        maxUs - (2L * 3600L * 1000000L))
      assert(s.count() > 0, "stream emitted nothing")
      assert(s.except(b).isEmpty, "streamed window disagrees with batch")
      assert(closed.except(s).isEmpty, "watermark-closed window missing from stream")
    } finally q.stop()
  }

  test("streaming HLL approx-distinct equals the batch sketch per window") {
    import graft.functions.{Hashing, HllSketch}
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.approxDistinctStream(stream), "hll_out", OutputMode.Append)
    try {
      val s = spark.table("hll_out")
      // batch twin: same windowing, same sketch — estimates must agree
      // EXACTLY (registers merge by max; order cannot matter)
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val b = ev
        .withColumn("win_start_us", usC - usC % (3600L * 1000000L))
        .groupBy("win_start_us", "event_type")
        .agg(HllSketch.hll60(Hashing.hash60(col("user_id").cast("string")))
          .as("approx_users"))
      assert(s.count() > 0, "stream emitted nothing")
      assert(s.except(b).isEmpty, "streamed sketch estimate disagrees with batch")
    } finally q.stop()
  }

  test("streaming HDR quantiles equal the batch sketch per window") {
    import graft.functions.LogBinQuantiles
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.quantileStream(stream), "hdrq_out", OutputMode.Append)
    try {
      val s = spark.table("hdrq_out")
      // batch twin: bin counts add, so any merge order yields the same
      // cumulative ranks — estimates must agree EXACTLY
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val b = ev
        .withColumn("win_start_us", usC - usC % (3600L * 1000000L))
        .groupBy("win_start_us", "event_type")
        .agg(LogBinQuantiles.hdrQuantiles(
          floor(col("value") * 100 + 0.5).cast("long"),
          Seq(0.5, 0.95, 0.99)).as("qq"))
        .select(col("win_start_us"), col("event_type"),
          element_at(col("qq"), 1).as("p50_cents"),
          element_at(col("qq"), 2).as("p95_cents"),
          element_at(col("qq"), 3).as("p99_cents"))
      assert(s.count() > 0, "stream emitted nothing")
      assert(s.except(b).isEmpty, "streamed quantiles disagree with batch")
    } finally q.stop()
  }

  test("streamed log-bin quantiles equal the batch lgq sketch exactly") {
    import graft.functions.LogBinQuantiles
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.logQuantileStream(stream), "lgq_out", OutputMode.Append)
    try {
      val s = spark.table("lgq_out")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val b = ev
        .withColumn("win_start_us", usC - usC % (3600L * 1000000L))
        .groupBy("win_start_us", "event_type")
        .agg(LogBinQuantiles.logQuantiles(
          floor(col("value") * 100 + 0.5).cast("long"),
          Seq(0.5, 0.95, 0.99)).as("qq"))
        .select(col("win_start_us"), col("event_type"),
          element_at(col("qq"), 1).as("p50_cents"),
          element_at(col("qq"), 2).as("p95_cents"),
          element_at(col("qq"), 3).as("p99_cents"))
      assert(s.count() > 0, "stream emitted nothing")
      assert(s.except(b).isEmpty, "streamed lgq disagrees with batch")
    } finally q.stop()
  }

  test("stream-stream range join equals the batch e_range_join result") {
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.rangeJoinStream(stream), "rj_out", OutputMode.Append)
    try {
      val s = spark.table("rj_out")
      val b = EventQueries.queries("e_range_join")(spark, dir)
      // a single AvailableNow batch holds both sides in full, so the
      // inner join must emit exactly the batch twin's rows
      assert(s.count() == b.count() && s.except(b).isEmpty && b.except(s).isEmpty,
        "streamed range join disagrees with batch twin")
    } finally q.stop()
  }

  test("keyless stream-stream interval join equals the batch overlap join") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStreams.runToMemory(
      EventStreams.intervalJoinStream(EventStreams.readEvents(spark, dir)),
      "ij_stream", org.apache.spark.sql.streaming.OutputMode.Append)
    q.stop()
    val got = spark.table("ij_stream")
    val batch = graft.SparkEntry.queries("e_interval_join")(spark, dir)
    assert(got.count() > 0 && got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("outer range join = inner matches + nulls for watermark-evicted unmatched") {
    val q = EventStreams.runToMemory(
      EventStreams.rangeJoinOuterStream(EventStreams.readEvents(spark, dir)),
      "rjo_out", OutputMode.Append)
    try {
      val s = spark.table("rjo_out")
      val matched = s.where(col("click_id").isNotNull)
      val nulls = s.where(col("click_id").isNull)

      // batch twin of the matched part
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val windowUs = 1800L * 1000000L
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          usC.as("click_ts_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("interval_id"),
          usC.as("p_ts_us"))
      val b = p.join(c, col("cu") === col("pu") &&
          col("click_ts_us") >= col("p_ts_us") &&
          col("click_ts_us") <= col("p_ts_us") + windowUs)
        .select("interval_id", "p_ts_us", "click_id", "click_ts_us")
      assert(matched.count() == b.count() && matched.except(b).isEmpty,
        "outer join's matched part disagrees with batch inner join")

      // every null row is genuinely unmatched, below the min-side
      // watermark minus the window, and no purchase appears both ways
      assert(nulls.count() > 0, "no eviction nulls emitted")
      assert(nulls.join(b, "interval_id").isEmpty,
        "a purchase emitted both a match and a null")
      val wmUs = (math.min(
        c.agg(max("click_ts_us")).head().getLong(0) / 1000,
        p.agg(max("p_ts_us")).head().getLong(0) / 1000) - 7200000L) * 1000
      val late = nulls.where(col("p_ts_us") >= wmUs - windowUs)
      assert(late.isEmpty, "null emitted for a purchase still inside the horizon")
    } finally q.stop()
  }

  test("full outer range join accounts for evicted rows of BOTH sides") {
    val q = EventStreams.runToMemory(
      EventStreams.rangeJoinFullStream(EventStreams.readEvents(spark, dir)),
      "rjf_out", OutputMode.Append)
    try {
      val s = spark.table("rjf_out")
      val matched = s.where(col("click_id").isNotNull && col("interval_id").isNotNull)
      val pNulls = s.where(col("click_id").isNull)
      val cNulls = s.where(col("interval_id").isNull)

      val ev = spark.read.parquet(s"$dir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val windowUs = 1800L * 1000000L
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          usC.as("click_ts_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("interval_id"),
          usC.as("p_ts_us"))
      val b = p.join(c, col("cu") === col("pu") &&
          col("click_ts_us") >= col("p_ts_us") &&
          col("click_ts_us") <= col("p_ts_us") + windowUs)
        .select("interval_id", "p_ts_us", "click_id", "click_ts_us")
      assert(matched.count() == b.count() && matched.except(b).isEmpty,
        "full outer's matched part disagrees with batch inner join")

      // both sides must null-emit (this fixture has unmatched rows on
      // each), never a row that also matched, never inside its horizon
      assert(pNulls.count() > 0 && cNulls.count() > 0,
        "expected eviction nulls from both sides")
      assert(pNulls.join(b, "interval_id").isEmpty,
        "a purchase emitted both a match and a null")
      assert(cNulls.join(b, "click_id").isEmpty,
        "a click emitted both a match and a null")
      val wmUs = (math.min(
        c.agg(max("click_ts_us")).head().getLong(0) / 1000,
        p.agg(max("p_ts_us")).head().getLong(0) / 1000) - 7200000L) * 1000
      assert(pNulls.where(col("p_ts_us") >= wmUs - windowUs).isEmpty,
        "null for a purchase still inside its horizon (wm - window)")
      assert(cNulls.where(col("click_ts_us") >= wmUs).isEmpty,
        "null for a click still inside its horizon (wm)")
      // accounting: every click either matched or null-emitted-once,
      // and clicks below wm are covered exactly once
      val cCovered = matched.select("click_id")
        .union(cNulls.select("click_id"))
      assert(cCovered.groupBy("click_id").count()
        .where(col("count") > 1).join(b.groupBy("click_id").count()
          .where(col("count") > 1), "click_id", "left_anti").isEmpty,
        "a click appears more times than its match count")
    } finally q.stop()
  }

  test("streaming sessionizer flushes a trailing session via event-time timeout") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val events = ms.toDF().select(col("_1").as("user_id"),
      col("_2").as("event_id"), (col("_3") * 1000).as("ts")) // to nanos
    val q = EventStreams.sessionize(spark, events).writeStream
      .outputMode("append").format("memory").queryName("sess_stream").start()
    try {
      ms.addData((1L, 1L, 1000L * us), (1L, 2L, 1060L * us))
      q.processAllAvailable() // watermark after batch: max(0, 1060s-30min)
      ms.addData((2L, 3L, 20000L * us))
      q.processAllAvailable() // watermark advances to 20000s-30min ≫ timeout
      ms.addData((2L, 4L, 20001L * us))
      q.processAllAvailable() // next batch fires the pending timeout
      val flushed = spark.table("sess_stream")
        .where(col("user_id") === 1L).collect()
      assert(flushed.length == 1, "trailing session was not flushed by timeout")
      assert(flushed.head.getAs[Long]("n_events") == 2L)
      assert(flushed.head.getAs[Long]("end_us") == 1060L * us)
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key within the watermark horizon") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val events = ms.toDF().select(col("_1").as("user_id"),
      col("_2").as("event_type"), (col("_3") * 1000).as("ts"))
    val q = EventStreams.dedupStream(events, Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      ms.addData((1L, "click", 1000L * us), (1L, "click", 1001L * us),
        (1L, "view", 1002L * us), (2L, "click", 1003L * us))
      q.processAllAvailable()
      ms.addData((1L, "click", 1004L * us)) // replay within horizon → dropped
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .select("user_id", "event_type").as[(Long, String)].collect().toSeq
      assert(rows.sorted == Seq((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("streaming near-dup flags exact and near duplicates, not unrelated docs") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
      timestamp_micros(col("_3")).as("tts"))
    val q = EventStreams.nearDupStream(spark, docs).writeStream
      .outputMode("append").format("memory").queryName("neardup_stream").start()
    try {
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog", 1000L * us),
        (3L, "completely different words entirely unrelated content here", 1001L * us))
      q.processAllAvailable()
      ms.addData( // exact dup of doc 1, arriving later
        (4L, "the quick brown fox jumps over the lazy dog", 1010L * us))
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream")
        .select("a", "b").distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 4L)),
        s"expected exactly the exact-dup pair, got $pairs")
      // exact dup collides in every band
      assert(spark.table("neardup_stream").count() == 4L)
    } finally q.stop()
  }

  test("streaming funnel equals the batch conditional-min stage times") {
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.runToMemory(
      EventStreams.funnelStream(spark, stream), "funnel_out", OutputMode.Append)
    try {
      val s = spark.table("funnel_out")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val e = ev
        .select(col("user_id"), col("event_type"),
          graft.io.Tables.eventMicros(ev).as("ts_us"))
      val t1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val t2 = e.where(col("event_type") === "click")
        .join(t1, Seq("user_id")).where(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val t3 = e.where(col("event_type") === "purchase")
        .join(t2, Seq("user_id")).where(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      val b = t1.select(col("user_id"), lit(0L).as("stage_idx"),
          lit("view").as("stage"), col("t1").as("ts_us"))
        .unionAll(t2.select(col("user_id"), lit(1L).as("stage_idx"),
          lit("click").as("stage"), col("t2").as("ts_us")))
        .unionAll(t3.select(col("user_id"), lit(2L).as("stage_idx"),
          lit("purchase").as("stage"), col("t3").as("ts_us")))
      assert(s.count() > 0 && s.count() === b.count())
      assert(s.except(b).isEmpty && b.except(s).isEmpty)
    } finally q.stop()
  }

  test("streaming funnel is monotone across batches: late events cannot lower a taken stage") {
    // The documented divergence from batch e_funnel (EventStreams.funnelStream
    // scaladoc): within a batch rows process in event-time order, but a
    // late cross-batch arrival must NOT retroactively lower an
    // already-taken stage time — the standard streaming-funnel
    // approximation, asserted here explicitly.
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val events = ms.toDF().select(col("_1").as("user_id"),
      col("_2").as("event_type"), (col("_3") * 1000).as("ts")) // nanos ts
    val q = EventStreams.funnelStream(spark, events).writeStream
      .outputMode("append").format("memory").queryName("funnel_mono").start()
    try {
      ms.addData((1L, "view", 100L * us), (1L, "click", 200L * us))
      q.processAllAvailable()
      ms.addData((1L, "click", 150L * us)) // late: batch semantics would take 150
      q.processAllAvailable()
      ms.addData((1L, "purchase", 250L * us))
      q.processAllAvailable()
      val byStage = spark.table("funnel_mono")
        .select("stage_idx", "ts_us").as[(Long, Long)].collect().toMap
      assert(byStage == Map(0L -> 100L * us, 1L -> 200L * us, 2L -> 250L * us),
        s"late click must not lower stage 1 from 200s: $byStage")
    } finally q.stop()
  }

  test("running stats carry exact state across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, Double)]
    val events = ms.toDF().select(col("_1").as("event_type"),
      col("_2").as("event_id"), (col("_3") * 1000).as("ts"), col("_4").as("value"))
    val q = EventStreams.runningStatsStream(spark, events).writeStream
      .outputMode("append").format("memory").queryName("run_stream").start()
    try {
      ms.addData(("a", 1L, 100L * us, 2.0), ("a", 2L, 200L * us, 3.0))
      q.processAllAvailable()
      ms.addData(("a", 3L, 300L * us, 5.0)) // second batch: prior = batch-1 state
      q.processAllAvailable()
      val rows = spark.table("run_stream")
        .select("event_id", "n_prior", "sum_prior_cents", "sumsq_prior_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows == Set(
        (1L, 0L, 0L, 0L),
        (2L, 1L, 200L, 40000L),
        (3L, 2L, 500L, 130000L))) // 200+300 cents; 200^2+300^2
    } finally q.stop()
  }

  test("streaming SCD2 sink equals a batch slice-by-slice Scd2.merge fold") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStreams.scd2StreamingSink(spark, dir)

    // batch replay: the same 4 time-contiguous slices the stager cuts,
    // folded through Scd2.merge at each slice's all-events high-water
    // mark — the streaming drain must reproduce this exactly
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val base = ev.select(col("user_id"), col("event_type"), col("value"),
        graft.io.Tables.eventMicros(ev).as("ts_us"), col("event_id"))
      .withColumn("rn", row_number().over(Window.orderBy("ts_us", "event_id")))
    val n = base.count()
    var dim = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("valid_from", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("valid_to", org.apache.spark.sql.types.LongType))))
    (0 until 4).foreach { k =>
      val slice = base.where(col("rn") > k * n / 4 && col("rn") <= (k + 1) * n / 4)
      val hi = slice.agg(max("ts_us")).first().getLong(0)
      val updates = slice.where(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("value"))
      if (!updates.isEmpty)
        dim = graft.pipeline.Scd2.merge(dim, updates, "user_id", Seq("value"), hi)
          .localCheckpoint()
    }
    assert(streamed.count() == dim.count() && dim.count() > 0)
    assert(streamed.exceptAll(dim).isEmpty && dim.exceptAll(streamed).isEmpty)
    // and the cadence is visible: at least one user has > 1 version
    assert(streamed.groupBy("user_id").count().where(col("count") > 1).count() > 0)
  }

  test("stateful sessionizer emits closed sessions; final state holds the rest") {
    import spark.implicits._
    // user 1: two sessions (gap > 30 min); user 2: one session
    val us = 1000000L
    val events = Seq(
      (1L, 1L, 1000L * us), (1L, 2L, 1060L * us), // session A
      (1L, 3L, 1000L * us + 3600L * us),          // session B (1h later)
      (2L, 4L, 500L * us))
      .toDF("user_id", "event_id", "ts_ns_like")
      .select(col("user_id"), col("event_id"),
        (col("ts_ns_like") * 1000).as("ts")) // to nanos
    val sessions = EventStreams.sessionize(spark, events)
    // batch run over a bounded frame: only session A closes (B and user-2
    // have no successor event) — flatMapGroupsWithState appends closed ones.
    val out = sessions.collect()
    assert(out.length == 1)
    val s = out.head
    assert(s.getAs[Long]("user_id") == 1L)
    assert(s.getAs[Long]("n_events") == 2L)
    assert(s.getAs[Long]("start_us") == 1000L * us && s.getAs[Long]("end_us") == 1060L * us)
  }

  test("streaming top-k leaderboard fold equals the one-shot batch top-k") {
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val batch = graft.plans.TopKPerKey.topKPerKey(e, Seq(col("event_type")),
      Seq(col("cents").desc, col("event_id")), k = 3)
    val folded = EventStreams.topkLeaderboardSink(spark, dir)
    assert(folded.exceptAll(batch).isEmpty && batch.exceptAll(folded).isEmpty,
      "folded leaderboard diverged from the one-shot top-k")
    // cadence independence (fold monoid): 8 micro-batches, same board
    val folded8 = EventStreams.topkLeaderboardSink(spark, dir, nFiles = 8)
    assert(folded8.exceptAll(batch).isEmpty && batch.exceptAll(folded8).isEmpty,
      "8-file cadence diverged")
  }
}
