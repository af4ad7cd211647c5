package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.graftbridge.Bridge

/** Structured Streaming surface for the events table: windowed
  * aggregation with watermarking and stateful gap-sessionization via
  * `flatMapGroupsWithState` — the streaming twins of the batch
  * [[graft.queries.EventQueries]] plans.
  *
  * The reference has no streaming surface (SURVEY.md §2.10); this module
  * is part of the engine's pipeline extension. For local smoke, read the
  * parquet directory with `readStream` and drive a memory sink with
  * `processAllAvailable()` (see EventStreamsSpec).
  */
object EventStreams {

  /** Streaming source over the testdata directory (FileStreamSource
    * monitors a directory; the glob filter selects the events table). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
  }

  // Staged multi-batch copies of the events table, one per (session,
  // dir, nFiles): the single-file testdata parquet drains as ONE data
  // micro-batch, which leaves every cross-batch state path (funnel
  // carry, dedup state hits, running-stat accumulation, mid-stream
  // watermark eviction) unexercised by the driver gate. Staging rewrites
  // the table as nFiles TIME-CONTIGUOUS parquet files with strictly
  // increasing modification times, so a maxFilesPerTrigger=1 AvailableNow
  // drain runs one micro-batch per file in event-time order — the
  // watermark only ever advances, no row is late, and the final result
  // equals the single-batch drain (same oracles).
  // keyed by applicationId, not the session object (ADVICE r9: a
  // SparkSession key pins the session and its staged dirs for the JVM
  // lifetime)
  private val mbCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int), String]

  private def stageSortedEventFiles(spark: SparkSession, dir: String,
      nFiles: Int): String =
    mbCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, nFiles), {
      MicroBatchStage.sliced("graft_mb_events",
        spark.read.parquet(s"$dir/events.parquet"),
        nFiles, col("ts"), col("event_id"))
    })

  /** Multi-batch twin of [[readEvents]]: the same rows, staged as
    * `nFiles` time-sorted files read one per trigger, so a bounded drain
    * exercises state carry ACROSS micro-batches instead of within one. */
  def readEventsMultiBatch(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val schema = graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet")
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
  }

  /** Directory holding the time-sorted staged slices (test/restart
    * harnesses copy individual slices from here to simulate arrival). */
  private[graft] def stagedEventsDir(spark: SparkSession, dir: String,
      nFiles: Int = 4): String = stageSortedEventFiles(spark, dir, nFiles)

  /** 1-hour tumbling windowed counts/sums per event_type with a 2-hour
    * watermark: late data beyond the watermark is dropped, state is
    * bounded — the 100 TB/day streaming shape.
    *
    * `ts` is normalized schema-adaptively to a microsecond TimestampType
    * for the event-time machinery ([[graft.io.Tables.eventTime]]). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      // total_cents next to the double sum: the stream merges partial
      // sums in state-arrival order, so the DOUBLE total is only
      // reproducible to rounding — the integer-cents sum is exact in any
      // order and is what the driver gate hashes (ADVICE r6).
      .agg(count(lit(1)).as("cnt"), sum("value").as("total_value"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_cents"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("total_value"), col("total_cents"))

  /** Streaming distribution-drift monitor: per closed 1-hour window, the
    * chi-square contribution of each observed category against a STATIC
    * per-window rate baseline — the production alert for "tonight's
    * event mix stopped looking like last week's". The baseline reduces
    * to (category, expected-per-window) with Laplace smoothing
    * e = (n_base + 1) / n_windows_base, so it BROADCASTS and the stream
    * side is one windowed count plus a stateless stream-static left
    * join; a category the baseline never saw gets the smoothed floor
    * 1/n_windows_base — a finite huge contribution, which is the alert.
    * All arithmetic is counts and one shared division order, so the
    * monitor hash-verifies against the batch oracle exactly
    * ([[graft.pipeline.DataQuality.categoricalDrift]]'s discipline). */
  def driftMonitorStream(events: DataFrame, baseline: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val baseUs = baseline.select(
      graft.io.Tables.eventMicros(baseline).as("ts_us"),
      col("event_type").as("category"))
    val nWin = baseUs.select((col("ts_us") - col("ts_us") % hourUs).as("w"))
      .distinct().count()
    // an empty baseline would make every expected rate Infinity/NaN —
    // fail loudly instead of emitting unusable chi2 rows
    require(nWin > 0, "driftMonitorStream: empty baseline")
    val bexp = baseUs.groupBy("category")
      .agg(count(lit(1)).as("n_base"))
      .withColumn("e",
        (col("n_base") + lit(1)).cast("double") / lit(nWin.toDouble))
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type").as("category"))
      .agg(count(lit(1)).as("n_obs"))
      .join(broadcast(bexp), Seq("category"), "left")
      .withColumn("__e", coalesce(col("e"), lit(1.0 / nWin.toDouble)))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("category"), col("n_obs"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        // raw doubles (integer operands, shared op order → bit-identical
        // across engines; decimal rounds carry the half-ulp hazard)
        col("__e").as("expected"),
        ((col("n_obs") - col("__e")) * (col("n_obs") - col("__e")) /
          col("__e")).as("chi2_contrib"))
  }

  /** HOPPING (sliding) windowed aggregation — the third window shape
    * next to tumbling ([[windowedAgg]]) and session
    * ([[sessionWindowStream]]): 1-hour windows sliding every 30
    * minutes, so every event lands in exactly TWO overlapping windows
    * (starts aligned to the slide). State carries one open group per
    * (window, type) — 2× the tumbling count, still bounded by the
    * watermark horizon; append mode emits a window once the watermark
    * passes its END. Same exact-integer-cents discipline as
    * [[windowedAgg]]. */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_cents"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("total_cents"))

  /** Windowed approximate distinct users per event type via the custom
    * HLL aggregate ([[graft.functions.HllSketch]]). The state store
    * holds one 256-byte register array per open (window, type) group —
    * constant per group no matter how many distinct users stream
    * through, which is the whole point at stream scale; an exact
    * distinct would grow state linearly. The typed-imperative buffer
    * serializes into the state row like any built-in sketch. */
  def approxDistinctStream(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      .agg(graft.functions.HllSketch.hll60(
        graft.functions.Hashing.hash60(col("user_id").cast("string")))
        .as("approx_users"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("approx_users"))

  /** [[approxDistinctStream]] on the KMV synopsis
    * ([[graft.functions.KmvSketch]]) instead of HLL registers: state
    * per open (window, type) group is the ≤ k·8-byte synopsis buffer,
    * SERIALIZED through the state store between micro-batches and
    * merged on arrival — the streaming proof of the aggregate's
    * serialize/merge path. k smallest distinct is a pure set function,
    * so the batch replica matches bit-for-bit whatever the batch
    * cadence. */
  def kmvDistinctStream(events: DataFrame, k: Int = 64): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      .agg(graft.functions.KmvSketch.kmv(
        graft.functions.Hashing.hash60(col("user_id").cast("string")), k)
        .as("sk"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"),
        graft.functions.KmvSketch.estimate(col("sk"), k).as("approx_users"))

  /** Windowed value quantiles per event type via the HDR-bin sketch
    * ([[graft.functions.LogBinQuantiles]] at m = 6): state per open
    * (window, type) group is one sparse bin-count map (≤ 4033 bins, in
    * practice a few dozen), never the values — same bounded-state story as
    * [[approxDistinctStream]]. Values are exact integer cents so the
    * sketch is bit-reproducible against its batch twin. */
  def quantileStream(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      .agg(graft.functions.LogBinQuantiles.hdrQuantiles(
        floor(col("value") * 100 + 0.5).cast("long"),
        Seq(0.5, 0.95, 0.99)).as("qq"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"),
        element_at(col("qq"), 1).as("p50_cents"),
        element_at(col("qq"), 2).as("p95_cents"),
        element_at(col("qq"), 3).as("p99_cents"))

  /** [[quantileStream]]'s heavy-tail twin on the sparse log-bin sketch
    * ([[graft.functions.LogBinQuantiles]] at m = 12): same bounded-state
    * story, but 2^-12 relative error with state tracking only the
    * occupied octaves — bin counts add, so the stream is bit-equal to the batch
    * sketch under any trigger cadence. */
  def logQuantileStream(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "2 hours")
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      .agg(graft.functions.LogBinQuantiles.logQuantiles(
        floor(col("value") * 100 + 0.5).cast("long"),
        Seq(0.5, 0.95, 0.99)).as("qq"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"),
        element_at(col("qq"), 1).as("p50_cents"),
        element_at(col("qq"), 2).as("p95_cents"),
        element_at(col("qq"), 3).as("p99_cents"))

  final case class Event(user_id: Long, event_id: Long, ts_us: Long,
      tts: java.sql.Timestamp)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Stateful sessionization: per-user 30-minute-gap sessions. A session
    * closes (and emits) when a later event for the user exceeds the gap,
    * OR when the event-time watermark passes lastEvent+gap — the
    * event-time timeout that flushes trailing open sessions and prunes
    * their state in a real stream. State per key is one (start, last,
    * count) triple. In batch execution timeouts never fire, so a bounded
    * run emits only successor-closed sessions (EventStreamsSpec). */
  def sessionize(spark: SparkSession, events: DataFrame, gapUs: Long = 1800L * 1000000L): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        graft.io.Tables.eventTime(events).as("tts"))
      .as[Event]
      .withWatermark("tts", "30 minutes")

    def update(userId: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator.single(Session(userId, s.startUs, s.lastUs, s.n))
      }
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = state.getOption
      val out = Seq.newBuilder[Session]
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.lastUs <= gapUs =>
            cur = Some(s.copy(lastUs = e.ts_us, n = s.n + 1))
          case Some(s) =>
            out += Session(userId, s.startUs, s.lastUs, s.n)
            cur = Some(SessionState(e.ts_us, e.ts_us, 1))
          case None =>
            cur = Some(SessionState(e.ts_us, e.ts_us, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close at lastEvent+gap in event time; clamp above the current
        // watermark (setTimeoutTimestamp rejects past timestamps). In
        // batch there is no watermark — timeouts never fire there anyway.
        val timeoutMs = s.lastUs / 1000 + gapUs / 1000
        val floorMs =
          try state.getCurrentWatermarkMs() + 1
          catch { case _: UnsupportedOperationException => Long.MinValue }
        state.setTimeoutTimestamp(math.max(timeoutMs, floorMs))
      }
      out.result().iterator
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  /** Streaming exact dedup — the unbounded-input twin of
    * [[graft.pipeline.Dedup.exact]]: first occurrence of each key
    * combination wins, with per-key state pruned once the event-time
    * watermark passes (duplicates at 100 TB/day arrive close together —
    * replays, at-least-once sources — so a horizon-bounded state is the
    * standard shape; `dropDuplicatesWithinWatermark` keys the state
    * store exactly like a streaming aggregation). */
  def dedupStream(events: DataFrame, keys: Seq[String],
      horizon: String = "2 hours"): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", horizon)
      .dropDuplicatesWithinWatermark(keys)
      .drop("tts")

  /** Stream-stream range join — the unbounded-input twin of the batch
    * `e_range_join` plan ([[graft.core.Ops.rangeJoin]]): every event
    * falling inside the `windowUs` window opened by each purchase of the
    * same user. Both sides carry watermarks and the join condition
    * time-bounds the event side against the purchase side, so Spark
    * derives eviction bounds for BOTH join state stores — the only
    * stream-stream inner-join shape that runs unbounded (an
    * unconstrained join would buffer each side forever). */
  def rangeJoinStream(events: DataFrame,
      windowUs: Long = 1800L * 1000000L, horizon: String = "2 hours"): DataFrame = {
    val withTts = events.withColumn("tts", graft.io.Tables.eventTime(events))
    val points = withTts
      .select(col("user_id"), col("event_id"), col("tts"),
        unix_micros(col("tts")).as("ts_us"))
      .withWatermark("tts", horizon)
    val purchases = withTts
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("interval_id"), col("tts").as("p_tts"))
      .withWatermark("p_tts", horizon)
    purchases.join(points,
        col("user_id") === col("p_user") &&
          col("tts") >= col("p_tts") &&
          col("tts") <= col("p_tts") + expr(s"INTERVAL $windowUs MICROSECOND"))
      .select(col("interval_id"), col("event_id"), col("ts_us"))
  }

  /** Stream-stream LEFT OUTER range join: each purchase left-joined to
    * the clicks that land inside its `windowUs` follow-window. Matched
    * pairs emit as they join (the [[rangeJoinStream]] path); an
    * UNMATCHED purchase emits exactly once, with NULL click columns,
    * when the watermark proves no future click can still land in its
    * window — the outer-join state-eviction path the inner join never
    * exercises. Both sides bound their state by the same horizon.
    *
    * Watermark subtlety (measured in r7, replayed by the gate
    * oracle): the GLOBAL watermark is the MIN across the two
    * filtered inputs' own delayed watermarks — the slower side (clicks
    * here) gates eviction for both — and a left row null-emits iff
    * p_ts < globalWm − window. */
  def rangeJoinOuterStream(events: DataFrame,
      windowUs: Long = 1800L * 1000000L, horizon: String = "2 hours"): DataFrame = {
    val withTts = events.withColumn("tts", graft.io.Tables.eventTime(events))
    val clicks = withTts
      .where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("tts"),
        unix_micros(col("tts")).as("ts_us"))
      .withWatermark("tts", horizon)
    val purchases = withTts
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("interval_id"), col("tts").as("p_tts"),
        unix_micros(col("tts")).as("p_ts_us"))
      .withWatermark("p_tts", horizon)
    purchases.join(clicks,
        col("user_id") === col("p_user") &&
          col("tts") >= col("p_tts") &&
          col("tts") <= col("p_tts") + expr(s"INTERVAL $windowUs MICROSECOND"),
        "leftOuter")
      .select(col("interval_id"), col("p_ts_us"),
        col("event_id").as("click_id"), col("ts_us").as("click_ts_us"))
  }

  /** FULL OUTER stream-stream range join — both sides null-emit on
    * eviction. Same key/range shape as [[rangeJoinOuterStream]]
    * (clicks within the 30-min window opened by a same-user purchase),
    * but unmatched CLICKS surface too — the audit shape that proves no
    * input row silently vanished from either stream.
    *
    * Eviction arithmetic (the gate oracle replays it exactly, same
    * ms-rounded global-min watermark as the left-outer case): from
    * c.tts ∈ [p.tts, p.tts+W], a purchase can still match future rows
    * (all ≥ wm) until p.tts + W < wm, a click until c.tts < wm — so
    * null rows appear for purchases below wm−W and clicks below wm,
    * each at most once (Spark tracks matched-ness per state row). */
  def rangeJoinFullStream(events: DataFrame,
      windowUs: Long = 1800L * 1000000L, horizon: String = "2 hours"): DataFrame = {
    val withTts = events.withColumn("tts", graft.io.Tables.eventTime(events))
    val clicks = withTts
      .where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("tts"),
        unix_micros(col("tts")).as("ts_us"))
      .withWatermark("tts", horizon)
    val purchases = withTts
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("interval_id"), col("tts").as("p_tts"),
        unix_micros(col("tts")).as("p_ts_us"))
      .withWatermark("p_tts", horizon)
    purchases.join(clicks,
        col("user_id") === col("p_user") &&
          col("tts") >= col("p_tts") &&
          col("tts") <= col("p_tts") + expr(s"INTERVAL $windowUs MICROSECOND"),
        "fullOuter")
      .select(col("interval_id"), col("p_ts_us"),
        col("event_id").as("click_id"), col("ts_us").as("click_ts_us"))
  }

  /** KEYLESS stream-stream interval-overlap join — the unbounded twin
    * of [[graft.core.Ops.intervalOverlapJoin]]: purchase attention
    * windows `[t, t+lWin]` × click dwell windows `[t, t+rWin]` joined on
    * pure time overlap with NO shared key. Spark's stream-stream join
    * REQUIRES an equality (the symmetric hash join keys its two state
    * stores on it), so a keyless overlap is inexpressible directly; the
    * bin trick MANUFACTURES the key: each side explodes (stateless,
    * pre-join) to the fixed-width time bins its window touches, the
    * join keys on bin equality, and the overlap + first-shared-bin
    * dedup ride as residual predicates. The overlap condition is
    * written on the two WATERMARKED tts columns, so Spark derives
    * eviction bounds for both state stores exactly as in
    * [[rangeJoinStream]] — state stays horizon-bounded, and the bin
    * key hash-spreads it across partitions. */
  def intervalJoinStream(events: DataFrame,
      lWinUs: Long = 1800L * 1000000L, rWinUs: Long = 600L * 1000000L,
      binUs: Long = 1800L * 1000000L, horizon: String = "2 hours"): DataFrame = {
    val withTts = events.withColumn("tts", graft.io.Tables.eventTime(events))
    val purchases = withTts
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("interval_id"), col("tts").as("p_tts"),
        unix_micros(col("tts")).as("p_ts"))
      .withWatermark("p_tts", horizon)
      .withColumn("pbin", explode(sequence(
        expr(s"p_ts div $binUs"), expr(s"(p_ts + $lWinUs) div $binUs"))))
    val clicks = withTts
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("tts").as("c_tts"),
        unix_micros(col("tts")).as("c_ts"))
      .withWatermark("c_tts", horizon)
      .withColumn("cbin", explode(sequence(
        expr(s"c_ts div $binUs"), expr(s"(c_ts + $rWinUs) div $binUs"))))
    purchases.join(clicks,
        col("pbin") === col("cbin") &&
          col("p_tts") <= col("c_tts") + expr(s"INTERVAL $rWinUs MICROSECOND") &&
          col("c_tts") <= col("p_tts") + expr(s"INTERVAL $lWinUs MICROSECOND") &&
          col("pbin") === greatest(
            expr(s"p_ts div $binUs"), expr(s"c_ts div $binUs")))
      .select(col("interval_id"), col("click_id"))
  }

  final case class BandHit(band: Int, band_hash: Long, doc_id: Long,
      ts_us: Long, tts: java.sql.Timestamp)
  final case class BucketState(rep: Long, lastUs: Long)
  final case class DupCandidate(a: Long, b: Long, band: Int)

  /** Streaming MinHash-LSH near-dup candidates — the unbounded-input
    * twin of [[graft.pipeline.Dedup.minHashCandidates]]. Signatures are
    * computed ROW-LOCALLY ([[graft.pipeline.Dedup.rowSignature]] — same
    * values as the batch aggregate, but no groupBy may precede a
    * stateful stage), band keys explode per row, and the stateful stage
    * keys on (band, band_hash): the first document seen in a bucket
    * becomes its representative (one long of state per live bucket),
    * every later arrival emits a (rep, doc, band) candidate. Event-time
    * timeout prunes buckets the watermark has passed — near-dups at
    * stream scale arrive close together (replays, crawl re-fetches), so
    * a horizon-bounded state is the standard shape. A pair colliding in
    * k bands emits k rows; distinct (a, b) downstream if needed.
    *
    * @param docs streaming frame with doc_id BIGINT, text STRING, and
    *             event-time tts TIMESTAMP columns
    * @param horizonUs watermark delay and bucket-state lifetime, micros
    */
  def nearDupStream(spark: SparkSession, docs: DataFrame,
      horizonUs: Long = 7200L * 1000000L): DataFrame = {
    import spark.implicits._
    import graft.pipeline.Dedup

    // fused native row-local signature (r13, MinHashSigExpr): same
    // stateless shape the stream needs, identical mh values to the
    // interpreted baseHashes+rowSignature chain it replaces
    // (MinHashSigExprSpec), one loop per doc instead of 17 interpreted
    // transforms; short docs filtered on the cheap size predicate
    val coeffs = (0 until Dedup.NumHashes).map(Dedup.minHashCoeffs)
    val sig = docs
      .select(col("doc_id"), col("tts"),
        graft.text.TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), col("tts"), graft.functions.MinHashSigExpr.minHashSig(
        col("toks"), 3, coeffs.map(_._1), coeffs.map(_._2), Dedup.MinHashP).as("s16"))
      .select(Seq(col("doc_id"), col("tts")) ++
        (0 until Dedup.NumHashes).map(h => col("s16").getItem(h).as(s"mh$h")): _*)
    val hits = sig
      .select(col("doc_id"), col("tts"), unix_micros(col("tts")).as("ts_us"),
        explode(Dedup.bandStructs).as("bb"))
      .select(col("bb.band").as("band"), col("bb.band_hash").as("band_hash"),
        col("doc_id"), col("ts_us"), col("tts"))
      .as[BandHit]
      .withWatermark("tts", s"${horizonUs / 1000000L} seconds")

    def update(key: (Int, Long), rows: Iterator[BandHit],
        state: GroupState[BucketState]): Iterator[DupCandidate] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.doc_id))
      var cur = state.getOption
      val out = Seq.newBuilder[DupCandidate]
      sorted.foreach { r =>
        cur match {
          case Some(s) =>
            if (r.doc_id != s.rep) out += DupCandidate(s.rep, r.doc_id, key._1)
            cur = Some(s.copy(lastUs = math.max(s.lastUs, r.ts_us)))
          case None =>
            cur = Some(BucketState(r.doc_id, r.ts_us))
        }
      }
      cur.foreach { s =>
        state.update(s)
        val timeoutMs = s.lastUs / 1000 + horizonUs / 1000
        val floorMs =
          try state.getCurrentWatermarkMs() + 1
          catch { case _: UnsupportedOperationException => Long.MinValue }
        state.setTimeoutTimestamp(math.max(timeoutMs, floorMs))
      }
      out.result().iterator
    }

    hits.groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  final case class FEvent(user_id: Long, event_type: String, ts_us: Long)
  final case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = unset
  final case class StageHit(user_id: Long, stage_idx: Long, stage: String,
      ts_us: Long)

  /** Stateful ordered-funnel tracker — the unbounded twin of the batch
    * `e_funnel` gate query: per user a three-slot stage-time state; an
    * event advances the funnel when the previous stage's time is set
    * and STRICTLY earlier, and each advance emits one row (Append).
    * Within a micro-batch rows process in event-time order, so a
    * bounded single-batch run reproduces the batch conditional-min
    * semantics exactly (EventStreamsSpec); across batches a late
    * out-of-order event cannot retroactively lower an already-taken
    * stage time — the standard monotone approximation every streaming
    * funnel makes. State is three longs per user with no timeout (a
    * funnel is a lifetime property, the same key cardinality as any
    * per-user aggregation). */
  def funnelStream(spark: SparkSession, events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    require(stages.length == 3, "funnelStream tracks exactly 3 stages")
    val typed = events
      .where(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        graft.io.Tables.eventMicros(events).as("ts_us"))
      .as[FEvent]

    def update(userId: Long, rows: Iterator[FEvent],
        state: GroupState[FunnelState]): Iterator[StageHit] = {
      var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
      val out = Seq.newBuilder[StageHit]
      rows.toSeq.sortBy(_.ts_us).foreach { e =>
        if (e.event_type == stages(0) && s.t1 < 0) {
          s = s.copy(t1 = e.ts_us)
          out += StageHit(userId, 0L, stages(0), e.ts_us)
        } else if (e.event_type == stages(1) && s.t1 >= 0 && s.t2 < 0 &&
            e.ts_us > s.t1) {
          s = s.copy(t2 = e.ts_us)
          out += StageHit(userId, 1L, stages(1), e.ts_us)
        } else if (e.event_type == stages(2) && s.t2 >= 0 && s.t3 < 0 &&
            e.ts_us > s.t2) {
          s = s.copy(t3 = e.ts_us)
          out += StageHit(userId, 2L, stages(2), e.ts_us)
        }
      }
      state.update(s)
      out.result().iterator
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Stream-static enrichment join: every streaming event picks up its
    * type's corpus-level statistics from a STATIC dimension frame. The
    * static side is planned per micro-batch like any batch relation —
    * broadcast here (it is k rows), so the stream never shuffles; this
    * is the third join regime next to stream-stream ([[rangeJoinStream]])
    * and batch-batch, and the standard shape for dimension lookups at
    * 100 TB/day (the dim refreshes between batches without restarting
    * the query). */
  def enrichStream(events: DataFrame, typeStats: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(typeStats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("type_avg"),
        round(col("value") - col("type_avg"), 6).as("delta_from_avg"))

  /** Stream-static AS-OF enrichment — the feature-store read on the
    * streaming path: each event joins the dimension VERSION valid at its
    * own event time (`ts_us ∈ [valid_from_us, valid_to_us)`), not the
    * latest one. Stateless like [[enrichStream]] (static side broadcast
    * per micro-batch; versioned dims are key-cardinality-sized), so a
    * dimension refresh between micro-batches is picked up without
    * restarting the query — the streaming twin of [[graft.pipeline.Scd2
    * .asOfJoin]]. `dim` carries (user_id, valid_from_us, valid_to_us,
    * asof_value). */
  def asOfEnrichStream(events: DataFrame, dim: DataFrame): DataFrame = {
    val ev = events
      .withColumn("ts_us", unix_micros(graft.io.Tables.eventTime(events)))
      .select(col("user_id"), col("event_id"), col("ts_us"))
    ev.join(broadcast(dim),
        ev("user_id") === dim("user_id") &&
          ev("ts_us") >= dim("valid_from_us") && ev("ts_us") < dim("valid_to_us"))
      .select(ev("user_id"), col("event_id"), col("ts_us"), col("asof_value"))
  }

  /** Streaming as-of enrichment against a CHANGING dimension — the shape
    * a real pipeline hits daily where [[asOfEnrichStream]]'s dim is
    * frozen per drain: the dimension (signup versions) grows WITH the
    * stream, and each micro-batch joins against the versions ingested so
    * far. Implemented as foreachBatch: per batch, rebuild the dim from
    * the staged source at the batch's own event-time high-water mark
    * (`ts_us <= max(batch.ts_us)` — a mid-drain version flip every
    * batch), run the NATIVE as-of operator ([[graft.plans.AsOfJoin]],
    * backward) against it, and write idempotently per batch id (the
    * [[exactlyOnceParquetSink]] recipe, so a replayed batch overwrites).
    *
    * Output carries `n_vers_known` — how many versions of the user's dim
    * existed AT PROCESSING TIME — which is what makes the gate sensitive
    * to the flip: enriching every batch against the full final dim (no
    * dynamics) yields version counts that are too high for early
    * batches and hash-mismatches the oracle, as does freezing the
    * batch-0 dim (counts too low, stale as-of values late). Correctness
    * of `asof_value` itself is flip-invariant BECAUSE staging is
    * time-contiguous: a backward as-of lookup at ts_e only needs
    * versions with vfrom ≤ ts_e ≤ hi_batch, all already ingested — the
    * reason a growing dim and the full-corpus oracle agree.
    *
    * At 100 TB this is the standard feature-store pattern: the per-batch
    * dim rebuild is a broadcast-sized versioned key list refreshed
    * between micro-batches without restarting the query; the as-of
    * operator keys-hash-partitions only the batch. */
  def asOfEnrichDynamicDrain(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageSortedEventFiles(spark, dir, 4)
    val root = Bridge.scratchDir("graft_asof_dyn")
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    val events = readEventsMultiBatch(spark, dir)
    val stream = events.select(col("user_id"), col("event_id"),
      graft.io.Tables.eventMicros(events).as("ts_us"))

    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        val hiRow = batch.agg(max("ts_us")).first()
        if (!hiRow.isNullAt(0)) {
          val hi = hiRow.getLong(0)
          // the dimension as ingested so far: pure event-time cutoff at
          // this batch's high-water mark (NOT slice membership — equal
          // timestamps straddling a file boundary count as arrived)
          val src = spark.read.parquet(staged)
          val ingested = src.where(graft.io.Tables.eventMicros(src) <= hi)
          val dim = ingested.where(col("event_type") === "signup")
            .select(col("user_id").as("d_user"),
              graft.io.Tables.eventMicros(ingested).as("vfrom_us"),
              col("value"))
            .groupBy("d_user", "vfrom_us")
            .agg(max("value").as("asof_value"))
          val nVers = dim.groupBy(col("d_user").as("nv_user"))
            .agg(count(lit(1)).as("n_vers_known"))
          // broadcast exec: the versioned dim is key-cardinality-sized,
          // so the batch side keeps its partitioning — per micro-batch
          // the as-of costs one broadcast, zero exchanges, zero sorts
          graft.plans.AsOfJoin.asOfJoin(batch, dim,
              Seq(col("user_id")), Seq(col("d_user")),
              col("ts_us"), col("vfrom_us"), broadcast = true)
            .where(col("asof_value").isNotNull) // inner as-of semantics
            .join(broadcast(nVers), col("user_id") === col("nv_user"))
            .select("user_id", "event_id", "ts_us", "asof_value",
              "n_vers_known")
            .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        }
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(out).drop("batch_id")
  }

  /** Streaming SCD2 dimension sink — the end-to-end "streaming corpus
    * refresh" composition of [[asOfEnrichDynamicDrain]]'s batch cadence
    * with [[graft.pipeline.Scd2.merge]]: each micro-batch's signup
    * events become an SCD2 update batch (latest value per user within
    * the batch, deterministically by (ts_us, event_id)), merged into the
    * accumulated dimension effective at the batch's event-time
    * high-water mark. A user whose value is unchanged since their open
    * version is a no-op (idempotent re-delivery); a changed value closes
    * the open version at the batch mark and appends the new one — so the
    * final table is the full version history with `[valid_from,
    * valid_to)` validity, built incrementally across the drain exactly
    * as a production corpus-refresh sink would build it.
    *
    * Scale shape: per batch ONE full-outer shuffle join between the
    * OPEN slice and the update batch (closed history is append-only,
    * never re-joined — [[graft.pipeline.Scd2]]'s O(open + batch)
    * contract); `localCheckpoint` truncates the per-batch lineage so the
    * plan does not grow with batch count — the streaming-side equivalent
    * of the checkpoint a long-lived merge loop needs on any engine. */
  def scd2StreamingSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, 4)
    val ckpt = Bridge.scratchDir("graft_scd2_ckpt")

    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType),
      StructField("valid_from", LongType), StructField("valid_to", LongType)))
    // accumulated dimension, checkpointed per batch (driver-held handle;
    // the data itself lives in executor block storage)
    var dim = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dimSchema)

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val stream = events.select(col("user_id"), col("event_type"), col("value"),
      graft.io.Tables.eventMicros(events).as("ts_us"), col("event_id"))

    val q = stream.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        val hiRow = batch.agg(max("ts_us")).first()
        if (!hiRow.isNullAt(0)) {
          val hi = hiRow.getLong(0)
          // one update row per user: the batch's latest signup value,
          // latest by (ts_us, event_id) — deterministic under ties
          val updates = batch.where(col("event_type") === "signup")
            .groupBy("user_id")
            .agg(max_by(col("value"),
              struct(col("ts_us"), col("event_id"))).as("value"))
          if (!updates.isEmpty) {
            dim = graft.pipeline.Scd2.merge(dim, updates, "user_id",
              Seq("value"), hi).localCheckpoint()
          }
        }
        batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    dim
  }

  /** Streaming MERGE-INTO sink — [[scd2StreamingSink]]'s stateless
    * companion: foreachBatch folds each micro-batch into an accumulating
    * SNAPSHOT (no history) via [[graft.pipeline.MergeInto]]. Per batch,
    * each user's latest signup/error event (by ts_us, event_id) becomes
    * the merge action: signup upserts the value, error deletes the row;
    * the conditional insert clause (op <> 'd') keeps a delete for an
    * absent user a no-op instead of resurrecting it. Because each batch
    * applies last-writer-wins per user, the final snapshot equals the
    * one-shot batch rule "globally latest signup/error decides" — the
    * cadence-independent oracle. */
  def mergeStreamingSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, 4)
    val ckpt = Bridge.scratchDir("graft_merge_ckpt")
    val snapSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType)))
    var snap = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snapSchema)

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val stream = events
      .where(col("event_type").isin("signup", "error"))
      .select(col("user_id"), col("event_type"), col("value"),
        graft.io.Tables.eventMicros(events).as("ts_us"), col("event_id"))

    val q = stream.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upd = batch.groupBy("user_id")
          .agg(max_by(struct(col("event_type"), col("value")),
            struct(col("ts_us"), col("event_id"))).as("last"))
          .select(col("user_id"),
            when(col("last.event_type") === "error", lit("d"))
              .otherwise(lit("u")).as("op"),
            col("last.value").as("value"))
        if (!upd.isEmpty) {
          snap = graft.pipeline.MergeInto.mergeInto(snap, upd, "user_id",
            matchedDeleteWhen = Some(col("s_op") === "d"),
            matchedUpdate = Seq("value" -> col("s_value")),
            notMatchedInsert = Seq("user_id" -> col("s_user_id"),
              "value" -> col("s_value")),
            notMatchedInsertWhen = Some(col("s_op") =!= "d"))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    snap
  }

  /** Streaming Kolmogorov–Smirnov drift monitor — the live twin of
    * [[graft.pipeline.DataQuality.ksTest]]: events arrive as
    * micro-batches, each batch is reduced to its per-(group, value)
    * side counts (the only scan a batch pays), folded into the
    * accumulated count state by key-summed union, and the exact KS
    * statistic is re-derived from the folded counts. The fold is
    * cadence-independent BY ALGEBRA — counts are additive, so any
    * batching of the same events ends at the identical count table and
    * the terminal statistic equals the one-shot batch dq_ks (shared
    * oracle verbatim). State = one row per (group, DISTINCT value),
    * independent of how many events streamed through a bucket.
    * @return (grp, n_base, n_cur, d_num, d) — ksTest's schema */
  def ksMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame =
    graft.pipeline.DataQuality.ksFromCounts(
      foldSideCounts(spark, dir, nFiles))

  /** Streaming Mann–Whitney U monitor — the location-shift twin of
    * [[ksMonitorSink]] on the SAME folded side-count state: one count
    * fold serves both statistics (both are functions of the per-
    * (group, value) side counts, which are additive across batches).
    * Terminal result ≡ the one-shot batch dq_mwu (shared oracle). */
  def mwuMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame =
    graft.pipeline.DataQuality.mwuFromCounts(
      foldSideCounts(spark, dir, nFiles))

  /** Streaming total-variation drift monitor — the third statistic off
    * the SAME folded side-count state as [[ksMonitorSink]] /
    * [[mwuMonitorSink]] (one additive count fold, three monitors).
    * Terminal result ≡ the one-shot batch dq_tvd (shared oracle). */
  def tvdMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame =
    graft.pipeline.DataQuality.tvdFromCounts(
      foldSideCounts(spark, dir, nFiles))

  /** Streaming Spearman trend monitor — the third statistic on an
    * additive fold: state is per-(group, value, time) PAIR counts
    * (one row per distinct pair, summed across batches), and the exact
    * tie-aware rho re-derives from the folded pairs via
    * [[graft.pipeline.DataQuality.spearmanFromPairCounts]] — terminal
    * result ≡ the one-shot batch dq_spearman (identical exact-integer
    * accumulators ⇒ identical bit pattern; shared oracle). */
  def spearmanMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_sp_ckpt")
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("grp", StringType),
        StructField("x", DoubleType), StructField("y", LongType),
        StructField("cnt", LongType))))

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = events.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bc = batch.groupBy(col("event_type").as("grp"),
            col("value").as("x"),
            graft.io.Tables.eventMicros(batch).as("y"))
          .agg(count(lit(1)).as("cnt"))
        if (!bc.isEmpty) {
          acc = acc.unionByName(bc)
            .groupBy("grp", "x", "y").agg(sum("cnt").as("cnt"))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.pipeline.DataQuality.spearmanFromPairCounts(acc)
  }

  /** Streaming materialized-aggregate maintenance — the live twin of
    * the d_mv_inc batch refresh: each micro-batch reduces to per-key
    * signed deltas ([[graft.pipeline.IncrementalAgg.delta]], one batch
    * scan) and folds into the standing rollup with the key full-outer
    * merge; the standing side is never rescanned. Delta folding is
    * additive, so any batching of the same rows lands on the identical
    * MV — the terminal table equals a from-scratch recompute over all
    * events (the oracle). Exactly-once is the AvailableNow drain's
    * checkpoint contract here; on a replaying sink, pair with the
    * idempotent batch-id pattern (retraction algebra is not
    * idempotent).
    * @return (k, n, total) — key = event_type|user_id, total = cents */
  def mvMaintenanceSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_mv_ckpt")
    var mv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", StringType),
        StructField("n", LongType), StructField("total", LongType))))

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = events.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(
          concat_ws("|", col("event_type"), col("user_id")).as("key"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        if (!rows.isEmpty) {
          mv = graft.pipeline.IncrementalAgg.refresh(mv,
            graft.pipeline.IncrementalAgg.delta(
              rows, col("key"), col("cents"), lit(false)))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    mv
  }

  /** Streaming TOP-K LEADERBOARD maintenance — the custom TopKPerKey
    * operator's streaming member: per micro-batch, the standing
    * leaderboard (≤k rows per key — BOUNDED state, independent of
    * stream length) unions the batch and is re-cut through
    * [[graft.plans.TopKPerKey]]'s bounded heaps. Top-k under a TOTAL
    * tie-break is a fold monoid — topk(topk(A) ∪ B) = topk(A ∪ B) —
    * so the fold is cadence-independent by algebra and the terminal
    * board equals the one-shot batch top-k over all events (the
    * q17_topk_per_key shape; oracle = row_number window).
    * @return (event_type, event_id, cents) — k rows per key */
  def topkLeaderboardSink(spark: SparkSession, dir: String,
      nFiles: Int = 4, k: Int = 3): DataFrame = {
    val ckpt = Bridge.scratchDir("graft_topk_ckpt")
    var standing: Option[DataFrame] = None
    val q = readEventsMultiBatch(spark, dir, nFiles).writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.select(col("event_type"), col("event_id"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          val merged = standing.map(_.unionByName(b)).getOrElse(b)
          standing = Some(graft.plans.TopKPerKey.topKPerKey(merged,
            Seq(col("event_type")),
            Seq(col("cents").desc, col("event_id")), k).localCheckpoint())
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    standing.getOrElse(spark.range(0).select(
      lit("").as("event_type"), lit(0L).as("event_id"), lit(0L).as("cents")))
  }

  /** Streaming CUSUM changepoint monitor — a third fold ALGEBRA next
    * to the additive counts and the min/max semilattices: the CUSUM
    * prefix summary (cum, runmin) is ASSOCIATIVE under sequence
    * concatenation —
    *
    *   cum(A·B)    = cum(A) + cum(B)
    *   runmin(A·B) = min(runmin(A), cum(A) + runmin(B))
    *
    * — so per-group state is O(1) scalars (plus the running peak), and
    * each micro-batch pays one local prefix window over ITS rows, one
    * broadcast join against the carried state, and one argmax. Unlike
    * the count folds this is ORDER-SENSITIVE: it is exact under
    * in-order arrival (the staged time-contiguous drain here; a Kafka
    * partition's per-key order in production), which is precisely why
    * the mean-centered dq_cusum cannot stream and this fixed-target
    * variant can. Terminal report ≡ the one-shot batch
    * [[graft.pipeline.DataQuality.cusumTargetReport]] (shared oracle).
    * @return (grp, n, max_cusum, cp_event_id, cp_ts) */
  def cusumMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4, targetCents: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val ckpt = Bridge.scratchDir("graft_cus_ckpt")
    val stSchema = StructType(Seq(
      StructField("grp", StringType), StructField("cum", LongType),
      StructField("rmin", LongType), StructField("peak", LongType),
      StructField("cp_t", LongType), StructField("cp_eid", LongType),
      StructField("n", LongType)))
    var st = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stSchema)

    val q = readEventsMultiBatch(spark, dir, nFiles).writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val wc = Window.partitionBy("grp").orderBy(col("t"), col("eid"))
            .rowsBetween(Window.unboundedPreceding, 0)
          val loc = batch.select(col("event_type").as("grp"),
              graft.io.Tables.eventMicros(batch).as("t"),
              col("event_id").as("eid"),
              (floor(col("value") * 100 + 0.5).cast("long") -
                lit(targetCents)).as("dev"))
            .withColumn("cumb", sum("dev").over(wc))
            .withColumn("rminb", least(lit(0L), min(col("cumb")).over(wc)))
            .join(broadcast(st.select(col("grp"), col("cum"), col("rmin"))),
              Seq("grp"), "left")
            .withColumn("cumA", coalesce(col("cum"), lit(0L)))
            .withColumn("rminA", coalesce(col("rmin"), lit(0L)))
            .withColumn("sadj", col("cumA") + col("cumb") -
              least(col("rminA"), col("cumA") + col("rminb")))
            .localCheckpoint()
          val bpeak = loc.withColumn("rn", row_number().over(
              Window.partitionBy("grp")
                .orderBy(col("sadj").desc, col("t"), col("eid"))))
            .where(col("rn") === 1)
            .select(col("grp"), col("sadj").as("bpeak"),
              col("t").as("bt"), col("eid").as("beid"))
          val blast = loc.withColumn("rn", row_number().over(
              Window.partitionBy("grp")
                .orderBy(col("t").desc, col("eid").desc)))
            .where(col("rn") === 1)
            .select(col("grp"),
              (col("cumA") + col("cumb")).as("cum2"),
              least(col("rminA"), col("cumA") + col("rminb")).as("rmin2"))
          val bn = loc.groupBy("grp").agg(count(lit(1)).as("bn"))
          val bsumm = bpeak.join(blast, Seq("grp")).join(bn, Seq("grp"))
          st = st.join(bsumm, Seq("grp"), "full_outer")
            .select(col("grp"),
              coalesce(col("cum2"), col("cum")).as("cum"),
              coalesce(col("rmin2"), col("rmin")).as("rmin"),
              // carried peak wins ties: it is the EARLIER occurrence
              when(col("bpeak").isNull || (col("peak").isNotNull &&
                  col("peak") >= col("bpeak")), col("peak"))
                .otherwise(col("bpeak")).as("peak"),
              when(col("bpeak").isNull || (col("peak").isNotNull &&
                  col("peak") >= col("bpeak")), col("cp_t"))
                .otherwise(col("bt")).as("cp_t"),
              when(col("bpeak").isNull || (col("peak").isNotNull &&
                  col("peak") >= col("bpeak")), col("cp_eid"))
                .otherwise(col("beid")).as("cp_eid"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
                .as("n"))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    st.select(col("grp"), col("n"), col("peak").as("max_cusum"),
      col("cp_eid").as("cp_event_id"), col("cp_t").as("cp_ts"))
  }

  /** Streaming SURVIVAL-CURVE maintenance — per-user lifetime state is
    * a JOIN-SEMILATTICE, not just additive: (first_ts, last_ts, ever-
    * purchased) merge by (min, max, max), so arrival order, batching,
    * and duplication cannot change the folded state (the CRDT argument,
    * same as the ANF register fold). Each micro-batch reduces to its
    * per-user extrema (the only scan it pays); the standing table is
    * one row per user; the terminal Kaplan-Meier curve re-derives from
    * the folded lifetimes ≡ the one-shot batch e_survival (shared
    * oracle). @return kaplanMeier's schema with t renamed t_us */
  // the per-user lifetime-extrema semilattice (min first-ts, max
  // last-ts, max purchase flag) — shared by the single-curve and
  // per-cohort survival monitors: one fold, two terminals
  private def foldUserLifetimes(spark: SparkSession, dir: String,
      nFiles: Int): DataFrame = {
    import org.apache.spark.sql.types._
    foldCountTable(spark, dir, nFiles,
      StructType(Seq(StructField("user_id", LongType),
        StructField("t0", LongType), StructField("t1", LongType),
        StructField("evt", LongType))), Seq("user_id"),
      merge = Map("t0" -> "min", "t1" -> "max", "evt" -> "max")) { b =>
      b.select(col("user_id"), graft.io.Tables.eventMicros(b).as("ts_us"),
          col("event_type"))
        .groupBy("user_id").agg(
          min("ts_us").as("t0"), max("ts_us").as("t1"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("evt"))
    }
  }

  def survivalMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    val folded = foldUserLifetimes(spark, dir, nFiles)
    graft.pipeline.DataQuality.kaplanMeier(
        folded.select((col("t1") - col("t0")).as("dur"), col("evt")),
        col("dur"), col("evt"))
      .withColumnRenamed("t", "t_us")
  }

  /** Streaming per-COHORT survival maintenance (VERDICT r9 #7) — the
    * SAME lifetime-extrema semilattice fold as [[survivalMonitorSink]]
    * (cohort is a pure function of user_id, so the per-user state
    * needs no extra key), with [[graft.pipeline.DataQuality
    * .kaplanMeierBy]] as the terminal: every window partitions by
    * cohort, a million independent curves in one pass. Terminal
    * result ≡ the one-shot batch e_survival_cohort (shared oracle). */
  def survivalCohortMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    val folded = foldUserLifetimes(spark, dir, nFiles)
    graft.pipeline.DataQuality.kaplanMeierBy(
        folded.select(col("user_id"),
            (col("t1") - col("t0")).as("dur"), col("evt"))
          .withColumn("cohort",
            concat(lit("c"), (col("user_id") % 3).cast("string"))),
        col("cohort"), col("dur"), col("evt"))
      .withColumnRenamed("t", "t_us")
  }

  /** Streaming COHORT-RETENTION maintenance — the state is the DISTINCT
    * (user, active-day) pair set, a set-union semilattice: each batch
    * contributes its distinct pairs, the fold unions them (min-merge of
    * an indicator ≡ distinct), and the terminal cohort table (first day
    * per user × day offset) re-derives from the folded pairs ≡ the
    * one-shot batch e_retention (shared oracle). */
  def retentionMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val day = 86400L * 1000000L
    val folded = foldCountTable(spark, dir, nFiles,
      StructType(Seq(StructField("user_id", LongType),
        StructField("d", LongType), StructField("one", LongType))),
      Seq("user_id", "d"), merge = Map("one" -> "min")) { b =>
      val ts = graft.io.Tables.eventMicros(b)
      b.select(col("user_id"), (ts - (ts % day)).as("d"))
        .distinct().withColumn("one", lit(1L))
    }
    val e = folded.select("user_id", "d")
    val first = e.groupBy("user_id").agg(min("d").as("cohort_d"))
    e.join(first, Seq("user_id"))
      .groupBy((col("cohort_d") / day).cast("long").as("cohort_day"),
        ((col("d") - col("cohort_d")) / day).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Generic additive-count fold: drain the staged event files one
    * micro-batch per file, reduce each batch to a count table via
    * `batchCounts`, and key-sum-merge it into the accumulated state.
    * Any count-shaped sufficient statistic is additive — counts of the
    * union of batches = sum of per-batch counts — so the fold is
    * cadence-independent by algebra and the terminal state equals the
    * one-shot batch aggregate. `keys` are the grouping columns of the
    * count table; every remaining column is merged with its entry in
    * `merge` (default sum; min/max extend the fold to join-semilattice
    * state — extrema and indicator sets — with the same cadence-
    * independence argument: idempotent + commutative + associative). */
  private def foldCountTable(spark: SparkSession, dir: String,
      nFiles: Int, schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], merge: Map[String, String] = Map.empty)(
      batchCounts: DataFrame => DataFrame): DataFrame = {
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_cnt_ckpt")
    val sums = schema.fieldNames.filterNot(keys.contains).toSeq
    def agg1(c: String) = merge.getOrElse(c, "sum") match {
      case "sum" => sum(c).as(c)
      case "min" => min(c).as(c)
      case "max" => max(c).as(c)
      case other => throw new IllegalArgumentException(
        s"foldCountTable: unknown merge '$other' for column $c")
    }
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = events.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bc = batchCounts(batch)
        if (!bc.isEmpty) {
          acc = acc.unionByName(bc)
            .groupBy(keys.map(col): _*)
            .agg(agg1(sums.head), sums.tail.map(agg1): _*)
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    acc
  }

  /** Streaming Benford monitor — the live twin of
    * [[graft.pipeline.DataQuality.benford]]: each micro-batch reduces
    * to its per-(group, first-digit) counts, folded additively, and the
    * chi-square-vs-log-law report re-derives from the folded counts.
    * Terminal result ≡ the one-shot batch dq_benford (shared oracle). */
  def benfordMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    graft.pipeline.DataQuality.benfordFromCounts(
      foldCountTable(spark, dir, nFiles,
        StructType(Seq(StructField("grp", StringType),
          StructField("digit", IntegerType),
          StructField("n_obs", LongType))), Seq("grp", "digit")) { b =>
        graft.pipeline.DataQuality.digitCounts(b, col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long"))
      })
  }

  /** Streaming median/MAD (Hampel) outlier monitor — the robust twin
    * of [[ksMonitorSink]]'s family on per-(group, cents) value counts:
    * counts fold additively, and the exact 2×-median / 4×-MAD ladder
    * re-derives from the folded counts. Terminal result ≡ the one-shot
    * batch dq_mad (shared oracle). */
  def madMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    graft.pipeline.DataQuality.madFromCounts(
      foldCountTable(spark, dir, nFiles,
        StructType(Seq(StructField("grp", StringType),
          StructField("c", LongType),
          StructField("cnt", LongType))), Seq("grp", "c")) { b =>
        graft.pipeline.DataQuality.centsCounts(b, col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long"))
      })
  }

  /** Streaming IQR (Tukey-fence) outlier monitor — the last dq entry
    * without a streaming twin (VERDICT r9 #5): per-(group, cents)
    * value counts fold additively through the generic count drain, and
    * the exact type-7 quantile interpolation re-derives from the
    * folded cumulative ladder ([[graft.pipeline.DataQuality
    * .iqrOutliersFromCounts]] — dyadic r/4 remainders on integer
    * cents, so every fence is an exact double and the gate hashes raw,
    * no quantile_cont tolerance needed). Terminal result ≡ the
    * one-shot batch dq_outliers_c (shared oracle). */
  def outlierMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    graft.pipeline.DataQuality.iqrOutliersFromCounts(
      foldCountTable(spark, dir, nFiles,
        StructType(Seq(StructField("grp", StringType),
          StructField("c", LongType),
          StructField("cnt", LongType))), Seq("grp", "c")) { b =>
        graft.pipeline.DataQuality.centsCounts(b, col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long"))
      })
  }

  /** Streaming quantile-shift (Q-Q) monitor — per-(group, cents) side
    * counts fold additively through the generic count drain; the
    * pure-integer decile ladder re-derives from the folded counts.
    * Terminal result ≡ the one-shot batch dq_qq (shared oracle). */
  def qqMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    graft.pipeline.DataQuality.qqFromCounts(
      foldCountTable(spark, dir, nFiles,
        StructType(Seq(StructField("grp", StringType),
          StructField("v", LongType),
          StructField("b", LongType),
          StructField("c", LongType))), Seq("grp", "v")) { batch =>
        graft.pipeline.DataQuality.sideCounts(batch, col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long"),
          col("event_id") % 2 =!= 0)
      })
  }

  /** Streaming contingency (association) monitor — cell counts of the
    * event_type × user-bucket table fold additively; the per-cell
    * chi-square-vs-independence report re-derives from the folded
    * cells. Terminal result ≡ the one-shot batch dq_contingency
    * (shared oracle). */
  def contingencyMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    graft.pipeline.DataQuality.contingencyFromCounts(
      foldCountTable(spark, dir, nFiles,
        StructType(Seq(StructField("a", StringType),
          StructField("b", StringType),
          StructField("n_obs", LongType))), Seq("a", "b")) { b =>
        graft.pipeline.DataQuality.cellCounts(b, col("event_type"),
          concat(lit("u"), (col("user_id") % 4).cast("string")))
      })
  }

  /** The shared fold: drain the staged event files one micro-batch per
    * file, reducing each batch to its (group, value) side counts and
    * key-sum-merging into the accumulated state. Counts are additive →
    * any batching of the same events ends at the identical table. */
  private def foldSideCounts(spark: SparkSession, dir: String,
      nFiles: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_ks_ckpt")
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("grp", StringType),
        StructField("v", DoubleType), StructField("b", LongType),
        StructField("c", LongType))))

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = events.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bc = graft.pipeline.DataQuality.sideCounts(
          batch, col("event_type"), col("value"), col("event_id") % 2 =!= 0)
        if (!bc.isEmpty) {
          acc = acc.unionByName(bc)
            .groupBy("grp", "v")
            .agg(sum("b").as("b"), sum("c").as("c"))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    acc
  }

  /** Streaming hot-key (skew) monitor — [[ksMonitorSink]]'s companion
    * on the per-key COUNT state: each micro-batch reduces to its
    * (group, key) counts, the fold is a key-summed union (additive →
    * cadence-independent), and the Gini / HHI / top-share report is
    * re-derived from the folded counts — the "which groupBy key is
    * about to hot-spot a partition" alert at micro-batch freshness.
    * Terminal result ≡ the one-shot batch dq_skew (shared oracle).
    * @return skewReport's schema */
  def skewMonitorSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = stageSortedEventFiles(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_skew_ckpt")
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("grp", StringType),
        StructField("k", LongType), StructField("x", LongType))))

    val events = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = events.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bc = batch.groupBy(col("event_type").as("grp"),
            col("user_id").as("k"))
          .agg(count(lit(1)).as("x"))
        if (!bc.isEmpty) {
          acc = acc.unionByName(bc)
            .groupBy("grp", "k").agg(sum("x").as("x"))
            .localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.pipeline.DataQuality.skewFromCounts(acc)
  }

  /** Gap sessionization on the NATIVE `session_window` aggregate — the
    * Catalyst-built-in twin of the hand-rolled
    * [[sessionize]] flatMapGroupsWithState path. State merges session
    * windows per key; append mode emits a session once the watermark
    * passes its end (last event + gap). Emits (user_id, start_us,
    * end_us, n_events) with end_us = last event + gap, Spark's native
    * session-end convention. */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", gap)
      .groupBy(session_window(col("tts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** DYNAMIC-gap session windows — the gap is a per-ROW expression
    * (purchases hold the session open 60 minutes, everything else 30):
    * each event opens [ts, ts+gap(event)) and overlapping windows per
    * key merge, so one high-value event stretches the session without
    * widening every gap. The watermark delay covers the LARGEST gap a
    * row can contribute (a session can stay open that long past its
    * last event). Completes the session matrix: fixed-gap fMGWS/TWS,
    * native fixed-gap, native dynamic-gap. */
  def sessionWindowDynStream(events: DataFrame): DataFrame =
    events
      .withColumn("tts", graft.io.Tables.eventTime(events))
      .withWatermark("tts", "1 hour")
      .groupBy(session_window(col("tts"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  final case class REvent(event_type: String, event_id: Long, ts_us: Long,
      cents: Long)
  final case class RunningState(n: Long, sum: Long, sumSq: Long)
  final case class RunningRow(event_type: String, event_id: Long,
      n_prior: Long, sum_prior_cents: Long, sumsq_prior_cents: Long)

  /** Per-key running statistics (online mean/variance feed): every event
    * emits the count, sum, and sum-of-squares of the events BEFORE it in
    * event-time order — the anomaly-scoring state a streaming monitor
    * keeps. All arithmetic is EXACT integer cents (the quantile-sketch
    * convention), so the stream is bit-reproducible against a window-
    * frame oracle with no floating-point summation-order caveats. State
    * per key is three longs. Keyed here by event_type (gate-scale); a
    * 100 TB deployment keys by (type, shard) and merges moments — sums
    * and sum-of-squares add, which is why the state is kept in this form
    * rather than as mean/variance. */
  def runningStatsStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent]

    def update(key: String, rows: Iterator[REvent],
        state: GroupState[RunningState]): Iterator[RunningRow] = {
      var s = state.getOption.getOrElse(RunningState(0L, 0L, 0L))
      val out = Seq.newBuilder[RunningRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += RunningRow(key, e.event_id, s.n, s.sum, s.sumSq)
        s = RunningState(s.n + 1, s.sum + e.cents, s.sumSq + e.cents * e.cents)
      }
      state.update(s)
      out.result().iterator
    }

    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  final case class AnomRow(event_type: String, event_id: Long, cents: Long,
      n_prior: Long, is_anomaly: Boolean)

  /** Streaming 3-sigma anomaly flags on the [[runningStatsStream]]
    * moments: an event is anomalous when (x − μ_prior)² > 9·σ²_prior
    * over the ≥ 2 events before it (per event_type, event-time order).
    * The comparison is EXACT — both sides multiplied by n² gives
    * (n·x − Σ)² > 9·(n·Σx² − Σ²), evaluated in BigInt here and HUGEINT
    * in the oracle, so no sqrt, no float, no summation-order caveat
    * ever touches the flag. State per key is the same three longs. */
  def anomalyStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent]

    def update(key: String, rows: Iterator[REvent],
        state: GroupState[RunningState]): Iterator[AnomRow] = {
      var s = state.getOption.getOrElse(RunningState(0L, 0L, 0L))
      val out = Seq.newBuilder[AnomRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val flag = s.n >= 2 && {
          val lhs = BigInt(s.n) * e.cents - s.sum
          lhs * lhs > 9 * (BigInt(s.n) * s.sumSq - BigInt(s.sum) * s.sum)
        }
        out += AnomRow(key, e.event_id, e.cents, s.n, flag)
        s = RunningState(s.n + 1, s.sum + e.cents, s.sumSq + e.cents * e.cents)
      }
      state.update(s)
      out.result().iterator
    }

    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Exactly-once parquet sink via the idempotent-batch-id foreachBatch
    * pattern — the production recipe for sinks WITHOUT a transactional
    * commit log (object stores, plain directories): each micro-batch
    * overwrites its own `batch_id=<id>` subdirectory, so a batch
    * REPLAYED after a crash between sink write and offset commit
    * replaces its previous (possibly partial) output instead of
    * appending duplicates. Readers take the union of batch dirs; the
    * checkpoint guarantees batch ids are stable across restarts, which
    * is the whole idempotence key. Blocks until drained. */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String,
      checkpointDir: String): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drive a streaming frame into an in-memory table and block until the
    * source drains — the local smoke harness. */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
