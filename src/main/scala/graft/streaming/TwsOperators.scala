package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Stateful operators on Spark 4's `transformWithState` — the
  * new-generation arbitrary-state API that replaces
  * `flatMapGroupsWithState` for production pipelines: typed state
  * variables (`ValueState`/`ListState`/`MapState`) instead of a single
  * state object, first-class event-time timers (register/delete many per
  * key), per-state TTL, and a state layout that supports schema
  * evolution and the state data source reader. It REQUIRES the RocksDB
  * state store provider — the provider every large deployment runs — so
  * these twins are also the engine's deepest RocksDB exercise.
  *
  * Each operator here is a semantics-exact twin of an existing
  * `flatMapGroupsWithState` operator in [[EventStreams]] and shares its
  * DuckDB gate oracle verbatim: the API generation must not change one
  * row.
  *
  * The reference has no streaming surface (SURVEY.md §2.10); this module
  * is engine extension surface alongside [[EventStreams]].
  */
object TwsOperators {

  import EventStreams.{REvent, RunningState, RunningRow, Event, SessionState, Session}

  /** [[EventStreams.runningStatsStream]] on `transformWithState`: one
    * `ValueState[RunningState]` (three longs) per event_type holds the
    * exact integer-cents moments; every event emits the prior moments.
    * TimeMode.None — the state is a lifetime property, no timers. */
  private class RunningStatsProcessor
      extends StatefulProcessor[String, REvent, RunningRow] {
    @transient private var moments: ValueState[RunningState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      moments = getHandle.getValueState[RunningState]("moments",
        Encoders.product[RunningState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[REvent],
        timers: TimerValues): Iterator[RunningRow] = {
      var s = if (moments.exists()) moments.get() else RunningState(0L, 0L, 0L)
      val out = Seq.newBuilder[RunningRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += RunningRow(key, e.event_id, s.n, s.sum, s.sumSq)
        s = RunningState(s.n + 1, s.sum + e.cents, s.sumSq + e.cents * e.cents)
      }
      moments.update(s)
      out.result().iterator
    }
  }

  def runningStatsStreamTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent]
      .groupByKey(_.event_type)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  final case class KeyHit(user_id: Long, event_type: String)

  /** First-occurrence-wins exact dedup as a `transformWithState`
    * processor: one `ValueState[Boolean]` per key — the arbitrary-state
    * formulation of `dropDuplicates`, here with NO horizon (lifetime
    * key memory, the semantics the corpus-covering `st_dedup_mb` gate
    * pins). A TTL-bounded variant is one `TTLConfig(duration)` away —
    * the API expresses the watermark-horizon trade-off as state
    * configuration rather than query shape. */
  private class DedupProcessor
      extends StatefulProcessor[KeyHit, KeyHit, KeyHit] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(key: KeyHit, rows: Iterator[KeyHit],
        timers: TimerValues): Iterator[KeyHit] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); Iterator.single(key) }
  }

  def dedupStreamTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[KeyHit]
      .groupByKey(identity)
      .transformWithState(new DedupProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** [[EventStreams.funnelStream]] on `transformWithState`: the 3-slot
    * ordered-funnel state machine (view → click → purchase, each stage
    * STRICTLY after the previous) as one `ValueState[FunnelState]` per
    * user — completing the fMGWS ↔ TWS twin matrix for every stateful
    * gate shape. Same in-batch event-time sort, same emissions, so it
    * shares st_funnel's oracle verbatim. */
  private class FunnelProcessor(stages: Seq[String])
      extends StatefulProcessor[Long, EventStreams.FEvent, EventStreams.StageHit] {
    @transient private var slots: ValueState[EventStreams.FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      slots = getHandle.getValueState[EventStreams.FunnelState]("slots",
        Encoders.product[EventStreams.FunnelState], TTLConfig.NONE)

    override def handleInputRows(userId: Long,
        rows: Iterator[EventStreams.FEvent],
        timers: TimerValues): Iterator[EventStreams.StageHit] = {
      var s = if (slots.exists()) slots.get()
              else EventStreams.FunnelState(-1L, -1L, -1L)
      val out = Seq.newBuilder[EventStreams.StageHit]
      rows.toSeq.sortBy(_.ts_us).foreach { e =>
        if (e.event_type == stages(0) && s.t1 < 0) {
          s = s.copy(t1 = e.ts_us)
          out += EventStreams.StageHit(userId, 0L, stages(0), e.ts_us)
        } else if (e.event_type == stages(1) && s.t1 >= 0 && s.t2 < 0 &&
            e.ts_us > s.t1) {
          s = s.copy(t2 = e.ts_us)
          out += EventStreams.StageHit(userId, 1L, stages(1), e.ts_us)
        } else if (e.event_type == stages(2) && s.t2 >= 0 && s.t3 < 0 &&
            e.ts_us > s.t2) {
          s = s.copy(t3 = e.ts_us)
          out += EventStreams.StageHit(userId, 2L, stages(2), e.ts_us)
        }
      }
      slots.update(s)
      out.result().iterator
    }
  }

  def funnelStreamTws(spark: SparkSession, events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    require(stages.length == 3, "funnelStreamTws tracks exactly 3 stages")
    events
      .where(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        graft.io.Tables.eventMicros(events).as("ts_us"))
      .as[EventStreams.FEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  final case class WinEvent(ts_us: Long, event_id: Long, cents: Long)
  final case class LastNRow(event_type: String, event_id: Long,
      n_in_window: Long, sum_window_cents: Long)

  /** Sliding last-N feature window on `ListState` — the online
    * feature-extraction shape (a model server reads "sum/count of the
    * key's previous N events") that `flatMapGroupsWithState` could only
    * express by round-tripping the whole buffer through one opaque
    * state object. `ListState` stores the buffer as individual state
    * ROWS: RocksDB appends one entry per event (`appendValue` — no
    * read-modify-write of a growing blob) and the trim rewrites only
    * when the window slides. Every event emits the count and
    * exact-integer-cents sum over the key's PRIOR ≤N events, then
    * enters the buffer. State per key is bounded: ≤N (ts, id, cents)
    * triples regardless of stream length. */
  private class LastNProcessor(n: Int)
      extends StatefulProcessor[String, REvent, LastNRow] {
    @transient private var buf: ListState[WinEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[WinEvent]("lastn",
        Encoders.product[WinEvent], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[REvent],
        timers: TimerValues): Iterator[LastNRow] = {
      // state rows are append-ordered = event-time order (each batch's
      // rows are folded in sorted order, staging is time-contiguous)
      var window = buf.get().toVector
      val out = Seq.newBuilder[LastNRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += LastNRow(key, e.event_id, window.size.toLong,
          window.iterator.map(_.cents).sum)
        window = (window :+ WinEvent(e.ts_us, e.event_id, e.cents))
          .takeRight(n)
      }
      buf.put(window.toArray)
      out.result().iterator
    }
  }

  def lastNStreamTws(spark: SparkSession, events: DataFrame,
      n: Int = 5): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent]
      .groupByKey(_.event_type)
      .transformWithState(new LastNProcessor(n),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  final case class InitMoments(event_type: String, n: Long, sum: Long,
      sumSq: Long)

  /** [[RunningStatsProcessor]] with WARM-STARTED state
    * (`StatefulProcessorWithInitialState`): the batch-backfill →
    * streaming handoff every production pipeline makes — historical
    * moments are computed ONCE as a batch aggregate and seeded into the
    * state store via `handleInitialState` before the first micro-batch;
    * the stream then continues the count from where the backfill
    * stopped, without re-reading history. At 100 TB that difference is
    * the whole feature: the backfill is one shuffle aggregate over the
    * archive, not a replay of the archive through the stream. */
  private class WarmStartRunningProcessor
      extends StatefulProcessorWithInitialState[String, REvent, RunningRow,
        RunningState] {
    @transient private var moments: ValueState[RunningState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      moments = getHandle.getValueState[RunningState]("moments",
        Encoders.product[RunningState], TTLConfig.NONE)

    override def handleInitialState(key: String, initial: RunningState,
        timers: TimerValues): Unit =
      moments.update(initial)

    override def handleInputRows(key: String, rows: Iterator[REvent],
        timers: TimerValues): Iterator[RunningRow] = {
      var s = if (moments.exists()) moments.get() else RunningState(0L, 0L, 0L)
      val out = Seq.newBuilder[RunningRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += RunningRow(key, e.event_id, s.n, s.sum, s.sumSq)
        s = RunningState(s.n + 1, s.sum + e.cents, s.sumSq + e.cents * e.cents)
      }
      moments.update(s)
      out.result().iterator
    }
  }

  /** Batch-backfill handoff drain: the first two staged slices are the
    * "archive" — aggregated batch-side into per-key moments and seeded
    * as initial state — and the last two stream through the warm-started
    * processor one micro-batch each. Output rows carry priors that
    * include the archive, exactly as if the whole corpus had streamed. */
  def runningStatsWarmStart(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = EventStreams.stagedEventsDir(spark, dir, 4)

    val archive = spark.read.parquet(s"$staged/b00.parquet", s"$staged/b01.parquet")
    val initial = archive
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum"),
        sum(col("cents") * col("cents")).as("sumSq"))
      .as[InitMoments]
      .groupByKey(_.event_type)
      .mapValues(m => RunningState(m.n, m.sum, m.sumSq))

    val schema = graft.io.Tables.parquetSchema(spark, s"$dir/events.parquet")
    val tail = spark.readStream.schema(schema)
      .option("pathGlobFilter", "b0[23].parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    tail
      .select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(tail).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent]
      .groupByKey(_.event_type)
      .transformWithState(new WarmStartRunningProcessor,
        TimeMode.None(), OutputMode.Append(), initial)
      .toDF()
  }

  final case class PEvent(user_id: Long, event_type: String, event_id: Long,
      ts_us: Long)
  final case class ProfileRow(user_id: Long, event_id: Long,
      event_type: String, seen_count: Long)

  /** Per-user activity profile on `MapState` — the online user-profile
    * shape (a per-key MAP of event_type → lifetime count): each event
    * emits its running occurrence number within (user, type). MapState
    * stores each map entry as its OWN state-store row, so touching one
    * event_type reads/writes one entry — not a whole serialized map per
    * user, which is what a ValueState[Map] (or old-API state object)
    * would pay on every event. State per user is bounded by the
    * event-type domain. */
  private class ProfileProcessor
      extends StatefulProcessor[Long, PEvent, ProfileRow] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[PEvent],
        timers: TimerValues): Iterator[ProfileRow] = {
      val out = Seq.newBuilder[ProfileRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val c = (if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, c)
        out += ProfileRow(userId, e.event_id, e.event_type, c)
      }
      out.result().iterator
    }
  }

  def profileStreamTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"))
      .as[PEvent]
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** [[EventStreams.sessionize]] on `transformWithState` with EVENT-TIME
    * TIMERS: per-user 30-minute-gap sessions; a session closes via a
    * later-than-gap successor event, or via a registered event-time
    * timer once the watermark passes lastEvent+gap — `registerTimer` /
    * `handleExpiredTimer`, the first-class replacement for
    * `GroupStateTimeout.EventTimeTimeout`. On every state update the
    * processor deletes the key's stale timers and registers the new
    * close time (many timers per key are allowed; exactly one is live
    * here by construction). State: one `ValueState[SessionState]`. */
  private class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = if (sess.exists()) Some(sess.get()) else None
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
        sess.update(s)
        // one live timer per key: drop stale close times, arm the new one
        // (a timer already in the watermark's past fires on this batch's
        // timer sweep — the clamping the old API needed is built in)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.lastUs / 1000 + gapUs / 1000)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Session] =
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(Session(userId, s.startUs, s.lastUs, s.n))
      } else Iterator.empty
  }

  def sessionizeTws(spark: SparkSession, events: DataFrame,
      gapUs: Long = 1800L * 1000000L): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        graft.io.Tables.eventTime(events).as("tts"))
      .as[Event]
      .withWatermark("tts", "30 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  // ---------------------------------------------------------------------
  // VARIANT-typed state
  // ---------------------------------------------------------------------

  final case class VEvent(user_id: Long, event_id: Long, ts_us: Long,
      v: org.apache.spark.unsafe.types.VariantVal)
  final case class VPrev(user_id: Long, event_id: Long,
      prev: org.apache.spark.unsafe.types.VariantVal)
  /** Variant state row: the (value, metadata) binary pair — the state
    * store's Avro encoder (Spark 4's TWS default) has no VariantType
    * mapping, but the pair IS the variant's wire form, so nothing is
    * re-parsed: the VariantVal is reassembled on emit for free. */
  final case class VState(value: Array[Byte], metadata: Array[Byte])

  /** VARIANT THROUGH STATE: the key's previous semi-structured payload
    * rides a `ValueState` in the variant's compact binary encoding
    * (never as a JSON string re-parsed per batch). Each event emits the
    * PREVIOUS event's payload for its key as a real VariantVal column
    * (VariantEncoder composes into product encoders — checked in
    * r8); typed extraction (`try_variant_get`)
    * happens downstream in the plan, codegen'd. */
  private class VariantLagProcessor
      extends StatefulProcessor[Long, VEvent, VPrev] {
    @transient private var last: ValueState[VState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[VState]("last",
        Encoders.product[VState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[VEvent],
        timers: TimerValues): Iterator[VPrev] = {
      val out = Seq.newBuilder[VPrev]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += VPrev(userId, e.event_id,
          if (last.exists()) {
            val s = last.get()
            new org.apache.spark.unsafe.types.VariantVal(s.value, s.metadata)
          } else null)
        last.update(VState(e.v.getValue, e.v.getMetadata))
      }
      out.result().iterator
    }
  }

  /** Per-user previous-payload stream: (user_id, event_id, prev VARIANT). */
  def variantLagStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        graft.io.Tables.eventMicros(events).as("ts_us"),
        parse_json(col("props")).as("v"))
      .as[VEvent]
      .groupByKey(_.user_id)
      .transformWithState(new VariantLagProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  // ---------------------------------------------------------------------
  // Stream-stream AS-OF (temporal) join
  // ---------------------------------------------------------------------

  final case class SsAsOfRow(user_id: Long, side: Int, event_id: Long,
      ts_us: Long, cents: Long, tts: java.sql.Timestamp)
  final case class DimV(ts_us: Long, event_id: Long, cents: Long)
  final case class FactV(ts_us: Long, event_id: Long)
  final case class AsOfOut(user_id: Long, fact_id: Long, fact_ts_us: Long,
      dim_id: Option[Long], dim_ts_us: Option[Long], dim_cents: Option[Long])

  /** Stream-stream AS-OF join (a temporal join): each FACT row joins the
    * latest DIMENSION version of its key with dim_ts ≤ fact_ts — the
    * join Spark has no native streaming form of (stream-stream equality
    * joins can't express "latest ≤", and the stream-static as-of of
    * st_asof_enrich/st_asof_dyn re-reads a batch dim per micro-batch
    * instead of consuming a dimension STREAM). Composed as union-tag →
    * groupByKey(key) → `transformWithState`:
    *
    *   - dimension rows append to a per-key `ListState[DimV]` version
    *     history;
    *   - fact rows buffer in a `ListState[FactV]` until the WATERMARK
    *     strictly passes their event time — only then is the dimension
    *     history provably complete below the fact's timestamp (any
    *     still-in-flight dim row has ts ≥ wm > fact_ts, too new to be
    *     its as-of match) — and emit exactly once, matched to the
    *     latest (ts_us, event_id) dim at-or-before their timestamp, or
    *     with NULL dim columns when the key has no version yet that
    *     early (the LEFT as-of);
    *   - an event-time timer re-armed at the earliest buffered fact
    *     guarantees emission even if the key never receives another row;
    *   - dim eviction keeps versions ≥ wm plus the single latest below
    *     wm (the as-of candidate for every future fact, which all carry
    *     ts ≥ wm) — state per key is horizon-bounded on both lists.
    *
    * Emission (`fact_ts < wm`, with wm the ms-rounded min across the two
    * union branches' delayed maxes) only tightens monotonically, so the
    * single-batch and multi-batch drains produce the same final set and
    * share one oracle — the batch as-of join below the final watermark.
    */
  /** @param fwdTolUs backward as-of when None; forward as-of bounded to
    *   `(fact_ts, fact_ts + tol]`-style windows when Some(tol) —
    *   matching the batch operator's direction semantics
    *   (earliest dim at-or-after the fact, vs latest at-or-before). */
  private class StreamAsOfProcessor(fwdTolUs: Option[Long] = None)
      extends StatefulProcessor[Long, SsAsOfRow, AsOfOut] {
    @transient private var dims: ListState[DimV] = _
    @transient private var facts: ListState[FactV] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dims = getHandle.getListState[DimV]("dims",
        Encoders.product[DimV], TTLConfig.NONE)
      facts = getHandle.getListState[FactV]("facts",
        Encoders.product[FactV], TTLConfig.NONE)
    }

    /** A fact is flushable once no still-in-flight dim row (all ≥ wm)
      * can change its match: backward needs wm past the fact itself;
      * forward needs wm past the end of its candidate window. */
    private def flushable(ts: Long, wmUs: Long): Boolean = fwdTolUs match {
      case None => ts < wmUs
      case Some(tol) => ts + tol < wmUs
    }

    /** Emit buffered facts below the watermark against the dim history,
      * evict dead dim versions, re-arm the timer for the rest.
      * `expiredMs` is the just-fired timer when called from
      * [[handleExpiredTimer]] — already consumed, so not deletable. */
    private def flush(userId: Long, wmUs: Long,
        expiredMs: Long = Long.MinValue): Iterator[AsOfOut] = {
      val dv = dims.get().toVector.sortBy(d => (d.ts_us, d.event_id))
      val fv = facts.get().toVector
      val (ready, hold) = fv.partition(f => flushable(f.ts_us, wmUs))
      val out = ready.sortBy(f => (f.ts_us, f.event_id)).map { f =>
        val m = fwdTolUs match {
          case None => dv.reverseIterator.find(_.ts_us <= f.ts_us)
          case Some(tol) =>
            dv.find(d => d.ts_us >= f.ts_us && d.ts_us <= f.ts_us + tol)
        }
        AsOfOut(userId, f.event_id, f.ts_us,
          m.map(_.event_id), m.map(_.ts_us), m.map(_.cents))
      }
      if (hold.isEmpty) facts.clear() else facts.put(hold.toArray)
      fwdTolUs match {
        case None =>
          // keep dims ≥ wm plus the latest one below wm; everything
          // older can never match a fact that is still to come
          val keepFrom = dv.lastIndexWhere(_.ts_us < wmUs)
          if (keepFrom > 0) dims.put(dv.drop(keepFrom).toArray)
        case Some(tol) =>
          // held facts have ts ≥ wm − tol, so their windows start there;
          // dims below wm − tol are dead for every current+future fact
          val keep = dv.dropWhile(_.ts_us < wmUs - tol)
          if (keep.size < dv.size) {
            if (keep.isEmpty) dims.clear() else dims.put(keep.toArray)
          }
      }
      getHandle.listTimers().filter(_ != expiredMs).foreach(getHandle.deleteTimer)
      if (hold.nonEmpty) {
        val base = hold.map(_.ts_us).min + fwdTolUs.getOrElse(0L)
        getHandle.registerTimer(base / 1000 + 1)
      }
      out.iterator
    }

    override def handleInputRows(userId: Long, rows: Iterator[SsAsOfRow],
        timers: TimerValues): Iterator[AsOfOut] = {
      rows.foreach { r =>
        if (r.side == 0) dims.appendValue(DimV(r.ts_us, r.event_id, r.cents))
        else facts.appendValue(FactV(r.ts_us, r.event_id))
      }
      flush(userId, timers.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[AsOfOut] =
      flush(userId, timers.getCurrentWatermarkInMs() * 1000L,
        expiredMs = expired.getExpiryTimeInMs())
  }

  /** [[StreamAsOfProcessor]] over the events table: purchases (facts)
    * as-of-joined to the latest same-user click (dimension versions,
    * integer-cents payload). Both branches watermark on the same
    * `horizon`; the global watermark is the min across them. */
  def streamAsOfJoinTws(spark: SparkSession, events: DataFrame,
      horizon: String = "2 hours"): DataFrame = {
    import spark.implicits._
    def branch(df: DataFrame, typ: String, side: Int) = df
      .where(col("event_type") === typ)
      .select(col("user_id"), lit(side).as("side"), col("event_id"),
        graft.io.Tables.eventMicros(df).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        graft.io.Tables.eventTime(df).as("tts"))
      .withWatermark("tts", horizon)
    branch(events, "click", 0)
      .unionAll(branch(events, "purchase", 1))
      .as[SsAsOfRow]
      .groupByKey(_.user_id)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** FORWARD stream-stream as-of: each purchase matches the EARLIEST
    * same-user click in `[fact_ts, fact_ts + tolUs]` ("the next version
    * within the window" — the batch operator's forward direction, made
    * streamable by the tolerance: a fact emits once the watermark
    * passes the END of its candidate window). */
  def streamAsOfJoinFwdTws(spark: SparkSession, events: DataFrame,
      tolUs: Long = 1800L * 1000000L, horizon: String = "2 hours"): DataFrame = {
    import spark.implicits._
    def branch(df: DataFrame, typ: String, side: Int) = df
      .where(col("event_type") === typ)
      .select(col("user_id"), lit(side).as("side"), col("event_id"),
        graft.io.Tables.eventMicros(df).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        graft.io.Tables.eventTime(df).as("tts"))
      .withWatermark("tts", horizon)
    branch(events, "click", 0)
      .unionAll(branch(events, "purchase", 1))
      .as[SsAsOfRow]
      .groupByKey(_.user_id)
      .transformWithState(new StreamAsOfProcessor(Some(tolUs)),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
