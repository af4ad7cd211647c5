package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.sources.EdgeListCatalog
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-gate entries that execute the Structured Streaming surface in a
  * bounded run: the events parquet is read through `readStream`
  * (FileStreamSource), drained with `Trigger.AvailableNow` into a memory
  * sink, and the sink table is returned as the gate result — so the
  * streaming operators themselves (stateful funnel, watermark dedup,
  * windowed sketch aggregation with append-mode eviction) round-trip
  * through the same DuckDB-oracle hash gate as every batch operator.
  *
  * Determinism: the testdata `events.parquet` is a single file, so the
  * drain is one data micro-batch (within a batch `flatMapGroupsWithState`
  * groups process their rows after an explicit event-time sort — see
  * [[EventStreams.funnelStream]]), followed by the no-data batch that
  * advances the watermark to `max(tts) - delay` and flushes append-mode
  * windows whose END is at or below it. The oracles replay exactly that:
  * batch semantics for the funnel, `DISTINCT` keys for dedup, and the
  * closed-window subset for the windowed sketch.
  */
object StreamingGateQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Start `df` on a memory sink, drain AvailableNow, return the table
    * (registered in the session that started the stream, `df`'s). */
  private def drain(df: DataFrame, name: String): DataFrame = {
    val q = EventStreams.runToMemory(df, name, OutputMode.Append)
    q.stop()
    df.sparkSession.table(name)
  }

  /** The conf that keeps a stream's state in RocksDB. */
  val RocksDb: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** `q` run on a copy of its session with the RocksDB state store: the
    * streams it starts keep their state in RocksDB, and the session it
    * was handed keeps its own provider. */
  private def onRocks(q: Q): Q = (s, dir) => q(Bridge.cloneSession(s, RocksDb), dir)

  val queries: Map[String, Q] = Map(
    // Stateful streaming funnel (flatMapGroupsWithState, NoTimeout): in a
    // single-batch drain it reproduces the batch conditional-min stage
    // times exactly (EventStreamsSpec proves the equality).
    "st_funnel" -> ((s, dir) =>
      drain(EventStreams.funnelStream(s, EventStreams.readEvents(s, dir)),
        "st_funnel_gate")),

    // Streaming exact dedup (dropDuplicatesWithinWatermark): the KEY SET
    // kept is deterministic (first arrival per key); which physical row
    // carried it is not, so the gate projects to the keys.
    "st_dedup" -> ((s, dir) =>
      drain(EventStreams.dedupStream(EventStreams.readEvents(s, dir),
          Seq("user_id", "event_type")), "st_dedup_gate")
        .select("user_id", "event_type")),

    // Windowed log-bin quantile sketch under append-mode eviction: only
    // windows closed by the final watermark (max event time - 2 h) emit.
    "st_window_lgq" -> ((s, dir) =>
      drain(EventStreams.logQuantileStream(EventStreams.readEvents(s, dir)),
        "st_lgq_gate")),

    // Watermarked tumbling-window aggregation — the closed-window subset
    // of batch e_window_agg. The gate hashes the exact integer-cents sum
    // (order-independent); the double total_value stays on the operator
    // surface but out of the hash (a boundary-landing value could flip
    // the 4th decimal between state-merge and scan order — ADVICE r6).
    "st_window_agg" -> ((s, dir) =>
      drain(EventStreams.windowedAgg(EventStreams.readEvents(s, dir)),
        "st_winagg_gate")
        .select(col("win_start_us"), col("event_type"), col("cnt"),
          col("total_cents"))),

    // Streaming drift monitor: per closed hour window, chi-square
    // contribution of each event category vs the static even-half
    // baseline rate (Laplace-smoothed, broadcast); the stream side is
    // the odd half. Windowed count + stateless stream-static left join;
    // dq_drift's batch discipline, live.
    "st_drift" -> ((s, dir) =>
      drain(EventStreams.driftMonitorStream(
        EventStreams.readEvents(s, dir).where(col("event_id") % 2 =!= 0),
        graft.io.Tables.events(s, dir).where(col("event_id") % 2 === 0)),
        "st_drift_gate")),

    // Multi-batch twin: the drift counts accumulate window state across
    // 4 time-contiguous micro-batches with the watermark ratcheting per
    // batch; the final closed-window set depends only on the final
    // watermark, so the single-batch oracle is unchanged.
    "st_drift_mb" -> ((s, dir) =>
      drain(EventStreams.driftMonitorStream(
        EventStreams.readEventsMultiBatch(s, dir)
          .where(col("event_id") % 2 =!= 0),
        graft.io.Tables.events(s, dir).where(col("event_id") % 2 === 0)),
        "st_drift_mb_gate")),

    // HOPPING-window twin of st_window_agg: 1 h windows every 30 min,
    // every event in exactly two windows; append-mode eviction on the
    // window END as above. The oracle replicates each event into its
    // two covering slide-aligned starts.
    "st_sliding_window" -> ((s, dir) =>
      drain(EventStreams.slidingWindowAgg(EventStreams.readEvents(s, dir)),
        "st_slidewin_gate")),

    // Multi-batch twin: hopping-window state (each event lives in TWO
    // window panes) round-trips the state store across 4 time-contiguous
    // micro-batches with the watermark ratcheting per batch; eviction
    // order changes, the final evicted set cannot (same data, same final
    // watermark) — so the single-batch oracle is unchanged.
    "st_sliding_window_mb" -> ((s, dir) =>
      drain(EventStreams.slidingWindowAgg(
        EventStreams.readEventsMultiBatch(s, dir)), "st_slidewin_mb_gate")),

    // Windowed HLL approx-distinct under the same eviction.
    "st_approx_distinct" -> ((s, dir) =>
      drain(EventStreams.approxDistinctStream(EventStreams.readEvents(s, dir)),
        "st_hll_gate")),

    // Windowed approx-distinct on the KMV synopsis: the aggregate's
    // serialize/merge path through the STREAMING state store, proven
    // across 4 micro-batches in the _mb twin; same eviction arithmetic
    // as st_approx_distinct, exact DuckDB replica of the synopsis.
    "st_kmv_distinct" -> ((s, dir) =>
      drain(EventStreams.kmvDistinctStream(EventStreams.readEvents(s, dir)),
        "st_kmv_gate")),
    "st_kmv_distinct_mb" -> ((s, dir) =>
      drain(EventStreams.kmvDistinctStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_kmv_mb_gate")),

    // Stateful gap-sessionization: a single-batch drain emits
    // successor-closed sessions, then the no-data batch fires event-time
    // timeouts for trailing sessions the final watermark has passed
    // (watermark and timeout compare at MILLISECOND granularity — the
    // oracle replays the ms-floor arithmetic exactly).
    "st_sessionize" -> ((s, dir) =>
      drain(EventStreams.sessionize(s, EventStreams.readEvents(s, dir)),
        "st_sess_gate")),

    // Stream-stream range join: both sides watermarked, single-batch
    // drain holds both sides in full, so the inner join equals the batch
    // e_range_join result exactly (EventStreamsSpec proves it).
    "st_range_join" -> ((s, dir) =>
      drain(EventStreams.rangeJoinStream(EventStreams.readEvents(s, dir)),
        "st_rj_gate")),

    // Stream-static enrichment join: stateless, so every event emits —
    // the third join regime next to stream-stream and batch-batch.
    "st_enrich" -> ((s, dir) => {
      val typeStats = graft.io.Tables.events(s, dir)
        .groupBy("event_type").agg(round(avg("value"), 6).as("type_avg"))
      drain(EventStreams.enrichStream(
        EventStreams.readEvents(s, dir), typeStats), "st_enrich_gate")
    }),

    // Stream-static AS-OF enrichment: the signup value valid AT each
    // event's own time (signup intervals built statically per user via
    // lead(); duplicate same-ts signups collapse to max(value), matching
    // e_asof's window order). Inner: only events a version covers emit.
    // CONTRACT: the lead() window runs over the FILTERED frame (signup
    // rows only) intentionally — the oracle builds its intervals from
    // the same filtered CTE. Keep filter-then-window (cf. e_ewma bug).
    "st_asof_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.io.Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(graft.io.Tables.eventTime(
          graft.io.Tables.events(s, dir))))
      val dim = ev.where(col("event_type") === "signup")
        .groupBy("user_id", "ts_us").agg(max("value").as("asof_value"))
        .select(col("user_id"), col("ts_us").as("valid_from_us"),
          coalesce(lead(col("ts_us"), 1).over(
              Window.partitionBy("user_id").orderBy("ts_us")),
            lit(Long.MaxValue)).as("valid_to_us"),
          col("asof_value"))
      drain(EventStreams.asOfEnrichStream(
        EventStreams.readEvents(s, dir), dim), "st_asof_gate")
    }),

    // Native session_window aggregation (the Catalyst-built-in twin of
    // the flatMapGroupsWithState sessionizer): append emits sessions the
    // final watermark closed. NOTE Spark's boundary convention differs
    // from the custom path: an event exactly gap after its predecessor
    // starts a NEW session here (merge iff strictly inside [t, t+gap)) —
    // the oracle replays >= where e_sessionize uses >.
    "st_session_native" -> ((s, dir) =>
      drain(EventStreams.sessionWindowStream(EventStreams.readEvents(s, dir)),
        "st_sessw_gate")),

    // DYNAMIC per-row gap on the native session_window (purchases 60
    // min, else 30): one high-value event stretches its session without
    // widening every gap; merged-window semantics (overlap, strict) are
    // replayed by a running-max-of-ends oracle, with the same µs-exact
    // watermark eviction as the fixed-gap gate. Single- and multi-batch
    // drains share it (emission only tightens monotonically).
    "st_session_dyngap" -> ((s, dir) =>
      drain(EventStreams.sessionWindowDynStream(EventStreams.readEvents(s, dir)),
        "st_sessdyn_gate")),
    "st_session_dyngap_mb" -> ((s, dir) =>
      drain(EventStreams.sessionWindowDynStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_sessdyn_mb_gate")),

    // Per-key running statistics (online anomaly-scoring feed): exact
    // integer cents, so the gate needs no float rounding at all.
    "st_running" -> ((s, dir) =>
      drain(EventStreams.runningStatsStream(s, EventStreams.readEvents(s, dir)),
        "st_running_gate")),

    // ---- Multi-batch twins (readEventsMultiBatch: 4 time-contiguous
    // files, one micro-batch each) — same operators, same oracles, but
    // the state paths now round-trip the state store BETWEEN batches:
    // a funnel stage reached in batch 3 builds on stage times from
    // batch 1; a batch-4 duplicate is dropped against batch-1 state;
    // running stats accumulate across all four; windows evict
    // mid-stream as the watermark advances batch by batch. The staging
    // is time-sorted so no row is ever late and the final tables equal
    // the single-batch drains.

    "st_funnel_mb" -> ((s, dir) =>
      drain(EventStreams.funnelStream(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_funnel_mb_gate")),

    // Corpus-covering horizon (31 days > the 30-day event span): per-key
    // gaps run to 450+ hours, so the default 2 h horizon would evict
    // state mid-stream and re-emit recurring keys with batch-boundary-
    // dependent timing — the horizon-expiry path stays covered by the
    // MemoryStream specs; THIS gate pins cross-batch state hits.
    "st_dedup_mb" -> ((s, dir) =>
      drain(EventStreams.dedupStream(
          EventStreams.readEventsMultiBatch(s, dir),
          Seq("user_id", "event_type"), horizon = "744 hours"),
        "st_dedup_mb_gate")
        .select("user_id", "event_type")),

    "st_running_mb" -> ((s, dir) =>
      drain(EventStreams.runningStatsStream(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_running_mb_gate")),

    "st_window_lgq_mb" -> ((s, dir) =>
      drain(EventStreams.logQuantileStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_lgq_mb_gate")),

    // Outer-join twin across 4 micro-batches: join state (both sides)
    // round-trips the state store, the watermark ratchets per batch, and
    // unmatched purchases null-emit progressively as eviction passes
    // them. Time-sorted staging keeps every match intact (a click in a
    // purchase's window always arrives while wm < p_ts + window - 2h +
    // click lag), so the final table equals the single-batch drain.
    "st_range_join_outer_mb" -> ((s, dir) =>
      drain(EventStreams.rangeJoinOuterStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_rjo_mb_gate")),

    // Multi-batch twins for the two sessionizers: session state opened
    // in batch b closes via a successor OR an event-time timeout (custom
    // path) / watermark eviction (native path) in a LATER batch. Final
    // tables equal the single-batch drains because staging is
    // time-contiguous — a timeout can only fire for a session whose gap
    // genuinely elapsed (wm_b > last+gap implies the next same-user
    // event, if within gap, already arrived in a batch <= b) — so the
    // oracles are shared verbatim.
    "st_sessionize_mb" -> ((s, dir) =>
      drain(EventStreams.sessionize(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_sess_mb_gate")),

    "st_session_native_mb" -> ((s, dir) =>
      drain(EventStreams.sessionWindowStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_sessw_mb_gate")),

    // RocksDB-backed drains through the DuckDB gate — the provider every
    // large deployment runs, previously proven only spec-side
    // (RocksDbStateSpec equality + changelog restart). Same operators,
    // multi-batch staging (state round-trips RocksDB BETWEEN batches),
    // same oracles: flatMapGroupsWithState custom state for running
    // moments, and the dropDuplicates key store for dedup.
    "st_running_rocks" -> onRocks((s, dir) =>
      drain(EventStreams.runningStatsStream(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_running_rocks_gate")),

    "st_dedup_rocks" -> onRocks((s, dir) =>
      drain(EventStreams.dedupStream(
          EventStreams.readEventsMultiBatch(s, dir),
          Seq("user_id", "event_type"), horizon = "744 hours"),
        "st_dedup_rocks_gate")
        .select("user_id", "event_type")),

    // Streaming as-of against a CHANGING dimension: foreachBatch rebuilds
    // the signup-version dim at each batch's event-time high-water mark
    // (a version flip per batch — 4 flips per drain), native as-of
    // operator per batch, idempotent per-batch-id parquet. n_vers_known
    // pins the flip: a full-dim (static) or frozen-batch-0 dim both
    // hash-mismatch the oracle's per-slice version counts.
    "st_asof_dyn" -> ((s, dir) =>
      EventStreams.asOfEnrichDynamicDrain(s, dir)),

    // transformWithState twins — Spark 4's new-generation arbitrary-
    // state API (typed state variables, first-class event-time timers,
    // per-state TTL; REQUIRES RocksDB). Each is a semantics-exact twin
    // of a flatMapGroupsWithState operator above and shares its oracle
    // verbatim: the API generation must not change one row. All drain
    // multi-batch, so the typed state and the timers round-trip RocksDB
    // BETWEEN batches.
    "st_running_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.runningStatsStreamTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_running_tws_gate")),

    "st_dedup_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.dedupStreamTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_dedup_tws_gate")),

    // the ordered-funnel state machine on the TWS API — the 3-slot
    // per-user state crosses micro-batches on RocksDB; completes the
    // fMGWS ↔ TWS twin matrix (running, dedup, sessionize, funnel)
    "st_funnel_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.funnelStreamTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_funnel_tws_gate")),

    // Batch-backfill → streaming handoff (StatefulProcessorWithInitial-
    // State): the first two staged slices aggregate batch-side into
    // per-key moments seeded via handleInitialState; the last two
    // stream through the warm-started processor. The oracle computes
    // priors over the FULL corpus but returns only the streamed half's
    // rows — a cold start (missing archive in the priors) or a replayed
    // archive (double-counted priors) both hash-mismatch.
    "st_running_warm" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.runningStatsWarmStart(s, dir),
        "st_running_warm_gate")),

    // MapState through the gate: per-user event_type → lifetime-count
    // profile; every event emits its occurrence number within
    // (user, type). Each map entry is its own state-store row.
    "st_profile_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.profileStreamTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_profile_tws_gate")),

    // ListState through the gate: sliding last-5 feature window — every
    // event emits count + exact-cents sum over its key's PRIOR <=5
    // events; the bounded buffer round-trips RocksDB as individual list
    // rows between batches.
    "st_lastn_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.lastNStreamTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_lastn_tws_gate")),

    // Event-time TIMERS through the gate: sessions close via successor
    // events or via registerTimer/handleExpiredTimer as the watermark
    // ratchets across the 4 micro-batches.
    "st_sessionize_tws" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.sessionizeTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_sess_tws_gate")),

    // VARIANT-typed TWS state through the gate: each event emits its
    // key's PREVIOUS semi-structured payload from a ValueState holding
    // a real VariantVal (binary encoding in the state store, typed
    // extraction downstream in the plan). The _mb twin proves the
    // variant round-trips RocksDB BETWEEN micro-batches. Oracle is the
    // per-user lag of the raw JSON column.
    "st_variant_state" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.variantLagStream(s,
          EventStreams.readEvents(s, dir))
        .select(col("user_id"), col("event_id"),
          expr("try_variant_get(prev, '$.k', 'long')").as("prev_k")),
        "st_vstate_gate")),
    "st_variant_state_mb" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.variantLagStream(s,
          EventStreams.readEventsMultiBatch(s, dir))
        .select(col("user_id"), col("event_id"),
          expr("try_variant_get(prev, '$.k', 'long')").as("prev_k")),
        "st_vstate_mb_gate")),

    // Stream-stream AS-OF (temporal) join — the join Spark has no
    // native streaming operator for: purchases (facts) enrich with the
    // LATEST same-user click version at-or-before their timestamp,
    // consumed from a dimension STREAM (union-tag + TWS version
    // history), not a per-batch static re-read. A fact emits exactly
    // once, when the watermark proves its dim history complete; the
    // oracle is the batch as-of join below the final watermark (same
    // ms-rounded min-of-maxes arithmetic as st_range_join_outer).
    "st_ss_asof" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.streamAsOfJoinTws(s,
        EventStreams.readEvents(s, dir)), "st_ss_asof_gate")),

    // Multi-batch twin: dim versions accrete and facts flush per batch
    // as the watermark ratchets; emission (fact_ts < wm) only tightens
    // monotonically, so the final set — and the oracle — is unchanged.
    "st_ss_asof_mb" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.streamAsOfJoinTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_ss_asof_mb_gate")),

    // FORWARD direction with a 30-min tolerance window: each purchase
    // matches the EARLIEST same-user click in [ts, ts+30min]; a fact
    // emits once the watermark passes the END of its window (forward
    // as-of is only streamable because the tolerance bounds the wait).
    // Completes the direction matrix the batch operator has.
    "st_ss_asof_fwd" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.streamAsOfJoinFwdTws(s,
        EventStreams.readEvents(s, dir)), "st_ss_asof_fwd_gate")),
    "st_ss_asof_fwd_mb" -> onRocks((s, dir) =>
      drain(graft.streaming.TwsOperators.streamAsOfJoinFwdTws(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_ss_asof_fwd_mb_gate")),

    // State data source reader through the gate: after a checkpointed
    // TWS drain, the PERSISTED state itself (RocksDB files under the
    // checkpoint) is queried with `spark.read.format("statestore")` and
    // hash-compared — operational observability (state inspection,
    // debugging, backfills) proven against the same DuckDB oracle
    // discipline as query output. The running-moments state after a
    // full drain must equal the whole corpus's exact integer moments.
    "st_state_reader" -> onRocks((s, dir) => {
      val root = Bridge.scratchDir("graft_sreader")
      val ckpt = new java.io.File(root, "ckpt").getPath
      val out = new java.io.File(root, "out").getPath
      graft.streaming.TwsOperators.runningStatsStreamTws(s,
          EventStreams.readEventsMultiBatch(s, dir))
        .writeStream
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "moments")
        .load()
        .select(col("key.value").as("event_type"),
          col("value.n").as("n_events"),
          col("value.sum").as("sum_cents"),
          col("value.sumSq").as("sumsq_cents"))
    }),

    // The connector's exactly-once STREAMING SINK through the gate:
    // purchases stream out as edges across 4 micro-batches (4 epoch
    // commits under _graft_commits), the sink directory is batch-read
    // BACK through the connector with grouped pushdown active, and the
    // aggregate answers to an oracle that never saw the round trip —
    // a row duplicated by an epoch replay or dropped by the temp-file
    // publish breaks the hash.
    "st_dsv2_sink" -> ((s, dir) => {
      val fmt = "graft.sources.EdgeListSource"
      val root = Bridge.scratchDir("graft_dsv2sink")
      val out = s"$root/edges"
      val q = EventStreams.readEventsMultiBatch(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("src"), col("event_id").as("dst"))
        .writeStream.format(fmt)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .start(out)
      q.processAllAvailable()
      q.stop()
      s.read.format(fmt).option("chunkBytes", "4096").load(out)
        .groupBy("src")
        .agg(count(lit(1)).as("n_purch"), min("dst").as("min_id"),
          max("dst").as("max_id"))
    }),

    // STREAMING MAINTENANCE OF THE BUCKETED LAYOUT — g_dsv2_bucket_mixed's
    // streaming twin: micro-batches append INTO the bucketed standing
    // table through the connector's BATCH write (foreachBatch), so each
    // epoch's files come out bucket-tagged AND sorted (the sidecar
    // layout rides every append), and the mixed storage-partitioned
    // join runs against the standing table EACH BATCH with only the
    // batch side shuffling — audited in-stream on every micro-batch's
    // executed plan (one ShuffleExchange under the SMJ, zero on the
    // standing side). After the drain the table must still be FULLY
    // tagged (the layout survived streaming maintenance) and the gate
    // aggregate reads the final table. EXACTLY-ONCE: each append
    // carries `idempotencyMarker=b<batchId>` — the connector's batch
    // commit fences on a marker file (replay of a committed batch is a
    // no-op; a crashed half-commit is unpublished by its `-m<token>`
    // filename tag first), the native streaming sink's epoch recipe
    // generalized to foreachBatch maintenance (EdgeListSinkSpec pins
    // both recovery branches).
    "st_dsv2_bucket" -> ((s, dir) => {
      val fmt = "graft.sources.EdgeListSource"
      val root = Bridge.scratchDir("graft_dsv2sb")
      val standing = s"$root/standing"
      graft.io.Tables.edges(s, dir).repartition(2).write.format(fmt)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(standing)
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"): _*)
      val q = EventStreams.readEventsMultiBatch(spj, dir)
        .where(col("event_type") === "purchase")
        .select((col("user_id") % 401).as("src"), col("event_id").as("dst"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // append rides the sidecar: bucketed, sorted, tagged files;
          // the marker makes a Spark batch replay a no-op
          batch.write.format(fmt)
            .option("idempotencyMarker", s"b$batchId")
            .mode("append").save(standing)
          // the mixed SPJ rides the layout each batch: standing side
          // moves zero bytes, only the fresh batch shuffles into the
          // reported partitioning
          // the micro-batch DF lives in the stream's clone of `spj` —
          // the view and the join must run THERE (its confs were
          // copied at stream start)
          batch.createOrReplaceTempView("graft_st_bucket_batch")
          val j = batch.sparkSession.sql(
            s"""SELECT /*+ MERGE(a) */ a.src, count(*) AS n
               |FROM graft.`$standing` a
               |JOIN graft_st_bucket_batch b ON a.src = b.src
               |GROUP BY a.src""".stripMargin)
          j.collect()
          val nodes =
            graft.plans.PlanWalk.nodes(j.queryExecution.executedPlan)
          val smj = nodes.collectFirst {
            case x: org.apache.spark.sql.execution.joins.SortMergeJoinExec => x }
            .getOrElse(throw new IllegalStateException(
              s"no SMJ in batch join:\n${j.queryExecution.executedPlan}"))
          val shuffles = graft.plans.PlanWalk.nodes(smj).count(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
          require(shuffles == 1,
            s"expected only the batch-side shuffle under the SMJ, got " +
              s"$shuffles:\n${j.queryExecution.executedPlan}")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      q.processAllAvailable()
      q.stop()
      // layout survived streaming maintenance: all files tagged
      val files = graft.sources.EdgeListSource.listFiles(standing)
      require(files.nonEmpty && files.forall(f =>
        graft.sources.BucketSpecIO.bucketOf(f.getName).exists(_ < 8)),
        "streaming appends broke the bucket tagging")
      spj.read.format(fmt).load(standing)
        .groupBy("src")
        .agg(count(lit(1)).as("n"), sum("dst").cast("long").as("sum_dst"),
          min("dst").as("min_dst"), max("dst").as("max_dst"))
    }),

    // The sink's MAINTENANCE companion: a 4-epoch drain accretes small
    // per-epoch files; compactEdgeList rewrites the closed sink toward
    // the size target (temp-dir + swap, epoch markers dropped with the
    // old files) and the gate aggregate reads the COMPACTED layout —
    // a row lost or duplicated by the rewrite breaks the hash. Shares
    // st_dsv2_sink's stream-blind oracle.
    "st_dsv2_compact" -> ((s, dir) => {
      val fmt = "graft.sources.EdgeListSource"
      val root = Bridge.scratchDir("graft_dsv2cmp")
      val out = s"$root/edges"
      val q = EventStreams.readEventsMultiBatch(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("src"), col("event_id").as("dst"))
        .writeStream.format(fmt)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .start(out)
      q.processAllAvailable()
      q.stop()
      val rep = graft.io.Compaction.compactEdgeList(s, out, 1L << 30)
      s.read.format(fmt).option("chunkBytes", "4096").load(out)
        .groupBy("src")
        .agg(count(lit(1)).as("n_purch"), min("dst").as("min_id"),
          max("dst").as("max_id"))
        .withColumn("files_after", lit(rep.filesAfter))
    }),

    // Streaming SCD2 corpus-refresh sink: foreachBatch folds each
    // micro-batch's latest-signup-per-user updates into an accumulating
    // SCD2 dimension (Scd2.merge, effective at the batch high-water
    // mark). The final version history pins the batch cadence: merging
    // everything as ONE batch yields one version per user (no closes)
    // and hash-mismatches; per-batch merging must also no-op unchanged
    // payloads or extra versions appear.
    "st_scd2_sink" -> ((s, dir) =>
      graft.streaming.EventStreams.scd2StreamingSink(s, dir)),

    // Streaming fuzzy match (the FastSS family's streaming twin): the
    // standing deletion-key index is the persisted state; 4 micro-
    // batches of new part names join against it in foreachBatch — the
    // standing catalog is scanned exactly once, at bootstrap. Oracle:
    // d_fuzzy_inc's exact all-(batch,standing)-pairs truth, shared
    // verbatim — cadence cannot change a lossless per-pair blocking.
    "st_fuzzy" -> ((s, dir) =>
      graft.streaming.FuzzyStreams.fuzzyMatchStreamingSink(s, dir)),

    // Streaming cross-document aHash near-dup: standing fingerprints
    // banded once at bootstrap; each micro-batch of new clips decodes,
    // hashes, and probes the standing index (never rescanned). Banding
    // is recall-lossless at hamming <= 8 and batch files are disjoint,
    // so the accumulated rollup equals mm_ahash_index's one-shot
    // answer under any cadence — shared oracle.
    "st_ahash" -> ((s, dir) =>
      graft.streaming.AHashStreams.aHashStreamingSink(s, dir)),

    // cadence twin at 8 files (the _mb matrix convention): any split
    // of the batch docs ends at the same accumulated rollup
    "st_ahash_mb" -> ((s, dir) =>
      graft.streaming.AHashStreams.aHashStreamingSink(s, dir, nFiles = 8)),

    // Streaming decontamination monitor: per micro-batch, per-source
    // KMV batch synopses fold into accumulated state with the O(k)
    // merge; the terminal matrix comes from synopses alone. KMV union
    // is associative+commutative, so the fold equals d_decontam_kmv's
    // one-shot answer under ANY cadence — shared oracle.
    "st_decontam" -> ((s, dir) =>
      graft.streaming.DecontamStreams.decontamStreamingSink(s, dir)),

    // Streaming TOP-K LEADERBOARD: the custom TopKPerKey operator's
    // streaming member — per batch the bounded standing board (≤k rows
    // per key) unions the batch and is re-cut through the operator's
    // heaps; total tie-break makes top-k a fold monoid, so the terminal
    // board ≡ the one-shot batch top-k (row_number oracle).
    "st_topk" -> ((s, dir) =>
      graft.streaming.EventStreams.topkLeaderboardSink(s, dir)),

    // Streaming PAGERANK maintenance: each edge micro-batch joins the
    // standing set and ranks continue WARM from the carried vector for
    // 2 iterations over the union graph; cadence is part of the
    // semantics, so the oracle unrolls the exact 4-phase sequence.
    "st_pagerank" -> ((s, dir) =>
      graft.streaming.GraphStreams.pagerankMaintenanceSink(s, dir)),

    // Streaming WEIGHTED PageRank maintenance — the weighted twin of
    // st_pagerank (streaming × weighted × warm-start matrix closed):
    // wout re-keys per phase, ranks carry warm; 4-phase unrolled
    // weighted oracle.
    "st_pagerank_w" -> ((s, dir) =>
      graft.streaming.GraphStreams.pagerankWeightedMaintenanceSink(s, dir)),

    // cadence twins at 8 files: PageRank maintenance cadence is
    // SEMANTIC (each batch buys 2 warm iterations), so each twin gets
    // its own exactly-unrolled 8-phase oracle rather than a shared one
    "st_pagerank_mb" -> ((s, dir) =>
      graft.streaming.GraphStreams.pagerankMaintenanceSink(s, dir,
        nFiles = 8)),
    "st_pagerank_w_mb" -> ((s, dir) =>
      graft.streaming.GraphStreams.pagerankWeightedMaintenanceSink(s, dir,
        nFiles = 8)),

    // Streaming CONNECTED-COMPONENTS maintenance: edge micro-batches
    // fold into a standing (v, comp) assignment via the incremental
    // contraction (standing edges never stored); terminal assignment ≡
    // one-shot CC over the full graph — oracle = the full closure,
    // shared with g_cc_inc.
    "st_cc_inc" -> ((s, dir) =>
      graft.streaming.GraphStreams.ccMaintenanceSink(s, dir)),

    // Streaming TRIANGLE-COUNT maintenance: the carried-count
    // incremental fold (T1 − c2 + T3 per batch, never re-enumerating
    // standing triangles); terminal carried count ≡ the one-shot
    // full-graph recount.
    "st_tri_inc" -> ((s, dir) =>
      graft.streaming.GraphStreams.triMaintenanceSink(s, dir)),

    // Streaming KS drift monitor: per-micro-batch side counts folded
    // into an accumulated count table (counts additive → cadence-
    // independent), statistic re-derived from the fold — terminal
    // result ≡ the one-shot batch dq_ks, oracle shared verbatim.
    "st_ks" -> ((s, dir) =>
      graft.streaming.EventStreams.ksMonitorSink(s, dir)),

    // Streaming hot-key monitor: per-micro-batch (group, key) counts
    // folded additively; terminal Gini/HHI/top-share report ≡ the
    // one-shot batch dq_skew (shared oracle).
    "st_skew" -> ((s, dir) =>
      graft.streaming.EventStreams.skewMonitorSink(s, dir)),

    // Streaming Mann-Whitney U off the SAME side-count fold as st_ks
    // (both statistics are functions of the additive per-(group,value)
    // side counts); terminal result ≡ batch dq_mwu, shared oracle.
    "st_mwu" -> ((s, dir) =>
      graft.streaming.EventStreams.mwuMonitorSink(s, dir)),

    // Streaming total-variation drift off the SAME side-count fold as
    // st_ks/st_mwu (one additive fold, three statistics); terminal
    // result ≡ batch dq_tvd, shared oracle.
    "st_tvd" -> ((s, dir) =>
      graft.streaming.EventStreams.tvdMonitorSink(s, dir)),

    // Streaming quantile-shift monitor: per-(group, cents) side counts
    // folded additively; pure-integer decile ladder re-derived from the
    // fold — terminal result ≡ batch dq_qq, shared oracle.
    // Streaming IQR outlier monitor — the last dq entry to gain a st_
    // twin: per-(group, cents) counts fold additively; the exact
    // type-7 ladder (dyadic r/4 on integer cents) re-derives from the
    // folded counts, so the terminal report hashes raw against the
    // one-shot dq_outliers_c oracle — no quantile_cont tolerance.
    "st_outliers" -> ((s, dir) =>
      graft.streaming.EventStreams.outlierMonitorSink(s, dir)),

    // cadence twin at 8 files: the count fold is additive, any
    // batching ends at the same ladder
    "st_outliers_mb" -> ((s, dir) =>
      graft.streaming.EventStreams.outlierMonitorSink(s, dir, nFiles = 8)),

    "st_qq" -> ((s, dir) =>
      graft.streaming.EventStreams.qqMonitorSink(s, dir)),

    // Streaming XML ingestion: the built-in xml source as a FILE
    // STREAM (one micro-batch per staged file), aggregated in Complete
    // mode — the format × streaming composition; terminal aggregates ≡
    // the batch e_xml round trip, shared oracle.
    "st_xml" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val root = Bridge.scratchDir("graft_stxml")
      val e = graft.io.Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("props"))
      e.repartition(4).write.format("xml").option("rowTag", "event")
        .mode("overwrite").save(s"$root/x")
      val stream = s.readStream.format("xml").option("rowTag", "event")
        .option("maxFilesPerTrigger", "1")
        .schema(e.schema).load(s"$root/x")
      // no countDistinct: distinct aggregation is unsupported on
      // streams — the batch e_xml twin carries that column
      val agg = stream.groupBy("event_type").agg(
        count(lit(1)).as("cnt"),
        sum("cents").as("sum_cents"),
        sum("user_id").as("sum_uid"),
        sum(length(col("props"))).as("sum_props_len"))
      val q = agg.writeStream.outputMode(OutputMode.Complete)
        .format("memory").queryName("st_xml_gate")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      s.table("st_xml_gate")
    }),

    // Streaming CUSUM changepoint monitor: the (cum, runmin) prefix
    // summary is associative under concatenation, so per-group state
    // is O(1) scalars + the running peak; exact under in-order arrival
    // (the staged drain). Terminal report ≡ batch dq_cusum_t, shared
    // oracle.
    "st_cusum" -> ((s, dir) =>
      graft.streaming.EventStreams.cusumMonitorSink(s, dir)),

    // Streaming SURVIVAL maintenance: per-user lifetime extrema merge
    // as a join-semilattice (min first-ts, max last-ts, max event flag)
    // — order/batching/duplication cannot change the state; terminal
    // Kaplan-Meier ≡ batch e_survival, shared oracle.
    "st_survival" -> ((s, dir) =>
      graft.streaming.EventStreams.survivalMonitorSink(s, dir)),

    // Streaming per-COHORT survival: the SAME lifetime semilattice
    // fold as st_survival (cohort = f(user_id), no extra state key);
    // terminal per-cohort Kaplan-Meier ≡ batch e_survival_cohort,
    // shared oracle.
    "st_survival_cohort" -> ((s, dir) =>
      graft.streaming.EventStreams.survivalCohortMonitorSink(s, dir)),

    // Streaming RETENTION maintenance: the distinct (user, active-day)
    // pair set folds as a set union; terminal cohort table ≡ batch
    // e_retention, shared oracle.
    "st_retention" -> ((s, dir) =>
      graft.streaming.EventStreams.retentionMonitorSink(s, dir)),

    // Streaming MV maintenance: per-micro-batch signed deltas folded
    // into the standing per-key rollup (IncrementalAgg) — standing
    // side never rescanned; terminal MV ≡ from-scratch recompute over
    // all events (delta folding is additive).
    "st_mv_inc" -> ((s, dir) =>
      graft.streaming.EventStreams.mvMaintenanceSink(s, dir)),

    // Streaming Spearman trend: per-(group, value, time) PAIR counts
    // folded additively; exact tie-aware rho re-derived from the fold
    // ≡ batch dq_spearman (identical integer accumulators ⇒ identical
    // raw-double bit pattern; shared oracle).
    // Streaming Benford monitor: per-(group, first-digit) counts fold
    // additively; the chi-square-vs-log-law report re-derives from the
    // folded counts ≡ batch dq_benford (shared oracle).
    "st_benford" -> ((s, dir) =>
      graft.streaming.EventStreams.benfordMonitorSink(s, dir)),

    // Streaming median/MAD (Hampel) outlier monitor: per-(group, cents)
    // value counts fold additively; the exact 2x-median / 4x-MAD ladder
    // re-derives from the folded counts ≡ batch dq_mad (shared oracle).
    "st_mad" -> ((s, dir) =>
      graft.streaming.EventStreams.madMonitorSink(s, dir)),

    // Streaming association monitor: (event_type, user-bucket) cell
    // counts fold additively; the per-cell chi-square-vs-independence
    // report re-derives from the folded cells ≡ batch dq_contingency
    // (shared oracle).
    "st_contingency" -> ((s, dir) =>
      graft.streaming.EventStreams.contingencyMonitorSink(s, dir)),

    "st_spearman" -> ((s, dir) =>
      graft.streaming.EventStreams.spearmanMonitorSink(s, dir)),

    // Streaming MERGE-INTO sink (st_scd2_sink's stateless companion):
    // foreachBatch upserts each batch's latest signup per user into an
    // accumulating snapshot and deletes on error events; the conditional
    // insert clause keeps deletes of absent users a no-op. Last-writer-
    // wins per batch makes the fold cadence-independent, so the oracle
    // is the one-shot "globally latest signup/error decides" rule.
    "st_merge_sink" -> ((s, dir) =>
      graft.streaming.EventStreams.mergeStreamingSink(s, dir)),

    // Streaming MinHash-LSH near-dup candidates over the documents table
    // with synthetic event time tts = (doc_id + 1) seconds: per (band,
    // bucket) the first-arriving doc (min doc_id here) becomes the
    // representative, every later arrival emits one candidate row. The
    // +1 keeps doc 0 off epoch 0 — a row AT the initial watermark is
    // filtered as late by the stateful operator and would silently
    // vanish from its bucket.
    // Stateless chunking on the documents stream: the embedding-prep
    // pass as a stream transform (every row emits immediately — no
    // state, no watermark), sharing t_chunk's oracle verbatim.
    "st_chunk" -> ((s, dir) => {
      val schema = graft.io.Tables.parquetSchema(s, s"$dir/documents.parquet")
      val docsStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      drain(graft.text.TextAnalysis.chunk(
        docsStream, col("doc_id"), col("text"), window = 64, stride = 48),
        "st_chunk_gate")
    }),

    // the learned curation scorer on the ingest stream: stateless
    // per-doc feature hashing + bag sum, so every row emits immediately
    // and the batch t_classify oracle carries over verbatim
    "st_classify" -> ((s, dir) => {
      val schema = graft.io.Tables.parquetSchema(s, s"$dir/documents.parquet")
      val docsStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      drain(graft.text.TextAnalysis.classify(
        docsStream, col("doc_id"), col("text")), "st_classify_gate")
    }),

    // VARIANT inside a streaming micro-batch: semi-structured payloads
    // are the normal shape of a production event stream, and a fixed
    // from_json schema can't hold the mixed-type `maybe` field. The
    // parse + typed-path extraction is stateless, so every row emits
    // immediately; the oracle re-derives each value from raw columns.
    "st_variant" -> ((s, dir) =>
      drain(EventStreams.readEvents(s, dir)
        .withColumn("v", expr(EventQueries.VariantPayloadSql))
        .select(col("event_id"),
          expr("variant_get(v, '$.p.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.u.id', 'bigint')").as("uid"),
          expr("variant_get(v, '$.xs[1]', 'bigint')").as("xs1"),
          expr("try_variant_get(v, '$.maybe', 'bigint')").as("maybe_int"),
          expr("is_variant_null(variant_get(v, '$.nul'))").as("vnull")),
        "st_variant_gate")),

    "st_neardup" -> ((s, dir) => {
      val schema = graft.io.Tables.parquetSchema(s, s"$dir/documents.parquet")
      val docsStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("tts", timestamp_micros((col("doc_id") + 1) * 1000000L))
      drain(EventStreams.nearDupStream(s, docsStream), "st_neardup_gate")
    }),

    // KEYLESS stream-stream interval-overlap join: no equi-key exists in
    // the data, so the bin column manufactured by a stateless explode
    // becomes the symmetric hash join's key; shares the batch
    // e_interval_join oracle (single-batch drain holds both sides).
    "st_interval_join" -> ((s, dir) =>
      drain(EventStreams.intervalJoinStream(EventStreams.readEvents(s, dir)),
        "st_ij_gate")),

    // Stream-stream LEFT OUTER range join: matched purchase→click pairs
    // emit inner-style; unmatched purchases null-emit only once the
    // final watermark evicts their join window — the outer state-
    // eviction path (purchases still inside the horizon at end-of-
    // stream never emit, which the oracle replays).
    "st_range_join_outer" -> ((s, dir) =>
      drain(EventStreams.rangeJoinOuterStream(EventStreams.readEvents(s, dir)),
        "st_rjo_gate")),

    // FULL OUTER stream-stream range join: unmatched rows from BOTH
    // sides null-emit on eviction (purchases below wm−window, clicks
    // below wm — each exactly once). The audit-join shape: every input
    // row is accounted for in the output. Single-batch and staged
    // multi-batch drains share the oracle (eviction emits at most once
    // per state row, so mid-drain watermark advances change WHEN null
    // rows appear, never the final multiset).
    "st_range_join_full" -> ((s, dir) =>
      drain(EventStreams.rangeJoinFullStream(EventStreams.readEvents(s, dir)),
        "st_rjf_gate")),

    "st_range_join_full_mb" -> ((s, dir) =>
      drain(EventStreams.rangeJoinFullStream(
        EventStreams.readEventsMultiBatch(s, dir)), "st_rjf_mb_gate")),

    // Streaming 3-sigma anomaly flags on the running moments — exact
    // integer comparison ((n·x−Σ)² vs 9·(n·Σx²−Σ²), BigInt vs HUGEINT),
    // so the boolean never rides a float. Multi-batch drain: the prior-
    // moments state crosses micro-batch boundaries.
    "st_anomaly" -> ((s, dir) =>
      drain(EventStreams.anomalyStream(s,
        EventStreams.readEventsMultiBatch(s, dir)), "st_anomaly_gate")),

    // Explicit _mb twin completing the multi-batch matrix (VERDICT r8
    // #4): same operator and oracle, staged as EIGHT time-contiguous
    // files instead of the default four, so the prior-moments state
    // round-trips the store across twice as many batch boundaries
    // (including boundaries that split a single event_type's run).
    "st_anomaly_mb" -> ((s, dir) =>
      drain(EventStreams.anomalyStream(s,
        EventStreams.readEventsMultiBatch(s, dir, nFiles = 8)),
        "st_anomaly_mb_gate")),

    // Exactly-once file sink via idempotent batch-id foreachBatch: a
    // 4-batch drain writes per-batch dirs, then the gate CRASHES the
    // pipeline retroactively (deletes the final commit marker) and
    // restarts — the replayed batch must overwrite, not duplicate. The
    // read-back union equals the events table row-for-row, which is the
    // whole exactly-once claim, hash-checked by DuckDB.
    "st_exactly_once" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_eo")
      val out = new java.io.File(root, "out")
      val ckpt = new java.io.File(root, "ckpt")
      def run(): Unit = {
        val ev = EventStreams.readEventsMultiBatch(s, dir)
        val proj = ev.select(col("event_id"), col("user_id"), col("event_type"),
          graft.io.Tables.eventMicros(ev).as("ts_us"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        EventStreams.exactlyOnceParquetSink(proj, out.getPath, ckpt.getPath)
      }
      run()
      // crash simulation: offset log says the last batch ran, commit log
      // says it didn't → restart re-executes it through foreachBatch.
      val commits = new java.io.File(ckpt, "commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      assert(commits.length >= 2, s"expected a multi-batch drain, got ${commits.length}")
      // the local ChecksumFs keeps a .N.crc sidecar next to each commit
      // marker — drop both, or the replay's rename-into-place fails
      val crc = new java.io.File(commits.last.getParentFile,
        s".${commits.last.getName}.crc")
      commits.last.delete()
      if (crc.exists()) crc.delete()
      run()
      s.read.parquet(out.getPath).drop("batch_id")
    })
  )

  private val HourUs = 3600L * 1000000L

  private val baseOracles: Map[String, String] = Map(
    "st_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events),
        |t1 AS (SELECT user_id, min(ts_us) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts_us) AS t FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > t1.t GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts_us) AS t FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > t2.t GROUP BY 1)
        |SELECT user_id, CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, t AS ts_us FROM t1
        |UNION ALL
        |SELECT user_id, CAST(1 AS BIGINT), 'click', t FROM t2
        |UNION ALL
        |SELECT user_id, CAST(2 AS BIGINT), 'purchase', t FROM t3""".stripMargin,

    "st_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "st_asof_enrich" ->
      s"""WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us, max(value) AS v FROM e
         |  WHERE event_type = 'signup' GROUP BY 1, 2),
         |iv AS (SELECT user_id, ts_us AS vf,
         |  coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us),
         |    ${Long.MaxValue}) AS vt, v
         |  FROM s)
         |SELECT e.user_id, e.event_id, e.ts_us, iv.v AS asof_value
         |FROM e JOIN iv ON e.user_id = iv.user_id
         | AND e.ts_us >= iv.vf AND e.ts_us < iv.vt""".stripMargin,

    "st_drift" ->
      s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, event_id,
         |  event_type FROM events),
         |str AS (SELECT ts_us - ts_us % $HourUs AS w, event_type AS category
         |  FROM e WHERE event_id % 2 <> 0),
         |kept AS (SELECT w, category, count(*) AS n_obs FROM str
         |  WHERE w + $HourUs <=
         |    (SELECT max(ts_us) FROM e WHERE event_id % 2 <> 0)
         |      - ${2 * HourUs}
         |  GROUP BY 1, 2),
         |b AS (SELECT event_type AS category, count(*) AS n_base FROM e
         |  WHERE event_id % 2 = 0 GROUP BY 1),
         |nw AS (SELECT count(DISTINCT ts_us - ts_us % $HourUs) AS n FROM e
         |  WHERE event_id % 2 = 0),
         |x AS (SELECT k.w, k.category, k.n_obs,
         |  coalesce(b.n_base, 0) AS n_base,
         |  CAST(coalesce(b.n_base, 0) + 1 AS DOUBLE) / nw.n AS e2
         |  FROM kept k LEFT JOIN b ON k.category = b.category CROSS JOIN nw)
         |SELECT w AS win_start_us, category, n_obs, n_base,
         |  e2 AS expected,
         |  (n_obs - e2) * (n_obs - e2) / e2 AS chi2_contrib
         |FROM x""".stripMargin,

    "st_window_agg" ->
      s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, event_type,
         |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |c AS (SELECT ts_us - ts_us % $HourUs AS win_start_us, event_type, cents
         |  FROM e
         |  WHERE ts_us - ts_us % $HourUs + $HourUs
         |    <= (SELECT max(ts_us) FROM e) - ${2 * HourUs})
         |SELECT win_start_us, event_type, count(*) AS cnt,
         |  CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM c GROUP BY 1, 2""".stripMargin,

    "st_sliding_window" ->
      s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, event_type,
         |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |x AS (SELECT ts_us - ts_us % ${HourUs / 2} - k.k * ${HourUs / 2}
         |    AS win_start_us, event_type, cents
         |  FROM e CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k),
         |c AS (SELECT * FROM x
         |  WHERE win_start_us + $HourUs
         |    <= (SELECT max(ts_us) FROM e) - ${2 * HourUs})
         |SELECT win_start_us, event_type, count(*) AS cnt,
         |  CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM c GROUP BY 1, 2""".stripMargin,

    "st_approx_distinct" ->
      s"""WITH sk AS (${graft.functions.HllSketch.oracleSqlGrouped(
             table = s"""(SELECT (epoch_ns(ts) // 1000)
                        |     - (epoch_ns(ts) // 1000) % $HourUs AS ws,
                        |     event_type, user_id
                        |   FROM events
                        |   WHERE (epoch_ns(ts) // 1000)
                        |       - (epoch_ns(ts) // 1000) % $HourUs + $HourUs
                        |     <= (SELECT max(epoch_ns(ts) // 1000) FROM events)
                        |       - ${2 * HourUs}) ev""".stripMargin,
             hashExpr = graft.functions.Hashing.hash60Sql("CAST(user_id AS VARCHAR)"),
             groupCols = Seq("ws" -> "win_start_us", "event_type" -> "event_type"))})
         |SELECT win_start_us, event_type, approx_distinct AS approx_users
         |FROM sk""".stripMargin,

    "st_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id,
         |  epoch_ns(ts) // 1000 AS ts_us FROM events),
         |flags AS (SELECT user_id, event_id, ts_us,
         |  CASE WHEN lag(ts_us) OVER w IS NULL
         |       OR ts_us - lag(ts_us) OVER w > 1800 * 1000000
         |    THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sess AS (SELECT user_id, ts_us,
         |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM flags),
         |agg AS (SELECT user_id, session_idx, count(*) AS n_events,
         |  min(ts_us) AS start_us, max(ts_us) AS end_us
         |  FROM sess GROUP BY user_id, session_idx),
         |wm AS (SELECT (SELECT max(ts_us) FROM e) // 1000 - 1800000 AS w)
         |SELECT user_id, start_us, end_us, n_events FROM agg, wm
         |WHERE session_idx < (SELECT max(session_idx) FROM agg a2
         |                     WHERE a2.user_id = agg.user_id)
         |   OR end_us // 1000 + 1800000 < w""".stripMargin,

    "st_enrich" ->
      """WITH st AS (SELECT event_type, round(avg(value), 6) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, st.type_avg,
        |  round(e.value - st.type_avg, 6) AS delta_from_avg
        |FROM events e JOIN st USING (event_type)""".stripMargin,

    "st_session_native" ->
      s"""WITH e AS (SELECT user_id, event_id,
         |  epoch_ns(ts) // 1000 AS ts_us FROM events),
         |flags AS (SELECT user_id, event_id, ts_us,
         |  CASE WHEN lag(ts_us) OVER w IS NULL
         |       OR ts_us - lag(ts_us) OVER w >= 1800 * 1000000
         |    THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sess AS (SELECT user_id, ts_us,
         |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM flags),
         |agg AS (SELECT user_id, sid, count(*) AS n_events,
         |  min(ts_us) AS start_us,
         |  max(ts_us) + ${1800L * 1000000L} AS end_us
         |  FROM sess GROUP BY user_id, sid),
         |wm AS (SELECT (SELECT max(ts_us) FROM e) // 1000 - 1800000 AS w)
         |SELECT user_id, start_us, end_us, n_events FROM agg, wm
         |WHERE end_us <= w * 1000""".stripMargin,

    "st_running" ->
      """WITH e AS (SELECT event_type, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_prior,
        |  CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS sum_prior_cents,
        |  CAST(coalesce(sum(cents * cents) OVER w, 0) AS BIGINT) AS sumsq_prior_cents
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,

    "st_neardup" ->
      s"""WITH ${PipelineQueries.ShinglesCte},
         |sigs AS (SELECT doc_id, ${PipelineQueries.SigSelect} FROM sh GROUP BY doc_id),
         |${PipelineQueries.BandsCte},
         |reps AS (SELECT band, band_hash, min(doc_id) AS rep
         |  FROM bands GROUP BY 1, 2)
         |SELECT r.rep AS a, b.doc_id AS b, CAST(r.band AS INTEGER) AS band
         |FROM reps r JOIN bands b USING (band, band_hash)
         |WHERE b.doc_id <> r.rep""".stripMargin,

    "st_range_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |iv AS (SELECT user_id, event_id AS interval_id, ts_us AS win_s,
        |         ts_us + CAST(1800000000 AS BIGINT) AS win_e
        |       FROM e WHERE event_type = 'purchase')
        |SELECT iv.interval_id, p.event_id, p.ts_us
        |FROM iv JOIN e p ON p.user_id = iv.user_id
        | AND p.ts_us >= iv.win_s AND p.ts_us <= iv.win_e""".stripMargin,

    "st_anomaly" ->
      """WITH e AS (SELECT event_type, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, event_id, cents,
        |  count(*) OVER w AS n,
        |  coalesce(sum(cents) OVER w, 0) AS s,
        |  coalesce(sum(cents * cents) OVER w, 0) AS ss
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_type, event_id, CAST(cents AS BIGINT) AS cents,
        |  CAST(n AS BIGINT) AS n_prior,
        |  (n >= 2 AND
        |   (CAST(n AS HUGEINT) * CAST(cents AS HUGEINT) - CAST(s AS HUGEINT))
        |     * (CAST(n AS HUGEINT) * CAST(cents AS HUGEINT) - CAST(s AS HUGEINT))
        |   > 9 * (CAST(n AS HUGEINT) * CAST(ss AS HUGEINT)
        |          - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))) AS is_anomaly
        |FROM m""".stripMargin,

    "st_exactly_once" ->
      """SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |FROM events""".stripMargin,

    // Outer-join nulls replay Spark's exact eviction arithmetic, measured
    // in r7: the GLOBAL watermark is the
    // MIN over the two filtered sides' (ms-floored max − 2 h), and an
    // unmatched purchase null-emits iff p_ts < wm − window. Matched
    // pairs all emit (single data batch: nothing is late).
    "st_range_join_outer" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |c AS (SELECT user_id, event_id, ts_us FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS interval_id, ts_us AS p_ts_us
        |  FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least(x.mc, y.mp) * 1000 - 7200000000 AS wm_us
        |  FROM (SELECT max(ts_us) // 1000 AS mc FROM c) x,
        |       (SELECT max(p_ts_us) // 1000 AS mp FROM p) y)
        |SELECT p.interval_id, p.p_ts_us, c.event_id AS click_id,
        |  c.ts_us AS click_ts_us
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.ts_us >= p.p_ts_us AND c.ts_us <= p.p_ts_us + 1800000000
        |UNION ALL
        |SELECT p.interval_id, p.p_ts_us,
        |  CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_ts_us
        |FROM p, wm
        |WHERE p.p_ts_us < wm.wm_us - 1800000000
        |  AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND c.ts_us >= p.p_ts_us AND c.ts_us <= p.p_ts_us + 1800000000)""".stripMargin,

    // inner pairs + one null row per unmatched-and-evicted row of EACH
    // side (purchase horizon wm−window, click horizon wm; strict <,
    // same ms-rounded min-of-maxes watermark as st_range_join_outer)
    "st_range_join_full" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |c AS (SELECT user_id, event_id, ts_us FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS interval_id, ts_us AS p_ts_us
        |  FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least(x.mc, y.mp) * 1000 - 7200000000 AS wm_us
        |  FROM (SELECT max(ts_us) // 1000 AS mc FROM c) x,
        |       (SELECT max(p_ts_us) // 1000 AS mp FROM p) y)
        |SELECT p.interval_id, p.p_ts_us, c.event_id AS click_id,
        |  c.ts_us AS click_ts_us
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.ts_us >= p.p_ts_us AND c.ts_us <= p.p_ts_us + 1800000000
        |UNION ALL
        |SELECT p.interval_id, p.p_ts_us,
        |  CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_ts_us
        |FROM p, wm
        |WHERE p.p_ts_us < wm.wm_us - 1800000000
        |  AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND c.ts_us >= p.p_ts_us AND c.ts_us <= p.p_ts_us + 1800000000)
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS interval_id,
        |  CAST(NULL AS BIGINT) AS p_ts_us,
        |  c.event_id AS click_id, c.ts_us AS click_ts_us
        |FROM c, wm
        |WHERE c.ts_us < wm.wm_us
        |  AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |    AND c.ts_us >= p.p_ts_us AND c.ts_us <= p.p_ts_us + 1800000000)""".stripMargin,

    "st_window_lgq" -> graft.functions.LogBinQuantiles.lgqOracleSqlGrouped(
      table = s"""(SELECT (epoch_ns(ts) // 1000)
                 |    - (epoch_ns(ts) // 1000) % $HourUs AS ws,
                 |    event_type,
                 |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 |  FROM events
                 |  WHERE (epoch_ns(ts) // 1000) - (epoch_ns(ts) // 1000) % $HourUs
                 |      + $HourUs
                 |    <= (SELECT max(epoch_ns(ts) // 1000) FROM events)
                 |      - ${2 * HourUs}) ev""".stripMargin,
      valueExpr = "cents",
      groupCols = Seq("ws" -> "win_start_us", "event_type" -> "event_type"),
      qs = Seq("p50_cents" -> 0.5, "p95_cents" -> 0.95, "p99_cents" -> 0.99))
  )

  /** st_asof_dyn: the per-slice high-water marks replay the staging
    * arithmetic exactly — rows ranked by (ts, event_id), slice k holds
    * rn ∈ (k·n/4, (k+1)·n/4] (integer division, as in
    * stageSortedEventFiles) — and n_vers_known counts distinct signup
    * versions with vfrom ≤ the event's slice high-water mark (pure
    * event-time cutoff, matching the engine's `ts_us <= hi` dim build).
    * asof_value comes from the FULL dim interval join, which equals the
    * growing-dim lookup because backward as-of only needs versions with
    * vfrom ≤ ts_e ≤ hi. */
  private val asOfDynOracle =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value,
       |    epoch_ns(ts) // 1000 AS ts_us,
       |    row_number() OVER (ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
       |  FROM events),
       |nn AS (SELECT count(*) AS n FROM events),
       |b AS (SELECT e.*, CASE WHEN rn <= (1 * nn.n) // 4 THEN 0
       |                       WHEN rn <= (2 * nn.n) // 4 THEN 1
       |                       WHEN rn <= (3 * nn.n) // 4 THEN 2
       |                       ELSE 3 END AS slice
       |  FROM e, nn),
       |hi AS (SELECT slice, max(ts_us) AS hi_us FROM b GROUP BY 1),
       |s AS (SELECT user_id, ts_us AS vf, max(value) AS v FROM e
       |  WHERE event_type = 'signup' GROUP BY 1, 2),
       |iv AS (SELECT user_id, vf,
       |    coalesce(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
       |      ${Long.MaxValue}) AS vt, v
       |  FROM s),
       |sel AS (SELECT b.user_id, b.event_id, b.ts_us, hi.hi_us,
       |    iv.v AS asof_value
       |  FROM b JOIN hi USING (slice)
       |  JOIN iv ON b.user_id = iv.user_id
       |    AND b.ts_us >= iv.vf AND b.ts_us < iv.vt)
       |SELECT sel.user_id, sel.event_id, sel.ts_us, sel.asof_value,
       |  count(*) AS n_vers_known
       |FROM sel JOIN s ON s.user_id = sel.user_id AND s.vf <= sel.hi_us
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** st_scd2_sink: replay the slice arithmetic (same CTE chain as
    * [[asOfDynOracle]]), then the SCD2 fold in SQL — per slice each
    * user's LATEST signup (by ts_us, event_id) is the update; a version
    * opens at the slice's all-events high-water mark iff the value
    * differs from the user's previous slice-update (IS DISTINCT FROM —
    * Scd2.merge's no-op-on-equal branch); it closes when the next
    * version opens, else stays open at Long.MaxValue. */
  private val scd2SinkOracle =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value,
       |    epoch_ns(ts) // 1000 AS ts_us,
       |    row_number() OVER (ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
       |  FROM events),
       |nn AS (SELECT count(*) AS n FROM events),
       |b AS (SELECT e.*, CASE WHEN rn <= (1 * nn.n) // 4 THEN 0
       |                       WHEN rn <= (2 * nn.n) // 4 THEN 1
       |                       WHEN rn <= (3 * nn.n) // 4 THEN 2
       |                       ELSE 3 END AS slice
       |  FROM e, nn),
       |hi AS (SELECT slice, max(ts_us) AS hi_us FROM b GROUP BY 1),
       |su AS (SELECT slice, user_id, value,
       |    row_number() OVER (PARTITION BY slice, user_id
       |      ORDER BY ts_us DESC, event_id DESC) AS rk
       |  FROM b WHERE event_type = 'signup'),
       |upd AS (SELECT slice, user_id, value FROM su WHERE rk = 1),
       |chain AS (SELECT u.user_id, u.value, hi.hi_us,
       |    lag(u.value) OVER (PARTITION BY u.user_id ORDER BY u.slice) AS prev
       |  FROM upd u JOIN hi USING (slice)),
       |vers AS (SELECT user_id, value, hi_us AS valid_from FROM chain
       |  WHERE prev IS NULL OR value IS DISTINCT FROM prev)
       |SELECT user_id, value, valid_from,
       |  coalesce(lead(valid_from) OVER (PARTITION BY user_id
       |    ORDER BY valid_from), ${Long.MaxValue}) AS valid_to
       |FROM vers""".stripMargin

  /** st_merge_sink: the per-batch last-writer-wins fold collapses to
    * "globally latest signup/error per user decides" (delete if error,
    * upsert value if signup) — cadence-independent, one window pass. */
  private val mergeSinkOracle =
    s"""WITH e AS (SELECT user_id, event_type, value,
       |    epoch_ns(ts) // 1000 AS ts_us, event_id
       |  FROM events WHERE event_type IN ('signup', 'error')),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts_us DESC, event_id DESC) AS rk FROM e)
       |SELECT user_id, value FROM r
       |WHERE rk = 1 AND event_type = 'signup'""".stripMargin

  // The multi-batch drains end at the same final table as their
  // single-batch twins (time-sorted staging: nothing is late, nothing
  // re-emits), so they share oracles verbatim — as do the RocksDB-backed
  // drains (the provider must not change results, only where state
  // lives).
  /** st_ss_asof / st_ss_asof_mb: the batch as-of join below the final
    * watermark — latest same-user click at-or-before each purchase
    * (ties broken by event_id, the order the processor sorts its
    * version history in), LEFT so a purchase with no version yet that
    * early still emits with NULL dim columns. Same ms-rounded
    * min-of-maxes watermark arithmetic as st_range_join_outer; strict
    * `<` matches the processor's flush condition. */
  private val ssAsOfOracle =
    """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
      |c AS (SELECT user_id, event_id, ts_us,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM e
      |  WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS fact_id, ts_us AS fact_ts_us
      |  FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT least(x.mc, y.mp) * 1000 - 7200000000 AS wm_us
      |  FROM (SELECT max(ts_us) // 1000 AS mc FROM c) x,
      |       (SELECT max(fact_ts_us) // 1000 AS mp FROM p) y),
      |j AS (SELECT p.user_id, p.fact_id, p.fact_ts_us,
      |  c.event_id AS dim_id, c.ts_us AS dim_ts_us, c.cents AS dim_cents,
      |  row_number() OVER (PARTITION BY p.fact_id
      |    ORDER BY c.ts_us DESC, c.event_id DESC) AS rn
      |  FROM p LEFT JOIN c
      |    ON c.user_id = p.user_id AND c.ts_us <= p.fact_ts_us)
      |SELECT user_id, fact_id, fact_ts_us, dim_id, dim_ts_us, dim_cents
      |FROM j, wm WHERE rn <= 1 AND fact_ts_us < wm_us""".stripMargin

  /** st_session_dyngap(/_mb): per-event window [ts, ts + gap(event)),
    * merge on strict overlap with the RUNNING MAX of prior ends (a
    * single long-gap event can bridge later short-gap ones — lag() of
    * the previous end alone under-merges), evict at end ≤ the ms-floor
    * watermark (delay = the 1 h max gap). */
  private val sessionDynOracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
       |  epoch_ns(ts) // 1000 + CASE WHEN event_type = 'purchase'
       |    THEN ${3600L * 1000000L} ELSE ${1800L * 1000000L} END AS w_end
       |  FROM events),
       |o AS (SELECT *, max(w_end) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM e),
       |f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts_us >= prev_end
       |    THEN 1 ELSE 0 END AS brk FROM o),
       |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM f),
       |agg AS (SELECT user_id, sid, count(*) AS n_events,
       |  min(ts_us) AS start_us, max(w_end) AS end_us
       |  FROM s GROUP BY user_id, sid),
       |wm AS (SELECT (SELECT max(ts_us) FROM e) // 1000 - 3600000 AS w)
       |SELECT user_id, start_us, end_us, n_events FROM agg, wm
       |WHERE end_us <= w * 1000""".stripMargin

  /** st_kmv_distinct(/_mb): exact replica of the per-(window, type) KMV
    * synopsis over closed windows (same eviction arithmetic as
    * st_approx_distinct). */
  private val kmvDistinctOracle = {
    val k = 64
    s"""WITH ev AS (SELECT (epoch_ns(ts) // 1000)
       |    - (epoch_ns(ts) // 1000) % $HourUs AS ws,
       |    event_type, user_id
       |  FROM events
       |  WHERE (epoch_ns(ts) // 1000)
       |      - (epoch_ns(ts) // 1000) % $HourUs + $HourUs
       |    <= (SELECT max(epoch_ns(ts) // 1000) FROM events)
       |      - ${2 * HourUs}),
       |d AS (SELECT DISTINCT ws, event_type,
       |  ${graft.functions.Hashing.hash60Sql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM ev),
       |r2 AS (SELECT ws, event_type, h, row_number() OVER (
       |  PARTITION BY ws, event_type ORDER BY h) AS rn FROM d),
       |sk AS (SELECT ws, event_type, list(h ORDER BY h) AS sk FROM r2
       |  WHERE rn <= $k GROUP BY ws, event_type)
       |SELECT ws AS win_start_us, event_type,
       |  ${graft.functions.KmvSketch.oracleEstimateSql("sk", k)} AS approx_users
       |FROM sk""".stripMargin
  }

  /** st_variant_state(/_mb): the per-user lag of the raw JSON column. */
  private val variantStateOracle =
    """WITH e AS (SELECT user_id, event_id,
      |  epoch_ns(ts) // 1000 AS ts_us, props FROM events),
      |l AS (SELECT user_id, event_id, lag(props) OVER (
      |  PARTITION BY user_id ORDER BY ts_us, event_id) AS pp FROM e)
      |SELECT user_id, event_id,
      |  CAST(json_extract_string(pp, '$.k') AS BIGINT) AS prev_k
      |FROM l""".stripMargin

  /** st_ss_asof_fwd(/_mb): earliest same-user click in [ts, ts+30min]
    * per purchase (ties by event_id ascending — the processor's sort),
    * LEFT; emission once the watermark passes the window END. */
  private val ssAsOfFwdOracle =
    s"""WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
       |c AS (SELECT user_id, event_id, ts_us,
       |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM e
       |  WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS fact_id, ts_us AS fact_ts_us
       |  FROM e WHERE event_type = 'purchase'),
       |wm AS (SELECT least(x.mc, y.mp) * 1000 - 7200000000 AS wm_us
       |  FROM (SELECT max(ts_us) // 1000 AS mc FROM c) x,
       |       (SELECT max(fact_ts_us) // 1000 AS mp FROM p) y),
       |j AS (SELECT p.user_id, p.fact_id, p.fact_ts_us,
       |  c.event_id AS dim_id, c.ts_us AS dim_ts_us, c.cents AS dim_cents,
       |  row_number() OVER (PARTITION BY p.fact_id
       |    ORDER BY c.ts_us ASC, c.event_id ASC) AS rn
       |  FROM p LEFT JOIN c
       |    ON c.user_id = p.user_id AND c.ts_us >= p.fact_ts_us
       |    AND c.ts_us <= p.fact_ts_us + ${1800L * 1000000L})
       |SELECT user_id, fact_id, fact_ts_us, dim_id, dim_ts_us, dim_cents
       |FROM j, wm
       |WHERE rn <= 1 AND fact_ts_us + ${1800L * 1000000L} < wm_us""".stripMargin

  val oracles: Map[String, String] = baseOracles ++ Map(
    "st_ss_asof_fwd" -> ssAsOfFwdOracle,
    "st_ss_asof_fwd_mb" -> ssAsOfFwdOracle,
    "st_session_dyngap" -> sessionDynOracle,
    "st_session_dyngap_mb" -> sessionDynOracle,
    "st_kmv_distinct" -> kmvDistinctOracle,
    "st_kmv_distinct_mb" -> kmvDistinctOracle,
    "st_variant_state" -> variantStateOracle,
    "st_variant_state_mb" -> variantStateOracle,
    "st_chunk" -> TextQueries.oracles("t_chunk"),
    "st_classify" -> TextQueries.oracles("t_classify"),
    // stateless per-row extraction: every value a closed form of the
    // raw columns (k from the props JSON; maybe_int only on the even
    // parity that wrote a number; '$.nul' is an explicit JSON null)
    "st_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  user_id AS uid,
        |  event_id % 7 AS xs1,
        |  CASE WHEN event_id % 2 = 0 THEN event_id % 100 END AS maybe_int,
        |  true AS vnull
        |FROM events""".stripMargin,
    "st_ss_asof" -> ssAsOfOracle,
    "st_ss_asof_mb" -> ssAsOfOracle,
    "st_dsv2_sink" ->
      """SELECT user_id AS src, count(*) AS n_purch,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "st_dsv2_compact" ->
      """SELECT user_id AS src, count(*) AS n_purch,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  1 AS files_after
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    // the standing table after the drain IS seed-edges ∪ appended
    // purchases; the layout/plan audits are invisible to the result
    "st_dsv2_bucket" ->
      s"""WITH edges AS (${graft.io.Tables.EdgesSql}),
        |appended AS (SELECT user_id % 401 AS src, event_id AS dst
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT * FROM edges UNION ALL SELECT * FROM appended)
        |SELECT src, count(*) AS n, CAST(sum(dst) AS BIGINT) AS sum_dst,
        |  min(dst) AS min_dst, max(dst) AS max_dst
        |FROM t GROUP BY src""".stripMargin,
    "st_funnel_mb" -> baseOracles("st_funnel"),
    "st_dedup_mb" -> baseOracles("st_dedup"),
    "st_running_mb" -> baseOracles("st_running"),
    "st_window_lgq_mb" -> baseOracles("st_window_lgq"),
    "st_sliding_window_mb" -> baseOracles("st_sliding_window"),
    "st_range_join_outer_mb" -> baseOracles("st_range_join_outer"),
    "st_range_join_full_mb" -> baseOracles("st_range_join_full"),
    "st_sessionize_mb" -> baseOracles("st_sessionize"),
    "st_drift_mb" -> baseOracles("st_drift"),
    "st_anomaly_mb" -> baseOracles("st_anomaly"),
    "st_fuzzy" -> graft.queries.PipelineQueries.oracles("d_fuzzy_inc"),
    "st_ahash" -> graft.queries.PipelineQueries.oracles("mm_ahash_index"),
    "st_ahash_mb" -> graft.queries.PipelineQueries.oracles("mm_ahash_index"),
    "st_decontam" -> graft.queries.PipelineQueries.oracles("d_decontam_kmv"),
    // terminal leaderboard ≡ the one-shot top-k per key (total
    // tie-break: cents desc, event_id asc — event_id is unique)
    "st_topk" ->
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, event_id, cents, row_number() OVER
        |  (PARTITION BY event_type ORDER BY cents DESC, event_id) AS rn
        |  FROM e)
        |SELECT event_type, event_id, cents FROM r WHERE rn <= 3""".stripMargin,
    // terminal standing assignment ≡ the full-graph closure (the union
    // of all edge micro-batches IS the full edge set)
    "st_cc_inc" -> graft.queries.GraphQueries.oracles("g_cc_inc"),
    // 4 staged phases x 2 warm iterations, unrolled exactly
    "st_pagerank" -> graft.queries.GraphQueries.pagerankPhasedSql(4, 2),
    // 4 staged phases x 2 warm iterations in the weighted algebra
    "st_pagerank_w" ->
      graft.queries.GraphQueries.pagerankWeightedPhasedSql(4, 2),
    // 8-phase cadence twins, unrolled exactly
    "st_pagerank_mb" -> graft.queries.GraphQueries.pagerankPhasedSql(8, 2),
    "st_pagerank_w_mb" ->
      graft.queries.GraphQueries.pagerankWeightedPhasedSql(8, 2),
    // terminal carried count ≡ the full-graph triangle recount
    "st_tri_inc" ->
      s"""WITH edges AS (${graft.io.Tables.EdgesSql}),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi,
         |  greatest(src,dst) AS vj FROM edges WHERE src <> dst)
         |SELECT CAST(count(*) AS BIGINT) AS tri_total FROM eu a
         |  JOIN eu b ON b.vi = a.vi AND b.vj > a.vj
         |  JOIN eu c ON c.vi = a.vj AND c.vj = b.vj""".stripMargin,
    "st_ks" -> graft.queries.PipelineQueries.oracles("dq_ks"),
    "st_skew" -> graft.queries.PipelineQueries.oracles("dq_skew"),
    "st_mwu" -> graft.queries.PipelineQueries.oracles("dq_mwu"),
    "st_tvd" -> graft.queries.PipelineQueries.oracles("dq_tvd"),
    "st_qq" -> graft.queries.PipelineQueries.oracles("dq_qq"),
    "st_outliers" -> graft.queries.PipelineQueries.oracles("dq_outliers_c"),
    "st_outliers_mb" ->
      graft.queries.PipelineQueries.oracles("dq_outliers_c"),
    "st_survival" -> graft.queries.EventQueries.oracles("e_survival"),
    "st_survival_cohort" ->
      graft.queries.EventQueries.oracles("e_survival_cohort"),
    "st_cusum" -> graft.queries.PipelineQueries.oracles("dq_cusum_t"),
    // e_xml's aggregates minus the distinct census (unsupported on
    // streams)
    "st_xml" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(length(props)) AS BIGINT) AS sum_props_len
        |FROM events GROUP BY 1""".stripMargin,
    "st_retention" -> graft.queries.EventQueries.oracles("e_retention"),
    "st_spearman" -> graft.queries.PipelineQueries.oracles("dq_spearman"),
    "st_benford" -> graft.queries.PipelineQueries.oracles("dq_benford"),
    "st_mad" -> graft.queries.PipelineQueries.oracles("dq_mad"),
    "st_contingency" ->
      graft.queries.PipelineQueries.oracles("dq_contingency"),
    // inserts-only recompute: the full rollup over every event
    "st_mv_inc" ->
      """WITH e AS (SELECT
        |  event_type || '|' || CAST(user_id AS VARCHAR) AS key,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT key AS k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total
        |FROM e GROUP BY 1""".stripMargin,
    "st_session_native_mb" -> baseOracles("st_session_native"),
    "st_running_rocks" -> baseOracles("st_running"),
    "st_interval_join" -> EventQueries.oracles("e_interval_join"),
    "st_dedup_rocks" -> baseOracles("st_dedup"),
    "st_running_tws" -> baseOracles("st_running"),
    "st_running_warm" ->
      """WITH e AS (SELECT event_type, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  row_number() OVER (ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |  FROM events),
        |nn AS (SELECT count(*) AS n FROM events),
        |w AS (SELECT event_type, event_id, rn,
        |  CAST(count(*) OVER fr AS BIGINT) AS n_prior,
        |  CAST(coalesce(sum(cents) OVER fr, 0) AS BIGINT) AS sum_prior_cents,
        |  CAST(coalesce(sum(cents * cents) OVER fr, 0) AS BIGINT) AS sumsq_prior_cents
        |  FROM e
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_type, event_id, n_prior, sum_prior_cents,
        |  sumsq_prior_cents
        |FROM w, nn WHERE rn > (2 * nn.n) // 4""".stripMargin,
    "st_profile_tws" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events)
        |SELECT user_id, event_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_us, event_id) AS BIGINT) AS seen_count
        |FROM e""".stripMargin,
    "st_state_reader" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents
        |FROM e GROUP BY 1""".stripMargin,
    "st_lastn_tws" ->
      """WITH e AS (SELECT event_type, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_in_window,
        |  CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS sum_window_cents
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |  ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)""".stripMargin,
    "st_dedup_tws" -> baseOracles("st_dedup"),
    "st_funnel_tws" -> baseOracles("st_funnel"),
    "st_sessionize_tws" -> baseOracles("st_sessionize"),
    "st_asof_dyn" -> asOfDynOracle,
    "st_scd2_sink" -> scd2SinkOracle,
    "st_merge_sink" -> mergeSinkOracle)
}
