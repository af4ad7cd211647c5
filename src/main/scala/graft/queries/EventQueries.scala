package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.io.Tables
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-gate queries over the `events` stream table: tumbling-window
  * aggregation (the batch twin of the Structured Streaming path in
  * [[graft.streaming.EventStreams]]), gap-based sessionization, and JSON
  * property extraction.
  *
  * All time math happens in exact integer MICROSECONDS — never floating
  * seconds, so the DuckDB oracle (epoch_ns // 1000) matches bit-for-bit.
  * The physical arrival type of `events.ts` (BIGINT nanos vs TIMESTAMP
  * vs TIMESTAMP_NTZ — the driver has shipped all three) is normalized in
  * exactly one place, [[graft.io.Tables.eventMicros]]. Window starts are
  * `us - us % 3600e6`, identical to `date_trunc('hour')` for post-1970
  * data.
  */
object EventQueries {

  type Q = (SparkSession, String) => DataFrame

  /** events with ts_us BIGINT epoch-microseconds. */
  private def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.withColumn("ts_us", Tables.eventMicros(e))
  }

  /** Nested-JSON payload per event (object / array / explicit null /
    * mixed-type field: number on even event_ids, string on odd),
    * parsed to a VARIANT — shared by the batch (e_variant,
    * e_variant_pq) and streaming (st_variant) gates. */
  private[queries] val VariantPayloadSql: String =
    """parse_json(concat(
      |  '{"p":', props,
      |  ',"u":{"id":', user_id, ',"t":"', event_type, '"}',
      |  ',"xs":[', event_id % 5, ',', event_id % 7, ']',
      |  ',"maybe":', CASE WHEN event_id % 2 = 0
      |                    THEN CAST(event_id % 100 AS STRING)
      |                    ELSE concat('"s', event_id % 3, '"') END,
      |  ',"nul":null}'))""".stripMargin

  val queries: Map[String, Q] = Map(
    // Tumbling 1-hour window per event_type. Same plan a streaming
    // aggregation compiles to, minus the state store.
    "e_window_agg" -> ((s, dir) => eventsUs(s, dir)
      .groupBy(
        (col("ts_us") - (col("ts_us") % (3600L * 1000000L))).as("win_start_us"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("total_value"))),

    // Gap-based sessionization (30 min): the flatMapGroupsWithState
    // batch analogue, expressed with window functions. The spread keyed
    // on user_id is the windows' and the groupBy's one exchange; unlike
    // the window's own, AQE does not coalesce it to one partition.
    "e_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Ops.spread(eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us")), col("user_id"))
        .withColumn("prev_us", lag("ts_us", 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum("new_sess").over(byUser))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"))
    }),

    // JSON property extraction (props is a JSON string).
    "e_json" -> ((s, dir) => Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(avg(get_json_object(col("props"), "$.k").cast("int")), 6).as("avg_k"),
        count(lit(1)).as("cnt"))),

    // JSON robustness: ~1/13 of payloads deterministically truncated
    // (unclosed brace) — the malformed-upstream-producer case. from_json
    // must null them (never fail the job), and the per-type corrupt
    // census + exact sum over the SURVIVING rows is what's gated.
    "e_json_robust" -> ((s, dir) => {
      val p2 = when(col("event_id") % 13 === 0,
        expr("substring(props, 1, length(props) - 1)")).otherwise(col("props"))
      val k = from_json(p2, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(col("k").cast("long")).as("sum_k"))
    }),

    // As-of join: each event annotated with the user's most recent
    // signup value at-or-before the event time (graft.core.Ops.asofJoin —
    // one shuffle on the key, one sort; no per-row lookups).
    "e_asof" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val left = e.select(col("user_id"), col("event_id"), col("ts_us"))
      val signups = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts_us"), col("value"))
      graft.core.Ops.asofJoin(left, signups, "user_id", "ts_us", "value")
        .select("user_id", "event_id", "ts_us", "asof_value")
    }),

    // Range join: every event falling inside a 30-minute window opened
    // by each purchase of the same user. Bin-bucketized equi-join +
    // residual BETWEEN (Ops.rangeJoin) — never a nested-loop join.
    "e_range_join" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val points = e.select(col("user_id"), col("event_id"), col("ts_us"))
      val intervals = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("interval_id"),
          col("ts_us").as("win_s"), (col("ts_us") + 1800L * 1000000L).as("win_e"))
      graft.core.Ops.rangeJoin(points, intervals, Seq("user_id"),
          "ts_us", "win_s", "win_e", binWidth = 1800L * 1000000L)
        .select("interval_id", "event_id", "ts_us")
    }),

    // KEYLESS interval-overlap join: purchase attention windows (30 min)
    // × click dwell windows (10 min) with NO equi-key — the shape Spark
    // alone can only plan as a nested-loop/cartesian. Bin-replicated
    // equi-join on the time bin + overlap residual + first-shared-bin
    // dedup (Ops.intervalOverlapJoin); PlanAudit proves no cartesian.
    "e_interval_join" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("interval_id"), col("ts_us").as("ps"),
          (col("ts_us") + 1800L * 1000000L).as("pe"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("cs"),
          (col("ts_us") + 600L * 1000000L).as("ce"))
      graft.core.Ops.intervalOverlapJoin(p, c, "ps", "pe", "cs", "ce",
          binWidth = 1800L * 1000000L)
        .select("interval_id", "click_id")
    }),

    // The SAME interval join as the range-sliced SORTED SWEEP
    // (Ops.intervalOverlapJoinSweep): one sort per slice + an
    // active-buffer walk doing O(output) comparisons, vs the binned
    // join's all-pairs-in-bin filter — the hot-window-skew plan.
    // Must hash-match e_interval_join's oracle exactly.
    "e_interval_join_sweep" -> ((s, dir) => {
      val e = eventsUs(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("interval_id"), col("ts_us").as("ps"),
          (col("ts_us") + 1800L * 1000000L).as("pe"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("cs"),
          (col("ts_us") + 600L * 1000000L).as("ce"))
      graft.core.Ops.intervalOverlapJoinSweep(p, c, "ps", "pe", "cs", "ce")
        .select("interval_id", "click_id")
    }),

    // The SAME interval join written NAIVELY (a keyless range predicate
    // Spark alone can only nested-loop) with the RangeJoinRewrite rule
    // opted in: the optimizer itself must produce the bin-replicated
    // equi-join and the rows must hash-match e_interval_join's oracle.
    // The conf is scoped by building on a session copy — every later
    // action on this frame optimizes under the bin width, and the
    // session it was handed never sees the key.
    "e_interval_join_auto" -> ((s, dir) => {
      val s2 = Bridge.cloneSession(s,
        graft.plans.RangeJoinRewrite.ConfKey -> (1800L * 1000000L).toString)
      val e = eventsUs(s2, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("interval_id"), col("ts_us").as("ps"),
          (col("ts_us") + 1800L * 1000000L).as("pe"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us").as("cs"),
          (col("ts_us") + 600L * 1000000L).as("ce"))
      p.join(c, col("ps") <= col("ce") && col("cs") <= col("pe"))
        .select("interval_id", "click_id")
    }),

    // Parquet schema evolution (mergeSchema): a corpus grows a column
    // mid-life — the early batch writes (event_id, user_id), the later
    // batch adds cents; reading both with mergeSchema unions the
    // schemas and nulls the missing column for old files. The storage
    // contract every long-lived 100 TB dataset depends on, gate-proven
    // through an actual two-schema write + merged read-back.
    "e_schema_evolution" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_schevo")
      val e = Tables.events(s, dir)
      val early = e.where(col("event_type").isin("view", "click"))
        .select("event_id", "user_id")
      val later = e.where(!col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      early.write.mode("overwrite").parquet(s"$root/b0")
      later.write.mode("overwrite").parquet(s"$root/b1")
      s.read.option("mergeSchema", "true").parquet(s"$root/b0", s"$root/b1")
    }),

    // XML round trip through Spark 4's BUILT-IN xml source (the
    // spark-xml package merged into core): a typed slice of events is
    // written as <event> rows and read back with an explicit schema
    // (no inference), then aggregated to exact integers — the oracle
    // replays over the ORIGINAL events, so writer escaping (props is
    // JSON text full of quotes/braces) and reader parsing must be
    // value-exact end to end for the hash to gate.
    "e_xml" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_xml")
      val e = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("props"))
      e.write.format("xml").option("rowTag", "event")
        .mode("overwrite").save(s"$root/x")
      s.read.format("xml").option("rowTag", "event")
        .schema(e.schema).load(s"$root/x")
        .groupBy("event_type").agg(
          count(lit(1)).as("cnt"),
          sum("cents").as("sum_cents"),
          sum("user_id").as("sum_uid"),
          sum(length(col("props"))).as("sum_props_len"),
          countDistinct(col("props")).as("n_props"))
    }),

    // Semi-structured VARIANT path (Spark 4): each event carries a
    // nested JSON payload (object/array/null/mixed-type field) parsed
    // once into a VARIANT, then consumed via typed-path extraction.
    // The mixed-type field `maybe` (number on even event_ids, string
    // on odd) is what VARIANT exists for — a fixed from_json schema
    // would force one type and corrupt the other half. The oracle
    // recomputes every aggregate from the RAW columns, so the whole
    // construct→parse→extract chain must be value-exact to gate.
    "e_variant" -> ((s, dir) => Tables.events(s, dir)
      .withColumn("v", expr(EventQueries.VariantPayloadSql))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(expr("variant_get(v, '$.p.k', 'bigint')")).as("sum_k"),
        sum(expr("variant_get(v, '$.u.id', 'bigint')")).as("sum_uid"),
        sum(expr("variant_get(v, '$.xs[1]', 'bigint')")).as("sum_xs1"),
        sum(when(expr("try_variant_get(v, '$.maybe', 'bigint')").isNotNull,
          1L).otherwise(0L)).as("n_maybe_int"),
        sum(when(expr("variant_get(v, '$.zz', 'bigint')").isNull, 1L)
          .otherwise(0L)).as("n_missing_null"),
        sum(when(expr("is_variant_null(variant_get(v, '$.nul'))"), 1L)
          .otherwise(0L)).as("n_vnull"))),

    // VARIANT through parquet: the binary-encoded column is persisted
    // and read back (the lakehouse storage path, not just an in-plan
    // value), then re-extracted; schema_of_variant over the read-back
    // rows proves the mixed `maybe` types survived the round-trip as
    // two distinct runtime shapes rather than being widened away.
    "e_variant_pq" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_variant")
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), expr(
          """parse_json(concat(
            |  '{"p":', props,
            |  ',"u":{"id":', user_id, ',"t":"', event_type, '"}',
            |  ',"maybe":', CASE WHEN event_id % 2 = 0
            |                    THEN CAST(event_id % 100 AS STRING)
            |                    ELSE concat('"s', event_id % 3, '"') END,
            |  '}'))""".stripMargin).as("v"))
        .write.mode("overwrite").parquet(s"$root/v")
      s.read.parquet(s"$root/v")
        // bind schema_of_variant ONCE below the aggregate (r13): the
        // two schema aggregates otherwise each evaluate the full
        // variant-schema derivation per row
        .select(col("event_type"), col("v"),
          expr("schema_of_variant(v)").as("sch"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(expr("variant_get(v, '$.u.id', 'bigint')")).as("sum_uid"),
          sum(expr("variant_get(v, '$.p.k', 'bigint')")).as("sum_k"),
          countDistinct(col("sch")).as("n_schemas"),
          min(col("sch")).as("schema_min"))
    }),

    // Deterministic stratified sampling: hash-keyed keep decisions are
    // reproducible across retries/repartitions and join-stable; the
    // rate CASE folds into the scan filter (no shuffle, no UDF).
    "e_sample_stratified" -> ((s, dir) =>
      graft.pipeline.Sampling.stratified(
        Tables.events(s, dir).select("event_id", "event_type", "user_id"),
        key = col("event_id"), stratum = col("event_type"),
        rates = Map("view" -> 0.1, "click" -> 0.5), default = 0.9,
        seed = 41L)),

    // Z-score anomaly flags: events more than 3 sample standard
    // deviations from their type's mean — per-type stats broadcast back
    // onto the scan; the filter and output share the ROUNDED z so the
    // cut cannot ride a last-ulp difference between engines.
    // A/B experiment readout — Welch's unequal-variance t-test over a
    // deterministic 50/50 user split (hash60 bucketing, partition-
    // independent): the metric is purchase cents (exact integers
    // through the shuffle — one tiny (n, sum, sum-of-squares) row per
    // arm at ANY event volume), and mean/variance/t/df are the same
    // IEEE expression tree over those exact sums in both engines, so
    // even the Welch-Satterthwaite df replays bit-for-bit.
    "e_abtest" -> ((s, dir) => {
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val m = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(
          (graft.functions.Hashing.hash60(col("user_id").cast("string")) % 2)
            .cast("int").as("bucket"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val g = m.groupBy("bucket").agg(count(lit(1)).as("n"),
        sum("cents").as("s"), sum(col("cents") * col("cents")).as("ss"))
      val a = g.where(col("bucket") === 0)
        .select(col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
      val b = g.where(col("bucket") === 1)
        .select(col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
      a.crossJoin(broadcast(b))
        .withColumn("mean_a", col("s_a").cast("double") / col("n_a"))
        .withColumn("mean_b", col("s_b").cast("double") / col("n_b"))
        .withColumn("var_a",
          (col("ss_a").cast("double") -
            col("s_a").cast("double") * col("s_a").cast("double") / col("n_a"))
            / (col("n_a") - 1))
        .withColumn("var_b",
          (col("ss_b").cast("double") -
            col("s_b").cast("double") * col("s_b").cast("double") / col("n_b"))
            / (col("n_b") - 1))
        .withColumn("sea", col("var_a") / col("n_a"))
        .withColumn("seb", col("var_b") / col("n_b"))
        .withColumn("se2", col("sea") + col("seb"))
        .select(col("n_a"), col("n_b"), col("s_a"), col("s_b"),
          r6(col("mean_a")).as("mean_a"), r6(col("mean_b")).as("mean_b"),
          r6(col("var_a")).as("var_a"), r6(col("var_b")).as("var_b"),
          r6((col("mean_a") - col("mean_b")) / sqrt(col("se2"))).as("t_stat"),
          r6(col("se2") * col("se2") /
            (col("sea") * col("sea") / (col("n_a") - 1) +
             col("seb") * col("seb") / (col("n_b") - 1))).as("df_welch"))
    }),

    // CUPED variance reduction (Deng et al., WSDM 2013) on top of the
    // e_abtest split: per user, pre-period purchase cents (first half of
    // the time range) are the covariate x, experiment-period cents the
    // metric y; theta = cov(x,y)/var(x) is fit on the POOLED users and
    // each arm's adjusted mean/variance and the Welch t on adjusted
    // means are pure algebra over exact integer sums — the whole
    // readout ships one (n, Σx, Σy, Σx², Σy², Σxy) row per arm no
    // matter the event volume, and replays bit-for-bit in DuckDB.
    "e_cuped" -> ((s, dir) => {
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val ev = eventsUs(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val cut = ev.agg(expr("(min(ts_us) + max(ts_us)) DIV 2").as("cut"))
      val perUser = ev.crossJoin(broadcast(cut))
        .groupBy("user_id")
        .agg(sum(when(col("ts_us") < col("cut"), col("cents"))
            .otherwise(lit(0L))).as("x"),
          sum(when(col("ts_us") >= col("cut"), col("cents"))
            .otherwise(lit(0L))).as("y"))
        .select(
          (graft.functions.Hashing.hash60(col("user_id").cast("string")) % 2)
            .cast("int").as("bucket"),
          col("x"), col("y"))
      val glob = perUser.agg(count(lit(1)).as("nn"), sum("x").as("gx"),
        sum("y").as("gy"), sum(col("x") * col("x")).as("gxx"),
        sum(col("x") * col("y")).as("gxy"))
        .withColumn("theta",
          (col("gxy").cast("double") -
            col("gx").cast("double") * col("gy").cast("double") / col("nn")) /
          (col("gxx").cast("double") -
            col("gx").cast("double") * col("gx").cast("double") / col("nn")))
        .withColumn("mu_x", col("gx").cast("double") / col("nn"))
        .select("theta", "mu_x")
      val arms = perUser.groupBy("bucket").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      def arm(b: Int, suf: String) = arms.where(col("bucket") === b)
        .select(col("n").as(s"n_$suf"), col("sx").as(s"sx_$suf"),
          col("sy").as(s"sy_$suf"), col("sxx").as(s"sxx_$suf"),
          col("syy").as(s"syy_$suf"), col("sxy").as(s"sxy_$suf"))
      def derive(d: DataFrame, suf: String): DataFrame = {
        val n = col(s"n_$suf")
        val sx = col(s"sx_$suf").cast("double")
        val sy = col(s"sy_$suf").cast("double")
        d.withColumn(s"mean_y_$suf", sy / n)
          .withColumn(s"mean_x_$suf", sx / n)
          .withColumn(s"var_y_$suf",
            (col(s"syy_$suf").cast("double") - sy * sy / n) / (n - 1))
          .withColumn(s"var_x_$suf",
            (col(s"sxx_$suf").cast("double") - sx * sx / n) / (n - 1))
          .withColumn(s"cov_$suf",
            (col(s"sxy_$suf").cast("double") - sx * sy / n) / (n - 1))
          .withColumn(s"mean_adj_$suf", col(s"mean_y_$suf") -
            col("theta") * (col(s"mean_x_$suf") - col("mu_x")))
          .withColumn(s"var_adj_$suf", col(s"var_y_$suf") -
            lit(2.0) * col("theta") * col(s"cov_$suf") +
            col("theta") * col("theta") * col(s"var_x_$suf"))
      }
      val j = derive(derive(
        arm(0, "a").crossJoin(broadcast(arm(1, "b")))
          .crossJoin(broadcast(glob)), "a"), "b")
      j.select(col("n_a"), col("n_b"), r6(col("theta")).as("theta"),
        r6(col("mean_y_a")).as("mean_y_a"), r6(col("mean_y_b")).as("mean_y_b"),
        r6(col("mean_adj_a")).as("mean_adj_a"),
        r6(col("mean_adj_b")).as("mean_adj_b"),
        r6(col("var_y_a")).as("var_y_a"), r6(col("var_y_b")).as("var_y_b"),
        r6(col("var_adj_a")).as("var_adj_a"),
        r6(col("var_adj_b")).as("var_adj_b"),
        r6((col("mean_adj_a") - col("mean_adj_b")) /
          sqrt(col("var_adj_a") / col("n_a") + col("var_adj_b") / col("n_b")))
          .as("t_adj"))
    }),

    "e_anomaly" -> ((s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "event_type", "value")
      val st = e.groupBy("event_type")
        .agg(avg("value").as("m"), stddev("value").as("sd"))
      e.join(broadcast(st), Seq("event_type"))
        .withColumn("z", round((col("value") - col("m")) / col("sd"), 6))
        .where(abs(col("z")) > 3.0)
        .select("event_id", "event_type", "value", "z")
    }),

    // Per-user rolling mean over the last 3 events (ROWS frame) — the
    // window-frame shape tumbling aggregation can't express; total
    // (ts_us, event_id) ordering makes the frame contents exact.
    "e_moving_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id")).rowsBetween(-2, 0)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("mov_avg", round(avg("value").over(w), 6))
        .drop("value")
    }),

    // User-journey transition matrix (Markov-chain estimation): per-user
    // lag pairs (prev event_type → next), counted and normalized to the
    // row-stochastic transition probability — the "where do users go
    // after X" product-analytics primitive. Two windows, both
    // partitioned (user for the lag, prev_type for the normalizer);
    // never a global sort.
    "e_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val pairs = eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      // raw division, no round(,6): both engines divide the SAME two
      // exact integers, so the double is bit-identical — while a decimal
      // re-round diverges at half-ulp boundaries (the e_ewma lesson).
      // CONTRACT: the normalizer window runs over the FILTERED frame
      // (prev_type NOT NULL) intentionally — the oracle's CTE filters
      // before its SUM() OVER too. Do not hoist it above the filter
      // (the inverse of the e_ewma filter-placement bug).
      pairs.withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("prev_type")))
    }),

    // Exponential smoothing (EWMA) with α = 1/2 over the trailing 8
    // events per user: weights 2^-(i+1) are exact binary doubles and the
    // sum is a FIXED-ORDER expression tree (8 lags added left to right),
    // so Spark and DuckDB compute bit-identical doubles — the trick that
    // makes a smoothing gate hash-checkable. Rows need a full window
    // (rn > 8) so no renormalization branch exists. The RAW division
    // result is gated (e_gapfill's discipline): a trailing round(x, 6)
    // broke the bit-identity claim at half-ulp boundaries — Spark rounds
    // the exact binary expansion via BigDecimal HALF_UP, DuckDB rounds
    // the scaled product std::round(x*1e6)/1e6, and the driver's r8 data
    // hit the boundary (CORRECTNESS_r08 e_ewma hash fail). The wsum and
    // the IEEE division are deterministic; decimal re-rounding was the
    // only divergent step, so it is gone.
    "e_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val norm = 1.0 - math.pow(0.5, 8) // Σ 2^-(i+1), i=0..7
      val lags = (0 until 8).map { i =>
        (if (i == 0) col("value") else lag("value", i).over(w)) *
          lit(math.pow(0.5, i + 1))
      }
      // The ewma window MUST be computed BEFORE the rn > 8 filter: the
      // oracle's CTE computes wsum over the full per-user partition and
      // only then filters, while a window evaluated after .where sees
      // partitions that START at original rn=9, so lag(1..7) reach into
      // the removed prefix and NULL the first 7 kept rows of every user
      // (the r8/r9 hash failure — filter placement, not arithmetic).
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("ewma", lags.reduce(_ + _) / lit(norm))
        .where(col("rn") > 8)
        .drop("value", "rn")
    }),

    // ADJUSTED (partial-window) EWMA — the renormalized head rows the
    // plain e_ewma drops: missing lags contribute 0 to the numerator
    // (coalesce, exact) and the denominator renormalizes to the
    // weights actually present, Σ_{i<min(rn,8)} 2^-(i+1) =
    // 1 − 2^-min(rn,8) — an 8-branch CASE of exact dyadic LITERALS,
    // not a runtime pow() (libm pow is not correctly-rounded by spec).
    // Every number is an exact dyadic scaling/sum to one IEEE
    // division, so ALL rows gate raw — no filter, no tolerance. This
    // is pandas' adjust=True semantics restricted to the trailing-8
    // frame.
    "e_ewma_adj" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val terms = (0 until 8).map { i =>
        val v = if (i == 0) col("value") else lag("value", i).over(w)
        coalesce(v, lit(0.0)) * lit(math.pow(0.5, i + 1))
      }
      var den: org.apache.spark.sql.Column = lit(1.0 - math.pow(0.5, 8))
      for (k <- 1 to 7)
        den = when(col("rn") === k, lit(1.0 - math.pow(0.5, k))).otherwise(den)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("ewma_adj", terms.reduce(_ + _) / den)
        .drop("value", "rn")
    }),

    // Gap fill: LOCF forward fill (last observation carried forward)
    // and NOCB backward fill in ONE per-key window pass each — the
    // sparse-time-series repair primitive (sensor feeds, sparse feature
    // columns). Holes are synthesized deterministically (value observed
    // only when event_id % 3 == 0) so both engines see identical gaps;
    // the fills are pure value CARRIES (no arithmetic), so the gated
    // doubles are bit-identical to the parquet source. Leading rows
    // before the first observation stay NULL under ffill (and trailing
    // ones under bfill) — the honest semantics, not an invented zero.
    "e_gapfill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val fwd = ord.rowsBetween(Window.unboundedPreceding, 0)
      val bwd = ord.rowsBetween(0, Window.unboundedFollowing)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          when(col("event_id") % 3 === 0, col("value")).as("v"))
        .withColumn("ffill", last("v", ignoreNulls = true).over(fwd))
        .withColumn("bfill", first("v", ignoreNulls = true).over(bwd))
        .drop("v")
    }),

    // RANGE-frame window (the VALUE-range frame semantics the ROWS
    // frames above can't express): per user, exact cents flowing in
    // the 30 minutes ENDING at each event. Unlike a ROWS frame, ties
    // in the order column are included wholly on both sides — the
    // result is deterministic without an id tie-break in the ORDER BY.
    "e_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-1800L * 1000000L, 0L)
      eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("win_cents", sum("cents").over(w))
        .withColumn("win_n", count(lit(1)).over(w))
        .drop("cents")
    }),

    // Ordered funnel (view → click → purchase): per user, the earliest
    // time reaching each stage STRICTLY AFTER the previous stage's
    // time — one conditional-min aggregation per stage, each keyed on
    // user_id (tiny per-user state; no per-user event lists collect).
    // Multi-touch attribution: every purchase credits the click/view
    // touches of the same user in the preceding 7 days — last-touch /
    // first-touch flags (row_number with touch_id tie-break) and the
    // linear credit 1/k as ONE exact division (k is an exact count, so
    // the double hash-gates). Equi-join on user_id + range residual;
    // the windows partition by purchase over the already-matched
    // frame, never one global partition.
    "e_attrib" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = eventsUs(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("pts"))
      val t = e.where(col("event_type").isin("click", "view"))
        .select(col("event_id").as("touch_id"),
          col("event_type").as("touch_type"), col("user_id"),
          col("ts_us").as("tts"))
      val horizon = 7L * 24 * 3600 * 1000000L
      val j = p.join(t, Seq("user_id"))
        .where(col("tts") <= col("pts") &&
          col("pts") - col("tts") <= horizon)
      // CONTRACT: these windows run over the FILTERED+JOINED frame
      // intentionally (only in-horizon touches are credited); the
      // oracle computes its windows post-join too. Do not move them
      // above the .where (the inverse of the e_ewma placement bug).
      val w = Window.partitionBy("purchase_id")
      j.withColumn("n_touches", count(lit(1)).over(w))
        .withColumn("rn_first", row_number().over(
          w.orderBy(col("tts"), col("touch_id"))))
        .withColumn("rn_last", row_number().over(
          w.orderBy(col("tts").desc, col("touch_id").desc)))
        .select(col("purchase_id"), col("touch_id"), col("touch_type"),
          col("n_touches"),
          (lit(1.0) / col("n_touches").cast("double")).as("credit"),
          (col("rn_first") === 1).as("is_first"),
          (col("rn_last") === 1).as("is_last"))
    }),

    "e_funnel" -> ((s, dir) => {
      val e = eventsUs(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
      val t1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val t2 = e.where(col("event_type") === "click")
        .join(t1, Seq("user_id")).where(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val t3 = e.where(col("event_type") === "purchase")
        .join(t2, Seq("user_id")).where(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      t1.agg(lit(0L).as("stage_idx"), lit("view").as("stage"),
          count(lit(1)).as("n_users"))
        .unionAll(t2.agg(lit(1L).as("stage_idx"), lit("click").as("stage"),
          count(lit(1)).as("n_users")))
        .unionAll(t3.agg(lit(2L).as("stage_idx"), lit("purchase").as("stage"),
          count(lit(1)).as("n_users")))
    }),

    // Cohort retention: users bucketed by first-seen day, counted per
    // (cohort_day, day offset) — exact integer day arithmetic on
    // epoch-microseconds, so both engines bucket identically.
    "e_retention" -> ((s, dir) => {
      val day = 86400L * 1000000L
      val e = eventsUs(s, dir)
        .select(col("user_id"), (col("ts_us") - (col("ts_us") % day)).as("d"))
        .distinct()
      val first = e.groupBy("user_id").agg(min("d").as("cohort_d"))
      e.join(first, Seq("user_id"))
        .groupBy((col("cohort_d") / day).cast("long").as("cohort_day"),
          ((col("d") - col("cohort_d")) / day).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Kaplan-Meier survival curve over user lifetimes — the
    // time-to-event analysis (churn / reliability) with RIGHT
    // CENSORING done correctly: a user's lifetime = last−first event
    // time; users who ever purchased are "events", the rest censor the
    // risk set without contributing deaths. At each distinct event
    // time t: n_risk = users with lifetime ≥ t (exact longs via total
    // minus a cumulative count), factor = 1 − d/n (one correctly-
    // rounded IEEE division), S(t) = running product of factors in
    // ascending-t order. The product is NOT order-deterministic across
    // engines: at 4 factors both multiply in frame order, bit-identical
    // on factors where any reassociation moves the last ulps, but
    // DuckDB's windowed product reassociates in its segment tree past
    // small frames (r9: 96 of ~200 sf0.01 curve rows differ, max
    // 3.3e-16), so surv carries the iterative-float round-9
    // convention (g_pagerank/g_sssp_w): a tolerance on a full-range
    // double, not the e_ewma few-digit-decimal hazard.
    "e_survival" -> ((s, dir) => {
      val u = eventsUs(s, dir).groupBy("user_id").agg(
        (max(col("ts_us")) - min(col("ts_us"))).as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("evt"))
      graft.pipeline.DataQuality.kaplanMeier(u, col("dur"), col("evt"))
        .withColumnRenamed("t", "t_us")
    }),

    // Per-cohort Kaplan-Meier — the PARTITIONED-window scale shape
    // (a million independent curves in one pass): same ladder as
    // e_survival, every window keyed by the user's cohort.
    "e_survival_cohort" -> ((s, dir) => {
      val u = eventsUs(s, dir).groupBy("user_id").agg(
        (max(col("ts_us")) - min(col("ts_us"))).as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("evt"))
        .withColumn("cohort",
          concat(lit("c"), (col("user_id") % 3).cast("string")))
      graft.pipeline.DataQuality.kaplanMeierBy(
          u, col("cohort"), col("dur"), col("evt"))
        .withColumnRenamed("t", "t_us")
    }),

    // Approximate distinct users per event type via the custom HLL
    // aggregate (graft.functions.HllSketch) next to the exact count —
    // at corpus scale the sketch shuffles 256 bytes per group instead of
    // every distinct key; the exact column is the small-SF audit.
    "e_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("event_type")
        .agg(graft.functions.HllSketch.hll60(
            graft.functions.Hashing.hash60(col("user_id").cast("string")))
            .as("approx_users"),
          countDistinct("user_id").as("exact_users"))),

    // Built-in Datasketches HLL (hll_sketch_agg / hll_union_agg /
    // hll_sketch_estimate): the PRE-AGGREGATED SKETCH TABLE pattern — one
    // binary sketch per (event_type, day) materialized once, and any
    // later rollup UNIONS sketches instead of re-scanning raw events.
    // At 100 TB this is the difference between a daily O(events) distinct
    // recount and an O(days × 4 KB) register merge. The sketch estimate
    // itself is not SQL-replicable in DuckDB, so the gate pins what IS
    // deterministic about it: register max-merge is order-independent and
    // associative, so the day→type rollup and the day→week→type rollup
    // must estimate IDENTICALLY (assoc_ok), and the lgK=12 estimate must
    // land inside a 5 % envelope of the exact count (err_ok; RSE at
    // lgK=12 is 1.6 %, so 5 % is a 3σ bound evaluated once per fixed
    // dataset — deterministic, not flaky). n_days and the exact count are
    // fully oracle-checked.
    "e_hll_sketch" -> ((s, dir) => {
      val day = 86400000000L
      val e = eventsUs(s, dir).select(col("event_type"), col("user_id"),
        expr(s"ts_us div $day").as("day_idx"))
      val daily = e.groupBy("event_type", "day_idx")
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val direct = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), false)).as("est_a"),
          count(lit(1)).as("n_days"))
      val viaWeek = daily
        .groupBy(col("event_type"), expr("day_idx div 7").as("wk"))
        .agg(hll_union_agg(col("sk"), false).as("skw"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("skw"), false)).as("est_b"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      direct.join(viaWeek, Seq("event_type")).join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (col("est_a") === col("est_b")).cast("int").as("assoc_ok"),
          (abs(col("est_a") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).cast("int").as("err_ok"))
    })
  )

  val oracles: Map[String, String] = Map(
    "e_window_agg" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events)
        |SELECT ts_us - (ts_us % CAST(3600000000 AS BIGINT)) AS win_start_us,
        | event_type, count(*) AS cnt, round(sum(value), 4) AS total_value
        |FROM e GROUP BY 1, 2""".stripMargin,

    "e_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events),
        |flags AS (SELECT user_id, event_id, ts_us,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |       OR ts_us - lag(ts_us) OVER w > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (SELECT user_id, ts_us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM flags)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM sess GROUP BY user_id, session_idx""".stripMargin,

    "e_json" ->
      """SELECT event_type,
        | round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
        | count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "e_json_robust" ->
      """WITH p AS (SELECT event_type, event_id,
        |  CASE WHEN event_id % 13 = 0
        |    THEN substr(props, 1, length(props) - 1) ELSE props END AS p2
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN NOT json_valid(p2) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(CASE WHEN json_valid(p2)
        |    THEN CAST(json_extract_string(p2, '$.k') AS INTEGER) END) AS BIGINT)
        |    AS sum_k
        |FROM p GROUP BY 1""".stripMargin,

    "e_asof" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |u AS (
        | SELECT user_id, event_id, ts_us,
        |   CAST(NULL AS DOUBLE) AS v, 1 AS side FROM e
        | UNION ALL
        | SELECT user_id, CAST(NULL AS BIGINT), ts_us, value AS v, 0 AS side
        | FROM e WHERE event_type = 'signup'),
        |w AS (SELECT *, last_value(v IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY ts_us, side, v
        |   ROWS UNBOUNDED PRECEDING) AS asof_value FROM u)
        |SELECT user_id, event_id, ts_us, asof_value
        |FROM w WHERE side = 1""".stripMargin,

    "e_range_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |iv AS (SELECT user_id, event_id AS interval_id, ts_us AS win_s,
        |         ts_us + CAST(1800000000 AS BIGINT) AS win_e
        |       FROM e WHERE event_type = 'purchase')
        |SELECT iv.interval_id, p.event_id, p.ts_us
        |FROM iv JOIN e p ON p.user_id = iv.user_id
        | AND p.ts_us >= iv.win_s AND p.ts_us <= iv.win_e""".stripMargin,

    "e_schema_evolution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, CAST(NULL AS BIGINT) AS cents FROM e
        |WHERE event_type IN ('view', 'click')
        |UNION ALL
        |SELECT event_id, user_id, cents FROM e
        |WHERE event_type NOT IN ('view', 'click')""".stripMargin,

    // every aggregate re-derived from the ORIGINAL events — the XML
    // write/read detour must be value-exact to match (props is ASCII
    // JSON, so length() agrees across engines)
    "e_xml" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(length(props)) AS BIGINT) AS sum_props_len,
        |  count(DISTINCT props) AS n_props
        |FROM events GROUP BY 1""".stripMargin,

    // every aggregate re-derived from the raw columns: k from the
    // props JSON, uid/xs1 from arithmetic, maybe-int from the parity
    // that chose the number branch, missing/null censuses = count(*)
    "e_variant" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(event_id % 7) AS BIGINT) AS sum_xs1,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_maybe_int,
        |  count(*) AS n_missing_null,
        |  count(*) AS n_vnull
        |FROM events GROUP BY 1""".stripMargin,

    // two runtime shapes per type (maybe: BIGINT on evens, STRING on
    // odds — both parities occur in every type at gate scale); the
    // lexicographic min is the BIGINT shape ('B' < 'S')
    "e_variant_pq" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(2 AS BIGINT) AS n_schemas,
        |  'OBJECT<maybe: BIGINT, p: OBJECT<k: BIGINT>, u: OBJECT<id: BIGINT, t: STRING>>'
        |    AS schema_min
        |FROM events GROUP BY 1""".stripMargin,

    "e_interval_join" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |p AS (SELECT event_id AS interval_id, ts_us AS ps,
        |    ts_us + CAST(1800000000 AS BIGINT) AS pe
        |  FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, ts_us AS cs,
        |    ts_us + CAST(600000000 AS BIGINT) AS ce
        |  FROM e WHERE event_type = 'click')
        |SELECT p.interval_id, c.click_id
        |FROM p JOIN c ON p.ps <= c.ce AND c.cs <= p.pe""".stripMargin,

    // the sweep formulation must match the same range-join oracle
    "e_interval_join_sweep" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |p AS (SELECT event_id AS interval_id, ts_us AS ps,
        |    ts_us + CAST(1800000000 AS BIGINT) AS pe
        |  FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, ts_us AS cs,
        |    ts_us + CAST(600000000 AS BIGINT) AS ce
        |  FROM e WHERE event_type = 'click')
        |SELECT p.interval_id, c.click_id
        |FROM p JOIN c ON p.ps <= c.ce AND c.cs <= p.pe""".stripMargin,

    // the auto-rewritten naive join must match the same range-join oracle
    "e_interval_join_auto" ->
      """WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |p AS (SELECT event_id AS interval_id, ts_us AS ps,
        |    ts_us + CAST(1800000000 AS BIGINT) AS pe
        |  FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, ts_us AS cs,
        |    ts_us + CAST(600000000 AS BIGINT) AS ce
        |  FROM e WHERE event_type = 'click')
        |SELECT p.interval_id, c.click_id
        |FROM p JOIN c ON p.ps <= c.ce AND c.cs <= p.pe""".stripMargin,

    "e_sample_stratified" ->
      s"""SELECT event_id, event_type, user_id FROM events
         |WHERE ${graft.functions.Hashing.rand01Sql(41L, "event_id")} <
         |  CASE WHEN event_type = 'view' THEN 0.1
         |       WHEN event_type = 'click' THEN 0.5
         |       ELSE 0.9 END""".stripMargin,

    "e_abtest" -> {
      val bucket =
        s"${graft.functions.Hashing.hash60Sql("CAST(user_id AS VARCHAR)")} % 2"
      def r6(x: String) = s"floor(($x) * 1000000.0e0 + 0.5e0) / 1000000.0e0"
      s"""WITH m AS (SELECT $bucket AS bucket,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |g AS (SELECT bucket, count(*) AS n,
         |    CAST(sum(cents) AS BIGINT) AS s,
         |    CAST(sum(cents * cents) AS BIGINT) AS ss
         |  FROM m GROUP BY bucket),
         |ab AS (SELECT
         |  (SELECT n FROM g WHERE bucket = 0) AS n_a,
         |  (SELECT s FROM g WHERE bucket = 0) AS s_a,
         |  (SELECT ss FROM g WHERE bucket = 0) AS ss_a,
         |  (SELECT n FROM g WHERE bucket = 1) AS n_b,
         |  (SELECT s FROM g WHERE bucket = 1) AS s_b,
         |  (SELECT ss FROM g WHERE bucket = 1) AS ss_b),
         |d AS (SELECT *,
         |  CAST(s_a AS DOUBLE) / n_a AS mean_a,
         |  CAST(s_b AS DOUBLE) / n_b AS mean_b,
         |  (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
         |    / (n_a - 1) AS var_a,
         |  (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
         |    / (n_b - 1) AS var_b
         |  FROM ab),
         |e2 AS (SELECT *, var_a / n_a AS sea, var_b / n_b AS seb,
         |  var_a / n_a + var_b / n_b AS se2 FROM d)
         |SELECT n_a, n_b, s_a, s_b,
         |  ${r6("mean_a")} AS mean_a, ${r6("mean_b")} AS mean_b,
         |  ${r6("var_a")} AS var_a, ${r6("var_b")} AS var_b,
         |  ${r6("(mean_a - mean_b) / sqrt(se2)")} AS t_stat,
         |  ${r6("se2 * se2 / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1))")}
         |    AS df_welch
         |FROM e2""".stripMargin
    },

    "e_cuped" -> {
      val bucket =
        s"${graft.functions.Hashing.hash60Sql("CAST(user_id AS VARCHAR)")} % 2"
      def r6(x: String) = s"floor(($x) * 1000000.0e0 + 0.5e0) / 1000000.0e0"
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS cut FROM ev),
         |pu AS (SELECT user_id,
         |    CAST(sum(CASE WHEN ts_us < cut THEN cents ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN ts_us >= cut THEN cents ELSE 0 END) AS BIGINT) AS y
         |  FROM ev, c GROUP BY user_id),
         |pb AS (SELECT $bucket AS bucket, x, y FROM pu),
         |gl AS (SELECT count(*) AS nn, CAST(sum(x) AS BIGINT) AS gx,
         |    CAST(sum(y) AS BIGINT) AS gy, CAST(sum(x * x) AS BIGINT) AS gxx,
         |    CAST(sum(x * y) AS BIGINT) AS gxy FROM pb),
         |th AS (SELECT
         |    (CAST(gxy AS DOUBLE) - CAST(gx AS DOUBLE) * CAST(gy AS DOUBLE) / nn)
         |  / (CAST(gxx AS DOUBLE) - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE) / nn)
         |    AS theta,
         |  CAST(gx AS DOUBLE) / nn AS mu_x FROM gl),
         |g AS (SELECT bucket, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM pb GROUP BY bucket),
         |ab AS (SELECT
         |  (SELECT n FROM g WHERE bucket = 0) AS n_a,
         |  (SELECT sx FROM g WHERE bucket = 0) AS sx_a,
         |  (SELECT sy FROM g WHERE bucket = 0) AS sy_a,
         |  (SELECT sxx FROM g WHERE bucket = 0) AS sxx_a,
         |  (SELECT syy FROM g WHERE bucket = 0) AS syy_a,
         |  (SELECT sxy FROM g WHERE bucket = 0) AS sxy_a,
         |  (SELECT n FROM g WHERE bucket = 1) AS n_b,
         |  (SELECT sx FROM g WHERE bucket = 1) AS sx_b,
         |  (SELECT sy FROM g WHERE bucket = 1) AS sy_b,
         |  (SELECT sxx FROM g WHERE bucket = 1) AS sxx_b,
         |  (SELECT syy FROM g WHERE bucket = 1) AS syy_b,
         |  (SELECT sxy FROM g WHERE bucket = 1) AS sxy_b),
         |d AS (SELECT *,
         |  CAST(sy_a AS DOUBLE) / n_a AS mean_y_a,
         |  CAST(sx_a AS DOUBLE) / n_a AS mean_x_a,
         |  (CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / n_a) / (n_a - 1) AS var_y_a,
         |  (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1) AS var_x_a,
         |  (CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / n_a) / (n_a - 1) AS cov_a,
         |  CAST(sy_b AS DOUBLE) / n_b AS mean_y_b,
         |  CAST(sx_b AS DOUBLE) / n_b AS mean_x_b,
         |  (CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / n_b) / (n_b - 1) AS var_y_b,
         |  (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1) AS var_x_b,
         |  (CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / n_b) / (n_b - 1) AS cov_b
         |  FROM ab, th),
         |f AS (SELECT *,
         |  mean_y_a - theta * (mean_x_a - mu_x) AS mean_adj_a,
         |  var_y_a - 2.0e0 * theta * cov_a + theta * theta * var_x_a AS var_adj_a,
         |  mean_y_b - theta * (mean_x_b - mu_x) AS mean_adj_b,
         |  var_y_b - 2.0e0 * theta * cov_b + theta * theta * var_x_b AS var_adj_b
         |  FROM d)
         |SELECT n_a, n_b, ${r6("theta")} AS theta,
         |  ${r6("mean_y_a")} AS mean_y_a, ${r6("mean_y_b")} AS mean_y_b,
         |  ${r6("mean_adj_a")} AS mean_adj_a, ${r6("mean_adj_b")} AS mean_adj_b,
         |  ${r6("var_y_a")} AS var_y_a, ${r6("var_y_b")} AS var_y_b,
         |  ${r6("var_adj_a")} AS var_adj_a, ${r6("var_adj_b")} AS var_adj_b,
         |  ${r6("(mean_adj_a - mean_adj_b) / sqrt(var_adj_a / n_a + var_adj_b / n_b)")} AS t_adj
         |FROM f""".stripMargin
    },

    "e_anomaly" ->
      """WITH st AS (SELECT event_type, avg(value) AS m,
        |  stddev(value) AS sd FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - st.m) / st.sd, 6) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs(round((e.value - st.m) / st.sd, 6)) > 3""".stripMargin,

    "e_range_frame" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, ts_us,
        |  CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
        |  count(*) OVER w AS win_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "e_gapfill" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |  CASE WHEN event_id % 3 = 0 THEN value END AS v FROM events)
        |SELECT user_id, event_id, ts_us,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS ffill,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
        |FROM e""".stripMargin,

    "e_moving_avg" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events)
        |SELECT user_id, event_id, ts_us,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        |FROM e""".stripMargin,

    "e_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events),
        |p AS (SELECT user_id, event_type AS next_type,
        |  lag(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS prev_type FROM e),
        |c AS (SELECT prev_type, next_type, count(*) AS n FROM p
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c""".stripMargin,

    "e_ewma" -> {
      val lags = (0 until 8).map { i =>
        val v = if (i == 0) "value"
          else s"lag(value, $i) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
        s"($v) * ${math.pow(0.5, i + 1)}"
      }.mkString(" + ")
      s"""WITH e AS (SELECT user_id, event_id, value,
         |  epoch_ns(ts) // 1000 AS ts_us FROM events),
         |r AS (SELECT user_id, event_id, ts_us, value,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id) AS rn,
         |  $lags AS wsum
         |  FROM e)
         |SELECT user_id, event_id, ts_us,
         |  wsum / ${1.0 - math.pow(0.5, 8)} AS ewma
         |FROM r WHERE rn > 8""".stripMargin
    },

    // identical fixed-order numerator with coalesce-to-0 lags; the
    // denominator CASE carries the same exact dyadic literals (decimal
    // -> double conversion is exact for finite dyadics), CAST to
    // DOUBLE so the division never enters DECIMAL land
    "e_ewma_adj" -> {
      val lagTerms = (0 until 8).map { i =>
        val v = if (i == 0) "value"
          else s"lag(value, $i) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
        s"coalesce($v, 0) * ${math.pow(0.5, i + 1)}"
      }.mkString(" + ")
      val cases = (1 to 7).map(k =>
        s"WHEN rn = $k THEN ${1.0 - math.pow(0.5, k)}").mkString(" ")
      s"""WITH e AS (SELECT user_id, event_id, value,
         |  epoch_ns(ts) // 1000 AS ts_us FROM events),
         |r AS (SELECT user_id, event_id, ts_us, value,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id) AS rn,
         |  $lagTerms AS num
         |  FROM e)
         |SELECT user_id, event_id, ts_us,
         |  num / CAST(CASE $cases ELSE ${1.0 - math.pow(0.5, 8)} END
         |    AS DOUBLE) AS ewma_adj
         |FROM r""".stripMargin
    },

    // identical join + windows; CAST keeps DuckDB's 1.0 literal in
    // DOUBLE land for the single credit division
    "e_attrib" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS pts
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS touch_id, event_type AS touch_type,
        |      user_id, ts_us AS tts
        |      FROM e WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.purchase_id, t.touch_id, t.touch_type
        |  , count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
        |  , row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY t.tts, t.touch_id) AS rn_first
        |  , row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY t.tts DESC, t.touch_id DESC) AS rn_last
        |  FROM p JOIN t ON t.user_id = p.user_id
        |  WHERE t.tts <= p.pts
        |    AND p.pts - t.tts <= CAST(604800000000 AS BIGINT))
        |SELECT purchase_id, touch_id, touch_type,
        |  CAST(n_touches AS BIGINT) AS n_touches,
        |  CAST(1.0 AS DOUBLE) / CAST(n_touches AS DOUBLE) AS credit,
        |  rn_first = 1 AS is_first, rn_last = 1 AS is_last
        |FROM j""".stripMargin,

    "e_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_ns(ts) // 1000 AS ts_us FROM events),
        |t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
        |       JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
        |       JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       count(*) AS n_users FROM t1
        |UNION ALL SELECT 1, 'click', count(*) FROM t2
        |UNION ALL SELECT 2, 'purchase', count(*) FROM t3""".stripMargin,

    "e_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |  (epoch_ns(ts) // 1000) - ((epoch_ns(ts) // 1000)
        |     % CAST(86400000000 AS BIGINT)) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
        |SELECT cohort_d // CAST(86400000000 AS BIGINT) AS cohort_day,
        |  (d - cohort_d) // CAST(86400000000 AS BIGINT) AS day_offset,
        |  count(*) AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    // identical ladder: exact-long risk sets, one IEEE division per
    // factor, ordered window product (frame-order multiply in both
    // engines on small frames, r9). CAST(1 AS DOUBLE): a bare 1.0 is
    // DECIMAL in DuckDB and would change the arithmetic.
    "e_survival" ->
      """WITH u AS (SELECT user_id,
        |  max(epoch_ns(ts) // 1000) - min(epoch_ns(ts) // 1000) AS dur,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS evt
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM u),
        |bd AS (SELECT dur, count(*) AS a, sum(evt) AS d FROM u GROUP BY 1),
        |cum AS (SELECT dur, a, d, coalesce(sum(a) OVER
        |  (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  0) AS before FROM bd),
        |dth AS (SELECT dur, t.n_total - before AS n_risk, d
        |  FROM cum, t WHERE d > 0)
        |SELECT dur AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events,
        |  round(product(CAST(1 AS DOUBLE) -
        |    CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |    OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING), 9) AS surv
        |FROM dth""".stripMargin,

    // same ladder with every window PARTITIONed BY cohort
    "e_survival_cohort" ->
      """WITH u AS (SELECT user_id,
        |  'c' || CAST(user_id % 3 AS VARCHAR) AS cohort,
        |  max(epoch_ns(ts) // 1000) - min(epoch_ns(ts) // 1000) AS dur,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS evt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT cohort, count(*) AS n_total FROM u GROUP BY 1),
        |bd AS (SELECT cohort, dur, count(*) AS a, sum(evt) AS d
        |  FROM u GROUP BY 1, 2),
        |cum AS (SELECT cohort, dur, a, d, coalesce(sum(a) OVER
        |  (PARTITION BY cohort ORDER BY dur
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM bd),
        |dth AS (SELECT cum.cohort, dur, t.n_total - before AS n_risk, d
        |  FROM cum JOIN t ON t.cohort = cum.cohort WHERE d > 0)
        |SELECT cohort, dur AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_events,
        |  round(product(CAST(1 AS DOUBLE) -
        |    CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |    OVER (PARTITION BY cohort ORDER BY dur
        |      ROWS UNBOUNDED PRECEDING), 9) AS surv
        |FROM dth""".stripMargin,

    "e_approx_distinct" ->
      s"""WITH sk AS (${graft.functions.HllSketch.oracleSql("events",
             graft.functions.Hashing.hash60Sql("CAST(user_id AS VARCHAR)"),
             "event_type")}),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
         |  FROM events GROUP BY 1)
         |SELECT event_type, sk.approx_distinct AS approx_users, ex.exact_users
         |FROM sk JOIN ex USING (event_type)""".stripMargin,

    "e_hll_sketch" ->
      """WITH e AS (SELECT event_type, user_id,
        |  (epoch_ns(ts) // 1000) // 86400000000 AS day_idx FROM events)
        |SELECT event_type,
        |  count(DISTINCT day_idx) AS n_days,
        |  count(DISTINCT user_id) AS exact_users,
        |  1 AS assoc_ok, 1 AS err_ok
        |FROM e GROUP BY 1""".stripMargin
  )
}
