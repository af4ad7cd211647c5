package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation operators — the expectations pass (Deequ /
  * dbt-test shape) a production pipeline runs on every table before it
  * feeds training: column profiles, referential integrity, and
  * accepted-value domains, each as ONE scan-side aggregate per table so
  * the checks cost a single pass at any scale.
  *
  * Everything returns exact integers / deterministic values so the
  * driver gate hash-verifies the reports against DuckDB replicas.
  */
object DataQuality {

  /** Per-column profile in one scan: rows, nulls, exact distincts,
    * min/max (rendered to strings so heterogeneous column types share
    * one report schema). Exact distinct is one aggregate per column in
    * the same pass; swap `approx_count_distinct` in at corpus scale —
    * the report schema is unchanged. Emits one row per column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // one row per column via an inline explode of the wide aggregate
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_str"), col(s"__max_$c").as("max_str"))
    }
    wide.select(explode(array(entries: _*)).as("p"))
      .select("p.col_name", "p.n_rows", "p.n_null", "p.n_distinct",
        "p.min_str", "p.max_str")
  }

  /** Referential-integrity check: child rows whose `childKey` has no
    * match in `parent.parentKey` (nulls don't count as orphans, the SQL
    * FK convention). One left-anti join keyed on the FK — broadcast when
    * the parent is small, shuffle otherwise; Catalyst picks. */
  def orphans(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame = {
    val p = parent.select(parentKey.as("__pk")).distinct()
    child.where(childKey.isNotNull)
      .join(p, childKey === col("__pk"), "left_anti")
  }

  /** Aggregate FK report: total / null / orphan counts plus the check
    * verdict in one row. */
  def refIntegrity(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame = {
    val totals = child.agg(
      count(lit(1)).as("n_rows"),
      sum(when(childKey.isNull, 1L).otherwise(0L)).as("n_null_fk"))
    val orphanCount = orphans(child, childKey, parent, parentKey)
      .agg(count(lit(1)).as("n_orphans"))
    totals.crossJoin(orphanCount)
      .select(col("n_rows"), col("n_null_fk"), col("n_orphans"),
        (col("n_orphans") === 0L).as("fk_ok"))
  }

  /** Accepted-values check: rows per observed value with an in-domain
    * flag — the enum-drift detector (a new upstream event type shows up
    * as `in_domain = false` before it poisons anything downstream). */
  def acceptedValues(df: DataFrame, c: Column, allowed: Seq[String]): DataFrame =
    df.groupBy(c.as("value"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("value"), col("n_rows"),
        coalesce(col("value").isin(allowed: _*), lit(false)).as("in_domain"))

  /** Categorical drift between a BASELINE snapshot and the CURRENT one —
    * per-category chi-square contributions (the monitoring-pass
    * alternative to PSI that needs no logarithm, so it hash-verifies
    * exactly across engines: all arithmetic is counts, one shared
    * division order). Expected counts are Laplace-smoothed over the
    * union category set, so a category newly appearing in `current`
    * contributes a finite, large term instead of dividing by zero —
    * which is precisely the alert. Two group-by-category aggregates, a
    * category-level full-outer join, and one broadcast 1-row totals
    * frame: a scan per side at any scale.
    * @return (category, n_base, n_cur, expected, chi2_contrib) */
  def categoricalDrift(base: DataFrame, current: DataFrame,
      cat: Column): DataFrame = {
    val b = base.groupBy(cat.as("category")).agg(count(lit(1)).as("n_base"))
    val c = current.groupBy(cat.as("category")).agg(count(lit(1)).as("n_cur"))
    val j = b.join(c, Seq("category"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val tot = j.agg(sum("n_base").as("tot_base"), sum("n_cur").as("tot_cur"),
      count(lit(1)).as("n_cat"))
    j.crossJoin(broadcast(tot))
      // one shared unrounded expected; squaring by self-multiply (not
      // pow) so both engines run the identical IEEE op sequence — and
      // because every operand is an exact integer and the op order is
      // shared with the oracle, the RAW doubles are bit-identical:
      // gate them raw, no decimal round (VERDICT r8 #2 sweep)
      .withColumn("__e", (col("n_base") + lit(1)).cast("double") /
        (col("tot_base") + col("n_cat")) * col("tot_cur"))
      .withColumn("expected", col("__e"))
      .withColumn("chi2_contrib",
        (col("n_cur") - col("__e")) * (col("n_cur") - col("__e")) /
          col("__e"))
      .select("category", "n_base", "n_cur", "expected", "chi2_contrib")
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic per group — the
    * distribution-SHAPE drift test completing the DQ trio (chi-square
    * [[categoricalDrift]] sees category mix, Tukey [[iqrOutliers]] sees
    * tails; KS sees the whole CDF). All arithmetic is integers until
    * one terminal exact-integer division, so the statistic hash-gates
    * bit-for-bit across engines:
    *
    *   D = max over observed values v of |F_base(v) − F_cur(v)|
    *     = d_num / (n_base · n_cur),
    *   d_num = max |cum_base(v)·n_cur − cum_cur(v)·n_base|  (exact longs)
    *
    * Scale shape: one (group, value) count aggregate (map-side
    * combined), one per-group cumulative window over DISTINCT values
    * (the sort is per group and over distinct points, not rows), one
    * broadcast-sized totals join. Ties between the two samples are
    * handled exactly — both CDFs step at the shared point before the
    * difference is taken.
    * @return (grp, n_base, n_cur, d_num, d) one row per group */
  def ksTest(df: DataFrame, group: Column, value: Column,
      isCurrent: Column): DataFrame =
    ksFromCounts(sideCounts(df, group, value, isCurrent))

  /** Per-(group, value) side counts — the sufficient statistic both
    * [[ksTest]] and [[mwuTest]] reduce to, and the ADDITIVE state a
    * streaming fold accumulates (counts of the union of batches = sum
    * of per-batch counts, any cadence — see
    * [[graft.streaming.EventStreams.ksMonitorSink]]).
    * @return (grp, v, b, c) */
  def sideCounts(df: DataFrame, group: Column, value: Column,
      isCurrent: Column): DataFrame =
    df.select(group.as("grp"), value.as("v"),
        when(isCurrent, 1L).otherwise(0L).as("cur"))
      .groupBy("grp", "v").agg(
        sum(lit(1L) - col("cur")).as("b"), sum(col("cur")).as("c"))

  /** [[ksTest]]'s statistic from pre-aggregated [[sideCounts]]. */
  def ksFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.groupBy("grp")
      .agg(sum("b").as("n_base"), sum("c").as("n_cur"))
    counts
      .withColumn("cb", sum("b").over(w))
      .withColumn("cc", sum("c").over(w))
      .join(tot, Seq("grp"))
      .withColumn("diff",
        abs(col("cb") * col("n_cur") - col("cc") * col("n_base")))
      .groupBy(col("grp"), col("n_base"), col("n_cur"))
      .agg(max("diff").as("d_num"))
      .select(col("grp"), col("n_base"), col("n_cur"), col("d_num"),
        // raw exact-integer ratio — bit-identical across engines
        (col("d_num").cast("double") /
          (col("n_base") * col("n_cur")).cast("double")).as("d"))
  }

  /** EXACT Mann–Whitney U / AUC per group — the rank-based LOCATION
    * test beside [[ksTest]]'s shape test (KS asks "same distribution?",
    * MWU asks "did the current sample shift up or down?"). Tied values
    * take midranks, which are half-integers — so everything is carried
    * at 2× scale and stays an exact long:
    *
    *   2·midrank(v) = 2·cum_t(v) − t(v) + 1          (t = b + c)
    *   r2 = Σ_v c(v) · (2·midrank(v))                 (2× cur rank-sum)
    *   u2_cur = r2 − n_cur·(n_cur + 1)                (2× U statistic)
    *   auc = u2_cur / (2·n_base·n_cur)                (= P(cur > base)
    *                                                   + ½·P(tie))
    *
    * One terminal exact-integer division → the AUC hash-gates
    * bit-for-bit, no tolerance. auc ≈ 0.5 = no shift; 1.0 = current
    * stochastically dominates. Same scale shape as KS: grouped counts
    * (map-side combined), a per-group window over DISTINCT values,
    * a broadcast-sized totals join. Longs overflow only past ~3·10⁹
    * rows in ONE group (u2 ≤ 2·n_b·n_c < 2⁶³).
    * @return (grp, n_base, n_cur, u2_cur, auc) one row per group */
  def mwuTest(df: DataFrame, group: Column, value: Column,
      isCurrent: Column): DataFrame =
    mwuFromCounts(sideCounts(df, group, value, isCurrent))

  /** [[mwuTest]]'s statistic from pre-aggregated [[sideCounts]] — the
    * same additive state the streaming KS fold keeps, so one folded
    * count table serves both monitors. */
  def mwuFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.groupBy("grp")
      .agg(sum("b").as("n_base"), sum("c").as("n_cur"))
    counts
      .withColumn("cum_t", sum(col("b") + col("c")).over(w))
      .groupBy("grp")
      .agg(sum(col("c") *
        (lit(2L) * col("cum_t") - (col("b") + col("c")) + lit(1L)))
        .as("r2"))
      .join(tot, Seq("grp"))
      .withColumn("u2_cur", col("r2") - col("n_cur") * (col("n_cur") + 1L))
      .select(col("grp"), col("n_base"), col("n_cur"), col("u2_cur"),
        (col("u2_cur").cast("double") /
          (lit(2L) * col("n_base") * col("n_cur")).cast("double")).as("auc"))
  }

  /** EXACT total-variation distance per group — the per-point MASS
    * drift measure completing the two-sample family ([[ksTest]] = CDF
    * shape, [[mwuTest]] = location, TVD = how much probability mass
    * moved anywhere):
    *
    *   TVD = ½ Σ_v |b_v/n_base − c_v/n_cur|
    *       = tvd_num / (2·n_base·n_cur),
    *   tvd_num = Σ_v |b_v·n_cur − c_v·n_base|   (exact longs)
    *
    * One terminal exact-integer division → hash-gates bit-for-bit.
    * Cheaper than KS: no cumulative window at all — just the grouped
    * side counts (map-side combined) and a broadcast totals join; the
    * Σ of longs is order-independent. Overflow: tvd_num ≤ 2·n_b·n_c,
    * safe below ~2·10⁹ rows per group (the dq_mwu envelope).
    * Unlike KS, TVD also reads naturally on CATEGORICAL values — pass
    * any orderable column as `value`.
    * @return (grp, n_base, n_cur, tvd_num, tvd) one row per group */
  def tvdTest(df: DataFrame, group: Column, value: Column,
      isCurrent: Column): DataFrame =
    tvdFromCounts(sideCounts(df, group, value, isCurrent))

  /** [[tvdTest]]'s statistic from pre-aggregated [[sideCounts]] — the
    * same additive state the streaming KS/MWU folds keep, so ONE folded
    * count table now serves three monitors. */
  def tvdFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.groupBy("grp")
      .agg(sum("b").as("n_base"), sum("c").as("n_cur"))
    counts
      .join(broadcast(tot), Seq("grp"))
      .groupBy(col("grp"), col("n_base"), col("n_cur"))
      .agg(sum(abs(col("b") * col("n_cur") - col("c") * col("n_base")))
        .as("tvd_num"))
      .select(col("grp"), col("n_base"), col("n_cur"), col("tvd_num"),
        // raw exact-integer ratio — bit-identical across engines
        (col("tvd_num").cast("double") /
          (lit(2L) * col("n_base") * col("n_cur")).cast("double")).as("tvd"))
  }

  /** EXACT per-decile quantile-shift table — the drift dashboard's
    * Q-Q view: for each group and decile q ∈ 1..9, the base and
    * current order statistics and their difference. Deciles are TYPE-1
    * (no interpolation): decile(q) = min v with cum(v) ≥ ⌈q·n/10⌉,
    * and for integer cum that threshold is the pure-integer test
    * 10·cum ≥ q·n — the WHOLE ladder is exact longs, zero doubles,
    * so every cell hash-gates bit-for-bit. Where [[ksTest]] reports
    * one number, this names WHERE the distribution moved (median up
    * 12 cents, p90 up 3 dollars — the unit-mixup signature).
    * Scale shape: grouped side counts (map-side combined), one
    * per-group cumulative window over DISTINCT values, a ×9 decile
    * expansion of the distinct-value rows before the grouped min.
    * @param value an exact-integer (cents-style) column
    * @return (grp, q, base_cents, cur_cents, shift_cents) 9 rows/group */
  def quantileShift(df: DataFrame, group: Column, value: Column,
      isCurrent: Column): DataFrame =
    qqFromCounts(sideCounts(df, group, value, isCurrent))

  /** [[quantileShift]] from pre-aggregated [[sideCounts]] — additive
    * state, so the streaming twin folds the same count table. */
  def qqFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.groupBy("grp")
      .agg(sum("b").as("n_base"), sum("c").as("n_cur"))
    val qs = (1 to 9).map(_.toLong)
    counts
      .withColumn("cb", sum("b").over(w))
      .withColumn("cc", sum("c").over(w))
      .join(broadcast(tot), Seq("grp"))
      .withColumn("q", explode(lit(qs.toArray)))
      .groupBy(col("grp"), col("q"))
      .agg(
        // a side with zero rows has no quantiles: without the n > 0
        // guard the threshold 10·cum ≥ q·0 is trivially true and the
        // empty side would report min(v) of the OTHER sample (ADVICE
        // r9) — NULL is the honest decile for a one-sided group
        min(when(col("n_base") > 0L &&
            col("cb") * 10L >= col("q") * col("n_base"), col("v")))
          .as("base_cents"),
        min(when(col("n_cur") > 0L &&
            col("cc") * 10L >= col("q") * col("n_cur"), col("v")))
          .as("cur_cents"))
      .select(col("grp"), col("q"), col("base_cents"), col("cur_cents"),
        (col("cur_cents") - col("base_cents")).as("shift_cents"))
  }

  /** EXACT CUSUM changepoint report per group — the SEQUENTIAL drift
    * detector beside the two-sample family (KS/TVD compare two fixed
    * windows; CUSUM scans the time axis and names WHERE the level
    * shifted). Deviations are mean-centered at n× scale so everything
    * stays exact longs: dev_i = n·x_i − Σx. The one-sided CUSUM
    * recursion S_i = max(0, S_{i-1} + dev_i) is computed closed-form as
    *
    *   S_i = cum_i − min(0, min_{j≤i} cum_j)      (cum = running Σdev)
    *
    * — two running windows instead of an unexpressible recursion.
    * Reported per group: the maximum accumulated upward shift and the
    * row where it peaks (for a persisting level shift the peak rides
    * the end of the shifted run; the alarm threshold is the caller's —
    * every output is an exact long, so the gate hashes bit-for-bit).
    * Scale shape: per-group windows over event order, broadcast totals.
    * @return (grp, n, max_cusum, cp_event_id, cp_ts) one row per group */
  def cusumReport(df: DataFrame, group: Column, time: Column,
      id: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = df.select(group.as("grp"), time.as("t"), id.as("eid"),
      value.cast("long").as("x"))
    val tot = e.groupBy("grp").agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val wc = Window.partitionBy("grp").orderBy(col("t"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val s = e.join(broadcast(tot), Seq("grp"))
      .withColumn("dev", col("n") * col("x") - col("sx"))
      .withColumn("cum", sum("dev").over(wc))
      .withColumn("s",
        col("cum") - least(lit(0L), min(col("cum")).over(wc)))
    val wr = Window.partitionBy("grp")
      .orderBy(col("s").desc, col("t"), col("eid"))
    s.withColumn("rn", row_number().over(wr)).where(col("rn") === 1)
      .select(col("grp"), col("n"), col("s").as("max_cusum"),
        col("eid").as("cp_event_id"), col("t").as("cp_ts"))
  }

  /** [[cusumReport]] against a FIXED target instead of the global mean
    * — deviations dev_i = x_i − target need no totals pass, so this
    * variant STREAMS with O(1) state per group (the carried
    * (cum, runmin, peak) prefix summary,
    * [[graft.streaming.EventStreams.cusumMonitorSink]]); the
    * mean-centered [[cusumReport]] cannot, because the center is a
    * function of data it hasn't seen. Same closed form, same exact
    * longs. @return (grp, n, max_cusum, cp_event_id, cp_ts) */
  def cusumTargetReport(df: DataFrame, group: Column, time: Column,
      id: Column, value: Column, target: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = df.select(group.as("grp"), time.as("t"), id.as("eid"),
      (value.cast("long") - lit(target)).as("dev"))
    val wc = Window.partitionBy("grp").orderBy(col("t"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val s = e
      .withColumn("cum", sum("dev").over(wc))
      .withColumn("s",
        col("cum") - least(lit(0L), min(col("cum")).over(wc)))
    val tot = e.groupBy("grp").agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy("grp")
      .orderBy(col("s").desc, col("t"), col("eid"))
    s.withColumn("rn", row_number().over(wr)).where(col("rn") === 1)
      .join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("n"), col("s").as("max_cusum"),
        col("eid").as("cp_event_id"), col("t").as("cp_ts"))
  }

  /** Kaplan-Meier survival curve with RIGHT CENSORING — time-to-event
    * analysis (churn, hardware failure, time-to-conversion) done the
    * statistically honest way: subjects that leave observation without
    * the event shrink the risk set but contribute no deaths. One row
    * per subject in: `duration` (exact integer time-to-exit) and
    * `event` (1 = observed event, 0 = censored). At each distinct
    * event time t: n_risk = subjects with duration ≥ t (total minus a
    * cumulative count — exact longs), factor = 1 − d/n (one correctly-
    * rounded IEEE division), S(t) = running product in ascending-t
    * order, ROUNDED to 9 decimals (windowed products reassociate
    * across engines past small frames — r9, see e_survival — so surv
    * is the iterative-float convention, not a raw hash).
    * Scale shape: one per-duration count aggregate, one global ordered
    * window over DISTINCT event times (a curve is small by nature),
    * a broadcast 1-row total.
    * @return (t, n_risk, n_events, surv) one row per distinct event time */
  def kaplanMeier(df: DataFrame, duration: Column, event: Column): DataFrame =
    kaplanMeierBy(df, lit("all"), duration, event).drop("cohort")

  /** Per-COHORT [[kaplanMeier]] — the scale shape: every window
    * partitions by cohort, so a million independent curves (one per
    * segment / device / model version) compute in one pass with no
    * global sort; the single-curve form is this with a constant
    * cohort. @return (cohort, t, n_risk, n_events, surv) */
  def kaplanMeierBy(df: DataFrame, cohort: Column, duration: Column,
      event: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = df.select(cohort.as("cohort"), duration.as("t"),
      event.cast("long").as("evt"))
    val tot = u.groupBy("cohort").agg(count(lit(1)).as("n_total"))
    val byT = u.groupBy("cohort", "t")
      .agg(count(lit(1)).as("a"), sum("evt").as("d"))
    val wb = Window.partitionBy("cohort").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ws = Window.partitionBy("cohort").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    byT
      .withColumn("before", coalesce(sum("a").over(wb), lit(0L)))
      .join(broadcast(tot), Seq("cohort"))
      .withColumn("n_risk", col("n_total") - col("before"))
      .where(col("d") > 0)
      .withColumn("factor", lit(1.0) -
        col("d").cast("double") / col("n_risk").cast("double"))
      .withColumn("surv", round(product(col("factor")).over(ws), 9))
      .select(col("cohort"), col("t"), col("n_risk"),
        col("d").as("n_events"), col("surv"))
  }

  /** Key-skew report per group — the PRE-SHUFFLE diagnostic: before a
    * 100 TB `groupBy(key)` or `join(key)`, this one pass names the
    * groups whose key distribution would hot-spot a partition (the
    * salting / AQE-skew-join decision input). Three exact-integer
    * concentration measures over the per-key counts x₁ ≤ … ≤ x_n:
    *
    *   gini_num = Σ_i (2i − n − 1)·x_i   → gini = gini_num/(n·Σx)
    *   hhi_num  = Σ x_i²                 → hhi  = hhi_num/(Σx)²
    *   top_share = max(x)/Σx
    *
    * (0 = perfectly uniform; gini→1 / hhi→1 = one key owns the group.
    * The (2i−n−1) coefficient is invariant under permutations of tied
    * x, so the key tie-break only pins determinism, not the value.)
    * Each ratio is ONE terminal division of exact longs → bit-identical
    * across engines, gated raw. Cost: one (grp,key) count aggregate,
    * one per-group sort over DISTINCT KEYS (not rows), one broadcast
    * totals join.
    * @return (grp, n_keys, n_rows, gini_num, gini, hhi_num, hhi,
    *          max_key_rows, top_share) */
  def skewReport(df: DataFrame, group: Column, key: Column): DataFrame =
    skewFromCounts(df.groupBy(group.as("grp"), key.as("k"))
      .agg(count(lit(1)).as("x")))

  /** [[skewReport]]'s measures from pre-aggregated per-key counts
    * (grp, k, x) — the additive state a streaming fold accumulates
    * ([[graft.streaming.EventStreams.skewMonitorSink]]). */
  def skewFromCounts(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = c.groupBy("grp").agg(
      count(lit(1)).as("n_keys"), sum("x").as("n_rows"),
      sum(col("x") * col("x")).as("hhi_num"), max("x").as("max_key_rows"))
    c.withColumn("i",
        row_number().over(
          Window.partitionBy("grp").orderBy(col("x"), col("k"))))
      .join(broadcast(tot), Seq("grp"))
      .groupBy(col("grp"), col("n_keys"), col("n_rows"),
        col("hhi_num"), col("max_key_rows"))
      .agg(sum((lit(2L) * col("i") - col("n_keys") - 1L) * col("x"))
        .as("gini_num"))
      .select(col("grp"), col("n_keys"), col("n_rows"), col("gini_num"),
        (col("gini_num").cast("double") /
          (col("n_keys") * col("n_rows")).cast("double")).as("gini"),
        col("hhi_num"),
        (col("hhi_num").cast("double") /
          (col("n_rows") * col("n_rows")).cast("double")).as("hhi"),
        col("max_key_rows"),
        (col("max_key_rows").cast("double") /
          col("n_rows").cast("double")).as("top_share"))
  }

  /** IQR outlier report per group — Tukey fences (1.5·IQR beyond the
    * quartiles), the distribution-free outlier screen a DQ pass runs on
    * numeric columns. One exact-percentile aggregate per group plus one
    * broadcast join back; swap approx_percentile in at corpus scale
    * (report schema unchanged).
    * @return (group, q1, q3, lo_fence, hi_fence, n_rows, n_outliers) */
  def iqrOutliers(df: DataFrame, group: Column, value: Column): DataFrame = {
    val gv = df.select(group.as("grp"), value.as("v"))
    val q = gv.groupBy("grp").agg(
      percentile(col("v"), lit(0.25)).as("q1"),
      percentile(col("v"), lit(0.75)).as("q3"))
      .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
    gv.join(broadcast(q), Seq("grp"))
      .groupBy(col("grp"), col("q1"), col("q3"),
        col("lo_fence"), col("hi_fence"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("lo_fence") || col("v") > col("hi_fence"),
          1L).otherwise(0L)).as("n_outliers"))
      .select(col("grp"), round(col("q1"), 6).as("q1"),
        round(col("q3"), 6).as("q3"),
        round(col("lo_fence"), 6).as("lo_fence"),
        round(col("hi_fence"), 6).as("hi_fence"),
        col("n_rows"), col("n_outliers"))
  }

  /** EXACT IQR outlier report from pre-aggregated [[centsCounts]] —
    * the additive state a streaming fold accumulates
    * ([[graft.streaming.EventStreams.outlierMonitorSink]]). The
    * quantile_cont (type-7) interpolation re-derives from the folded
    * counts as pure order statistics over the cumulative ladder:
    * h = (n−1)·q lands at 1-based position m+1 with remainder r ∈
    * {0..3}, so q_q = x_{m+1} + r·(x_{m+2} − x_{m+1})/4 — and because
    * the values are exact integer cents and r/4 is dyadic, EVERY
    * number downstream (quartiles, 1.5·IQR fences, the fence
    * comparisons) is an exactly-representable double computed in a
    * shared op order: the gate hashes raw, no round(), no tolerance —
    * the exactness dq_outliers' raw-double percentile can't offer.
    * @return (grp, q1, q3, lo_fence, hi_fence, n_rows, n_outliers) */
  def iqrOutliersFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.groupBy("grp").agg(sum("cnt").as("n"))
    val cum = counts.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), Seq("grp"))
      .withColumn("pos1", expr("(n - 1) div 4 + 1"))
      .withColumn("pos2", least(col("pos1") + 1L, col("n")))
      .withColumn("r1", expr("(n - 1) % 4"))
      .withColumn("pos3", expr("(3 * (n - 1)) div 4 + 1"))
      .withColumn("pos4", least(col("pos3") + 1L, col("n")))
      .withColumn("r3", expr("(3 * (n - 1)) % 4"))
    val xs = cum.groupBy("grp", "n", "r1", "r3").agg(
      min(when(col("cum") >= col("pos1"), col("c"))).as("x1"),
      min(when(col("cum") >= col("pos2"), col("c"))).as("x2"),
      min(when(col("cum") >= col("pos3"), col("c"))).as("x3"),
      min(when(col("cum") >= col("pos4"), col("c"))).as("x4"))
    val f = xs
      .withColumn("q1", col("x1") +
        (col("r1") * (col("x2") - col("x1"))).cast("double") / lit(4.0))
      .withColumn("q3", col("x3") +
        (col("r3") * (col("x4") - col("x3"))).cast("double") / lit(4.0))
      .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
      .select(col("grp"), col("q1"), col("q3"),
        col("lo_fence"), col("hi_fence"), col("n"))
    counts.join(broadcast(f), Seq("grp"))
      .groupBy(col("grp"), col("q1"), col("q3"),
        col("lo_fence"), col("hi_fence"), col("n"))
      .agg(sum(when(col("c") < col("lo_fence") ||
          col("c") > col("hi_fence"), col("cnt")).otherwise(0L))
        .as("n_outliers"))
      .select(col("grp"), col("q1"), col("q3"), col("lo_fence"),
        col("hi_fence"), col("n").as("n_rows"), col("n_outliers"))
  }

  /** One-shot batch twin of [[iqrOutliersFromCounts]] on exact cents —
    * the non-streaming anchor for the fold (same report, same oracle
    * ladder; beside [[iqrOutliers]]'s raw-double percentile shape). */
  def iqrOutliersCents(df: DataFrame, group: Column,
      cents: Column): DataFrame =
    iqrOutliersFromCounts(centsCounts(df, group, cents))

  /** EXACT tie-aware Spearman rank correlation per group — the
    * monotone-TREND screen (x = metric, y = time ⇒ "is this metric
    * drifting monotonically"), completing the drift suite's third
    * axis: KS = shape, MWU = location, Spearman = trend. Pearson on
    * midranks, with midranks carried at 2× scale so everything below
    * the closing expression is an exact long:
    *
    *   a = 2·midrank = 2·RANK() + |ties| − 1     (per row, windowed)
    *   Sxy = n·Σ(ax·ay) − Σax·Σay                (exact longs)
    *   Sxx = n·Σax² − (Σax)²,   Syy likewise
    *   rho = Sxy / (√Sxx · √Syy)
    *
    * The closing expression is division and IEEE-754 sqrt — BOTH
    * correctly rounded by spec in any conforming engine — applied to
    * exact-integer operands in a shared op order, so rho hash-gates
    * bit-for-bit. A constant column (Sxx or Syy = 0) yields NULL, not
    * NaN. Scale shape: rows first REDUCE to distinct (x, y) pair
    * counts (map-side combined), then the rank windows sort only
    * DISTINCT values per axis — never the raw rows (the per-row
    * formulation the DuckDB oracle replays is value-identical: the
    * accumulators are the same exact integers either way).
    * Long-exactness envelope: n·Σa² ≤ 4n⁴ needs n ≲ 38k rows per
    * group; past that, swap the five accumulators to DECIMAL(38,0)
    * (schema unchanged, exactness kept to ~10⁹ rows).
    * @return (grp, n, sxy, sxx, syy, rho) one row per group */
  def spearmanTrend(df: DataFrame, group: Column, xc: Column,
      yc: Column): DataFrame =
    spearmanFromPairCounts(
      df.groupBy(group.as("grp"), xc.as("x"), yc.as("y"))
        .agg(count(lit(1)).as("cnt")))

  /** The SAME statistic from pre-aggregated per-(group, x, y) PAIR
    * counts — the additive state a streaming fold accumulates
    * ([[graft.streaming.EventStreams.spearmanMonitorSink]]): midranks
    * re-derive from the marginal cumulative counts (the KS ladder,
    * once per axis), every accumulator weights by `cnt`, and the
    * closing expression is shared with [[spearmanTrend]] verbatim —
    * identical exact-integer inputs ⇒ the identical bit pattern.
    * @param pc (grp, x, y, cnt) */
  def spearmanFromPairCounts(pc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def axis(v: String): DataFrame = {
      val w = Window.partitionBy("grp").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, 0)
      pc.groupBy("grp", v).agg(sum("cnt").as("t"))
        .withColumn("cum", sum("t").over(w))
        .select(col("grp"), col(v),
          (lit(2L) * col("cum") - col("t") + 1L).as(s"a$v"))
    }
    pc.join(axis("x"), Seq("grp", "x")).join(axis("y"), Seq("grp", "y"))
      .groupBy("grp")
      .agg(sum("cnt").as("n"),
        sum(col("cnt") * col("ax")).as("sax"),
        sum(col("cnt") * col("ay")).as("say"),
        sum(col("cnt") * col("ax") * col("ax")).as("sxx_s"),
        sum(col("cnt") * col("ay") * col("ay")).as("syy_s"),
        sum(col("cnt") * col("ax") * col("ay")).as("sxy_s"))
      .transform(spearmanClose)
  }

  /** Benford's-law first-digit rates as 17-significant-digit decimal
    * literals — both engines parse the same strings to the same
    * doubles (IEEE parses are correctly rounded), so the expected
    * counts and chi-square ladder built on them hash-gate exactly. */
  val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** Benford first-digit screen per group — the fabricated-numbers /
    * unit-mixup detector a DQ pass runs on money-like columns: compare
    * the observed first-significant-digit distribution of the EXACT
    * cents integers against Benford's log law, as per-digit chi-square
    * contributions (the dq_drift construction — no row-level log ever
    * runs). The first digit comes from the decimal rendering of a
    * BIGINT (identical across engines), never from floating log10;
    * non-positive cents are excluded (no first significant digit).
    * One grouped count + a broadcast totals join: one scan at any
    * scale.
    * @param cents exact integer column (e.g. floor(value·100 + 0.5))
    * @return (grp, digit, n_obs, n_rows, expected, chi2_contrib) */
  def benford(df: DataFrame, group: Column, cents: Column): DataFrame =
    benfordFromCounts(digitCounts(df, group, cents))

  /** Per-(group, first digit) counts — [[benford]]'s sufficient
    * statistic, and the ADDITIVE state a streaming fold accumulates
    * ([[graft.streaming.EventStreams.benfordMonitorSink]]): digit
    * counts of the union of batches = sum of per-batch digit counts.
    * @return (grp, digit, n_obs) */
  def digitCounts(df: DataFrame, group: Column, cents: Column): DataFrame =
    df.select(group.as("grp"), cents.cast("long").as("c"))
      .where(col("c") > 0L)
      .withColumn("digit",
        substring(col("c").cast("string"), 1, 1).cast("int"))
      .groupBy("grp", "digit").agg(count(lit(1)).as("n_obs"))

  /** [[benford]]'s report from pre-aggregated [[digitCounts]]. */
  def benfordFromCounts(counts: DataFrame): DataFrame = {
    val p = BenfordP.foldLeft(lit(null).cast("double")) { case (acc, (d, v)) =>
      when(col("digit") === d, lit(v)).otherwise(acc)
    }
    val tot = counts.groupBy("grp").agg(sum("n_obs").as("n_rows"))
    counts.join(broadcast(tot), Seq("grp"))
      .withColumn("__e", col("n_rows").cast("double") * p)
      .select(col("grp"), col("digit"), col("n_obs"), col("n_rows"),
        col("__e").as("expected"),
        ((col("n_obs") - col("__e")) * (col("n_obs") - col("__e")) /
          col("__e")).as("chi2_contrib"))
  }

  /** Contingency report between two categorical columns — the
    * ASSOCIATION screen of the DQ pass ("did the device mix shift per
    * event type?", "is source correlated with language?"): per-cell
    * observed count vs the independence expectation e = n_a·n_b/n, as
    * chi-square contributions (the [[categoricalDrift]] construction —
    * per-cell doubles on a shared op order of exact-long operands, so
    * the gate hashes them raw; the SUM of contributions is
    * order-nondeterministic across engines and is left to
    * [[cramersV]], which is tolerance-checked in specs, not
    * hash-gated). Cost: one (a, b) count aggregate (map-side combined)
    * + three broadcast-sized marginal joins — one scan at any scale.
    * Long envelope: n_a·n_b overflows past ~3·10⁹ rows in one table;
    * switch the marginals to DECIMAL(38,0) beyond that.
    * @return (a, b, n_obs, n_a, n_b, n_tot, expected, chi2_contrib) */
  def contingency(df: DataFrame, a: Column, b: Column): DataFrame =
    contingencyFromCounts(cellCounts(df, a, b))

  /** Per-(a, b) cell counts — [[contingency]]'s sufficient statistic
    * and the additive streaming-fold state.
    * @return (a, b, n_obs) */
  def cellCounts(df: DataFrame, a: Column, b: Column): DataFrame =
    df.groupBy(a.as("a"), b.as("b")).agg(count(lit(1)).as("n_obs"))

  /** [[contingency]]'s report from pre-aggregated [[cellCounts]].
    * Emits the FULL marginal grid — a (level-a, level-b) combination
    * with no observed rows is a zero cell, and zero cells carry real
    * chi-square mass ((0 − e)²/e); dropping them would understate the
    * association (a perfectly-associated 2×2 would score V ≈ 0.71
    * instead of 1). */
  def contingencyFromCounts(cells: DataFrame): DataFrame = {
    val rowT = cells.groupBy("a").agg(sum("n_obs").as("n_a"))
    val colT = cells.groupBy("b").agg(sum("n_obs").as("n_b"))
    val tot = cells.agg(sum("n_obs").as("n_tot"))
    broadcast(rowT).crossJoin(broadcast(colT))
      .join(cells, Seq("a", "b"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .withColumn("__e", (col("n_a") * col("n_b")).cast("double") /
        col("n_tot").cast("double"))
      .select(col("a"), col("b"), col("n_obs"), col("n_a"), col("n_b"),
        col("n_tot"), col("__e").as("expected"),
        ((col("n_obs") - col("__e")) * (col("n_obs") - col("__e")) /
          col("__e")).as("chi2_contrib"))
  }

  /** Cramér's V from a [[contingency]] report — the [0, 1] association
    * strength V = sqrt(chi2 / (n·(min(R,C) − 1))). chi2 sums the
    * per-cell contributions, whose order differs between engines — so
    * V is a spec-checked summary (tolerance), never a hash-gated
    * column; gate the per-cell report instead.
    * @return (n_tot, n_a_levels, n_b_levels, chi2, v) one row */
  def cramersV(report: DataFrame): DataFrame =
    report.agg(max("n_tot").as("n_tot"),
        countDistinct("a").as("n_a_levels"),
        countDistinct("b").as("n_b_levels"),
        sum("chi2_contrib").as("chi2"))
      .withColumn("v", sqrt(col("chi2") / (col("n_tot") *
        (least(col("n_a_levels"), col("n_b_levels")) - 1L))))

  /** EXACT median / MAD (Hampel X84) outlier screen per group — the
    * robust companion to [[iqrOutliers]]: median and median absolute
    * deviation are immune to the very outliers they hunt (a single
    * corrupt 10⁹ row drags a mean/stddev z-score but moves the median
    * not at all). On EXACT integer cents the whole ladder stays in
    * longs: the median of longs is a half-integer carried at 2× scale
    * (med2 = c@⌈n/2⌉ + c@⌊n/2⌋+1), deviations at 2× are exact
    * (dev2 = |2c − med2|), the MAD at 4× is the median of the dev2s
    * (mad4), and the Hampel flag |x − med| > 3·MAD is the exact-long
    * comparison 2·dev2 > 3·mad4. The terminal median/mad doubles are
    * exact halves/quarters of longs → bit-identical across engines,
    * gated raw. Cost: one (grp, value) count aggregate, two per-group
    * cumulative windows over DISTINCT values, broadcast-sized joins.
    * @param cents exact integer column (e.g. floor(value·100 + 0.5))
    * @return (grp, n, med2, median, mad4, mad, n_outliers) */
  def madOutliers(df: DataFrame, group: Column, cents: Column): DataFrame =
    madFromCounts(centsCounts(df, group, cents))

  /** Per-(group, cents) counts — [[madOutliers]]'s sufficient statistic
    * and the additive streaming-fold state
    * ([[graft.streaming.EventStreams.madMonitorSink]]).
    * @return (grp, c, cnt) */
  def centsCounts(df: DataFrame, group: Column, cents: Column): DataFrame =
    df.select(group.as("grp"), cents.cast("long").as("c"))
      .where(col("c").isNotNull) // no position in an ordered ladder
      .groupBy("grp", "c").agg(count(lit(1)).as("cnt"))

  /** [[madOutliers]]'s report from pre-aggregated [[centsCounts]].
    * Weighted-median-at-position p over the cumulative counts: the
    * value at 1-indexed position p is the MINIMUM value whose
    * cumulative count reaches p (values ascend with the window). */
  def madFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def medianAt2x(c: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy("grp").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, 0)
      c.withColumn("cum", sum("cnt").over(w))
        .groupBy("grp", "n")
        .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col(v))) +
          min(when(col("cum") >= expr("n div 2 + 1"), col(v))))
          .as(s"${v}_med2"))
    }
    val tot = counts.groupBy("grp").agg(sum("cnt").as("n"))
    // cn feeds three consumers and med two (the deviation ladder and the
    // final report); without the pins the executed plan re-derived the
    // counts aggregation per reference — 16 parquet scans, zero
    // ReusedExchange (the r13 shared-subtree pattern, guide SS5)
    val cn = org.apache.spark.sql.graftbridge.Bridge.lazyCheckpoint(
      counts.join(broadcast(tot), Seq("grp")))
    val med = org.apache.spark.sql.graftbridge.Bridge.lazyCheckpoint(
      medianAt2x(cn, "c").withColumnRenamed("c_med2", "med2"))
    val dev = cn.join(broadcast(med.drop("n")), Seq("grp"))
      .withColumn("d", abs(lit(2L) * col("c") - col("med2")))
      .groupBy("grp", "n", "med2", "d").agg(sum("cnt").as("cnt"))
    val mad = medianAt2x(dev.drop("med2"), "d")
      .withColumnRenamed("d_med2", "mad4")
    cn.join(broadcast(med.drop("n")), Seq("grp"))
      .join(broadcast(mad.drop("n")), Seq("grp"))
      .groupBy(col("grp"), col("n"), col("med2"), col("mad4"))
      .agg(sum(when(lit(2L) * abs(lit(2L) * col("c") - col("med2")) >
        lit(3L) * col("mad4"), col("cnt")).otherwise(0L))
        .as("n_outliers"))
      .select(col("grp"), col("n"), col("med2"),
        (col("med2").cast("double") / lit(2.0d)).as("median"),
        col("mad4"),
        (col("mad4").cast("double") / lit(4.0d)).as("mad"),
        col("n_outliers"))
  }

  /** Shared closing expression of the two Spearman paths — the one
    * piece that must stay op-for-op identical for the raw-double hash
    * to agree. */
  private def spearmanClose(agged: DataFrame): DataFrame =
    agged.select(col("grp"), col("n"),
        (col("n") * col("sxy_s") - col("sax") * col("say")).as("sxy"),
        (col("n") * col("sxx_s") - col("sax") * col("sax")).as("sxx"),
        (col("n") * col("syy_s") - col("say") * col("say")).as("syy"))
      .withColumn("rho",
        when(col("sxx") === 0L || col("syy") === 0L, lit(null).cast("double"))
          .otherwise(col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double")))))
}
