package graft.plans

import graft.testkit.SparkSpec
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Engine-wide physical-plan invariants over the declarative gate
  * queries: no plan may contain an unbounded cartesian product (a
  * broadcast nested-loop against a 1-row/centroid frame is the allowed
  * crossJoin shape — it appears as BroadcastNestedLoopJoin, never
  * CartesianProductExec). Guards against a future edit silently losing
  * an equi-join condition — the classic 100 TB plan regression that
  * small-SF row-equality gates cannot catch. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Declarative queries only: their builders return a lazy plan. Iterative
  // operators (g_pagerank, CC, k-means, BPE, st_* drains...) execute jobs
  // during construction and audit their own plan shapes in their specs.
  private val Audited = Seq(
    "q1_agg", "q2_filter_project", "q3_join_agg", "q4_topk", "q5_union",
    "q6_distinct", "q7_invert", "q8_collapse", "q9_histogram", "q10_window",
    "q11_stats", "q13_salted_agg", "q15_rollup", "q16_pivot", "q20_quantile_sketch",
    "q21_logq_sketch", "q22_zorder", "q27_recursive_sql", "q28_lateral",
    "t_wordfreq", "t_langid", "t_quality", "t_gopher", "t_c4", "t_tokens",
    "t_chunk", "t_tfidf", "t_bm25", "t_fingerprint", "t_redact", "t_repetition",
    "e_window_agg", "e_sessionize", "e_json", "e_asof", "e_range_join",
    "e_moving_avg", "e_funnel", "e_retention", "e_anomaly", "e_approx_distinct",
    "e_interval_join",
    "d_exact", "d_scd2", "d_scd2_asof", "d_scd2_multi", "d_scd2_late",
    "d_scd2_join", "d_minhash_sig", "d_minhash_pairs", "d_minhash_inc",
    "d_split", "d_source_quota", "d_simhash", "d_cdc", "d_asof_native",
    "d_asof_bcast",
    "s_ann_brute", "s_quantize", "s_rproj", "s_hybrid_rrf", "d_winnow",
    "d_fuzzy", "d_fuzzy_jw", "d_setsim", "d_fuzzy_inc", "d_fuzzy_sql",
    "d_fuzzy_rollup", "q40_rfm", "e_transitions", "e_ewma", "dq_drift",
    "dq_outliers", "d_setsim_inc", "d_decontam_kmv", "dq_ks", "dq_mwu",
    "dq_skew", "dq_spearman", "d_mv_inc", "dq_benford", "e_attrib",
    "dq_mad", "dq_contingency", "q42_sql_vars", "q43_sql_script",
    "dq_tvd", "dq_qq", "s_ann_recall", "s_ann_recall_lsh", "s_ann_recall_pq",
    "dq_cusum", "dq_cusum_t",
    "e_survival", "e_survival_cohort", "dq_outliers_c", "mm_ahash_index",
    "e_ewma_adj")

  test("no audited gate query plans a cartesian product") {
    val offenders = Audited.flatMap { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      if (PlanWalk.nodes(plan).exists(_.isInstanceOf[CartesianProductExec]))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("the spread stays off shuffling operators: no round robin, no extra exchange") {
    // Ops.spread goes only ahead of row-local kernels; a blanket
    // round-robin repartition after small scans slows the aggregates and
    // windows that shuffle their input anyway
    def exchanges(name: String) = PlanWalk.nodes(
      graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      .collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    for (name <- Seq("q1_agg", "q3_join_agg", "e_window_agg"))
      assert(!exchanges(name).exists(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]),
        s"$name plans a round-robin exchange")
    // the spread keyed on user_id is the windows' and the groupBy's one
    // exchange, as the window's own was before it
    assert(exchanges("e_sessionize").length <= 1)
  }

  test("single-table scan queries read a pruned schema, not every column") {
    // representative narrow projections: the scan must not drag the full
    // table row (lineitem has 16 columns, documents 3+)
    val cases = Seq(
      "q1_agg" -> 6, "q2_filter_project" -> 6, "t_tokens" -> 2,
      "e_window_agg" -> 4)
    val fat = cases.flatMap { case (name, maxCols) =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      val widths = PlanWalk.nodes(plan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.size
      }
      if (widths.nonEmpty && widths.max > maxCols)
        Some(s"$name reads ${widths.max} cols (cap $maxCols)")
      else None
    }
    assert(fat.isEmpty, fat.mkString("; "))
  }

  test("no audited gate query evaluates a ScalaUDF") {
    // "functions, not UDFs": every scalar computation in the declarative
    // surface must be codegen'd builtins or the engine's native
    // expressions — a UDF would break whole-stage codegen and predicate
    // pushdown silently
    val offenders = Audited.flatMap { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      val hasUdf = PlanWalk.nodes(plan).exists(p =>
        p.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
      if (hasUdf) Some(name) else None
    }
    assert(offenders.isEmpty, s"ScalaUDF in: ${offenders.mkString(", ")}")
  }

  // WINDOW-vs-FILTER CONTRACT (the r8/r9 e_ewma lesson): a window
  // function evaluated AFTER a row filter sees the filtered partitions —
  // lags reach into removed rows and yield NULL. Each gate query must
  // place its windows on the same side of the filter as its oracle's
  // CTE does. e_ewma computes the window BEFORE `rn > 8` (oracle CTE
  // pre-filter); e_transitions / e_attrib / st_asof_enrich compute
  // windows over the filtered frame INTENTIONALLY (their oracles filter
  // first too — commented at each site). This test machine-checks the
  // e_ewma side of the contract: a full trailing-8 window exists for
  // every kept row, so no NULL can appear.
  test("e_ewma windows before the rn filter: zero NULL ewma rows") {
    val nulls = graft.SparkEntry.queries("e_ewma")(spark, dir)
      .where(org.apache.spark.sql.functions.col("ewma").isNull).count()
    assert(nulls == 0L,
      s"$nulls NULL ewma rows — the window moved back below the rn>8 filter")
  }

  test("dimension joins broadcast; the q3 plan never shuffles the nation side") {
    val plan = graft.SparkEntry.queries("q3_join_agg")(spark, dir)
      .queryExecution.executedPlan
    assert(PlanWalk.nodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"q3 lost its broadcast join:\n$plan")
  }
}
