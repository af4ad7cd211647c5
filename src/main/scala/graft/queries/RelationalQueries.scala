package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.io.Tables
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-gate queries demonstrating the reference's core operator
  * algebra (SURVEY.md §2.1/§2.8) on the TPC-H-ish testdata tables.
  * Every query has an exactly-matching DuckDB oracle in [[oracles]]:
  * column names are aliased identically on both sides and any column
  * whose value is an order-sensitive float aggregate is rounded
  * identically on both sides.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // collate+reduce with map-side partial agg (reference `compress` idiom,
    // mapreduce.cpp:717-819): one shuffle, partials before the exchange.
    "q1_agg" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))),

    // projection+filter pushed into the parquet scan (PushedFilters /
    // ReadSchema — the reference does this manually in map fns).
    "q2_filter_project" -> ((s, dir) => Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
             col("l_discount").between(0.05, 0.07))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))),

    // join with broadcast dim (reference `broadcast`, mapreduce.cpp:542-596):
    // nation is tiny → broadcast; orders⋈customer shuffles on the key.
    "q3_join_agg" -> ((s, dir) => Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("cnt"))),

    // top-k idiom (oink/wordfreq.cpp:65-112) → TakeOrderedAndProject.
    "q4_topk" -> ((s, dir) => Ops.topK(
      Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
      10, col("o_totalprice").desc, col("o_orderkey").asc)),

    // `add`/`open`/`close` accumulation (mapreduce.cpp:345-371) → union.
    "q5_union" -> ((s, dir) => Ops.unionAdd(
        Tables.customer(s, dir).select(lit("c").as("side"), col("c_acctbal").as("bal")),
        Tables.supplier(s, dir).select(lit("s").as("side"), col("s_acctbal").as("bal")))
      .groupBy("side")
      .agg(count(lit(1)).as("cnt"), round(sum("bal"), 4).as("total"))),

    // `cull` dedupe (oink/reduce_cull.cpp:9-20).
    "q6_distinct" -> ((s, dir) =>
      Ops.cull(Tables.lineitem(s, dir).select("l_returnflag", "l_linestatus"))),

    // `invert` (oink/map_invert.cpp:9-15): (key,value)→(value,key).
    "q7_invert" -> ((s, dir) => Ops.invert(
      Tables.orders(s, dir).groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("cnt")))),

    // `collapse`/`sort_multivalues` (mapreduce.cpp:654-675, 2115-2265):
    // per-key values as a canonical sorted digest.
    "q8_collapse" -> ((s, dir) => Tables.customer(s, dir)
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(concat_ws(",", sort_array(collect_set(col("c_nationkey")))).as("nations"))),

    // two-level histogram (oink/histo.cpp:36-73).
    "q9_histogram" -> ((s, dir) =>
      Ops.histogram(Tables.orders(s, dir), col("o_custkey"))),

    // windowed top-1 per group (reference's sort+stateful-limit idiom,
    // oink/wordfreq.cpp:65-82, generalized).
    "q10_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"))
        .where(col("rn") === 1)
        .drop("rn")
    }),

    // kv_stats (mapreduce.cpp:2845-2913): global counts/bytes.
    "q11_stats" -> ((s, dir) => Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).as("nkv"),
        countDistinct("l_orderkey").as("nkeys"),
        sum(length(col("l_returnflag")) + length(col("l_linestatus"))).as("strbytes"))),

    // Skew-resistant salted aggregation — the CC "big zone" scatter
    // (cc_find.cpp:202-300) generalized, targeted at a NON-decomposable
    // aggregate (per-key value list; sums/counts get map-side partial
    // aggregation for free). Semantics-preserving, so the oracle is the
    // PLAIN group-by list.
    "q13_salted_agg" -> ((s, dir) => Ops.saltedCollapse(
        Tables.events(s, dir), col("event_type"), col("user_id"), salts = 8)),

    // Exact per-group percentiles — the distribution numbers a curation
    // run reports. Spark's percentile is a single-pass typed-buffer
    // aggregate; at 100 TB swap for approx_percentile (t-digest) where
    // exactness isn't contractual.
    "q18_percentiles" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))),

    // Sketch counterpart of q18: single-pass mergeable HDR-bin quantiles
    // (graft.functions.LogBinQuantiles at m = 6) over exact integer
    // cents — bounded state per group, ≤1.6% relative error, bit-exact
    // DuckDB replica.
    "q20_quantile_sketch" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(graft.functions.LogBinQuantiles.hdrQuantiles(
        floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
        Seq(0.5, 0.95, 0.99)).as("qq"))
      .select(col("l_returnflag"),
        element_at(col("qq"), 1).as("p50_cents"),
        element_at(col("qq"), 2).as("p95_cents"),
        element_at(col("qq"), 3).as("p99_cents"))),

    // Variable-resolution counterpart of q20: the same log-bin sketch
    // (graft.functions.LogBinQuantiles) at m = 12, 2^-12 relative
    // error — the heavy-tail/t-digest niche with deterministic bin-wise
    // merge.
    "q21_logq_sketch" -> ((s, dir) => Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(graft.functions.LogBinQuantiles.logQuantiles(
        floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
        Seq(0.5, 0.95, 0.99)).as("qq"))
      .select(col("l_returnflag"),
        element_at(col("qq"), 1).as("p50_cents"),
        element_at(col("qq"), 2).as("p95_cents"),
        element_at(col("qq"), 3).as("p99_cents"))),

    // Z-order (Morton) layout key (engine extension): the multi-dim
    // file-skipping sort key — bit-interleave of (o_custkey, o_orderkey)
    // clamped to 10 bits each; pure integer expression, codegen'd.
    "q22_zorder" -> ((s, dir) => Tables.orders(s, dir)
      .select(col("o_orderkey"),
        graft.io.ZOrder.zValueClamped(
          Seq(col("o_custkey"), col("o_orderkey")), 10).as("zval"))),

    // Hierarchical aggregation (engine extension; absent in reference).
    "q15_rollup" -> ((s, dir) => Tables.orders(s, dir)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))),

    // Pivot (engine extension): event_type columns per user decile.
    "q16_pivot" -> ((s, dir) => Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum("value"), 4))),

    // Custom physical operator: per-key top-k with map-side bounded
    // heaps (graft.plans.TopKPerKey) — the reference's per-proc-top-k
    // idiom as a LogicalPlan+Strategy+SparkPlan; only <= k rows per
    // (key, partition) cross the exchange.
    "q17_topk_per_key" -> ((s, dir) => graft.plans.TopKPerKey.topKPerKey(
        Tables.lineitem(s, dir),
        Seq(col("l_suppkey")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        k = 2)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")),

    // SQL-text entry point: the same data through `spark.sql` over
    // registered temp views, exercising the engine's injected SQL
    // function (hash60) — the path a SQL-first user of the extension
    // drives. All-exact aggregates so the oracle pins every value.
    // Full analytic-window surface in one gate: offset functions
    // (lag/lead), distribution functions (ntile/percent_rank), and a
    // running frame min — all over one total order, one window per
    // partition key (scale: per-suppkey partitions, no global sort).
    "q23_window_suite" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          lag(col("l_orderkey"), 1).over(w).as("prev_key"),
          lead(col("l_orderkey"), 1).over(w).as("next_key"),
          ntile(4).over(w).as("tile"),
          round(percent_rank().over(w), 9).as("prank"),
          min(col("l_orderkey"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_min"))
    }),

    // CUBE grouping sets (rollup's 2^n sibling): every subtotal
    // combination in one pass, exact integer cents.
    "q24_cube" -> ((s, dir) => Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("total_cents"))),

    // Null-safe equality join (<=>): NULL keys MATCH each other — the
    // semantics dimension-bridge joins need when "unknown" is a real
    // category; an ordinary equi-join silently drops those rows.
    "q25_nullsafe" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        when(col("o_custkey") % 11 === 0, lit(null))
          .otherwise(col("o_custkey") % 7).as("k"),
        col("o_orderkey"))
      val counts = base.groupBy("k").agg(count(lit(1)).as("n"))
      counts.as("a").join(counts.as("b"),
          col("a.k") <=> col("b.k"))
        .select(col("a.k").as("k"), col("a.n").as("n_left"),
          col("b.n").as("n_right"))
    }),

    // Correlated NOT EXISTS through the SQL surface: Catalyst rewrites
    // the subquery to a left-anti join (RewritePredicateSubquery) —
    // customers with no orders above the priority-1 median price.
    "q26_exists" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT c_custkey, c_nationkey
              |FROM customer c
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM orders o
              |  WHERE o.o_custkey = c.c_custkey
              |    AND o.o_totalprice > 100000.0)""".stripMargin)
    }),

    // Recursive CTE (Spark 4 WITH RECURSIVE, UNION ALL + hop bound —
    // UNION-distinct recursion is not yet in Spark, probed): 2-hop BFS
    // reachability from vertex 0 over the derived edge graph, min hops
    // per reached vertex. The iterative-fixpoint SQL surface the
    // reference's script layer could never express.
    "q27_recursive_sql" -> ((s, dir) => {
      Tables.edges(s, dir).createOrReplaceTempView("graft_rec_edges")
      s.sql("""WITH RECURSIVE reach(v, hops) AS (
              |  SELECT CAST(0 AS BIGINT) AS v, 0 AS hops
              |  UNION ALL
              |  SELECT e.dst, r.hops + 1
              |  FROM reach r JOIN graft_rec_edges e ON e.src = r.v
              |  WHERE r.hops < 2)
              |SELECT v, CAST(min(hops) AS BIGINT) AS hops
              |FROM reach GROUP BY v""".stripMargin)
    }),

    // Correlated LATERAL derived table with ORDER BY/LIMIT — per nation
    // the 3 priciest orders of its customers (exact integer cents).
    // Catalyst decorrelates to a join + per-key limit; the same "top-k
    // per outer row" shape TopKPerKey serves on the DataFrame side.
    "q28_lateral" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT n.n_nationkey, t.o_orderkey, t.price_cents
              |FROM nation n,
              |LATERAL (SELECT o.o_orderkey,
              |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
              |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |  WHERE c.c_nationkey = n.n_nationkey
              |  ORDER BY price_cents DESC, o.o_orderkey LIMIT 3) t""".stripMargin)
    }),

    // Explicit GROUPING SETS (the general form CUBE/ROLLUP specialize):
    // a hand-picked lattice — (status, priority), (status), () — with
    // exact integer cents. Catalyst expands to one Expand + one
    // aggregate, a single pass over orders.
    "q29_grouping_sets" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
              |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              |    AS BIGINT) AS total_cents
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
              |  (o_orderstatus), ())""".stripMargin)
    }),

    // UNPIVOT (wide → long melt, the inverse of q15's pivot): per
    // linestatus return-flag counts melted to (linestatus, flag, val)
    // rows via the typed Dataset.unpivot API. Plans as a single Expand
    // over the aggregate — one pass, no join against a metric table.
    "q30_unpivot" -> ((s, dir) => {
      val wide = Tables.lineitem(s, dir)
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("a_cnt"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("n_cnt"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r_cnt"))
      wide.unpivot(Array(col("l_linestatus")),
        Array(col("a_cnt"), col("n_cnt"), col("r_cnt")), "flag", "val")
    }),

    // SQL-defined scalar functions (Spark 4 CREATE FUNCTION … RETURN
    // expr) — the user-extension path that, unlike a Scala/Python UDF,
    // the analyzer INLINES into the plan: the aggregate below runs as
    // plain codegen'd arithmetic (SqlUdfSpec proves no UDF node
    // survives). One function nests the other, exercising recursive
    // inlining; exact integer cents keep the gate hashable.
    "q31_sql_udf" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(p DOUBLE)
              |RETURNS BIGINT RETURN CAST(floor(p * 100 + 0.5) AS BIGINT)""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_cents(
              |  p DOUBLE, d DOUBLE) RETURNS BIGINT
              |RETURN graft_cents(p) - graft_cents(p * d)""".stripMargin)
      s.sql("""SELECT l_returnflag, count(*) AS cnt,
              |  sum(graft_cents(l_extendedprice)) AS gross_cents,
              |  sum(graft_disc_cents(l_extendedprice, l_discount)) AS net_cents
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),

    // Table-valued SQL UDF in a correlated LATERAL: each order fans
    // out into n = orderkey%3+1 installment rows, the order's exact
    // cents split with the remainder spread over the first cents%n
    // parts (Σ part_cents = cents by construction). The TVF body is
    // plain SQL, so the fan-out plans as an inlined explode — no
    // opaque generator function.
    "q32_sql_tvf" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_splits(n INT)
              |RETURNS TABLE(part INT)
              |RETURN SELECT explode(sequence(0, n - 1)) AS part""".stripMargin)
      s.sql("""WITH o AS (SELECT o_orderkey,
              |    CAST(o_orderkey % 3 + 1 AS INT) AS n,
              |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
              |  FROM orders)
              |SELECT o.o_orderkey, t.part,
              |  o.cents div o.n + CASE WHEN t.part < o.cents % o.n
              |    THEN 1 ELSE 0 END AS part_cents
              |FROM o, LATERAL graft_splits(o.n) t""".stripMargin)
    }),

    // EXCEPT ALL / INTERSECT ALL — the MULTISET set operations (plain
    // EXCEPT/INTERSECT dedup; ALL preserves multiplicities: intersect
    // = min(m_a, m_b) copies, except = m_a − m_b). The per-key counts
    // in the output are exactly those multiplicity formulas, which a
    // set-semantics engine would collapse to 1 — so the gate proves
    // ALL semantics, not just membership. One Expand-free plan each.
    "q33_setops" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""WITH a AS (SELECT l_orderkey AS x FROM lineitem
              |    WHERE l_returnflag = 'A'),
              |  r AS (SELECT l_orderkey AS x FROM lineitem
              |    WHERE l_returnflag = 'R')
              |SELECT 'intersect_all' AS op, x, count(*) AS cnt
              |FROM (SELECT x FROM a INTERSECT ALL SELECT x FROM r)
              |GROUP BY x
              |UNION ALL
              |SELECT 'except_all' AS op, x, count(*) AS cnt
              |FROM (SELECT x FROM a EXCEPT ALL SELECT x FROM r)
              |GROUP BY x""".stripMargin)
    }),

    // Collated comparison semantics (Spark 4 COLLATE): a deterministic
    // mixed-case mangling of o_orderpriority (upper on even keys,
    // lower on odd) must regroup under UTF8_LCASE as if never mangled,
    // and the collated filter matches 'F' against lowercase 'f'. The
    // output lowercases the group key, so no representative-choice
    // nondeterminism reaches the hash; the oracle models the collation
    // with plain lower() (equivalent for ASCII).
    "q34_collation" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""WITH m AS (SELECT o_orderkey, o_orderstatus,
              |    CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
              |         ELSE lower(o_orderpriority) END AS pri
              |  FROM orders)
              |SELECT CAST(lower(collate(pri, 'UTF8_LCASE')) AS STRING) AS pri,
              |  count(*) AS cnt, min(o_orderkey) AS min_key
              |FROM m
              |WHERE collate(o_orderstatus, 'UTF8_LCASE') = 'f'
              |GROUP BY collate(pri, 'UTF8_LCASE')""".stripMargin)
    }),

    // Ordered-set aggregates (Spark 4 SQL surface): listagg WITHIN
    // GROUP (ORDER BY …) — deterministic because the order is total
    // and DISTINCT bounds the string; median + percentile_cont over
    // exact integers (quarter fractions: every interpolation product
    // is exact in binary, so the doubles match DuckDB bit-for-bit).
    "q35_listagg" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT o_orderstatus,
              |  listagg(DISTINCT o_orderpriority, '|')
              |    WITHIN GROUP (ORDER BY o_orderpriority) AS pris,
              |  median(o_custkey) AS med_cust,
              |  percentile_cont(0.25) WITHIN GROUP (ORDER BY o_custkey)
              |    AS p25_cust,
              |  count(*) AS cnt
              |FROM orders GROUP BY o_orderstatus""".stripMargin)
    }),

    // SQL PIVOT clause (the parser surface over q13's DataFrame pivot):
    // two aggregates per pivot value, explicit value list with aliases.
    // Cells whose (pri, status) group is EMPTY are NULL — even for
    // count(*), because pivot aggregates the per-group value two-phase
    // (the oracle replays that with max(CASE …) over a grouped CTE,
    // NOT with filtered counts, which would yield 0).
    "q36_pivot_sql" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT * FROM (
              |  SELECT o_orderpriority AS pri, o_orderstatus AS st,
              |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
              |  FROM orders)
              |PIVOT (count(*) AS cnt, sum(cents) AS cents
              |  FOR st IN ('F' AS f, 'O' AS o, 'P' AS p))""".stripMargin)
    }),

    "q19_sql" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      graft.functions.GraftFunctions.register(s)
      s.sql("""SELECT o_orderpriority,
              |       count(*) AS cnt,
              |       hash60(o_orderpriority) AS pri_hash,
              |       min(o_orderkey) AS min_key,
              |       max(o_orderkey) AS max_key
              |FROM orders GROUP BY o_orderpriority""".stripMargin)
    }),

    // SQL PIPE syntax (Spark 4's |> operator chain — SIGMOD'24 "SQL Has
    // Problems. We Can Fix Them" shape): the same relational algebra as
    // a classic query, but staged as FROM |> WHERE |> EXTEND |>
    // AGGREGATE |> WHERE |> ORDER BY. Gated against the classic-SQL
    // DuckDB equivalent — the surface syntax must not change one row.
    "q37_pipe_sql" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""FROM lineitem
              ||> WHERE l_quantity >= 10
              ||> EXTEND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              |     AS cents
              ||> AGGREGATE count(*) AS cnt, sum(cents) AS sum_cents,
              |     max(l_quantity) AS max_qty
              |   GROUP BY l_returnflag, l_linestatus
              ||> WHERE cnt > 5
              ||> SELECT l_returnflag, l_linestatus, cnt, sum_cents, max_qty"""
        .stripMargin)
    }),

    // GROUP BY ALL / ORDER BY ALL (the DuckDB-originated shorthand
    // Spark 4 adopted: every non-aggregate output column groups) plus
    // IDENTIFIER() table templating — the parameterized-SQL surface a
    // query service builds statements with. DuckDB runs the identical
    // shorthand, so the oracle is nearly the same text.
    "q38_group_by_all" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
              |  min(o_orderkey) AS min_key
              |FROM IDENTIFIER('orders')
              |WHERE o_orderkey % 3 = 0
              |GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),

    // ANSI error-safe arithmetic (try_*): under ANSI mode every
    // overflow / zero-divide / bad-index is a runtime ERROR, and the
    // try_ family is the sanctioned per-row NULL escape — the semantics
    // a 100 TB batch job needs to survive one poisoned row without
    // losing the other billion. Each column exercises a different
    // failure class (zero divisor, BIGINT overflow on add and on
    // multiply, out-of-range array index); the oracle states the NULL
    // pattern explicitly. (Probed: index 0 THROWS even under
    // try_element_at — Spark treats it as a shall-never error class,
    // not a data error — so the gate exercises out-of-range instead.)
    "q39_try_arith" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT o_orderkey,
              |  try_divide(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
              |    o_orderkey % 3) AS div_cents,
              |  try_add(9223372036854775807, o_orderkey % 2) AS add_ovf,
              |  try_multiply(o_orderkey, 4611686018427387904L) AS mul_ovf,
              |  try_element_at(array('a', 'b'),
              |    CAST(o_orderkey % 4 + 1 AS INT)) AS idx
              |FROM orders""".stripMargin)
    }),

    // Spark 4's approx_top_k heavy-hitters sketch (space-saving). With
    // far fewer distinct items than the 10 000-slot default the sketch
    // is EXACT, so the DuckDB oracle is the exact top-3 — the same
    // audit discipline as the HLL/KMV gates (sketch on the engine path,
    // exact truth on the oracle path). No ties straddle the k=3 cut at
    // any test SF (checked), so the selected set is deterministic.
    "q41_approx_topk" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""SELECT item AS event_type, count AS cnt FROM
              |  (SELECT inline(approx_top_k(event_type, 3)) FROM events)
              |""".stripMargin)
    }),

    // SQL session VARIABLES + EXECUTE IMMEDIATE (Spark 4 scripting
    // surface): DECLARE a typed variable, SET VAR it, store the query
    // TEXT in a second variable, and run it via EXECUTE IMMEDIATE with
    // the threshold bound through a positional parameter marker — the
    // parameterized-SQL path a driver-less SQL client uses. The oracle
    // inlines the constant; the output must not change one row.
    "q42_sql_vars" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("DECLARE OR REPLACE VARIABLE graft_thr DOUBLE DEFAULT 500.0")
      s.sql("SET VAR graft_thr = 700.0")
      s.sql("DECLARE OR REPLACE VARIABLE graft_q42 STRING DEFAULT ''")
      s.sql("""SET VAR graft_q42 =
              |  'SELECT event_type, count(*) AS n_above,
              |     CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              |       AS BIGINT) AS cents_above
              |   FROM events WHERE value > ? GROUP BY event_type'
              |""".stripMargin)
      s.sql("EXECUTE IMMEDIATE graft_q42 USING graft_thr")
    }),

    // SQL SCRIPTING (Spark 4's procedural BEGIN…END blocks): a WHILE
    // loop builds the threshold in a session variable (5 × 100.0 —
    // exact doubles), an IF validates it, and the block's result is
    // its final SELECT. The oracle inlines the computed constant: the
    // control flow must be semantically invisible.
    "q43_sql_script" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql("""BEGIN
              |  DECLARE thr DOUBLE DEFAULT 0.0;
              |  DECLARE i INT DEFAULT 0;
              |  WHILE i < 5 DO
              |    SET thr = thr + 100.0;
              |    SET i = i + 1;
              |  END WHILE;
              |  IF thr <> 500.0 THEN
              |    SELECT raise_error('loop drifted') AS boom;
              |  END IF;
              |  SELECT event_type, count(*) AS n_above,
              |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              |      AS BIGINT) AS cents_above
              |  FROM events WHERE value > thr / 1000.0
              |  GROUP BY event_type;
              |END""".stripMargin)
    }),

    // Column DEFAULT values (Spark 3.4+ SQL surface): a table declares
    // per-column defaults; a column-list INSERT fills the omitted
    // columns, and the DEFAULT keyword works positionally. Run-unique
    // table/view names keep concurrent gate runs from racing in the
    // shared session, and the table + its temp LOCATION are dropped and
    // recursively deleted once the aggregate is materialized (ADVICE
    // r9: deleteOnExit cannot remove non-empty dirs).
    "q44_defaults" -> ((s, dir) => {
      val runId = java.util.UUID.randomUUID().toString.replace("-", "_")
      val loc = Bridge.scratchDir("graft_defaults")
      val tbl = s"graft_defaults_tbl_$runId"
      val src = s"graft_defaults_src_$runId"
      try {
        s.sql(s"""CREATE TABLE $tbl (
                 |  o_orderkey BIGINT,
                 |  status STRING DEFAULT 'open',
                 |  qty BIGINT DEFAULT 1
                 |) USING parquet LOCATION '${loc.getPath}/t'""".stripMargin)
        Tables.orders(s, dir).where(col("o_orderkey") % 100 === 0)
          .select("o_orderkey").createOrReplaceTempView(src)
        s.sql(s"INSERT INTO $tbl (o_orderkey) " +
          s"SELECT o_orderkey FROM $src")
        s.sql(s"INSERT INTO $tbl VALUES (-1, DEFAULT, 7), (-2, 'closed', DEFAULT)")
        // materialize before dropping the backing table/location
        val out = s.sql(s"""SELECT status, count(*) AS cnt,
                 |  sum(qty) AS sum_qty, sum(o_orderkey) AS sum_key
                 |FROM $tbl GROUP BY status""".stripMargin).localCheckpoint()
        out
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.catalog.dropTempView(src)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }),

    // BUCKETED CO-LOCATED JOIN — the shuffle-free join, the single
    // most important 100 TB layout decision: both fact tables are
    // written CLUSTERED BY the join key SORTED BY it INTO the same
    // bucket count, so the join planner reads bucket i against bucket
    // i directly — NO Exchange on either side, ever again, for every
    // downstream join on that key (the write pays the shuffle once;
    // at 100 TB that is the difference between re-shuffling petabytes
    // per query and none). Broadcast is disabled around the join so
    // the bucketed sort-merge path is what runs (and what
    // BucketJoinPlanSpec asserts: zero ShuffleExchange in the plan);
    // the oracle sees only the relational answer.
    "q45_bucket_join" -> ((s, dir) => {
      val runId = java.util.UUID.randomUUID().toString.replace("-", "_")
      val loc = Bridge.scratchDir("graft_bucket")
      val li = s"graft_bkt_li_$runId"
      val od = s"graft_bkt_od_$runId"
      try {
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"${loc.getPath}/li").saveAsTable(li)
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"${loc.getPath}/od").saveAsTable(od)
        // MERGE hint, not a session-conf flip: forcing the sort-merge
        // path via spark.conf would race concurrent gate queries in
        // the shared session (the q44 lesson); the hint is plan-local
        val out = s.sql(
          s"""SELECT /*+ MERGE(l) */ o.o_orderpriority AS priority,
             |  count(*) AS n_items,
             |  sum(CAST(l.l_quantity AS BIGINT)) AS sum_qty
             |FROM $li l JOIN $od o ON l.l_orderkey = o.o_orderkey
             |GROUP BY 1""".stripMargin).localCheckpoint()
        out
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $li")
        s.sql(s"DROP TABLE IF EXISTS $od")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }),

    // RFM segmentation (recency/frequency/monetary quintiles) — the
    // marketing-analytics standard. Scores are quintiles WITHIN each
    // market segment (the standard segment-relative practice, and the
    // scale-honest shape: the ntile window partitions by segment over
    // the already-reduced per-customer frame — never one global
    // partition). Monetary rounds to cents BEFORE ranking and user_id
    // breaks ties, so both engines rank identically; the global
    // reference date is a 1-row broadcast.
    "q40_rfm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
      val refDate = o.agg(max(to_date(col("o_orderdate"))).as("ref_d"))
      val perCust = o.groupBy("o_custkey").agg(
        max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        (round(sum(col("o_totalprice")) * 100) / 100).as("monetary"))
      val seg = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val base = perCust.crossJoin(broadcast(refDate))
        .withColumn("recency_days", datediff(col("ref_d"), col("last_d")))
        .join(seg, col("o_custkey") === col("c_custkey"))
      def quintile(order: org.apache.spark.sql.Column*) = ntile(5).over(
        Window.partitionBy("c_mktsegment").orderBy(order: _*))
      base.select(col("o_custkey").as("custkey"), col("c_mktsegment"),
        col("recency_days"), col("frequency"), col("monetary"),
        quintile(col("recency_days").asc, col("o_custkey").asc).as("r_score"),
        quintile(col("frequency").desc, col("o_custkey").asc).as("f_score"),
        quintile(col("monetary").desc, col("o_custkey").asc).as("m_score"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin,

    "q3_join_agg" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS total, count(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q4_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q5_union" ->
      """SELECT side, count(*) AS cnt, round(sum(bal), 4) AS total FROM (
        | SELECT 'c' AS side, c_acctbal AS bal FROM customer
        | UNION ALL
        | SELECT 's' AS side, s_acctbal AS bal FROM supplier
        |) GROUP BY side""".stripMargin,

    "q6_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q7_invert" ->
      """SELECT count(*) AS cnt, prio FROM
        | (SELECT o_orderpriority AS prio FROM orders) GROUP BY prio""".stripMargin,

    "q8_collapse" ->
      """SELECT c_mktsegment AS seg,
        | array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q9_histogram" ->
      """SELECT cnt, count(*) AS freq FROM
        | (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey)
        |GROUP BY cnt ORDER BY cnt DESC""".stripMargin,

    "q10_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn = 1""".stripMargin,

    "q11_stats" ->
      """SELECT count(*) AS nkv, count(DISTINCT l_orderkey) AS nkeys,
        | CAST(sum(length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS strbytes
        |FROM lineitem""".stripMargin,

    "q13_salted_agg" ->
      """SELECT event_type AS k,
        | array_to_string(list_sort(list(user_id)), ',') AS vals
        |FROM events GROUP BY event_type""".stripMargin,

    "q19_sql" ->
      s"""SELECT o_orderpriority,
         | count(*) AS cnt,
         | ${graft.functions.Hashing.hash60Sql("o_orderpriority")} AS pri_hash,
         | min(o_orderkey) AS min_key,
         | max(o_orderkey) AS max_key
         |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q26_exists" ->
      """SELECT c_custkey, c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > 100000.0)""".stripMargin,

    // identical recursion in DuckDB (UNION ALL + hop bound on both
    // sides keeps the enumerated path multisets equal by construction)
    "q27_recursive_sql" ->
      s"""WITH RECURSIVE e AS (${graft.io.Tables.EdgesSql}),
         |reach(v, hops) AS (
         |  SELECT CAST(0 AS BIGINT) AS v, 0 AS hops
         |  UNION ALL
         |  SELECT e.dst, r.hops + 1 FROM reach r JOIN e ON e.src = r.v
         |  WHERE r.hops < 2)
         |SELECT v, CAST(min(hops) AS BIGINT) AS hops
         |FROM reach GROUP BY v""".stripMargin,

    "q29_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())""".stripMargin,

    "q28_lateral" ->
      """SELECT n.n_nationkey, t.o_orderkey, t.price_cents
        |FROM nation n,
        |LATERAL (SELECT o.o_orderkey,
        |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY price_cents DESC, o.o_orderkey LIMIT 3) t""".stripMargin,

    // melt replayed as UNION ALL (column-order-free, engine-neutral)
    "q30_unpivot" ->
      """WITH w AS (SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_cnt,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, 'a_cnt' AS flag, a_cnt AS val FROM w
        |UNION ALL SELECT l_linestatus, 'n_cnt', n_cnt FROM w
        |UNION ALL SELECT l_linestatus, 'r_cnt', r_cnt FROM w""".stripMargin,

    // correlated fan-out replayed as LATERAL unnest(range(n))
    "q32_sql_tvf" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 3 + 1 AS INTEGER) AS n,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o.o_orderkey, CAST(t.part AS INTEGER) AS part,
        |  CAST(o.cents // o.n + CASE WHEN t.part < o.cents % o.n
        |    THEN 1 ELSE 0 END AS BIGINT) AS part_cents
        |FROM o, LATERAL (SELECT unnest(range(o.n)) AS part) t""".stripMargin,

    // identical multiset algebra in DuckDB
    "q33_setops" ->
      """WITH a AS (SELECT l_orderkey AS x FROM lineitem
        |    WHERE l_returnflag = 'A'),
        |  r AS (SELECT l_orderkey AS x FROM lineitem
        |    WHERE l_returnflag = 'R')
        |SELECT 'intersect_all' AS op, x, count(*) AS cnt
        |FROM (SELECT x FROM a INTERSECT ALL SELECT x FROM r)
        |GROUP BY x
        |UNION ALL
        |SELECT 'except_all' AS op, x, count(*) AS cnt
        |FROM (SELECT x FROM a EXCEPT ALL SELECT x FROM r)
        |GROUP BY x""".stripMargin,

    // string_agg is DuckDB's listagg; same WITHIN-GROUP order and
    // DISTINCT; CASTs pin DOUBLE against DuckDB's decimal preference
    "q35_listagg" ->
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
        |    AS pris,
        |  CAST(median(o_custkey) AS DOUBLE) AS med_cust,
        |  CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_custkey)
        |    AS DOUBLE) AS p25_cust,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // two-phase pivot replica: per-(pri, st) aggregates first, then
    // max(CASE) picks each singleton cell — empty cells NULL like pivot
    "q36_pivot_sql" ->
      """WITH b AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |    count(*) AS cnt,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT pri,
        |  max(CASE WHEN st = 'F' THEN cnt END) AS f_cnt,
        |  max(CASE WHEN st = 'F' THEN cents END) AS f_cents,
        |  max(CASE WHEN st = 'O' THEN cnt END) AS o_cnt,
        |  max(CASE WHEN st = 'O' THEN cents END) AS o_cents,
        |  max(CASE WHEN st = 'P' THEN cnt END) AS p_cnt,
        |  max(CASE WHEN st = 'P' THEN cents END) AS p_cents
        |FROM b GROUP BY pri""".stripMargin,

    "q38_group_by_all" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q41_approx_topk" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY cnt DESC LIMIT 3""".stripMargin,

    // the variable-threshold query with the parameter inlined
    "q42_sql_vars" ->
      """SELECT event_type, count(*) AS n_above,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents_above
        |FROM events WHERE value > 700.0 GROUP BY event_type""".stripMargin,

    // the WHILE loop computes thr = 500.0 exactly; 500.0/1000.0 = 0.5
    // in IEEE — the script's control flow inlines to this constant
    "q43_sql_script" ->
      """SELECT event_type, count(*) AS n_above,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents_above
        |FROM events WHERE value > 0.5 GROUP BY event_type""".stripMargin,

    // defaults inlined: omitted columns take ('open', 1); the DEFAULT
    // keyword rows take one default each
    "q44_defaults" ->
      """WITH src AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 100 = 0),
        |t AS (SELECT o_orderkey, 'open' AS status, 1 AS qty FROM src
        |  UNION ALL SELECT -1, 'open', 7
        |  UNION ALL SELECT -2, 'closed', 1)
        |SELECT status, count(*) AS cnt,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM t GROUP BY 1""".stripMargin,

    // the bucketed layout is invisible to the answer: a plain join
    "q45_bucket_join" ->
      """SELECT o.o_orderpriority AS priority, count(*) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    "q40_rfm" ->
      """WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_d
        |  FROM orders),
        |pc AS (SELECT o_custkey,
        |  max(CAST(o_orderdate AS DATE)) AS last_d,
        |  count(*) AS frequency,
        |  round(sum(o_totalprice) * 100) / 100 AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT pc.o_custkey AS custkey, c.c_mktsegment,
        |  date_diff('day', pc.last_d, ref.ref_d) AS recency_days,
        |  pc.frequency, pc.monetary,
        |  ntile(5) OVER (PARTITION BY c.c_mktsegment
        |    ORDER BY date_diff('day', pc.last_d, ref.ref_d) ASC,
        |             pc.o_custkey ASC) AS r_score,
        |  ntile(5) OVER (PARTITION BY c.c_mktsegment
        |    ORDER BY pc.frequency DESC, pc.o_custkey ASC) AS f_score,
        |  ntile(5) OVER (PARTITION BY c.c_mktsegment
        |    ORDER BY pc.monetary DESC, pc.o_custkey ASC) AS m_score
        |FROM pc CROSS JOIN ref
        |JOIN customer c ON pc.o_custkey = c.c_custkey""".stripMargin,

    // the try_* NULL pattern stated explicitly
    "q39_try_arith" ->
      """SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |    / CAST(NULLIF(o_orderkey % 3, 0) AS DOUBLE) AS div_cents,
        |  CASE WHEN o_orderkey % 2 = 0
        |    THEN 9223372036854775807 END AS add_ovf,
        |  CASE WHEN o_orderkey = 0 THEN 0
        |       WHEN o_orderkey = 1 THEN 4611686018427387904
        |  END AS mul_ovf,
        |  CASE WHEN o_orderkey % 4 = 0 THEN 'a'
        |       WHEN o_orderkey % 4 = 1 THEN 'b' END AS idx
        |FROM orders""".stripMargin,

    // the pipe chain, re-expressed as classic SQL
    "q37_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  max(l_quantity) AS max_qty
        |FROM lineitem WHERE l_quantity >= 10
        |GROUP BY 1, 2 HAVING count(*) > 5""".stripMargin,

    // lower() models the lcase collation exactly on this ASCII data
    "q34_collation" ->
      """WITH m AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
        |         ELSE lower(o_orderpriority) END AS pri
        |  FROM orders)
        |SELECT lower(pri) AS pri, count(*) AS cnt, min(o_orderkey) AS min_key
        |FROM m WHERE lower(o_orderstatus) = 'f'
        |GROUP BY lower(pri)""".stripMargin,

    // the SQL-UDF bodies inlined by hand
    "q31_sql_udf" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS gross_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    - CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS net_cents
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q23_window_suite" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  lag(l_orderkey, 1) OVER w AS prev_key,
        |  lead(l_orderkey, 1) OVER w AS next_key,
        |  CAST(ntile(4) OVER w AS INTEGER) AS tile,
        |  round(percent_rank() OVER w, 9) AS prank,
        |  min(l_orderkey) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin,

    "q24_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q25_nullsafe" ->
      """WITH base AS (SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
        |    ELSE o_custkey % 7 END AS k, o_orderkey FROM orders),
        |counts AS (SELECT k, count(*) AS n FROM base GROUP BY k)
        |SELECT a.k AS k, a.n AS n_left, b.n AS n_right
        |FROM counts a JOIN counts b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,

    "q18_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q20_quantile_sketch" -> graft.functions.LogBinQuantiles.hdrqOracleSql(
      "lineitem", "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)",
      "l_returnflag",
      Seq("p50_cents" -> 0.5, "p95_cents" -> 0.95, "p99_cents" -> 0.99)),

    "q21_logq_sketch" -> graft.functions.LogBinQuantiles.lgqOracleSql(
      "lineitem", "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)",
      "l_returnflag",
      Seq("p50_cents" -> 0.5, "p95_cents" -> 0.95, "p99_cents" -> 0.99)),

    "q22_zorder" -> {
      def clamp(c: String) = s"least(greatest(CAST($c AS BIGINT), 0), 1023)"
      s"""SELECT o_orderkey,
         |  CAST(${graft.io.ZOrder.zValueSql(
               Seq(clamp("o_custkey"), clamp("o_orderkey")), 10)} AS BIGINT) AS zval
         |FROM orders""".stripMargin
    },

    "q15_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,

    "q17_topk_per_key" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 2""".stripMargin,

    "q16_pivot" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error
        |FROM events GROUP BY 1""".stripMargin
  )
}
