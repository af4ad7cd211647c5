package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Seeded-source betweenness dependencies via Brandes' algorithm
  * (Brandes, "A faster algorithm for betweenness centrality", J. Math.
  * Sociol. 2001): forward BFS accumulates shortest-path counts σ, the
  * backward sweep accumulates dependencies
  * δ(v) = Σ_{w∈succ(v)} σ(v)/σ(w)·(1+δ(w)); exact betweenness sums δ
  * over all sources, the standard approximation (Brandes & Pich 2007)
  * over a seeded sample — which is the only form that scales: k seeded
  * sources cost k·O(|E|) instead of |V|·O(|E|). Extends the reference's
  * sssp tooling (`/root/reference/oink/sssp.cpp` runs the same seeded
  * multi-source pattern) with path counting and the dependency sweep.
  *
  * Bulk-synchronous shape: the forward phase is the multi-source BFS
  * frontier loop (σ sums ride the frontier); the backward phase is one
  * join + one aggregation per BFS LEVEL (not per vertex — Brandes'
  * vertex stack becomes level-synchronous batches). All shuffles are
  * keyed on (source, vertex).
  *
  * Determinism discipline: σ is integer-exact; δ is a float, so every
  * per-vertex sum folds its successor terms in SORTED (w, term) order
  * via `aggregate(sort_array(collect_list(...)))` — a left fold over a
  * canonical order is bit-reproducible under any partitioning, and the
  * DuckDB oracle replays the identical fold with list_sort+list_reduce.
  * Parallel edges each contribute a term, exactly like σ counts them.
  */
object Betweenness {

  /** @param edges   raw directed edge list (src, dst); duplicates count
    *                as parallel paths, self-loops never extend a path
    * @param sources seed vertex ids, e.g. [[ShortestPaths.seededSources]]
    * @return (source, v, dist BIGINT, sigma BIGINT, delta DOUBLE):
    *         per-source BFS depth, shortest-path count, and dependency. */
  def run(spark: SparkSession, edges: DataFrame, sources: Seq[Long],
      maxIter: Int = 100): DataFrame = {
    import spark.implicits._
    // both phases probe edges by src every round — partition once, cache
    val e = edges.select(col("src"), col("dst")).repartition(col("src")).persist()
    // materialized by the first level's count
    val roots = Bridge.lazyCheckpoint(sources.toDF("source")
      .select(col("source"), col("source").as("v"),
        lit(0).as("dist"), lit(1L).as("sigma")))
    val sweep = GraphOps.bfs(roots, sources.size.toLong, Seq("source", "v")) {
      (frontier, depth) =>
        frontier.join(e, frontier("v") === e("src"))
          .groupBy(col("source"), col("dst").as("v")).agg(sum("sigma").as("sigma"))
          .select(col("source"), col("v"), lit(depth).as("dist"), col("sigma"))
    }(_.depth < maxIter)
    if (!sweep.drained) {
      sweep.release()
      e.unpersist(false)
      throw new IllegalStateException(s"BFS did not drain in $maxIter levels")
    }
    val vis = sweep.visited

    // backward sweep: one level at a time, deepest first; `deltas`
    // accumulates exactly the levels deeper than the one being computed
    val termFold: Column = aggregate(
      sort_array(collect_list(struct(col("w").as("w"), col("term").as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))
    var deltas = vis.select(col("source"), col("v"),
      lit(0.0).as("delta")).where(lit(false))
    var dd = sweep.depth - 1
    while (dd >= 0) {
      val lvl = sweep.levels(dd).select(col("source"), col("v"), col("sigma"))
      val succ = sweep.levels(dd + 1)
        .select(col("source").as("ws"), col("v").as("w"), col("sigma").as("wsigma"))
      val dPrev = deltas.select(col("source").as("ds"), col("v").as("dv"),
        col("delta").as("wdelta"))
      val terms = lvl
        .join(e, lvl("v") === e("src"))
        .join(succ, col("ws") === col("source") && col("w") === col("dst"))
        .join(dPrev, col("ds") === col("source") && col("dv") === col("w"), "left")
        .select(col("source"), col("v"), col("w"),
          ((col("sigma").cast("double") / col("wsigma")) *
            (lit(1.0) + coalesce(col("wdelta"), lit(0.0)))).as("term"))
      val lvlDelta = terms.groupBy("source", "v").agg(termFold.as("delta"))
      // materialize this level before the next one references it
      deltas = GraphOps.advance(deltas.union(lvlDelta), deltas)(_.count())._1
      dd -= 1
    }
    e.unpersist(false)
    // the returned plan reads only the level and final deltas checkpoints
    vis
      .join(deltas.select(col("source").as("ds"), col("v").as("dv"), col("delta")),
        col("ds") === col("source") && col("dv") === col("v"), "left")
      .select(col("source"), col("v"), col("dist").cast("long").as("dist"),
        col("sigma"), coalesce(col("delta"), lit(0.0)).as("delta"))
  }

  /** Unrolled DuckDB oracle: `levels` forward BFS rounds (≥ actual
    * depth; extra rounds are empty no-ops) then the level-synchronous
    * backward sweep with the identical sorted left-fold. `srcsCte` must
    * yield (source) rows. */
  def oracleSql(edgesCte: String, srcsCte: String, levels: Int): String = {
    val fwd = (0 until levels).map { d =>
      s"""f${d + 1} AS MATERIALIZED (
         |  SELECT w.source, e.dst AS v, ${d + 1} AS dist, CAST(sum(w.sigma) AS BIGINT) AS sigma
         |  FROM f$d w JOIN edges e ON e.src = w.v
         |  WHERE NOT EXISTS (SELECT 1 FROM vis$d x
         |                    WHERE x.source = w.source AND x.v = e.dst)
         |  GROUP BY 1, 2),
         |vis${d + 1} AS MATERIALIZED (
         |  SELECT * FROM vis$d UNION ALL SELECT * FROM f${d + 1})""".stripMargin
    }.mkString(",\n")
    val bwd = (Seq(
      s"""b$levels AS MATERIALIZED (
         |  SELECT source, v, CAST(0 AS DOUBLE) AS delta
         |  FROM vis$levels WHERE 1=0)""".stripMargin) ++
      (levels - 1 to 0 by -1).map { dd =>
        s"""b$dd AS MATERIALIZED (
           |  SELECT source, v,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(list_sort(list(struct_pack(w := w, t := term))),
           |        x -> x.t)),
           |      (a, x) -> a + x) AS delta
           |  FROM (
           |    SELECT vv.source, vv.v, vw.v AS w,
           |      CAST(vv.sigma AS DOUBLE) / vw.sigma
           |        * (1 + coalesce(bw.delta, CAST(0 AS DOUBLE))) AS term
           |    FROM vis$levels vv
           |    JOIN edges e ON e.src = vv.v
           |    JOIN vis$levels vw ON vw.source = vv.source AND vw.v = e.dst
           |      AND vw.dist = ${dd + 1}
           |    LEFT JOIN b${dd + 1} bw ON bw.source = vv.source AND bw.v = vw.v
           |    WHERE vv.dist = $dd
           |  ) GROUP BY 1, 2)""".stripMargin
      }).mkString(",\n")
    val deltaUnion = (0 to levels).map(d => s"SELECT * FROM b$d")
      .mkString(" UNION ALL ")
    s"""WITH edges AS ($edgesCte),
       |$srcsCte,
       |f0 AS MATERIALIZED (
       |  SELECT source, source AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM srcs),
       |vis0 AS MATERIALIZED (SELECT * FROM f0),
       |$fwd,
       |$bwd,
       |deltas AS ($deltaUnion)
       |SELECT vv.source, vv.v, CAST(vv.dist AS BIGINT) AS dist, vv.sigma,
       |  round(coalesce(d.delta, CAST(0 AS DOUBLE)), 9) AS delta
       |FROM vis$levels vv
       |LEFT JOIN deltas d ON d.source = vv.source AND d.v = vv.v""".stripMargin
  }

  /** ln(1/δ) for δ = 0.1, inlined as the SAME literal in both engines —
    * computing ln(10.0) at runtime would ride each libm's last ulp. */
  val LnInvDelta = 2.302585092994046

  /** Riondato-Kornaropoulos sampling guarantee for source-sampled
    * betweenness ("Fast approximation of betweenness centrality through
    * sampling", WSDM 2014): with k sampled sources, the normalized
    * estimate is within ε of truth for EVERY vertex w.p. ≥ 1−δ when
    * k ≥ (c/ε²)(⌊log₂(VD−2)⌋+1+ln(1/δ)) — inverted here for the ε the
    * configured k buys at δ = 0.1, c = 1/2. VD (the vertex diameter)
    * comes from the ANF effective diameter, so this is the sketch-
    * estimated diagnostic that sizes a sample on a graph too large to
    * measure exactly — every input to the formula is an exact integer
    * (⌊log₂⌋ via bit length, never float log), the transcendental
    * constant is a shared literal, and the closing sqrt/division is a
    * fixed IEEE expression tree.
    *
    * @param effdiam [[NeighborhoodFunction.effectiveDiameter]] output
    * @param k       number of sampled sources actually run
    * @return one row (k BIGINT, vd_est BIGINT, epsilon_est DOUBLE) */
  def sampleEpsilon(effdiam: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // hop diameter d → vertex diameter d+1; the RK log term needs ≥ 1
    val vd = col("r_cross") + 1
    val fl = length(bin(greatest(lit(1L), vd - 2))) - 1
    effdiam.select(lit(k.toLong).as("k"), vd.as("vd_est"),
      round(sqrt((fl.cast("double") + 1.0 + LnInvDelta) / (2.0 * k)), 9)
        .as("epsilon_est"))
  }

  /** DuckDB twin of [[sampleEpsilon]] over the same ANF replica. */
  def sampleEpsilonOracleSql(edgesCte: String, rounds: Int, k: Int): String =
    s"""${NeighborhoodFunction.effDiamCtes(edgesCte, rounds)}
       |SELECT CAST($k AS BIGINT) AS k, r_cross + 1 AS vd_est,
       |  round(sqrt((CAST(length(bin(greatest(1, r_cross + 1 - 2))) - 1 AS DOUBLE)
       |    + 1.0 + $LnInvDelta) / ${2.0 * k}), 9) AS epsilon_est
       |FROM ed""".stripMargin
}
