package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{Hashing, HllSketch}

/** Approximate per-vertex neighborhood function — ANF (Palmer, Gibbons,
  * Faloutsos, "ANF: a fast and scalable tool for data mining in massive
  * graphs", KDD 2002) in its HyperANF form (Boldi, Rosa, Vigna,
  * WWW 2011): N(v, r) ≈ |{u : v ⇝ u within ≤ r hops}| estimated by a
  * per-vertex HLL sketch that each round absorbs the out-neighbors'
  * sketches. This is the ONLY distance census that exists at 100 TB —
  * exact reach sets are Θ(|V|²) — and it yields the effective-diameter
  * and hop-plot statistics a crawl/link corpus is profiled with.
  *
  * Round r: sketch_r(v) = sketch_{r-1}(v) ∪ ⋃_{v→u} sketch_{r-1}(u) —
  * one edge join + one group-merge aggregation; the shuffle carries one
  * 256-byte blob per (vertex, partition) thanks to partial aggregation
  * ([[graft.functions.HllSketch]]'s blob forms), never vertex sets.
  * Registers merge by max and the estimate is exact-power arithmetic
  * (the sketch's own discipline), so every estimate is
  * bit-reproducible under any partitioning and a DuckDB replica over
  * (v, bucket, rho) rows verifies each round exactly.
  */
object NeighborhoodFunction {

  /** Seed for the vertex-id hash feeding the sketches. */
  val Seed = 211L

  /** @param edges raw directed edge list (src, dst)
    * @param rounds hop radii to report
    * @return (v BIGINT, r BIGINT, n_est DOUBLE) for r in 0..rounds:
    *         estimated count of vertices within ≤ r hops of v (v
    *         itself included). r = 0 is the SKETCH's estimate of the
    *         singleton ball, not the exact 1.0 — HyperBall's
    *         convention, so a counter that never grows telescopes to
    *         exactly zero in the derived ball differences (a sink's
    *         closeness is 0, not an estimate-vs-exact wobble). */
  def run(spark: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .persist()
    val verts = GraphOps.vertexExtract(e)
    var skCk = Bridge.lazyCheckpoint(verts.groupBy("v")
      .agg(HllSketch.hll60Regs(Hashing.hash60(Seed, col("v"))).as("sk"),
        HllSketch.hll60(Hashing.hash60(Seed, col("v"))).as("n_est")))
    var sk = skCk.select("v", "sk")
    val estParts = scala.collection.mutable.Buffer(GraphOps.advance(
      skCk.select(col("v"), lit(0L).as("r"), col("n_est")))(_.count())._1)
    for (r <- 1 to rounds) {
      val msgs = e.join(sk.withColumnRenamed("v", "sv"), col("dst") === col("sv"))
        .select(col("src").as("v"), col("sk"))
      val merged = Bridge.lazyCheckpoint(sk.union(msgs).groupBy("v")
        .agg(HllSketch.hllUnion(col("sk")).as("sk"),
          HllSketch.hllUnionEst(col("sk")).as("n_est")))
      // the per-round report is tiny (16 B/vertex) and outlives the
      // sketch frame, so it gets its own checkpoint — only TWO
      // sketch-sized frames are ever alive, not one per round. Its
      // count materializes `merged` too.
      estParts += GraphOps.advance(
        merged.select(col("v"), lit(r.toLong).as("r"), col("n_est")), skCk)(_.count())._1
      skCk = merged
      sk = merged.select("v", "sk")
    }
    val out = GraphOps.advance(estParts.reduce(_ union _),
      estParts.toSeq :+ skCk: _*)(_.count())._1
    e.unpersist(false)
    out
  }

  /** Hop plot over the [[run]] output (Palmer et al. §3: total pairs
    * within ≤ r hops, the curve whose knee is the effective diameter).
    * The 4-decimal estimates are scaled to exact BIGINTs before the
    * cross-vertex sum — summing raw DOUBLEs would make the total depend
    * on partitioning — and the reach ratio is then ONE IEEE division of
    * exact integers, identical in both engines.
    *
    * @return (r BIGINT, pairs_x1e4 BIGINT, reach_ratio DOUBLE):
    *         Σ_v N(v,r) scaled by 10⁴, and its ratio to the last round
    *         (the cumulative-reach fraction the 90%-effective-diameter
    *         rule reads off). */
  def hopPlot(anf: DataFrame): DataFrame = {
    val scaled = anf.select(col("r"),
      round(col("n_est") * 10000).cast("long").as("s"))
    val byRound = scaled.groupBy("r").agg(sum("s").as("pairs_x1e4"))
    val last = byRound.agg(max(struct(col("r"), col("pairs_x1e4"))).as("m"))
      .select(col("m.pairs_x1e4").as("final_pairs"))
    byRound.crossJoin(broadcast(last))
      .select(col("r"), col("pairs_x1e4"),
        (col("pairs_x1e4").cast("double") / col("final_pairs")).as("reach_ratio"))
  }

  /** HyperBall outward harmonic centrality (Boldi & Vigna, "In-core
    * computation of geometric centralities with HyperBall", ICDMW 2013)
    * for EVERY vertex — the scale path next to the exact seeded
    * [[graft.queries.GraphQueries]] `g_harmonic` (3 sources):
    * H(v) ≈ Σ_r (N(v,r) − N(v,r−1)) / r with N(v,0) = 1, each ball
    * difference an exact scaled BIGINT and the per-hop division/sum a
    * FIXED expression tree, so both engines produce the identical
    * double. Counts vertices v reaches (out-direction); pass reversed
    * edges to [[run]] for the classical in-harmonic. */
  def hyperballHarmonic(anf: DataFrame, rounds: Int): DataFrame = {
    val scaled = anf.groupBy("v").pivot("r", (0 to rounds).map(_.toLong))
      .agg(first(round(col("n_est") * 10000).cast("long")))
    val harmonic = (1 to rounds).map { r =>
      (col(s"$r") - col(s"${r - 1}")).cast("double") / lit(10000.0 * r)
    }.reduce(_ + _)
    scaled.select(col("v"), round(harmonic, 9).as("harmonic_est"))
  }

  /** HyperBall closeness (Boldi & Vigna ICDMW 2013 §3): the
    * sum-of-distances companion to [[hyperballHarmonic]] —
    * Σd(v,·) ≈ Σ_r r·(N(v,r) − N(v,r−1)) within the computed radius,
    * closeness = (reached − 1)/Σd. Both the distance total and the
    * reach count are exact scaled BIGINTs (fixed expression tree over
    * the pivoted balls), so the single closing division is the only
    * float op and both engines agree bit-for-bit. Out-direction like
    * the rest of the suite; pass reversed edges for in-closeness.
    *
    * @return (v, reached_x1e4 BIGINT, sumdist_x1e4 BIGINT,
    *         closeness_est DOUBLE) */
  def hyperballCloseness(anf: DataFrame, rounds: Int): DataFrame = {
    val scaled = anf.groupBy("v").pivot("r", (0 to rounds).map(_.toLong))
      .agg(first(round(col("n_est") * 10000).cast("long")))
    val sumdist = (1 to rounds).map { r =>
      (col(s"$r") - col(s"${r - 1}")) * r
    }.reduce(_ + _)
    scaled.select(col("v"),
      col(s"$rounds").as("reached_x1e4"),
      sumdist.as("sumdist_x1e4"),
      round(when(sumdist > 0,
          (col(s"$rounds") - col("0")).cast("double") / sumdist.cast("double"))
        .otherwise(lit(0.0)), 9).as("closeness_est"))
  }

  /** DuckDB twin of [[hyperballCloseness]]. */
  def hyperballClosenessOracleSql(edgesCte: String, rounds: Int): String = {
    val cols = (0 to rounds).map { r =>
      s"max(CASE WHEN r = $r THEN s END) AS s$r"
    }.mkString(", ")
    val sumdist = (1 to rounds).map { r =>
      s"(s$r - s${r - 1}) * $r"
    }.mkString(" + ")
    s"""${oracleCtes(edgesCte, rounds)},
       |sc AS (SELECT v, r, CAST(round(n_est * 10000) AS BIGINT) AS s FROM anf),
       |pv AS (SELECT v, $cols FROM sc GROUP BY v),
       |sd AS (SELECT v, s0, s$rounds AS reached_x1e4, $sumdist AS sumdist_x1e4 FROM pv)
       |SELECT v, reached_x1e4, sumdist_x1e4,
       |  round(CASE WHEN sumdist_x1e4 > 0
       |    THEN CAST(reached_x1e4 - s0 AS DOUBLE) / CAST(sumdist_x1e4 AS DOUBLE)
       |    ELSE 0.0 END, 9) AS closeness_est
       |FROM sd""".stripMargin
  }

  /** Interpolated 90%-effective diameter (Palmer et al.; Leskovec et
    * al., "Graphs over time", KDD 2005): the hop count at which the
    * cumulative pair curve crosses 90% of its final value, linearly
    * interpolated inside the crossing hop. The crossing test is pure
    * integer arithmetic (10·P_r ≥ 9·P_R on the scaled BIGINTs) and the
    * interpolation is ONE double division of exact integers, so both
    * engines agree bit-for-bit. The window/lag runs over ≤ rounds+1
    * rows — a hop plot is diameter-sized, never data-sized.
    *
    * @return one row (eff_diameter DOUBLE, r_cross BIGINT,
    *         final_pairs_x1e4 BIGINT). */
  def effectiveDiameter(anf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRound = anf
      .select(col("r"), round(col("n_est") * 10000).cast("long").as("s"))
      .groupBy("r").agg(sum("s").as("p"))
    val last = byRound.agg(max(struct(col("r"), col("p"))).as("m"))
      .select(col("m.p").as("pr"))
    val w = Window.orderBy("r")
    byRound.withColumn("prev", lag("p", 1).over(w))
      .crossJoin(broadcast(last))
      .where(col("p") * 10 >= col("pr") * 9 &&
        (col("prev").isNull || col("prev") * 10 < col("pr") * 9))
      .select(
        round(when(col("r") === 0, lit(0.0)).otherwise(
          (col("r") - 1).cast("double") +
            (col("pr") * 9 - col("prev") * 10).cast("double") /
              ((col("p") - col("prev")) * 10).cast("double")), 9)
          .as("eff_diameter"),
        col("r").as("r_cross"),
        col("pr").as("final_pairs_x1e4"))
  }

  /** DuckDB twin of [[effectiveDiameter]]. */
  def effectiveDiameterOracleSql(edgesCte: String, rounds: Int): String =
    s"""${effDiamCtes(edgesCte, rounds)}
       |SELECT eff_diameter, r_cross, final_pairs_x1e4 FROM ed""".stripMargin

  /** The effective-diameter replica as a composable CTE prefix ending
    * in `ed(eff_diameter, r_cross, final_pairs_x1e4)`. */
  def effDiamCtes(edgesCte: String, rounds: Int): String =
    s"""${oracleCtes(edgesCte, rounds)},
       |sc AS (SELECT r, CAST(round(n_est * 10000) AS BIGINT) AS s FROM anf),
       |hp AS (SELECT r, CAST(sum(s) AS BIGINT) AS p FROM sc GROUP BY r),
       |fin AS (SELECT p AS pr FROM hp ORDER BY r DESC LIMIT 1),
       |lg AS (SELECT r, p, lag(p) OVER (ORDER BY r) AS prev, pr
       |  FROM hp, fin),
       |ed AS (SELECT
       |  round(CASE WHEN r = 0 THEN 0.0
       |    ELSE CAST(r - 1 AS DOUBLE) +
       |      CAST(pr * 9 - prev * 10 AS DOUBLE)
       |        / CAST((p - prev) * 10 AS DOUBLE) END, 9) AS eff_diameter,
       |  r AS r_cross, pr AS final_pairs_x1e4
       |FROM lg
       |WHERE p * 10 >= pr * 9 AND (prev IS NULL OR prev * 10 < pr * 9))""".stripMargin

  /** DuckDB twin of [[hopPlot]]. */
  def hopPlotOracleSql(edgesCte: String, rounds: Int): String =
    s"""${oracleCtes(edgesCte, rounds)},
       |sc AS (SELECT r, CAST(round(n_est * 10000) AS BIGINT) AS s FROM anf),
       |hp AS (SELECT r, CAST(sum(s) AS BIGINT) AS pairs_x1e4 FROM sc GROUP BY r)
       |SELECT r, pairs_x1e4,
       |  CAST(pairs_x1e4 AS DOUBLE)
       |    / (SELECT pairs_x1e4 FROM hp ORDER BY r DESC LIMIT 1) AS reach_ratio
       |FROM hp""".stripMargin

  /** DuckDB twin of [[hyperballHarmonic]] — the identical fixed
    * expression tree over the identical scaled integers. */
  def hyperballOracleSql(edgesCte: String, rounds: Int): String = {
    val cols = (0 to rounds).map { r =>
      s"max(CASE WHEN r = $r THEN s END) AS s$r"
    }.mkString(", ")
    val terms = (1 to rounds).map { r =>
      s"CAST(s$r - s${r - 1} AS DOUBLE) / ${10000.0 * r}"
    }.mkString(" + ")
    s"""${oracleCtes(edgesCte, rounds)},
       |sc AS (SELECT v, r, CAST(round(n_est * 10000) AS BIGINT) AS s FROM anf),
       |pv AS (SELECT v, $cols FROM sc GROUP BY v)
       |SELECT v, round($terms, 9) AS harmonic_est FROM pv""".stripMargin
  }

  /** DuckDB replica: per-vertex (bucket, rho) register rows, one
    * group-max round per hop, then [[HllSketch]]'s exact estimator
    * per (v, r). */
  def oracleSql(edgesCte: String, rounds: Int): String =
    s"""${oracleCtes(edgesCte, rounds)}
       |SELECT v, r, n_est FROM anf""".stripMargin

  /** The replica as a composable CTE prefix ending in
    * `anf(v, r, n_est)` — shared by the g_anf oracle and the derived
    * hop-plot / HyperBall oracles. */
  def oracleCtes(edgesCte: String, rounds: Int): String = {
    import HllSketch.{M, RhoCap, W}
    val two52 = 1L << W
    val h = Hashing.hash60Sql(Seed, "v")
    val steps = (1 to rounds).map { r =>
      s"""r$r AS MATERIALIZED (
         |  SELECT v, bucket, max(rho) AS rho FROM (
         |    SELECT v, bucket, rho FROM r${r - 1}
         |    UNION ALL
         |    SELECT e.src AS v, x.bucket, x.rho FROM e0 e
         |    JOIN r${r - 1} x ON x.v = e.dst
         |  ) GROUP BY v, bucket)""".stripMargin
    }.mkString(",\n")
    def estOf(r: Int) =
      s"""SELECT v, CAST($r AS BIGINT) AS r,
         |  floor((CASE WHEN raw <= ${2.5 * M}e0 AND zeros > 0
         |    THEN $M * ln($M * 1.0e0 / zeros) ELSE raw END) * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS n_est
         |FROM (
         |  SELECT v, ($M - count(*)) AS zeros,
         |    (0.7213e0 / (1.0e0 + 1.079e0 / $M)) * $M * $M
         |      / (($M - count(*)) * 1.0e0 + SUM(power(2.0e0, -rho))) AS raw
         |  FROM r$r GROUP BY v)""".stripMargin
    s"""WITH edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
       |hh AS (SELECT v, $h AS h FROM verts),
       |r0 AS MATERIALIZED (
       |  SELECT v, CAST(h // $two52 AS INTEGER) AS bucket,
       |    LEAST(CASE WHEN h % $two52 = 0 THEN ${W + 1}
       |          ELSE ${W + 1} - length(bin(h % $two52)) END, $RhoCap) AS rho
       |  FROM hh),
       |$steps,
       |anf AS MATERIALIZED (
       |${(0 to rounds).map(estOf).mkString("\nUNION ALL\n")})""".stripMargin
  }
}
