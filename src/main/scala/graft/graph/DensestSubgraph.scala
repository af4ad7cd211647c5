package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Densest-subgraph extraction by greedy threshold peeling — Charikar's
  * greedy 2-approximation (APPROX 2000) in the O(log n)-round parallel
  * form of Bahmani, Kumar & Vassilvitskii ("Densest subgraph in
  * streaming and MapReduce", VLDB 2012): every round removes ALL
  * vertices whose degree is at most 2(1+ε) times the current average
  * density, and the answer is the round prefix with the best |E|/|V|.
  * With ε = 1/4 the removal test is the exact integer comparison
  * 2·d·|V| ≤ 5·|E| (no floats anywhere in the loop), the round count is
  * O(log_{5/4} n), and the result is a 5/2-approximation. A natural
  * companion to [[KCore]]/[[Coreness]] (same peel machinery, global
  * objective instead of a local threshold); the reference's OINK suite
  * has the degree/cc/tri family but no density mining.
  *
  * Determinism: the doomed set of each round is a pure function of the
  * current subgraph (no priorities, no RNG), so rounds replay identically
  * under any partitioning, and the best round is chosen by EXACT rational
  * comparison (driver-side BigInt cross-multiplication; the oracle's
  * HUGEINT cross-multiplication), earliest round on ties — no float
  * ordering anywhere.
  *
  * Scale shape: per round one degree aggregation (map-side combined) and
  * three anti-joins keyed on the vertex; the edge frame only ever
  * shrinks. Counters are one-row aggregates; the removal threshold
  * 2·d·nv ≤ 5·ne stays inside BIGINT for d·nv up to ~4.6e18 — beyond any
  * graph whose edge list fits a real cluster. Checkpoint discipline per
  * [[org.apache.spark.sql.graftbridge.Bridge.lazyCheckpoint]]: constant
  * plan depth, capped stats, blocks released as rounds retire.
  */
object DensestSubgraph {

  /** @return (v BIGINT, nv BIGINT, ne BIGINT, density DOUBLE): the
    *         vertices of the best peel prefix, with its exact |V|, |E|
    *         and the one closing division |E|/|V|. Empty for an edgeless
    *         graph. */
  def run(spark: SparkSession, edges: DataFrame): DataFrame =
    runCounted(spark, edges)._1

  def runCounted(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 200): (DataFrame, Int) = {
    import org.apache.spark.sql.graftbridge.Bridge
    var live = Bridge.lazyCheckpoint(GraphOps.edgeUpper(edges))
    var (verts, nv) = GraphOps.advance(
      live.select(explode(array(col("vi"), col("vj"))).as("v")).distinct())(_.count())
    var ne = live.count()
    val parts = scala.collection.mutable.Buffer.empty[DataFrame]
    def alive: Seq[DataFrame] = parts.toSeq ++ Seq(verts, live)
    if (nv == 0) {
      alive.foreach(Bridge.releaseCheckpoint)
      return (spark.range(0).select(col("id").as("v"), lit(0L).as("nv"),
        lit(0L).as("ne"), lit(null).cast("double").as("density")), 0)
    }
    var round = 0
    var bestI = 0
    var bestNv = nv
    var bestNe = ne
    while (nv > 0) {
      if (round >= maxIter) {
        alive.foreach(Bridge.releaseCheckpoint)
        throw new IllegalStateException(
          s"densest-subgraph peel did not drain in $maxIter rounds ($nv left)")
      }
      // exact rational density compare: ne/nv > bestNe/bestNv
      if (BigInt(ne) * bestNv > BigInt(bestNe) * nv) {
        bestI = round; bestNv = nv; bestNe = ne
      }
      val deg = live.select(explode(array(col("vi"), col("vj"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
      // 2·d·nv ≤ 5·ne  ⟺  d ≤ 2(1+1/4)·(ne/nv); isolated survivors have
      // d = 0 and always fall
      val doomed = Bridge.lazyCheckpoint(
        verts.join(deg, Seq("v"), "left")
          .where(lit(2L) * coalesce(col("d"), lit(0L)) * nv <= lit(5L) * ne)
          .select(col("v"), lit(round).as("round")))
      parts += doomed
      // the first count materializes doomed too
      val (nextVerts, n) = GraphOps.advance(
        verts.join(doomed, Seq("v"), "left_anti"), verts)(_.count())
      val (nextLive, m) = GraphOps.advance(live
        .join(doomed.withColumnRenamed("v", "vi"), Seq("vi"), "left_anti")
        .join(doomed.withColumnRenamed("v", "vj"), Seq("vj"), "left_anti"),
        live)(_.count())
      verts = nextVerts
      live = nextLive
      nv = n
      ne = m
      round += 1
    }
    val out = GraphOps.advance(
      parts.reduce(_ union _)
        .where(col("round") >= bestI)
        .select(col("v"), lit(bestNv).as("nv"), lit(bestNe).as("ne"),
          lit(bestNe.toDouble / bestNv.toDouble).as("density")),
      alive: _*)(_.count())._1
    (out, round)
  }

  /** Unrolled DuckDB oracle — identical integer peel, exact HUGEINT
    * cross-multiplied best-round choice. `rounds` must cover the full
    * drain (extra rounds are empty and filtered by `nv > 0`). */
  def oracleSql(edgesCte: String, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""d$i AS (SELECT v, count(*) AS d FROM (
         |  SELECT vi AS v FROM e$i UNION ALL SELECT vj AS v FROM e$i)
         |  GROUP BY 1),
         |s$i AS (SELECT (SELECT count(*) FROM v$i) AS nv,
         |               (SELECT count(*) FROM e$i) AS ne),
         |doom$i AS MATERIALIZED (
         |  SELECT x.v FROM v$i x LEFT JOIN d$i d ON d.v = x.v
         |  WHERE 2 * coalesce(d.d, 0) * (SELECT nv FROM s$i)
         |        <= 5 * (SELECT ne FROM s$i)),
         |v${i + 1} AS MATERIALIZED (
         |  SELECT v FROM v$i WHERE v NOT IN (SELECT v FROM doom$i)),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT e.vi, e.vj FROM e$i e
         |  WHERE e.vi NOT IN (SELECT v FROM doom$i)
         |    AND e.vj NOT IN (SELECT v FROM doom$i))""".stripMargin
    }.mkString(",\n")
    val statsUnion = (0 until rounds)
      .map(i => s"SELECT $i AS i, nv, ne FROM s$i").mkString(" UNION ALL ")
    val vertsUnion = (0 until rounds)
      .map(i => s"SELECT $i AS i, v FROM v$i").mkString(" UNION ALL ")
    s"""WITH edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |  FROM edges WHERE src <> dst),
       |v0 AS MATERIALIZED (SELECT DISTINCT v FROM
       |  (SELECT vi AS v FROM e0 UNION ALL SELECT vj FROM e0)),
       |$steps,
       |stats AS ($statsUnion),
       |st AS (SELECT * FROM stats WHERE nv > 0),
       |best AS (SELECT i, nv, ne FROM st s WHERE NOT EXISTS (
       |  SELECT 1 FROM st t
       |  WHERE CAST(t.ne AS HUGEINT) * s.nv > CAST(s.ne AS HUGEINT) * t.nv
       |     OR (CAST(t.ne AS HUGEINT) * s.nv = CAST(s.ne AS HUGEINT) * t.nv
       |         AND t.i < s.i))),
       |allv AS ($vertsUnion)
       |SELECT a.v, b.nv, b.ne,
       |  CAST(b.ne AS DOUBLE) / CAST(b.nv AS DOUBLE) AS density
       |FROM best b JOIN allv a ON a.i = b.i""".stripMargin
  }
}
