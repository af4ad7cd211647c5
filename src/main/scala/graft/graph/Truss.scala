package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** k-truss decomposition (Cohen, "Trusses: cohesive subgraphs for social
  * network analysis", NSA tech report 2008 — the same author as the
  * reference's `tri_find` algorithm, `/root/reference/oink/tri_find.cpp`):
  * the maximal subgraph in which every edge closes at least k−2
  * triangles. Computed by the standard support peel — drop every edge
  * whose triangle support is below k−2, recompute, repeat to fixpoint.
  * The community-detection sibling of [[KCore]]'s degree peel, one
  * hop up the cohesion ladder (every k-truss edge lives in a
  * (k−1)-core).
  *
  * Scale shape: each round's support computation IS the engine's
  * triangle enumeration ([[Triangles.run]]) — low-degree orientation
  * bounds the wedge fan-out at O(√|E|) per vertex, the closure is a
  * semi-join, and only (edge, count) rows cross the shuffle. The peel
  * is monotone (edges only leave), so round count is bounded by the
  * peel depth, not |E|; each round is one localCheckpoint whose
  * convergence count doubles as the materializing action ([[KCore]]'s
  * loop discipline). Non-convergence inside `maxRounds` fails loudly
  * rather than returning a silent partial truss.
  *
  * Determinism: supports are exact integer counts — no float anywhere —
  * so the result is partitioning-independent and the DuckDB oracle
  * replays the identical unrolled rounds.
  */
object Truss {

  /** Per-edge triangle support on a canonical upper edge set. Edges in
    * no triangle are absent (support 0). */
  private def support(e: DataFrame): DataFrame =
    Triangles.run(e.select(col("vi").as("src"), col("vj").as("dst")))
      .select(explode(array(
        struct(col("a").as("vi"), col("b").as("vj")),
        struct(col("a").as("vi"), col("c").as("vj")),
        struct(col("b").as("vi"), col("c").as("vj")))).as("r"))
      .select(col("r.vi").as("vi"), col("r.vj").as("vj"))
      .groupBy("vi", "vj").agg(count(lit(1)).as("sup"))

  /** @param k truss order (≥ 3; k−2 is the per-edge triangle threshold)
    * @return (vi BIGINT, vj BIGINT, sup BIGINT) with vi < vj — the
    *         surviving k-truss edges and their final support. */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          maxRounds: Int = 64): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    var (e, n) = GraphOps.advance(GraphOps.edgeUpper(edges))(_.count())
    var rounds = 0
    while (rounds < maxRounds) {
      val sup = support(e)
      // the count materializes `kept`, so the edge set and the
      // triangle enumeration's own checkpoints (the leaves of `sup`'s
      // plan) have no reader left
      val (kept, m) = GraphOps.advance(sup.where(col("sup") >= k - 2),
        e +: Bridge.checkpointsIn(sup): _*)(_.count())
      // fixpoint: kept's support IS the final support of the truss
      if (m == n) return kept
      e = kept
      n = m
      rounds += 1
    }
    Bridge.releaseCheckpoint(e)
    throw new IllegalStateException(
      s"truss peel did not converge in $maxRounds rounds")
  }

  /** Unrolled DuckDB oracle: `rounds` support-and-filter rounds (must be
    * ≥ the data's peel depth; extra rounds are no-ops), then the final
    * support emit. Every CTE is MATERIALIZED — each edge set feeds four
    * references in the next round's triangle join. */
  def oracleSql(edgesCte: String, k: Int, rounds: Int): String = {
    val steps = (0 until rounds).map { r =>
      s"""t${r + 1} AS MATERIALIZED (
         |  SELECT e1.vi AS a, e1.vj AS b, e2.vj AS c
         |  FROM e$r e1 JOIN e$r e2 ON e2.vi = e1.vj
         |  JOIN e$r e3 ON e3.vi = e1.vi AND e3.vj = e2.vj),
         |s${r + 1} AS MATERIALIZED (
         |  SELECT u AS vi, v AS vj, count(*) AS sup FROM (
         |    SELECT a AS u, b AS v FROM t${r + 1}
         |    UNION ALL SELECT a, c FROM t${r + 1}
         |    UNION ALL SELECT b, c FROM t${r + 1}) GROUP BY 1, 2),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT vi, vj FROM s${r + 1} WHERE sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |  FROM edges WHERE src <> dst),
       |$steps
       |SELECT vi, vj, sup FROM s$rounds WHERE sup >= ${k - 2}""".stripMargin
  }
}
