package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Distributed greedy graph coloring — Jones-Plassmann rounds over the
  * portable hash60 priority (Jones & Plassmann 1993, "A parallel graph
  * coloring heuristic"). Natural companion to the reference's
  * `luby_find` (`/root/reference/mapreduce-7Apr14/oink/luby_find.cpp:53-91`):
  * Luby's MIS and JP coloring are the same independent-set peeling idea,
  * and with FIXED per-vertex priorities both converge to the result of
  * the sequential greedy pass in ascending (priority, id) order — which
  * is exactly what the recursive-CTE oracle replays.
  *
  * A vertex colors itself in the round where every still-uncolored
  * neighbor has LOWER priority; its color is the mex (minimum excluded
  * value) of the colors its higher-priority neighbors already took.
  * Adjacent vertices can never both be ready in one round, so parallel
  * assignment is race-free by construction, and the fixpoint equals the
  * sequential greedy coloring — deterministic per seed, independent of
  * partitioning.
  *
  * Scale shape: one |V|-row state frame and the undirected edge frame;
  * each round is (a) one join to find blocked vertices, (b) one
  * join+group to collect ready vertices' neighbor colors (mex is a
  * fold over a per-vertex sorted color set, bounded by degree), (c) one
  * state merge — all keyed on the vertex, all shuffle-partitioned the
  * same way. Rounds are O(log n / log log n) w.h.p. for random
  * priorities; the loop follows the engine's lazy-localCheckpoint
  * discipline (constant plan depth, one job per round).
  */
object Coloring {

  /** @return (v BIGINT, color BIGINT) — the greedy coloring of the
    *         ascending (hash60(seed, v), v) order; colors are 0-based.
    *
    * Tail ([[GraphOps.TailThreshold]]): one task colors the uncolored
    * remainder in ascending (p, v) order against the already-fixed
    * colors — the sequential greedy pass the JP fixpoint provably
    * equals. */
  def run(spark: SparkSession, edges: DataFrame, seed: Long, maxIter: Int = 500,
      tailThreshold: Int = GraphOps.TailThreshold): DataFrame =
    runCounted(spark, edges, seed, maxIter, tailThreshold)._1

  def runCounted(spark: SparkSession, edges: DataFrame, seed: Long,
      maxIter: Int = 500, tailThreshold: Int = GraphOps.TailThreshold): (DataFrame, Int) = {
    import org.apache.spark.sql.graftbridge.Bridge
    val und = Bridge.lazyCheckpoint(
      GraphOps.undirected(edges).repartition(col("vi")))

    def uncolored(df: DataFrame): Long = df.where(col("color").isNull).count()
    var (state, remaining) = GraphOps.advance(
      GraphOps.vertexExtract(edges)
        .select(col("v"), Hashing.hash60(seed, col("v")).as("p"),
          lit(null).cast("bigint").as("color")))(uncolored)

    var iter = 0
    while (remaining > tailThreshold.toLong) {
      if (iter >= maxIter) {
        Bridge.releaseCheckpoint(state)
        Bridge.releaseCheckpoint(und)
        throw new IllegalStateException(
          s"Coloring did not converge in $maxIter rounds ($remaining uncolored)")
      }
      // ONE pass over the edge frame per round (r13): the former
      // blocked/ready/nbrColors chain walked und through three separate
      // join pipelines (5 joins + a distinct per round — ~12 jobs/round,
      // and the dense gate graph needs Θ(clique) rounds, 100 s at
      // sf0.1). Fused: join und with the state on both endpoints once,
      // then ONE groupBy(vi) — pre-partitioned on vi, so no exchange —
      // computes both the blocked flag (an uncolored higher-priority
      // neighbor exists) and the colored-neighbor color set. The same
      // vertices become ready with the same mex each round, so the
      // per-round assignments (and the fixpoint) are unchanged.
      val s1 = state.select(col("v").as("vi"), col("p").as("pi"),
        col("color").as("ci"))
      val s2 = state.select(col("v").as("vj"), col("p").as("pj"),
        col("color").as("cj"))
      val perV = und.join(s1, "vi").join(s2, "vj")
        .where(col("ci").isNull) // only uncolored vertices need a verdict
        .groupBy(col("vi").as("v"))
        .agg(
          max(when(col("cj").isNull &&
              struct(col("pj"), col("vj")) < struct(col("pi"), col("vi")),
            1).otherwise(0)).as("blocked"),
          sort_array(collect_set(col("cj"))).as("cols")) // set drops nulls
      val next = state.join(perV, Seq("v"), "left")
        .select(col("v"), col("p"), coalesce(
          col("color"),
          when(coalesce(col("blocked"), lit(0)) === 0,
            coalesce(expr("aggregate(cols, CAST(0 AS BIGINT), " +
              "(acc, x) -> IF(x = acc, acc + 1, acc))"), lit(0L))))
          .as("color"))
      val (ck, n) = GraphOps.advance(next, state)(uncolored)
      state = ck
      remaining = n
      iter += 1
    }
    if (remaining == 0L) {
      Bridge.releaseCheckpoint(und)
      return (state.select("v", "color"), iter)
    }
    // Bounded sequential tail: ≤ tailThreshold uncolored vertices left.
    // Gather, per remaining vertex, its uncolored-neighbor list and the
    // color set of its already-colored neighbors (all of which are its
    // (p,v)-smaller neighbors — a JP invariant), then ONE task runs the
    // sequential greedy pass in ascending (p, v). Identical colors: the
    // JP fixpoint IS this sequential order (scaladoc above), and every
    // already-fixed color equals its sequential value.
    val unc = state.where(col("color").isNull).select(col("v"), col("p"))
    val fixedCols = und
      .join(unc.select(col("v").as("vi")), Seq("vi"), "left_semi")
      .join(state.where(col("color").isNotNull)
        .select(col("v").as("vj"), col("color").as("nc")), "vj")
      .groupBy(col("vi").as("v")).agg(collect_set(col("nc")).as("fixedc"))
    val tailAdj = und
      .join(unc.select(col("v").as("vi")), Seq("vi"), "left_semi")
      .join(unc.select(col("v").as("vj")), Seq("vj"), "left_semi")
      .groupBy(col("vi").as("v")).agg(collect_set(col("vj")).as("nbrs"))
    val rows = unc
      .join(fixedCols, Seq("v"), "left")
      .join(tailAdj, Seq("v"), "left")
      .select(col("v"), col("p"),
        coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs"),
        coalesce(col("fixedc"), array().cast("array<bigint>")).as("fixedc"))
    import spark.implicits._
    val tail = rows.as[(Long, Long, Seq[Long], Seq[Long])]
      .coalesce(1)
      .mapPartitions { it =>
        val vs = it.toArray.sortBy(t => (t._2, t._1)) // ascending (p, v)
        val colors = scala.collection.mutable.LongMap.empty[Long]
        vs.iterator.map { case (v, _, nbrs, fixedc) =>
          val taken = new scala.collection.mutable.BitSet()
          fixedc.foreach(c => taken += c.toInt)
          nbrs.foreach(u => colors.get(u).foreach(c => taken += c.toInt))
          var c = 0L
          while (taken.contains(c.toInt)) c += 1
          colors(v) = c
          (v, c)
        }
      }
      .toDF("v", "color")
      .localCheckpoint(true) // bounded; lets the und/state blocks retire
    Bridge.releaseCheckpoint(und)
    (state.where(col("color").isNotNull).select("v", "color").unionAll(tail),
      iter)
  }

  /** Recursive-CTE oracle: the sequential greedy coloring in ascending
    * (hash60(seed, v), v) order over `edgesSql`'s (src, dst) rows —
    * provably the JP fixpoint for fixed priorities. Colors are carried
    * as a rank-indexed list; the mex is the first non-negative integer
    * missing from the already-assigned neighbor colors. */
  def oracleSql(edgesSql: String, seed: Long): String =
    s"""WITH RECURSIVE edges AS ($edgesSql),
       |eu AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
       |       FROM edges WHERE src <> dst),
       |und AS MATERIALIZED (SELECT vi, vj FROM eu UNION ALL SELECT vj AS vi, vi AS vj FROM eu),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |rk AS MATERIALIZED (SELECT v, CAST(row_number() OVER (ORDER BY p, v) AS BIGINT) AS rk
       |       FROM (SELECT v, ${Hashing.hash60Sql(seed, "v")} AS p FROM verts)),
       |nbrs AS MATERIALIZED (SELECT r1.rk AS rk, list(r2.rk) AS nb
       |         FROM und u JOIN rk r1 ON u.vi = r1.v JOIN rk r2 ON u.vj = r2.v
       |         GROUP BY r1.rk),
       |g(i, colors) AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS colors
       |  UNION ALL
       |  SELECT g.i + 1,
       |    list_append(g.colors, (
       |      [k FOR k IN range(CAST(0 AS BIGINT),
       |           CAST(coalesce(len(n.nb), 0) + 1 AS BIGINT))
       |         IF NOT list_contains(
       |           coalesce([g.colors[r] FOR r IN n.nb IF r <= g.i], []), k)])[1])
       |  FROM g LEFT JOIN nbrs n ON n.rk = g.i + 1
       |  WHERE g.i < (SELECT count(*) FROM verts))
       |SELECT r.v, f.colors[r.rk] AS color
       |FROM rk r, (SELECT colors FROM g ORDER BY i DESC LIMIT 1) f""".stripMargin
}
