package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.Hashing

/** Maximal independent set — the reference's `luby_find`
  * (`/root/reference/oink/luby_find.cpp:53-91`): Luby's algorithm. Each
  * vertex draws a random priority; a vertex wins a round when its
  * priority beats every ACTIVE neighbor's; winners enter the MIS,
  * winners and their neighbors leave the active set; repeat until no
  * vertex is active.
  *
  * The reference seeds per-vertex RNG as `srand48(v + seed)`
  * (`luby_find.cpp:130-138`) precisely so results are decomposition-
  * independent; we keep that property with the portable
  * `hash60(seed, v)` priority (ties broken by vertex id), making the
  * output fully deterministic for a given seed and independent of
  * partitioning — with fixed priorities the rounds converge to the
  * greedy MIS of the priority order.
  *
  * Scale design: ONE state frame `(v, p, st)` of constant size |V|; each
  * round is two joins against the ACTIVE edge frame and ends in a lazy
  * `localCheckpoint` materialized by the round's count, so plan depth is
  * constant across rounds and each round costs one job. The
  * active edge frame shrinks every round to edges whose BOTH endpoints
  * are still active (a constant fraction of vertices leaves per round,
  * so per-round join work decays geometrically instead of re-scanning
  * the full edge list O(log n) times — the frame a 100 TB graph needs).
  * Edges touching inactive vertices are irrelevant to both the
  * neighbor-best and loser-neighbor joins, so the shrink is semantics-
  * preserving. Rounds are O(log n) w.h.p.
  */
object LubyMIS {

  private val Active = "A"
  private val InMis = "I"
  private val Out = "O"

  /** @return single-column (v BIGINT): the MIS, deterministic per seed.
    *
    * Tail ([[GraphOps.TailThreshold]]): one task runs the greedy MIS
    * pass in ascending (p, v) over the active subgraph — the rounds peel
    * exactly that greedy MIS, and an active vertex never has an InMis
    * neighbor, so the tail is independent of every decided vertex. */
  def run(spark: SparkSession, edges: DataFrame, seed: Long, maxIter: Int = 100,
      tailThreshold: Int = GraphOps.TailThreshold): DataFrame =
    runCounted(spark, edges, seed, maxIter, tailThreshold)._1

  /** Like [[run]] but also reports the round count — the O(log n)
    * w.h.p. bound is asserted in LubyMISSpec on a long chain (with
    * `tailThreshold = 0`, the pure distributed regime). */
  def runCounted(spark: SparkSession, edges: DataFrame, seed: Long, maxIter: Int = 100,
      tailThreshold: Int = GraphOps.TailThreshold): (DataFrame, Int) = {
    def active(df: DataFrame): DataFrame = df.where(col("st") === Active)
    // edges between still-active endpoints: winners and their
    // neighborhoods (a constant fraction per round) drop out
    def activeOnly(e: DataFrame, state: DataFrame): DataFrame = {
      val still = active(state).select("v")
      e.join(still.withColumnRenamed("v", "vi"), Seq("vi"), "left_semi")
        .join(still.withColumnRenamed("v", "vj"), Seq("vj"), "left_semi")
        .select("vi", "vj")
    }
    // materialized by the first round's count, or read by the tail
    var activeEdges = Bridge.lazyCheckpoint(
      GraphOps.undirected(edges).repartition(col("vi")))
    var (state, remaining) = GraphOps.advance(GraphOps.vertexExtract(edges)
      .select(col("v"), Hashing.hash60(seed, col("v")).as("p"), lit(Active).as("st")))(
      active(_).count())

    var iter = 0
    while (remaining > tailThreshold.toLong && iter < maxIter) {
      // all vertices are active in round one; later rounds shrink the
      // edges to the survivors of the last, and this round's count
      // materializes the shrunk frame, so its source retires with it
      val retired = if (iter == 0) Nil else Seq(activeEdges)
      if (iter > 0)
        activeEdges = Bridge.lazyCheckpoint(
          activeOnly(activeEdges, state))
      val act = active(state)
      // best (priority, id) among ACTIVE neighbors of each vertex
      val pj = act.select(col("v").as("vj"), col("p").as("pj"))
      val nbrBest = activeEdges.join(pj, "vj")
        .groupBy(col("vi").as("v"))
        .agg(min(struct(col("pj"), col("vj"))).as("best"))
      val winners = act.join(nbrBest, Seq("v"), "left")
        .where(col("best").isNull || struct(col("p"), col("v")) < col("best"))
        .select("v")
      val loserNbrs = activeEdges
        .join(winners.withColumnRenamed("v", "vi"), Seq("vi"), "left_semi")
        .select(col("vj").as("v")).distinct()

      val next = state
        .join(winners.withColumn("w", lit(true)), Seq("v"), "left")
        .join(loserNbrs.withColumn("l", lit(true)), Seq("v"), "left")
        .select(col("v"), col("p"),
          when(col("st") =!= Active, col("st"))
            .when(col("w"), InMis)
            .when(col("l"), Out)
            .otherwise(Active).as("st"))
      val (ck, n) = GraphOps.advance(next, state +: retired: _*)(active(_).count())
      state = ck
      remaining = n
      iter += 1
    }
    val decided = state.where(col("st") === InMis).select("v")
    // maxIter exit with an oversize active set: legacy behavior (the
    // accumulated MIS) — the tail task must stay bounded by the threshold
    if (remaining == 0L || remaining > tailThreshold.toLong) {
      Bridge.releaseCheckpoint(activeEdges)
      return (decided, iter)
    }
    // Bounded sequential tail: ≤ tailThreshold vertices still active.
    // Gather each active vertex's ACTIVE-neighbor list (all vertices
    // are active before round one; after it, shrink to the survivors),
    // then ONE task replays the greedy MIS in ascending (p, v): a vertex
    // joins iff no already-joined neighbor — the exact recurrence the
    // Luby fixpoint satisfies for fixed priorities, so the union with
    // the already-decided InMis set is the unchanged result.
    val act = active(state).select(col("v"), col("p"))
    val adj = (if (iter == 0) activeEdges else activeOnly(activeEdges, state))
      .groupBy(col("vi").as("v")).agg(collect_set(col("vj")).as("nbrs"))
    val rows = act.join(adj, Seq("v"), "left")
      .select(col("v"), col("p"),
        coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs"))
    import spark.implicits._
    val tail = rows.as[(Long, Long, Seq[Long])]
      .coalesce(1)
      .mapPartitions { it =>
        val vs = it.toArray.sortBy(t => (t._2, t._1)) // ascending (p, v)
        val inMis = scala.collection.mutable.HashSet.empty[Long]
        vs.iterator.flatMap { case (v, _, nbrs) =>
          if (nbrs.exists(inMis.contains)) Iterator.empty
          else { inMis += v; Iterator.single(v) }
        }
      }
      .toDF("v")
    (decided.unionAll(tail), iter)
  }
}
