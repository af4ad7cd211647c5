package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** k-core extraction: the maximal subgraph in which every vertex has
  * undirected degree ≥ k (Seidman, "Network structure and minimum
  * degree", Social Networks 1983) — the classic density filter a graph
  * pipeline runs before community/centrality work, and a natural
  * extension of the reference's degree tooling
  * (`/root/reference/oink/degree.cpp`): iterate degree-count → peel
  * until no vertex falls below k.
  *
  * Spark-first peeling: each round is one degree aggregation over the
  * current canonical edge set plus two semi-joins against the surviving
  * vertex set — all shuffles are keyed on vertex id, and the edge frame
  * only ever SHRINKS, so per-round cost decays with the peel (the
  * LubyMIS active-set trick). Rounds are O(peel depth), bounded by the
  * degeneracy ordering length, not |V|.
  *
  * Plan hygiene matches the other iterative operators: each round is
  * one [[GraphOps.advance]] — the next edge set is checkpointed (the
  * plan references `e` three times per round — degree + two semi-joins
  * — and would double without truncation), and the round's count of
  * vertices still below k, taken over that new edge set, is the job
  * that materializes it.
  */
object KCore {

  /** @param edges raw directed edge list (src, dst) — canonicalized to
    *              the undirected simple graph like [[GraphOps.edgeUpper]]
    * @param k     minimum degree to survive (≥ 1)
    * @return (v BIGINT, deg BIGINT): k-core members with their degree
    *         WITHIN the core (the converged edge set). Vertices outside
    *         the core (and isolated vertices) are absent. */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def degrees(e: DataFrame): DataFrame =
      e.union(e.select(col("vj").as("vi"), col("vi").as("vj")))
        .groupBy("vi").agg(count(lit(1)).as("deg"))
    def below(e: DataFrame): Long = degrees(e).where(col("deg") < k).count()
    var (e, bad) = GraphOps.advance(GraphOps.edgeUpper(edges))(below)
    var iter = 1
    while (bad > 0 && iter < maxIter) {
      val keep = degrees(e).where(col("deg") >= k).select(col("vi").as("kv"))
      val next = e
        .join(keep, e("vi") === keep("kv"), "left_semi")
        .join(keep, e("vj") === keep("kv"), "left_semi")
      val (ck, n) = GraphOps.advance(next, e)(below)
      e = ck
      bad = n
      iter += 1
    }
    if (bad > 0) {
      Bridge.releaseCheckpoint(e)
      throw new IllegalStateException(
        s"k-core did not converge within $maxIter peel rounds")
    }
    // converged: every vertex of the final edge set has degree ≥ k
    degrees(e).select(col("vi").as("v"), col("deg"))
  }
}
