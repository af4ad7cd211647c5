package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Single-source shortest paths — the reference's `sssp`
  * (`/root/reference/oink/sssp.cpp:49-186`): iterative relaxation — merge
  * newly discovered paths into the vertex state, keep the shortest per
  * vertex (`pick_shortest`, `sssp.cpp:244+`), expand along out-edges,
  * repeat until no distance improves.
  *
  * Spark-first: frontier-based Bellman-Ford over DataFrames. Only the
  * vertices whose distance improved last round (`frontier`) are expanded,
  * so per-round work tracks the BFS wavefront, not the whole graph —
  * the same effect as the reference's "changed" flags. Edges are
  * partitioned once on `src` and reused every round.
  */
object ShortestPaths {

  /** @param edges  (src, dst) plus optional `weight` column (default 1.0)
    * @param source source vertex id
    * @return (v BIGINT, dist DOUBLE) for reachable vertices only —
    *         the reference likewise only tracks discovered vertices.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      source: Long,
      maxIter: Int = 200): DataFrame =
    runMulti(spark, edges, Seq(source), maxIter).select("v", "dist")

  /** The reference's randomized source selection made deterministic:
    * `sssp ncnt seed` seeds `srand48(seed)` and draws ncnt sources from
    * the valid (non-singleton) vertex list (`oink/sssp.cpp:54`,
    * `get_good_sources`). We draw index `hash60(seed|i) % |V|` into the
    * id-ordered vertex list — partitioning-independent, identical in
    * the DuckDB oracle. Ranks come from a distributed sortBy +
    * zipWithIndex (range-partitioned) — a global row_number window
    * would funnel all of |V| through one task. */
  def seededSources(edges: DataFrame, seed: Long, count: Int): Seq[Long] = {
    val verts = GraphOps.vertexExtract(edges)
    val n = verts.count()
    val wanted = (0 until count)
      .map(i => graft.functions.Hashing.hash60Local(s"$seed|$i") % n).toSet
    verts.select("v").rdd.map(_.getLong(0)).sortBy(identity)
      .zipWithIndex()
      .collect { case (v, rn) if wanted.contains(rn) => v }
      .collect().toSeq.sorted.distinct
  }

  /** Multi-source variant — the reference's `sssp ncnt seed` runs ncnt
    * searches (`oink/sssp.cpp:49-186`); here ALL sources advance in ONE
    * iterative pass with state keyed on (source, v), so the edge table
    * is scanned once per round regardless of source count. Sources are
    * explicit (see [[seededSources]] for the reference's randomized
    * contract — determinism first, `luby`-style). */
  def runMulti(
      spark: SparkSession,
      edges: DataFrame,
      sources: Seq[Long],
      maxIter: Int = 200): DataFrame = {
    import spark.implicits._
    // Pre-partitioned ONCE on the per-round join key, then materialized
    // through a lazy checkpoint rather than persist() (r14): the
    // CacheManager compiles cached plans WITHOUT AQE partition
    // coalescing, so persist pinned this frame at
    // spark.sql.shuffle.partitions (= core count) partitions and every
    // round paid a core-count-wide cache scan + join on a kB-scale
    // graph — the measured c8-faster-than-c32 anti-scaling. The
    // checkpoint materializes the AQE-coalesced exchange, so the width
    // (and the per-round join width, which reuses the carried hash
    // partitioning) tracks DATA volume at any scale: 1 task at gate
    // scale, advisory-sized partitions on a 100 TB edge list.
    val weighted = Bridge.lazyCheckpoint(
      (if (edges.columns.contains("weight")) edges.select(col("src"), col("dst"), col("weight").cast("double"))
       else edges.select(col("src"), col("dst"), lit(1.0).as("weight")))
        .repartition(col("src")))

    // improved = discovered (no old_dist) or strictly shorter
    def improved(merged: DataFrame): DataFrame = merged
      .where(col("old_dist").isNull || col("dist") < col("old_dist"))
      .select("source", "v", "dist")
    var distCk = sources.map(s => (s, s, 0.0)).toDF("source", "v", "dist") // no checkpoint yet
    var dist = distCk
    var frontier = dist
    var iter = 0
    var active = 1L
    while (active > 0 && iter < maxIter) {
      val candidates = weighted
        .join(frontier, weighted("src") === frontier("v"))
        .select(col("source"), col("dst").as("v"),
          (col("dist") + col("weight")).as("dist"), lit(false).as("old"))
      // One aggregation decides BOTH the new state and the improvement
      // set: prior rows ride the union tagged old=true, so min(dist) is
      // the merged distance and min(dist WHERE old) the previous one —
      // the improvement anti-join of earlier revisions collapsed into
      // the groupBy (one shuffle per round, not two). Checkpointed every
      // round: the logical tree would double per round otherwise.
      val merged = dist.withColumn("old", lit(true)).union(candidates)
        .groupBy("source", "v").agg(min("dist").as("dist"),
          min(when(col("old"), col("dist"))).as("old_dist"))
      val (ck, n) = GraphOps.advance(merged, distCk)(improved(_).count())
      distCk = ck
      dist = ck.select("source", "v", "dist")
      // a plain filter over the checkpoint: next round's one re-read
      // scans its blocks
      frontier = improved(ck)
      active = n
      iter += 1
    }
    Bridge.releaseCheckpoint(weighted)
    dist
  }
}
