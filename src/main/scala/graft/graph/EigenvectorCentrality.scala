package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eigenvector centrality (Bonacich, "Power and centrality: a family of
  * measures", AJS 1987) by power iteration on the in-edge sum:
  * x_{k+1}(v) = Σ_{u→v} x_k(u), x_0 ≡ 1 — PageRank's recurrence without
  * damping or degree normalization, and the symmetric-case extension of
  * [[Hits]] (whose authority half-step it is, iterated alone).
  *
  * Same determinism discipline as [[Hits]]: the textbook per-iteration
  * L2 normalization is a global float sum, so instead every score stays
  * an exact BIGINT and all scores downshift by a shared power of two
  * whenever an iteration's max crosses 2^31 ([[Hits.shiftOf]]).
  * Centrality is ratio-scale — any positive scalar preserves rankings —
  * so the rescaled fixed-iteration scores rank identically to the
  * normalized ones up to 2^-31 truncation granularity, and the DuckDB
  * oracle replays the identical rescaled integer recurrence.
  *
  * Shape: one vertex-keyed join+sum per iteration against the cached
  * edge frame (map-side partials bound hub skew), one one-row max
  * aggregate per round that doubles as the checkpoint materializer.
  */
object EigenvectorCentrality {

  /** @return (v BIGINT, score BIGINT) over all vertices; vertices with
    *         no in-edges (or drained upstream) score 0. Compare
    *         rankings/ratios, not magnitudes, across iteration counts. */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst")).persist()
    val verts = GraphOps.vertexExtract(e)
    var xCk = verts.withColumn("s", lit(1L)) // no checkpoint before round one
    var x = xCk
    for (_ <- 1 to iterations) {
      val (ck, mx) = GraphOps.advance(
        e.join(x.withColumnRenamed("v", "xv"), col("src") === col("xv"))
          .groupBy(col("dst").as("v")).agg(sum("s").as("s")),
        xCk)(Hits.maxScore)
      xCk = ck
      x = Hits.downshift(ck, mx)
    }
    val out = GraphOps.advance(verts
      .join(x.select(col("v").as("xv"), col("s").as("score")),
        col("v") === col("xv"), "left")
      .select(col("v"), coalesce(col("score"), lit(0L)).as("score")),
      xCk)(_.count())._1
    e.unpersist(false)
    out
  }

  /** Unrolled DuckDB oracle — identical rescaled integer recurrence
    * (see [[Hits.oracleSql]] for the bin()/shift equivalence note). */
  def oracleSql(edgesCte: String, iterations: Int): String = {
    val steps = (0 until iterations).map { k =>
      s"""xr${k + 1} AS MATERIALIZED (
         |  SELECT e.dst AS v, CAST(sum(x.s) AS BIGINT) AS s FROM edges e
         |  JOIN x$k x ON x.v = e.src GROUP BY 1),
         |x${k + 1} AS MATERIALIZED (
         |  SELECT v, s >> (SELECT greatest(length(bin(max(s))) - ${Hits.MaxBits}, 0)
         |                  FROM xr${k + 1}) AS s
         |  FROM xr${k + 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesCte),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
       |x0 AS (SELECT v, CAST(1 AS BIGINT) AS s FROM verts),
       |$steps
       |SELECT verts.v, CAST(coalesce(x.s, 0) AS BIGINT) AS score
       |FROM verts
       |LEFT JOIN x$iterations x ON x.v = verts.v""".stripMargin
  }
}
