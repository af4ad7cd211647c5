package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hub/authority scoring (Kleinberg, "Authoritative sources in a
  * hyperlinked environment", JACM 1999): a_{k+1}(v) = Σ_{u→v} h_k(u),
  * h_{k+1}(v) = Σ_{v→u} a_{k+1}(u), h_0 ≡ 1. Complements the engine's
  * PageRank (same power-iteration family, reference §2.4) with the
  * in/out dual.
  *
  * Why integers + power-of-two rescale instead of the paper's L2
  * normalization: the normalization is the one float part of HITS — a
  * GLOBAL float sum no fold order makes cheaply deterministic
  * distributed — and HITS scores are ratio-scale, so ANY positive
  * per-iteration scalar preserves rankings. This implementation keeps
  * every score an exact BIGINT and, whenever a half-iteration's max
  * score crosses 2^31, downshifts ALL scores by the same power of two
  * (shift = bitlen(max) − 31). The shift amount is a pure integer
  * function of an exact integer aggregate, so results are bit-identical
  * under any partitioning and in the SQL oracle, and iteration count is
  * unbounded (r4's hard 3-iteration BIGINT cap is gone). Truncation
  * granularity is 2^-31 relative — ranking inversions would need score
  * gaps below one part in two billion.
  *
  * Overflow discipline: after a shift every score < 2^31, so a sum of d
  * in-neighbor terms stays < d·2^31 — exact in BIGINT for in-degree
  * < 2^32, far past any real vertex (and the DuckDB oracle sums into
  * HUGEINT, so a hypothetical wrap would turn the gate red, not pass
  * silently).
  *
  * Shape: two vertex-keyed join+sum aggregations per iteration against
  * the cached edge frame — map-side partials bound hot-vertex skew, and
  * only the O(|V|) score frame moves per round. The per-half-iteration
  * max is the same one-row action every convergence loop in the engine
  * already pays (e.g. [[Coreness]]'s checksum), and it doubles as the
  * checkpoint-materializing job.
  */
object Hits {

  /** Scores below 2^31 never shift; above, shift to 31 bits. Shared
    * with [[EigenvectorCentrality]] (same rescale discipline). */
  private[graph] val MaxBits = 31

  private[graph] def shiftOf(mx: Long): Int =
    math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(mx)) - MaxBits)

  /** Exact max of the score column `s` — a round's one action. */
  private[graph] def maxScore(df: DataFrame): Long =
    df.agg(coalesce(max("s"), lit(0L))).head().getLong(0)

  /** `s` downshifted by the [[shiftOf]] its max `mx` calls for. */
  private[graph] def downshift(df: DataFrame, mx: Long): DataFrame = {
    val sh = shiftOf(mx)
    if (sh == 0) df else df.withColumn("s", shiftright(col("s"), sh))
  }

  /** @return (v BIGINT, authority BIGINT, hub BIGINT) over all vertices;
    *         sources with no in-edges score authority 0, sinks hub 0.
    *         Scores are the integer recurrence above (rescaled — compare
    *         ratios/rankings, not magnitudes, across iteration counts). */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst")).persist()
    val verts = GraphOps.vertexExtract(e)
    var h = verts.withColumn("s", lit(1L))
    var a: DataFrame = null
    var spent = Seq.empty[DataFrame] // the checkpoints behind the last a and h
    for (_ <- 1 to iterations) {
      val (aCk, maxA) = GraphOps.advance(
        e.join(h.withColumnRenamed("v", "hv"), col("src") === col("hv"))
          .groupBy(col("dst").as("v")).agg(sum("s").as("s")),
        spent: _*)(maxScore)
      a = downshift(aCk, maxA)
      val (hCk, maxH) = GraphOps.advance(
        e.join(a.withColumnRenamed("v", "av"), col("dst") === col("av"))
          .groupBy(col("src").as("v")).agg(sum("s").as("s")))(maxScore)
      h = downshift(hCk, maxH)
      spent = Seq(aCk, hCk)
    }
    val out = GraphOps.advance(verts
      .join(a.select(col("v").as("a_v"), col("s").as("authority")),
        col("v") === col("a_v"), "left")
      .join(h.select(col("v").as("h_v"), col("s").as("hub")),
        col("v") === col("h_v"), "left")
      .select(col("v"), coalesce(col("authority"), lit(0L)).as("authority"),
        coalesce(col("hub"), lit(0L)).as("hub")),
      spent: _*)(_.count())._1
    e.unpersist(false)
    out
  }

  /** Unrolled DuckDB oracle — the identical rescaled integer recurrence.
    * `length(bin(max))` is the same bitlen the JVM computes via
    * numberOfLeadingZeros (bin() renders without leading zeros in both
    * engines), and `>>` the same arithmetic shift on non-negatives. */
  def oracleSql(edgesCte: String, iterations: Int): String = {
    def rescale(from: String, as: String) =
      s"""$as AS MATERIALIZED (
         |  SELECT v, s >> (SELECT greatest(length(bin(max(s))) - $MaxBits, 0)
         |                  FROM $from) AS s
         |  FROM $from)""".stripMargin
    val steps = (0 until iterations).map { k =>
      s"""ar${k + 1} AS MATERIALIZED (
         |  SELECT e.dst AS v, CAST(sum(h.s) AS BIGINT) AS s FROM edges e
         |  JOIN h$k h ON h.v = e.src GROUP BY 1),
         |${rescale(s"ar${k + 1}", s"a${k + 1}")},
         |hr${k + 1} AS MATERIALIZED (
         |  SELECT e.src AS v, CAST(sum(a.s) AS BIGINT) AS s FROM edges e
         |  JOIN a${k + 1} a ON a.v = e.dst GROUP BY 1),
         |${rescale(s"hr${k + 1}", s"h${k + 1}")}""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesCte),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
       |h0 AS (SELECT v, CAST(1 AS BIGINT) AS s FROM verts),
       |$steps
       |SELECT verts.v, CAST(coalesce(a.s, 0) AS BIGINT) AS authority,
       |  CAST(coalesce(h.s, 0) AS BIGINT) AS hub
       |FROM verts
       |LEFT JOIN a$iterations a ON a.v = verts.v
       |LEFT JOIN h$iterations h ON h.v = verts.v""".stripMargin
  }
}
