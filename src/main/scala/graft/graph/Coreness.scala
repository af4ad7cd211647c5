package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Full coreness (core-number) decomposition via the H-index fixpoint
  * (Lü, Chen, Ren, Zhang, Zhou, Stanley, "The H-index of a network node
  * and its relation to degree and coreness", Nature Communications 2016):
  * initialize every vertex at its undirected degree and repeatedly replace
  * each vertex's value with the H-index of its neighbors' values; the
  * fixpoint is exactly the coreness. Extends [[KCore]] (one fixed k,
  * reference degree tooling at `/root/reference/oink/degree.cpp`) to the
  * whole hierarchy in ONE converging computation instead of a peel per k.
  *
  * Why this formulation for Spark: the textbook peel (remove the minimum-
  * degree vertex, repeat) is inherently sequential — O(|V|) synchronization
  * points. The H-index iteration is a bulk-synchronous vertex program:
  * every round is one join + one windowed rank + one aggregation, all
  * keyed on vertex id, and values only ever DECREASE (monotone lattice
  * descent), so convergence is detectable from a 1-row checksum and the
  * round count is small in practice (≤ 8 on the test graphs; bounded by
  * the graph's core hierarchy depth, not |V|).
  *
  * Every quantity is an integer, and an H-index is a pure function of the
  * neighbor-value MULTISET (ties among equal values cannot change
  * max(min(rank, value))), so a SQL replica unrolled past the fixpoint
  * computes bit-identical results — the oracle needs no tolerance.
  */
object Coreness {

  /** @param edges raw directed edge list (src, dst) — canonicalized to
    *              the undirected simple graph like [[GraphOps.edgeUpper]]
    * @return (v BIGINT, coreness BIGINT) for every non-isolated vertex. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val e0 = GraphOps.edgeUpper(edges)
    val und = e0.union(e0.select(col("vj").as("vi"), col("vi").as("vj")))
      .repartition(col("vj"))
      .persist()
    // materialized by the first round's checksum
    var h = Bridge.lazyCheckpoint(
      und.groupBy(col("vi").as("v")).agg(count(lit(1)).as("hv")))
    // values are positive longs and strictly decrease somewhere until the
    // fixpoint, so the global sum is a complete convergence witness
    var prevSum = -1L
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = und
        .join(h.withColumnRenamed("v", "hvv"), col("vj") === col("hvv"))
        .select(col("vi").as("v"), col("hv"))
      val ranked = msgs.withColumn("rn",
        row_number().over(Window.partitionBy("v").orderBy(col("hv").desc)))
      val next = ranked.groupBy("v")
        .agg(max(least(col("rn"), col("hv"))).as("hv"))
      val (ck, s) = GraphOps.advance(next, h)(
        _.agg(coalesce(sum(col("hv")), lit(0L))).head().getLong(0))
      h = ck
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    und.unpersist(false)
    if (!converged) {
      // the error path must not leave persisted frames behind in a
      // long-lived session
      Bridge.releaseCheckpoint(h)
      throw new IllegalStateException(
        s"coreness did not converge within $maxIter H-index rounds")
    }
    h.select(col("v"), col("hv").as("coreness"))
  }

  /** Unrolled DuckDB oracle: `rounds` H-index steps from the degree init.
    * `rounds` must be ≥ the convergence depth (extra rounds are no-ops at
    * the fixpoint — measured ≤ 8 on sf0.001/0.01/0.1). */
  def oracleSql(edgesCte: String, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT u.vi AS v, h.hv FROM und u JOIN h$i h ON h.v = u.vj),
         |r$i AS (SELECT v, hv, row_number() OVER (
         |  PARTITION BY v ORDER BY hv DESC) AS rn FROM m$i),
         |h${i + 1} AS MATERIALIZED (
         |  SELECT v, max(least(rn, hv)) AS hv FROM r$i GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |  FROM edges WHERE least(src, dst) <> greatest(src, dst)),
       |und AS MATERIALIZED (
       |  SELECT vi, vj FROM e0 UNION ALL SELECT vj AS vi, vi AS vj FROM e0),
       |h0 AS MATERIALIZED (SELECT vi AS v, count(*) AS hv FROM und GROUP BY vi),
       |$steps
       |SELECT v, hv AS coreness FROM h$rounds""".stripMargin
  }
}
