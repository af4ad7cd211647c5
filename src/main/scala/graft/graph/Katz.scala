package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Katz centrality (Katz, "A new status index derived from sociometric
  * analysis", Psychometrika 1953), truncated at a fixed depth T:
  * katz(v) = Σ_{k=1..T} α^k · walks_k(v), where walks_k(v) counts the
  * directed walks of length k ending at v. Completes the engine's
  * power-iteration family — PageRank (damped, degree-normalized),
  * HITS (the in/out dual), eigenvector (undamped) — with the
  * attenuated-walk-count member.
  *
  * Determinism discipline (the [[Hits]]/[[EigenvectorCentrality]]
  * pattern): α is restricted to a power of two, α = 2^-a, so the
  * T-step sum scaled by 2^(aT) is an exact integer:
  * 2^(aT)·katz(v) = Σ_k 2^(a(T-k))·walks_k(v), with the integer
  * recurrence p_k = Σ_{u→v} p_{k-1}(u), y_k = 2^a·y_{k-1} + p_k
  * (p_0 ≡ 1, y_0 ≡ 0). Walk counts grow like λ_max^k, so whenever an
  * iteration's max(p, y) crosses 2^31 BOTH vectors downshift by the
  * same power of two ([[Hits.shiftOf]]) — Katz is ratio-scale, a
  * shared positive scalar preserves rankings, and the shift amount is
  * a pure integer function of an exact aggregate, so scores are
  * bit-identical under any partitioning and in the SQL oracle.
  *
  * Shape: ONE vertex-keyed join+sum per iteration against the cached
  * edge frame (map-side partials bound hub skew — only the O(|V|)
  * state frame moves), then a vertex-keyed merge of the new walk
  * counts into the (p, y) state; the per-round one-row max doubles as
  * the checkpoint-materializing action, the same job every
  * convergence loop in the engine pays.
  *
  * Reference seam: the reference's OINK layer stops at PageRank
  * (`/root/reference/mapreduce-7Apr14/oink/pagerank.cpp`); Katz is the
  * adjacent centrality its users ask for next, built on the identical
  * aggregate-shuffle dataflow.
  */
object Katz {

  /** @param iterations truncation depth T of the walk sum
    * @param alphaShift a in α = 2^-a (attenuation per hop)
    * @return (v BIGINT, katz BIGINT) over all vertices; vertices no
    *         walk reaches (sources) score 0. Scores are the rescaled
    *         integer recurrence above — compare rankings/ratios, not
    *         magnitudes, across iteration counts. */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 6,
          alphaShift: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(alphaShift >= 1 && alphaShift <= 16,
      s"alphaShift must be in [1, 16], got $alphaShift")
    val e = edges.select(col("src"), col("dst")).persist()
    val verts = GraphOps.vertexExtract(e)
    var stCk = verts.select(col("v"), lit(1L).as("p"), lit(0L).as("y")) // no checkpoint yet
    var st = stCk
    for (_ <- 1 to iterations) {
      val pNew = e.join(st.select(col("v").as("pv"), col("p")),
          col("src") === col("pv"))
        .groupBy(col("dst").as("nv")).agg(sum("p").as("pn"))
      // post-shift p,y < 2^31, so 2^a·y + p < 2^(31+a) + indeg·2^31 —
      // exact in BIGINT for indeg < 2^32 (and the oracle sums into
      // HUGEINT, so a hypothetical wrap turns the gate red, not silent)
      val raw = st.join(pNew, col("v") === col("nv"), "left")
        .select(col("v"),
          coalesce(col("pn"), lit(0L)).as("p"),
          (shiftleft(col("y"), alphaShift) +
            coalesce(col("pn"), lit(0L))).as("y"))
      // the round's one job also yields the exact max the shift uses
      val (ck, mx) = GraphOps.advance(raw, stCk)(
        _.agg(coalesce(max(greatest(col("p"), col("y"))), lit(0L))).head().getLong(0))
      stCk = ck
      val sh = Hits.shiftOf(mx)
      st = if (sh == 0) ck
           else ck.select(col("v"), shiftright(col("p"), sh).as("p"),
             shiftright(col("y"), sh).as("y"))
    }
    val out = GraphOps.advance(st.select(col("v"), col("y").as("katz")), stCk)(_.count())._1
    e.unpersist(false)
    out
  }

  /** Unrolled DuckDB oracle — the identical rescaled integer recurrence
    * (see [[Hits.oracleSql]] for the bin()/shift equivalence note). */
  def oracleSql(edgesCte: String, iterations: Int, alphaShift: Int): String = {
    val steps = (0 until iterations).map { k =>
      s"""pr${k + 1} AS MATERIALIZED (
         |  SELECT e.dst AS v, CAST(sum(s.p) AS BIGINT) AS pn FROM edges e
         |  JOIN s$k s ON s.v = e.src GROUP BY 1),
         |sr${k + 1} AS MATERIALIZED (
         |  SELECT s.v, coalesce(p.pn, 0) AS p,
         |         (s.y << $alphaShift) + coalesce(p.pn, 0) AS y
         |  FROM s$k s LEFT JOIN pr${k + 1} p ON p.v = s.v),
         |s${k + 1} AS MATERIALIZED (
         |  SELECT v,
         |    p >> (SELECT greatest(length(bin(max(greatest(p, y)))) - ${Hits.MaxBits}, 0)
         |          FROM sr${k + 1}) AS p,
         |    y >> (SELECT greatest(length(bin(max(greatest(p, y)))) - ${Hits.MaxBits}, 0)
         |          FROM sr${k + 1}) AS y
         |  FROM sr${k + 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesCte),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
       |s0 AS (SELECT v, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS y FROM verts),
       |$steps
       |SELECT v, CAST(y AS BIGINT) AS katz FROM s$iterations""".stripMargin
  }
}
