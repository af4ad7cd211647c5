package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank with the reference's exact numeric semantics
  * (`/root/reference/mr-pr-cpp.cpp:110-180`, identical in the mpi and
  * mpi-base variants — SURVEY.md §2.4):
  *
  *  - init rank vector `(1, 0, …, 0)` — NOT uniform (`mr-pr-cpp.cpp:125-128`)
  *  - dense page universe `0..websize-1`; ids never mentioned in the edge
  *    list are dangling pages (`mr-pr-cpp.cpp:203-210`)
  *  - each iteration: `sum_pr`/`dangling_pr` from the PRE-normalized
  *    vector (`mr-pr-cpp.cpp:131-138`); from iteration 1 on normalize
  *    `old_pr = pr/sum_pr` (`:140-147`); update
  *    `pr[i] = α·Σ_{j→i} old_pr[j]/outdeg(j) + α·dangling_pr/n + (1−α)/n`
  *    (`:149-173`); L1 convergence `Σ|pr−old_pr| ≤ tol` (`:161-174`)
  *  - constants α=0.85, tol=1e-5, maxIter=10000 (`mr-pr-cpp.cpp:11-13`)
  *
  * Spark-first design (NOT a translation of the reference's machinery):
  * the rank vector is a DataFrame `(id, pr)`; the per-iteration state
  * carries `(id, deg, pr, old_pr)` so that sum/dangling/diff reduce to
  * ONE fused aggregate action per iteration (the reference runs three
  * separate driver loops). The edge list is hash-partitioned on `src`
  * once and cached — across iterations only the small rank frame
  * shuffles, the (potentially 100 TB) edge table never re-shuffles.
  * Lineage is truncated with a `localCheckpoint` every iteration; on a
  * real cluster swap for `checkpoint` on HDFS.
  *
  * Every entry point runs the one loop in [[iterate]]; they differ only
  * in the data they pass it: the per-edge term ([[Flow]]), the restart
  * term, the initial vector and the stop rule.
  */
object PageRank {

  /** Vertex-id frame with a DATA-derived slice count (~4M ids/slice,
    * one slice minimum) instead of spark.range's default parallelism
    * (= core count) slices: the |V|-row state frame inherits this width
    * through every iteration's narrow joins, so per-iteration jobs stop
    * paying core-count-wide task scheduling on small graphs (the gate
    * query ran 32 tasks per scalar aggregate over 401 rows) while a
    * 10^10-vertex graph still gets thousands of slices — width tracks
    * the data, not the core count (guide SS2: scale-adaptive
    * partitioning).
    */
  private def vertRange(spark: SparkSession, n: Long) =
    spark.range(0L, n, 1L, math.max(1L, (n - 1) / 4000000L + 1L).min(262144L).toInt)
      .toDF("id")


  val DefaultAlpha = 0.85
  val DefaultTol = 1e-5
  val DefaultMaxIter = 10000

  /** How rank flows along out-edges. `outWeight` folds a source's
    * out-edges into its `deg` (null ⇒ dangling); `perVertex` projects
    * the rank side of the contribution join from `old_pr` and `deg`;
    * `perEdge` is the term summed per destination. */
  private final case class Flow(outWeight: Column, perVertex: Seq[Column], perEdge: Column)

  /** `old_pr/outdeg`, once per vertex, then summed. */
  private val Unweighted =
    Flow(count(lit(1)), Seq((col("old_pr") / col("deg")).as("c")), col("c"))

  /** `(old_pr·w)/wout` per edge, in EXACTLY that order here and in the
    * unrolled weighted oracle. */
  private val Weighted =
    Flow(sum("w"), Seq(col("old_pr"), col("deg")), (col("old_pr") * col("w")) / col("deg"))

  /** Stop rule of the fixed-round variants: no L1 bound, only the
    * round count. */
  private val NoTol = Double.NegativeInfinity

  /** Run to convergence. Returns `(id BIGINT, rank DOUBLE)` for the dense
    * universe, ascending ids not guaranteed — order downstream if needed.
    *
    * @param websize optional page-universe size; derived as max(id)+1
    *                when absent (the reference's rule).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long] = None,
      alpha: Double = DefaultAlpha,
      tol: Double = DefaultTol,
      maxIter: Int = DefaultMaxIter): DataFrame =
    iterate(spark, edgePairs(edges), websize, alpha, Unweighted, None, None, tol, maxIter)._1

  /** As [[run]] but also returns the iteration count (for tests/bench).
    * `checkpointEvery` is ignored — every iteration checkpoints; the
    * parameter stays only so positional callers keep compiling. */
  def runWithStats(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long],
      alpha: Double,
      tol: Double,
      maxIter: Int,
      checkpointEvery: Int): (DataFrame, Int) =
    iterate(spark, edgePairs(edges), websize, alpha, Unweighted, None, None, tol, maxIter)

  /** Fixed-iteration variant (no convergence test) — used by the
    * SQL-oracle-checked query entries, where the oracle unrolls the same
    * number of iterations.
    * @param init optional WARM-START rank vector (id, rank) — the
    *   incremental-refresh shape: after a graph change, continue from
    *   the previous fixpoint instead of re-converging from the unit
    *   impulse. A warm start normalizes on its FIRST iteration too
    *   (the carried vector is not exactly unit mass), which the
    *   unrolled warm oracle replays. */
  def runFixed(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame =
    iterate(spark, edgePairs(edges), Some(websize), alpha, Unweighted, None, init,
      NoTol, iterations)._1

  /** WEIGHTED fixed-iteration PageRank — the variant the reference's
    * `add_weight` primitive (`oink/add_weight.cpp`) exists to feed but
    * its own pagerank never consumes: rank flows along each edge in
    * proportion to the edge weight,
    * pr[i] = α·Σ_{j→i} old_pr[j]·w(j,i)/wout(j) + α·dangling/n + (1−α)/n,
    * wout(j) = Σ out-weights of j; dangling = no out-edges (weights are
    * ≥ 1, so the dangling set matches the unweighted one). `init` is
    * [[runFixed]]'s warm start, with wout and the dangling set
    * re-derived from the new edge set.
    * @param edges (src, dst, w) — weights are carried as doubles (the
    *   `read_edge_weight` CLI format); INTEGER-valued weights keep wout
    *   exact (integer sums are exact in IEEE below 2^53,
    *   order-independent), which is what the hash gate relies on */
  def runFixedWeighted(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("double").as("w"))
    iterate(spark, e, Some(websize), alpha, Weighted, None, init, NoTol, iterations)._1
  }

  /** Personalized PageRank (Jeh & Widom, "Scaling personalized web
    * search", WWW 2003): the [[runFixed]] recurrence with the restart
    * mass directed at a seed set instead of spread uniformly —
    * pr[i] = α·Σ_{j→i} old_pr[j]/outdeg(j) + (α·dangling + (1−α))·p(i),
    * p = 1/|S| on the seeds, 0 elsewhere, init pr = p. The similarity
    * ranking "near these pages" that powers related-page and
    * seed-expansion queries. `init` is [[runFixed]]'s warm start, with
    * the restart mass still directed at the seeds. */
  def runPersonalized(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      seeds: Seq[Long],
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    // IEEE division, replayed identically in the oracle
    val pSeed = 1.0 / seeds.size
    val restart = when(col("id").isin(seeds: _*), pSeed).otherwise(0.0)
    iterate(spark, edgePairs(edges), Some(websize), alpha, Unweighted, Some(restart), init,
      NoTol, iterations)._1
  }

  private def edgePairs(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  /** The PageRank loop behind every entry point.
    *
    * @param edges   `(src, dst)`, plus `w` for [[Weighted]]
    * @param websize page-universe size; None derives max(id)+1
    * @param restart personalized restart vector p(i); None spreads the
    *                restart mass uniformly, `α·dangling/n + (1−α)/n`
    * @param init    warm-start vector (id, rank); None starts cold from
    *                `restart`, or the unit impulse when that is None too
    * @param tol     L1 bound that stops the loop; [[NoTol]] never does
    * @param maxIter round cap — the round count of the fixed variants
    * @return (`(id, rank)`, rounds run)
    */
  private def iterate(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long],
      alpha: Double,
      flow: Flow,
      restart: Option[Column],
      init: Option[DataFrame],
      tol: Double,
      maxIter: Int): (DataFrame, Int) = {
    // Loop-invariant input: partitioned on src once and cached, so each
    // round's contribution join meets it without re-shuffling it.
    val e = edges.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)

    val n: Long = websize.getOrElse {
      val row = e.agg(greatest(max("src"), max("dst"))).head()
      if (row.isNullAt(0)) 1L else row.getLong(0) + 1L
    }

    val verts = vertRange(spark, n)
      .join(e.groupBy(col("src").as("id")).agg(flow.outWeight.as("deg")), Seq("id"), "left")
    val start = init match {
      case None =>
        verts.withColumn("pr", restart.getOrElse(when(col("id") === 0, 1.0).otherwise(0.0)))
      case Some(r0) =>
        verts.join(r0.select(col("id"), col("rank").as("pr")), Seq("id"), "left")
          .withColumn("pr", coalesce(col("pr"), lit(0.0)))
    }
    // state: (id, deg, pr, old_pr). old_pr only meaningful after an update.
    // Eager: one job computes deg and the start vector, which every
    // round's join and the first aggregate then read.
    var state = start.withColumn("old_pr", lit(0.0)).localCheckpoint(true)

    // ONE action per iteration: Σpr and Σ dangling pr of the current
    // (pre-normalized) vector, plus the L1 diff of the update that
    // produced it, fused into a single aggregate (mr-pr-cpp.cpp:131-138,
    // 161-174). The same aggregate materializes the round's lazy
    // localCheckpoint — the checkpoint-then-aggregate pair costs one
    // job, not two.
    def aggregate(s: DataFrame) = s.agg(
      sum("pr"),
      sum(when(col("deg").isNull, col("pr")).otherwise(0.0)),
      sum(abs(col("pr") - col("old_pr")))).head()

    var row = aggregate(state)
    var iter = 0
    // The reference's loop guard (mr-pr-cpp.cpp:130), checked after the
    // update that produced the diff.
    while (iter < maxIter && (iter == 0 || row.getDouble(2) > tol)) {
      val sumPr = row.getDouble(0)
      val danglingPr = row.getDouble(1)
      // a warm start normalizes on its first round too: the carried
      // vector is not exactly unit mass
      val normalized =
        if (iter == 0 && init.isEmpty) state.withColumn("old_pr", col("pr"))
        else state.withColumn("old_pr", col("pr") / sumPr)

      // Σ_{j→i} of the per-edge term: the edge side stays partitioned
      // on src; only the small rank frame shuffles to meet it, then one
      // exchange on dst for the sum. Map-side partial aggregation applies.
      val contrib = e
        .join(normalized.select((col("id") +: flow.perVertex): _*), e("src") === col("id"))
        .groupBy(e("dst").as("id"))
        .agg(sum(flow.perEdge).as("h"))

      // the restart term's scalar part folded driver-side, in the same
      // double ops and order as the unrolled oracles
      val teleport = restart match {
        case None => lit(alpha * danglingPr / n + (1.0 - alpha) / n)
        case Some(p) => lit(alpha * danglingPr + (1.0 - alpha)) * p
      }
      val next = normalized.drop("pr")
        .join(contrib, Seq("id"), "left")
        .withColumn("pr", coalesce(col("h"), lit(0.0)) * alpha + teleport)
        .select("id", "deg", "pr", "old_pr")

      // checkpoint EVERY iteration: `normalized` appears twice in
      // `next`'s plan (contrib + base), so without truncation the
      // logical plan doubles per iteration
      val (cp, r) = GraphOps.advance(next, state)(aggregate)
      state = cp
      row = r
      iter += 1
    }
    // Exit right after the aggregate materialized the returned state:
    // only its checkpoint outlives the call.
    e.unpersist(false)
    (state.select(col("id"), col("pr").as("rank")), iter)
  }
}
