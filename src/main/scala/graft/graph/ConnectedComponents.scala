package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Connected components — the reference's `cc_find` zone assignment
  * (`/root/reference/oink/cc_find.cpp:38-109`: every vertex ends up with
  * the minimum "zone" id of its component). The reference reaches the
  * fixpoint by min-label propagation, which needs O(diameter) rounds; at
  * 100 TB a high-diameter graph (road networks, chains of crawl links)
  * makes that a scale-killer, so this implementation uses the
  * large-star/small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14): the same per-round primitive
  * (groupBy min + self-join), but edges are rewired toward component
  * minima so the fixpoint arrives in O(log n) rounds regardless of
  * diameter. The reference's big-zone random-scatter splitting
  * (`cc_find.cpp:202-300`) is an artifact of MR-MPI reducer skew; here
  * the hub-key skew of the star steps is handled by AQE skew-join
  * splitting (SURVEY.md §7.3).
  *
  * Scale notes: per round, large-star is one groupBy(min) + one join on
  * the current edge set, small-star the same on the larger-endpoint
  * orientation — all keyed shuffles that AQE can split on skew. Edge-set
  * convergence is detected with a count+hash signature (one lightweight
  * aggregate per round) instead of a set-difference join.
  */
object ConnectedComponents {

  /** Large-star: for every vertex u with neighborhood N(u), connect each
    * strictly larger neighbor to m = min(N(u) ∪ {u}). Keeps stars rooted
    * at local minima; halves long chains.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val und = edges.union(edges.select(col("vj").as("vi"), col("vi").as("vj")))
    val mins = und.groupBy("vi").agg(min("vj").as("mn"))
      .select(col("vi").as("u"), least(col("mn"), col("vi")).as("m"))
    // No distinct here (r13): the only consumer is smallStar, whose
    // groupBy-min is duplicate-insensitive and whose own final distinct
    // set-normalizes the round output — so the per-round edge-set
    // trajectory (and the convergence signature) is unchanged while the
    // round drops one full exchange of the intermediate (guide §2.4).
    und.join(mins, und("vi") === col("u"))
      .where(col("vj") > col("vi"))
      .select(col("vj").as("vi"), col("m").as("vj"))
  }

  /** Small-star: orient each edge toward its larger endpoint, then link
    * every smaller neighbor (and u itself) to m = min(N(u) ∪ {u}).
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
        greatest(col("vi"), col("vj")).as("u"),
        least(col("vi"), col("vj")).as("v"))
      .where(col("u") =!= col("v"))
    val mins = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(mins, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("vi"), col("m").as("vj"))
      .union(mins.select(col("u").as("vi"), col("m").as("vj")))
      .distinct()
  }

  /** @param edges directed edge list; components are of the undirected
    *              graph (the reference treats edges as undirected zones).
    * @return (v BIGINT, comp BIGINT) — comp = min vertex id reachable.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 50,
      tailThreshold: Int = GraphOps.TailThreshold): DataFrame =
    runCounted(spark, edges, maxIter, tailThreshold)._1

  /** INCREMENTAL maintenance: components of (standing graph ∪ edge
    * batch) from the standing ASSIGNMENT alone — the standing edges are
    * never touched again, the nightly-graph-refresh shape (new follows /
    * links / citations landing on a billion-edge standing graph).
    *
    * Each batch edge contracts onto its endpoints' standing component
    * ids (endpoints the standing graph never saw stand for themselves);
    * CC runs on that CONTRACTED graph — |batch| edges over component-id
    * vertices, microscopic next to the standing graph — and the standing
    * assignment remaps through the result with one join. Labels equal a
    * full recompute EXACTLY: a standing component id is the min vertex
    * of its part, new vertices are their own ids, so the min over a
    * merged contracted component is the true global min — which is what
    * the g_cc_inc gate proves (its oracle is the full-graph closure).
    *
    * @param standing (v, comp) from a prior [[run]] over the standing edges
    * @param newEdges the batch (directed; treated undirected, as [[run]])
    * @return (v, comp) for every vertex of the UNION graph */
  def incremental(spark: SparkSession, standing: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val cmap = standing.select(col("v"), col("comp"))
    val contracted = newEdges
      .join(cmap.select(col("v").as("src"), col("comp").as("csrc")),
        Seq("src"), "left")
      .join(cmap.select(col("v").as("dst"), col("comp").as("cdst")),
        Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))
    val merged = run(spark, contracted) // (v = contracted id, comp = root)
      .select(col("v").as("cid"), col("comp").as("root"))
    val standingOut = cmap
      .join(merged, cmap("comp") === merged("cid"), "left")
      .select(col("v"), coalesce(col("root"), col("comp")).as("comp"))
    val newOnly = GraphOps.vertexExtract(newEdges)
      .join(cmap.select("v"), Seq("v"), "left_anti")
      .join(merged, col("v") === merged("cid"), "left")
      .select(col("v"), coalesce(col("root"), col("v")).as("comp"))
    standingOut.unionAll(newOnly)
  }

  /** Like [[run]] but also reports the number of star rounds executed —
    * the O(log n) bound is asserted in GraphAlgoSpec on a long chain.
    *
    * Tail ([[GraphOps.TailThreshold]]): the first convergence signature
    * already counts the canonical edges, so a small edge set skips the
    * star rounds and one task runs union-find with union-by-min. Every
    * root is then the minimum of its set, so find() yields exactly the
    * canonical comp = min-reachable-id label the rounds converge to.
    */
  def runCounted(spark: SparkSession, edges: DataFrame, maxIter: Int = 50,
      tailThreshold: Int = GraphOps.TailThreshold): (DataFrame, Int) = {
    val verts = GraphOps.vertexExtract(edges)

    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(vi, vj))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // Canonical undirected edge set; the star steps rewrite it in place.
    var (e, sig) = GraphOps.advance(GraphOps.edgeUpper(edges))(signature)
    if (sig._1 > 0 && sig._1 <= tailThreshold.toLong) {
      import spark.implicits._
      val labels = e.select(col("vi"), col("vj")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val n = parent(c); parent(c) = r; c = n
            }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) { parent(a) = a; seen += a }
            if (!parent.contains(b)) { parent(b) = b; seen += b }
            val ra = find(a); val rb = find(b)
            // union-by-min keeps every root the minimum of its set
            if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          }
          // star-forest contract: one (v, root) row per NON-root vertex
          seen.iterator.flatMap { v =>
            val r = find(v)
            if (r == v) Iterator.empty else Iterator.single((v, r))
          }
        }
        .toDF("vi", "vj")
        .localCheckpoint(true)
      Bridge.releaseCheckpoint(e)
      val comp = verts.join(labels, verts("v") === labels("vi"), "left")
        .select(col("v"), coalesce(col("vj"), col("v")).as("comp"))
      return (comp, 0)
    }
    var iter = 0
    var converged = sig._1 == 0 // empty edge set: the count is already here
    while (!converged && iter < maxIter) {
      // checkpoint every round: each star step references the round's
      // edge set twice (groupBy + join), so the logical plan would
      // double per round without truncation
      val (next, nextSig) = GraphOps.advance(smallStar(largeStar(e)), e)(signature)
      converged = nextSig == sig
      sig = nextSig
      e = next
      iter += 1
    }

    // The extraction below is only valid at the fixpoint (star forest =
    // exactly one root per non-root vertex); a maxIter bailout would
    // silently emit multiple (v, comp) rows per vertex.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter star rounds " +
          "(O(log n) expected; raise maxIter)")

    // At the fixpoint the edge set is a star forest (v, root). Roots and
    // isolated vertices map to themselves.
    val comp = verts.join(e, verts("v") === e("vi"), "left")
      .select(col("v"), coalesce(col("vj"), col("v")).as("comp"))
    (comp, iter)
  }

  /** `cc_stats` (`oink/cc_stats.cpp:37-62`): component-size histogram. */
  def stats(cc: DataFrame): DataFrame =
    cc.groupBy("comp").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("ncomp"))
      .orderBy(col("size").desc)
}
