package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Strongly connected components of a DIRECTED graph — the directed
  * cousin of the reference's undirected `cc_find` zones
  * (`/root/reference/oink/cc_find.cpp:38-109`), which a crawl-graph user
  * asks for next: pages that mutually link form one SCC; the condensation
  * is the link DAG.
  *
  * Algorithm: the coloring method (Orzan 2004; Slota, Rajamanickam,
  * Madduri, "BFS and coloring-based parallel algorithms for strongly
  * connected components", IPDPS 2014), the published bulk-synchronous
  * SCC shape — Tarjan's is inherently sequential (one DFS stack) and
  * cannot shard. Per outer round over the unassigned subgraph:
  *
  *   1. TRIM: a vertex with no in-edges or no out-edges is a singleton
  *      SCC — assign and drop (clears DAG periphery in parallel).
  *   2. COLOR: propagate c(v) = min{u : u ⇝ v} forward to fixpoint
  *      (one join + min-aggregation per level; labels only decrease, so
  *      an exact integer sum is a complete convergence witness, the
  *      [[Coreness]] discipline).
  *   3. ASSIGN: roots are vertices with c(r) = r. SCC(r) = backward BFS
  *      from r along edges whose BOTH endpoints share color r. Root
  *      SCCs are assigned whole: if any w < r reached a member v, then
  *      w ⇝ v ⇝ r would contradict c(r) = r — so every member of a
  *      root's SCC holds color exactly r, and r = min(SCC). Classes are
  *      disjoint, so ALL roots sweep in ONE joint BFS.
  *   4. Remove assigned vertices; repeat.
  *
  * Every round assigns at least the minimum remaining vertex's SCC, and
  * real (power-law) graphs drain in a handful of rounds: the giant SCC
  * goes in round one and trimming eats the DAG tails. The adversarial
  * worst case (a long path = |V| singleton SCCs trimmed two per round)
  * is inherent to SCC peeling, bounded by `maxOuter` with a loud
  * failure instead of silent partial output.
  *
  * Scale shape: all joins are keyed on vertex id (AQE-splittable); the
  * only per-round actions are one-row aggregates; checkpoints truncate
  * every iterative plan and release as soon as their successor is
  * materialized.
  */
object StronglyConnectedComponents {

  /** @param edges raw directed edge list (src, dst); self-loops and
    *              parallel edges are irrelevant to SCC membership
    * @return (v BIGINT, scc BIGINT) for every vertex of `edges`, with
    *         scc = the minimum vertex id of v's strongly connected
    *         component.
    *
    * Tail ([[GraphOps.TailThreshold]]): one task runs a sequential
    * Kosaraju pass over the subgraph induced by the unassigned vertices.
    * The labels are canonical (a pure function of the graph), so any
    * correct SCC algorithm lands on the rows the peel would. */
  def run(spark: SparkSession, edges: DataFrame, maxOuter: Int = 100,
      maxInner: Int = 200, tailThreshold: Int = GraphOps.TailThreshold): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .persist()
    val verts = GraphOps.vertexExtract(edges)

    // per-round assigned frames stay checkpointed until the final union
    val assignedParts = scala.collection.mutable.Buffer.empty[DataFrame]
    // a long-lived session must not inherit the loop's blocks on a failure
    def fail(msg: String, live: DataFrame*): Nothing = {
      (assignedParts.toSeq ++ live).foreach(Bridge.releaseCheckpoint)
      e0.unpersist(false)
      throw new IllegalStateException(msg)
    }
    var (remaining, nRemaining) = GraphOps.advance(verts)(_.count())
    var outer = 0
    while (nRemaining > tailThreshold.toLong && outer < maxOuter) {
      outer += 1
      // subgraph induced by the unassigned vertices
      val eR = Bridge.lazyCheckpoint(e0
        .join(remaining.select(col("v").as("rs")), col("src") === col("rs"), "left_semi")
        .join(remaining.select(col("v").as("rd")), col("dst") === col("rd"), "left_semi"))

      // 1. trim (one pass): no out-edge or no in-edge → singleton SCC
      val nonSingleton = Bridge.lazyCheckpoint(remaining
        .join(eR.select(col("src").as("os")), col("v") === col("os"), "left_semi")
        .join(eR.select(col("dst").as("is")), col("v") === col("is"), "left_semi"))
      // the count materializes eR and nonSingleton too
      val (trimmed, nTrimmed) = GraphOps.advance(
        remaining.join(nonSingleton.select(col("v").as("nv")),
            col("v") === col("nv"), "left_anti")
          .select(col("v"), col("v").as("scc")))(_.count())
      if (nTrimmed > 0) assignedParts += trimmed else Bridge.releaseCheckpoint(trimmed)

      // 2. color the non-singleton subgraph to the forward-min fixpoint
      val eT = Bridge.lazyCheckpoint(eR
        .join(nonSingleton.select(col("v").as("ts")), col("src") === col("ts"), "left_semi")
        .join(nonSingleton.select(col("v").as("td")), col("dst") === col("td"), "left_semi"))
      // exact decimal sum: labels only decrease, so equal sums == fixpoint
      def colorSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("c").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
      // materializes eT too
      var (color, prevSum) = GraphOps.advance(
        nonSingleton.select(col("v"), col("v").as("c")))(colorSum)
      var inner = 0
      var colorConverged = false
      while (!colorConverged && inner < maxInner) {
        inner += 1
        val msgs = eT.join(color, col("src") === col("v"))
          .select(col("dst").as("v"), col("c"))
        val (next, s) = GraphOps.advance(
          color.union(msgs).groupBy("v").agg(min("c").as("c")), color)(colorSum)
        color = next
        colorConverged = s.compareTo(prevSum) == 0
        prevSum = s
      }
      if (!colorConverged)
        fail(s"SCC coloring did not converge within $maxInner levels",
          remaining, eR, nonSingleton, eT, color)

      // 3. joint backward BFS from all roots within their color classes
      val eBack = Bridge.lazyCheckpoint(eT
        .join(color.select(col("v").as("cs"), col("c").as("c1")), col("src") === col("cs"))
        .join(color.select(col("v").as("cd"), col("c").as("c2")), col("dst") === col("cd"))
        .where(col("c1") === col("c2"))
        .select(col("dst").as("from"), col("src").as("to")))
      val (roots, nRoots) = GraphOps.advance(
        color.where(col("v") === col("c")).select(col("v")))(_.count())
      val sweep = GraphOps.bfs(roots, nRoots, Seq("v")) { (frontier, _) =>
        eBack.join(frontier, col("from") === frontier("v"))
          .select(col("to").as("v")).distinct()
      }(_.depth < maxInner)
      if (!sweep.drained) {
        // assigning the partial visited set would silently mislabel the
        // unreached members of the root SCCs in a later round
        sweep.release()
        fail(s"SCC backward sweep did not drain in $maxInner levels",
          remaining, eR, nonSingleton, eT, color, eBack)
      }

      // the count materializes `assigned` too
      val assigned = Bridge.lazyCheckpoint(sweep.visited
        .join(color.withColumnRenamed("v", "cv"), col("v") === col("cv"))
        .select(col("v"), col("c").as("scc")))
      val (next, n) = GraphOps.advance(
        nonSingleton
          .join(assigned.select(col("v").as("av")), col("v") === col("av"), "left_anti")
          .select(col("v")),
        Seq(remaining, eR, nonSingleton, eT, color, eBack) ++ sweep.levels: _*)(_.count())
      assignedParts += assigned
      remaining = next
      nRemaining = n
    }
    if (nRemaining > tailThreshold.toLong)
      fail(s"SCC did not drain in $maxOuter peel rounds", remaining)
    if (nRemaining > 0) {
      // Bounded sequential tail: one task runs Kosaraju over the
      // subgraph induced by the <= tailThreshold remaining vertices.
      // Rows carry both the vertex list (isEdge=false — a remaining
      // vertex may have lost all its induced edges since the last trim)
      // and the induced edge list; labels are the canonical
      // min-id-per-component, identical to the peel's by definition.
      val eRem = e0
        .join(remaining.select(col("v").as("rs")), col("src") === col("rs"), "left_semi")
        .join(remaining.select(col("v").as("rd")), col("dst") === col("rd"), "left_semi")
      val rows = remaining.select(col("v").as("a"), col("v").as("b"),
          lit(false).as("isEdge"))
        .unionAll(eRem.select(col("src").as("a"), col("dst").as("b"),
          lit(true).as("isEdge")))
      import spark.implicits._
      val tail = rows.as[(Long, Long, Boolean)]
        .coalesce(1)
        .mapPartitions { it =>
          val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val adj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
          val radj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
          it.foreach { case (a, b, isEdge) =>
            if (isEdge) {
              adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
              radj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
            } else vs += a
          }
          val verts0 = vs.sorted.toArray // deterministic traversal order
          // pass 1: iterative DFS on G, record finish order
          val visited = scala.collection.mutable.HashSet.empty[Long]
          val finish = scala.collection.mutable.ArrayBuffer.empty[Long]
          val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
          for (s <- verts0 if !visited.contains(s)) {
            visited += s
            stack += ((s, 0))
            while (stack.nonEmpty) {
              val (v, i) = stack.remove(stack.length - 1)
              val nbrs = adj.getOrElse(v, scala.collection.mutable.ArrayBuffer.empty)
              var j = i
              while (j < nbrs.length && visited.contains(nbrs(j))) j += 1
              if (j < nbrs.length) {
                stack += ((v, j + 1))
                visited += nbrs(j)
                stack += ((nbrs(j), 0))
              } else finish += v
            }
          }
          // pass 2: DFS on G^T in reverse finish order; each tree is one
          // SCC; label = min vertex id in the tree
          val label = new scala.collection.mutable.HashMap[Long, Long]
          val comp = scala.collection.mutable.ArrayBuffer.empty[Long]
          val st2 = scala.collection.mutable.ArrayBuffer.empty[Long]
          for (s <- finish.reverseIterator if !label.contains(s)) {
            comp.clear()
            st2 += s
            label(s) = Long.MinValue // claimed marker
            while (st2.nonEmpty) {
              val v = st2.remove(st2.length - 1)
              comp += v
              radj.getOrElse(v, scala.collection.mutable.ArrayBuffer.empty)
                .foreach { u =>
                  if (!label.contains(u)) { label(u) = Long.MinValue; st2 += u }
                }
            }
            val m = comp.min
            comp.foreach(v => label(v) = m)
          }
          label.iterator.map { case (v, c) => (v, c) }
        }
        .toDF("v", "scc")
        .localCheckpoint(true) // bounded; lets remaining/e0 retire
      assignedParts += tail
    }
    Bridge.releaseCheckpoint(remaining)
    val out =
      if (assignedParts.isEmpty) // edge list with no vertices at all
        verts.select(col("v"), col("v").as("scc"))
      else GraphOps.advance(assignedParts.reduce(_ union _), assignedParts.toSeq: _*)(
        _.count())._1
    e0.unpersist(false)
    out
  }

  /** Condensation DAG: one edge (from_scc, to_scc) per distinct pair of
    * components joined by at least one original edge — the link DAG of
    * the crawl graph ([[ConnectedComponents.stats]]' directed analog,
    * one level up). Pure composition: two vertex-keyed joins against
    * the O(|V|) label frame + a distinct; acyclic by construction. */
  def condense(edges: DataFrame, scc: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .join(scc.select(col("v").as("sv"), col("scc").as("from_scc")),
        col("src") === col("sv"))
      .join(scc.select(col("v").as("dv"), col("scc").as("to_scc")),
        col("dst") === col("dv"))
      .where(col("from_scc") =!= col("to_scc"))
      .select(col("from_scc"), col("to_scc"))
      .distinct()

  /** Component-size histogram — `cc_stats` (`oink/cc_stats.cpp:37-62`)
    * over the directed components. */
  def stats(scc: DataFrame): DataFrame =
    scc.groupBy("scc").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("ncomp"))
      .orderBy(col("size").desc)

  /** Shared oracle CTE body: reachability closure + the `scc` labels. */
  private def oracleCtes(edgesCte: String): String =
    s"""WITH RECURSIVE edges AS ($edgesCte),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |reach(a, b) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
       |scc AS MATERIALIZED (
       |  SELECT r1.a AS v, min(r1.b) AS scc
       |  FROM reach r1
       |  WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
       |  GROUP BY r1.a)""".stripMargin

  /** DuckDB oracle: full reachability closure (fine at gate scale), then
    * scc(v) = min over the mutually-reachable set. The recursive CTE's
    * UNION dedups, so `reach` is exactly the pair set. */
  def oracleSql(edgesCte: String): String =
    s"""${oracleCtes(edgesCte)}
       |SELECT v, scc FROM scc""".stripMargin

  /** Oracle for [[condense]]. */
  def condenseOracleSql(edgesCte: String): String =
    s"""${oracleCtes(edgesCte)}
       |SELECT DISTINCT sa.scc AS from_scc, sb.scc AS to_scc
       |FROM edges e
       |JOIN scc sa ON sa.v = e.src
       |JOIN scc sb ON sb.v = e.dst
       |WHERE sa.scc <> sb.scc""".stripMargin

  /** Oracle for [[TopoSort.levels]] over the condensation: longest
    * path ending at each condensation vertex, enumerated by a second
    * recursive CTE (every vertex seeds level 0; each edge extends a
    * path by 1; the max over all enumerated (v, l) pairs is the
    * longest path ending at v — identical to the 1+max(preds)
    * recursion with sources at 0). */
  def topoOracleSql(edgesCte: String): String =
    s"""${oracleCtes(edgesCte)},
       |cond AS MATERIALIZED (SELECT DISTINCT sa.scc AS f, sb.scc AS t
       |  FROM edges e
       |  JOIN scc sa ON sa.v = e.src
       |  JOIN scc sb ON sb.v = e.dst
       |  WHERE sa.scc <> sb.scc),
       |cverts AS MATERIALIZED (SELECT DISTINCT x AS v FROM (
       |  SELECT f AS x FROM cond UNION ALL SELECT t AS x FROM cond)),
       |lp(v, l) AS (
       |  SELECT v, 0 FROM cverts
       |  UNION
       |  SELECT c.t, lp.l + 1 FROM lp JOIN cond c ON c.f = lp.v)
       |SELECT v AS scc, CAST(max(l) AS BIGINT) AS level
       |FROM lp GROUP BY 1""".stripMargin

  /** Oracle for [[stats]]. */
  def statsOracleSql(edgesCte: String): String =
    s"""${oracleCtes(edgesCte)}
       |SELECT size, count(*) AS ncomp FROM (
       |  SELECT scc, count(*) AS size FROM scc GROUP BY scc)
       |GROUP BY size ORDER BY size DESC""".stripMargin
}
