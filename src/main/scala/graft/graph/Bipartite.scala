package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Per-component bipartiteness / odd-cycle detection over the simple
  * undirected graph (self-loops dropped by the [[GraphOps.edgeUpper]]
  * canonicalization, like `cc_find`): BFS-layer every component from
  * its [[ConnectedComponents]] root, then an edge whose endpoints share
  * layer PARITY witnesses an odd cycle — the textbook 2-coloring test,
  * run for ALL components in ONE joint BFS (components are disjoint, so
  * the frontier needs no per-root keying; dist is the unique shortest
  * distance from the component's root, making the odd-edge count
  * deterministic and oracle-replayable).
  *
  * Shape: reuses the O(log n) CC labels; the BFS is one join + distinct
  * + anti-join per LEVEL (diameter-bounded), the parity check one
  * two-sided join + aggregation. The community-structure diagnostic a
  * crawl/citation pipeline asks after components: "is this component
  * two-sided (users/items, authors/papers) or does it fold back on
  * itself?"
  */
object Bipartite {

  /** @param cc (v, comp) labels from [[ConnectedComponents.run]] —
    *           comp MUST be the component minimum (its default)
    * @return (comp BIGINT, size BIGINT, odd_edges BIGINT,
    *         bipartite BOOLEAN) per component.
    *
    * Tail ([[GraphOps.TailThreshold]]): one task finishes the layering
    * with a sequential multi-source BFS over the unvisited vertices.
    * `dist` is the unique shortest distance from the component root — a
    * pure function of the graph — so its rows equal the levels'. */
  def run(spark: SparkSession, edges: DataFrame, cc: DataFrame,
      maxIter: Int = 200, tailThreshold: Int = GraphOps.TailThreshold): DataFrame = {
    val eu = GraphOps.edgeUpper(edges).persist()
    val und = eu.union(eu.select(col("vj").as("vi"), col("vi").as("vj")))

    // the labels are consumed by several actions (count, roots, the
    // tail's anti-join); CC.run returns a live plan whose every action
    // re-derives the vertex set, so pin it once. One aggregate counts
    // both the vertices and the roots, whose checkpoint the first level
    // (or the tail) materializes.
    val (ccl, (nVerts, nRoots)) = GraphOps.advance(cc.select(col("v"), col("comp"))) { df =>
      val r = df.agg(count(lit(1)), count(when(col("v") === col("comp"), 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val roots = Bridge.lazyCheckpoint(ccl.where(col("v") === col("comp"))
      .select(col("v"), col("comp"), lit(0L).as("dist")))
    val sweep = GraphOps.bfs(roots, nRoots, Seq("v")) { (frontier, depth) =>
      frontier.join(und, frontier("v") === und("vi"))
        .select(col("vj").as("v"), col("comp"))
        // a vertex can arrive via several frontier edges — one row, its
        // single component label rides along
        .dropDuplicates("v")
        .withColumn("dist", lit(depth.toLong))
    }(s => nVerts - s.visitedN > tailThreshold.toLong && s.depth < maxIter)
    val nUnvisited = nVerts - sweep.visitedN
    if (!sweep.drained && nUnvisited > tailThreshold.toLong) {
      sweep.release()
      Bridge.releaseCheckpoint(ccl)
      eu.unpersist(false)
      throw new IllegalStateException(s"BFS did not drain in $maxIter levels")
    }
    val tail = if (sweep.drained || nUnvisited == 0) None else Some {
      // Bounded sequential tail over the <= tailThreshold unvisited
      // vertices. Every vertex within `depth` hops of its root is
      // visited, so the unvisited ones one hop past the frontier sit at
      // depth + 1 (a distributed semi-join finds them), and every other
      // one is reached through unvisited vertices only: the task reads
      // the unvisited set, those seeds and the edges among unvisited
      // vertices — never the frontier, however large.
      val unvisited = ccl
        .join(sweep.visited.select(col("v").as("xv")), col("v") === col("xv"), "left_anti")
        .select(col("v"), col("comp"))
      val nearFrontier = und
        .join(sweep.frontier.select(col("v").as("fv")), col("vi") === col("fv"), "left_semi")
        .select(col("vj").as("sv"))
      val seeds = unvisited.join(nearFrontier, col("v") === col("sv"), "left_semi")
      val inner = und
        .join(unvisited.select(col("v").as("uv")), col("vi") === col("uv"), "left_semi")
        .join(unvisited.select(col("v").as("uw")), col("vj") === col("uw"), "left_semi")
      val rows = unvisited
          .select(col("v").as("a"), col("comp").as("b"), lit(0).as("kind"))
        .unionAll(seeds.select(col("v").as("a"), lit(0L).as("b"), lit(1).as("kind")))
        .unionAll(inner.select(col("vi").as("a"), col("vj").as("b"), lit(2).as("kind")))
      val seedDist = sweep.depth + 1L
      import spark.implicits._
      rows.as[(Long, Long, Int)]
        .coalesce(1)
        .mapPartitions { it =>
          val comp = new scala.collection.mutable.HashMap[Long, Long]
          val dist = new scala.collection.mutable.HashMap[Long, Long]
          val adj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
          var queue = scala.collection.mutable.ArrayBuffer.empty[Long]
          it.foreach {
            case (v, c, 0) => comp(v) = c
            case (v, _, 1) => dist(v) = seedDist; queue += v
            case (a, b, _) =>
              adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
          }
          var d = seedDist
          while (queue.nonEmpty) {
            val nextQ = scala.collection.mutable.ArrayBuffer.empty[Long]
            d += 1L
            queue.foreach { v =>
              adj.getOrElse(v, scala.collection.mutable.ArrayBuffer.empty)
                .foreach { u =>
                  if (!dist.contains(u)) { dist(u) = d; nextQ += u }
                }
            }
            queue = nextQ
          }
          dist.iterator.map { case (v, d) => (v, comp(v), d) }
        }
        .toDF("v", "comp", "dist")
        .localCheckpoint(true)
    }
    val spent = sweep.levels ++ tail
    val vis = spent.reduce(_ union _)

    val side = vis.select(col("v"), col("comp"), pmod(col("dist"), lit(2L)).as("par"))
    val odd = eu
      .join(side.select(col("v").as("av"), col("par").as("pa")), col("vi") === col("av"))
      .join(side.select(col("v").as("bv"), col("par").as("pb"), col("comp")),
        col("vj") === col("bv"))
      .where(col("pa") === col("pb"))
      .groupBy("comp").agg(count(lit(1)).as("odd_edges"))
    val out = side.groupBy("comp").agg(count(lit(1)).as("size"))
      .join(odd, Seq("comp"), "left")
      .select(col("comp"), col("size"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"))
      .withColumn("bipartite", col("odd_edges") === 0L)
    val (ck, _) = GraphOps.advance(out, spent :+ ccl: _*)(_.count())
    eu.unpersist(false)
    ck
  }

  /** DuckDB oracle: CC labels via reachability closure, min-dist BFS
    * from each component root via a recursive walk, parity join. The
    * hop guard (60) is far above the test graphs' diameter. */
  def oracleSql(edgesCte: String): String =
    s"""WITH RECURSIVE edges AS ($edgesCte),
       |eu AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
       |       FROM edges WHERE src <> dst),
       |und AS MATERIALIZED (SELECT vi, vj FROM eu UNION ALL SELECT vj AS vi, vi AS vj FROM eu),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
       |cc AS MATERIALIZED (SELECT v, min(r) AS comp FROM reach GROUP BY v),
       |walk(v, comp, d) AS (
       |  SELECT comp, comp, CAST(0 AS BIGINT) FROM (SELECT DISTINCT comp FROM cc)
       |  UNION
       |  SELECT u.vj, w.comp, w.d + 1 FROM walk w JOIN und u ON u.vi = w.v
       |  WHERE w.d < 60),
       |dd AS MATERIALIZED (SELECT v, comp, min(d) % 2 AS par FROM walk GROUP BY v, comp),
       |odd AS (
       |  SELECT a.comp, count(*) AS odd_edges
       |  FROM eu e JOIN dd a ON a.v = e.vi JOIN dd b ON b.v = e.vj
       |  WHERE a.par = b.par GROUP BY a.comp)
       |SELECT c.comp, count(*) AS size,
       |  coalesce(any_value(o.odd_edges), 0) AS odd_edges,
       |  coalesce(any_value(o.odd_edges), 0) = 0 AS bipartite
       |FROM cc c LEFT JOIN odd o ON o.comp = c.comp
       |GROUP BY c.comp""".stripMargin
}
