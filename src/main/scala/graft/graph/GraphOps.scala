package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** OINK graph primitives re-expressed as declarative Spark plans.
  * Reference semantics per file:line in each Scaladoc; SURVEY.md §2.5-2.6.
  *
  * All operate on a directed edge DataFrame `(src BIGINT, dst BIGINT)`;
  * duplicates/self-loops allowed on input (the reference's raw edge-list
  * contract, FIXTURES.md §1).
  */
object GraphOps {

  /** Bounded-tail policy of the iterative algorithms: once the part
    * still undecided (uncolored vertices, live edges, unvisited
    * vertices, …) is at most this many rows, the distributed rounds stop
    * and ONE task finishes the remainder sequentially. Late rounds
    * typically settle O(1) rows each while paying a full distributed
    * round's scheduling, so a tail of bounded size is cheaper in one
    * task; above the bound the rounds are the scale path. Each
    * algorithm's scaladoc argues why its tail lands on exactly the rows
    * its remaining rounds would, and each keeps a `tailThreshold`
    * parameter (0 = rounds only) so its spec pins both regimes equal. */
  val TailThreshold = 1024

  /** One round of an iterative loop: lazily checkpoint `next` (through
    * [[Bridge.lazyCheckpoint]], which caps runaway plan statistics), run
    * the round's single `action` on the checkpoint — it reads every
    * row, so the same job materializes the checkpoint — and only then
    * release `retire`, the checkpoints `next` was computed from. That
    * order is the invariant every loop relies on: a lazy checkpoint's
    * blocks are computed from its predecessors, so releasing one before
    * its successor materialized would destroy the only copy of the
    * recomputation source. Frames in `retire` that are not checkpoints
    * (e.g. an uncheckpointed initial state) are left alone.
    *
    * @return the checkpointed `next` and the action's result */
  def advance[A](next: DataFrame, retire: DataFrame*)(action: DataFrame => A): (DataFrame, A) = {
    val ck = Bridge.lazyCheckpoint(next)
    val result = action(ck)
    retire.foreach(Bridge.releaseCheckpoint)
    (ck, result)
  }

  /** State of a [[bfs]] sweep: its levels, level 0 the roots, each a
    * checkpoint, and their total row count. `grownN` is the last
    * level's row count, or 0 once a level came up empty — the sweep
    * drained; a positive `grownN` means the caller's stop rule ended it. */
  final case class Sweep(levels: Seq[DataFrame], visitedN: Long, grownN: Long) {
    def depth: Int = levels.size - 1
    def frontier: DataFrame = levels.last
    /** Every row reached so far; the levels are disjoint. */
    def visited: DataFrame = levels.reduce(_ union _)
    def drained: Boolean = grownN == 0
    def release(): Unit = levels.foreach(Bridge.releaseCheckpoint)
  }

  /** The level-synchronous BFS loop. Per level, `expand(frontier,
    * depth)` proposes the next level's rows and an anti-join on `key`
    * drops those already visited; the [[advance]] that checkpoints the
    * result counts it, the level's one job. Every level stays: together
    * they are the visited set, so nothing is copied or released until
    * the caller is done with them, except a level that came up empty.
    *
    * @param roots  level 0, a checkpoint the sweep takes over
    * @param rootsN the row count of `roots`
    * @param key    the columns that identify a visited row
    * @param more   the caller's stop rule, asked before every level; the
    *               sweep also stops when a level adds nothing */
  def bfs(roots: DataFrame, rootsN: Long, key: Seq[String])(
      expand: (DataFrame, Int) => DataFrame)(more: Sweep => Boolean): Sweep = {
    var s = Sweep(Seq(roots), rootsN, rootsN)
    while (!s.drained && more(s)) {
      val (grown, n) = advance(expand(s.frontier, s.depth + 1)
        .join(s.visited.select(key.map(col): _*), key, "left_anti"))(_.count())
      val levels = if (n > 0) s.levels :+ grown else { Bridge.releaseCheckpoint(grown); s.levels }
      s = Sweep(levels, s.visitedN + n, n)
    }
    s
  }

  /** `degree dupflag=1` (`/root/reference/oink/degree.cpp:36-59`):
    * out-degree per vertex (src endpoint only). */
  def outDegree(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))

  /** `degree dupflag=2`: both endpoints contribute. `explode` keeps this
    * one shuffle (map-side explode, partial count, single exchange). */
  def degreeBoth(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** `degree_stats` (`oink/degree_stats.cpp:35-70`): histogram of degrees,
    * descending — two chained aggregations, both with map-side partials. */
  def degreeStats(edges: DataFrame): DataFrame =
    degreeBoth(edges).groupBy(col("deg")).agg(count(lit(1)).as("nvert"))
      .orderBy(col("deg").desc)

  /** `degree_weight` (`oink/degree_weight.cpp:36-60`): per-edge weight
    * 1/outdeg(src). The degree side is a tiny aggregate of the edge list
    * itself — broadcast it so the big edge table never shuffles. */
  def degreeWeight(edges: DataFrame): DataFrame =
    edges.join(broadcast(outDegree(edges)), col("src") === col("v"))
      .select(col("src"), col("dst"),
        (lit(1.0) / col("deg").cast("double")).as("weight"))

  /** `edge_upper` (`oink/edge_upper.cpp:37-61`, `map_edge_upper.cpp:9-23`):
    * canonicalize to vi<vj, drop self-loops, dedupe. */
  def edgeUpper(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("vi"),
        greatest(col("src"), col("dst")).as("vj"))
      .where(col("vi") =!= col("vj"))
      .distinct()

  /** `vertex_extract` (`oink/vertex_extract.cpp:36-54`): distinct vertices. */
  def vertexExtract(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("src"), col("dst"))).as("v")).distinct()

  /** `neighbor` (`oink/neighbor.cpp:34-52`): adjacency list per src,
    * digested to a canonical sorted comma-joined string so the result is
    * deterministic and oracle-hashable. */
  def neighbors(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("v"))
      .agg(concat_ws(",", sort_array(collect_list(col("dst")))).as("nbrs"))

  /** Undirected expansion used by CC / triangles / MIS: canonical edges
    * in both directions. */
  def undirected(edges: DataFrame): DataFrame = {
    val e = edgeUpper(edges)
    e.union(e.select(col("vj").as("vi"), col("vi").as("vj")))
  }

  /** `neigh_tri` (`oink/neigh_tri.cpp:39-60`): per vertex, its neighbor
    * edges plus the OPPOSITE edge of every triangle containing it —
    * map1 (`neigh_tri.cpp:143-162`) keys each triangle under all three
    * vertices with the facing edge as value; print (`:126-137`) emits
    * `vi vj` for neighbor values and `vj vk` for triangle values. One
    * map-side explode on the (already small) triangle list unioned with
    * a projection of the edge list — no extra shuffle. */
  def neighTri(edges: DataFrame, triangles: DataFrame): DataFrame = {
    val nbrRows = edges.select(
      col("src").as("v"), col("src").as("ea"), col("dst").as("eb"))
    val triRows = triangles.select(explode(array(
        struct(col("a").as("v"), col("b").as("ea"), col("c").as("eb")),
        struct(col("b").as("v"), col("a").as("ea"), col("c").as("eb")),
        struct(col("c").as("v"), col("a").as("ea"), col("b").as("eb")))).as("r"))
      .select("r.v", "r.ea", "r.eb")
    nbrRows.unionByName(triRows)
  }

  /** Global clustering coefficient (transitivity): 3·|triangles| /
    * |wedges| on the simple undirected graph, the one-number cohesion
    * summary next to the per-vertex [[localClustering]]. Takes the
    * (possibly memoized) triangle enumeration; the wedge total is
    * Σ_v deg(v)·(deg(v)−1)/2 from the degree frame — no wedge is ever
    * materialized. Counts are exact integers, the coefficient one IEEE
    * division of exact integers.
    *
    * @return one row (n_tri, n_wedges, transitivity). */
  def transitivity(edges: DataFrame, triangles: DataFrame): DataFrame = {
    val deg = undirected(edges).groupBy(col("vi").as("v"))
      .agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      coalesce(sum(col("deg") * (col("deg") - 1)), lit(0L)).as("w2"))
      .select((col("w2") / 2).cast("long").as("n_wedges"))
    val tri = triangles.agg(count(lit(1)).as("n_tri"))
    tri.crossJoin(wedges) // two one-row frames
      .select(col("n_tri"), col("n_wedges"),
        when(col("n_wedges") > 0,
          (col("n_tri") * 3).cast("double") / col("n_wedges"))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  /** Directed reciprocity: the fraction of simple directed edges whose
    * reverse edge also exists (Garlaschelli & Loffredo, PRL 2004's
    * classic r). A left-semi self-join on the swapped key — only edge
    * keys shuffle. Exact counts, one closing division.
    *
    * @return one row (n_edges, n_recip, reciprocity). */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        when(col("n_edges") > 0,
          col("n_recip").cast("double") / col("n_edges"))
          .otherwise(lit(0.0)).as("reciprocity"))
  }

  /** Degree assortativity (Newman, "Assortative mixing in networks",
    * PRL 2002) on the simple undirected graph: the Pearson correlation
    * of endpoint degrees over the symmetric edge list, in the
    * integer-exact form r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) — every
    * sum an exact BIGINT (the symmetric list makes Σj = Σk), so the
    * only float is ONE division of exact integers. Overflow bound:
    * M·Σj² < 2^63 needs Σ_v deg³ · M < 2^63 — holds through
    * billion-edge graphs with max degree < ~10⁶; the DuckDB oracle
    * sums into HUGEINT and a wrap turns the gate red, not silent.
    *
    * @return one row (m, s_jk, s_j, s_j2, assortativity); degenerate
    *         (regular) graphs report 0. */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = undirected(edges)
    val deg = sym.groupBy(col("vi").as("v")).agg(count(lit(1)).as("deg"))
    val withDegs = sym
      .join(deg.select(col("v").as("ui"), col("deg").as("j")), col("vi") === col("ui"))
      .join(deg.select(col("v").as("uj"), col("deg").as("k")), col("vj") === col("uj"))
    withDegs.agg(
        count(lit(1)).as("m"),
        sum(col("j") * col("k")).as("s_jk"),
        sum(col("j")).as("s_j"),
        sum(col("j") * col("j")).as("s_j2"))
      .select(col("m"), col("s_jk"), col("s_j"), col("s_j2"),
        when(col("m") * col("s_j2") - col("s_j") * col("s_j") =!= 0,
          (col("m") * col("s_jk") - col("s_j") * col("s_j")).cast("double") /
            (col("m") * col("s_j2") - col("s_j") * col("s_j")))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Local clustering coefficient on the simple undirected graph:
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 where deg < 2. Takes the
    * (possibly memoized) triangle enumeration so the expensive stage is
    * shared; the only float is one division of exact integers, so a SQL
    * oracle reproduces it bit-for-bit. */
  def localClustering(edges: DataFrame, triangles: DataFrame): DataFrame = {
    val deg = undirected(edges).groupBy(col("vi").as("v"))
      .agg(count(lit(1)).as("deg"))
    val tc = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("tv"))
      .groupBy("tv").agg(count(lit(1)).as("ntri"))
    deg.join(tc, deg("v") === tc("tv"), "left")
      .select(deg("v"), col("deg"), coalesce(col("ntri"), lit(0L)).as("ntri"))
      .withColumn("lcc",
        when(col("deg") >= 2,
          (col("ntri") * 2).cast("double") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }
}
