package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Deterministic random-walk corpus generation — the input DeepWalk /
  * node2vec (Perozzi et al. KDD 2014; Grover & Leskovec KDD 2016) feed
  * their skip-gram stage, generated the only way that works distributed:
  * every "random" choice is a hash of (seed, walk, step, position), the
  * same vertex-keyed derandomization the engine uses for Luby priorities
  * and R-MAT (the reference's `srand48(v + seed)` idiom) — walks are
  * reproducible under any partitioning, across retries, and in a SQL
  * replica.
  *
  * Shape: the ranked adjacency (per-source neighbor index + out-degree)
  * is computed once and cached; each step is ONE equi-join of the
  * O(#walks) state frame against it — the next-hop "choice" is part of
  * the join key (`rn = hash % deg`), so no per-vertex sampling logic
  * exists anywhere, and a 100 TB edge table costs one cached
  * partitioning plus `length` state-sized joins. Walks stop early at
  * sinks (the join drops them), exactly like the sequential algorithm.
  *
  * Hub-safe rank: the per-source neighbor index is NOT a
  * `row_number().over(partitionBy(src))` — that funnels every out-edge
  * of one vertex through a single task, and a web-scale hub (10⁸
  * out-edges) would sort its whole edge list in one thread. Instead the
  * edge list is range-partitioned and sorted on (src, dst), given a
  * global index (one count pass + per-partition offsets — the standard
  * distributed rank), and the per-source rank is `gidx − min(gidx over
  * src)`: identical semantics, but a hub's edges spread across ALL
  * partitions and the only per-src reduction is a map-side-combined
  * min/count.
  */
object RandomWalks {

  /** @param edges  raw directed edge list; self-loops ignored, parallel
    *               edges weight the choice like repeated neighbors
    * @param seed   derandomization seed
    * @param length walk length (steps beyond the start)
    * @return (start BIGINT, step BIGINT, v BIGINT): one walk per vertex
    *         with out-edges; row (s, k, v) = walk from s is at v after
    *         k steps. */
  def run(spark: SparkSession, edges: DataFrame, seed: Long,
      length: Int): DataFrame = {
    require(length >= 1, s"length must be >= 1, got $length")
    val adj = rankedAdjacency(spark, edges) // persisted + materialized
    // one row per source: lets the state compute its pick BEFORE the
    // adjacency join, so that join is a true equi-join on (src, rn) —
    // one matched row per walk — instead of an src-only join that
    // fans out over deg(v) neighbors and filters (a celebrity vertex
    // would otherwise cost its whole degree per resident walk)
    val degs = adj.select(col("src").as("dv"), col("deg")).distinct()
    var state = adj.select(col("src").as("start")).distinct()
      .select(col("start"), lit(0L).as("step"), col("start").as("v"))
    val levels = scala.collection.mutable.Buffer(state)
    for (k <- 0 until length) {
      val picked = state
        .join(degs, col("v") === col("dv"))
        .select(col("start"), col("v"),
          (Hashing.hash60(concat_ws("|",
            lit(seed), col("start"), lit(k), col("v"))) % col("deg")).as("pick"))
      state = picked
        .join(adj, adj("src") === picked("v") && adj("rn") === picked("pick"))
        .select(col("start"), lit((k + 1).toLong).as("step"), col("dst").as("v"))
      levels += state
    }
    // length is a small constant, so the unioned plan is shallow; the
    // checkpoint lets the cached adjacency release before returning
    val out = GraphOps.advance(levels.reduce(_ union _))(_.count())._1
    adj.unpersist(false)
    out
  }

  /** (src, dst, rn, deg) with rn = 0-based rank of dst among src's
    * out-edges (parallel edges each hold a slot) and deg = out-degree —
    * the `row_number over (partition by src order by dst)` semantics,
    * computed hub-safely: range-sort on (src, dst), global index via
    * per-partition offsets, then rank = gidx − min(gidx) per src. */
  private[graph] def rankedAdjacency(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    val idx = indexedEdges(spark, edges)
    val srcAgg = idx.groupBy("src")
      .agg(min("gidx").as("g0"), count(lit(1)).as("deg"))
    val adj = idx.join(srcAgg, "src")
      .select(col("src"), col("dst"), (col("gidx") - col("g0")).as("rn"),
        col("deg"))
      .persist()
    // materialize before releasing the index cache it reads twice
    adj.count()
    idx.unpersist(false)
    adj
  }

  /** Range-sorted (src, dst, gidx) with gidx a global sort index —
    * zipWithIndex's count pass + per-partition offsets; the returned
    * frame is persisted (both rankedAdjacency consumers read it) and
    * released by rankedAdjacency once joined.
    *
    * zipWithIndex's two passes each execute the range sort. Whether to
    * cache the sorted edges across them instead is a SCALE trade,
    * switched by `spark.graft.walks.cacheSorted` (default false):
    * measured at sf0.1/local[32] the cache round-trip + extra
    * materialize job LOSES (g_walks 3.9 s → 5.0 s median — the sort is
    * latency-bound, not data-bound, on a 15 k-edge frame), while on a
    * data-bound 100 TB edge list sorting once is the only sane plan —
    * set the conf to true there. */
  private[graph] def indexedEdges(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val e = edges.where(col("src") =!= col("dst"))
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = e.repartitionByRange(parts, col("src"), col("dst"))
      .sortWithinPartitions("src", "dst")
    // zipWithIndex = one count job for partition sizes, then a lazy map
    // adding offset + position — no per-src task ever sees more than a
    // partition's worth of one hub's edges
    if (spark.conf.get("spark.graft.walks.cacheSorted", "false").toBoolean) {
      val cached = sorted.rdd.map(r => (r.getLong(0), r.getLong(1)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val idx = cached.zipWithIndex()
        .map { case ((s, d), i) => (s, d, i) }
        .toDF("src", "dst", "gidx")
        .persist()
      idx.count() // materialize from the sorted cache, then drop it
      cached.unpersist(false)
      idx
    } else {
      sorted.rdd.zipWithIndex()
        .map { case (r, i) => (r.getLong(0), r.getLong(1), i) }
        .toDF("src", "dst", "gidx")
        .persist()
    }
  }

  /** Unrolled DuckDB oracle: identical ranked adjacency, identical
    * hash-keyed next-hop joins. */
  def oracleSql(edgesCte: String, seed: Long, length: Int): String = {
    val steps = (0 until length).map { k =>
      val h = Hashing.hash60Sql(s"concat_ws('|', '$seed', w.start, $k, w.v)")
      s"""w${k + 1} AS MATERIALIZED (
         |  SELECT w.start, CAST(${k + 1} AS BIGINT) AS step, a.dst AS v
         |  FROM w$k w JOIN adj a ON a.src = w.v AND a.rn = $h % a.deg)""".stripMargin
    }.mkString(",\n")
    val union = (0 to length).map(k => s"SELECT * FROM w$k").mkString(" UNION ALL ")
    s"""WITH edges AS ($edgesCte),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM edges WHERE src <> dst),
       |w0 AS (SELECT start, CAST(0 AS BIGINT) AS step, start AS v FROM
       |  (SELECT DISTINCT src AS start FROM edges WHERE src <> dst)),
       |$steps
       |$union""".stripMargin
  }
}
