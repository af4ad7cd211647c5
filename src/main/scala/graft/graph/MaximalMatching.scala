package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.Hashing

/** Maximal matching — [[LubyMIS]]'s edge-side sibling (Israeli & Itai,
  * "A fast and simple randomized parallel algorithm for maximal
  * matching", IPL 1986, derandomized the engine's usual way): every
  * edge draws a deterministic priority `hash60(seed|vi|vj)`; per round,
  * an edge joins the matching when it is the minimum-priority incident
  * edge of BOTH its endpoints (ties broken by (vi, vj)); matched
  * vertices leave; repeat until no edges remain. With a total priority
  * order the fixpoint is exactly the SEQUENTIAL greedy matching of that
  * order — the globally smallest live edge is always mutually minimal,
  * and no edge beaten at an endpoint by a smaller live edge can be
  * greedy-matched — so the result is partition-independent and a SQL
  * replica can replay the identical rounds.
  *
  * Scale shape: the live edge frame SHRINKS every round (matched
  * endpoints drop out); per round two vertex-keyed min-aggregations and
  * two semi/anti joins, one count action, lazy checkpoints with prompt
  * release. Rounds are O(log |E|) w.h.p. — each round matches every
  * locally-minimal mutually-agreeing edge in parallel, not one edge.
  */
object MaximalMatching {

  /** @return (vi BIGINT, vj BIGINT): the matched edges (vi < vj),
    *         deterministic per seed.
    *
    * Tail ([[GraphOps.TailThreshold]]): one task runs the sequential
    * greedy matching of ascending (h, vi, vj) over the live edges, whose
    * endpoints are all unmatched — the exact remainder of the fixpoint
    * the rounds land on. */
  def run(spark: SparkSession, edges: DataFrame, seed: Long,
      maxIter: Int = 100, tailThreshold: Int = GraphOps.TailThreshold): DataFrame =
    runCounted(spark, edges, seed, maxIter, tailThreshold)._1

  /** Like [[run]] but also reports the round count (spec'd O(log) on a
    * long path with `tailThreshold = 0`, the pure distributed regime;
    * it also bounds the oracle's unroll depth). */
  def runCounted(spark: SparkSession, edges: DataFrame, seed: Long,
      maxIter: Int = 100, tailThreshold: Int = GraphOps.TailThreshold): (DataFrame, Int) = {
    var (live, n) = GraphOps.advance(GraphOps.edgeUpper(edges)
      .withColumn("h",
        Hashing.hash60(concat_ws("|", lit(seed), col("vi"), col("vj")))))(_.count())
    val parts = scala.collection.mutable.Buffer.empty[DataFrame]
    var rounds = 0
    while (n > tailThreshold.toLong && rounds < maxIter) {
      rounds += 1
      // per-vertex minimum incident edge, as an orderable struct
      val und = live.select(col("vi").as("v"), col("h"), col("vi"), col("vj"))
        .union(live.select(col("vj").as("v"), col("h"), col("vi"), col("vj")))
      val mins = und.groupBy("v")
        .agg(min(struct(col("h"), col("vi"), col("vj"))).as("m"))
      // matched = min at BOTH endpoints; the round's count materializes it
      val matched = Bridge.lazyCheckpoint(live
        .join(mins.select(col("v").as("av"), col("m").as("ma")), col("vi") === col("av"))
        .join(mins.select(col("v").as("bv"), col("m").as("mb")), col("vj") === col("bv"))
        .where(struct(col("h"), col("vi"), col("vj")) === col("ma") &&
          struct(col("h"), col("vi"), col("vj")) === col("mb"))
        .select(col("vi"), col("vj")))
      val mv = matched.select(col("vi").as("v"))
        .union(matched.select(col("vj").as("v")))
      val nextLive = live
        .join(mv.select(col("v").as("x1")), col("vi") === col("x1"), "left_anti")
        .join(mv.select(col("v").as("x2")), col("vj") === col("x2"), "left_anti")
      val (ck, nextN) = GraphOps.advance(nextLive, live)(_.count())
      parts += matched
      live = ck
      n = nextN
    }
    if (n > tailThreshold.toLong) {
      (parts.toSeq :+ live).foreach(Bridge.releaseCheckpoint)
      throw new IllegalStateException(
        s"matching did not drain in $maxIter rounds")
    }
    if (n > 0) {
      // Bounded sequential tail: every live edge still has BOTH
      // endpoints unmatched, so the greedy continuation over the live
      // set in ascending (h, vi, vj) IS the remainder of the global
      // greedy matching the fixpoint equals — one task, bit-identical.
      import spark.implicits._
      val tail = live.select(col("h"), col("vi"), col("vj"))
        .as[(Long, Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val es = it.toArray.sorted // ascending (h, vi, vj)
          val used = scala.collection.mutable.HashSet.empty[Long]
          es.iterator.flatMap { case (_, a, b) =>
            if (used(a) || used(b)) Iterator.empty
            else { used += a; used += b; Iterator.single((a, b)) }
          }
        }
        .toDF("vi", "vj")
        .localCheckpoint(true) // bounded; lets live's blocks retire
      parts += tail
    }
    Bridge.releaseCheckpoint(live)
    if (parts.isEmpty)
      return (edges.sparkSession.range(0).toDF("vi")
        .select(col("vi"), col("vi").as("vj")), rounds)
    (GraphOps.advance(parts.reduce(_ union _), parts.toSeq: _*)(_.count())._1, rounds)
  }

  /** 2-approximate minimum vertex cover — the endpoints of a maximal
    * matching (the classic Gavril/Yannakakis bound: every edge has a
    * matched endpoint, and no cover can take fewer than one vertex per
    * matched edge). Rides the matching's determinism. */
  def vertexCover(spark: SparkSession, edges: DataFrame, seed: Long): DataFrame =
    run(spark, edges, seed)
      .select(explode(array(col("vi"), col("vj"))).as("v"))
      .distinct()

  /** Oracle twin of [[vertexCover]] over the matching oracle. */
  def vertexCoverOracleSql(edgesCte: String, seed: Long, rounds: Int): String =
    s"""WITH m AS (${oracleSql(edgesCte, seed, rounds)})
       |SELECT DISTINCT v FROM (
       |  SELECT vi AS v FROM m UNION ALL SELECT vj AS v FROM m)""".stripMargin

  /** Unrolled DuckDB oracle replaying the identical rounds; `rounds`
    * must be ≥ the fixpoint depth (extra rounds are empty no-ops — and
    * the Spark side fails loudly past maxIter, so a silent undercount
    * needs the implausible pairing of a deep graph with a small unroll;
    * [[runCounted]]'s round count sizes it). */
  def oracleSql(edgesCte: String, seed: Long, rounds: Int): String = {
    val h = Hashing.hash60Sql(s"concat_ws('|', '$seed', vi, vj)")
    val steps = (0 until rounds).map { i =>
      s"""u$i AS (SELECT vi AS v, h, vi, vj FROM e$i
         |  UNION ALL SELECT vj AS v, h, vi, vj FROM e$i),
         |mn$i AS MATERIALIZED (
         |  SELECT v, h, vi, vj FROM (
         |    SELECT *, row_number() OVER (PARTITION BY v ORDER BY h, vi, vj) AS rn
         |    FROM u$i) WHERE rn = 1),
         |m$i AS MATERIALIZED (
         |  SELECT e.vi, e.vj FROM e$i e
         |  JOIN mn$i a ON a.v = e.vi AND a.h = e.h AND a.vi = e.vi AND a.vj = e.vj
         |  JOIN mn$i b ON b.v = e.vj AND b.h = e.h AND b.vi = e.vi AND b.vj = e.vj),
         |mv$i AS (SELECT vi AS v FROM m$i UNION SELECT vj FROM m$i),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT * FROM e$i e
         |  WHERE NOT EXISTS (SELECT 1 FROM mv$i x WHERE x.v = e.vi)
         |    AND NOT EXISTS (SELECT 1 FROM mv$i x WHERE x.v = e.vj))""".stripMargin
    }.mkString(",\n")
    val union = (0 until rounds).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""WITH edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT vi, vj, $h AS h FROM (
       |    SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |    FROM edges WHERE least(src, dst) <> greatest(src, dst))),
       |$steps
       |$union""".stripMargin
  }
}
