package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan, Albert,
  * Kumara, "Near linear time algorithm to detect community structures in
  * large-scale networks", Phys. Rev. E 2007) — the community layer the
  * reference's OINK suite stops short of (its cc_find
  * `/root/reference/oink/cc_find.cpp` merges CONNECTIVITY; LPA splits a
  * connected graph into dense communities), and a standard pre-grouping
  * step for corpus-level dedup at training-data scale.
  *
  * Deterministic fixed-round semantics: every vertex starts labeled with
  * its own id; each round every vertex simultaneously adopts the label
  * most frequent among its neighbors, ties broken by the SMALLEST label.
  * Synchronous updates + total tie order make round r a pure function of
  * the graph — no RNG, no visit order — which is what lets a SQL oracle
  * replay the identical rounds (asynchronous LPA, the paper's default, is
  * sequential by construction and cannot shard).
  *
  * Spark shape: one equi-join (neighbor label fetch, keyed on the
  * neighbor endpoint) and two hash aggregations per round — count per
  * (v, label), then an argmax via `min(struct(-cnt, label))`, so the
  * tie-break rides the struct ordering instead of a window sort. Both
  * aggregations carry map-side partials; a hot vertex's label votes
  * pre-combine before the shuffle, so degree skew bounds at #labels per
  * vertex per partition, not degree. The undirected edge frame is
  * computed once and cached across rounds — at 100 TB only the O(|V|)
  * label frame (or its broadcast) moves per round.
  */
object LabelPropagation {

  /** @param edges  raw directed edge list (src, dst) — canonicalized to
    *               the undirected simple graph like [[GraphOps.edgeUpper]]
    * @param rounds fixed synchronous rounds (the gate uses 4)
    * @return (v BIGINT, label BIGINT): final community label per
    *         non-isolated vertex. */
  def run(spark: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e0 = GraphOps.edgeUpper(edges)
    // computed once and cached: every round probes this frame, and the
    // join plans its own exchange (or broadcast) per AQE — an explicit
    // pre-repartition only adds a wasted shuffle when the label frame
    // broadcasts (verified on the formatted plan)
    val und = e0.union(e0.select(col("vj").as("vi"), col("vi").as("vj")))
      .persist()
    var lab = und.select(col("vi").as("v")).distinct()
      .withColumn("label", col("v"))
    for (_ <- 1 to rounds) {
      val msgs = und
        .join(lab.withColumnRenamed("v", "lv"), col("vj") === col("lv"))
        .select(col("vi").as("v"), col("label"))
      val votes = msgs.groupBy("v", "label").agg(count(lit(1)).as("cnt"))
      // argmin (-cnt asc, label asc) == argmax (cnt desc, label asc):
      // negating the COUNT (always ≥ 1, never overflows) instead of the
      // label keeps the tie-break correct for negative vertex ids too
      lab = votes
        .groupBy("v")
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
        .select(col("v"), col("m.label").as("label"))
    }
    // materialize the final labels so the cached edge frame can release
    // before returning (the checkpoint also truncates the nested
    // `rounds`-deep plan the caller would otherwise re-optimize)
    val out = GraphOps.advance(lab)(_.count())._1
    und.unpersist(false)
    out
  }

  /** The WITH-clause body replaying the identical synchronous rounds —
    * defines `edges`, `e0` (simple upper edges), `und` (doubled), and
    * `l0..l<rounds>` label tables. Shared with [[CommunityMetrics]]'
    * oracles, which score the final `l<rounds>` labels. */
  def labelCtes(edgesCte: String, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT u.vi AS v, l.label FROM und u JOIN l$i l ON l.v = u.vj),
         |c$i AS (SELECT v, label, count(*) AS cnt FROM m$i GROUP BY 1, 2),
         |l${i + 1} AS MATERIALIZED (
         |  SELECT v, label FROM (
         |    SELECT v, label, row_number() OVER (
         |      PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |  FROM edges WHERE least(src, dst) <> greatest(src, dst)),
       |und AS MATERIALIZED (
       |  SELECT vi, vj FROM e0 UNION ALL SELECT vj AS vi, vi AS vj FROM e0),
       |l0 AS MATERIALIZED (SELECT DISTINCT vi AS v, vi AS label FROM und),
       |$steps""".stripMargin
  }

  /** Unrolled DuckDB oracle replaying the identical synchronous rounds;
    * the row_number tie-break (cnt DESC, label ASC) is the same total
    * order as the struct-max. `edgesCte` is the shared edge-list SQL. */
  def oracleSql(edgesCte: String, rounds: Int): String =
    s"""WITH ${labelCtes(edgesCte, rounds)}
       |SELECT v, label FROM l$rounds""".stripMargin
}
