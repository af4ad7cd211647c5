package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Minimum spanning forest by parallel Borůvka (Borůvka 1926; the
  * MapReduce formulation of Lattanzi et al., "Filtering: a method for
  * solving graph problems in MapReduce", SPAA 2011): every round each
  * component selects its lightest incident cross edge, the selected
  * edges merge components (lazy pointer-doubling over the min-edge
  * pointer forest — see the in-loop comment), and the contracted edge
  * set is pruned to the lightest edge per component pair. Component
  * count at least halves per round, so O(log n) rounds, each paying
  * exactly ONE synchronous action — the merge shortcut is log-deep but
  * fully lazy, so no convergence barrier per merge iteration.
  *
  * Edge weights are the deterministic `hash60(seed|vi|vj)` of the
  * canonical simple edge ([[graft.functions.Hashing]]), and every
  * selection orders by the full tuple (w, vi, vj) — a strict total order
  * on edges, which makes the forest unique (the classic
  * distinct-weights argument) and both engines' replay bit-identical.
  * The reference's OINK suite stops at connectivity
  * (`oink/cc_find.cpp:38-109`); MSF is the natural next ask of the same
  * zone machinery.
  *
  * Scale shape: per round one map-side-combined argmin per component,
  * ⌈log2(2·ne)⌉ lazy self-joins over the ≤ #components pointer frame,
  * two label joins, and a per-component-pair prune that only ever
  * shrinks the live edge set — everything keyed, nothing driver-sized.
  * Checkpoint discipline per
  * [[org.apache.spark.sql.graftbridge.Bridge]]: constant plan depth
  * across rounds, blocks released as rounds retire.
  */
object MinimumSpanningForest {

  /** Weight-derivation seed shared with the oracle. */
  val WeightSeed = 31L

  /** Canonical simple edges with their deterministic weights:
    * (vi, vj, w) where vi < vj and w = hash60(seed|vi|vj). */
  def weighted(edges: DataFrame): DataFrame =
    GraphOps.edgeUpper(edges).withColumn("w",
      Hashing.hash60(WeightSeed, concat_ws("|", col("vi"), col("vj"))))

  /** @return (vi BIGINT, vj BIGINT, w BIGINT): the forest edges (one
    *         tree per connected component; |V| − #components rows). */
  def run(spark: SparkSession, edges: DataFrame): DataFrame =
    runCounted(spark, edges)._1

  def runCounted(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 40): (DataFrame, Int) = {
    import org.apache.spark.sql.graftbridge.Bridge
    def emptyOut = spark.range(0).select(col("id").as("vi"),
      col("id").as("vj"), col("id").as("w"))
    // live contracted edges: original endpoints (vi, vj), weight, and
    // the CURRENT component endpoints (ca, cb); initially ca=vi, cb=vj
    var (live, ne) = GraphOps.advance(weighted(edges).select(
      col("vi"), col("vj"), col("w"),
      col("vi").as("ca"), col("vj").as("cb")))(_.count())
    val sels = scala.collection.mutable.Buffer.empty[DataFrame]
    var round = 0
    def alive: Seq[DataFrame] = live +: sels.toSeq
    while (ne > 0) {
      if (round >= maxIter) {
        alive.foreach(Bridge.releaseCheckpoint)
        throw new IllegalStateException(
          s"Borůvka did not contract in $maxIter rounds ($ne edges left)")
      }
      // each component's lightest incident edge, by the total order
      // (w, vi, vj); an edge picked from both sides dedupes to one row
      val both = live.select(col("ca").as("c"), col("w"), col("vi"),
          col("vj"), col("ca"), col("cb"))
        .union(live.select(col("cb").as("c"), col("w"), col("vi"),
          col("vj"), col("ca"), col("cb")))
      val picks = both.groupBy("c")
        .agg(min(struct(col("w"), col("vi"), col("vj"), col("ca"),
          col("cb"))).as("m"))
      val sel = Bridge.lazyCheckpoint(
        picks.select(col("m.vi").as("vi"), col("m.vj").as("vj"),
          col("m.w").as("w"), col("m.ca").as("ca"), col("m.cb").as("cb"))
        .distinct())
      sels += sel // materialized by this round's single action below
      // Merge the components connected by selected edges — NOT a full
      // CC call: following min-edge picks, every pseudoforest component
      // has exactly one cycle and (under the strict edge order) that
      // cycle has length 2, so breaking each mutual pair toward its
      // smaller id leaves a rooted forest; ⌈log2(depth bound)⌉ lazy
      // pointer-doubling self-joins shortcut every pointer to its root
      // with ZERO intermediate actions (a star-CC pass here would pay
      // an action barrier per iteration). Labels only need to induce
      // the right PARTITION — the oracle's min-reachable labels group
      // identically even though the representative values differ.
      val part = picks.select(col("c"),
        when(col("m.ca") === col("c"), col("m.cb"))
          .otherwise(col("m.ca")).as("d"))
      val pp = part.join(
          part.select(col("c").as("dc"), col("d").as("dd")),
          col("d") === col("dc"))
        .select(col("c"),
          when(col("dd") === col("c") && col("c") < col("d"), col("c"))
            .otherwise(col("d")).as("r"))
      // chain depth ≤ #participating components ≤ 2·ne. Every doubling
      // references its predecessor TWICE, so each step lazily
      // checkpoints — the Catalyst plan stays a two-leaf join (without
      // this the logical plan doubles per step: 2^jumps leaves) while
      // the blocks still all materialize inside this round's single
      // action below.
      val jumps = math.ceil(math.log((2.0 * ne) + 2) / math.log(2.0)).toInt
      var p = pp
      val hops = scala.collection.mutable.Buffer.empty[DataFrame]
      // Adaptive doubling: the hard bound `jumps` is the provable
      // worst case (a depth-ncomp chain), but under hash weights real
      // pointer depth is far smaller — probe stability (every pointer
      // at a root: p(r) == r) every 3 hops and stop early. The probe is
      // one tiny action that also materializes the queued hop
      // checkpoints; worst case the loop still runs all `jumps` hops.
      var hop = 0
      var stable = false
      while (!stable) {
        p = Bridge.lazyCheckpoint(
          p.join(p.select(col("c").as("rc"), col("r").as("rr")),
              col("r") === col("rc"))
            .select(col("c"), col("rr").as("r")))
        hops += p
        hop += 1
        if (hop >= jumps) stable = true
        else if (hop % 3 == 0)
          stable = p.join(p.select(col("c").as("rc"), col("r").as("rr")),
              col("r") === col("rc"))
            .where(col("rr") =!= col("r")).isEmpty
      }
      val labs = p.select(col("c").as("v"), col("r").as("comp"))
      val relab = live
        .join(labs.select(col("v").as("ca"), col("comp").as("na")),
          Seq("ca"), "left")
        .join(labs.select(col("v").as("cb"), col("comp").as("nb")),
          Seq("cb"), "left")
        .select(col("vi"), col("vj"), col("w"),
          coalesce(col("na"), col("ca")).as("ca"),
          coalesce(col("nb"), col("cb")).as("cb"))
        .where(col("ca") =!= col("cb"))
      // prune parallel edges: only the lightest edge between a component
      // pair can ever be selected — the live set strictly shrinks
      val (nextLive, n) = GraphOps.advance(relab
        .withColumn("pa", least(col("ca"), col("cb")))
        .withColumn("pb", greatest(col("ca"), col("cb")))
        .groupBy("pa", "pb")
        .agg(min(struct(col("w"), col("vi"), col("vj"), col("ca"),
          col("cb"))).as("m"))
        .select(col("m.vi").as("vi"), col("m.vj").as("vj"),
          col("m.w").as("w"), col("m.ca").as("ca"), col("m.cb").as("cb")),
        live +: hops.toSeq: _*)(_.count())
      live = nextLive
      ne = n
      round += 1
    }
    if (sels.isEmpty) {
      alive.foreach(Bridge.releaseCheckpoint)
      return (emptyOut, round)
    }
    val out = GraphOps.advance(
      sels.map(_.select(col("vi"), col("vj"), col("w"))).reduce(_ union _),
      alive: _*)(_.count())._1
    (out, round)
  }

  /** One-row summary: edge count plus an order-independent XOR
    * signature of the weights (a SUM of ~n·2^59 hash weights would
    * overflow BIGINT; XOR is exact, commutative, and native in both
    * engines). */
  def summarize(forest: DataFrame): DataFrame =
    forest.agg(count(lit(1)).as("n_edges"),
      coalesce(expr("bit_xor(w)"), lit(0L)).as("xor_w"))

  /** Unrolled DuckDB oracle: the identical Borůvka replay — per round an
    * argmin window per component, a recursive-CTE merge over the
    * selected component graph, and the per-pair prune. `rounds` must be
    * ≥ the contraction depth (≥ log2 |V|; extra rounds are no-ops on an
    * empty live set). */
  def oracleSql(edgesCte: String, rounds: Int): String = {
    val w = Hashing.hash60Sql(WeightSeed, "concat_ws('|', vi, vj)")
    val steps = (0 until rounds).map { i =>
      s"""both$i AS (
         |  SELECT ca AS c, w, vi, vj, ca, cb FROM live$i
         |  UNION ALL SELECT cb AS c, w, vi, vj, ca, cb FROM live$i),
         |sel$i AS MATERIALIZED (
         |  SELECT DISTINCT w, vi, vj, ca, cb FROM (
         |    SELECT c, w, vi, vj, ca, cb,
         |      row_number() OVER (PARTITION BY c ORDER BY w, vi, vj) AS rn
         |    FROM both$i) WHERE rn = 1),
         |und$i AS (SELECT ca AS a, cb AS b FROM sel$i
         |          UNION ALL SELECT cb AS a, ca AS b FROM sel$i),
         |reach$i(v, r) AS (
         |  SELECT DISTINCT a, a FROM und$i
         |  UNION
         |  SELECT u.b, re.r FROM reach$i re JOIN und$i u ON u.a = re.v),
         |lab$i AS MATERIALIZED (
         |  SELECT v AS c, min(r) AS nc FROM reach$i GROUP BY v),
         |live${i + 1} AS MATERIALIZED (
         |  SELECT vi, vj, w, ca, cb FROM (
         |    SELECT vi, vj, w, ca, cb, row_number() OVER (
         |      PARTITION BY least(ca, cb), greatest(ca, cb)
         |      ORDER BY w, vi, vj) AS rn
         |    FROM (SELECT l.vi, l.vj, l.w,
         |            coalesce(la.nc, l.ca) AS ca, coalesce(lb.nc, l.cb) AS cb
         |          FROM live$i l
         |          LEFT JOIN lab$i la ON la.c = l.ca
         |          LEFT JOIN lab$i lb ON lb.c = l.cb)
         |    WHERE ca <> cb) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val selUnion = (0 until rounds)
      .map(i => s"SELECT vi, vj, w FROM sel$i").mkString(" UNION ALL ")
    s"""WITH RECURSIVE edges AS ($edgesCte),
       |eu AS (SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |       FROM edges WHERE src <> dst),
       |live0 AS MATERIALIZED (
       |  SELECT vi, vj, $w AS w, vi AS ca, vj AS cb FROM eu),
       |$steps
       |$selUnion""".stripMargin
  }
}
