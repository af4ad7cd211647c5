package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, HllSketch}
import graft.graph.NeighborhoodFunction

/** Structured Streaming surface for EDGE streams — the incremental twin
  * of the batch HyperANF machinery ([[graft.graph.NeighborhoodFunction]]).
  *
  * The radius-1 neighborhood ball is a monotone sketch union: as edges
  * (src, dst) arrive, sketch(src) absorbs dst's singleton and every
  * vertex absorbs its own — HLL registers merge by max, so the state is
  * a join-semilattice (a CRDT) and arrival order, duplication, and
  * batching cannot change the result. The state store holds ONE
  * 256-byte register blob per vertex (the roadmap's "register blobs in
  * the state store" shape), constant per vertex no matter how many
  * edges stream through — the bounded-state requirement of a 100 TB/day
  * link stream. No watermark is needed: the aggregation is append-only
  * per key and never closes.
  *
  * Higher radii need a join against the previous round's sketches —
  * that is the batch [[NeighborhoodFunction.run]] recurrence, re-run
  * per snapshot; streaming keeps the r=1 frontier fresh between
  * batch recomputations (the standard lambda split).
  */
object GraphStreams {

  /** Streaming source over the testdata orders table, derived to the
    * canonical edge list exactly like [[graft.io.Tables.edges]]. */
  def readEdges(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.io.Tables.parquetSchema(spark, s"$dir/orders.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet")
      .parquet(dir)
      .select(
        (col("o_custkey") % graft.io.Tables.GraphN).cast("long").as("src"),
        (col("o_orderkey") % graft.io.Tables.GraphN).cast("long").as("dst"))
  }

  // ---- staged edge micro-batches (multi-batch drain harness) ----

  /** Stage the canonical edge list as `nFiles` parquet files with
    * strictly increasing modification times, so a maxFilesPerTrigger=1
    * AvailableNow drain delivers one edge micro-batch per file — the
    * nightly-link-refresh arrival shape. The split is a deterministic
    * hash of the edge (NOT time: edges have no event time), and the
    * maintenance folds below are cadence-independent by construction —
    * their per-batch algebra is proven ≡ full recompute (g_cc_inc /
    * g_tri_inc), so any split and any batching end at the same state. */
  private def stageEdgeFiles(spark: SparkSession, dir: String,
      nFiles: Int): String =
    MicroBatchStage.staged(spark, "graft_mb_edges", dir, nFiles) { prefix =>
      val e = graft.io.Tables.edges(spark, dir)
      // every hash bucket must be non-empty: the pagerank maintenance
      // sink skips empty micro-batches while its oracle unrolls exactly
      // nFiles warm phases — an empty bucket would silently drop a
      // phase and diverge the gate (ADVICE r9). Fail loudly instead.
      val bucketCounts = e.groupBy(
          pmod(col("src") * 7 + col("dst"), lit(nFiles.toLong)).as("b"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0 until nFiles).foreach { k =>
        require(bucketCounts.getOrElse(k.toLong, 0L) > 0L,
          s"staged edge bucket $k/$nFiles is empty at $dir — " +
            "phase count would not match the unrolled oracle")
      }
      MicroBatchStage.write(prefix, (0 until nFiles).map { k =>
        e.where(pmod(col("src") * 7 + col("dst"), lit(nFiles.toLong)) === k)
      })
    }

  private def readStagedEdges(spark: SparkSession, dir: String,
      nFiles: Int): DataFrame =
    MicroBatchStage.read(spark, stageEdgeFiles(spark, dir, nFiles))

  /** Streaming CONNECTED-COMPONENTS maintenance — the incremental
    * family's streaming graph member: edge micro-batches fold into a
    * standing (v, comp) assignment via
    * [[graft.graph.ConnectedComponents.incremental]] (each batch
    * contracts onto component ids; CC runs on the contracted graph —
    * |batch| edges — and the standing assignment remaps through one
    * join; the standing EDGES are never stored or rescanned, only the
    * assignment). incremental ≡ full recompute exactly (the g_cc_inc
    * proof), and the fold composes that equality batch over batch, so
    * the terminal assignment ≡ one-shot CC over all edges under ANY
    * cadence — shared oracle (the full-graph closure).
    * @return (v, comp) for every vertex of the drained graph */
  def ccMaintenanceSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame =
    MicroBatchStage.fold(readStagedEdges(spark, dir, nFiles), Nil) {
      (standing, batch) =>
        Option.when(!batch.isEmpty)(Seq(standing.headOption.fold(
          graft.graph.ConnectedComponents.run(spark, batch))(
          graft.graph.ConnectedComponents.incremental(spark, _, batch))))
    }(_.headOption.getOrElse(
      spark.emptyDataFrame.select(lit(0L).as("v"), lit(0L).as("comp")).limit(0)))

  /** Streaming TRIANGLE-COUNT maintenance — the carried-count shape of
    * [[graft.graph.Triangles.incrementalCount]] folded per micro-batch:
    * state is the accumulated edge set plus ONE long (the maintained
    * count); each batch pays only the delta joins (T1 − c2 + T3,
    * semi-join-restricted to batch endpoints) and never re-enumerates
    * standing triangles. Each refresh ≡ recount by the g_tri_inc
    * identity, composed batch over batch ⇒ the terminal carried count
    * equals the one-shot full-graph triangle count under ANY cadence.
    * @return one row (tri_total BIGINT) */
  def triMaintenanceSink(spark: SparkSession, dir: String,
      nFiles: Int = 4): DataFrame =
    // state: the accumulated edges and the 1-row maintained count
    MicroBatchStage.fold(readStagedEdges(spark, dir, nFiles), Nil) {
      (state, batch) =>
        Option.when(!batch.isEmpty)(state match {
          case Seq(acc, carried) => Seq(acc.unionAll(batch),
            graft.graph.Triangles.incrementalCount(acc, batch, carried)
              .select(col("tri_total").as("tri_standing")))
          case _ => // bootstrap: first batch seeds the maintained count
            Seq(batch, graft.graph.Triangles.run(batch)
              .agg(count(lit(1)).as("tri_standing")))
        })
    }(_.lastOption.getOrElse(spark.range(1).select(lit(0L).as("tri_standing")))
      .select(col("tri_standing").cast("long").as("tri_total")))

  /** Streaming PAGERANK maintenance — the rank-refresh shape of the
    * nightly-graph pipeline: each edge micro-batch joins the standing
    * edge set and ranks continue WARM from the carried vector
    * ([[graft.graph.PageRank.runFixed]] init) for `iters` iterations
    * over the union graph, instead of re-converging cold. PageRank is
    * a whole-graph fixpoint, so the union edges are re-scanned per
    * refresh (inherent to the operator — the saving is ITERATIONS:
    * a warm vector is already near the new fixpoint); the carried
    * state is one rank per vertex. Cadence is part of the semantics
    * (each batch buys `iters` more iterations), so the oracle unrolls
    * exactly the staged phase sequence. @return (id, rank) round-9 */
  def pagerankMaintenanceSink(spark: SparkSession, dir: String,
      nFiles: Int = 4, iters: Int = 2): DataFrame =
    warmRanks(spark, dir, nFiles) { (union, ranks) =>
      graft.graph.PageRank.runFixed(spark, union, graft.io.Tables.GraphN,
        iterations = iters, init = ranks)
    }

  /** Streaming WEIGHTED PageRank maintenance — [[pagerankMaintenanceSink]]
    * on the weighted surface (completes the streaming × weighted ×
    * warm-start matrix): per micro-batch the deterministic edge
    * weights are re-derived (w is a pure function of the edge), wout
    * and the dangling set re-key to the union weighted graph, and the
    * ranks continue WARM from the carried vector via
    * [[graft.graph.PageRank.runFixedWeighted]]'s init. Cadence is
    * part of the semantics (each batch buys `iters` iterations), so
    * the oracle unrolls the exact staged phase sequence in the
    * weighted algebra. @return (id, rank) round-9 */
  def pagerankWeightedMaintenanceSink(spark: SparkSession, dir: String,
      nFiles: Int = 4, iters: Int = 2): DataFrame =
    warmRanks(spark, dir, nFiles) { (union, ranks) =>
      graft.graph.PageRank.runFixedWeighted(spark,
        union.withColumn("w", lit(1L) + (col("src") + col("dst")) % 5),
        graft.io.Tables.GraphN, iterations = iters, init = ranks)
    }

  /** The fold both PageRank maintenance sinks share: state is the
    * accumulated edges and the carried ranks; each non-empty batch joins
    * the edges and `rank(union, carried)` continues the ranks warm (cold
    * on the first batch). The skip matters: the oracles unroll exactly
    * one phase per staged file. */
  private def warmRanks(spark: SparkSession, dir: String, nFiles: Int)(
      rank: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame =
    MicroBatchStage.fold(readStagedEdges(spark, dir, nFiles), Nil) {
      (state, batch) =>
        Option.when(!batch.isEmpty) {
          val union = state.headOption.fold(batch)(_.unionAll(batch))
          Seq(union, rank(union, state.lift(1)))
        }
    }(_.lift(1).getOrElse(spark.range(0).select(col("id"), lit(0.0).as("rank")))
      .select(col("id"), round(col("rank"), 9).as("rank")))

  /** Incremental radius-1 ANF ball per vertex over an edge stream:
    * each edge contributes its dst to src's ball and both endpoints to
    * their own (HyperBall's self-inclusive convention, so the result
    * rows equal the batch [[NeighborhoodFunction.run]] r=1 rows
    * bit-for-bit once the stream drains). Run in Update output mode.
    *
    * @return (v BIGINT, sk BINARY, n_est DOUBLE) — the live register
    *         blob and its exact-power estimate. */
  def neighborhoodSketchStream(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src").cast("long").as("v"), col("src").cast("long").as("u")),
        struct(col("src").cast("long").as("v"), col("dst").cast("long").as("u")),
        struct(col("dst").cast("long").as("v"), col("dst").cast("long").as("u"))))
        .as("r"))
      .select(col("r.v").as("v"),
        Hashing.hash60(NeighborhoodFunction.Seed, col("r.u")).as("h"))
      .groupBy("v")
      .agg(HllSketch.hll60Regs(col("h")).as("sk"),
        HllSketch.hll60(col("h")).as("n_est"))
}
