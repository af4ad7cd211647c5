package graft.streaming

import graft.testkit.SparkSpec
import graft.graph.NeighborhoodFunction
import graft.io.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.graftbridge.Bridge

/** The streaming radius-1 ANF ball must equal the batch HyperANF r=1
  * rows bit-for-bit once the stream drains (registers merge by max —
  * order and batching cannot matter). */
class GraphStreamsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed radius-1 ball equals the batch ANF r=1 rows exactly") {
    val q = EventStreams.runToMemory(
      GraphStreams.neighborhoodSketchStream(GraphStreams.readEdges(spark, dir)),
      "ball_out", OutputMode.Update)
    try {
      val s = spark.table("ball_out").select("v", "n_est")
      val b = NeighborhoodFunction.run(spark, Tables.edges(spark, dir), 1)
        .where(col("r") === 1).select("v", "n_est")
      assert(s.count() == b.count(), "vertex universe mismatch")
      assert(s.except(b).isEmpty && b.except(s).isEmpty,
        "streamed ball estimate disagrees with the batch r=1 ANF")
    } finally q.stop()
  }

  test("arrival batching does not change the sketch (CRDT merge)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 0L))
    // batch twin computed over the full set at once
    val whole = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), 1)
      .where(col("r") === 1).select("v", "n_est")
    // stream the same edges one file (= one micro-batch) at a time
    val tmp = Bridge.scratchDir("edge-stream").getPath
    val schema = edges.toDF("src", "dst").schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
    // a continuous-trigger query (runToMemory's AvailableNow would stop
    // after the first — empty — drain and never see the later files)
    val q = GraphStreams.neighborhoodSketchStream(stream).writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName("ball_inc")
      .start()
    try {
      edges.zipWithIndex.foreach { case (e, i) =>
        Seq(e).toDF("src", "dst").coalesce(1)
          .write.mode("append").parquet(tmp)
        q.processAllAvailable()
        assert(i < 3 || spark.table("ball_inc").count() > 0)
      }
      // update mode re-emits a key per micro-batch: keep the LAST emit
      val last = spark.table("ball_inc")
        .withColumn("seq", monotonically_increasing_id())
        .groupBy("v").agg(max(struct(col("seq"), col("n_est"))).as("m"))
        .select(col("v"), col("m.n_est").as("n_est"))
      assert(last.except(whole).isEmpty && whole.except(last).isEmpty,
        "incremental arrival diverged from the all-at-once sketch")
    } finally q.stop()
  }

  test("streaming CC maintenance fold equals the one-shot full-graph CC") {
    val batch = graft.graph.ConnectedComponents.run(
      spark, Tables.edges(spark, dir))
    val folded = GraphStreams.ccMaintenanceSink(spark, dir)
    assert(folded.exceptAll(batch).isEmpty && batch.exceptAll(folded).isEmpty,
      "folded standing assignment diverged from full recompute")
    // cadence independence: a different batching ends at the same state
    val folded8 = GraphStreams.ccMaintenanceSink(spark, dir, nFiles = 8)
    assert(folded8.exceptAll(batch).isEmpty && batch.exceptAll(folded8).isEmpty,
      "8-file cadence diverged")
  }

  test("streaming pagerank maintenance: 1-batch drain equals the cold fixed run") {
    // with a single staged file there is exactly one (cold) phase, so
    // the sink must reproduce runFixed(iters) at the gate's round-9
    val cold = graft.graph.PageRank.runFixed(spark,
        Tables.edges(spark, dir), Tables.GraphN, iterations = 2)
      .select(col("id"), round(col("rank"), 9).as("rank"))
    val folded = GraphStreams.pagerankMaintenanceSink(spark, dir, nFiles = 1)
    assert(folded.exceptAll(cold).isEmpty && cold.exceptAll(folded).isEmpty,
      "single-phase drain diverged from the cold fixed run")
    // multi-batch drain: ranks stay a probability vector (mass ≈ 1 —
    // the final iteration adds teleport mass exactly once per vertex)
    val folded4 = GraphStreams.pagerankMaintenanceSink(spark, dir, nFiles = 4)
    val mass = folded4.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass drifted: $mass")
    assert(folded4.count() == Tables.GraphN)
  }

  test("streaming weighted pagerank maintenance: 1-batch drain equals cold weighted run") {
    val cold = graft.graph.PageRank.runFixedWeighted(spark,
        Tables.edges(spark, dir)
          .withColumn("w", lit(1L) + (col("src") + col("dst")) % 5),
        Tables.GraphN, iterations = 2)
      .select(col("id"), round(col("rank"), 9).as("rank"))
    val folded = GraphStreams.pagerankWeightedMaintenanceSink(spark, dir,
      nFiles = 1)
    assert(folded.exceptAll(cold).isEmpty && cold.exceptAll(folded).isEmpty,
      "single-phase weighted drain diverged from the cold weighted run")
    val folded4 = GraphStreams.pagerankWeightedMaintenanceSink(spark, dir)
    val mass = folded4.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"weighted rank mass drifted: $mass")
  }

  test("changes-feed-driven incremental CC equals the full recompute") {
    import spark.implicits._
    val full = graft.graph.ConnectedComponents.run(
        spark, Tables.edges(spark, dir))
      .as[(Long, Long)].collect().toMap
    val fed = graft.SparkEntry.queries("g_dsv2_cc_inc")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(fed == full)
  }

  test("streaming triangle-count maintenance equals the one-shot recount") {
    val full = graft.graph.Triangles.run(
        Tables.edges(spark, dir).select(col("src"), col("dst")))
      .count()
    val folded = GraphStreams.triMaintenanceSink(spark, dir)
      .head().getAs[Long]("tri_total")
    assert(folded == full, s"carried count $folded != recount $full")
    val folded8 = GraphStreams.triMaintenanceSink(spark, dir, nFiles = 8)
      .head().getAs[Long]("tri_total")
    assert(folded8 == full, s"8-file cadence carried $folded8 != $full")
  }
}
