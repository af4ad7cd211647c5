package graft.graph

import graft.testkit.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Every iterative graph entry point releases its loop's checkpoints:
  * after the result is collected, the only persisted RDDs the call added
  * are the checkpoints the returned plan reads directly. Algorithms with
  * a bounded sequential tail run in the pure distributed regime
  * (tailThreshold = 0), with a mid-flight cutover (16) and at the
  * default. */
class CheckpointLeakSpec extends SparkSpec {
  import spark.implicits._

  private val edges = {
    val rnd = new scala.util.Random(5)
    Seq.fill(300)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)).toDF("src", "dst")
  }
  private val dag = edges.where(col("src") < col("dst"))
  private val tails = Seq(0, 16, GraphOps.TailThreshold)
  // inputs computed before any snapshot, so their checkpoints predate it
  private lazy val cc = ConnectedComponents.run(spark, edges)
  private lazy val sources = ShortestPaths.seededSources(edges, 7L, 3)

  private val table: Seq[(String, () => DataFrame)] = Seq(
    "PageRank.run" -> (() => PageRank.run(spark, edges)),
    "PageRank.runFixed" -> (() => PageRank.runFixed(spark, edges, 100L, iterations = 3)),
    "PageRank.runFixedWeighted" -> (() => PageRank.runFixedWeighted(spark,
      edges.withColumn("w", lit(2L)), 100L, iterations = 3)),
    "PageRank.runPersonalized" -> (() =>
      PageRank.runPersonalized(spark, edges, 100L, Seq(0L, 3L), iterations = 3)),
    "ShortestPaths.run" -> (() => ShortestPaths.run(spark, edges, 0L)),
    "ShortestPaths.runMulti" -> (() => ShortestPaths.runMulti(spark, edges, sources)),
    "Betweenness.run" -> (() => Betweenness.run(spark, edges, sources)),
    "Coreness.run" -> (() => Coreness.run(spark, edges)),
    "KCore.run" -> (() => KCore.run(spark, edges, k = 4)),
    "Truss.run" -> (() => Truss.run(spark, edges, k = 3)),
    "TopoSort.levels" -> (() => TopoSort.levels(spark, dag)),
    "Katz.run" -> (() => Katz.run(spark, edges)),
    "Hits.run" -> (() => Hits.run(spark, edges)),
    "EigenvectorCentrality.run" -> (() => EigenvectorCentrality.run(spark, edges)),
    "MaximalMatching.vertexCover" -> (() => MaximalMatching.vertexCover(spark, edges, 3L)),
    "DensestSubgraph.run" -> (() => DensestSubgraph.run(spark, edges)),
    "MinimumSpanningForest.run" -> (() => MinimumSpanningForest.run(spark, edges)),
    "NeighborhoodFunction.run" -> (() => NeighborhoodFunction.run(spark, edges, 4)),
    "LabelPropagation.run" -> (() => LabelPropagation.run(spark, edges, 3)),
    "RandomWalks.run" -> (() => RandomWalks.run(spark, edges, 5L, 4))
  ) ++ tails.flatMap { t => Seq(
    s"ConnectedComponents.run@$t" -> (() =>
      ConnectedComponents.run(spark, edges, tailThreshold = t)),
    s"Coloring.run@$t" -> (() => Coloring.run(spark, edges, 9L, tailThreshold = t)),
    s"MaximalMatching.run@$t" -> (() =>
      MaximalMatching.run(spark, edges, 3L, tailThreshold = t)),
    s"LubyMIS.run@$t" -> (() => LubyMIS.run(spark, edges, 11L, tailThreshold = t)),
    s"StronglyConnectedComponents.run@$t" -> (() =>
      StronglyConnectedComponents.run(spark, edges, tailThreshold = t)),
    s"Bipartite.run@$t" -> (() => Bipartite.run(spark, edges, cc, tailThreshold = t)))
  }

  for ((name, call) <- table)
    test(s"$name leaves only the checkpoints its result reads") {
      cc.collect()
      assert(sources.nonEmpty)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val result = call()
      result.collect()
      val own = result.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSet
      // the registry holds RDDs weakly, so entries from before the call
      // may vanish; only additions are checked
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.subsetOf(own), s"$name left persisted RDDs behind: ${added -- own}")
    }
}
