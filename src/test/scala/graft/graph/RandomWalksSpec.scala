package graft.graph

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._

/** Deterministic random walks: validity, coverage, reproducibility. */
class RandomWalksSpec extends SparkSpec {

  import spark.implicits._

  test("walks are valid paths and stop only at sinks") {
    val rnd = new scala.util.Random(23)
    val raw = Seq.fill(250)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val walks = RandomWalks.run(spark, raw.toDF("src", "dst"), seed = 9L, length = 5)
      .as[(Long, Long, Long)].collect()
    val adj = raw.filter(e => e._1 != e._2).groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).toSet }
    val starts = adj.keySet
    // one walk per vertex with out-edges, starting at itself
    assert(walks.filter(_._2 == 0).map(_._1).toSet == starts)
    walks.filter(_._2 == 0).foreach(w => assert(w._1 == w._3))
    val byWalk = walks.groupBy(_._1)
    for ((start, rows) <- byWalk) {
      val path = rows.sortBy(_._2).map(_._3)
      // consecutive positions are edges
      path.zip(path.tail).foreach { case (a, b) =>
        assert(adj.getOrElse(a, Set.empty).contains(b),
          s"walk from $start uses non-edge $a->$b") }
      // the walk only stops early at a sink
      if (path.length < 6)
        assert(!adj.contains(path.last),
          s"walk from $start stopped at non-sink ${path.last}")
    }
  }

  test("a hub's adjacency rank spreads across partitions and stays correct") {
    // one 20k-degree hub: the old per-src window would sort all 20k rows
    // in a single task; the range-partitioned global index must spread
    // them across partitions instead
    val hubDeg = 20000
    val hub = (1 to hubDeg).map(i => (0L, i.toLong))
    val noise = (1 to 500).map(i => (i.toLong, (i % 37).toLong + 1L))
    val edges = scala.util.Random.shuffle(hub ++ noise).toDF("src", "dst")
    val idx = RandomWalks.indexedEdges(spark, edges)
    val sizes = idx.groupBy(spark_partition_id().as("pid"))
      .count().select("count").as[Long].collect()
    idx.unpersist(false)
    assert(sizes.max < hubDeg / 2,
      s"hub edges not spread: max partition ${sizes.max} of $hubDeg")
    // and the rank is exactly row_number-by-dst semantics
    val adj = RandomWalks.rankedAdjacency(spark, edges)
    val hubRows = adj.where(col("src") === 0L).orderBy("rn")
      .as[(Long, Long, Long, Long)].collect()
    adj.unpersist(false)
    assert(hubRows.length == hubDeg)
    assert(hubRows.map(_._3).toSeq == (0 until hubDeg).map(_.toLong),
      "ranks are not dense 0-based")
    assert(hubRows.map(_._2).toSeq == hubRows.map(_._2).sorted.toSeq,
      "ranks do not follow dst order")
    assert(hubRows.forall(_._4 == hubDeg), "hub out-degree wrong")
    // end-to-end on the same graph
    val walks = RandomWalks.run(spark, edges, seed = 3L, length = 2)
      .as[(Long, Long, Long)].collect()
    assert(walks.count(_._2 == 0L) == 501) // hub + 500 noise sources
  }

  test("walks are reproducible across partitionings and differ by seed") {
    val rnd = new scala.util.Random(31)
    val raw = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val a = RandomWalks.run(spark, raw.toDF("src", "dst"), 9L, 5)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val b = RandomWalks.run(spark,
        scala.util.Random.shuffle(raw).toDF("src", "dst").repartition(11), 9L, 5)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(a == b, "same seed must reproduce identical walks")
    val c = RandomWalks.run(spark, raw.toDF("src", "dst"), 10L, 5)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(a != c, "different seeds should diverge")
  }
}
