package graft.graph

import graft.testkit.SparkSpec
import graft.io.EdgeListIO
import org.apache.spark.sql.functions._

/** Golden-file parity with the reference (`/root/reference/result/
  * <name>-pr-p.txt`, checker tolerance 1e-4 per
  * `correctness_checker.cpp:34-56`) plus the dense-universe and
  * dangling-mass semantics FIXTURES.md §5 calls out. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def golden(name: String): Unit = {
    val edges = EdgeListIO.readValidated(spark, s"/root/reference/test/$name.txt")
    val ranks = PageRank.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (expected, _) = EdgeListIO.parseGolden(s"/root/reference/result/$name-pr-p.txt")
    assert(ranks.keySet == expected.keySet,
      s"id universe differs: got ${ranks.size} ids, expected ${expected.size}")
    val maxDiff = expected.map { case (id, v) => math.abs(ranks(id) - v) }.max
    assert(maxDiff <= 1e-4, f"max |diff| $maxDiff%.2e exceeds checker tolerance 1e-4")
  }

  test("bull matches reference golden output")   { golden("bull") }
  test("diamond matches reference golden output") { golden("diamond") }

  test("dense-universe semantics: unseen ids are dangling pages") {
    // edges only among {0,1,7} → websize 8, ids 2..6 dangling rows
    val edges = Seq((0L, 1L), (1L, 7L), (7L, 0L)).toDF("src", "dst")
    val ranks = PageRank.run(spark, edges)
    assert(ranks.count() == 8)
    val m = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((2L to 6L).forall(m(_) > 0.0), "dangling pages still receive teleport mass")
  }

  test("personalized PageRank matches the hand recurrence") {
    // cycle 0→1→2→0 plus 1→3 with 3 dangling; restart on {0, 3}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L, 3L)
    val iters = 3
    val got = PageRank.runPersonalized(spark, edges, 4L, seeds, iters)
      .as[(Long, Double)].collect().toMap
    // replica of the exact update (normalize → contribute → restart)
    val n = 4
    val alpha = 0.85
    val outdeg = Map(0L -> 1.0, 1L -> 2.0, 2L -> 1.0)
    val p = Array(0.5, 0.0, 0.0, 0.5)
    var pr = p.clone()
    for (k <- 0 until iters) {
      val sum = pr.sum
      val dangling = pr(3)
      val old = if (k == 0) pr.clone() else pr.map(_ / sum)
      val h = Array.fill(4)(0.0)
      for ((s, d) <- Seq((0, 1), (1, 2), (2, 0), (1, 3)))
        h(d) += old(s) / outdeg(s.toLong)
      pr = Array.tabulate(4)(i =>
        h(i) * alpha + (alpha * dangling + (1.0 - alpha)) * p(i))
    }
    for (i <- 0 until 4)
      assert(math.abs(got(i.toLong) - pr(i)) < 1e-12,
        s"id $i: ${got(i.toLong)} vs ${pr(i)}")
    // restart keeps mass near the seeds: both seeds outrank the
    // never-restarted vertex furthest from them only via structure —
    // just sanity-check mass conservation here
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  /** Checker rule (|Δ| ≤ 1e-4 per id, `correctness_checker.cpp:34-56`)
    * and the same round count as [[ReferencePageRank]]; then the
    * fixed-round stop rule run for that many rounds must land on the
    * converged ranks. */
  private def parity(edges: org.apache.spark.sql.DataFrame): Unit = {
    val pairs = edges.as[(Long, Long)].collect().toSeq
    val (want, wantRounds) = ReferencePageRank.run(pairs.map { case (s, d) => (s.toInt, d.toInt) })
    val (ranks, rounds) = PageRank.runWithStats(spark, edges, None,
      PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 0)
    val got = ranks.as[(Long, Double)].collect().toMap
    assert(rounds == wantRounds, s"rounds: engine $rounds, reference $wantRounds")
    assert(got.keySet == want.indices.map(_.toLong).toSet, "id universe differs")
    val maxDiff = want.indices.map(i => math.abs(got(i.toLong) - want(i))).max
    assert(maxDiff <= 1e-4, f"max |diff| $maxDiff%.2e exceeds checker tolerance 1e-4")

    def r9(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), round(col("rank"), 9).as("rank"))
    val fixed = r9(PageRank.runFixed(spark, edges, want.length.toLong, iterations = rounds))
    val converged = r9(ranks)
    assert(fixed.exceptAll(converged).isEmpty && converged.exceptAll(fixed).isEmpty,
      s"runFixed($rounds) differs from run at round 9")
  }

  test("bull (vendored) matches the reference loop") {
    val path = getClass.getResource("/bull.txt").getPath
    parity(EdgeListIO.readValidated(spark, path))
  }

  test("2-cycle matches the reference loop") {
    parity(Seq((0L, 1L), (1L, 0L)).toDF("src", "dst"))
  }

  test("star with a dangling sink matches the reference loop") {
    parity(Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst"))
  }

  test("ids {0,1,7} (dangling gap) match the reference loop") {
    parity(Seq((0L, 1L), (1L, 7L), (7L, 0L)).toDF("src", "dst"))
  }

  test("seeded R-MAT graph (2^10 vertices) matches the reference loop") {
    val edges = RMat.generate(spark, 10, 8L << 10, seed = 11).as[(Long, Long)].collect()
    parity(edges.toSeq.toDF("src", "dst"))
  }

  test("every entry point leaves only its returned checkpoint persisted") {
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L)).toDF("src", "dst")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "run" -> (() => PageRank.run(spark, edges)),
      "runFixed" -> (() => PageRank.runFixed(spark, edges, 4L, iterations = 3)),
      "runFixedWeighted" -> (() => PageRank.runFixedWeighted(spark,
        edges.withColumn("w", lit(2L)), 4L, iterations = 3)),
      "runPersonalized" -> (() =>
        PageRank.runPersonalized(spark, edges, 4L, Seq(0L, 3L), iterations = 3)))
    for ((name, call) <- calls) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ranks = call()
      ranks.collect()
      val own = ranks.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSet
      // the registry holds RDDs weakly, so entries from before the call
      // may vanish; only additions are checked
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.subsetOf(own), s"$name left persisted RDDs behind: ${added -- own}")
    }
  }

  /** [[ReferencePageRank]] parity at 1e-12 relative and the same round
    * count, with the vertex and edge blocks cut `blocks` ways. */
  private def blockParity(edges: Seq[(Long, Long)], blocks: Int): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, blocks.toString)
    try {
      val (want, wantRounds) =
        ReferencePageRank.run(edges.map { case (s, d) => (s.toInt, d.toInt) })
      val (ranks, rounds) = PageRank.runWithStats(spark, edges.toDF("src", "dst"), None,
        PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 0)
      val got = ranks.as[(Long, Double)].collect().toMap
      assert(rounds == wantRounds, s"$blocks blocks: engine $rounds rounds, reference $wantRounds")
      assert(got.keySet == want.indices.map(_.toLong).toSet, s"$blocks blocks: id universe differs")
      for (i <- want.indices)
        assert(math.abs(got(i.toLong) - want(i)) <= 1e-12 * want(i),
          s"$blocks blocks, id $i: ${got(i.toLong)} vs ${want(i)}")
    } finally spark.conf.set(key, was)
  }

  private lazy val rmat10 =
    RMat.generate(spark, 10, 8L << 10, seed = 11).as[(Long, Long)].collect().toSeq

  test("seeded R-MAT graph matches the reference loop to 1e-12 at 1, 3 and 8 blocks") {
    for (blocks <- Seq(1, 3, 8)) blockParity(rmat10, blocks)
  }

  test("a graph with fewer vertices than blocks matches the reference loop") {
    blockParity(Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L)), 8)
    blockParity(Seq((0L, 0L)), 8)
  }

  test("edges with an endpoint past websize contribute nothing") {
    val n = 64L
    val inside = RMat.generate(spark, 6, 4L << 6, seed = 3).as[(Long, Long)].collect().toSeq
    val outside = Seq((1L, n), (5L, n + 7), (n, 2L), (n + 3, n + 4), (0L, 200L))
    val all = (inside ++ outside).toDF("src", "dst")
    val kept = inside.toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().toMap
    assert(ranks(PageRank.run(spark, all, Some(n))) == ranks(PageRank.run(spark, kept, Some(n))))
    assert(ranks(PageRank.runFixed(spark, all, n, iterations = 4)) ==
      ranks(PageRank.runFixed(spark, kept, n, iterations = 4)))
    val w = lit(1L) + (col("src") + col("dst")) % 3
    assert(ranks(PageRank.runFixedWeighted(spark, all.withColumn("w", w), n, iterations = 4)) ==
      ranks(PageRank.runFixedWeighted(spark, kept.withColumn("w", w), n, iterations = 4)))
  }

  test("a warm start that misses ids and carries extra ones matches the hand recurrence") {
    // cycle 0→1→2→0 plus 1→3; ids 3 and 4 dangling; init misses 1, 3, 4
    // and carries 7 and -1, outside the universe
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L)).toDF("src", "dst")
    val init = Seq((0L, 0.4), (2L, 0.3), (7L, 0.5), (-1L, 0.2)).toDF("id", "rank")
    val iters = 2
    val got = PageRank.runFixed(spark, edges, 5L, iters, init = Some(init))
      .as[(Long, Double)].collect().toMap
    val n = 5
    val alpha = 0.85
    val outdeg = Map(0 -> 1.0, 1 -> 2.0, 2 -> 1.0)
    var pr = Array(0.4, 0.0, 0.3, 0.0, 0.0)
    for (_ <- 0 until iters) {
      val sum = pr.sum
      val dangling = pr(3) + pr(4)
      // a warm start normalizes on its first round too
      val old = pr.map(_ / sum)
      val h = Array.fill(n)(0.0)
      for ((s, d) <- Seq((0, 1), (1, 2), (2, 0), (1, 3)))
        h(d) += old(s) / outdeg(s)
      pr = h.map(_ * alpha + (alpha * dangling / n + (1.0 - alpha) / n))
    }
    assert(got.keySet == (0L until n).toSet)
    for (i <- 0 until n)
      assert(math.abs(got(i.toLong) - pr(i)) <= 1e-12 * pr(i), s"id $i: ${got(i.toLong)} vs ${pr(i)}")
  }

  test("a converged run of k rounds launches at most k + 3 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val edges = rmat10.toDF("src", "dst")
    val (_, rounds) = PageRank.runWithStats(spark, edges, None,
      PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 0)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      PageRank.run(spark, edges).collect()
      Bridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(rounds > 1)
    assert(jobs.get <= rounds + 3, s"${jobs.get} jobs for $rounds rounds")
  }

  test("ranks are bit-identical from a 1-partition and a 4-partition read") {
    val path = java.nio.file.Files.createTempFile("rmat10", ".txt")
    java.nio.file.Files.writeString(path, rmat10.map { case (s, d) => s"$s $d\n" }.mkString)
    val key = "spark.sql.files.minPartitionNum"
    def ranks(parts: Int): Map[Long, Double] = {
      spark.conf.set(key, parts.toLong)
      val edges = try EdgeListIO.readValidated(spark, path.toString) finally spark.conf.unset(key)
      assert(edges.rdd.getNumPartitions == parts)
      PageRank.run(spark, edges).as[(Long, Double)].collect().toMap
    }
    val one = ranks(1)
    assert(one.size > 512 && ranks(4) == one)
  }

  test("star with dangling sink: ranks sum to ~1 and sink dominates") {
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst")
    val m = PageRank.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-6)
    assert(m(0L) > m(1L) && m(1L) == m(2L))
  }
}
