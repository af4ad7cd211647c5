package graft.graph

import graft.testkit.SparkSpec
import graft.functions.{Hashing, HllSketch}

/** HyperANF sketches vs a driver replica: exact reach sets pushed
  * through the identical register math must reproduce every estimate
  * bit-for-bit. */
class NeighborhoodFunctionSpec extends SparkSpec {

  import spark.implicits._

  /** Exact ≤r-hop reach set per vertex (v included; r = 0 is the
    * singleton, mirroring the engine's sketch-consistent r = 0 row). */
  private def reach(edges: Seq[(Long, Long)], rounds: Int)
      : Map[(Long, Int), Set[Long]] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2).toSet }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val out = Map.newBuilder[(Long, Int), Set[Long]]
    for (v <- verts) {
      var s = Set(v)
      out += (v, 0) -> s
      for (r <- 1 to rounds) {
        s = s ++ s.flatMap(u => adj.getOrElse(u, Set.empty))
        out += (v, r) -> s
      }
    }
    out.result()
  }

  /** The sketch estimate of an exact vertex set, via the same register
    * math the engine runs (hash60 → bucket/rho → estimate). */
  private def sketchOf(vs: Set[Long]): Double = {
    import HllSketch.{M, RhoCap, W, WMask}
    val regs = new Array[Byte](M)
    for (u <- vs) {
      val h = Hashing.hash60Local(s"${NeighborhoodFunction.Seed}|$u")
      val bucket = (h >>> W).toInt & (M - 1)
      val w = h & WMask
      val rho = math.min(if (w == 0L) W + 1
        else java.lang.Long.numberOfLeadingZeros(w) - (64 - W) + 1, RhoCap)
      if (rho > regs(bucket)) regs(bucket) = rho.toByte
    }
    HllSketch.estimate(regs)
  }

  test("estimates equal the register math over exact reach sets, bit for bit") {
    val rnd = new scala.util.Random(83)
    val edges = Seq.fill(200)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val rounds = 3
    val got = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), rounds)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2.toInt) -> t._3).toMap
    val want = reach(edges, rounds).map { case (k, vs) => k -> sketchOf(vs) }
    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
    // and the estimates are genuinely close to the exact counts (p=8
    // HLL: ~6.5% standard error; allow 4 sigma on small sets)
    val exact = reach(edges, rounds)
    got.foreach { case (k, est) =>
      val n = exact(k).size
      assert(math.abs(est - n) <= math.max(4.0, 0.26 * n),
        s"$k: est $est vs exact $n")
    }
  }

  test("hop plot and HyperBall harmonic match the driver replica") {
    val rnd = new scala.util.Random(131)
    val edges = Seq.fill(180)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val rounds = 3
    val anf = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), rounds)
    val est = reach(edges, rounds).map { case (k, vs) => k -> sketchOf(vs) }

    // hop plot: exact BIGINT sums of the 1e4-scaled estimates
    val scaledByRound = (0 to rounds).map { r =>
      r.toLong -> est.collect { case ((_, rr), e) if rr == r =>
        math.round(e * 10000) }.sum
    }.toMap
    val finalPairs = scaledByRound(rounds.toLong)
    val gotHp = NeighborhoodFunction.hopPlot(anf)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(gotHp == scaledByRound.map { case (r, s) =>
      r -> ((s, s.toDouble / finalPairs)) })

    // HyperBall harmonic: fixed expression tree over the scaled balls
    val gotHb = NeighborhoodFunction.hyperballHarmonic(anf, rounds)
      .as[(Long, Double)].collect().toMap
    val wantHb = est.keys.map(_._1).toSeq.distinct.map { v =>
      val s = (0 to rounds).map(r => math.round(est((v, r)) * 10000))
      val h = (1 to rounds).map { r =>
        (s(r) - s(r - 1)).toDouble / (10000.0 * r)
      }.reduce(_ + _)
      v -> BigDecimal(h).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble                            // Spark round(…, 9) semantics
    }.toMap
    assert(gotHb == wantHb,
      s"diff: ${(gotHb.toSet diff wantHb.toSet).take(5)}")
    // balls grow from the sketch-consistent r = 0 baseline; within the
    // linear-counting regime these graphs live in, the estimate is
    // monotone, so the telescoped harmonic is non-negative (a stagnant
    // counter gives exactly 0)
    gotHb.values.foreach(h => assert(h >= 0.0))
  }

  test("HyperBall closeness matches the scaled-ball replica") {
    val rnd = new scala.util.Random(101)
    val edges = Seq.fill(170)((rnd.nextInt(48).toLong, rnd.nextInt(48).toLong))
    val rounds = 3
    val anf = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), rounds)
    val est = reach(edges, rounds).map { case (k, vs) => k -> sketchOf(vs) }
    val got = NeighborhoodFunction.hyperballCloseness(anf, rounds)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val want = est.keys.map(_._1).toSeq.distinct.map { v =>
      val s = (0 to rounds).map(r => math.round(est((v, r)) * 10000))
      val sumdist = (1 to rounds).map(r => (s(r) - s(r - 1)) * r).sum
      val clo = if (sumdist > 0)
        BigDecimal((s(rounds) - s(0)).toDouble / sumdist.toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      v -> ((s(rounds), sumdist, clo))
    }.toMap
    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(5)}")
  }

  test("effective diameter interpolates the replica hop plot") {
    val rnd = new scala.util.Random(59)
    val edges = Seq.fill(160)((rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
    val rounds = 3
    val anf = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), rounds)
    val est = reach(edges, rounds).map { case (k, vs) => k -> sketchOf(vs) }
    val p = (0 to rounds).map { r =>
      est.collect { case ((_, rr), e) if rr == r => math.round(e * 10000) }.sum
    }
    val pr = p(rounds)
    val rc = (0 to rounds).find(r => p(r) * 10 >= pr * 9).get
    val wantEff = if (rc == 0) 0.0 else BigDecimal((rc - 1).toDouble +
        (pr * 9 - p(rc - 1) * 10).toDouble / ((p(rc) - p(rc - 1)) * 10).toDouble)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = NeighborhoodFunction.effectiveDiameter(anf)
      .as[(Double, Long, Long)].collect().toSeq
    assert(got == Seq((wantEff, rc.toLong, pr)))
  }

  test("result is independent of partitioning") {
    val rnd = new scala.util.Random(19)
    val edges = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val a = NeighborhoodFunction.run(spark, edges.toDF("src", "dst"), 2)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val b = NeighborhoodFunction.run(spark,
        scala.util.Random.shuffle(edges).toDF("src", "dst").repartition(7), 2)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(a == b)
  }

  test("in-direction twin equals the out-direction run on reversed edges") {
    // directed path 0→1→2: out-harmonic peaks at the source, the
    // reversed (in) twin at the sink — and the twin is EXACTLY the out
    // computation on the flipped edge frame.
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val rev = edges.select(edges("dst").as("src"), edges("src").as("dst"))
    val out = NeighborhoodFunction.hyperballHarmonic(
      NeighborhoodFunction.run(spark, edges, 2), 2)
      .as[(Long, Double)].collect().toMap
    val in = NeighborhoodFunction.hyperballHarmonic(
      NeighborhoodFunction.run(spark, rev, 2), 2)
      .as[(Long, Double)].collect().toMap
    assert(out(2L) == 0.0 && in(0L) == 0.0)
    assert(in(2L) == out(0L) && in(1L) == out(1L)) // path symmetry
    assert(in(2L) > in(1L) && in(1L) > 0.0)
  }
}
