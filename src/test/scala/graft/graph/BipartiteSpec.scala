package graft.graph

import graft.testkit.SparkSpec

/** BFS-parity bipartiteness vs hand graphs and a brute 2-coloring. */
class BipartiteSpec extends SparkSpec {

  import spark.implicits._

  /** Runs BOTH regimes — the pure distributed BFS (tailThreshold = 0),
    * the default (these small graphs finish in the bounded sequential
    * tail) and a mid-flight cutover — and asserts they agree, so every
    * test in this suite pins the r14 tail against the distributed
    * path. */
  private def got(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Boolean)] = {
    val df = edges.toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, df)
    def runAt(t: Int) = Bipartite.run(spark, df, cc, tailThreshold = t)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val dist = runAt(0)
    assert(runAt(4096) == dist, "full-tail regime diverged")
    assert(runAt(16) == dist, "mid-flight cutover diverged")
    dist
  }

  test("even cycle bipartite, odd cycle not, path bipartite") {
    // C4 (comp 0), C5 (comp 10..14), P3 (comp 20..22)
    val edges =
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)) ++
      (0 until 5).map(i => (10L + i, 10L + (i + 1) % 5)) ++
      Seq((20L, 21L), (21L, 22L))
    val r = got(edges)
    assert(r(0L) == ((4L, 0L, true)), s"C4: ${r(0L)}")
    assert(r(10L)._1 == 5L && !r(10L)._3 && r(10L)._2 > 0, s"C5: ${r(10L)}")
    assert(r(20L) == ((3L, 0L, true)), s"P3: ${r(20L)}")
  }

  test("large frontier, small remainder: a star with a path off one leaf") {
    // at tailThreshold = 16 the sweep stops with all 100 leaves as its
    // frontier and only the 10 path vertices left for the tail
    val edges = (1L to 100L).map(l => (0L, l)) ++
      (0 until 10).map(i => (if (i == 0) 1L else 100L + i, 101L + i))
    assert(got(edges) == Map(0L -> ((111L, 0L, true))))
  }

  test("agrees with brute-force 2-colorability on random graphs") {
    for (seed <- Seq(3, 31)) {
      val rnd = new scala.util.Random(seed)
      // sparse: mixes bipartite and odd-cycle components
      val edges = Seq.fill(55)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      val r = got(edges)
      // brute: proper 2-coloring per component by backtracking-free BFS
      val eu = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val adj = (eu ++ eu.map(_.swap)).groupBy(_._1)
        .map { case (k, xs) => k -> xs.map(_._2) }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val color = scala.collection.mutable.Map.empty[Long, Int]
      val compOf = scala.collection.mutable.Map.empty[Long, Long]
      val twoColorable = scala.collection.mutable.Map.empty[Long, Boolean]
      for (s <- verts.sorted if !color.contains(s)) {
        color(s) = 0; compOf(s) = s
        twoColorable(s) = true
        var frontier = List(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap { v =>
            adj.getOrElse(v, Nil).flatMap { w =>
              if (!color.contains(w)) {
                color(w) = 1 - color(v); compOf(w) = s; Some(w)
              } else {
                if (color(w) == color(v)) twoColorable(s) = false
                None
              }
            }
          }.distinct
        }
      }
      for ((comp, (_, _, bip)) <- r)
        assert(bip == twoColorable(comp),
          s"seed $seed comp $comp: engine $bip vs brute ${twoColorable(comp)}")
      // sizes add up to the vertex universe
      assert(r.values.map(_._1).sum == verts.size)
    }
  }
}
