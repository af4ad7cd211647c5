package graft.perfbench

import org.apache.spark.sql.Row

/** Checks of the oracles and checkers themselves, on graphs small enough
  * to answer by hand, and on deliberately wrong outputs that must be
  * rejected — a checker that passes everything fails here. Each case is
  * (name, None when it holds, else what went wrong). Cheap enough to run
  * at the start of every benchmark run. */
object SelfTest {

  private def graph(pairs: (Long, Long)*): Edges =
    Edges(pairs.map(_._1).toArray, pairs.map(_._2).toArray)

  /** FIXTURES.md §1, the reference's `test/bull.txt`. */
  val Bull = graph(0L -> 1L, 0L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 4L)
  val Chain = graph(0L -> 1L, 1L -> 2L, 2L -> 3L)
  val Star = graph(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
  /** Two components: {0,1} and {2,3,4}. */
  val Pieces = graph(1L -> 0L, 2L -> 3L, 4L -> 3L)

  /** The PageRank fixed point by a direct linear solve: with Σp = 1,
    * p = G·p for G = α·M + (α/n)·1·dᵀ + ((1−α)/n)·1·1ᵀ, where M is the
    * column-stochastic link matrix and d marks dangling pages. One row of
    * (G − I)·p = 0 is replaced by Σp = 1; Gaussian elimination. */
  def pageRankSolve(e: Edges, alpha: Double = 0.85): Array[Double] = {
    val n = e.universe
    val out = new Array[Int](n)
    e.src.foreach(s => out(s.toInt) += 1)
    val a = Array.tabulate(n, n + 1) { (i, j) =>
      if (j == n) 0.0
      else (if (out(j) == 0) alpha / n else 0.0) + (1 - alpha) / n - (if (i == j) 1.0 else 0.0)
    }
    for (k <- 0 until e.size) {
      val j = e.src(k).toInt
      a(e.dst(k).toInt)(j) += alpha / out(j)
    }
    for (j <- 0 to n) a(n - 1)(j) = 1.0
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(p); a(p) = t
      for (r <- 0 until n if r != c) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c to n) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(n)(i => a(i)(n) / a(i)(i))
  }

  private def golden(ranks: Array[Double]): String =
    ranks.zipWithIndex.map { case (r, i) => s"$i = ${g12(r)}" }
      .mkString("", "\n", "\n") + s"s = ${g12(ranks.sum)}\n"

  private def g12(x: Double): String = "%.12g".formatLocal(java.util.Locale.ROOT, x)

  private def expect(ok: Boolean, what: String): Option[String] =
    if (ok) None else Some(what)

  private def rejects(r: Option[String]): Option[String] =
    expect(r.isDefined, "checker accepted a wrong output")

  def cases: Seq[(String, () => Option[String])] = {
    val prCases = Seq("bull" -> Bull, "chain" -> Chain, "star" -> Star).flatMap {
      case (name, g) =>
        lazy val (ref, rounds) = Oracles.pageRank(g)
        Seq(
          s"pagerank oracle matches the linear solve on $name" -> (() => {
            val exact = pageRankSolve(g)
            ref.indices.find(i => math.abs(ref(i) - exact(i)) > Oracles.CheckerTol)
              .map(i => s"vertex $i: oracle ${ref(i)}, solve ${exact(i)}")
          }),
          s"golden checker accepts the oracle on $name" -> (() =>
            Oracles.checkGolden(golden(ref), rounds, ref, rounds)),
          s"golden checker rejects a rank off by 2e-4 on $name" -> (() =>
            rejects(Oracles.checkGolden(
              golden(ref.updated(1, ref(1) + 2e-4)), rounds, ref, rounds))),
          s"golden checker rejects a missing line on $name" -> (() =>
            rejects(Oracles.checkGolden(
              golden(ref).linesIterator.drop(1).mkString("\n"), rounds, ref, rounds))),
          s"golden checker rejects a different round count on $name" -> (() =>
            rejects(Oracles.checkGolden(golden(ref), rounds + 1, ref, rounds))))
    }
    // a 1e-6 relative error is far inside the checker's absolute 1e-4 on
    // every vertex, so only the relative rule can catch it
    val longChain = Edges((0L until 1999L).toArray, (1L until 2000L).toArray)
    lazy val (lcRef, lcRounds) = Oracles.pageRank(longChain)
    val relative = Seq(
      "golden checker rejects a relative error of 1e-6 below the absolute tolerance" -> (() =>
        rejects(Oracles.checkGolden(golden(lcRef.updated(7, lcRef(7) * (1 + 1e-6))),
          lcRounds, lcRef, lcRounds))))

    val ccCases = Seq(
      "union-find labels bull" -> (Bull, Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L)),
      "union-find labels chain" -> (Chain, Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L)),
      "union-find labels star" -> (Star, Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L)),
      "union-find labels two components" ->
        (Pieces, Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    ).map { case (name, (g, want)) =>
      name -> (() => expect(Oracles.components(g) == want, s"got ${Oracles.components(g)}"))
    }
    val bfsCases = Seq(
      "bfs hops bull" -> (Bull, Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L)),
      "bfs hops chain" -> (Chain, Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)),
      "bfs hops star" -> (Star, Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)),
      "bfs follows edge direction" -> (Pieces, Map(0L -> 0L))
    ).map { case (name, (g, want)) =>
      name -> (() => expect(Oracles.bfs(g, 0L) == want, s"got ${Oracles.bfs(g, 0L)}"))
    }
    val pairCases = Seq(
      "pair checker accepts the oracle" -> (() =>
        Oracles.checkPairs("cc", Oracles.components(Pieces).toSeq, Oracles.components(Pieces))),
      "pair checker rejects a wrong label" -> (() =>
        rejects(Oracles.checkPairs("cc", (Oracles.components(Pieces) + (4L -> 0L)).toSeq,
          Oracles.components(Pieces)))),
      "pair checker rejects a missing vertex" -> (() =>
        rejects(Oracles.checkPairs("sssp", (Oracles.bfs(Bull, 0L) - 3L).toSeq,
          Oracles.bfs(Bull, 0L)))),
      "pair checker rejects a duplicate vertex" -> (() =>
        rejects(Oracles.checkPairs("sssp", Oracles.bfs(Bull, 0L).toSeq :+ (3L -> 2L),
          Oracles.bfs(Bull, 0L)))))

    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", Seq(1.5f, 2.5f)))
    val rowCases = Seq(
      "row checker ignores row order and last-bit float differences" -> (() =>
        Oracles.checkRows("q", Oracles.canonical(rows.reverse :+ Row(3L, null, 0.3)),
          Oracles.canonical(rows :+ Row(3L, null, 0.30000000000000004)))),
      "row checker rejects a changed value" -> (() =>
        rejects(Oracles.checkRows("q", Oracles.canonical(Seq(Row(1L, "a", 0.3001))),
          Oracles.canonical(Seq(Row(1L, "a", 0.3)))))),
      "row checker rejects a missing row" -> (() =>
        rejects(Oracles.checkRows("q", Oracles.canonical(rows.take(1)),
          Oracles.canonical(rows)))))

    prCases ++ relative ++ ccCases ++ bfsCases ++ pairCases ++ rowCases
  }

  /** Names and faults of the cases that do not hold. */
  def failures(): Seq[String] = cases.flatMap { case (name, f) =>
    (try f() catch { case e: Throwable => Some(e.toString) }).map(m => s"$name: $m")
  }
}
