package graft.graph

/** The reference PageRank loop (`mr-pr-cpp.cpp:110-180`, SURVEY.md §2.4)
  * transcribed into plain sequential Scala over arrays. It shares no
  * code with the engine, so the parity specs compare two independent
  * implementations of one recurrence:
  *
  *  - dense universe `0..max_id`, init `(1, 0, …, 0)`;
  *  - each round takes Σpr and the dangling mass from the current
  *    vector, and normalizes by Σpr from the second round on;
  *  - `pr[i] = α·Σ_{j→i} old[j]/outdeg(j) + α·dangling/n + (1−α)/n`;
  *  - it stops once `Σ|pr − old| ≤ 1e-5`, or after 10000 rounds.
  */
object ReferencePageRank {
  val Alpha = 0.85
  val Conv = 1e-5
  val MaxIter = 10000

  /** @return (rank indexed by id, rounds run) */
  def run(edges: Seq[(Int, Int)]): (Array[Double], Int) = {
    val src = edges.map(_._1).toArray
    val dst = edges.map(_._2).toArray
    val n = (src ++ dst).max + 1
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)

    var pr = Array.tabulate(n)(i => if (i == 0) 1.0 else 0.0)
    var diff = Double.PositiveInfinity
    var iter = 0
    while (diff > Conv && iter < MaxIter) {
      var sumPr = 0.0
      var danglingPr = 0.0
      for (k <- 0 until n) {
        sumPr += pr(k)
        if (outdeg(k) == 0) danglingPr += pr(k)
      }
      val old = if (iter == 0) pr else pr.map(_ / sumPr)
      val h = new Array[Double](n)
      for (k <- src.indices) h(dst(k)) += old(src(k)) / outdeg(src(k))
      val oneAv = Alpha * danglingPr / n
      val oneIv = (1.0 - Alpha) / n
      val next = Array.tabulate(n)(i => Alpha * h(i) + oneAv + oneIv)
      diff = 0.0
      for (i <- 0 until n) diff += math.abs(next(i) - old(i))
      pr = next
      iter += 1
    }
    (pr, iter)
  }
}
