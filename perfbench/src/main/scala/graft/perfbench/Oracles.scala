package graft.perfbench

import org.apache.spark.sql.Row

/** A directed edge list held in memory, as parallel arrays. */
final case class Edges(src: Array[Long], dst: Array[Long]) {
  def size: Int = src.length
  /** Dense universe size `max id + 1`, the reference's rule. */
  lazy val universe: Int =
    if (src.isEmpty) 1 else (math.max(src.max, dst.max) + 1).toInt
}

/** Oracles that share no code with the engine: plain sequential Scala
  * over in-memory arrays, each a transcription of the textbook or reference
  * algorithm, and the checkers that compare an engine output with them. */
object Oracles {

  /** The reference's PageRank loop (`mr-pr-cpp.cpp:110-180`): init
    * `(1,0,…,0)` over the dense `0..max_id` universe; each round takes
    * Σpr and the dangling mass from the current vector, normalizes it
    * from the second round on, updates
    * `pr[i] = α·Σ_{j→i} old[j]/outdeg(j) + α·dangling/n + (1−α)/n`,
    * and stops once the L1 change is ≤ tol. Returns (ranks, rounds). */
  def pageRank(e: Edges, alpha: Double = 0.85, tol: Double = 1e-5,
      maxIter: Int = 10000): (Array[Double], Int) = {
    val n = e.universe
    val outdeg = new Array[Int](n)
    var k = 0
    while (k < e.size) { outdeg(e.src(k).toInt) += 1; k += 1 }
    var pr = new Array[Double](n)
    pr(0) = 1.0
    var iter = 0
    var diff = Double.MaxValue
    while (diff > tol && iter < maxIter) {
      var sum = 0.0
      var dangling = 0.0
      var i = 0
      while (i < n) {
        sum += pr(i)
        if (outdeg(i) == 0) dangling += pr(i)
        i += 1
      }
      val old = if (iter == 0) pr.clone() else pr.map(_ / sum)
      val next = new Array[Double](n)
      k = 0
      while (k < e.size) {
        val j = e.src(k).toInt
        next(e.dst(k).toInt) += old(j) / outdeg(j)
        k += 1
      }
      val base = alpha * dangling / n + (1.0 - alpha) / n
      diff = 0.0
      i = 0
      while (i < n) {
        next(i) = alpha * next(i) + base
        diff += math.abs(next(i) - old(i))
        i += 1
      }
      pr = next
      iter += 1
    }
    (pr, iter)
  }

  /** Connected components of the undirected graph by union-find; each
    * vertex that appears in an edge maps to the least id in its
    * component. */
  def components(e: Edges): Map[Long, Long] = {
    val parent = Array.tabulate(e.universe)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var k = 0
    while (k < e.size) {
      val a = find(e.src(k).toInt)
      val b = find(e.dst(k).toInt)
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    (e.src.iterator ++ e.dst.iterator).distinct
      .map(v => v -> find(v.toInt).toLong).toMap
  }

  /** Hop distances along directed edges from `source`, by breadth-first
    * search; only reachable vertices appear. */
  def bfs(e: Edges, source: Long): Map[Long, Long] = {
    val n = e.universe
    val start = new Array[Int](n + 1)
    e.src.foreach(s => start(s.toInt + 1) += 1)
    for (i <- 1 to n) start(i) += start(i - 1)
    val adj = new Array[Int](e.size)
    val fill = start.clone()
    for (k <- 0 until e.size) {
      adj(fill(e.src(k).toInt)) = e.dst(k).toInt
      fill(e.src(k).toInt) += 1
    }
    val dist = Array.fill(n)(-1L)
    val queue = new Array[Int](n)
    var head = 0
    var tail = 0
    if (source < n) { dist(source.toInt) = 0; queue(tail) = source.toInt; tail += 1 }
    while (head < tail) {
      val v = queue(head); head += 1
      var a = start(v)
      while (a < start(v + 1)) {
        val w = adj(a)
        if (dist(w) < 0) { dist(w) = dist(v) + 1; queue(tail) = w; tail += 1 }
        a += 1
      }
    }
    (0 until n).iterator.filter(dist(_) >= 0).map(v => v.toLong -> dist(v)).toMap
  }

  // ---- checkers: None when the output is right, else the first fault ----

  /** The reference checker's line grammar (`correctness_checker.cpp`). */
  private val GoldenLine =
    "((0|[1-9][0-9]*)|s)\\s=\\s(([0-9]*[.])?[0-9]+((e|E)[+|-]?[0-9]+)?)".r

  val CheckerTol = 1e-4

  /** A golden-format PageRank output against the oracle ranks. Three
    * rules: the reference checker's (one line per id of the dense
    * universe in order, each within 1e-4, then `s = Σrank` within 1e-4
    * of 1); the same round count as the oracle; and agreement to 1e-8
    * relative to max(rank, 1/n), which the 12 printed digits allow and
    * which still catches a wrong answer on a graph so large that every
    * rank is below the checker's absolute tolerance. */
  def checkGolden(text: String, rounds: Int, ref: Array[Double],
      refRounds: Int): Option[String] = {
    val lines = text.split("\n").filter(_.nonEmpty)
    val n = ref.length
    if (rounds != refRounds)
      return Some(s"pagerank ran $rounds rounds, the oracle $refRounds")
    if (lines.length != n + 1)
      return Some(s"golden file has ${lines.length} lines, expected ${n + 1}")
    var i = 0
    while (i <= n) {
      lines(i) match {
        case GoldenLine(key, _, value, _*) =>
          val v = value.toDouble
          if (i == n) {
            if (key != "s") return Some(s"last line is not the s = trailer: ${lines(i)}")
            if (math.abs(v - 1.0) > CheckerTol) return Some(s"sum of ranks $v is not 1")
          } else {
            if (key != i.toString) return Some(s"line ${i + 1} is id $key, expected $i")
            val d = math.abs(v - ref(i))
            if (d > CheckerTol) return Some(s"rank of $i is $v, oracle ${ref(i)}")
            if (d > 1e-8 * math.max(ref(i), 1.0 / n))
              return Some(s"rank of $i is $v, oracle ${ref(i)} (relative)")
          }
        case other => return Some(s"line ${i + 1} is malformed: $other")
      }
      i += 1
    }
    None
  }

  /** (vertex, value) pairs against an oracle map: same vertex set, no
    * duplicates, equal values. */
  def checkPairs(what: String, got: Seq[(Long, Long)],
      ref: Map[Long, Long]): Option[String] = {
    val m = got.toMap
    if (m.size != got.size) Some(s"$what: duplicate vertices in the output")
    else if (m.size != ref.size) Some(s"$what: ${m.size} vertices, oracle ${ref.size}")
    else ref.collectFirst {
      case (v, r) if !m.get(v).contains(r) => s"$what: vertex $v has ${m.get(v)}, oracle $r"
    }
  }

  /** Rows as sorted canonical strings, floating values at 10 significant
    * digits, so two correct runs compare equal whatever their partition
    * order or last-bit summation order. */
  def canonical(rows: Seq[Row]): Vector[String] = {
    def value(x: Any): String = x match {
      case null => "null"
      case d: Double => f"$d%.9e"
      case f: Float => f"${f.toDouble}%.9e"
      case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, v) => value(k) + "->" + value(v) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case o => o.toString
    }
    rows.map(value).toVector.sorted
  }

  def checkRows(what: String, got: Vector[String], ref: Vector[String]): Option[String] =
    if (got.size != ref.size) Some(s"$what: ${got.size} rows, reference ${ref.size}")
    else got.indices.find(i => got(i) != ref(i))
      .map(i => s"$what: row ${got(i)} where the reference has ${ref(i)}")
}
