package graft.graph

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

/** PageRank with the reference's exact numeric semantics
  * (`/root/reference/mr-pr-cpp.cpp:110-180`, identical in the mpi and
  * mpi-base variants — SURVEY.md §2.4):
  *
  *  - init rank vector `(1, 0, …, 0)` — NOT uniform (`mr-pr-cpp.cpp:125-128`)
  *  - dense page universe `0..websize-1`; ids never mentioned in the edge
  *    list are dangling pages (`mr-pr-cpp.cpp:203-210`)
  *  - each iteration: `sum_pr`/`dangling_pr` from the PRE-normalized
  *    vector (`mr-pr-cpp.cpp:131-138`); from iteration 1 on normalize
  *    `old_pr = pr/sum_pr` (`:140-147`); update
  *    `pr[i] = α·Σ_{j→i} old_pr[j]/outdeg(j) + α·dangling_pr/n + (1−α)/n`
  *    (`:149-173`); L1 convergence `Σ|pr−old_pr| ≤ tol` (`:161-174`)
  *  - constants α=0.85, tol=1e-5, maxIter=10000 (`mr-pr-cpp.cpp:11-13`)
  *
  * Spark-first design, GraphX-style (Gonzalez et al., OSDI 2014): the
  * input is read through Catalyst, the rounds run on Spark core over
  * co-partitioned vertex and edge blocks. Vertex `v` lives in block
  * `v mod p` at local index `v / p`, with `p` =
  * `spark.sql.shuffle.partitions` (raised only when a block's rank array
  * would pass [[MaxBlock]]).
  *
  *  - Set-up, one job: the edges shuffle ONCE, on `src`, into per-block
  *    edge arrays grouped by destination, together with each block's
  *    out-weights and start vector; the job returns each block's max id
  *    (`n` when `websize` is absent) and the start vector's sums.
  *  - Each round, one job of two stages: (1) edge block k zips with rank
  *    block k — neither side shuffles — and emits one partial sum per
  *    distinct destination; (2) the partials shuffle on `dst mod p`, zip
  *    with the rank block, and the new block is persisted while the job
  *    returns its `(Σpr, Σdangling, L1)`. The loop adds those in block
  *    order and partials are added in source-block order, so ranks and
  *    round counts do not depend on task timing.
  *
  * Only the partials (at most one per block and distinct destination)
  * cross the network per round; the edge arrays never move again. The
  * per-round scalars travel in task closures, so no round plans or
  * compiles code. Each round's block is a local RDD checkpoint (lineage
  * stays one round deep); on a real cluster swap for a reliable
  * checkpoint every k rounds.
  *
  * Every entry point runs the one loop in [[iterate]]; they differ only
  * in the data they pass it: edge weights, the restart term, the initial
  * vector and the stop rule. Edges with a null, negative or
  * out-of-universe endpoint contribute nothing: not to a rank and not to
  * their source's out-weight.
  */
object PageRank {

  val DefaultAlpha = 0.85
  val DefaultTol = 1e-5
  val DefaultMaxIter = 10000

  /** Stop rule of the fixed-round variants: no L1 bound, only the
    * round count. */
  private val NoTol = Double.NegativeInfinity

  /** Most vertices one block holds: a 1 GiB rank array. A Spark array
    * value stops just short of 2 GiB, and a round's task holds the
    * block's old ranks and partial sums beside it. */
  private[graph] val MaxBlock = 1 << 27

  /** Run to convergence. Returns `(id BIGINT, rank DOUBLE)` for the dense
    * universe, ascending ids not guaranteed — order downstream if needed.
    *
    * @param websize optional page-universe size; derived as max(id)+1
    *                when absent (the reference's rule).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long] = None,
      alpha: Double = DefaultAlpha,
      tol: Double = DefaultTol,
      maxIter: Int = DefaultMaxIter): DataFrame =
    iterate(spark, edgePairs(edges), websize, alpha, None, None, tol, maxIter)._1

  /** As [[run]] but also returns the iteration count (for tests/bench).
    * `checkpointEvery` is ignored — every iteration checkpoints; the
    * parameter stays only so positional callers keep compiling. */
  def runWithStats(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long],
      alpha: Double,
      tol: Double,
      maxIter: Int,
      checkpointEvery: Int): (DataFrame, Int) =
    iterate(spark, edgePairs(edges), websize, alpha, None, None, tol, maxIter)

  /** Fixed-iteration variant (no convergence test) — used by the
    * SQL-oracle-checked query entries, where the oracle unrolls the same
    * number of iterations.
    * @param init optional WARM-START rank vector (id, rank), one row per
    *   id — the incremental-refresh shape: after a graph change, continue
    *   from the previous fixpoint instead of re-converging from the unit
    *   impulse. Ids outside the universe are ignored, missing ids start
    *   at 0. A warm start normalizes on its FIRST iteration too (the
    *   carried vector is not exactly unit mass), which the unrolled warm
    *   oracle replays. */
  def runFixed(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame =
    iterate(spark, edgePairs(edges), Some(websize), alpha, None, init, NoTol, iterations)._1

  /** WEIGHTED fixed-iteration PageRank — the variant the reference's
    * `add_weight` primitive (`oink/add_weight.cpp`) exists to feed but
    * its own pagerank never consumes: rank flows along each edge in
    * proportion to the edge weight,
    * pr[i] = α·Σ_{j→i} (old_pr[j]·w(j,i))/wout(j) + α·dangling/n + (1−α)/n,
    * wout(j) = Σ out-weights of j; dangling = no out-edges (weights are
    * ≥ 1, so the dangling set matches the unweighted one). `init` is
    * [[runFixed]]'s warm start, with wout and the dangling set
    * re-derived from the new edge set.
    * @param edges (src, dst, w) — weights are carried as doubles (the
    *   `read_edge_weight` CLI format); INTEGER-valued weights keep wout
    *   exact (integer sums are exact in IEEE below 2^53,
    *   order-independent), which is what the hash gate relies on */
  def runFixedWeighted(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("double").as("w"))
    iterate(spark, e, Some(websize), alpha, None, init, NoTol, iterations)._1
  }

  /** Personalized PageRank (Jeh & Widom, "Scaling personalized web
    * search", WWW 2003): the [[runFixed]] recurrence with the restart
    * mass directed at a seed set instead of spread uniformly —
    * pr[i] = α·Σ_{j→i} old_pr[j]/outdeg(j) + (α·dangling + (1−α))·p(i),
    * p = 1/|S| on the seeds, 0 elsewhere, init pr = p. The similarity
    * ranking "near these pages" that powers related-page and
    * seed-expansion queries. `init` is [[runFixed]]'s warm start, with
    * the restart mass still directed at the seeds. */
  def runPersonalized(
      spark: SparkSession,
      edges: DataFrame,
      websize: Long,
      seeds: Seq[Long],
      iterations: Int,
      alpha: Double = DefaultAlpha,
      init: Option[DataFrame] = None): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    iterate(spark, edgePairs(edges), Some(websize), alpha, Some(seeds), init,
      NoTol, iterations)._1
  }

  private def edgePairs(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))

  /** One input partition's edges whose source lives in one block; `w` is
    * null when unweighted. */
  private final case class EdgeChunk(part: Int, src: Array[Long], dst: Array[Long],
      w: Array[Double])

  /** One input partition's start ranks for one block. */
  private final case class StartChunk(part: Int, local: Array[Int], pr: Array[Double])

  /** The partial sums block `from` sends to one block: `h(r)` for local
    * destination `local(r)`. */
  private final case class Partials(from: Int, local: Array[Int], h: Array[Double])

  /** The edges whose source lives in one block, never moved after
    * set-up. Edges are grouped by destination block, then destination:
    * run `r` (edges up to `runEnd(r)`) all point at local index
    * `runDst(r)`, and the runs for destination block `j` end at
    * `toEnd(j)`.
    *
    * @param deg    out-weight per local source (edge count, or Σw);
    *               0 — or an index past its end — marks a dangling page
    * @param src    local source per edge
    * @param w      weight per edge, null when unweighted
    * @param start  the start vector's leading entries; the rest are 0
    * @param maxId  the largest id among the block's edges, -1 for none
    */
  private final class EdgeBlock(
      val deg: Array[Double], val src: Array[Int], val w: Array[Double],
      val runEnd: Array[Int], val runDst: Array[Int], val toEnd: Array[Int],
      val start: Array[Double], val maxId: Long) extends Serializable {

    def dangling(i: Int): Boolean = i >= deg.length || deg(i) == 0.0

    /** The start vector's `(Σpr, Σ dangling pr)`, in local-index order. */
    def startSums: (Double, Double) = {
      var s, d = 0.0
      for (i <- start.indices) {
        s += start(i)
        if (dangling(i)) d += start(i)
      }
      (s, d)
    }

    /** The partial sums for destination block `j`, given the per-source
      * factor `c` (`old_pr/deg`, or `old_pr` when weighted); null when no
      * edge of this block points into `j`. */
    def partials(from: Int, j: Int, c: Array[Double]): Partials = {
      val r0 = if (j == 0) 0 else toEnd(j - 1)
      val r1 = toEnd(j)
      if (r0 == r1) null
      else {
        val h = new Array[Double](r1 - r0)
        var e = if (r0 == 0) 0 else runEnd(r0 - 1)
        var r = r0
        while (r < r1) {
          var s = 0.0
          if (w == null) while (e < runEnd(r)) { s += c(src(e)); e += 1 }
          else while (e < runEnd(r)) {
            val i = src(e)
            s += (c(i) * w(e)) / deg(i)
            e += 1
          }
          h(r - r0) = s
          r += 1
        }
        Partials(from, java.util.Arrays.copyOfRange(runDst, r0, r1), h)
      }
    }
  }

  /** The rank state: one row per block, `pr` indexed by local id, with
    * the block's `(Σpr, Σ dangling pr, Σ|pr − old_pr|)`. */
  private val StateSchema = StructType(Seq(
    StructField("block", IntegerType, nullable = false),
    StructField("pr", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("dangling", DoubleType, nullable = false),
    StructField("l1", DoubleType, nullable = false)))

  /** Block `k`'s state row for ranks `pr` that replace `old`. */
  private def stateRow(k: Int, pr: Array[Double], old: Array[Double], b: EdgeBlock): InternalRow = {
    var s, d, l1 = 0.0
    var i = 0
    while (i < pr.length) {
      s += pr(i)
      if (b.dangling(i)) d += pr(i)
      l1 += math.abs(pr(i) - old(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](k, UnsafeArrayData.fromPrimitiveArray(pr), s, d, l1))
  }

  /** The ranks a round reads from the previous state row: `pr`, divided
    * by the previous Σpr when normalizing. */
  private def oldRanks(row: InternalRow, normalize: Boolean, sumPr: Double): Array[Double] = {
    val pr = row.getArray(1).toDoubleArray()
    if (normalize) {
      var i = 0
      while (i < pr.length) { pr(i) = pr(i) / sumPr; i += 1 }
    }
    pr
  }

  /** Vertices in block `k` of `p` over `0..n-1`. */
  private def blockLen(n: Long, p: Int, k: Int): Int =
    if (k >= n) 0 else ((n - 1 - k) / p + 1).toInt

  private def blocksFor(n: Long): Int = ((n + MaxBlock - 1) / MaxBlock).toInt

  /** The set-up job's output: the persisted edge blocks, the largest id
    * they hold (-1 for none), and the start vector's Σpr and Σ dangling
    * pr, added in block order. */
  private final case class Setup(blocks: RDD[EdgeBlock], maxId: Long, sumPr: Double,
      danglingPr: Double)

  /** Shuffles the edges on `src mod p` into [[EdgeBlock]]s, with the
    * `(id, rank)` start vector in the same blocks, and persists them: one
    * job. Without `websize` only negative ids are dropped, and a block
    * whose ids would pass [[MaxBlock]] comes back empty; the caller
    * redoes the set-up with more blocks then. */
  private def setup(spark: SparkSession, edges: DataFrame, weighted: Boolean,
      websize: Option[Long], p: Int, start: DataFrame): Setup = {
    val lim = websize.getOrElse(Long.MaxValue)
    val byBlock = new HashPartitioner(p)
    val chunks = edges.queryExecution.toRdd.mapPartitions { rows =>
      val part = TaskContext.getPartitionId()
      val src = Array.fill(p)(new ArrayBuilder.ofLong)
      val dst = Array.fill(p)(new ArrayBuilder.ofLong)
      val w = Array.fill(if (weighted) p else 0)(new ArrayBuilder.ofDouble)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !(weighted && r.isNullAt(2))) {
          val s = r.getLong(0)
          val d = r.getLong(1)
          if (s >= 0 && d >= 0 && s < lim && d < lim) {
            val k = (s % p).toInt
            src(k) += s
            dst(k) += d
            if (weighted) w(k) += r.getDouble(2)
          }
        }
      }
      Iterator.tabulate(p) { k =>
        k -> EdgeChunk(part, src(k).result(), dst(k).result(),
          if (weighted) w(k).result() else null)
      }.filter(_._2.src.nonEmpty)
    }.partitionBy(byBlock)

    val starts = start.select(col("id").cast("long"), col("rank").cast("double"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val part = TaskContext.getPartitionId()
        val local = Array.fill(p)(new ArrayBuilder.ofInt)
        val pr = Array.fill(p)(new ArrayBuilder.ofDouble)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val id = r.getLong(0)
            if (id >= 0 && id < lim) {
              val k = (id % p).toInt
              local(k) += (id / p).toInt
              pr(k) += r.getDouble(1)
            }
          }
        }
        Iterator.tabulate(p)(k => k -> StartChunk(part, local(k).result(), pr(k).result()))
          .filter(_._2.local.nonEmpty)
      }.partitionBy(byBlock)

    val blocks = chunks.zipPartitions(starts) { (es, ss) =>
      val k = TaskContext.getPartitionId()
      Iterator(buildBlock(k, p, es.map(_._2).toArray.sortBy(_.part),
        ss.map(_._2).toArray.sortBy(_.part), weighted))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val figures = spark.sparkContext.runJob(blocks,
      (it: Iterator[EdgeBlock]) => { val b = it.next(); (b.maxId, b.startSums) })
    Setup(blocks, figures.map(_._1).max, figures.map(_._2._1).sum, figures.map(_._2._2).sum)
  }

  private def buildBlock(k: Int, p: Int, chunks: Array[EdgeChunk], starts: Array[StartChunk],
      weighted: Boolean): EdgeBlock = {
    val total = chunks.map(_.src.length.toLong).sum
    require(total < Int.MaxValue - 8, s"block $k holds $total edges, more than one array " +
      "takes: raise spark.sql.shuffle.partitions")
    val m = total.toInt
    val srcId = new Array[Long](m)
    val dstId = new Array[Long](m)
    val wIn = if (weighted) new Array[Double](m) else null
    var off = 0
    var maxId = -1L
    for (c <- chunks) {
      System.arraycopy(c.src, 0, srcId, off, c.src.length)
      System.arraycopy(c.dst, 0, dstId, off, c.dst.length)
      if (weighted) System.arraycopy(c.w, 0, wIn, off, c.w.length)
      off += c.src.length
    }
    var e = 0
    while (e < m) { maxId = math.max(maxId, math.max(srcId(e), dstId(e))); e += 1 }
    if (maxId / p >= MaxBlock) {
      // too many ids for p blocks; only maxId matters to the caller
      return new EdgeBlock(Array.empty, Array.empty, null, Array.empty, Array.empty,
        new Array[Int](p), Array.empty, maxId)
    }

    // out-weight per local source, in input order
    val maxSrc = if (m == 0) -1 else srcId.max
    val deg = new Array[Double](if (maxSrc < 0) 0 else (maxSrc / p).toInt + 1)
    e = 0
    while (e < m) {
      deg((srcId(e) / p).toInt) += (if (weighted) wIn(e) else 1.0)
      e += 1
    }

    // group by destination block, then destination: bucket on dst mod p,
    // sort each bucket on (dst / p, input position)
    val bucketEnd = new Array[Int](p)
    e = 0
    while (e < m) { bucketEnd((dstId(e) % p).toInt) += 1; e += 1 }
    var j = 1
    while (j < p) { bucketEnd(j) += bucketEnd(j - 1); j += 1 }
    val fill = Array.tabulate(p)(j => if (j == 0) 0 else bucketEnd(j - 1))
    val keys = new Array[Long](m)
    e = 0
    while (e < m) {
      val b = (dstId(e) % p).toInt
      keys(fill(b)) = ((dstId(e) / p) << 32) | e
      fill(b) += 1
      e += 1
    }
    val src = new Array[Int](m)
    val w = if (weighted) new Array[Double](m) else null
    val runEnd = new ArrayBuilder.ofInt
    val runDst = new ArrayBuilder.ofInt
    val toEnd = new Array[Int](p)
    var runs = 0
    j = 0
    var i = 0
    while (j < p) {
      val b0 = i
      java.util.Arrays.sort(keys, b0, bucketEnd(j))
      while (i < bucketEnd(j)) {
        val at = (keys(i) & 0xffffffffL).toInt
        val dl = (keys(i) >>> 32).toInt
        src(i) = (srcId(at) / p).toInt
        if (weighted) w(i) = wIn(at)
        if (i == b0 || (keys(i - 1) >>> 32).toInt != dl) {
          if (runs > 0) runEnd += i
          runDst += dl
          runs += 1
        }
        i += 1
      }
      toEnd(j) = runs
      j += 1
    }
    if (runs > 0) runEnd += m

    // start vector: dense up to its last entry; a later entry for the
    // same id wins
    val last = starts.iterator.flatMap(_.local).foldLeft(-1)(math.max)
    val start = new Array[Double](last + 1)
    for (s <- starts; x <- s.local.indices) start(s.local(x)) = s.pr(x)
    new EdgeBlock(deg, src, w, runEnd.result(), runDst.result(), toEnd, start, maxId)
  }

  /** The PageRank loop behind every entry point.
    *
    * @param edges   `(src, dst)`, plus `w` when weighted
    * @param websize page-universe size; None derives max(id)+1
    * @param restart personalized seed set: restart mass `1/|S|` on each
    *                seed; None spreads it uniformly,
    *                `α·dangling/n + (1−α)/n`
    * @param init    warm-start vector (id, rank); None starts cold from
    *                the restart vector, or the unit impulse
    * @param tol     L1 bound that stops the loop; [[NoTol]] never does
    * @param maxIter round cap — the round count of the fixed variants
    * @return (`(id, rank)`, rounds run)
    */
  private def iterate(
      spark: SparkSession,
      edges: DataFrame,
      websize: Option[Long],
      alpha: Double,
      restart: Option[Seq[Long]],
      init: Option[DataFrame],
      tol: Double,
      maxIter: Int): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val weighted = edges.columns.length == 3
    // IEEE division, replayed identically in the oracle
    val pSeed = restart.map(s => 1.0 / s.size).getOrElse(0.0)
    val start = init.getOrElse(spark.createDataFrame(
      restart.map(_.map(_ -> pSeed)).getOrElse(Seq(0L -> 1.0))).toDF("id", "rank"))
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var p = math.max(conf, websize.map(blocksFor).getOrElse(1))
    var set = setup(spark, edges, weighted, websize, p, start)
    val n = websize.getOrElse(math.max(set.maxId, 0L) + 1L)
    if (blocksFor(n) > p) {
      set.blocks.unpersist(false)
      p = blocksFor(n)
      set = setup(spark, edges, weighted, Some(n), p, start)
    }
    val blocks = set.blocks
    val parts = p
    val byBlock = new HashPartitioner(p)
    val seedsIn: Array[Array[Int]] = Array.tabulate(p) { k =>
      restart.getOrElse(Nil).filter(s => s >= 0 && s < n && s % parts == k)
        .map(s => (s / parts).toInt).toArray
    }

    // the start vector, dense: derived from the persisted blocks in the
    // first round's tasks, never a job of its own
    var state: RDD[InternalRow] = blocks.mapPartitionsWithIndex { (k, bs) =>
      val b = bs.next()
      val pr = java.util.Arrays.copyOf(b.start, blockLen(n, parts, k))
      Iterator(stateRow(k, pr, pr, b))
    }
    var sumPr = set.sumPr
    var danglingPr = set.danglingPr
    var l1 = 0.0
    var iter = 0
    // The reference's loop guard (mr-pr-cpp.cpp:130), checked after the
    // update that produced the diff.
    while (iter < maxIter && (iter == 0 || l1 > tol)) {
      // a warm start normalizes on its first round too: the carried
      // vector is not exactly unit mass
      val normalize = iter > 0 || init.isDefined
      val s0 = sumPr
      // the restart term's scalar part folded driver-side, in the same
      // double ops and order as the unrolled oracles
      val teleport =
        if (restart.isEmpty) alpha * danglingPr / n + (1.0 - alpha) / n
        else alpha * danglingPr + (1.0 - alpha)

      // stage 1: edge block k meets rank block k where both live
      val partials = blocks.zipPartitions(state) { (bs, ss) =>
        val b = bs.next()
        val o = oldRanks(ss.next(), normalize, s0)
        val c = new Array[Double](b.deg.length)
        var i = 0
        while (i < c.length) {
          if (b.deg(i) > 0.0) c(i) = if (b.w == null) o(i) / b.deg(i) else o(i)
          i += 1
        }
        val k = TaskContext.getPartitionId()
        Iterator.tabulate(parts)(j => j -> b.partials(k, j, c)).filter(_._2 != null)
      }.partitionBy(byBlock)

      // stage 2: block j adds its partials in source-block order
      val next = partials.zipPartitions(state, blocks) { (ps, ss, bs) =>
        val j = TaskContext.getPartitionId()
        val b = bs.next()
        val o = oldRanks(ss.next(), normalize, s0)
        val h = new Array[Double](o.length)
        for (q <- ps.map(_._2).toArray.sortBy(_.from)) {
          var r = 0
          while (r < q.local.length) { h(q.local(r)) += q.h(r); r += 1 }
        }
        val pr = new Array[Double](h.length)
        var i = 0
        if (restart.isEmpty) while (i < h.length) { pr(i) = h(i) * alpha + teleport; i += 1 }
        else {
          while (i < h.length) { pr(i) = h(i) * alpha + teleport * 0.0; i += 1 }
          for (li <- seedsIn(j)) pr(li) = h(li) * alpha + teleport * pSeed
        }
        Iterator(stateRow(j, pr, o, b))
      }.localCheckpoint()

      val (s, d, l) = sc.runJob(next, (it: Iterator[InternalRow]) => {
        val r = it.next()
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      }).foldLeft((0.0, 0.0, 0.0)) { case ((s, d, l), (bs, bd, bl)) => (s + bs, d + bd, l + bl) }
      if (iter > 0) state.unpersist(false)
      state = next
      sumPr = s
      danglingPr = d
      l1 = l
      iter += 1
    }
    // only the returned state outlives the call
    blocks.unpersist(false)
    val ranks = Bridge.rowsFrame(spark, state, StateSchema)
      .select(col("block"), posexplode(col("pr")))
      .select((col("pos").cast("long") * parts + col("block")).as("id"), col("col").as("rank"))
    (ranks, iter)
  }
}
