package graft.functions

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._

/** Sparse log-bin quantile sketch (`lgq`: [[LogBinQuantiles]] at
  * m = 12): bin math, tight rank-error bound on
  * heavy-tailed data, merge independence, SQL surface. */
class LogQuantilesSpec extends SparkSpec {

  import spark.implicits._
  private val M = LogBinQuantiles.LgqM
  private def binOf(v: Long): Int = LogBinQuantiles.binOf(v, M)
  private def lowerOf(idx: Int): Long = LogBinQuantiles.lowerOf(idx, M)

  // exact reference over the sorted input: the lower bound of the bin
  // holding the rank-⌈q·n⌉ value
  private def sortedReference(vals: Seq[Long], qs: Seq[Double]): Seq[Long] = {
    val sorted = vals.sorted
    qs.map { q =>
      val r = math.max(math.ceil(q * sorted.size).toLong, 1L)
      lowerOf(binOf(sorted((r - 1).toInt)))
    }
  }

  test("bin math: monotone, lower-bound, 2^-M relative error, exact small values") {
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      // magnitude-uniform: random bit width, then random bits
      val vs = Seq.fill(20000) {
        val bits = rnd.nextInt(63) + 1
        (rnd.nextLong() & ((1L << bits) - 1)) | (1L << (bits - 1))
      }
      for (v <- vs) {
        val b = binOf(v)
        assert(b >= 1, s"bin of $v not positive")
        assert(lowerOf(b) <= v && (v - lowerOf(b)).toDouble / v <=
          math.pow(2.0, -M) + 1e-12, s"bound violated at $v (bin $b)")
      }
      val sorted = vs.sorted
      sorted.zip(sorted.tail).foreach { case (x, y) => assert(binOf(x) <= binOf(y)) }
    }
    // values below 2^(M+1) are EXACT — single-value bins
    (1L until 8192L).foreach(v => assert(lowerOf(binOf(v)) == v))
    assert(binOf(0L) == 0 && binOf(-7L) == 0 && lowerOf(0) == 0L)
  }

  test("rank error stays within 2^-M on a heavy-tailed distribution") {
    val rnd = new scala.util.Random(41)
    // log-normal-ish: spans ~10 octaves, the domain hdrq's 2^-6 bins blur
    val vals = Seq.fill(8000)(math.exp(rnd.nextGaussian() * 2.5 + 8.0).toLong + 1)
    val df = vals.toDF("v")
    val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99, 0.999)
    val got = df.agg(LogBinQuantiles.logQuantiles(col("v"), qs).as("qq"))
      .head().getSeq[Long](0)
    val sorted = vals.sorted
    for ((q, est) <- qs.zip(got)) {
      val exact = sorted(math.max(math.ceil(q * vals.size).toInt, 1) - 1)
      assert(est <= exact, s"q=$q: lower-bound report $est above exact $exact")
      assert((exact - est).toDouble / exact <= math.pow(2.0, -M) + 1e-9,
        s"q=$q: est $est vs exact $exact exceeds 2^-$M relative error")
    }
  }

  test("result is independent of partitioning and includes edge cases") {
    val vals = Seq(0L, 0L, -5L, 1L, Long.MaxValue / 2) ++
      (1 to 2000).map(_.toLong)
    val a = vals.toDF("v").agg(LogBinQuantiles.logQuantiles(col("v"),
      Seq(0.0, 0.5, 1.0))).head().getSeq[Long](0)
    val b = scala.util.Random.shuffle(vals).toDF("v").repartition(13)
      .agg(LogBinQuantiles.logQuantiles(col("v"), Seq(0.0, 0.5, 1.0)))
      .head().getSeq[Long](0)
    assert(a == b, s"merge-order dependence: $a vs $b")
    assert(a(2) <= Long.MaxValue / 2 && a(2) >= lowerOf(binOf(Long.MaxValue / 2)))
    assert(a(0) == 0L)
    // a wide-range input (zeros, negatives, every magnitude) against the
    // sorted-array reference, under 1, 3 and 7 partitions
    val rnd = new scala.util.Random(62)
    val wide = Seq(0L, -3L, Long.MaxValue) ++ Seq.fill(3000) {
      val bits = rnd.nextInt(63) + 1
      (rnd.nextLong() & ((1L << bits) - 1)) | (1L << (bits - 1))
    }
    val wqs = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.999, 1.0)
    for (parts <- Seq(1, 3, 7)) {
      val got = wide.toDF("v").repartition(parts)
        .agg(LogBinQuantiles.logQuantiles(col("v"), wqs)).head().getSeq[Long](0)
      assert(got == sortedReference(wide, wqs), s"$parts partitions: $got")
    }
  }

  test("lgq is callable from SQL and tighter than hdrq on wide values") {
    GraftFunctions.register(spark)
    val base = 1000000L // ~2^20: hdrq bin width 2^14, lgq width 2^8
    (base to base + 99L).toDF("v").createOrReplaceTempView("lgq_probe")
    val r = spark.sql(
      """SELECT element_at(lgq(v, array(0.5)), 1) AS l,
        |       element_at(hdrq(v, array(0.5)), 1) AS h
        |FROM lgq_probe""".stripMargin).head()
    val exact = base + 49L
    assert(r.getLong(0) == lowerOf(binOf(exact)), s"lgq ${r.getLong(0)}")
    assert(exact - r.getLong(0) < exact - r.getLong(1),
      s"lgq (${r.getLong(0)}) not tighter than hdrq (${r.getLong(1)})")
  }

  test("lgq rejects null quantile elements at analysis time") {
    GraftFunctions.register(spark)
    (1L to 10L).toDF("v").createOrReplaceTempView("lgq_null_probe")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT lgq(v, array(0.5, CAST(NULL AS DOUBLE))) FROM lgq_null_probe")
        .collect()
    }
    assert(err.getMessage.contains("null"), s"got ${err.getMessage}")
  }
}
