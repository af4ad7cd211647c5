package graft.functions

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._

/** HDR-bin quantile sketch (`hdrq`: [[LogBinQuantiles]] at m = 6): bin
  * math, error bound, merge independence. */
class HdrQuantilesSpec extends SparkSpec {

  import spark.implicits._
  private val M = LogBinQuantiles.HdrM
  private val Bins = 1 + 63 * 64
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

  test("bin index and lower bound are consistent and monotone") {
    val probes = Seq(0L, 1L, 2L, 63L, 64L, 65L, 127L, 128L, 1000L,
      123456789L, Long.MaxValue / 3) ++
      (1 to 500).map(i => math.abs(scala.util.hashing.MurmurHash3
        .stringHash(i.toString).toLong) + 1)
    for (v <- probes) {
      val b = binOf(v)
      assert(lowerOf(b) <= v, s"lower(${b}) > $v")
      if (b + 1 < Bins && lowerOf(b + 1) > lowerOf(b))
        assert(v < lowerOf(b + 1) || binOf(v) != b)
      // relative error of the reported lower bound ≤ 2^-M
      if (v > 0)
        assert((v - lowerOf(b)).toDouble / v <= math.pow(2.0, -M) + 1e-12,
          s"error bound violated at $v: lower=${lowerOf(b)}")
    }
    // bins are monotone in v
    val sorted = probes.filter(_ >= 0).sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(binOf(a) <= binOf(b)) }
  }

  test("bin math holds across the full positive range (randomized)") {
    // magnitude-uniform sampling: random bit width, then random bits
    for (seed <- Seq(3, 19, 77)) {
      val rnd = new scala.util.Random(seed)
      val vs = Seq.fill(20000) {
        val bits = rnd.nextInt(63) + 1
        (rnd.nextLong() & ((1L << bits) - 1)) | (1L << (bits - 1))
      }
      for (v <- vs) {
        val b = binOf(v)
        assert(b >= 1 && b < Bins)
        assert(lowerOf(b) <= v && (v - lowerOf(b)).toDouble / v <=
          math.pow(2.0, -M) + 1e-12, s"bound violated at $v (bin $b)")
      }
      // monotone: sorted values map to non-decreasing bins
      val sorted = vs.sorted
      sorted.zip(sorted.tail).foreach { case (x, y) => assert(binOf(x) <= binOf(y)) }
      // exact below 2^(M+1): the bin IS the value
      (1L until 128L).foreach(v => assert(lowerOf(binOf(v)) == v))
    }
  }

  test("sketch quantiles are within the relative-error bound of exact") {
    val rnd = new scala.util.Random(17)
    val vals = Seq.fill(5000)((rnd.nextDouble() * 1e6).toLong + 1)
    val df = vals.toDF("v")
    val got = df.agg(LogBinQuantiles.hdrQuantiles(col("v"),
      Seq(0.1, 0.5, 0.9, 0.99)).as("qq")).head().getSeq[Long](0)
    val sorted = vals.sorted
    for ((q, est) <- Seq(0.1, 0.5, 0.9, 0.99).zip(got)) {
      val exact = sorted(math.max(math.ceil(q * vals.size).toInt, 1) - 1)
      assert(est <= exact, s"q=$q: lower-bound report $est above exact $exact")
      assert((exact - est).toDouble / exact <= math.pow(2.0, -M) + 1e-9,
        s"q=$q: est $est vs exact $exact exceeds 1/64 relative error")
    }
  }

  test("result is independent of partitioning and includes edge cases") {
    val vals = Seq(0L, 0L, -5L, 1L, Long.MaxValue / 2) ++
      (1 to 2000).map(_.toLong)
    val a = vals.toDF("v").agg(LogBinQuantiles.hdrQuantiles(col("v"),
      Seq(0.0, 0.5, 1.0))).head().getSeq[Long](0)
    val b = scala.util.Random.shuffle(vals).toDF("v").repartition(13)
      .agg(LogBinQuantiles.hdrQuantiles(col("v"), Seq(0.0, 0.5, 1.0)))
      .head().getSeq[Long](0)
    assert(a == b, s"merge-order dependence: $a vs $b")
    // q=1.0 reaches the max's bin; negatives clamp into the zero bin
    assert(a(2) <= Long.MaxValue / 2 && a(2) >= lowerOf(binOf(Long.MaxValue / 2)))
    assert(a(0) == 0L)
    // a wide-range input (zeros, negatives, every magnitude) against the
    // sorted-array reference, under 1, 3 and 7 partitions
    val rnd = new scala.util.Random(61)
    val wide = Seq(0L, -3L, Long.MaxValue) ++ Seq.fill(3000) {
      val bits = rnd.nextInt(63) + 1
      (rnd.nextLong() & ((1L << bits) - 1)) | (1L << (bits - 1))
    }
    val wqs = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.999, 1.0)
    for (parts <- Seq(1, 3, 7)) {
      val got = wide.toDF("v").repartition(parts)
        .agg(LogBinQuantiles.hdrQuantiles(col("v"), wqs)).head().getSeq[Long](0)
      assert(got == sortedReference(wide, wqs), s"$parts partitions: $got")
    }
  }

  test("hdrq is callable from SQL") {
    GraftFunctions.register(spark)
    (1L to 100L).toDF("v").createOrReplaceTempView("hdrq_probe")
    val r = spark.sql(
      "SELECT element_at(hdrq(v, array(0.5)), 1) AS p50 FROM hdrq_probe")
      .head().getLong(0)
    assert(r == lowerOf(binOf(50L)), s"got $r")
  }

  test("hdrq rejects null quantile elements at analysis time") {
    GraftFunctions.register(spark)
    (1L to 10L).toDF("v").createOrReplaceTempView("hdrq_null_probe")
    // a NULL slot would otherwise read positionally as 0.0 and silently
    // compute the wrong quantile
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT hdrq(v, array(0.5, CAST(NULL AS DOUBLE))) FROM hdrq_null_probe")
        .collect()
    }
    assert(err.getMessage.contains("null"), s"got ${err.getMessage}")
  }
}
