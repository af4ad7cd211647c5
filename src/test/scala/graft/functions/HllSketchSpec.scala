package graft.functions

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._

class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private def approx(n: Int, parts: Int): Map[Int, Double] = {
    val df = (0 until n).map(i => (i % 4, s"k$i")).toDF("g", "k")
      .repartition(parts)
    df.groupBy("g")
      .agg(HllSketch.hll60(Hashing.hash60(col("k"))).as("a"))
      .as[(Int, Double)].collect().toMap
  }

  test("estimate lands within HLL error bounds and tracks exact counts") {
    val est = (0 until 4).map { g =>
      val keys = (0 until 5000).map(i => s"g$g-$i").toDF("k")
      keys.agg(HllSketch.hll60(Hashing.hash60(col("k")))).as[Double].head()
    }
    est.foreach { e =>
      assert(math.abs(e - 5000) / 5000.0 < 0.2,
        s"estimate $e too far from exact 5000 (p=8 rse ~6.5%)")
    }
  }

  test("partition-merge invariance: same estimate for 1, 3, and 8 splits") {
    val a = approx(20000, 1)
    val b = approx(20000, 3)
    val c = approx(20000, 8)
    assert(a == b && b == c, s"merge order changed the estimate: $a $b $c")
  }

  test("small-range linear counting handles tiny groups exactly enough") {
    val df = Seq.tabulate(10)(i => ("only", s"x$i")).toDF("g", "k")
    val e = df.groupBy("g")
      .agg(HllSketch.hll60(Hashing.hash60(col("k"))).as("a"))
      .select("a").as[Double].head()
    // 10 distinct keys: 256 * ln(256/246) with at most one collision
    assert(e > 7 && e < 14, s"linear-counting estimate $e implausible for 10 keys")
  }

  test("register math matches a by-hand replica of the update path") {
    // replicate buckets/ranks on the driver with the same hash
    val keys = (0 until 1000).map(i => s"42|$i")
    val regs = new Array[Int](HllSketch.M)
    keys.foreach { s =>
      val h = Hashing.hash60Local(s)
      val b = (h >>> HllSketch.W).toInt
      val w = h & HllSketch.WMask
      val rho = math.min(if (w == 0L) HllSketch.W + 1
        else java.lang.Long.numberOfLeadingZeros(w) - (64 - HllSketch.W) + 1,
        HllSketch.RhoCap)
      regs(b) = math.max(regs(b), rho)
    }
    val expected = HllSketch.estimate(regs.map(_.toByte))
    val got = keys.toDF("k")
      .agg(HllSketch.hll60(Hashing.hash60(col("k")))).as[Double].head()
    assert(got == expected, s"agg $got != driver replica $expected")
  }

  test("hll60 is callable from SQL after registration") {
    GraftFunctions.register(spark)
    Seq("a", "b", "a").toDF("k").createOrReplaceTempView("hll_in")
    val e = spark.sql("SELECT hll60(hash60(k)) FROM hll_in").as[Double].head()
    assert(e > 1.5 && e < 2.5, s"2 distinct keys estimated at $e")
  }
}
