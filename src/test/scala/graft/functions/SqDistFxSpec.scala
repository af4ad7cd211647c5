package graft.functions

import graft.testkit.SparkSpec
import graft.pipeline.KMeansInt
import org.apache.spark.sql.functions._

/** Pins the native fixed-point distance kernel to KMeansInt's composed
  * fold — interpreted and codegen paths (the fused-kernel discipline;
  * integer adds commute, so equality is exact, not tolerance-based). */
class SqDistFxSpec extends SparkSpec {
  import spark.implicits._

  test("native kernel equals the composed fold on random code/centroid pairs") {
    val rnd = new scala.util.Random(31)
    val codes = (0 until 50)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextInt(255).toLong)))
      .toDF("vec_id", "qv")
    val cents = (0 until 7)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextInt(255 * 16384).toLong)))
      .toDF("cid", "m")
    val diffs = codes.crossJoin(broadcast(cents))
      .select(
        SqDistFx.sqDistFx(col("qv"), col("m"), KMeansInt.Scale).as("n"),
        KMeansInt.costComposed(col("qv"), col("m")).as("c"))
      .where(col("n") =!= col("c") || col("n").isNull).count()
    assert(diffs == 0L)
  }

  test("codegen path: range-built input, fallback disabled, codegen stage present") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(40)
        .select(col("id"),
          array((0 until 8).map(j => col("id") * j % 255): _*).as("qv"),
          array((0 until 8).map(j => (col("id") + j) * 16384L % 100000L): _*)
            .as("m"))
      val out = df.select(
        SqDistFx.sqDistFx(col("qv"), col("m"), KMeansInt.Scale).as("n"),
        KMeansInt.costComposed(col("qv"), col("m")).as("c"))
      assert(out.where(col("n") =!= col("c")).count() == 0L)
      assert(out.queryExecution.executedPlan
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  /** Rows where the native kernel and the composed fold disagree,
    * null-safely, plus how many rows the kernel returned null for. */
  private def compare(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val out = df.select(
      SqDistFx.sqDistFx(col("qv"), col("m"), KMeansInt.Scale).as("n"),
      KMeansInt.costComposed(col("qv"), col("m")).as("c"))
    (out.where(!(col("n") <=> col("c"))).count(), out.where(col("n").isNull).count())
  }

  test("null elements give null like the composed fold, interpreted and codegen") {
    // interpreted: a projection over a local relation folds in the optimizer
    val local = Seq(
      (Seq(Some(1L), None), Seq(Some(16384L), Some(0L))),
      (Seq(Some(1L), Some(2L)), Seq(None, Some(0L))),
      (Seq(Some(1L), Some(2L)), Seq(Some(16384L), Some(0L))))
      .toDF("qv", "m")
    assert(compare(local) == ((0L, 2L)))

    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // every third vector carries a null element; the centroids are
      // declared non-null, so only the left side takes the element test
      val ranged = spark.range(30)
        .select(
          array(col("id"), when(col("id") % 3 =!= 0, col("id") * 2)).as("qv"),
          array(col("id") * 16384L, lit(7L)).as("m"))
      assert(compare(ranged) == ((0L, 10L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("known values, empty and mismatched arrays") {
    val r = Seq(
      (Array(2L, 3L), Array(2L * 16384L, 3L * 16384L)), // exact centroid → 0
      (Array(1L), Array(0L)))                           // 16384² = 268435456
      .toDF("qv", "m")
      .select(SqDistFx.sqDistFx(col("qv"), col("m"), 16384L).as("d")).collect()
    assert(r(0).getLong(0) == 0L)
    assert(r(1).getLong(0) == 16384L * 16384L)
    val empty = Seq((Array.empty[Long], Array.empty[Long])).toDF("qv", "m")
      .select(SqDistFx.sqDistFx(col("qv"), col("m"), 16384L).as("d")).head()
    assert(empty.getLong(0) == 0L)
    val mis = Seq((Array(1L, 2L), Array(1L))).toDF("qv", "m")
      .select(SqDistFx.sqDistFx(col("qv"), col("m"), 16384L).as("n"),
        KMeansInt.costComposed(col("qv"), col("m")).as("c")).head()
    assert(mis.isNullAt(0) && mis.isNullAt(1))
  }
}
