package graft

import graft.testkit.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Files

/** A query that throws must be reported, not swallowed: it leaves no
  * output dir, so the oracle compare (which checks only the dirs that
  * exist) would never see it. */
class VerifySpec extends SparkSpec {

  test("a throwing builder is reported and the other queries are still dumped") {
    val out = Files.createTempDirectory("verify").toString
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "first" -> ((s, _) => s.range(3).toDF("id")),
      "broken" -> ((_, _) => throw new IllegalStateException("no table")),
      "last" -> ((s, _) => s.range(5).toDF("id")))
    val failed = Verify.dump(spark, "unused", out, queries)
    assert(failed == Seq("broken"))
    assert(spark.read.parquet(s"$out/first").count() == 3)
    assert(spark.read.parquet(s"$out/last").count() == 5)
    assert(!new java.io.File(s"$out/broken").exists())
  }
}
