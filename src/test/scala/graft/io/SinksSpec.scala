package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
    .toDF("id", "tag", "v")

  test("csv round-trip preserves rows; single=true yields one file") {
    val dir = Bridge.scratchDir("sinks-csv").getPath
    Sinks.writeCsv(df, dir, single = true)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = Sinks.readCsv(spark, dir, "id LONG, tag STRING, v DOUBLE")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      df.as[(Long, String, Double)].collect().toSet)
  }

  test("partitioned parquet prunes on the partition column") {
    val dir = Bridge.scratchDir("sinks-parq").getPath
    Sinks.writeParquet(df, dir, partitionBy = Seq("tag"))
    assert(new java.io.File(s"$dir/tag=a").exists())
    val back = spark.read.parquet(dir).where(col("tag") === "a")
    assert(back.count() == 2)
    // partition filter must reach the scan, not a post-filter
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(tag"), scan)
  }

  test("json round-trip") {
    val dir = Bridge.scratchDir("sinks-json").getPath
    Sinks.writeJson(df, dir)
    assert(Sinks.readJson(spark, dir).count() == 3)
  }

  test("orc round-trip with partition pruning and filter pushdown") {
    val dir = Bridge.scratchDir("sinks-orc").getPath
    Sinks.writeOrc(df, dir, partitionBy = Seq("tag"))
    assert(new java.io.File(s"$dir/tag=a").exists())
    val back = Sinks.readOrc(spark, dir)
    assert(back.count() == 3)
    val filtered = back.where(col("tag") === "a" && col("id") > 1)
    assert(filtered.count() == 1) // only (3, a, 3.5)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(tag"), scan)
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id"), scan)
  }

  test("dynamic partition overwrite replaces ONE partition, leaves the rest") {
    // the incremental corpus-refresh write mode: re-emitting one day's
    // partition must not clobber the other days (static overwrite wipes
    // the whole table root — the classic data-loss footgun)
    import spark.implicits._
    val dir = Bridge.scratchDir("graft_dpo").getPath + "/t"
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d3"))
        .toDF("id", "day").write.partitionBy("day").parquet(dir)
      // refresh day d2 only — mode overwrite + dynamic = surgical
      Seq((30L, "d2"), (31L, "d2")).toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      val back = spark.read.parquet(dir)
        .select("id", "day").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back == Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2"),
        (4L, "d3")), s"dynamic overwrite corrupted siblings: $back")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
