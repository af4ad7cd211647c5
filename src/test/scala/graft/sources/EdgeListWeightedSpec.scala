package graft.sources

import java.nio.file.Files

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The reference's weighted edge format (`vi vj weight`,
  * read_edge_weight) through the DSv2 connector: opt-in 3-column
  * schema, strict parse, write→read round trip, pushdown behavior,
  * and the hand-written reference file shape. */
class EdgeListWeightedSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.EdgeListSource"

  private def freshDir(): java.io.File =
    Bridge.scratchDir("graft_w").toPath.resolve("edges").toFile

  test("weighted write -> read round trip is bit-exact, including ugly doubles") {
    val dir = freshDir()
    val rows = Seq((1L, 2L, 0.5), (3L, 4L, 1.0 / 3.0),
      (5L, 6L, 1e-300), (7L, 8L, 12345.678901234567))
    rows.toDF("src", "dst", "weight").coalesce(1)
      .write.format(fmt).option("withWeight", "true")
      .mode("overwrite").save(dir.getPath)
    val back = spark.read.format(fmt).option("withWeight", "true")
      .load(dir.getPath).as[(Long, Long, Double)].collect().toSet
    assert(back == rows.toSet) // Double.toString round-trips exactly
  }

  test("hand-written reference file (vi vj wt) reads; filters and limit push down") {
    val dir = freshDir()
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "e.txt").toPath,
      "1 2 0.5\n3 4 2.25\n5 6 7\n".getBytes("UTF-8"))
    val df = spark.read.format(fmt).option("withWeight", "true")
      .load(dir.getPath)
    assert(df.as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 2L, 0.5), (3L, 4L, 2.25), (5L, 6L, 7.0)))
    // filter on src is consumed by the scan (no residual Filter)
    val filtered = df.where(col("src") >= 3)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("PushedFilters: [GreaterThanOrEqual(src,3)]"))
    assert(filtered.count() == 2L)
    assert(df.limit(2).count() == 2L)
    // integer-valued weights sum exactly through the Spark-side agg
    assert(df.agg(sum("weight")).head.getDouble(0) == 9.75)
  }

  test("weighted mode still prunes columns: a src-only projection drops weight from the scan") {
    val dir = freshDir()
    Seq((1L, 2L, 0.5)).toDF("src", "dst", "weight").coalesce(1)
      .write.format(fmt).option("withWeight", "true")
      .mode("overwrite").save(dir.getPath)
    val df = spark.read.format(fmt).option("withWeight", "true")
      .load(dir.getPath).select("src")
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("ReadSchema: struct<src:bigint>"), desc)
    assert(df.as[Long].collect().toSeq == Seq(1L))
  }

  test("weighted mode declines agg/top-N pushdown; Spark computes them correctly") {
    val dir = freshDir()
    (1L to 100L).map(i => (i, i + 1, i.toDouble)).toDF("src", "dst", "weight")
      .coalesce(1).write.format(fmt).option("withWeight", "true")
      .mode("overwrite").save(dir.getPath)
    val df = spark.read.format(fmt).option("withWeight", "true")
      .load(dir.getPath)
    val plan = df.groupBy("src").agg(count(lit(1))).queryExecution
      .executedPlan.toString
    assert(!plan.contains("PushedAggregates"))
    assert(df.agg(min("src"), max("dst"), sum("weight"))
      .as[(Long, Long, Double)].head() == ((1L, 101L, 5050.0)))
    assert(df.orderBy(col("weight").desc).limit(1)
      .as[(Long, Long, Double)].head() == ((100L, 101L, 100.0)))
  }

  test("malformed weighted lines: strict mode aborts, skip mode drops") {
    val dir = freshDir()
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "e.txt").toPath,
      "1 2 0.5\n3 4\n5 6 abc\n7 8 1.5 9\n9 10 2.5\n".getBytes("UTF-8"))
    val strict = intercept[Exception] {
      spark.read.format(fmt).option("withWeight", "true")
        .load(dir.getPath).collect()
    }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(strict).exists(c => c.getMessage != null &&
      c.getMessage.contains("malformed edge line")))
    val kept = spark.read.format(fmt).option("withWeight", "true")
      .option("malformed", "skip").load(dir.getPath)
      .as[(Long, Long, Double)].collect().toSet
    assert(kept == Set((1L, 2L, 0.5), (9L, 10L, 2.5)))
    // and a 3-token file under the PLAIN schema is malformed, not
    // silently truncated to (src, dst)
    val plain = intercept[Exception] {
      spark.read.format(fmt).load(dir.getPath).collect()
    }
    assert(chain(plain).exists(c => c.getMessage != null &&
      c.getMessage.contains("malformed edge line")))
  }

  test("catalog-created weighted table: SQL DML resolves the schema with no option") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val dir = freshDir()
    val t = s"graft.`$dir`"
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT, weight DOUBLE)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2, 0.5), (3, 4, 1.25), (1, 9, 2.0)")
    // plain SELECT sees the weight column — the _graft_meta sidecar
    // resolves the schema, no read option anywhere
    assert(spark.sql(s"SELECT sum(weight) FROM $t").head.getDouble(0) == 3.75)
    // time travel resolves the weighted schema too (pinned BEFORE the
    // delete below — a rewrite invalidates earlier snapshots by design)
    val v0 = EdgeLog.versions(dir).head
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $v0")
      .head.getLong(0) == 3L)
    // DELETE's line-preserving rewrite keeps weights intact
    spark.sql(s"DELETE FROM $t WHERE src = 1")
    assert(spark.sql(s"SELECT src, dst, weight FROM $t")
      .as[(Long, Long, Double)].collect().toSet == Set((3L, 4L, 1.25)))
    // UPDATE rewrites through the weighted copy-on-write path
    spark.sql(s"UPDATE $t SET weight = weight * 2.0 WHERE src = 3")
    assert(spark.sql(s"SELECT weight FROM $t WHERE src = 3")
      .head.getDouble(0) == 2.5)
    // zorder keeps the meta sidecar (weighted rewrite, weighted read)
    spark.sql(s"INSERT INTO $t VALUES (5, 6, 4.0), (7, 8, 8.0)")
    graft.io.Compaction.zorderEdgeList(spark, dir.getPath, numFiles = 2,
      bits = 4)
    assert(spark.sql(s"SELECT sum(weight) FROM $t").head.getDouble(0) == 14.5)
    spark.sql(s"DROP TABLE $t")
  }

  test("weighted streaming read and streaming sink round trip") {
    val src = freshDir()
    Seq((1L, 2L, 0.25)).toDF("src", "dst", "weight").coalesce(1)
      .write.format(fmt).option("withWeight", "true")
      .mode("overwrite").save(src.getPath)
    Seq((3L, 4L, 0.75)).toDF("src", "dst", "weight").coalesce(1)
      .write.format(fmt).option("withWeight", "true")
      .mode("append").save(src.getPath)
    val out = freshDir()
    val ckpt = Bridge.scratchDir("graft_w_ckpt")
    val q = spark.readStream.format(fmt).option("withWeight", "true")
      .option("maxFilesPerTrigger", "1").load(src.getPath)
      .writeStream.format(fmt).option("withWeight", "true")
      .option("checkpointLocation", ckpt.getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out.getPath)
    q.awaitTermination()
    val got = spark.read.format(fmt).option("withWeight", "true")
      .load(out.getPath).as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.25), (3L, 4L, 0.75)))
  }
}
