package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** A long-lived corpus evolves: later ingest batches add columns. The
  * read surface must unify old and new files (missing values null) and
  * table maintenance must not lose the newer columns. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvolved(dir: String): Unit = {
    // era 1: (doc_id, text); era 2 adds lang
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "gamma", "en"), (4L, "delta", "fr"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("append").parquet(dir)
  }

  test("mergeSchema unifies evolved files; old rows null-fill the new column") {
    val dir = Bridge.scratchDir("graft-evo").toPath.resolve("t").toString
    writeEvolved(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("doc_id", "text", "lang"))
    val m = df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(m == Map(1L -> null, 2L -> null, 3L -> "en", 4L -> "fr"))
    // the new column still filters (pushdown over mixed footers)
    assert(df.where(col("lang") === "en").count() == 1)
  }

  test("compaction preserves evolved columns and yields a schema-uniform table") {
    val dir = Bridge.scratchDir("graft-evo2").toPath.resolve("t").toString
    writeEvolved(dir)
    // force a rewrite: tiny target so want < current file count is false;
    // instead inflate file count first
    spark.range(0L, 96L).select((col("id") + 100L).as("doc_id"),
        concat(lit("d"), col("id")).as("text"), lit("en").as("lang"))
      .repartition(8).write.mode("append").parquet(dir)
    val before = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("doc_id", "text", "lang")
      .collect().map(_.toSeq).toSet
    val r = Compaction.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(r.filesAfter == 1 && r.filesBefore >= 10)
    val after = spark.read.parquet(dir) // no mergeSchema needed anymore
    assert(after.columns.toSet == Set("doc_id", "text", "lang"))
    assert(after.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet == before)
  }
}
