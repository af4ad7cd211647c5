package graft.io

import graft.queries.RelationalQueries
import graft.testkit.SparkSpec
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** `Tables` reads a parquet table's schema from one footer on the
  * driver: the same schema Spark's inference gives, with no Spark job,
  * the same errors, and nothing cached between calls. */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): Path = Files.createTempDirectory("tables-spec")

  /** Run `body` with `kvs` set on the session, then put each key back. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spark jobs `body` launches from this thread. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = "tables-spec"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tables spec")
    try {
      body
      Bridge.drainListeners(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val timestampConfs = for {
    nanos <- Seq("true", "false")
    ntz   <- Seq("true", "false")
  } yield Seq("spark.sql.legacy.parquet.nanosAsLong" -> nanos,
              "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz)

  test("every testdata table has Spark's inferred schema under each timestamp conf") {
    for (confs <- timestampConfs) withConf(confs: _*) {
      for (name <- Tables.AllTables) {
        val want = spark.read.parquet(s"$sf/$name.parquet").schema
        assert(Tables.table(spark, sf, name).schema == want, s"$name under $confs")
      }
    }
  }

  test("a Spark-written directory of part files has Spark's inferred schema") {
    val dir = tmpDir().resolve("t.parquet").toString
    spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") * 1.5).as("x"),
        timestamp_micros(col("id") * 1000003L).as("ts"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").cast("int").as("i"), col("id").cast("string").as("s")).as("st"),
        map(col("id").cast("string"), col("id")).as("m"),
        col("id").cast("decimal(12,2)").as("dec"))
      .write.parquet(dir)
    val files = new java.io.File(dir).list().toSeq
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) >= 2, files)
    for (confs <- timestampConfs) withConf(confs: _*) {
      val t = Tables.table(spark, dir.stripSuffix("/t.parquet"), "t")
      assert(t.schema == spark.read.parquet(dir).schema, s"under $confs")
      assert(t.count() == 200)
    }
  }

  test("building a table or the q3_join_agg frame launches no Spark job") {
    assert(jobsOf(spark.read.parquet(s"$sf/lineitem.parquet")) == 1) // Spark's inference
    assert(jobsOf(Tables.lineitem(spark, sf)) == 0)
    assert(jobsOf(RelationalQueries.queries("q3_join_agg")(spark, sf)) == 0)
    assert(jobsOf(Tables.parquetSchema(spark, s"$sf/events.parquet")) == 0)
  }

  test("an empty directory and a missing path fail with Spark's error conditions") {
    def condition(body: => Any): String =
      intercept[Exception](body) match {
        case e: SparkThrowable => e.getCondition
        case e => fail(s"not a SparkThrowable: $e")
      }
    val empty = tmpDir().toString
    assert(condition(Tables.parquetSchema(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
    val missing = s"$empty/nope.parquet"
    assert(condition(Tables.parquetSchema(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
  }

  test("a corrupt footer fails the read and names the file") {
    val dir = tmpDir()
    val bad = dir.resolve("bad.parquet")
    Files.writeString(bad, "not a parquet file, but long enough to have a footer")
    val e = intercept[Exception](Tables.parquetSchema(spark, bad.toString))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(bad.toString)), e)
  }

  test("the footer is read again on every call") {
    val dir = tmpDir().toString
    val path = s"$dir/t.parquet"
    spark.range(3).select(col("id").as("a")).write.parquet(path)
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("b", "c"))
  }

  test("with mergeSchema on every footer counts, as in Spark's own read") {
    val dir = tmpDir().toString
    spark.range(3).select(col("id").as("a")).write.parquet(s"$dir/part=1")
    spark.range(3).select(col("id").as("a"), col("id").as("b")).write.parquet(s"$dir/part=2")
    assert(Tables.parquetSchema(spark, dir) == spark.read.parquet(dir).schema)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val merged = spark.read.parquet(dir).schema
      assert(merged.fieldNames.toSeq == Seq("a", "b", "part"))
      assert(Tables.parquetSchema(spark, dir) == merged)
    }
  }
}
