package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (`/root/testdata/sf0.001` etc., see TESTDATA.md) plus the canonical derived
  * edge list every graph query and its DuckDB oracle share.
  *
  * The reference's graph queries consume whitespace edge lists
  * (`/root/reference/oink/map_read_edge.cpp:9-25`); the driver harness
  * instead supplies relational parquet. We bridge the two by deriving a
  * deterministic synthetic graph from `orders`: vertex universe is the
  * dense range `0..GraphN-1` (mirroring the reference's dense
  * `0..max_id` page-universe semantics, `/root/reference/mr-pr-cpp.cpp:203-210`)
  * and each order contributes the directed edge
  * `(o_custkey mod GraphN) -> (o_orderkey mod GraphN)`.
  *
  * A table read launches no Spark job: the table's schema is read from
  * one parquet footer on the driver and handed to the read, where
  * `spark.read.parquet` alone would run a one-task job to read that
  * footer (see [[parquetSchema]]).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The schema `spark.read.parquet(path)` infers, with no Spark job.
    *
    * With schema merging off, Spark's inference reads one footer: the
    * first `_common_metadata`, else `_metadata`, else the first data
    * file in path order of the path's listing (one file, or a directory
    * of part files). This reads that same footer on the driver, converts
    * it with Spark's converter under the session conf (`nanosAsLong`,
    * `inferTimestampNTZ`, `binaryAsString`, the Spark row metadata), and
    * resolves the read with it as the given schema, so partition columns
    * and nullability come out as Spark's own. The footer is read again on
    * every call: a rewritten file is seen, and `spark.graft.memoize=false`
    * runs stay full work.
    *
    * With `spark.sql.parquet.mergeSchema` on every footer counts, so the
    * read is Spark's own `spark.read.parquet(path)`, job and all. So it is
    * when the listing holds no footer to read (an empty directory), so
    * that read fails with Spark's own error. A missing path fails with
    * Spark's `PATH_NOT_FOUND`, and a corrupt footer fails naming its file. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    parquet(spark, path).schema

  private def parquet(spark: SparkSession, path: String): DataFrame =
    (if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
     else FooterSchema.infer(spark, path)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Event-time column of `events.ts` as TimestampType, schema-adaptively.
    *
    * The driver has regenerated `/root/testdata` with different parquet
    * physical types for `ts` across rounds: TIMESTAMP(NANOS) (arrives as
    * BIGINT nanoseconds under `spark.sql.legacy.parquet.nanosAsLong`) and
    * timestamp[us] (arrives as TIMESTAMP_NTZ under Spark's NTZ inference,
    * or TIMESTAMP). All engine time math is exact integer microseconds;
    * this pair of helpers is the ONLY place the physical arrival type is
    * consulted. Sessions run with `spark.sql.session.timeZone=UTC`
    * (Verify/Bench/SparkSpec), so the NTZ→TIMESTAMP cast preserves the
    * underlying microsecond value — matching DuckDB, which treats naive
    * timestamps as UTC in `epoch_ns`/`epoch_us`. */
  def eventTime(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"$tsCol div 1000")) // BIGINT nanos → micros
      case org.apache.spark.sql.types.TimestampType => col(tsCol)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(tsCol).cast(org.apache.spark.sql.types.TimestampType)
      case other => throw new IllegalArgumentException(
        s"unsupported $tsCol type for event time: $other")
    }

  /** `events.ts` as BIGINT epoch-microseconds, schema-adaptively —
    * see [[eventTime]]. The integer-microsecond domain is what every
    * event query and its DuckDB oracle (`epoch_ns(ts) // 1000`) share. */
  def eventMicros(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$tsCol div 1000")
      case _ => unix_micros(eventTime(df, tsCol))
    }

  /** Every testdata table name, in TESTDATA.md order. */
  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register each testdata table as a temp view so `spark.sql` text
    * queries run against the same data the DataFrame surface sees —
    * the SQL entry point a user of the engine's extension functions
    * (`hash60`, `cosine_sim`) drives. Skips files absent from `dir`. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    // existence via the Hadoop FileSystem for the session — java.io.File
    // is always false for non-local URIs (hdfs://, s3a://) and would
    // silently register nothing on a real cluster
    val conf = spark.sessionState.newHadoopConf()
    AllTables.foreach { name =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      if (path.getFileSystem(conf).exists(path))
        table(spark, dir, name).createOrReplaceTempView(name)
    }
  }

  /** Vertex-universe size of the derived graph (dense ids 0..GraphN-1). */
  val GraphN: Long = 401L

  /** Canonical derived directed edge list: `(src BIGINT, dst BIGINT)`,
    * duplicates and self-loops retained (the raw reference edge-list
    * format allows both — FIXTURES.md §1). */
  def edges(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir).select(
      (col("o_custkey") % GraphN).cast("long").as("src"),
      (col("o_orderkey") % GraphN).cast("long").as("dst"))

  /** DuckDB CTE text computing the identical edge list. */
  val EdgesSql: String =
    s"SELECT CAST(o_custkey % $GraphN AS BIGINT) AS src, " +
    s"CAST(o_orderkey % $GraphN AS BIGINT) AS dst FROM orders"

  /** Dense vertex universe 0..GraphN-1 as a single-column DataFrame. */
  def vertexUniverse(spark: SparkSession): DataFrame =
    spark.range(GraphN).toDF("id")

  val VertexUniverseSql: String =
    s"SELECT CAST(range AS BIGINT) AS id FROM range($GraphN)"
}
