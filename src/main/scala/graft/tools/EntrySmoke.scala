package graft.tools

import org.apache.spark.sql.SparkSession

/** Mirror of the t1 smoke: run SparkEntry.entry, expect rows>0.
  * The one main that does not use [[graft.GraftSession]]: the smoke
  * calls the entry point from a bare session (no extensions, no UTC),
  * so an entry point that works only under graft's conf fails here. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val n = graft.SparkEntry.entry(spark).count()
    println(f"ENTRY rows=$n in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
    assert(n > 0)
  }
}
