package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Before the dump
  * it writes `queries.json`, the names of the queries it runs, so the
  * compare fails a query that left no output dir instead of skipping it.
  * A query that fails is named on stderr and makes the run exit 1 after
  * the rest are dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1_agg,e_ewma — builder-side subset for fast
    // single-query mirror iteration; driver never sets it (full dump).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) =>
        // a typo'd name would silently shrink the dump and read as a
        // successful mirror run — fail fast with the unmatched set
        val unknown = ks.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
            unknown.toSeq.sorted.mkString(", "))
        SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None     => SparkEntry.queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    val failed = dump(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.queries.GraphQueries.clearCaches()
    graft.text.Bpe.clearCache()
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet and
    * returns the names of the queries that threw, in order; one
    * failure does not stop the rest. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
}
