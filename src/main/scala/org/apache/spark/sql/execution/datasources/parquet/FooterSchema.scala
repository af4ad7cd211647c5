package org.apache.spark.sql.execution.datasources.parquet

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet schema inference on the driver, with no Spark job. Spark's
  * own inference (`ParquetUtils.inferSchema`) reads its one footer
  * through `mergeSchemasInParallel`, a one-task job; the footer reader
  * and converter it uses are `private[parquet]`, so this in-package shim
  * reaches them, as `graftbridge.Bridge` does for `private[sql]`. */
object FooterSchema {

  /** The data schema (partition columns aside) Spark infers for `path`
    * with schema merging off, read from the same footer: the path is
    * globbed and listed as a read of it would be (so a missing path
    * fails with Spark's `PATH_NOT_FOUND`), and the first of
    * `_common_metadata`, `_metadata` and the data files in path order is
    * read and converted under the session conf. None when the listing
    * holds no such file, or its footer is corrupt and
    * `spark.sql.files.ignoreCorruptFiles` skips it. Nothing is cached:
    * every call lists and reads again. */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
      .sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val footer = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, footer.toSeq, spark.sessionState.conf.ignoreCorruptFiles), spark)
  }
}
