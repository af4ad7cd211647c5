package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Stages a bounded frame as a directory of single-file micro-batches:
  * `b00.parquet .. bNN.parquet` with strictly increasing modification
  * times, so a `maxFilesPerTrigger = 1` AvailableNow drain over the
  * directory runs one micro-batch per file, in file order. A
  * single-file testdata table drains as ONE micro-batch, which leaves
  * every cross-batch state path unexercised; the staged copy is the
  * multi-batch harness the `*_mb` gate rows drain. The directory is a
  * [[Bridge.scratchDir]], removed at JVM exit. */
private[graft] object MicroBatchStage {

  /** Stage `df` as `nFiles` batches of contiguous rows in `order`
    * (sliced by `row_number`, so the batches partition the rows).
    * Gate-staging only: the global order runs through one partition. */
  def sliced(prefix: String, df: DataFrame, nFiles: Int,
      order: Column*): String = {
    val n = df.count()
    require(n > 0, s"no rows to stage as $prefix micro-batches")
    val ranked = df.withColumn("__rn", row_number().over(Window.orderBy(order: _*)))
    write(prefix, (0 until nFiles).map { k =>
      val lo = k * n / nFiles
      val hi = (k + 1) * n / nFiles
      ranked.where(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    })
  }

  /** Write each of `batches` as one parquet file `bKK.parquet` of a fresh
    * scratch directory and return the directory's path. */
  def write(prefix: String, batches: Seq[DataFrame]): String = {
    val out = Bridge.scratchDir(prefix)
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    batches.zipWithIndex.foreach { case (batch, k) =>
      val stage = new java.io.File(out, s"_stage$k")
      batch.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(out, f"b$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // FileStreamSource orders by modification time (oldest first);
      // 60 s spacing keeps the order unambiguous on coarse filesystems,
      // and the b00..bNN names break any residual tie the same way.
      dst.setLastModified(t0 + k * 60000L)
      stage.listFiles().foreach(_.delete()); stage.delete()
    }
    out.getPath
  }
}
