package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.graph.GraphOps

/** The micro-batch harness behind every bounded streaming sink: staging,
  * reading and draining.
  *
  * Staging ([[staged]], [[sliced]], [[write]]) writes a bounded frame as a directory
  * of single-file micro-batches, `b00.parquet .. bNN.parquet` with
  * strictly increasing modification times. A single-file testdata table
  * drains as ONE micro-batch, which leaves every cross-batch state path
  * unexercised; the staged copy is the multi-batch harness the `*_mb`
  * gate rows drain. The directory is a [[Bridge.scratchDir]], removed at
  * JVM exit.
  *
  * Reading ([[read]]) streams a staged directory one file per trigger,
  * so a drain runs one micro-batch per file, in file order.
  *
  * Draining ([[drain]]) runs a stream to exhaustion under
  * `Trigger.AvailableNow`, one callback per micro-batch; it is the one
  * `foreachBatch` of the streaming sinks. [[fold]] carries a state of
  * frames from batch to batch on top of it: each new state is
  * checkpointed through [[GraphOps.advance]] and the checkpoints it
  * replaced are released, so a drain of any length holds one state's
  * checkpoints, and the sink leaves behind only those its result reads. */
private[graft] object MicroBatchStage {

  // staged directories by (application, prefix, source dir, nFiles);
  // keyed by applicationId, not the session object (ADVICE r9: a
  // SparkSession key pins the session and its staged dirs for the JVM
  // lifetime)
  private val stagedDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String, String, Int), String]

  /** The directory `stage(prefix)` writes for the tables of `dir` at
    * `nFiles`, staged once per application and reused by later drains. */
  def staged(spark: SparkSession, prefix: String, dir: String, nFiles: Int)(
      stage: String => String): String =
    stagedDirs.getOrElseUpdate(
      (spark.sparkContext.applicationId, prefix, dir, nFiles), stage(prefix))

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

  /** The staged directory `dir` as a stream of one micro-batch per file,
    * with the schema its parquet footers declare. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.io.Tables.parquetSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Run `stream` to exhaustion, calling `onBatch(batch, batchId)` once
    * per micro-batch, and return when the source is drained.
    * `checkpointDir` holds the query's offset and commit logs: a run
    * from the same directory resumes after the last committed batch. */
  def drain(stream: DataFrame, checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(onBatch)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** An empty frame of `schema`: the state of a fold before any batch. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** [[GraphOps.advance]] with one pass over the rows as its action:
    * `df` checkpointed and materialized now, then `retire` released.
    * @return the checkpoint and its row count */
  def checkpoint(df: DataFrame, retire: DataFrame*): (DataFrame, Long) =
    GraphOps.advance(df, retire: _*)(_.queryExecution.toRdd.count())

  /** `df` [[checkpoint]]ed, or None when it has no rows: a fold step's
    * test that a batch adds nothing and the materialization its next
    * state reads, in one job. An empty checkpoint is released at once. */
  def nonEmpty(df: DataFrame, retire: DataFrame*): Option[DataFrame] = {
    val (ck, n) = checkpoint(df, retire: _*)
    if (n > 0) Some(ck) else { Bridge.releaseCheckpoint(ck); None }
  }

  /** Fold every micro-batch of `stream` into a state of frames and return
    * `result` of the final state.
    *
    * `step(state, batch)` returns the frames of the next state, or None
    * to skip the batch. Each frame is [[checkpoint]]ed in order, unless
    * it is one already (a per-batch checkpoint the step made); once all
    * are materialized, what the new state replaced is released: the old
    * state and every checkpoint the new frames were computed from (a
    * per-batch checkpoint, those an algorithm's result reads) — except
    * `setup`, frames built before the drain that every batch may read.
    * After the drain the final state and `setup` are released too,
    * except what `result` reads.
    *
    * @param init the state before the first batch: empty frames (see
    *             [[empty]]), or Nil */
  def fold(stream: DataFrame, init: Seq[DataFrame], setup: DataFrame*)(
      step: (Seq[DataFrame], DataFrame) => Option[Seq[DataFrame]])(
      result: Seq[DataFrame] => DataFrame): DataFrame = {
    var state = init
    drain(stream, Bridge.scratchDir("graft_fold_ckpt").getPath) { (batch, _) =>
      step(state, batch).foreach { next =>
        val replaced = except(state ++ next.flatMap(Bridge.checkpointsIn), setup ++ next)
        state = next.map(f => if (id(f).isDefined) f else checkpoint(f)._1)
        replaced.foreach(Bridge.releaseCheckpoint)
      }
    }
    val out = result(state)
    except(state ++ setup, Bridge.checkpointsIn(out)).foreach(Bridge.releaseCheckpoint)
    out
  }

  /** The RDD of `df` when it is a checkpoint: a plan that is one
    * persisted RDD. */
  private def id(df: DataFrame): Option[Int] = df.queryExecution.logical match {
    case l: LogicalRDD if l.rdd.getStorageLevel.isValid => Some(l.rdd.id)
    case _ => None
  }

  /** The frames of `frames` that are not one of the checkpoints `keep`. */
  private def except(frames: Seq[DataFrame], keep: Seq[DataFrame]): Seq[DataFrame] = {
    val kept = keep.flatMap(id).toSet
    frames.filterNot(id(_).exists(kept))
  }
}
