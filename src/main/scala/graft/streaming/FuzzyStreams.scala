package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.FuzzyMatch

/** Streaming fuzzy match — the FastSS family's streaming twin (VERDICT
  * r8 #6): the standing catalog's deletion-key index is built ONCE and
  * persisted as the stream's standing side; each micro-batch of newly
  * arriving names is keyed and joined against it in the fold's step (the
  * [[EventStreams.scd2StreamingSink]] accumulation pattern), so a
  * day's (or a minute's) new names cost O(batch keys ⋈ matching
  * buckets) regardless of catalog size — the standing corpus is never
  * rescanned after bootstrap, and standing×standing pairs never form.
  *
  * The oracle is d_fuzzy_inc's exact all-(batch,standing)-pairs truth:
  * the union of per-micro-batch blocked joins equals the one-shot
  * incremental join because FastSS blocking is lossless per pair and
  * every batch name meets the full standing index in its own batch —
  * cadence cannot change the answer (a name split across two batches
  * just produces the same verified pairs twice; the terminal DISTINCT
  * collapses them).
  */
object FuzzyStreams {

  // staged multi-batch copies of the batch-side names, one per
  // (session, dir, nFiles) — the EventStreams.stageSortedEventFiles
  // pattern on the part table; order is partkey-contiguous (arrival
  // order is irrelevant to the result, see object doc)
  private def stagePartBatches(spark: SparkSession, dir: String,
      nFiles: Int): String =
    MicroBatchStage.staged(spark, "graft_fz_parts", dir, nFiles)(
      MicroBatchStage.sliced(_,
        spark.read.parquet(s"$dir/part.parquet")
          .where(col("p_partkey") % 10 === 0)
          .select(col("p_partkey"), col("p_name")),
        nFiles, col("p_partkey")))

  /** Drain the staged batch-side names (p_partkey % 10 == 0) one file
    * per trigger against the standing catalog (p_partkey % 10 != 0)
    * and return the accumulated exact (new_name, corpus_name, dist)
    * set — d_fuzzy_inc's result, produced by the streaming fold. */
  def fuzzyMatchStreamingSink(spark: SparkSession, dir: String,
      maxDist: Int = 2, nFiles: Int = 4): DataFrame = {
    // standing state: the deletion-key index, built once at stream
    // start and persisted — the per-batch join reads THIS, not the
    // catalog table
    val standing = spark.read.parquet(s"$dir/part.parquet")
      .where(col("p_partkey") % 10 =!= 0)
    val (index, _) = MicroBatchStage.checkpoint(FuzzyMatch
      .deletionKeyIndex(standing, col("p_name"), maxDist, 64, "corpus_name"))
    val noPairs = MicroBatchStage.empty(spark,
      StructType.fromDDL("new_name STRING, corpus_name STRING, dist INT"))

    MicroBatchStage.fold(MicroBatchStage.read(spark, stagePartBatches(spark, dir, nFiles)),
        Nil, index) { (state, batch) =>
      MicroBatchStage.nonEmpty(FuzzyMatch.fuzzyPairsAgainstIndex(
          index, batch, col("p_name"), maxDist))
        .map(pairs => Seq(state.headOption.fold(pairs)(_.unionByName(pairs))))
    }(
      // a name string appearing under several partkeys can span batches;
      // the pair set is identical, the terminal distinct collapses it
      _.headOption.getOrElse(noPairs).distinct())
  }
}
