package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.Multimodal

/** Streaming cross-document aHash near-dup index (VERDICT r9 #4): the
  * standing corpus' frame fingerprints are banded ONCE at stream start
  * and persisted as the standing side; each micro-batch of newly
  * arriving clips is decoded, hashed, banded, and probed against that
  * index inside the fold's step (the [[FuzzyStreams]] accumulation
  * pattern) — so a day's new videos cost O(batch bands ⋈ matching
  * buckets) regardless of corpus size, the standing corpus is never
  * re-decoded or rescanned after bootstrap, and standing×standing
  * pairs never form.
  *
  * The oracle is mm_ahash_index's one-shot all-pairs truth: the
  * multi-index probe has perfect recall for hamming ≤ maxDist (the
  * per-band radius pigeonhole, [[Multimodal.aHashNearDupProbe]]),
  * each batch clip meets the FULL standing index in its own
  * micro-batch, and the staged doc files are disjoint — so the union
  * of per-batch verified pairs equals the one-shot probe under any
  * cadence (the terminal distinct guards re-delivery).
  */
object AHashStreams {

  // staged batch-side doc ids, one file per micro-batch
  private def stageDocBatches(spark: SparkSession, dir: String,
      nFiles: Int): String =
    MicroBatchStage.staged(spark, "graft_ah_docs", dir, nFiles)(
      MicroBatchStage.sliced(_,
        graft.io.Tables.documents(spark, dir)
          .where(col("doc_id") % 10 === 0)
          .select(col("doc_id")),
        nFiles, col("doc_id")))

  /** Drain the staged new-clip doc ids (doc_id % 10 == 0) one file per
    * trigger against the standing fingerprint index (doc_id % 10 != 0)
    * and return the accumulated per-doc near-dup rollup —
    * mm_ahash_index's result, produced by the streaming fold. */
  def aHashStreamingSink(spark: SparkSession, dir: String,
      maxDist: Int = 8, nFiles: Int = 4): DataFrame = {
    // standing state: decode + hash + band the corpus ONCE; the
    // per-batch probe reads THESE (the distinct-value band index plus
    // the frame->hash table for the fan-back), never the clips again
    val standingDocs = graft.io.Tables.documents(spark, dir)
      .where(col("doc_id") % 10 =!= 0)
    val (standingHashes, _) = MicroBatchStage.checkpoint(Multimodal.videoAHash(
      spark, Multimodal.withAviRgbPayload(spark, standingDocs)).toDF())
    val (index, _) = MicroBatchStage.checkpoint(Multimodal.aHashIndex(standingHashes))

    // accumulated per-doc STATS rows, not pairs (r13): the staged
    // batches partition the batch-doc universe, so every doc's pairs
    // live in exactly one micro-batch and the terminal per-doc stats
    // are the UNION of per-batch stats — accumulating pair rows meant
    // rewriting the (self-similar corpus's ~20M-row) pair set into the
    // checkpoint on every batch; stats rows are ≤ |batch docs| each
    val noStats = MicroBatchStage.empty(spark, StructType.fromDDL("doc_id BIGINT, " +
      "n_near BIGINT NOT NULL, n_exact BIGINT, min_hamming BIGINT, n_src_docs BIGINT NOT NULL"))

    MicroBatchStage.fold(MicroBatchStage.read(spark, stageDocBatches(spark, dir, nFiles)),
        Nil, standingHashes, index) { (state, batch) =>
      // checkpoint the batch hashes (r13): the probe references them
      // on BOTH sides (band probes + the value fan-back join), and
      // each un-truncated reference re-decodes the batch clips
      val (hashes, _) = MicroBatchStage.checkpoint(Multimodal.videoAHash(spark,
        Multimodal.withAviRgbPayload(spark, batch)).toDF())
      // aggregate to per-doc stats INSIDE the batch (one probe run,
      // pairs never materialized), then fold the tiny stats rows; the
      // stats checkpoint releases the hashes
      MicroBatchStage.nonEmpty(Multimodal.aHashNearDupStats(
          Multimodal.aHashNearDupProbe(index, standingHashes, hashes, maxDist)), hashes)
        .map(st => Seq(state.headOption.fold(st)(_.unionByName(st))))
    }(
      // staged doc files are disjoint, so each doc's stats row lands in
      // exactly one batch; a re-delivered batch reproduces IDENTICAL
      // stats rows, which the distinct collapses (the same re-delivery
      // guard the pair-level accumulation had)
      _.headOption.getOrElse(noStats).distinct())
  }
}
