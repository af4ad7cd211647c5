package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.Multimodal
import org.apache.spark.sql.graftbridge.Bridge

/** Streaming cross-document aHash near-dup index (VERDICT r9 #4): the
  * standing corpus' frame fingerprints are banded ONCE at stream start
  * and persisted as the standing side; each micro-batch of newly
  * arriving clips is decoded, hashed, banded, and probed against that
  * index inside foreachBatch (the [[FuzzyStreams]] accumulation
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

  // staged batch-side doc ids, one file per micro-batch — keyed by
  // (applicationId, dir, nFiles), NOT the session object (ADVICE r9:
  // a SparkSession key pins the session for the JVM lifetime)
  private val stageCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int), String]

  private def stageDocBatches(spark: SparkSession, dir: String,
      nFiles: Int): String =
    stageCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, nFiles), {
      MicroBatchStage.sliced("graft_ah_docs",
        graft.io.Tables.documents(spark, dir)
          .where(col("doc_id") % 10 === 0)
          .select(col("doc_id")),
        nFiles, col("doc_id"))
    })

  /** Drain the staged new-clip doc ids (doc_id % 10 == 0) one file per
    * trigger against the standing fingerprint index (doc_id % 10 != 0)
    * and return the accumulated per-doc near-dup rollup —
    * mm_ahash_index's result, produced by the streaming fold. */
  def aHashStreamingSink(spark: SparkSession, dir: String,
      maxDist: Int = 8, nFiles: Int = 4): DataFrame = {
    val staged = stageDocBatches(spark, dir, nFiles)
    val ckpt = Bridge.scratchDir("graft_ah_ckpt")

    // standing state: decode + hash + band the corpus ONCE; the
    // per-batch probe reads THESE (the distinct-value band index plus
    // the frame->hash table for the fan-back), never the clips again
    val standingDocs = graft.io.Tables.documents(spark, dir)
      .where(col("doc_id") % 10 =!= 0)
    val standingHashes = Multimodal.videoAHash(spark,
        Multimodal.withAviRgbPayload(spark, standingDocs)).toDF()
      .localCheckpoint()
    val index = Multimodal.aHashIndex(standingHashes)
      .localCheckpoint()

    // accumulated per-doc STATS rows, not pairs (r13): the staged
    // batches partition the batch-doc universe, so every doc's pairs
    // live in exactly one micro-batch and the terminal per-doc stats
    // are the UNION of per-batch stats — accumulating pair rows meant
    // rewriting the (self-similar corpus's ~20M-row) pair set into the
    // checkpoint on every batch; stats rows are ≤ |batch docs| each
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_near",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_exact",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("min_hamming",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_src_docs",
          org.apache.spark.sql.types.LongType, nullable = false))))

    val stream = spark.readStream
      .schema(graft.io.Tables.parquetSchema(spark, staged))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val q = stream.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // checkpoint the batch hashes (r13): the probe references them
        // on BOTH sides (band probes + the value fan-back join), and
        // each un-truncated reference re-decodes the batch clips
        val hashes = Multimodal.videoAHash(spark,
          Multimodal.withAviRgbPayload(spark, batch)).toDF()
          .localCheckpoint()
        // aggregate to per-doc stats INSIDE the batch (one probe run,
        // pairs never materialized), then fold the tiny stats rows
        val pairs = Multimodal.aHashNearDupProbe(
          index, standingHashes, hashes, maxDist)
        val st = Multimodal.aHashNearDupStats(pairs).localCheckpoint()
        if (!st.isEmpty) {
          acc = acc.unionByName(st).localCheckpoint()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // staged doc files are disjoint, so each doc's stats row lands in
    // exactly one batch; a re-delivered batch reproduces IDENTICAL
    // stats rows, which the distinct collapses (the same re-delivery
    // guard the pair-level accumulation had)
    acc.distinct()
  }
}
