package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.pipeline.Decontam

/** STREAMING decontamination monitor — the live twin closing the round-9
  * pair (d_decontam_kmv batch refresh ⟷ this): training documents
  * arrive as micro-batches, each batch is reduced to per-source KMV
  * batch synopses (the only scan a batch pays), folded into the
  * accumulated per-source state with the O(k) full-outer merge, and the
  * contamination matrix against the held-out eval set is re-derived
  * from synopses alone — the "is tonight's crawl bleeding eval data
  * into the training mix" alert, at per-micro-batch freshness, with
  * state = sources × k longs regardless of corpus size.
  *
  * The fold is cadence-independent BY ALGEBRA: KMV union is the set
  * function "k smallest distinct hashes", which is associative and
  * commutative, so any batching of the same documents ends at the
  * identical synopsis array — the terminal matrix equals
  * d_decontam_kmv's one-shot answer and shares its oracle verbatim.
  */
object DecontamStreams {

  // staged multi-batch copies of the training docs (source != src0),
  // one per (session, dir, nFiles) — the FuzzyStreams staging pattern
  // on the documents table, doc_id-contiguous slices
  private def stageDocBatches(spark: SparkSession, dir: String,
      nFiles: Int): String =
    MicroBatchStage.staged(spark, "graft_dc_docs", dir, nFiles)(
      MicroBatchStage.sliced(_,
        spark.read.parquet(s"$dir/documents.parquet")
          .where(col("source") =!= "src0"),
        nFiles, col("doc_id")))

  /** Drain the training docs one staged file per trigger, folding each
    * micro-batch's per-source synopses into the accumulated state, and
    * return the terminal contamination matrix — identical to
    * d_decontam_kmv's one-shot result (shared oracle).
    * @return (source, kk, rho, est_union, inter_est) */
  def decontamStreamingSink(spark: SparkSession, dir: String,
      k: Int = 128, nFiles: Int = 4): DataFrame = {
    // the held-out eval synopsis: standing state, one bootstrap scan
    val (evalSk, _) = MicroBatchStage.checkpoint(Decontam.shingleHashes(
        spark.read.parquet(s"$dir/documents.parquet")
          .where(col("source") === "src0"))
      .agg(graft.functions.KmvSketch.kmv(col("h"), k).as("sk_eval")))

    // accumulated per-source synopses — starts EMPTY; every source
    // enters via the full-outer merge on its first appearance
    val noSynopses = MicroBatchStage.empty(spark, StructType(Seq(
      StructField("source", StringType),
      StructField("sk_base", ArrayType(LongType, containsNull = false)))))

    MicroBatchStage.fold(MicroBatchStage.read(spark, stageDocBatches(spark, dir, nFiles)),
        Seq(noSynopses), evalSk) { case (Seq(acc), batch) =>
      val batchSk = Decontam.batchSynopses(batch, "src0", k)
      Option.when(!batchSk.isEmpty)(Seq(Decontam.mergeSynopses(acc, batchSk, k)))
    }(state => Decontam.matrix(state.head, evalSk, k))
  }
}
