package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.pipeline.{Bloom, Dedup, FuzzyMatch, KMeansInt, MergeInto, Multimodal, Sampling, Scd2, Similarity}
import graft.functions.Hashing
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-gate queries for the dedup / similarity-search / multimodal
  * operators (the LLM-data-pipeline suite). All hash arithmetic rides on
  * the portable hash60, so even MinHash signatures, LSH bands, SimHash
  * sketches and R-MAT-style derived constants hash-match a DuckDB oracle.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)
  private val Dim = 64

  val queries: Map[String, Q] = Map(
    "d_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), col("doc_id"), col("text"))),

    // SCD2 incremental merge (re-crawl refresh): docs with id % 7 == 0
    // arrive re-crawled with changed text, ids % 13 == 0 arrive as brand
    // new documents (offset key space); one full-outer join against the
    // open slice closes changed versions at ts=100 and appends the new
    // ones. Output is compact (content hash, validity) for the gate.
    "d_scd2" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val changedUpd = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      val newUpd = docs(s, dir).where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Scd2.merge(d, changedUpd.unionAll(newUpd), "doc_id", Seq("text"), ts = 100L)
        .select(col("doc_id"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"),
          col("valid_from"), col("valid_to"))
    }),

    // Point-in-time view over the merged SCD2 dimension: "the corpus as
    // of t=100" (post-refresh) — the as-of read the history layout buys.
    "d_scd2_asof" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val changedUpd = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      val newUpd = docs(s, dir).where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Scd2.snapshot(
        Scd2.merge(d, changedUpd.unionAll(newUpd), "doc_id", Seq("text"), ts = 100L),
        asOf = 100L)
        .select(col("doc_id"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"))
    }),

    // Two sequential refreshes (ts=100 then ts=200) over the same
    // dimension: closed history from refresh 1 rides through refresh 2
    // untouched (append-only), a doc changed in BOTH refreshes carries
    // three versions, a key that ENTERED at 100 is closed at 200, and an
    // idempotent re-delivery (%11 set, unchanged text) is a no-op.
    "d_scd2_multi" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val upd1 = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
        .unionAll(docs(s, dir).where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val upd2 = docs(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v3")).as("text"))
        .unionAll(docs(s, dir)
          .where(col("doc_id") % 13 === 0 && col("doc_id") % 3 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit(" r2")).as("text")))
        .unionAll(docs(s, dir).where(col("doc_id") % 11 === 0 &&
            col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text")))
      val m1 = Scd2.merge(d0, upd1, "doc_id", Seq("text"), ts = 100L)
      Scd2.merge(m1, upd2, "doc_id", Seq("text"), ts = 200L)
        .select(col("doc_id"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"),
          col("valid_from"), col("valid_to"))
    }),

    // Late-arriving batch through the rewind path: a crawl EFFECTIVE at
    // ts=50 lands after the ts=100 refresh is already merged.
    // Scd2.mergeLate splits the version covering t=50 — for a %9∧%7 doc
    // that is the CLOSED [0,100) version (history rewrite), for a
    // %9∧¬%7 doc the open [0,∞) one — while the ts=100 versions stay
    // untouched. The in-order merge() would refuse this batch outright
    // (out-of-order guard; Scd2Spec pins the raise_error).
    "d_scd2_late" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val upd1 = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
        .unionAll(docs(s, dir).where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val late = docs(s, dir).where(col("doc_id") % 9 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v0")).as("text"))
      val m1 = Scd2.merge(d0, upd1, "doc_id", Seq("text"), ts = 100L)
      Scd2.mergeLate(m1, late, "doc_id", Seq("text"), ts = 50L)
        .select(col("doc_id"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"),
          col("valid_from"), col("valid_to"))
    }),

    // As-of JOIN (not the fixed-time snapshot): every fact row carries
    // its OWN timestamp (probe_ts = doc_id % 250, spanning both refresh
    // boundaries) and is enriched with the dimension version valid right
    // then — per-row point-in-time lookup, the temporal-join shape
    // feature-store reads use. Key-partitioned hash join; the interval
    // predicate selects the one covering version per key.
    "d_scd2_join" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val upd1 = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      val upd2 = docs(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v3")).as("text"))
      val dim = Scd2.merge(
        Scd2.merge(d0, upd1, "doc_id", Seq("text"), ts = 100L),
        upd2, "doc_id", Seq("text"), ts = 200L)
      val facts = docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 250).as("probe_ts"))
      Scd2.asOfJoin(facts, dim, "doc_id", "probe_ts")
        .select(col("doc_id"), col("probe_ts"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"))
    }),

    // Same SCD2 enrichment through the NATIVE AsOfJoinExec operator
    // (backward merge + valid_to inner filter) — shares d_scd2_join's
    // oracle, so both formulations are hash-pinned to the same answer.
    "d_scd2_join_native" -> ((s, dir) => {
      val d0 = docs(s, dir).select(col("doc_id"), col("text"),
        lit(0L).as("valid_from"), lit(Scd2.OpenTs).as("valid_to"))
      val upd1 = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      val upd2 = docs(s, dir).where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v3")).as("text"))
      val dim = Scd2.merge(
        Scd2.merge(d0, upd1, "doc_id", Seq("text"), ts = 100L),
        upd2, "doc_id", Seq("text"), ts = 200L)
      val facts = docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 250).as("probe_ts"))
      Scd2.asOfJoinNative(facts, dim, "doc_id", "probe_ts")
        .select(col("doc_id"), col("probe_ts"),
          graft.functions.Hashing.hash60(col("text")).as("content_hash"))
    }),

    "d_minhash_sig" -> ((s, dir) =>
      Dedup.minHashSignatures(docs(s, dir), col("doc_id"), col("text"))),

    "d_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashCandidates(docs(s, dir), col("doc_id"), col("text"))),

    // Incremental near-dup: docs %4==0 play the nightly batch against
    // the rest as the standing corpus (signatures computed per side —
    // MinHash is per-document, so the split commutes with signing).
    "d_minhash_inc" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minHashCandidatesIncremental(
        Dedup.minHashSignatures(d.where(col("doc_id") % 4 =!= 0),
          col("doc_id"), col("text")),
        Dedup.minHashSignatures(d.where(col("doc_id") % 4 === 0),
          col("doc_id"), col("text")))
    }),

    // Deterministic hash split: 98/1/1 train/val/test, stable under
    // corpus growth, leak-free by construction.
    "d_split" -> ((s, dir) =>
      Sampling.deterministicSplit(docs(s, dir).select("doc_id"),
          col("doc_id"), trainPct = 98, valPct = 1, seed = 77L)
        .select("doc_id", "bucket", "split")),

    // Per-source quota: cap every source at 50 docs with a deterministic
    // hash-ordered sample (uniform within source, stable across runs) —
    // the anti-domination pass of corpus mixing, on the custom
    // TopKPerKey physical operator: bounded per-partition heaps mean
    // ≤50 rows per (source, partition) cross the exchange, never a full
    // per-source sort — the property that matters when one crawl source
    // is 80% of 100 TB.
    "d_source_quota" -> ((s, dir) => {
      val d = docs(s, dir).select(col("source"), col("doc_id"),
        graft.functions.Hashing.hash60(99L, col("doc_id").cast("string")).as("pri"))
      graft.plans.TopKPerKey.topKPerKey(d, Seq(col("source")),
          Seq(col("pri"), col("doc_id")), k = 50)
        .select("source", "doc_id")
    }),

    "d_minhash_scored" -> ((s, dir) =>
      Dedup.minHashScored(docs(s, dir), col("doc_id"), col("text"))),

    // Full near-dup chain: LSH candidates -> estimate -> threshold ->
    // exact verification of survivors only.
    "d_dedup_pipeline" -> ((s, dir) =>
      Dedup.dedupPipeline(docs(s, dir), col("doc_id"), col("text"), estThreshold = 0.2)),

    // End-to-end corpus curation: language gate + quality gates +
    // repetition gate + exact dedup keeper — the standard pretraining
    // filter chain as ONE composed plan (every stage individually
    // gate-verified; composition keeps 371/500 docs at sf0.01). All
    // filter columns are the components' exactly-reproducible values,
    // so the keep set matches the oracle bit-for-bit.
    "d_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      val lang = graft.text.TextAnalysis.langId(d, col("doc_id"), col("text"))
      val q = graft.text.TextAnalysis.quality(d, col("doc_id"), col("text"))
        .select("doc_id", "n_tokens", "stopword_ratio")
      val r = graft.text.TextAnalysis.repetition(d, col("doc_id"), col("text"))
        .select("doc_id", "rep_ratio")
      val keep = Dedup.exact(d, col("doc_id"), col("text"))
        .select(col("keeper_id").as("doc_id"))
      lang.join(q, "doc_id").join(r, "doc_id").join(keep, "doc_id")
        .where(col("lang_pred") === "en" && col("n_tokens") >= 30 &&
          col("stopword_ratio") >= 0.02 && col("rep_ratio") <= 0.05)
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("stopword_ratio"), col("rep_ratio"))
    }),

    // The curation pipeline with the LEARNED scorer as a conjunct
    // (r11): rule filters (language, length, stopword, repetition,
    // exact-dedup keeper) AND the hashed-n-gram classifier's keep —
    // the fastText-style complement wired into the decision, not just
    // scored beside it. Integer score carried through for ranking.
    "d_curate_learned" -> ((s, dir) => {
      val d = docs(s, dir)
      val lang = graft.text.TextAnalysis.langId(d, col("doc_id"), col("text"))
      val q = graft.text.TextAnalysis.quality(d, col("doc_id"), col("text"))
        .select("doc_id", "n_tokens", "stopword_ratio")
      val r = graft.text.TextAnalysis.repetition(d, col("doc_id"), col("text"))
        .select("doc_id", "rep_ratio")
      val c = graft.text.TextAnalysis.classify(d, col("doc_id"), col("text"))
        .select(col("doc_id"), col("score"), col("keep"))
      val keep = Dedup.exact(d, col("doc_id"), col("text"))
        .select(col("keeper_id").as("doc_id"))
      lang.join(q, "doc_id").join(r, "doc_id").join(c, "doc_id")
        .join(keep, "doc_id")
        .where(col("lang_pred") === "en" && col("n_tokens") >= 30 &&
          col("stopword_ratio") >= 0.02 && col("rep_ratio") <= 0.05 &&
          col("keep"))
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("score"))
    }),

    // Dedup cluster assignment: CC over the LSH candidate graph, keeper
    // = min doc_id per cluster — the production "which docs to drop".
    "d_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(s, docs(s, dir), col("doc_id"), col("text"))),

    // Keep-BEST-quality member per near-dup cluster (not min-id): the
    // curation policy that keeps the cleanest copy of each family.
    "d_dedup_keep_best" -> ((s, dir) =>
      Dedup.dedupKeepBest(s, docs(s, dir), col("doc_id"), col("text"))),

    // REAL audio decode: deterministic 16-bit PCM WAVs are synthesized
    // per doc (genuine RIFF containers via javax.sound), then parsed
    // back by AudioSystem on the distributed mapPartitions path; every
    // decoded stat is a closed-form function of doc_id, so DuckDB
    // verifies a binary round-trip it cannot itself parse.
    "mm_audio" -> ((s, dir) =>
      Multimodal.audioFeatures(s,
        Multimodal.withWavPayload(s, docs(s, dir))).toDF()),

    // Video CONTAINER metadata, real on both sides: a valid AVI/RIFF
    // file is synthesized per doc (closed-form params) and parsed back
    // by walking the actual chunk tree — header fields AND an
    // independent '00db' frame count that must agree. Frame DECODE
    // (codec) remains the declared environment-forced stub boundary;
    // the container layer is what a corpus metadata pipeline reads.
    "mm_video" -> ((s, dir) =>
      Multimodal.videoFeatures(s,
        Multimodal.withAviPayload(s, docs(s, dir))).toDF()),

    // REAL video frame decode (uncompressed BI_RGB DIB inside AVI):
    // genuine pixel arrays decoded byte-by-byte — BGR order, 4-byte row
    // stride, bottom-up rows (top_row_r catches a decoder that ignores
    // the orientation). Retires the codec-decode stub for the one video
    // codec expressible without external libs; compressed codecs still
    // reject loudly. Pixel law is row-constant so the oracle states
    // every channel sum in closed form over (frame, row).
    "mm_video_decode" -> ((s, dir) =>
      Multimodal.videoDecodeFeatures(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir))).toDF()),

    // REAL image decode (JDK PNG codec, `spark.graft.media.decoder=
    // imageio` ACTIVE in this query): deterministic zlib-compressed
    // PNGs synthesized per doc, decompressed back through javax.imageio,
    // raster folded to per-channel pixel sums — the closed-form row law
    // lets DuckDB state every sum without parsing a byte of PNG. This
    // retires the image-path decode stub from the gate (the stub
    // remains only for codecs the JDK lacks, e.g. compressed video).
    "mm_png_decode" -> ((s, dir) => {
      val m = Bridge.cloneSession(s, "spark.graft.media.decoder" -> "imageio")
      Multimodal.pngDecodeFeatures(m,
        Multimodal.withPngPayload(m, docs(m, dir))).toDF()
    }),

    // REAL JPEG decode, exact half (round 13 — Missing #5): genuine
    // JFIF bytes from the JDK's lossy writer, decompressed back through
    // javax.imageio. The gate states what survives a LOSSY codec
    // exactly — width/height/channels/pixel count in closed form over
    // doc_id — while the pixel sums are spec-bound within an envelope
    // (MultimodalSpec): an exact pixel oracle for a lossy codec would
    // be a lie. The decode stub boundary is now compressed audio/video
    // codecs ONLY.
    "mm_jpeg_meta" -> ((s, dir) => {
      val m = Bridge.cloneSession(s, "spark.graft.media.decoder" -> "imageio")
      Multimodal.jpegMetaFeatures(m,
        Multimodal.withJpegPayload(m, docs(m, dir))).toDF()
    }),

    // Nearest-neighbor resize of every decoded frame to a fixed 16x8
    // grid (floor-mapped source indices; covers up- AND down-sampling
    // since src w spans 8-23 / h spans 4-11). wsum_r is the
    // row-position-weighted checksum a flipped row map can't fake.
    "mm_resize" -> ((s, dir) =>
      Multimodal.videoResizeFeatures(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir)), 16, 8).toDF()),

    // Average-hash (aHash) fingerprint per decoded frame: 8x8
    // floor-mapped resample, luminance per cell, one bit per cell via
    // the pure-integer brighter-than-mean test (64*s > total) — the
    // embedding-free image near-dup primitive, bit-exact from real
    // pixel bytes.
    "mm_ahash" -> ((s, dir) =>
      Multimodal.videoAHash(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir))).toDF()),

    // Image near-dup via aHash: Hamming distance (bit_count of xor)
    // between CONSECUTIVE frames of each clip — the scene-cut /
    // duplicate-frame detector; per-doc pair count, max distance, and
    // how many pairs fall under the near threshold.
    "mm_ahash_dup" -> ((s, dir) => {
      val h = Multimodal.videoAHash(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir))).toDF()
      val nxt = h.select(col("doc_id"),
        (col("frame_idx") - 1L).as("frame_idx"),
        col("ahash_lo").as("lo2"), col("ahash_hi").as("hi2"))
      h.join(nxt, Seq("doc_id", "frame_idx"))
        .withColumn("hamming",
          expr("bit_count(ahash_lo ^ lo2) + bit_count(ahash_hi ^ hi2)")
            .cast("long"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_pairs"),
          max("hamming").as("max_hamming"),
          sum(when(col("hamming") <= 16L, 1L).otherwise(0L)).as("n_near"))
    }),

    // Cross-document aHash near-dup index (one-shot anchor for
    // st_ahash): new clips (doc_id % 10 == 0) probe the standing
    // corpus' banded fingerprint index — pigeonhole bands (maxDist+1 =
    // 9 over the 64 hash bits) give perfect recall at hamming ≤ 8, the
    // xor-popcount verifies, and the rollup is one row per new doc.
    // Never all-pairs; the oracle replays the exact all-pairs truth
    // closed-form (banding is lossless, so they agree). The DEFAULT
    // entry point is the crossover-adaptive pick (r11): at gate scale
    // it selects broadcast-brute, and the query also runs the
    // multi-index path explicitly and REQUIRES the two rollups to be
    // identical — both regimes' plans gate-covered, equality proven
    // in-query, the returned frame produced by the default path.
    "mm_ahash_index" -> ((s, dir) => {
      val h = Multimodal.videoAHash(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir))).toDF()
      val standing = h.where(col("doc_id") % 10 =!= 0).localCheckpoint()
      val batch = h.where(col("doc_id") % 10 === 0).localCheckpoint()
      val index = Multimodal.aHashIndex(standing)
      // eager checkpoints (r13): the two-sided except audit below plus
      // the returned frame re-ran each un-truncated plan (auto 3×,
      // probe 2× — the mask-expanded index join each time); materialize
      // each ONCE and audit/return the blocks
      val auto = Multimodal.aHashNearDupStats(
        Multimodal.aHashNearDupAuto(index, standing, batch, 8))
        .localCheckpoint()
      val mih = Multimodal.aHashNearDupStats(
        Multimodal.aHashNearDupProbe(index, standing, batch, 8))
        .localCheckpoint()
      require(auto.except(mih).isEmpty && mih.except(auto).isEmpty,
        "adaptive pick diverged from the multi-index probe")
      auto
    }),

    // Uniform 2-frame sampling: only frames {0, floor(nf/2)} pay the
    // pixel scan; headers alone count the rest.
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.videoFrameSample(s,
        Multimodal.withAviRgbPayload(s, docs(s, dir)), 2).toDF()),

    // Seeded epoch shuffle + round-robin sharding: reproducible training
    // data order per epoch, ±1-balanced shards, distributed rank (no
    // single-partition window).
    "d_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(s, docs(s, dir), col("doc_id"),
        seed = 7L, nShards = 8)),

    "d_simhash" -> ((s, dir) =>
      Dedup.simHash(docs(s, dir), col("doc_id"), col("text"))),

    // Hamming-near pairs via bit-flip probe expansion (scale path);
    // oracle is the plain all-pairs xor-popcount filter.
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashNearPairs(docs(s, dir), col("doc_id"), col("text"), maxDist = 2)),

    // Exact n-gram Jaccard over the MinHash/LSH candidate pairs — the
    // post-LSH verification stage keyed the way production runs it: the
    // expensive exact check only ever touches same-bucket candidates.
    "d_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashCandidates(d, col("doc_id"), col("text"))
      Dedup.ngramJaccard(d, col("doc_id"), col("text"), pairs)
    }),

    // Containment dedup — the excerpt/prefix duplicate class LSH-on-
    // Jaccard misses: rare-shingle blocking (each doc's 5 rarest grams,
    // df <= 10 bounds every block) + exact containment/Jaccard verify
    // over candidates only.
    "d_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), col("doc_id"), col("text"),
        n = 3, r = 5, maxDf = 10)),

    // MERGE INTO (snapshot upsert): one batch carries updates (% 7,
    // re-crawled text), deletes (% 11 — takedowns; delete clause wins
    // over update per SQL clause order), and inserts (% 13, shifted key
    // space); the result is the refreshed snapshot in one full-outer
    // join. The history-keeping variant is d_scd2.
    "d_merge" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val batch = docs(s, dir)
        .where(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0 ||
          col("doc_id") % 13 === 0)
        .select(
          when(col("doc_id") % 11 === 0 || col("doc_id") % 7 === 0,
            col("doc_id")).otherwise(col("doc_id") + 10000000L).as("doc_id"),
          when(col("doc_id") % 11 === 0, lit("d"))
            .when(col("doc_id") % 7 === 0, lit("u"))
            .otherwise(lit("i")).as("op"),
          concat(col("text"), lit(" v2")).as("text"))
      MergeInto.mergeInto(d, batch, "doc_id",
        matchedDeleteWhen = Some(col("s_op") === "d"),
        matchedUpdate = Seq("text" -> col("s_text")),
        notMatchedInsert = Seq("doc_id" -> col("s_doc_id"),
          "text" -> col("s_text")))
        .select(col("doc_id"), Hashing.hash60(col("text")).as("content_hash"))
    }),

    "s_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(queries, e, k = 3)
    }),

    // Hard-negative mining (contrastive-training data prep): per query,
    // the 5 most-similar DIFFERENT-label vectors, the best same-label
    // similarity, and the semi-hard flag.
    "s_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(queries, e, k = 5)
    }),

    "s_ann_lsh" -> ((s, dir) => Similarity.lshBuckets(emb(s, dir), Dim)),

    // Johnson-Lindenstrauss sign-matrix projection 64 -> 16 dims: the
    // deterministic dimensionality-reduction front-end; scale 1/√16 is
    // exactly representable, so the oracle literal is exact too.
    "s_rproj" -> ((s, dir) => Similarity.randomProject(emb(s, dir), Dim, 16)),

    // Symmetric per-vector int8 quantization (4x ANN bandwidth lever);
    // the oracle pins every code through exact integer code-statistics.
    "s_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir), col("vec_id"), col("embedding"))),

    // Multi-table OR-amplified LSH top-k — the ANN scale path: per-
    // bucket candidate joins across 4 independent 8-plane tables, one
    // cosine per deduped pair, windowed top-3.
    "s_ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), Dim, k = 3)),

    // IVF ANN top-k — the second scale path: seeded deterministic coarse
    // quantizer (nlist centroids), per-list assignment, nprobe-list
    // probing, exact cosine inside probed lists only.
    "s_ann_ivf" -> ((s, dir) => Similarity.ivfTopK(emb(s, dir), k = 3)),

    // Recall@3 for the LSH path — the probabilistic family's quality
    // number beside the IVF one (s_ann_recall): multi-table OR-
    // amplification trades recall for candidate volume, and this row
    // is the measurement of that trade.
    "s_ann_recall_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(queries, e, k = 3)
        .select("qid", "vec_id")
      val approx = Similarity.lshTopK(e, Dim, k = 3)
        .where(col("qid") < 10).select("qid", "vec_id")
      val hits = approx.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      queries.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") /
            lit(3L).cast("double")).as("recall"))
    }),

    // Recall@3 for the PQ path — completes the eval trio (IVF, LSH,
    // PQ). PQ approximates L2 distances, so the exact reference is the
    // brute-force L2 top-3, not cosine.
    "s_ann_recall_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopKL2(queries, e, k = 3)
        .select("qid", "vec_id")
      val approx = Similarity.pqTopK(e, Dim, k = 3)
        .where(col("qid") < 10).select("qid", "vec_id")
      val hits = approx.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      queries.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") /
            lit(3L).cast("double")).as("recall"))
    }),

    // ANN quality EVALUATION — recall@3 of the IVF index against the
    // exact brute-force top-3 per query (the number an index owner
    // reports before trusting nprobe at scale): n_hits = |ivf ∩ exact|,
    // recall = n_hits/3 (one small-integer IEEE division, bit-stable).
    // Composes the two existing gate surfaces, so the oracle replays
    // both and intersects.
    "s_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(queries, e, k = 3)
        .select("qid", "vec_id")
      val approx = Similarity.ivfTopK(e, k = 3)
        .where(col("qid") < 10).select("qid", "vec_id")
      val hits = approx.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      queries.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") /
            lit(3L).cast("double")).as("recall"))
    }),

    // PQ ANN top-k — the compressed-domain path: seeded per-subspace
    // codebooks (8 subspaces × 16 codewords), byte codes per vector,
    // asymmetric-distance top-3 from broadcast lookup tables.
    "s_ann_pq" -> ((s, dir) => Similarity.pqTopK(emb(s, dir), Dim, k = 3)),

    // IVF-PQ composed (the FAISS "IVFx,PQy" production shape): IVF
    // prunes the search to nprobe lists, PQ codes each vector's
    // RESIDUAL against its list centroid — the residual coding is what
    // makes one shared 16-codeword book usable across all lists.
    "s_ann_ivfpq" -> ((s, dir) => Similarity.ivfPqTopK(emb(s, dir), Dim, k = 3)),

    // Integer-exact Lloyd k-means on the int8 code grid — the gated
    // clustering (float k-means can't be: partial-sum order moves the
    // means). 8 clusters, 3 rounds, every cost an exact BIGINT.
    "s_kmeans" -> ((s, dir) => KMeansInt.run(emb(s, dir), k = 8, iters = 3)),

    // Embedding-cosine near-dup pairs, LSH-bucket-restricted (the scale
    // path: same-bucket candidates only, never all-pairs).
    "d_embdup" -> ((s, dir) => {
      val e = emb(s, dir)
      val withB = e.join(Similarity.lshBuckets(e, Dim), "vec_id")
      val l = withB.select(col("bucket"), col("vec_id").as("a"), col("embedding").as("ea"))
      val r = withB.select(col("bucket"), col("vec_id").as("b"), col("embedding").as("eb"))
      l.join(r, "bucket")
        .where(col("a") < col("b"))
        .select(col("a"), col("b"),
          round(Similarity.cosine(col("ea"), col("eb")), 6).as("sim"))
        .where(col("sim") >= 0.2)
    }),

    // Incremental exact dedup: src0 docs are the accumulated corpus; the
    // other sources are the incoming batch — drop digests already seen,
    // keep one doc per new digest.
    "d_exact_inc" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.exactIncremental(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        col("doc_id"), col("text"))
    }),

    // Bloom-filter probe of the incoming batch against the accumulated
    // corpus digests: 1024-bit packed filter (sized to exercise false
    // positives at gate scale), k=3. maybe_seen=false is definitive.
    "d_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val newH = d.where(col("source") =!= "src0")
        .select(col("doc_id"), Hashing.hash60(col("text")).as("content_hash"))
      val oldH = d.where(col("source") === "src0")
        .select(Hashing.hash60(col("text")).as("content_hash")).distinct()
      val filt = Bloom.build(oldH, col("content_hash"), mBits = 1024, k = 3, seed = 19L)
      Bloom.mayContain(filt, newH, col("doc_id"), col("content_hash"),
          mBits = 1024, k = 3, seed = 19L)
        .withColumnRenamed("cand_id", "doc_id")
    }),

    // Incremental exact dedup THROUGH the Bloom prefilter — must be
    // row-for-row identical to d_exact_inc (no false negatives; the
    // anti-join removes the false positives), so it shares that oracle.
    "d_exact_inc_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Bloom.exactIncrementalBloom(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        col("doc_id"), col("text"), mBits = 1024, k = 3, seed = 19L)
    }),

    // Benchmark decontamination: docs from source src0 act as the held-
    // out eval set; training docs (every other source) sharing any word
    // 8-gram with it are flagged with their distinct-overlap count.
    "d_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        col("doc_id"), col("text"), n = 8)
    }),

    // Cross-source trigram overlap matrix: distinct-shingle Jaccard and
    // containment per source pair — the corpus-composition diagnostic.
    "d_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), col("source"), col("text"), n = 3)),

    // Segment-level dedup (C4 span removal / CCNet line-dedup shape):
    // 3-token segments, global first-occurrence keep, documents
    // reassembled from survivors. At sf0.01: 9216 segments -> 7460
    // kept, 411 of 500 docs lose at least one segment.
    "d_paradedup" -> ((s, dir) =>
      Dedup.segmentDedup(docs(s, dir), col("doc_id"), col("text"), width = 3)),

    // Substring-span dedup report (ExactSubstr shape): per-doc count of
    // width-8 token windows whose fingerprint occurs more than once
    // corpus-wide (cross-doc or repeated within one doc), plus the
    // token positions those windows cover.
    "d_substr" -> ((s, dir) =>
      Dedup.substrSpanStats(docs(s, dir), col("doc_id"), col("text"), k = 8)),

    // Token-budget mixture sampling (domain reweighting): hit a 2000-
    // token budget at 40/40/20 shares across three sources; every other
    // source's share defaults to 0 and drops out.
    "d_mix" -> ((s, dir) =>
      graft.pipeline.Sampling.tokenBudgetMixture(docs(s, dir),
        col("doc_id"), col("text"), col("source"),
        shares = Map("src1" -> 0.4, "src2" -> 0.4, "src3" -> 0.2),
        totalBudget = 2000L, seed = 7L)),

    "mm_features" -> ((s, dir) => Multimodal.featuresSql(docs(s, dir))),

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // 50 docs drawn with probability proportional to length — the
    // deterministic distributed reservoir (per-partition heaps, no sort).
    "d_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        docs(s, dir).select("doc_id", "n_chars"),
        key = col("doc_id"), weight = col("n_chars"), k = 50, seed = 11L)),

    // Per-source weighted sampling quota: top-10 E-S priorities within
    // each source through the TopKPerKey operator.
    "d_weighted_sample_key" -> ((s, dir) =>
      Sampling.weightedSamplePerKey(
        docs(s, dir).select("doc_id", "source", "n_chars"),
        stratum = col("source"), key = col("doc_id"),
        weight = col("n_chars"), k = 10, seed = 11L)
        .select("doc_id", "source", "n_chars")),

    // DSIR importance weights: score every doc by hashed-bigram log
    // likelihood ratio toward the English subset (the "target"
    // distribution) vs the whole corpus.
    "d_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.dsirLogWeights(d, d.where(col("lang") === "en"),
        col("doc_id"), col("text"))
    }),

    // End-to-end DSIR selection: importance weights -> exp -> weighted
    // sampling without replacement (the paper's importance RESAMPLING
    // step) — 100 docs drawn with probability proportional to the
    // importance ratio toward the English target.
    "d_dsir_resample" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = Sampling.dsirLogWeights(d, d.where(col("lang") === "en"),
        col("doc_id"), col("text"))
      Sampling.weightedSample(
        w.select(col("doc_id"), exp(col("logw")).as("w")),
        key = col("doc_id"), weight = col("w"), k = 100, seed = 23L)
        .select("doc_id")
    }),

    // Semantic dedup (SemDeDup shape): IVF-cluster the embeddings, prune
    // vectors with a lower-id cluster-mate above the cosine threshold —
    // clustering doubles as candidate blocking, so pairwise cosine never
    // crosses cluster boundaries.
    "d_semdedup" -> ((s, dir) =>
      Similarity.semDedupPrune(emb(s, dir), tau = 0.2)),

    // SemDeDup blocked by the gated integer k-means clusters instead of
    // the seeded IVF quantizer — the trained-quantizer variant whose
    // blocking is itself determinism-proved.
    "d_semdedup_km" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.semDedupPruneBy(e, KMeansInt.run(e, k = 8, iters = 3),
        tau = 0.2)
    }),

    // Content-defined chunking dedup: hash-boundary chunks (trailing
    // 4-gram hash ≡ 0 mod 16 → ~16-token chunks) whose boundaries
    // re-synchronize after an insertion — the substring-level near-dup
    // detector fixed-grid segmentDedup can't be (d_substr's grid shifts
    // wholesale after one inserted token; CDC chunks realign).
    "d_cdc" -> ((s, dir) =>
      Dedup.cdcChunkStats(docs(s, dir), col("doc_id"), col("text"))),

    // Data-quality expectations (Deequ/dbt-test shape): per-column
    // profile in ONE scan of lineitem (count/nulls/exact-distinct/
    // min/max per column as conditional aggregates of the same pass).
    "dq_profile" -> ((s, dir) =>
      graft.pipeline.DataQuality.profile(
        Tables.lineitem(s, dir), Seq("l_orderkey", "l_quantity", "l_returnflag"))),

    // Referential integrity lineitem.l_orderkey -> orders.o_orderkey:
    // one left-anti join; verdict row is hash-gated (n_orphans = 0 on
    // the clean testdata, and the check would catch it if not).
    "dq_refint" -> ((s, dir) =>
      graft.pipeline.DataQuality.refIntegrity(
        Tables.lineitem(s, dir), col("l_orderkey"),
        Tables.orders(s, dir), col("o_orderkey"))),

    // Accepted-values domain check on event_type: the 'error' type is
    // deliberately outside the allowed set, so the report exercises the
    // enum-drift path (in_domain = false) on real data.
    "dq_domain" -> ((s, dir) =>
      graft.pipeline.DataQuality.acceptedValues(
        Tables.events(s, dir), col("event_type"),
        Seq("view", "click", "purchase", "signup"))),

    // Distribution drift between snapshot halves (events split on the
    // median event_id): per-category chi-square contributions with
    // Laplace-smoothed expectations — the log-free monitoring statistic
    // that hash-verifies exactly.
    "dq_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      // the _v2 suffix exists only on the CURRENT (odd) side, so the
      // report exercises the new-category Laplace path (n_base = 0)
      graft.pipeline.DataQuality.categoricalDrift(
        e.where(col("event_id") % 2 === 0),
        e.where(col("event_id") % 2 =!= 0),
        concat(col("event_type"),
          when(col("event_id") % 7 === 0 && col("event_id") % 2 === 1,
            "_v2").otherwise("")))
    }),

    // Tukey-fence (1.5·IQR) outlier report per event type — the
    // distribution-free numeric screen of the DQ pass.
    "dq_outliers" -> ((s, dir) =>
      graft.pipeline.DataQuality.iqrOutliers(
        Tables.events(s, dir), col("event_type"), col("value"))),

    // EXACT Tukey-fence outlier report on integer cents — the
    // count-fold twin of dq_outliers (and st_outliers' one-shot
    // anchor): type-7 quantile interpolation as order statistics over
    // the cumulative cents ladder, dyadic r/4 remainders, so the
    // quartiles and fences are exact doubles and the gate hashes raw —
    // the tolerance dq_outliers needs (round 6 on quantile_cont) is
    // structurally gone here.
    "dq_outliers_c" -> ((s, dir) =>
      graft.pipeline.DataQuality.iqrOutliersCents(
        Tables.events(s, dir), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long"))),

    // EXACT two-sample Kolmogorov–Smirnov per event type (baseline =
    // even event_ids, current = odd): the CDF-shape drift statistic —
    // all-integer arithmetic to one terminal exact division, so the
    // gate hashes it bit-for-bit (no round, no tolerance).
    "dq_ks" -> ((s, dir) =>
      graft.pipeline.DataQuality.ksTest(
        Tables.events(s, dir), col("event_type"), col("value"),
        col("event_id") % 2 =!= 0)),

    // EXACT Mann-Whitney U / AUC per event type (same even/odd split as
    // dq_ks): the rank-based LOCATION shift test beside KS's shape test.
    // Midranks carried at 2x scale stay exact longs; one terminal
    // integer division -> bit-identical hash, no tolerance.
    "dq_mwu" -> ((s, dir) =>
      graft.pipeline.DataQuality.mwuTest(
        Tables.events(s, dir), col("event_type"), col("value"),
        col("event_id") % 2 =!= 0)),

    // EXACT total-variation distance per event type (same even/odd
    // split): the per-point mass-movement drift measure beside KS's
    // CDF test — tvd_num = Σ|b·n_cur − c·n_base| in exact longs, one
    // terminal division, no window at all (cheapest of the family).
    "dq_tvd" -> ((s, dir) =>
      graft.pipeline.DataQuality.tvdTest(
        Tables.events(s, dir), col("event_type"), col("value"),
        col("event_id") % 2 =!= 0)),

    // EXACT per-decile quantile-shift table (same even/odd split on
    // exact cents): type-1 deciles as pure-integer order statistics
    // (10·cum ≥ q·n), zero doubles anywhere — names WHERE the
    // distribution moved, beside dq_ks's single statistic.
    "dq_qq" -> ((s, dir) =>
      graft.pipeline.DataQuality.quantileShift(
        Tables.events(s, dir), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long"),
        col("event_id") % 2 =!= 0)),

    // EXACT CUSUM changepoint report per event type: deviations
    // mean-centered at n× scale (exact longs), the max(0, S+dev)
    // recursion closed-form as cum − min(0, running-min cum), the
    // peak row named — WHERE the value level shifted, not just that
    // two windows differ.
    "dq_cusum" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.pipeline.DataQuality.cusumReport(
        e.withColumn("ts_us", Tables.eventMicros(e)),
        col("event_type"), col("ts_us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long"))
    }),

    // CUSUM against a FIXED target (5000 cents): the variant whose
    // deviations need no totals pass, and therefore the one that
    // STREAMS with O(1) state (st_cusum shares this oracle).
    "dq_cusum_t" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.pipeline.DataQuality.cusumTargetReport(
        e.withColumn("ts_us", Tables.eventMicros(e)),
        col("event_type"), col("ts_us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long"), target = 5000L)
    }),

    // Key-skew report per event type over user_id — the pre-shuffle
    // hot-key diagnostic (Gini / HHI / top-share of per-key counts),
    // every ratio one terminal division of exact longs.
    "dq_skew" -> ((s, dir) =>
      graft.pipeline.DataQuality.skewReport(
        Tables.events(s, dir), col("event_type"), col("user_id"))),

    // Incremental materialized aggregate with RETRACTIONS: standing
    // per-key (n, total_cents) rollup + a refresh batch mixing inserts
    // (event_id%10==0) and deletes (retract standing rows with
    // event_id%7==0); the refresh reads ONLY the batch — the standing
    // corpus is never rescanned. Oracle = from-scratch recompute over
    // the surviving row set; exact integers end to end.
    "d_mv_inc" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_id"),
        concat_ws("|", col("event_type"), col("user_id")).as("key"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val standing = graft.pipeline.IncrementalAgg.bootstrap(
        e.where(col("event_id") % 10 =!= 0), col("key"), col("cents"))
        .localCheckpoint() // maintained state, not a live view
      val batch = e.where(col("event_id") % 10 === 0)
        .withColumn("del", lit(false))
        .unionByName(
          e.where(col("event_id") % 10 =!= 0 && col("event_id") % 7 === 0)
            .withColumn("del", lit(true)))
      graft.pipeline.IncrementalAgg.refresh(standing,
        graft.pipeline.IncrementalAgg.delta(
          batch, col("key"), col("cents"), col("del")))
    }),

    // Benford first-digit screen per event type on exact cents — the
    // fabricated-numbers detector: observed first-significant-digit
    // counts vs the log law, as chi-square contributions. The digit
    // comes from the BIGINT's decimal rendering (engine-identical);
    // the nine Benford rates are shared 17-digit literals, so the
    // doubles hash-gate bit-for-bit.
    "dq_benford" -> ((s, dir) =>
      graft.pipeline.DataQuality.benford(
        Tables.events(s, dir), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long"))),

    // EXACT tie-aware Spearman between value and event time per type —
    // the monotone-trend screen (third drift axis: KS shape, MWU
    // location, Spearman trend). 2x-scaled midranks keep every
    // accumulator an exact long; the closing sqrt/divide are IEEE
    // correctly-rounded on shared op order -> raw-double hash gate.
    // Contingency / association screen between event type and a
    // user-hash bucket: per-cell chi-square contributions vs the
    // independence expectation n_a*n_b/n — the dq_drift construction
    // (exact-long operands, shared op order -> raw doubles hash-gate;
    // the order-nondeterministic SUM is left to cramersV in specs).
    "dq_contingency" -> ((s, dir) =>
      graft.pipeline.DataQuality.contingency(
        Tables.events(s, dir), col("event_type"),
        concat(lit("u"), (col("user_id") % 4).cast("string")))),

    // EXACT median/MAD (Hampel X84) outlier screen per event type on
    // exact cents: the robust companion to dq_outliers — the whole
    // ladder is longs (2x median, 4x MAD, integer Hampel comparison),
    // terminal median/mad are exact halves/quarters -> hash-gated raw.
    "dq_mad" -> ((s, dir) =>
      graft.pipeline.DataQuality.madOutliers(
        Tables.events(s, dir), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long"))),

    "dq_spearman" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.pipeline.DataQuality.spearmanTrend(ev, col("event_type"),
        col("value"), graft.io.Tables.eventMicros(ev))
    }),

    // Native backward as-of join (the custom AsOfJoinExec operator):
    // every event left-joined to the latest signup version at or before
    // it. One streaming merge over key-sorted sides — no fact×version
    // pair blow-up, unlike the composed d_scd2_join shape.
    "d_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val usC = Tables.eventMicros(ev)
      val facts = ev.select(col("user_id"), col("event_id"), usC.as("ts_us"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("d_user"), usC.as("ts_us"), col("value"))
        .groupBy("d_user", "ts_us").agg(max("value").as("asof_value"))
        .select(col("d_user"), col("ts_us").as("valid_from_us"),
          col("asof_value"))
      graft.plans.AsOfJoin.asOfJoin(facts, dim,
          Seq(col("user_id")), Seq(col("d_user")),
          col("ts_us"), col("valid_from_us"))
        .select("user_id", "event_id", "ts_us", "asof_value")
    }),

    // Broadcast as-of (BroadcastAsOfJoinExec): identical semantics to
    // d_asof_native but the dim broadcasts and the fact side keeps its
    // partitioning — zero exchanges, zero sorts on the big side. Shares
    // d_asof_native's oracle: the physical strategy must not change one
    // row.
    "d_asof_bcast" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val usC = Tables.eventMicros(ev)
      val facts = ev.select(col("user_id"), col("event_id"), usC.as("ts_us"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("d_user"), usC.as("ts_us"), col("value"))
        .groupBy("d_user", "ts_us").agg(max("value").as("asof_value"))
        .select(col("d_user"), col("ts_us").as("valid_from_us"),
          col("asof_value"))
      graft.plans.AsOfJoin.asOfJoin(facts, dim,
          Seq(col("user_id")), Seq(col("d_user")),
          col("ts_us"), col("valid_from_us"), broadcast = true)
        .select("user_id", "event_id", "ts_us", "asof_value")
    }),

    // FORWARD as-of (merge_asof direction parity): each event joined to
    // the EARLIEST signup version at-or-after it — the "next scheduled
    // change" lookup; same operator, opposite candidate pointer.
    "d_asof_fwd" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val usC = Tables.eventMicros(ev)
      val facts = ev.select(col("user_id"), col("event_id"), usC.as("ts_us"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("d_user"), usC.as("ts_us"), col("value"))
        .groupBy("d_user", "ts_us").agg(max("value").as("asof_value"))
        .select(col("d_user"), col("ts_us").as("valid_from_us"),
          col("asof_value"))
      graft.plans.AsOfJoin.asOfJoin(facts, dim,
          Seq(col("user_id")), Seq(col("d_user")),
          col("ts_us"), col("valid_from_us"), direction = "forward")
        .select("user_id", "event_id", "ts_us", "asof_value")
    }),

    // NEAREST as-of with a tolerance bound — the remaining direction ×
    // tolerance combination the d_asof family leaves to spec-only
    // randomized coverage: each event joins the signup version closest
    // in time within ±1 hour (tie → backward), NULL when none
    // qualifies. Runs on the broadcast exec (dim is user-sized).
    "d_asof_near" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val usC = Tables.eventMicros(ev)
      val facts = ev.select(col("user_id"), col("event_id"), usC.as("ts_us"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("d_user"), usC.as("ts_us"), col("value"))
        .groupBy("d_user", "ts_us").agg(max("value").as("asof_value"))
        .select(col("d_user"), col("ts_us").as("vt_us"), col("asof_value"))
      graft.plans.AsOfJoin.asOfJoin(facts, dim,
          Seq(col("user_id")), Seq(col("d_user")),
          col("ts_us"), col("vt_us"),
          toleranceUs = Some(3600L * 1000000L), direction = "nearest",
          broadcast = true)
        .select("user_id", "event_id", "ts_us", "asof_value")
    }),

    // Hybrid retrieval: BM25 keyword list + embedding-cosine ANN list
    // (query = vector 0) fused by reciprocal-rank fusion — the standard
    // RAG retrieval combiner. Both lists pre-cut to top-50 via
    // TakeOrderedAndProject; fusion joins two ≤50-row frames.
    "s_hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val bm = Similarity.topRanked(
        graft.text.TextAnalysis.bm25(d, col("doc_id"), col("text"), HybridTerms),
        col("bm25"), col("doc_id"), n = 50)
      val qv = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val sims = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(Similarity.cosine(col("qvec"), col("embedding")), 6).as("sim"))
      val ann = Similarity.topRanked(sims, col("sim"), col("doc_id"), n = 50)
      Similarity.rrfFuse(Seq(bm, ann), k = 60, topN = 20)
        .withColumnRenamed("rank_0", "rank_bm25")
        .withColumnRenamed("rank_1", "rank_ann")
    }),

    // Small-file compaction end-to-end (graft.io.Compaction): the docs
    // table is deliberately fragmented into 64 parquet files — the
    // accretion shape every micro-batch sink produces — compacted toward
    // a 1 GiB target (size math → exactly one file at every test SF),
    // and the gate aggregate reads the COMPACTED layout back. The oracle
    // never sees the on-disk detour, so a row lost or duplicated by the
    // rewrite / temp-dir swap breaks the hash; files_after gates that
    // the size-aware count was actually applied, and the xor fold (no
    // overflow, order-free) pins content identity, not just counts.
    "d_compact" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_compact")
      val p = s"$root/docs"
      docs(s, dir).repartition(64).write.mode("overwrite").parquet(p)
      val rep = graft.io.Compaction.compactParquet(s, p, targetFileBytes = 1L << 30)
      s.read.parquet(p)
        .select((col("doc_id") % 10).as("bucket"),
          Hashing.hash60(col("text")).as("h"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("xh"))
        .withColumn("files_after", lit(rep.filesAfter))
    }),

    // KMV-synopsis corpus overlap (graft.functions.KmvSketch; Beyer et
    // al., SIGMOD 2007): the SKETCHED twin of d_overlap's exact n-gram
    // anti-join — two corpora (even/odd source index) reduce to one
    // k=256-minimum-values synopsis each in a single aggregation pass,
    // and union DV, Jaccard, and intersection size are then estimated
    // from 2×2 KB of synopsis with plain codegen'd array functions. At
    // 100 TB this answers "how contaminated is source X by eval set Y"
    // from per-source synopses maintained incrementally, instead of
    // re-shuffling every n-gram of both corpora the way the exact join
    // must. The gate is EXACT, not an envelope: k smallest distinct
    // hashes is a pure set function, so DuckDB replays the synopses and
    // every estimate bit-for-bit; exact_* columns double-check the
    // estimator against truth in the same row.
    "d_overlap_sketch" -> ((s, dir) => {
      val k = 256
      import graft.functions.KmvSketch
      val sh = graft.text.TextAnalysis.explodedShingleHashes(
          docs(s, dir), col("source"), col("text"), 3)
        .select((substring(col("doc_id"), 4, 8).cast("int") % 2).as("corpus"),
          col("h"))
      sh.agg(
          KmvSketch.kmv(when(col("corpus") === 0, col("h")), k).as("sk_a"),
          KmvSketch.kmv(when(col("corpus") === 1, col("h")), k).as("sk_b"),
          countDistinct(when(col("corpus") === 0, col("h"))).as("exact_a"),
          countDistinct(when(col("corpus") === 1, col("h"))).as("exact_b"),
          countDistinct(col("h")).as("exact_union"))
        .withColumn("uni", KmvSketch.unionOf(col("sk_a"), col("sk_b"), k))
        .select(
          col("exact_a"), col("exact_b"), col("exact_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_inter"),
          KmvSketch.estimate(col("sk_a"), k).as("est_a"),
          KmvSketch.estimate(col("sk_b"), k).as("est_b"),
          KmvSketch.estimate(col("uni"), k).as("est_union"),
          size(col("uni")).cast("long").as("kk"),
          size(array_intersect(array_intersect(col("uni"), col("sk_a")),
            col("sk_b"))).cast("long").as("rho_num"))
        .withColumn("jaccard_est",
          floor(col("rho_num").cast("double") / col("kk") * lit(1e4) + lit(0.5))
            / lit(1e4))
        .withColumn("inter_est",
          floor(col("rho_num").cast("double") / col("kk") * col("est_union")
            * lit(1e4) + lit(0.5)) / lit(1e4))
    }),

    // The full PAIRWISE overlap matrix from one KMV synopsis per source
    // (d_overlap's sketched twin): 20 sources → 190 pairs estimated
    // from 20 synopses built in one aggregation pass; the exact join
    // d_overlap runs re-shuffles every n-gram per refresh instead.
    // Same exact-replica oracle discipline as d_overlap_sketch.
    "d_overlap_matrix" -> ((s, dir) =>
      Dedup.sourceOverlapSketch(docs(s, dir), col("source"), col("text"),
        n = 3, k = 128)),

    // A-NOT-B (difference) estimation completes the KMV set algebra
    // (union d_overlap_sketch, intersection/Jaccard ibid., incremental
    // d_kmv_inc): |A \ B| ≈ (|K ∩ A \ B| / |K|) · DV(K) over the union
    // synopsis K — the "how much of source A is NOT already in B"
    // question a dedup-planning pass asks before paying for the exact
    // anti-join. Exact truth columns ride in the same row; the whole
    // estimator replays bit-for-bit in DuckDB.
    "d_kmv_diff" -> ((s, dir) => {
      val k = 256
      import graft.functions.KmvSketch
      val sh = graft.text.TextAnalysis.explodedShingleHashes(
          docs(s, dir), col("source"), col("text"), 3)
        .select((substring(col("doc_id"), 4, 8).cast("int") % 2).as("corpus"),
          col("h"))
      sh.agg(
          KmvSketch.kmv(when(col("corpus") === 0, col("h")), k).as("sk_a"),
          KmvSketch.kmv(when(col("corpus") === 1, col("h")), k).as("sk_b"),
          countDistinct(when(col("corpus") === 0, col("h"))).as("exact_a"),
          countDistinct(when(col("corpus") === 1, col("h"))).as("exact_b"),
          countDistinct(col("h")).as("exact_union"))
        .withColumn("uni", KmvSketch.unionOf(col("sk_a"), col("sk_b"), k))
        .withColumn("est_union", KmvSketch.estimate(col("uni"), k))
        .withColumn("kk", size(col("uni")).cast("long"))
        .withColumn("rho_a_only", size(array_except(
          array_intersect(col("uni"), col("sk_a")), col("sk_b"))).cast("long"))
        .select(col("exact_a"),
          (col("exact_union") - col("exact_b")).as("exact_diff"),
          col("kk"), col("rho_a_only"),
          (floor(col("rho_a_only").cast("double") / col("kk") * col("est_union")
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("diff_est"))
    }),

    // INCREMENTAL synopsis maintenance — the property that makes KMV a
    // standing corpus statistic at 100 TB: when a refresh batch arrives
    // (doc_id % 10 == 0 here), only the BATCH is aggregated and the
    // stored synopsis absorbs it with one O(k) array merge; the gate
    // proves the maintained synopsis is the IDENTICAL ARRAY a full
    // recompute over base+batch produces (same_synopsis — a pure
    // set-function guarantee, not an approximation), so estimates
    // never drift across refresh cadences. exact_n pins ground truth.
    "d_kmv_inc" -> ((s, dir) => {
      val k = 256
      import graft.functions.KmvSketch
      val all = graft.text.TextAnalysis.explodedShingleHashes(
          docs(s, dir), col("doc_id"), col("text"), 3)
        .select(col("doc_id").as("id"), col("h"))
      val skBase = all.where(col("id") % 10 =!= 0)
        .agg(KmvSketch.kmv(col("h"), k).as("sk_base"))
      val skBatch = all.where(col("id") % 10 === 0)
        .agg(KmvSketch.kmv(col("h"), k).as("sk_batch"))
      val skFull = all.agg(KmvSketch.kmv(col("h"), k).as("sk_full"),
        countDistinct("h").as("exact_n"))
      skBase.crossJoin(broadcast(skBatch)).crossJoin(broadcast(skFull))
        .withColumn("sk_inc",
          KmvSketch.unionOf(col("sk_base"), col("sk_batch"), k))
        .select(col("exact_n"),
          KmvSketch.estimate(col("sk_inc"), k).as("est_inc"),
          KmvSketch.estimate(col("sk_full"), k).as("est_full"),
          (col("sk_inc") === col("sk_full")).cast("int").as("same_synopsis"))
    }),

    // INCREMENTAL decontamination — the standing-synopsis consumer the
    // KMV sketches were built for: one synopsis of word-8-gram hashes
    // per training source is MAINTAINED (the refresh batch, doc_id % 10
    // == 0, absorbed with an O(k) array merge — provably identical to a
    // full recompute, asserted per source by same_synopsis), and
    // contamination against the held-out eval set (src0, as in
    // d_decontaminate) is re-estimated from the synopses alone — no
    // re-shuffle of the training corpus per refresh, which is the whole
    // point at 100 TB. Exact truth columns (the anti-join the sketch
    // replaces) ride in the same row; the estimator replays bit-for-bit
    // in DuckDB.
    "d_decontam_inc" -> ((s, dir) => {
      val k = 128
      import graft.functions.KmvSketch
      // ONE tokenize+hash scan feeds synopses, truth counts, and the
      // inter join. Tokens are materialized into a column BEFORE the
      // shingle transform — inlining tokens(text) inside the
      // higher-order shingle expression re-evaluates the tokenizer per
      // array element (r8, sf0.1: the inlined scan took 14.8 s for 236k
      // shingles vs ~1 s for this one; the three KMV sketches over the
      // checkpointed distinct set take 0.46 s).
      // distinct() first: KMV is a set function, so the collapsed frame
      // is equivalent — and it is exactly the standing per-source
      // distinct-fingerprint table a 100 TB deployment maintains.
      val sh = docs(s, dir).select(col("source"),
          (col("doc_id") % 10 === 0).as("isb"),
          graft.text.TextAnalysis.tokens(col("text")).as("toks"))
        // fused native shingle hashing (r13, ShingleHashesExpr) — same
        // values as hash60 over the composed shingle strings, one loop
        .select(col("source"), col("isb"),
          explode(graft.functions.ShingleHashesExpr.shingleHashes(
            col("toks"), 8)).as("h"))
        .distinct()
        .localCheckpoint()
      val evalH = sh.where(col("source") === "src0").select("h").distinct()
      val train = sh.where(col("source") =!= "src0")
      val trainH = train.select("source", "h").distinct()
      // keep the imperative KMV aggregates distinct-free: mixing them
      // with countDistinct in one groupBy forces the sort-based
      // aggregation path (measured ~10x slower); the exact counts come
      // from the already-distinct (source, h) frame instead
      val perSrc = train.groupBy("source").agg(
        KmvSketch.kmv(when(!col("isb"), col("h")), k).as("sk_base"),
        KmvSketch.kmv(when(col("isb"), col("h")), k).as("sk_batch"),
        KmvSketch.kmv(col("h"), k).as("sk_full"))
      val exactSrc = trainH.groupBy("source")
        .agg(count(lit(1)).as("exact_src"))
      val evalSk = evalH.agg(KmvSketch.kmv(col("h"), k).as("sk_eval"))
      val exactInter = trainH.join(broadcast(evalH), "h")
        .groupBy("source").agg(count(lit(1)).as("exact_inter"))
      perSrc.crossJoin(broadcast(evalSk))
        .join(exactSrc, Seq("source"))
        .join(exactInter, Seq("source"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .withColumn("sk_inc",
          KmvSketch.unionOf(col("sk_base"), col("sk_batch"), k))
        .withColumn("uni", KmvSketch.unionOf(col("sk_inc"), col("sk_eval"), k))
        .withColumn("kk", size(col("uni")).cast("long"))
        .withColumn("rho", size(array_intersect(
          array_intersect(col("uni"), col("sk_inc")), col("sk_eval")))
          .cast("long"))
        .withColumn("est_union", KmvSketch.estimate(col("uni"), k))
        .select(col("source"), col("exact_src"), col("exact_inter"),
          col("kk"), col("rho"), col("est_union"),
          (col("sk_inc") === col("sk_full")).cast("int").as("same_synopsis"),
          (floor(col("rho").cast("double") / col("kk") * col("est_union")
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("inter_est"))
    }),

    // STEADY-STATE incremental decontamination (graft.pipeline.Decontam):
    // standing per-source KMV synopses + the eval synopsis are the
    // MAINTAINED state (bootstrapped once, localCheckpoint = the stored
    // synopsis table); the refresh aggregates ONLY the batch docs
    // (doc_id % 10 == 0 — the filter reaches the parquet scan), folds
    // them in with the O(k) merge, and recomputes the matrix from
    // synopses alone. d_decontam_inc proves the merge lossless and pins
    // exact truth; THIS entry is the refresh path those proofs license —
    // zero standing-corpus reads per refresh (bench extra times it).
    // The oracle replays the synopsis set-function over base+batch,
    // which the lossless merge provably equals.
    "d_decontam_kmv" -> ((s, dir) => {
      val d = docs(s, dir)
      val (standingSk, evalSk) = graft.pipeline.Decontam.standingState(
        d.where(col("doc_id") % 10 =!= 0 || col("source") === "src0"),
        "src0", k = 128)
      graft.pipeline.Decontam.refresh(standingSk, evalSk,
        d.where(col("doc_id") % 10 === 0 && col("source") =!= "src0"),
        "src0", k = 128)
    }),

    // Lossless τ-Jaccard set-similarity self-join (AllPairs/PPJoin
    // prefix filter): every doc pair with 3-gram-set Jaccard ≥ 0.5,
    // GUARANTEED complete (vs the probabilistic LSH candidates) while
    // bucketing only on each doc's rarest grams — never all-pairs.
    "d_setsim" -> ((s, dir) =>
      Dedup.setSimilarityJoin(docs(s, dir), col("doc_id"), col("text"),
        tau = 0.5)),

    // Incremental set-similarity: tonight's docs (doc_id % 10 == 0) vs
    // the standing corpus under the STANDING-df prefix order (the index
    // that appends per refresh instead of reindexing); batch×batch and
    // corpus×corpus pairs never form.
    "d_setsim_inc" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.setSimilarityJoinIncremental(
        d.where(col("doc_id") % 10 =!= 0),
        d.where(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), tau = 0.5)
    }),

    // Edit-distance fuzzy matching over catalog names — FastSS deletion-
    // neighborhood blocking (lossless for ed<=maxDist, unlike LSH) +
    // codegen'd levenshtein verify; output equals the exact all-pairs
    // answer without ever forming all pairs.
    "d_fuzzy" -> ((s, dir) =>
      FuzzyMatch.fuzzyPairs(Tables.part(s, dir), col("p_name"))),

    // Fuzzy pairs ranked by the native Jaro-Winkler expression
    // (functions/JaroWinklerExpr.scala) — semantics pinned to DuckDB's
    // jaro_winkler_similarity, verified to 6 decimals.
    "d_fuzzy_jw" -> ((s, dir) =>
      FuzzyMatch.fuzzyScored(Tables.part(s, dir), col("p_name"))),

    // The SAME fuzzy join written as PLAIN SQL — a levenshtein(a,b) <= 2
    // join predicate Spark would nested-loop — executed under the
    // FuzzyJoinRewrite optimizer rule (opt-in conf on a session copy):
    // the plan becomes the FastSS blocked join, the answer must stay the
    // all-pairs truth. FuzzyJoinRewriteSpec pins the plan shape; this
    // gate pins the values through DuckDB.
    "d_fuzzy_sql" -> ((s, dir) => {
      val s2 = Bridge.cloneSession(s, graft.plans.FuzzyJoinRewrite.ConfKey -> "true")
      Tables.part(s2, dir).createOrReplaceTempView("fz_part")
      s2.sql(
        """SELECT a.n AS name_a, b.n AS name_b, levenshtein(a.n, b.n) AS dist
          |FROM (SELECT DISTINCT p_name AS n FROM fz_part) a
          |JOIN (SELECT DISTINCT p_name AS n FROM fz_part) b
          |  ON a.n < b.n AND levenshtein(a.n, b.n) <= 2""".stripMargin)
    }),

    // Incremental fuzzy match: tonight's new part names (partkey % 10
    // == 0) against the standing catalog — batch keys join the standing
    // key index only; standing×standing pairs are never re-formed.
    "d_fuzzy_inc" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      FuzzyMatch.fuzzyPairsIncremental(
        p.where(col("p_partkey") % 10 =!= 0),
        p.where(col("p_partkey") % 10 === 0), col("p_name"))
    }),

    // Entity resolution: connected components over the fuzzy-pair graph
    // (hash60 vertex ids, same large-star/small-star CC as g_cc),
    // canonical = min-hash member; singletons map to themselves.
    "d_fuzzy_entities" -> ((s, dir) =>
      FuzzyMatch.fuzzyEntities(s, Tables.part(s, dir), col("p_name"))),

    // Entity resolution APPLIED: lineitem revenue rolled up by the
    // canonical part entity (spelling variants collapse into one line) —
    // the canon map is tiny vs the fact table, so it broadcasts and the
    // rollup is one fact-side aggregate; the fact table shuffles only
    // its own group-by, exactly the 100 TB shape.
    "d_fuzzy_rollup" -> ((s, dir) => {
      val canon = FuzzyMatch.fuzzyEntities(
        s, Tables.part(s, dir), col("p_name"))
      val facts = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_name")),
          col("l_partkey") === col("p_partkey"))
      facts.join(broadcast(canon), col("p_name") === col("name"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    }),

    // Near-dup-cluster-aware split: split assignment hashes the CLUSTER
    // representative (LSH-candidate CC keeper), not the doc id, so
    // near-duplicate documents can never straddle train/test — the eval-
    // hygiene property a per-doc hash split (d_split) cannot give.
    "d_split_leakfree" -> ((s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.dedupClusters(s, d, col("doc_id"), col("text"))
      val withRep = d.select("doc_id").join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keeper_id"), col("doc_id")).as("rep_id"))
      Sampling.deterministicSplit(withRep, col("rep_id"),
          trainPct = 98, valPct = 1, seed = 77L)
        .select("doc_id", "rep_id", "split")
    })
  )

  /** Fixed keyword query for the hybrid-retrieval gate (the BM25 side
    * reuses t_bm25's corpus statistics shape with these terms). */
  private val HybridTerms = Seq("hash", "join", "spark")

  private def H(e: String) = Hashing.hash60Sql(e)
  private def Hs(seed: Long, e: String) = Hashing.hash60Sql(seed, e)

  /** Shared DSIR CTE chain (hashed-bigram LLR toward the English subset,
    * mirroring Sampling.dsirLogWeights): terminal CTE `sc` yields
    * (doc_id, n_bigrams, logw) for docs with at least one bigram. */
  private lazy val DsirCtes: String = {
    val B = 1 << 14
    val gram2 = "concat_ws(' ', toks[i+1], toks[i+2])"
    s"""t AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |f AS (SELECT doc_id, ${H(gram2)} % $B AS b
       |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
       |  WHERE i <= len(toks) - 2),
       |dfx AS (SELECT doc_id, b, count(*) AS k FROM f GROUP BY 1, 2),
       |cr AS (SELECT b, sum(k) AS cr FROM dfx GROUP BY 1),
       |tg AS (SELECT b, count(*) AS ct
       |  FROM f JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT sum(cr) FROM cr) AS r_tot,
       |               (SELECT sum(ct) FROM tg) AS t_tot),
       |lr AS (SELECT cr.b,
       |  ln((CAST(coalesce(tg.ct, 0) AS DOUBLE) + 1.0e0)
       |     / (CAST(t_tot AS DOUBLE) + ${B}.0e0))
       |  - ln((CAST(cr.cr AS DOUBLE) + 1.0e0)
       |     / (CAST(r_tot AS DOUBLE) + ${B}.0e0)) AS lr
       |  FROM cr LEFT JOIN tg ON tg.b = cr.b CROSS JOIN tot),
       |sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       |  round(sum(CAST(k AS DOUBLE) * lr), 6) AS logw
       |  FROM dfx JOIN lr USING (b) GROUP BY 1)""".stripMargin
  }

  /** round-6 cosine of two FLOAT[] columns — matches the Spark side's
    * rounded native expression bit-for-bit (sequential fold order). */
  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
       | (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
       |  sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 6)""".stripMargin

  /** Shared CTE: word-3-gram shingle base hashes (mod p) per doc. The
    * shingle-index range is derived from the longest document, so no
    * document ever silently loses shingles. */
  private[queries] val ShinglesCte =
    s"""t AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |  (${H("concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])")} % ${Dedup.MinHashP}) AS x
      |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
      |  WHERE i <= len(toks) - 3)""".stripMargin

  private[queries] val SigSelect = (0 until Dedup.NumHashes)
    .map { h =>
      val (a, b) = Dedup.minHashCoeffs(h)
      s"min(($a * x + $b) % ${Dedup.MinHashP}) AS mh$h"
    }.mkString(",\n  ")

  private[queries] val BandsCte = {
    val bands = (0 until Dedup.numBands).map { b =>
      val cols = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
        .map(h => s"mh$h").mkString(", ")
      s"SELECT doc_id, $b AS band, ${H(s"concat_ws(',', $cols)")} AS band_hash FROM sigs"
    }.mkString(" UNION ALL ")
    s"bands AS ($bands)"
  }

  /** Shared CTE for the fuzzy-match oracles: distinct in-scope part
    * names (same maxLen=64 guard as [[FuzzyMatch.fuzzyPairs]]). */
  private val FuzzyNamesCte =
    """names AS (SELECT DISTINCT p_name AS n FROM part
      | WHERE p_name IS NOT NULL AND length(p_name) <= 64)""".stripMargin

  /** Exact all-pairs Levenshtein-≤2 over `names` — the ground truth the
    * FastSS-blocked engine path must equal (blocking is lossless). The
    * length-difference prefilter is implied by ed≤2, it only speeds the
    * oracle up. */
  private val FuzzyPairsSelect =
    """SELECT a.n AS name_a, b.n AS name_b, levenshtein(a.n, b.n) AS dist
      |FROM names a JOIN names b ON a.n < b.n
      |WHERE abs(length(a.n) - length(b.n)) <= 2
      |  AND levenshtein(a.n, b.n) <= 2""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // Exact all-pairs truth for the prefix-filter join: same tokenizer,
    // same distinct 3-gram hash sets, no blocking — the engine's
    // prefix-filtered output must equal it (lossless filter).
    "d_setsim" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |shs AS (SELECT DISTINCT doc_id,
         |  ${H("concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])")} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ninter
         |          FROM shs x JOIN shs y ON x.h = y.h AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2)
         |SELECT i.a, i.b, sa.nsh AS na, sb.nsh AS nb, i.ninter,
         |  CAST(i.ninter AS DOUBLE) / (sa.nsh + sb.nsh - i.ninter)
         |    AS jaccard
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.a
         |JOIN sizes sb ON sb.doc_id = i.b
         |WHERE CAST(i.ninter AS DOUBLE) / (sa.nsh + sb.nsh - i.ninter)
         |  >= 0.5""".stripMargin,

    "d_fuzzy" ->
      s"""WITH $FuzzyNamesCte
         |$FuzzyPairsSelect""".stripMargin,

    // exact cross-set truth: all (batch, standing) pairs with gram-set
    // Jaccard >= tau — the incremental engine path must equal it
    "d_setsim_inc" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |shs AS (SELECT DISTINCT doc_id,
         |  ${H("concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])")} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shs GROUP BY doc_id),
         |inter AS (SELECT b.doc_id AS new_id, s.doc_id AS corpus_id,
         |  count(*) AS ninter
         |  FROM shs b JOIN shs s ON b.h = s.h
         |  WHERE b.doc_id % 10 = 0 AND s.doc_id % 10 <> 0
         |  GROUP BY 1, 2)
         |SELECT i.new_id, i.corpus_id, sb.nsh AS n_new, ss.nsh AS n_corpus,
         |  i.ninter,
         |  CAST(i.ninter AS DOUBLE) / (sb.nsh + ss.nsh - i.ninter)
         |    AS jaccard
         |FROM inter i JOIN sizes sb ON sb.doc_id = i.new_id
         |JOIN sizes ss ON ss.doc_id = i.corpus_id
         |WHERE CAST(i.ninter AS DOUBLE) / (sb.nsh + ss.nsh - i.ninter)
         |  >= 0.5""".stripMargin,

    "d_fuzzy_jw" ->
      s"""WITH $FuzzyNamesCte
         |SELECT name_a, name_b, dist,
         |  jaro_winkler_similarity(name_a, name_b) AS jw
         |FROM ($FuzzyPairsSelect)""".stripMargin,

    "d_fuzzy_sql" ->
      """WITH names AS (SELECT DISTINCT p_name AS n FROM part)
        |SELECT a.n AS name_a, b.n AS name_b, levenshtein(a.n, b.n) AS dist
        |FROM names a JOIN names b
        |  ON a.n < b.n AND levenshtein(a.n, b.n) <= 2""".stripMargin,

    "d_fuzzy_inc" ->
      s"""WITH bn AS (SELECT DISTINCT p_name AS n FROM part
         |  WHERE p_partkey % 10 = 0 AND p_name IS NOT NULL
         |    AND length(p_name) <= 64),
         |cn AS (SELECT DISTINCT p_name AS n FROM part
         |  WHERE p_partkey % 10 <> 0 AND p_name IS NOT NULL
         |    AND length(p_name) <= 64)
         |SELECT b.n AS new_name, c.n AS corpus_name,
         |  levenshtein(b.n, c.n) AS dist
         |FROM bn b JOIN cn c
         |  ON abs(length(b.n) - length(c.n)) <= 2
         | AND levenshtein(b.n, c.n) <= 2""".stripMargin,

    "d_fuzzy_entities" ->
      s"""WITH RECURSIVE $FuzzyNamesCte,
         |ids AS (SELECT n, ${H("n")} AS vid FROM names),
         |fpairs AS (SELECT a.vid AS va, b.vid AS vb
         |  FROM ids a JOIN ids b ON a.n < b.n
         |  WHERE abs(length(a.n) - length(b.n)) <= 2
         |    AND levenshtein(a.n, b.n) <= 2),
         |und AS (SELECT va AS vi, vb AS vj FROM fpairs
         |        UNION ALL SELECT vb AS vi, va AS vj FROM fpairs),
         |verts AS (SELECT DISTINCT vi AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
         |cl AS (SELECT v, min(r) AS root FROM reach GROUP BY v)
         |SELECT i.n AS name, coalesce(c2.n, i.n) AS canon
         |FROM ids i LEFT JOIN cl ON cl.v = i.vid
         |LEFT JOIN ids c2 ON c2.vid = cl.root""".stripMargin,

    "d_fuzzy_rollup" ->
      s"""WITH RECURSIVE $FuzzyNamesCte,
         |ids AS (SELECT n, ${H("n")} AS vid FROM names),
         |fpairs AS (SELECT a.vid AS va, b.vid AS vb
         |  FROM ids a JOIN ids b ON a.n < b.n
         |  WHERE abs(length(a.n) - length(b.n)) <= 2
         |    AND levenshtein(a.n, b.n) <= 2),
         |und AS (SELECT va AS vi, vb AS vj FROM fpairs
         |        UNION ALL SELECT vb AS vi, va AS vj FROM fpairs),
         |verts AS (SELECT DISTINCT vi AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
         |cl AS (SELECT v, min(r) AS root FROM reach GROUP BY v),
         |canon AS (SELECT i.n AS name, coalesce(c2.n, i.n) AS canon
         |  FROM ids i LEFT JOIN cl ON cl.v = i.vid
         |  LEFT JOIN ids c2 ON c2.vid = cl.root)
         |SELECT c.canon, count(*) AS n_lines,
         |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey
         |JOIN canon c ON p.p_name = c.name
         |GROUP BY c.canon""".stripMargin,

    "d_split_leakfree" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte,
         |pairs AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y
         |   ON x.band = y.band AND x.band_hash = y.band_hash
         | WHERE x.doc_id < y.doc_id),
         |und AS (SELECT a AS vi, b AS vj FROM pairs
         |        UNION ALL SELECT b AS vi, a AS vj FROM pairs),
         |verts AS (SELECT DISTINCT vi AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
         |cl AS (SELECT v AS doc_id, min(r) AS keeper_id FROM reach GROUP BY v),
         |rep AS (SELECT d.doc_id,
         |  coalesce(cl.keeper_id, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, rep_id,
         |  CASE WHEN ${Hs(77L, "CAST(rep_id AS VARCHAR)")} % 100 < 98 THEN 'train'
         |       WHEN ${Hs(77L, "CAST(rep_id AS VARCHAR)")} % 100 < 99 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rep""".stripMargin,

    "d_exact" ->
      s"""SELECT ${H("text")} AS content_hash, count(*) AS cnt,
         | min(doc_id) AS keeper_id
         |FROM documents GROUP BY 1""".stripMargin,

    "d_scd2_asof" ->
      s"""WITH changed AS (SELECT doc_id, text || ' v2' AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |brandnew AS (SELECT doc_id + 10000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |upd AS (SELECT * FROM changed UNION ALL SELECT * FROM brandnew),
         |cur AS (
         |  SELECT d.doc_id, coalesce(u.text, d.text) AS text
         |  FROM documents d LEFT JOIN upd u USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, text FROM brandnew)
         |SELECT doc_id, ${H("text")} AS content_hash FROM cur""".stripMargin,

    "d_scd2" ->
      s"""WITH changed AS (SELECT doc_id, text || ' v2' AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |brandnew AS (SELECT doc_id + 10000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |upd AS (SELECT * FROM changed UNION ALL SELECT * FROM brandnew),
         |untouched AS (SELECT d.doc_id, d.text,
         |    CAST(0 AS BIGINT) AS valid_from,
         |    CAST(${Scd2.OpenTs} AS BIGINT) AS valid_to
         |  FROM documents d LEFT JOIN upd u USING (doc_id)
         |  WHERE u.doc_id IS NULL),
         |nowclosed AS (SELECT d.doc_id, d.text,
         |    CAST(0 AS BIGINT) AS valid_from, CAST(100 AS BIGINT) AS valid_to
         |  FROM documents d JOIN upd u USING (doc_id)),
         |newver AS (SELECT u.doc_id, u.text,
         |    CAST(100 AS BIGINT) AS valid_from,
         |    CAST(${Scd2.OpenTs} AS BIGINT) AS valid_to
         |  FROM upd u)
         |SELECT doc_id, ${H("text")} AS content_hash, valid_from, valid_to
         |FROM (SELECT * FROM untouched UNION ALL SELECT * FROM nowclosed
         |      UNION ALL SELECT * FROM newver)""".stripMargin,

    // Direct enumeration of the version set after both refreshes — each
    // UNION branch is one version class (original / v2 / v3 / entered-at-
    // 100 / r2), with valid_to picked by which later refresh, if any,
    // closes it. The %11 idempotent re-delivery contributes no branch:
    // an unchanged payload is a no-op by construction.
    "d_scd2_multi" ->
      s"""WITH v AS (
         |  SELECT doc_id, text, CAST(0 AS BIGINT) AS vf,
         |    CAST(CASE WHEN doc_id % 7 = 0 THEN 100
         |              WHEN doc_id % 5 = 0 THEN 200
         |              ELSE ${Scd2.OpenTs} END AS BIGINT) AS vt
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, text || ' v2', CAST(100 AS BIGINT),
         |    CAST(CASE WHEN doc_id % 5 = 0 THEN 200
         |              ELSE ${Scd2.OpenTs} END AS BIGINT)
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id, text || ' v3', CAST(200 AS BIGINT),
         |    CAST(${Scd2.OpenTs} AS BIGINT)
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text, CAST(100 AS BIGINT),
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN 200
         |              ELSE ${Scd2.OpenTs} END AS BIGINT)
         |  FROM documents WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text || ' r2', CAST(200 AS BIGINT),
         |    CAST(${Scd2.OpenTs} AS BIGINT)
         |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 3 = 0)
         |SELECT doc_id, ${H("text")} AS content_hash,
         |  vf AS valid_from, vt AS valid_to FROM v""".stripMargin,

    // The version valid at probe_ts, computed directly: v3 wins from 200
    // for %5 docs, v2 from 100 for %7 docs, else the original text.
    "d_scd2_join" ->
      s"""SELECT doc_id, doc_id % 250 AS probe_ts,
         |  ${H("""CASE WHEN doc_id % 5 = 0 AND doc_id % 250 >= 200
                 |       THEN text || ' v3'
                 |       WHEN doc_id % 7 = 0 AND doc_id % 250 >= 100
                 |       THEN text || ' v2'
                 |       ELSE text END""".stripMargin)} AS content_hash
         |FROM documents""".stripMargin,

    // Version classes after merge(ts=100) + mergeLate(ts=50): the late
    // batch truncates the version covering t=50 (the original [0,·) one)
    // at 50 and inserts the ' v0' backfill up to whatever already closed
    // it; the ts=100 refresh versions are untouched.
    "d_scd2_late" ->
      s"""WITH v AS (
         |  SELECT doc_id, text, CAST(0 AS BIGINT) AS vf,
         |    CAST(CASE WHEN doc_id % 9 = 0 THEN 50
         |              WHEN doc_id % 7 = 0 THEN 100
         |              ELSE ${Scd2.OpenTs} END AS BIGINT) AS vt
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, text || ' v0', CAST(50 AS BIGINT),
         |    CAST(CASE WHEN doc_id % 7 = 0 THEN 100
         |              ELSE ${Scd2.OpenTs} END AS BIGINT)
         |  FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id, text || ' v2', CAST(100 AS BIGINT),
         |    CAST(${Scd2.OpenTs} AS BIGINT)
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text, CAST(100 AS BIGINT),
         |    CAST(${Scd2.OpenTs} AS BIGINT)
         |  FROM documents WHERE doc_id % 13 = 0)
         |SELECT doc_id, ${H("text")} AS content_hash,
         |  vf AS valid_from, vt AS valid_to FROM v""".stripMargin,

    // Composition of the t_langid / t_quality / t_repetition / d_exact
    // oracles (each a verified replica of its stage) under the same
    // thresholds as the Spark chain.
    "d_curate" ->
      s"""WITH l AS (${TextQueries.oracles("t_langid")}),
         |q AS (${TextQueries.oracles("t_quality")}),
         |r AS (${TextQueries.oracles("t_repetition")}),
         |x AS (SELECT ${H("text")} AS content_hash, min(doc_id) AS keeper_id
         |      FROM documents GROUP BY 1)
         |SELECT doc_id, l.lang_pred, q.n_tokens, q.stopword_ratio, r.rep_ratio
         |FROM l JOIN q USING (doc_id) JOIN r USING (doc_id)
         |JOIN (SELECT keeper_id AS doc_id FROM x) k USING (doc_id)
         |WHERE l.lang_pred = 'en' AND q.n_tokens >= 30
         |  AND q.stopword_ratio >= 0.02 AND r.rep_ratio <= 0.05""".stripMargin,

    // d_curate's CTE chain plus the classifier's keep as a conjunct
    "d_curate_learned" ->
      s"""WITH l AS (${TextQueries.oracles("t_langid")}),
         |q AS (${TextQueries.oracles("t_quality")}),
         |r AS (${TextQueries.oracles("t_repetition")}),
         |c AS (${TextQueries.oracles("t_classify")}),
         |x AS (SELECT ${H("text")} AS content_hash, min(doc_id) AS keeper_id
         |      FROM documents GROUP BY 1)
         |SELECT doc_id, l.lang_pred, q.n_tokens, c.score
         |FROM l JOIN q USING (doc_id) JOIN r USING (doc_id)
         |JOIN c USING (doc_id)
         |JOIN (SELECT keeper_id AS doc_id FROM x) k USING (doc_id)
         |WHERE l.lang_pred = 'en' AND q.n_tokens >= 30
         |  AND q.stopword_ratio >= 0.02 AND r.rep_ratio <= 0.05
         |  AND c.keep""".stripMargin,

    "d_exact_inc" ->
      s"""WITH oldh AS (SELECT DISTINCT ${H("text")} AS content_hash
         |  FROM documents WHERE source = 'src0'),
         |newh AS (SELECT doc_id, ${H("text")} AS content_hash
         |  FROM documents WHERE source <> 'src0')
         |SELECT min(doc_id) AS doc_id, content_hash FROM newh
         |WHERE NOT EXISTS (SELECT 1 FROM oldh
         |  WHERE oldh.content_hash = newh.content_hash)
         |GROUP BY content_hash""".stripMargin,

    // Bloom-prefiltered incremental dedup is exactly incremental dedup
    // (no false negatives; anti-join removes false positives) — same
    // oracle by construction.
    "d_exact_inc_bloom" ->
      s"""WITH oldh AS (SELECT DISTINCT ${H("text")} AS content_hash
         |  FROM documents WHERE source = 'src0'),
         |newh AS (SELECT doc_id, ${H("text")} AS content_hash
         |  FROM documents WHERE source <> 'src0')
         |SELECT min(doc_id) AS doc_id, content_hash FROM newh
         |WHERE NOT EXISTS (SELECT 1 FROM oldh
         |  WHERE oldh.content_hash = newh.content_hash)
         |GROUP BY content_hash""".stripMargin,

    "d_bloom" -> {
      val m = 1024; val k = 3; val seed = 19L
      val posUnion = (0 until k)
        .map(j => s"SELECT ${Hashing.hash60Sql(seed + j, "hv")} % $m AS pos FROM oldh")
        .mkString("\n  UNION ALL ")
      val probeUnion = (0 until k)
        .map(j => s"SELECT doc_id, ${Hashing.hash60Sql(seed + j, "hv")} % $m AS pos FROM newh")
        .mkString("\n  UNION ALL ")
      s"""WITH oldh AS (SELECT DISTINCT ${H("text")} AS hv
         |  FROM documents WHERE source = 'src0'),
         |allpos AS ($posUnion),
         |words AS (SELECT pos // 32 AS w,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |  FROM allpos GROUP BY 1),
         |newh AS (SELECT doc_id, ${H("text")} AS hv
         |  FROM documents WHERE source <> 'src0'),
         |probe AS ($probeUnion)
         |SELECT p.doc_id,
         |  bool_and(w.bits IS NOT NULL AND
         |    (w.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) <> 0)
         |    AS maybe_seen
         |FROM probe p LEFT JOIN words w ON p.pos // 32 = w.w
         |GROUP BY p.doc_id""".stripMargin
    },

    "d_decontaminate" -> {
      val gram8 = "concat_ws(' ', " +
        (1 to 8).map(k => s"toks[i+$k]").mkString(", ") + ")"
      s"""WITH t AS (SELECT doc_id, source,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT doc_id, source, ${H(gram8)} AS g
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 8),
         |b AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
         |tr AS (SELECT DISTINCT doc_id, g FROM sh WHERE source <> 'src0')
         |SELECT doc_id, count(*) AS n_overlap
         |FROM tr JOIN b USING (g) GROUP BY doc_id""".stripMargin
    },

    "d_paradedup" -> graft.pipeline.Dedup.segmentDedupOracleSql(width = 3),

    "d_overlap" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(k => s"toks[i+$k]").mkString(", ") + ")"
      s"""WITH t AS (SELECT source,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT source, ${H(gram3)} AS g
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |sg AS (SELECT DISTINCT source AS s, g FROM sh),
         |counts AS (SELECT s, count(*) AS ng FROM sg GROUP BY 1),
         |pairs AS (SELECT a.s AS s1, b.s AS s2, count(*) AS n_common
         |  FROM sg a JOIN sg b ON a.g = b.g AND a.s < b.s GROUP BY 1, 2)
         |SELECT s1, s2, ca.ng AS n_s1, cb.ng AS n_s2, n_common,
         |  CAST(n_common AS DOUBLE) / (ca.ng + cb.ng - n_common) AS jaccard,
         |  CAST(n_common AS DOUBLE) / least(ca.ng, cb.ng) AS containment
         |FROM pairs
         |JOIN counts ca ON ca.s = s1
         |JOIN counts cb ON cb.s = s2""".stripMargin
    },

    "d_mix" ->
      s"""WITH base AS (SELECT doc_id, source AS domain,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |rates AS (SELECT domain, least(CAST(1.0 AS DOUBLE),
         |    (CASE WHEN domain = 'src1' THEN 0.4 WHEN domain = 'src2' THEN 0.4
         |          WHEN domain = 'src3' THEN 0.2 ELSE 0.0 END)
         |      * CAST(2000 AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)) AS keep_rate
         |  FROM base GROUP BY domain)
         |SELECT doc_id, domain, n_tokens, keep_rate
         |FROM base JOIN rates USING (domain)
         |WHERE ${Hashing.rand01Sql(7L, "doc_id")} < keep_rate""".stripMargin,

    "d_substr" -> {
      val gram8 = "concat_ws(' ', " +
        (1 to 8).map(k => s"toks[i+$k]").mkString(", ") + ")"
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, ${H(gram8)} AS g
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 8),
         |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
         |dsp AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
         |spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM dsp GROUP BY doc_id),
         |cov AS (SELECT doc_id, count(*) AS n_dup_tokens FROM (
         |  SELECT DISTINCT doc_id, pos + o AS tp
         |  FROM dsp, (SELECT CAST(unnest(range(8)) AS INTEGER) AS o) oo)
         |  GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
         |SELECT n.doc_id, n.n_tokens,
         | CAST(coalesce(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         | CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         | CASE WHEN n.n_tokens = 0 THEN 0.0
         |   ELSE CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / n.n_tokens
         | END AS dup_frac
         |FROM nt n
         |LEFT JOIN spans s ON s.doc_id = n.doc_id
         |LEFT JOIN cov c ON c.doc_id = n.doc_id""".stripMargin
    },

    "d_minhash_sig" ->
      s"""WITH $ShinglesCte
         |SELECT doc_id,
         |  $SigSelect
         |FROM sh GROUP BY doc_id""".stripMargin,

    "d_minhash_pairs" ->
      s"""WITH $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.band_hash = y.band_hash
         |WHERE x.doc_id < y.doc_id""".stripMargin,

    // same band space over all documents; the %4 membership test plays
    // the batch/corpus split (signing commutes with the split)
    "d_minhash_inc" ->
      s"""WITH $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte
         |SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |FROM bands n JOIN bands c
         |  ON n.band = c.band AND n.band_hash = c.band_hash
         |WHERE n.doc_id % 4 = 0 AND c.doc_id % 4 <> 0""".stripMargin,

    "d_split" ->
      s"""SELECT doc_id,
         |  ${Hs(77L, "CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${Hs(77L, "CAST(doc_id AS VARCHAR)")} % 100 < 98 THEN 'train'
         |       WHEN ${Hs(77L, "CAST(doc_id AS VARCHAR)")} % 100 < 99 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "d_source_quota" ->
      s"""WITH p AS (SELECT source, doc_id,
         |  ${Hs(99L, "CAST(doc_id AS VARCHAR)")} AS pri FROM documents),
         |r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
         |  FROM p)
         |SELECT source, doc_id FROM r WHERE rn <= 50""".stripMargin,

    "d_minhash_scored" -> {
      val agree = (0 until Dedup.NumHashes)
        .map(h => s"(CASE WHEN sa.mh$h = sb.mh$h THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte,
         |pairs AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y
         |   ON x.band = y.band AND x.band_hash = y.band_hash
         | WHERE x.doc_id < y.doc_id)
         |SELECT p.a, p.b,
         | CAST($agree AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard
         |FROM pairs p
         |JOIN sigs sa ON sa.doc_id = p.a
         |JOIN sigs sb ON sb.doc_id = p.b""".stripMargin
    },

    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte,
         |pairs AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y
         |   ON x.band = y.band AND x.band_hash = y.band_hash
         | WHERE x.doc_id < y.doc_id),
         |und AS (SELECT a AS vi, b AS vj FROM pairs
         |        UNION ALL SELECT b AS vi, a AS vj FROM pairs),
         |verts AS (SELECT DISTINCT vi AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v)
         |SELECT v AS doc_id, min(r) AS keeper_id FROM reach GROUP BY v""".stripMargin,

    "d_dedup_keep_best" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte,
         |pairs AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y
         |   ON x.band = y.band AND x.band_hash = y.band_hash
         | WHERE x.doc_id < y.doc_id),
         |und AS (SELECT a AS vi, b AS vj FROM pairs
         |        UNION ALL SELECT b AS vi, a AS vj FROM pairs),
         |verts AS (SELECT DISTINCT vi AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
         |cl AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY v),
         |q AS (SELECT doc_id, quality_score
         |  FROM (${TextQueries.oracles("t_quality")})),
         |j AS (SELECT cl.doc_id, cl.cluster, q.quality_score
         |  FROM cl JOIN q USING (doc_id))
         |SELECT doc_id, cluster, quality_score,
         |  (row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality_score DESC, doc_id ASC) = 1) AS kept
         |FROM j""".stripMargin,

    "d_dedup_pipeline" -> {
      val agree = (0 until Dedup.NumHashes)
        .map(h => s"(CASE WHEN sa.mh$h = sb.mh$h THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $ShinglesCte,
         |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
         |$BandsCte,
         |pairs AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y
         |   ON x.band = y.band AND x.band_hash = y.band_hash
         | WHERE x.doc_id < y.doc_id),
         |cand AS (
         | SELECT p.a, p.b,
         |  CAST($agree AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard
         | FROM pairs p
         | JOIN sigs sa ON sa.doc_id = p.a
         | JOIN sigs sb ON sb.doc_id = p.b),
         |surv AS (SELECT * FROM cand WHERE est_jaccard >= 0.2),
         |wtoks AS (
         | SELECT DISTINCT doc_id, w FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> ''),
         |sizes AS (SELECT doc_id, count(*) AS n FROM wtoks GROUP BY doc_id),
         |inter AS (
         | SELECT s.a, s.b, count(*) AS ninter
         | FROM surv s JOIN wtoks ta ON ta.doc_id = s.a
         |   JOIN wtoks tb ON tb.doc_id = s.b AND tb.w = ta.w
         | GROUP BY s.a, s.b)
         |SELECT s.a, s.b, s.est_jaccard,
         | CAST(coalesce(i.ninter, 0) AS DOUBLE) /
         |   (sa.n + sb.n - coalesce(i.ninter, 0)) AS jaccard
         |FROM surv s
         |LEFT JOIN inter i ON i.a = s.a AND i.b = s.b
         |JOIN sizes sa ON sa.doc_id = s.a
         |JOIN sizes sb ON sb.doc_id = s.b""".stripMargin
    },

    "d_simhash" -> {
      val bitSums = (0 until Dedup.SimHashBits)
        .map(j => s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n  ")
      val bits = (0 until Dedup.SimHashBits)
        .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |th AS (SELECT doc_id, ${H("w")} AS th FROM toks WHERE w <> ''),
         |bs AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM bs""".stripMargin
    },

    "d_simhash_pairs" -> {
      val bitSums = (0 until Dedup.SimHashBits)
        .map(j => s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n  ")
      val bits = (0 until Dedup.SimHashBits)
        .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |th AS (SELECT doc_id, ${H("w")} AS th FROM toks WHERE w <> ''),
         |bs AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM bs)
         |SELECT x.doc_id AS a, y.doc_id AS b
         |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2""".stripMargin
    },

    "d_jaccard" ->
      s"""WITH $ShinglesCte,
        |sigs AS (SELECT doc_id, $SigSelect FROM sh GROUP BY doc_id),
        |$BandsCte,
        |pairs AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |   ON x.band = y.band AND x.band_hash = y.band_hash
        | WHERE x.doc_id < y.doc_id),
        |wtoks AS (
        | SELECT DISTINCT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        | WHERE w <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n FROM wtoks GROUP BY doc_id),
        |inter AS (
        | SELECT p.a, p.b, count(*) AS ninter
        | FROM pairs p JOIN wtoks ta ON ta.doc_id = p.a
        |   JOIN wtoks tb ON tb.doc_id = p.b AND tb.w = ta.w
        | GROUP BY p.a, p.b)
        |SELECT p.a, p.b,
        | CAST(coalesce(i.ninter, 0) AS DOUBLE) /
        |   (sa.n + sb.n - coalesce(i.ninter, 0)) AS jaccard
        |FROM pairs p
        |LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
        |JOIN sizes sa ON sa.doc_id = p.a
        |JOIN sizes sb ON sb.doc_id = p.b""".stripMargin,

    "d_containment" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(j => s"toks[i+$j]").mkString(", ") + ")"
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |shx AS (SELECT doc_id, ${H(gram3)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |sh2 AS (SELECT DISTINCT doc_id, h FROM shx),
         |dfq AS (SELECT h, count(*) AS df FROM sh2 GROUP BY h),
         |rare AS (SELECT doc_id AS nom, h FROM (
         |  SELECT sh2.doc_id, sh2.h, row_number() OVER
         |    (PARTITION BY sh2.doc_id ORDER BY df, sh2.h) AS rn
         |  FROM sh2 JOIN dfq ON sh2.h = dfq.h WHERE df BETWEEN 2 AND 10)
         |  WHERE rn <= 5),
         |cand AS (SELECT DISTINCT least(nom, o.doc_id) AS a,
         |    greatest(nom, o.doc_id) AS b
         |  FROM rare JOIN sh2 o ON rare.h = o.h AND rare.nom <> o.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh2 GROUP BY doc_id),
         |inter AS (SELECT c.a, c.b, count(*) AS ninter
         |  FROM cand c JOIN sh2 x ON x.doc_id = c.a
         |    JOIN sh2 y ON y.doc_id = c.b AND y.h = x.h
         |  GROUP BY c.a, c.b)
         |SELECT i.a, i.b, sa.nsh AS na, sb.nsh AS nb, ninter,
         |  CAST(ninter AS DOUBLE) / least(sa.nsh, sb.nsh)
         |    AS containment,
         |  CAST(ninter AS DOUBLE) / (sa.nsh + sb.nsh - ninter)
         |    AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.a
         |JOIN sizes sb ON sb.doc_id = i.b""".stripMargin
    },

    "d_merge" ->
      s"""WITH batch AS (SELECT
         |  CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN doc_id
         |       ELSE doc_id + 10000000 END AS doc_id,
         |  CASE WHEN doc_id % 11 = 0 THEN 'd'
         |       WHEN doc_id % 7 = 0 THEN 'u' ELSE 'i' END AS op,
         |  text || ' v2' AS text
         |  FROM documents
         |  WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0),
         |merged AS (SELECT COALESCE(t.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN b.doc_id IS NULL THEN t.text ELSE b.text END AS text,
         |  b.op AS op
         |  FROM documents t FULL OUTER JOIN batch b ON t.doc_id = b.doc_id)
         |SELECT doc_id, ${H("text")} AS content_hash FROM merged
         |WHERE op IS NULL OR op <> 'd'""".stripMargin,

    "s_ann_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 10),
        |pairs AS (
        | SELECT q.qid, e.vec_id,
        |  round(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
        | FROM q, embeddings e WHERE e.vec_id <> q.qid),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM pairs)
        |SELECT qid, vec_id, sim, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "s_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings WHERE vec_id < 10),
        |pairs AS (
        | SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |  round(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
        |   (sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) *
        |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
        | FROM q, embeddings e WHERE e.vec_id <> q.qid),
        |pos AS (SELECT qid, max(sim) AS pos_sim FROM pairs
        |  WHERE label = qlabel GROUP BY qid),
        |ranked AS (SELECT qid, vec_id, sim, row_number() OVER
        |  (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM pairs WHERE label <> qlabel)
        |SELECT r.qid, r.vec_id, r.sim, CAST(r.rank AS INTEGER) AS rank,
        |  p.pos_sim, CAST(r.sim < p.pos_sim AS INTEGER) AS semi_hard
        |FROM ranked r LEFT JOIN pos p USING (qid)
        |WHERE r.rank <= 5""".stripMargin,

    "s_quantize" ->
      """WITH t AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM t),
        |q AS (SELECT vec_id, scale,
        |  list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) AS qv FROM s)
        |SELECT vec_id, scale,
        | CAST(len(qv) AS BIGINT) AS dim,
        | CAST(list_sum(qv) AS BIGINT) AS q_sum,
        | CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        | CAST(list_min(qv) AS BIGINT) AS q_min,
        | CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q""".stripMargin,

    "s_rproj" -> Similarity.randomProjectOracleSql(Dim, 16),

    "s_kmeans" -> KMeansInt.oracleSql(k = 8, iters = 3),

    "s_ann_lsh" -> {
      // hyperplane weights re-derived in SQL from the same hash formula
      val planes = Similarity.DefaultPlanes
      val seed = Similarity.PlaneSeed
      val w = Hashing.rand01Sql(seed, "concat_ws(',', p, j)")
      s"""WITH planes AS (
         | SELECT p, j, ($w - 0.5) AS w
         | FROM (SELECT unnest(range($planes)) AS p) pp,
         |      (SELECT unnest(range($Dim)) AS j) jj),
         |dots AS (
         | SELECT e.vec_id, pl.p,
         |   sum(CAST(e.embedding[CAST(pl.j AS INTEGER) + 1] AS DOUBLE) * pl.w) AS dot
         | FROM embeddings e, planes pl
         | GROUP BY e.vec_id, pl.p)
         |SELECT vec_id,
         | CAST(sum(CASE WHEN dot >= 0.0 THEN 1 << CAST(p AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
         |FROM dots GROUP BY vec_id""".stripMargin
    },

    "s_ann_lsh_topk" -> {
      val planes = Similarity.DefaultPlanes
      val tables = Similarity.DefaultTables
      val seed = Similarity.PlaneSeed
      val w = Hashing.rand01Sql(seed, "concat_ws(',', p, j)")
      s"""WITH planes AS (
         | SELECT p, j, ($w - 0.5) AS w
         | FROM (SELECT unnest(range(${tables * planes})) AS p) pp,
         |      (SELECT unnest(range($Dim)) AS j) jj),
         |dots AS (
         | SELECT e.vec_id, pl.p,
         |   sum(CAST(e.embedding[CAST(pl.j AS INTEGER) + 1] AS DOUBLE) * pl.w) AS dot
         | FROM embeddings e, planes pl
         | GROUP BY e.vec_id, pl.p),
         |buckets AS (SELECT vec_id, CAST(p // $planes AS INTEGER) AS tbl,
         | CAST(sum(CASE WHEN dot >= 0.0 THEN 1 << CAST(p % $planes AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
         | FROM dots GROUP BY vec_id, p // $planes),
         |cand AS (
         | SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vec_id
         | FROM buckets x JOIN buckets y
         |   ON x.tbl = y.tbl AND x.bucket = y.bucket
         | WHERE x.vec_id <> y.vec_id),
         |scored AS (
         | SELECT c.qid, c.vec_id,
         |  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
         |   (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
         |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
         | FROM cand c JOIN embeddings q ON q.vec_id = c.qid
         |   JOIN embeddings e ON e.vec_id = c.vec_id),
         |ranked AS (SELECT *, row_number() OVER
         |  (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM scored)
         |SELECT qid, vec_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin
    },

    "s_ann_ivf" -> {
      val nlist = Similarity.DefaultNList
      val nprobe = Similarity.DefaultNProbe
      s"""WITH cents AS (
         | SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         | ORDER BY ${Hs(Similarity.IvfSeed, "vec_id")}, vec_id LIMIT $nlist),
         |csc AS MATERIALIZED (
         | SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cvec")} AS csim
         | FROM embeddings e, cents c),
         |assigned AS (
         | SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         | WHERE rn = 1),
         |probes AS (
         | SELECT vec_id AS qid, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         | WHERE rn <= $nprobe),
         |scored AS (
         | SELECT p.qid, a.vec_id, ${cosSql("q.embedding", "e.embedding")} AS sim
         | FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.qid
         | JOIN embeddings q ON q.vec_id = p.qid
         | JOIN embeddings e ON e.vec_id = a.vec_id),
         |ranked AS (SELECT *, row_number() OVER
         | (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank FROM scored)
         |SELECT qid, vec_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin
    },

    // recall@3 = |pq top-3 ∩ exact L2 top-3| / 3 per query — the PQ
    // CTEs replayed verbatim, the reference ranked by exact squared-L2
    "s_ann_recall_pq" -> {
      val m = Similarity.DefaultSubspaces
      val kw = Similarity.DefaultCodewords
      val ds = Dim / m
      val d2 = (a: String, b: String) =>
        s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v, ${Hs(Similarity.PqSeed, "vec_id")} AS h
         |  FROM e ORDER BY h, vec_id LIMIT $kw),
         |sidx AS (SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
         |  FROM seeds),
         |ss AS (SELECT CAST(unnest(range($m)) AS INTEGER) AS subsp),
         |cb AS MATERIALIZED (SELECT code, subsp,
         |  v[subsp * $ds + 1 : subsp * $ds + $ds] AS cw FROM sidx, ss),
         |subs AS MATERIALIZED (SELECT vec_id, subsp,
         |  v[subsp * $ds + 1 : subsp * $ds + $ds] AS sub FROM e, ss),
         |enc AS (SELECT vec_id, subsp, code, ${d2("sub", "cw")} AS d2
         |  FROM subs JOIN cb USING (subsp)),
         |codes AS (SELECT vec_id, subsp, code FROM (
         |  SELECT vec_id, subsp, code, row_number() OVER
         |    (PARTITION BY vec_id, subsp ORDER BY d2, code) AS rn FROM enc)
         |  WHERE rn = 1),
         |dtab AS (SELECT s.vec_id AS qid, s.subsp, c.code, ${d2("s.sub", "c.cw")} AS qd2
         |  FROM subs s JOIN cb c USING (subsp)),
         |sc AS (SELECT qid, vec_id, round(sum(qd2), 6) AS ad2
         |  FROM codes JOIN dtab USING (subsp, code)
         |  WHERE qid <> vec_id GROUP BY qid, vec_id),
         |pq AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY ad2, vec_id) AS rank FROM sc)
         |  WHERE rank <= 3 AND qid < 10),
         |bl2 AS (SELECT q.vec_id AS qid, x.vec_id,
         |  round(${d2("q.v", "x.v")}, 6) AS d2
         |  FROM e q, e x WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id),
         |brute AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM bl2)
         |  WHERE rank <= 3),
         |h AS (SELECT b.qid, count(*) AS n_hits FROM brute b
         | JOIN pq i ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY 1)
         |SELECT q.vec_id AS qid,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(3 AS DOUBLE)
         |    AS recall
         |FROM embeddings q LEFT JOIN h ON h.qid = q.vec_id
         |WHERE q.vec_id < 10""".stripMargin
    },

    // recall@3 = |lsh top-3 ∩ exact top-3| / 3 per query — the LSH
    // CTEs replayed verbatim and intersected with the brute replay
    "s_ann_recall_lsh" -> {
      val planes = Similarity.DefaultPlanes
      val tables = Similarity.DefaultTables
      val seed = Similarity.PlaneSeed
      val w = Hashing.rand01Sql(seed, "concat_ws(',', p, j)")
      s"""WITH planes AS (
         | SELECT p, j, ($w - 0.5) AS w
         | FROM (SELECT unnest(range(${tables * planes})) AS p) pp,
         |      (SELECT unnest(range($Dim)) AS j) jj),
         |dots AS (
         | SELECT e.vec_id, pl.p,
         |   sum(CAST(e.embedding[CAST(pl.j AS INTEGER) + 1] AS DOUBLE) * pl.w) AS dot
         | FROM embeddings e, planes pl
         | GROUP BY e.vec_id, pl.p),
         |buckets AS (SELECT vec_id, CAST(p // $planes AS INTEGER) AS tbl,
         | CAST(sum(CASE WHEN dot >= 0.0 THEN 1 << CAST(p % $planes AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
         | FROM dots GROUP BY vec_id, p // $planes),
         |cand AS (
         | SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vec_id
         | FROM buckets x JOIN buckets y
         |   ON x.tbl = y.tbl AND x.bucket = y.bucket
         | WHERE x.vec_id <> y.vec_id),
         |lscored AS (
         | SELECT c.qid, c.vec_id, ${cosSql("q.embedding", "e.embedding")} AS sim
         | FROM cand c JOIN embeddings q ON q.vec_id = c.qid
         |   JOIN embeddings e ON e.vec_id = c.vec_id),
         |lsh AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
         |  FROM lscored) WHERE rank <= 3 AND qid < 10),
         |bpairs AS (
         | SELECT q.vec_id AS qid, e.vec_id,
         |  ${cosSql("q.embedding", "e.embedding")} AS sim
         | FROM embeddings q, embeddings e
         | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |brute AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
         |  FROM bpairs) WHERE rank <= 3),
         |h AS (SELECT b.qid, count(*) AS n_hits FROM brute b
         | JOIN lsh i ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY 1)
         |SELECT q.vec_id AS qid,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(3 AS DOUBLE)
         |    AS recall
         |FROM embeddings q LEFT JOIN h ON h.qid = q.vec_id
         |WHERE q.vec_id < 10""".stripMargin
    },

    // recall@3 = |ivf top-3 ∩ exact top-3| / 3 per query: both sides'
    // CTEs replayed verbatim (same seeded centroids, same round-6
    // cosine, same tie-breaks), then intersected
    "s_ann_recall" -> {
      val nlist = Similarity.DefaultNList
      val nprobe = Similarity.DefaultNProbe
      s"""WITH cents AS (
         | SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         | ORDER BY ${Hs(Similarity.IvfSeed, "vec_id")}, vec_id LIMIT $nlist),
         |csc AS MATERIALIZED (
         | SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cvec")} AS csim
         | FROM embeddings e, cents c),
         |assigned AS (
         | SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         | WHERE rn = 1),
         |probes AS (
         | SELECT vec_id AS qid, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         | WHERE rn <= $nprobe),
         |iscored AS (
         | SELECT p.qid, a.vec_id, ${cosSql("q.embedding", "e.embedding")} AS sim
         | FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.qid
         | JOIN embeddings q ON q.vec_id = p.qid
         | JOIN embeddings e ON e.vec_id = a.vec_id),
         |ivf AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
         |  FROM iscored) WHERE rank <= 3 AND qid < 10),
         |bpairs AS (
         | SELECT q.vec_id AS qid, e.vec_id,
         |  ${cosSql("q.embedding", "e.embedding")} AS sim
         | FROM embeddings q, embeddings e
         | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
         |brute AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
         |  FROM bpairs) WHERE rank <= 3),
         |h AS (SELECT b.qid, count(*) AS n_hits FROM brute b
         | JOIN ivf i ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY 1)
         |SELECT q.vec_id AS qid,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(3 AS DOUBLE)
         |    AS recall
         |FROM embeddings q LEFT JOIN h ON h.qid = q.vec_id
         |WHERE q.vec_id < 10""".stripMargin
    },

    "d_weighted_sample" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE n_chars > 0
         |ORDER BY ln(${Hashing.rand01Sql(11L, "doc_id")})
         |  / CAST(n_chars AS DOUBLE) DESC, doc_id ASC
         |LIMIT 50""".stripMargin,

    "d_weighted_sample_key" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ln(${Hashing.rand01Sql(11L, "doc_id")})
         |      / CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rn
         |  FROM documents WHERE n_chars > 0)
         |WHERE rn <= 10""".stripMargin,

    "d_dsir" ->
      s"""WITH $DsirCtes
         |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  coalesce(sc.logw, 0.0e0) AS logw
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin,

    "d_dsir_resample" ->
      s"""WITH $DsirCtes,
         |ww AS (SELECT d.doc_id, exp(coalesce(sc.logw, 0.0e0)) AS w
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
         |SELECT doc_id FROM ww WHERE w > 0
         |ORDER BY ln(${Hashing.rand01Sql(23L, "doc_id")}) / w DESC, doc_id ASC
         |LIMIT 100""".stripMargin,

    "d_semdedup" -> {
      val nlist = Similarity.DefaultNList
      s"""WITH cents AS (
         | SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         | ORDER BY ${Hs(Similarity.IvfSeed, "vec_id")}, vec_id LIMIT $nlist),
         |csc AS MATERIALIZED (
         | SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cvec")} AS csim
         | FROM embeddings e, cents c),
         |assigned AS (
         | SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         | WHERE rn = 1),
         |pr AS (
         | SELECT l.cid, r.vec_id AS b, ${cosSql("le.embedding", "re.embedding")} AS sim
         | FROM assigned l JOIN assigned r ON l.cid = r.cid AND l.vec_id < r.vec_id
         | JOIN embeddings le ON le.vec_id = l.vec_id
         | JOIN embeddings re ON re.vec_id = r.vec_id)
         |SELECT cid, b AS vec_id, count(*) AS n_similar, max(sim) AS max_sim
         |FROM pr WHERE sim >= 0.2e0 GROUP BY 1, 2""".stripMargin
    },

    "d_semdedup_km" ->
      s"""${KMeansInt.oracleCtes(k = 8, iters = 3)},
         |pr AS (
         | SELECT l.cid, r.vec_id AS b, ${cosSql("le.embedding", "re.embedding")} AS sim
         | FROM asg l JOIN asg r ON l.cid = r.cid AND l.vec_id < r.vec_id
         | JOIN embeddings le ON le.vec_id = l.vec_id
         | JOIN embeddings re ON re.vec_id = r.vec_id)
         |SELECT cid, b AS vec_id, count(*) AS n_similar, max(sim) AS max_sim
         |FROM pr WHERE sim >= 0.2e0 GROUP BY 1, 2""".stripMargin,

    "s_ann_pq" -> {
      val m = Similarity.DefaultSubspaces
      val kw = Similarity.DefaultCodewords
      val ds = Dim / m
      val d2 = (a: String, b: String) =>
        s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v, ${Hs(Similarity.PqSeed, "vec_id")} AS h
         |  FROM e ORDER BY h, vec_id LIMIT $kw),
         |sidx AS (SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
         |  FROM seeds),
         |ss AS (SELECT CAST(unnest(range($m)) AS INTEGER) AS subsp),
         |cb AS MATERIALIZED (SELECT code, subsp,
         |  v[subsp * $ds + 1 : subsp * $ds + $ds] AS cw FROM sidx, ss),
         |subs AS MATERIALIZED (SELECT vec_id, subsp,
         |  v[subsp * $ds + 1 : subsp * $ds + $ds] AS sub FROM e, ss),
         |enc AS (SELECT vec_id, subsp, code, ${d2("sub", "cw")} AS d2
         |  FROM subs JOIN cb USING (subsp)),
         |codes AS (SELECT vec_id, subsp, code FROM (
         |  SELECT vec_id, subsp, code, row_number() OVER
         |    (PARTITION BY vec_id, subsp ORDER BY d2, code) AS rn FROM enc)
         |  WHERE rn = 1),
         |dtab AS (SELECT s.vec_id AS qid, s.subsp, c.code, ${d2("s.sub", "c.cw")} AS qd2
         |  FROM subs s JOIN cb c USING (subsp)),
         |sc AS (SELECT qid, vec_id, round(sum(qd2), 6) AS ad2
         |  FROM codes JOIN dtab USING (subsp, code)
         |  WHERE qid <> vec_id GROUP BY qid, vec_id),
         |ranked AS (SELECT qid, vec_id, ad2, row_number() OVER
         |  (PARTITION BY qid ORDER BY ad2, vec_id) AS rank FROM sc)
         |SELECT qid, vec_id, ad2, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin
    },

    "s_ann_ivfpq" -> {
      val nlist = Similarity.DefaultNList
      val nprobe = Similarity.DefaultNProbe
      val m = Similarity.DefaultSubspaces
      val kw = Similarity.DefaultCodewords
      val ds = Dim / m
      val d2 = (a: String, b: String) =>
        s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
      // residual = v − centroid of the assigned/probed list, elementwise
      val res = (v: String, c: String) =>
        s"list_transform(range($Dim), i -> $v[CAST(i AS INTEGER) + 1] - $c[CAST(i AS INTEGER) + 1])"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM embeddings ORDER BY ${Hs(Similarity.IvfSeed, "vec_id")}, vec_id LIMIT $nlist),
         |csc AS MATERIALIZED (
         |  SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS csim FROM e, cents c),
         |assigned AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         |  WHERE rn = 1),
         |resid AS MATERIALIZED (
         |  SELECT e.vec_id, a.cid, ${res("e.v", "c.cvec")} AS rv
         |  FROM e JOIN assigned a ON a.vec_id = e.vec_id JOIN cents c ON c.cid = a.cid),
         |seeds AS (SELECT vec_id, rv, ${Hs(Similarity.PqSeed, "vec_id")} AS h
         |  FROM resid ORDER BY h, vec_id LIMIT $kw),
         |sidx AS (SELECT rv, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
         |  FROM seeds),
         |ss AS (SELECT CAST(unnest(range($m)) AS INTEGER) AS subsp),
         |cb AS MATERIALIZED (SELECT code, subsp,
         |  rv[subsp * $ds + 1 : subsp * $ds + $ds] AS cw FROM sidx, ss),
         |subs AS MATERIALIZED (SELECT vec_id, subsp,
         |  rv[subsp * $ds + 1 : subsp * $ds + $ds] AS sub FROM resid, ss),
         |enc AS (SELECT vec_id, subsp, code, ${d2("sub", "cw")} AS d2
         |  FROM subs JOIN cb USING (subsp)),
         |codes AS (SELECT vec_id, subsp, code FROM (
         |  SELECT vec_id, subsp, code, row_number() OVER
         |    (PARTITION BY vec_id, subsp ORDER BY d2, code) AS rn FROM enc)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn FROM csc)
         |  WHERE rn <= $nprobe),
         |qres AS MATERIALIZED (
         |  SELECT p.qid, p.cid, ${res("e.v", "c.cvec")} AS rv
         |  FROM probes p JOIN e ON e.vec_id = p.qid JOIN cents c ON c.cid = p.cid),
         |qsubs AS MATERIALIZED (SELECT qid, cid, subsp,
         |  rv[subsp * $ds + 1 : subsp * $ds + $ds] AS qsub FROM qres, ss),
         |dtab AS MATERIALIZED (SELECT qid, cid, subsp, code, ${d2("qsub", "cw")} AS qd2
         |  FROM qsubs JOIN cb USING (subsp)),
         |cand AS (SELECT p.qid, a.vec_id, p.cid
         |  FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.qid),
         |sc AS (SELECT c.qid, c.vec_id, round(sum(d.qd2), 6) AS ad2
         |  FROM cand c JOIN codes k ON k.vec_id = c.vec_id
         |  JOIN dtab d ON d.qid = c.qid AND d.cid = c.cid
         |    AND d.subsp = k.subsp AND d.code = k.code
         |  GROUP BY 1, 2),
         |ranked AS (SELECT qid, vec_id, ad2, row_number() OVER
         |  (PARTITION BY qid ORDER BY ad2, vec_id) AS rank FROM sc)
         |SELECT qid, vec_id, ad2, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3""".stripMargin
    },

    "d_embdup" -> {
      val planes = Similarity.DefaultPlanes
      val seed = Similarity.PlaneSeed
      val w = Hashing.rand01Sql(seed, "concat_ws(',', p, j)")
      s"""WITH planes AS (
         | SELECT p, j, ($w - 0.5) AS w
         | FROM (SELECT unnest(range($planes)) AS p) pp,
         |      (SELECT unnest(range($Dim)) AS j) jj),
         |dots AS (
         | SELECT e.vec_id, pl.p,
         |   sum(CAST(e.embedding[CAST(pl.j AS INTEGER) + 1] AS DOUBLE) * pl.w) AS dot
         | FROM embeddings e, planes pl
         | GROUP BY e.vec_id, pl.p),
         |buckets AS (SELECT vec_id,
         | CAST(sum(CASE WHEN dot >= 0.0 THEN 1 << CAST(p AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
         | FROM dots GROUP BY vec_id),
         |wb AS (SELECT e.vec_id, e.embedding, b.bucket
         | FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
         |pairs AS (
         | SELECT x.vec_id AS a, y.vec_id AS b,
         |  round(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])) /
         |   (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[]))) *
         |    sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])))), 6) AS sim
         | FROM wb x JOIN wb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT a, b, sim FROM pairs WHERE sim >= 0.2""".stripMargin
    },

    "mm_features" ->
      s"""SELECT doc_id,
         | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         | CAST((${H("substr(text, 1, 32)")} % 1024) + 1 AS INTEGER) AS width,
         | CAST(((${H("substr(text, 1, 32)")} >> 10) % 1024) + 1 AS INTEGER) AS height,
         | 3 AS channels
         |FROM documents""".stripMargin,

    "d_cdc" -> Dedup.cdcOracleSql(w = 4, div = 16),

    "mm_audio" ->
      """SELECT doc_id,
        |  CAST(44 + 2 * (64 + doc_id % 192) AS BIGINT) AS byte_len,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(64 + doc_id % 192 AS BIGINT) AS n_samples,
        |  CAST(1000 + doc_id % 9000 AS INTEGER) AS peak_amp
        |FROM documents""".stripMargin,

    "mm_video" ->
      """SELECT doc_id,
        |  CAST(224 + 24 * (4 + doc_id % 12) AS BIGINT) AS byte_len,
        |  CAST(16 + doc_id % 64 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 48 AS INTEGER) AS height,
        |  CAST(4 + doc_id % 12 AS BIGINT) AS n_frames,
        |  CAST(4 + doc_id % 12 AS BIGINT) AS frames_seen,
        |  CAST(33333 AS BIGINT) AS us_per_frame
        |FROM documents""".stripMargin,

    "mm_video_decode" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |fy AS (SELECT p.doc_id, p.w, p.h, p.nf, f.f, y.y FROM p,
        |  (SELECT unnest(range(5)) AS f) f,
        |  (SELECT unnest(range(11)) AS y) y
        |  WHERE f.f < p.nf AND y.y < p.h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(w * h * nf AS BIGINT) AS n_px,
        |  CAST(sum(w * ((3 * doc_id + f + 2 * y) % 256)) AS BIGINT) AS sum_r,
        |  CAST(sum(w * ((2 * doc_id + f + y) % 256)) AS BIGINT) AS sum_g,
        |  CAST(sum(w * ((doc_id + 7 * f + y) % 256)) AS BIGINT) AS sum_b,
        |  CAST(max(w) * ((3 * doc_id) % 256) AS BIGINT) AS top_row_r
        |FROM fy GROUP BY doc_id, w, h, nf""".stripMargin,

    // closed-form pixel-law replay of the PNG round trip: channels is
    // always 3 (TYPE_3BYTE_BGR), rows are constant per y, and the
    // y-weighted red checksum pins row orientation
    "mm_png_decode" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h FROM documents),
        |py AS (SELECT p.doc_id, p.w, p.h, y.y FROM p,
        |  (SELECT unnest(range(11)) AS y) y WHERE y.y < p.h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, 3 AS channels,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(sum(w * ((3 * doc_id + 2 * y) % 256)) AS BIGINT) AS sum_r,
        |  CAST(sum(w * ((2 * doc_id + y) % 256)) AS BIGINT) AS sum_g,
        |  CAST(sum(w * ((doc_id + y) % 256)) AS BIGINT) AS sum_b,
        |  CAST(sum((y + 1) * w * ((3 * doc_id + 2 * y) % 256)) AS BIGINT)
        |    AS ysum_r
        |FROM py GROUP BY doc_id, w, h""".stripMargin,

    // geometry of the lossy round-trip in closed form: dimensions and
    // channel count survive JPEG exactly; pixels deliberately do not
    // appear here (envelope-bound in MultimodalSpec instead)
    "mm_jpeg_meta" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 16 AS INTEGER) AS width,
        |  CAST(4 + doc_id % 8 AS INTEGER) AS height, 3 AS channels,
        |  CAST((8 + doc_id % 16) * (4 + doc_id % 8) AS BIGINT) AS n_px
        |FROM documents""".stripMargin,

    // closed-form NN-resize replay: output row yp reads source row
    // ys = (yp*h)//8; pixels are row-constant so the x' sum is a *16
    "mm_resize" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |fy AS (SELECT p.doc_id, p.w, p.h, p.nf, f.f, y.yp,
        |  (y.yp * p.h) // 8 AS ys FROM p,
        |  (SELECT unnest(range(5)) AS f) f,
        |  (SELECT unnest(range(8)) AS yp) y
        |  WHERE f.f < p.nf)
        |SELECT doc_id, CAST(w AS INTEGER) AS src_w,
        |  CAST(h AS INTEGER) AS src_h,
        |  CAST(16 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(sum(16 * ((3 * doc_id + f + 2 * ys) % 256)) AS BIGINT) AS sum_r,
        |  CAST(sum(16 * ((2 * doc_id + f + ys) % 256)) AS BIGINT) AS sum_g,
        |  CAST(sum(16 * ((doc_id + 7 * f + ys) % 256)) AS BIGINT) AS sum_b,
        |  CAST(sum(16 * (yp + 1) * ((3 * doc_id + f + 2 * ys) % 256))
        |    AS BIGINT) AS wsum_r
        |FROM fy GROUP BY doc_id, w, h, nf""".stripMargin,

    // closed-form aHash replay: pixels are row-constant in the
    // synthetic payloads, so each 8-cell hash row is all-0 or all-255
    // (an 0xff block per bright row); the brighter-than-mean test
    // reduces to 8*srow > sum(srow)
    "mm_ahash" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |cell AS (SELECT p.doc_id, f.f, y.yp,
        |    ((3 * doc_id + f + 2 * ((y.yp * h) // 8)) % 256
        |   + (2 * doc_id + f + ((y.yp * h) // 8)) % 256
        |   + (doc_id + 7 * f + ((y.yp * h) // 8)) % 256) AS srow
        |  FROM p, (SELECT unnest(range(5)) AS f) f,
        |    (SELECT unnest(range(8)) AS yp) y
        |  WHERE f.f < p.nf),
        |t AS (SELECT doc_id, f, sum(srow) AS tot FROM cell GROUP BY 1, 2)
        |SELECT c.doc_id, CAST(c.f AS BIGINT) AS frame_idx,
        |  CAST(sum(CASE WHEN yp < 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * yp)) ELSE 0 END)
        |    AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN yp >= 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * (yp - 4))) ELSE 0 END)
        |    AS BIGINT) AS ahash_hi
        |FROM cell c JOIN t ON t.doc_id = c.doc_id AND t.f = c.f
        |GROUP BY 1, 2""".stripMargin,

    // same hash CTEs, consecutive frames joined, hamming = bit_count
    // of the xor'd halves
    "mm_ahash_dup" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |cell AS (SELECT p.doc_id, f.f, y.yp,
        |    ((3 * doc_id + f + 2 * ((y.yp * h) // 8)) % 256
        |   + (2 * doc_id + f + ((y.yp * h) // 8)) % 256
        |   + (doc_id + 7 * f + ((y.yp * h) // 8)) % 256) AS srow
        |  FROM p, (SELECT unnest(range(5)) AS f) f,
        |    (SELECT unnest(range(8)) AS yp) y
        |  WHERE f.f < p.nf),
        |t AS (SELECT doc_id, f, sum(srow) AS tot FROM cell GROUP BY 1, 2),
        |hsh AS (SELECT c.doc_id, c.f,
        |  CAST(sum(CASE WHEN yp < 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * yp)) ELSE 0 END)
        |    AS BIGINT) AS lo,
        |  CAST(sum(CASE WHEN yp >= 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * (yp - 4))) ELSE 0 END)
        |    AS BIGINT) AS hi
        |  FROM cell c JOIN t ON t.doc_id = c.doc_id AND t.f = c.f
        |  GROUP BY 1, 2),
        |pr AS (SELECT a.doc_id,
        |  bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
        |  FROM hsh a JOIN hsh b ON b.doc_id = a.doc_id AND b.f = a.f + 1)
        |SELECT doc_id, count(*) AS n_pairs,
        |  CAST(max(hamming) AS BIGINT) AS max_hamming,
        |  CAST(sum(CASE WHEN hamming <= 16 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_near
        |FROM pr GROUP BY 1""".stripMargin,

    // same hash CTE; the exact all-pairs batch×standing Hamming truth
    // (the banded Spark plan is recall-lossless at hamming <= 8, so the
    // sub-quadratic probe equals this quadratic replay)
    "mm_ahash_index" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |cell AS (SELECT p.doc_id, f.f, y.yp,
        |    ((3 * doc_id + f + 2 * ((y.yp * h) // 8)) % 256
        |   + (2 * doc_id + f + ((y.yp * h) // 8)) % 256
        |   + (doc_id + 7 * f + ((y.yp * h) // 8)) % 256) AS srow
        |  FROM p, (SELECT unnest(range(5)) AS f) f,
        |    (SELECT unnest(range(8)) AS yp) y
        |  WHERE f.f < p.nf),
        |t AS (SELECT doc_id, f, sum(srow) AS tot FROM cell GROUP BY 1, 2),
        |hsh AS (SELECT c.doc_id, c.f,
        |  CAST(sum(CASE WHEN yp < 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * yp)) ELSE 0 END)
        |    AS BIGINT) AS lo,
        |  CAST(sum(CASE WHEN yp >= 4 AND 8 * srow > t.tot
        |    THEN (CAST(255 AS BIGINT) << (8 * (yp - 4))) ELSE 0 END)
        |    AS BIGINT) AS hi
        |  FROM cell c JOIN t ON t.doc_id = c.doc_id AND t.f = c.f
        |  GROUP BY 1, 2),
        |pr AS (SELECT b.doc_id, b.f, s.doc_id AS src_doc,
        |    bit_count(xor(b.lo, s.lo)) + bit_count(xor(b.hi, s.hi))
        |      AS hamming
        |  FROM hsh b JOIN hsh s
        |    ON b.doc_id % 10 = 0 AND s.doc_id % 10 <> 0),
        |nr AS (SELECT * FROM pr WHERE hamming <= 8)
        |SELECT doc_id, count(*) AS n_near,
        |  CAST(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(min(hamming) AS BIGINT) AS min_hamming,
        |  CAST(count(DISTINCT src_doc) AS BIGINT) AS n_src_docs
        |FROM nr GROUP BY 1""".stripMargin,

    // closed-form frame-sample replay: sampled frame set
    // {(i*nf)//2 : i<2} = {0, nf//2}, distinct by construction (nf>=2)
    "mm_frame_sample" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w,
        |  4 + doc_id % 8 AS h, 2 + doc_id % 4 AS nf FROM documents),
        |sf AS (SELECT DISTINCT p.doc_id, p.w, p.h, p.nf,
        |  (i.i * p.nf) // 2 AS f FROM p,
        |  (SELECT unnest(range(2)) AS i) i),
        |fy AS (SELECT sf.doc_id, sf.w, sf.h, sf.nf, sf.f, y.y FROM sf,
        |  (SELECT unnest(range(11)) AS y) y
        |  WHERE y.y < sf.h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(count(DISTINCT f) AS BIGINT) AS n_sampled,
        |  CAST(sum(w * ((3 * doc_id + f + 2 * y) % 256)) AS BIGINT) AS sum_r,
        |  CAST(sum(w * ((2 * doc_id + f + y) % 256)) AS BIGINT) AS sum_g,
        |  CAST(sum(w * ((doc_id + 7 * f + y) % 256)) AS BIGINT) AS sum_b
        |FROM fy GROUP BY doc_id, w, h, nf""".stripMargin,

    "d_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${Hashing.hash60Sql(7L, "CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, h AS shuffle_hash,
         |  row_number() OVER (ORDER BY h, doc_id) - 1 AS pos FROM h)
         |SELECT doc_id, shuffle_hash, CAST(pos AS BIGINT) AS pos,
         |  CAST(pos % 8 AS BIGINT) AS shard,
         |  CAST(pos // 8 AS BIGINT) AS pos_in_shard
         |FROM r""".stripMargin,

    // nearest-within-tolerance: among versions with |vt − t| ≤ tol the
    // minimal distance wins; ORDER BY (dist, vt) breaks a backward/
    // forward distance tie toward the smaller vt = the backward pick
    "d_asof_near" ->
      s"""WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us AS vt, max(value) AS asof_value FROM e
         |  WHERE event_type = 'signup' GROUP BY 1, 2),
         |cand AS (SELECT e.user_id, e.event_id, e.ts_us, s.asof_value,
         |    abs(e.ts_us - s.vt) AS dist, s.vt,
         |    row_number() OVER (PARTITION BY e.user_id, e.event_id, e.ts_us
         |      ORDER BY abs(e.ts_us - s.vt), s.vt) AS rk
         |  FROM e JOIN s ON e.user_id = s.user_id
         |    AND abs(e.ts_us - s.vt) <= ${3600L * 1000000L})
         |SELECT e.user_id, e.event_id, e.ts_us, c.asof_value
         |FROM e LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c
         |  ON e.user_id = c.user_id AND e.event_id = c.event_id
         |    AND e.ts_us = c.ts_us""".stripMargin,

    // forward pick = min vt >= t  <=>  t ∈ (lag(vt), vt]
    "d_asof_fwd" ->
      s"""WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us, max(value) AS asof_value FROM e
         |  WHERE event_type = 'signup' GROUP BY 1, 2),
         |iv AS (SELECT user_id, ts_us AS vt, asof_value,
         |  coalesce(lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us),
         |    ${Long.MinValue}) AS prev_vt
         |  FROM s)
         |SELECT e.user_id, e.event_id, e.ts_us, iv.asof_value
         |FROM e LEFT JOIN iv ON e.user_id = iv.user_id
         | AND e.ts_us <= iv.vt AND e.ts_us > iv.prev_vt""".stripMargin,

    "dq_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_quantity", "l_returnflag").map(one)
        .mkString("\nUNION ALL\n")
    },

    "dq_refint" ->
      """WITH o AS (SELECT DISTINCT o_orderkey FROM orders),
        |orph AS (SELECT count(*) AS n FROM lineitem l LEFT JOIN o
        |  ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_fk,
        |  CAST((SELECT n FROM orph) AS BIGINT) AS n_orphans,
        |  (SELECT n FROM orph) = 0 AS fk_ok
        |FROM lineitem""".stripMargin,

    "dq_domain" ->
      """SELECT event_type AS value, count(*) AS n_rows,
        |  coalesce(event_type IN ('view', 'click', 'purchase', 'signup'),
        |    false) AS in_domain
        |FROM events GROUP BY 1""".stripMargin,

    "d_asof_native" ->
      s"""WITH e AS (SELECT *, epoch_ns(ts) // 1000 AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us, max(value) AS asof_value FROM e
         |  WHERE event_type = 'signup' GROUP BY 1, 2),
         |iv AS (SELECT user_id, ts_us AS vf,
         |  coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us),
         |    ${Long.MaxValue}) AS vt, asof_value
         |  FROM s)
         |SELECT e.user_id, e.event_id, e.ts_us, iv.asof_value
         |FROM e LEFT JOIN iv ON e.user_id = iv.user_id
         | AND e.ts_us >= iv.vf AND e.ts_us < iv.vt""".stripMargin,

    // The BM25 side is t_bm25's query verbatim (same terms) wrapped as a
    // subquery; 1.0e0 literals keep every division DOUBLE (not DECIMAL)
    // so the reciprocal-rank terms are bit-identical to Spark's.
    "s_hybrid_rrf" ->
      s"""WITH bm AS (SELECT doc_id, bm25
         |  FROM (${TextQueries.oracles("t_bm25")})),
         |bmr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
         |  FROM bm QUALIFY r <= 50),
         |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |ann AS (SELECT e.vec_id AS doc_id,
         |  round(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
         |   (sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) *
         |    sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         |annr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS r
         |  FROM ann QUALIFY r <= 50),
         |fused AS (SELECT
         |  coalesce(b.doc_id, a.doc_id) AS doc_id,
         |  coalesce(b.r, 0) AS rank_bm25,
         |  coalesce(a.r, 0) AS rank_ann,
         |  round(
         |    (CASE WHEN b.r IS NOT NULL
         |       THEN 1.0e0 / (60.0e0 + CAST(b.r AS DOUBLE)) ELSE 0.0e0 END) +
         |    (CASE WHEN a.r IS NOT NULL
         |       THEN 1.0e0 / (60.0e0 + CAST(a.r AS DOUBLE)) ELSE 0.0e0 END),
         |    9) AS rrf
         |  FROM bmr b FULL OUTER JOIN annr a ON a.doc_id = b.doc_id)
         |SELECT doc_id, CAST(rank_bm25 AS BIGINT) AS rank_bm25,
         |  CAST(rank_ann AS BIGINT) AS rank_ann, rrf
         |FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin,

    // identical op sequence to DataQuality.categoricalDrift: one shared
    // unrounded expected, squaring by self-multiply
    "dq_drift" ->
      """WITH ec AS (SELECT event_id,
        |  event_type || (CASE WHEN event_id % 7 = 0 AND event_id % 2 = 1
        |                 THEN '_v2' ELSE '' END) AS category FROM events),
        |b AS (SELECT category, count(*) AS n_base FROM ec
        |      WHERE event_id % 2 = 0 GROUP BY 1),
        |c AS (SELECT category, count(*) AS n_cur FROM ec
        |      WHERE event_id % 2 <> 0 GROUP BY 1),
        |j AS (SELECT coalesce(b.category, c.category) AS category,
        |  coalesce(b.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
        |  FROM b FULL OUTER JOIN c ON b.category = c.category),
        |t AS (SELECT sum(n_base) AS tot_base, sum(n_cur) AS tot_cur,
        |  count(*) AS n_cat FROM j),
        |x AS (SELECT j.category, j.n_base, j.n_cur,
        |  CAST(j.n_base + 1 AS DOUBLE) / (t.tot_base + t.n_cat) * t.tot_cur
        |    AS e FROM j CROSS JOIN t)
        |SELECT category, n_base, n_cur, e AS expected,
        |  (n_cur - e) * (n_cur - e) / e AS chi2_contrib
        |FROM x""".stripMargin,

    // identical integer ladder to DataQuality.ksTest: per-(grp, value)
    // side counts, per-group cumulative sums over distinct values,
    // d_num = max |cb·n_cur − cc·n_base| in exact longs, one terminal
    // exact-integer division
    "dq_ks" ->
      """WITH e AS (SELECT event_type AS grp, value AS v,
        |  CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END AS cur
        |  FROM events),
        |c AS (SELECT grp, v, sum(1 - cur) AS b, sum(cur) AS c
        |      FROM e GROUP BY 1, 2),
        |cum AS (SELECT grp, v, b, c,
        |  sum(b) OVER w AS cb, sum(c) OVER w AS cc
        |  FROM c WINDOW w AS (PARTITION BY grp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT grp, CAST(sum(b) AS BIGINT) AS n_base,
        |  CAST(sum(c) AS BIGINT) AS n_cur FROM c GROUP BY 1)
        |SELECT cum.grp, t.n_base, t.n_cur,
        |  CAST(max(abs(cb * t.n_cur - cc * t.n_base)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cb * t.n_cur - cc * t.n_base)) AS DOUBLE) /
        |    CAST(t.n_base * t.n_cur AS DOUBLE) AS d
        |FROM cum JOIN t ON t.grp = cum.grp
        |GROUP BY 1, 2, 3""".stripMargin,

    // identical 2x-scaled midrank ladder to DataQuality.mwuTest:
    // 2·midrank(v) = 2·cum_t − t + 1 in exact longs, r2 = Σ c·(2·mid),
    // u2 = r2 − n_cur·(n_cur+1), one terminal exact division
    "dq_mwu" ->
      """WITH e AS (SELECT event_type AS grp, value AS v,
        |  CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END AS cur
        |  FROM events),
        |c AS (SELECT grp, v, sum(1 - cur) AS b, sum(cur) AS c
        |      FROM e GROUP BY 1, 2),
        |cum AS (SELECT grp, b, c,
        |  sum(b + c) OVER (PARTITION BY grp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum_t
        |  FROM c),
        |t AS (SELECT grp, CAST(sum(b) AS BIGINT) AS n_base,
        |  CAST(sum(c) AS BIGINT) AS n_cur FROM c GROUP BY 1),
        |r AS (SELECT grp,
        |  CAST(sum(c * (2 * cum_t - (b + c) + 1)) AS BIGINT) AS r2
        |  FROM cum GROUP BY 1)
        |SELECT t.grp, t.n_base, t.n_cur,
        |  CAST(r.r2 - t.n_cur * (t.n_cur + 1) AS BIGINT) AS u2_cur,
        |  CAST(r.r2 - t.n_cur * (t.n_cur + 1) AS DOUBLE) /
        |    CAST(2 * t.n_base * t.n_cur AS DOUBLE) AS auc
        |FROM t JOIN r ON r.grp = t.grp""".stripMargin,

    // identical exact-integer ladder to DataQuality.tvdTest: per-(grp,
    // value) side counts, tvd_num = Σ|b·n_cur − c·n_base| in exact
    // longs (order-independent integer sum), one terminal division
    "dq_tvd" ->
      """WITH e AS (SELECT event_type AS grp, value AS v,
        |  CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END AS cur
        |  FROM events),
        |c AS (SELECT grp, v, sum(1 - cur) AS b, sum(cur) AS c
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(b) AS BIGINT) AS n_base,
        |  CAST(sum(c) AS BIGINT) AS n_cur FROM c GROUP BY 1)
        |SELECT c.grp, t.n_base, t.n_cur,
        |  CAST(sum(abs(b * t.n_cur - c.c * t.n_base)) AS BIGINT)
        |    AS tvd_num,
        |  CAST(sum(abs(b * t.n_cur - c.c * t.n_base)) AS DOUBLE) /
        |    CAST(2 * t.n_base * t.n_cur AS DOUBLE) AS tvd
        |FROM c JOIN t ON t.grp = c.grp
        |GROUP BY 1, 2, 3""".stripMargin,

    // identical pure-integer ladder to DataQuality.quantileShift:
    // side counts on exact cents, cumulative sums over distinct
    // values, decile = min v with 10·cum ≥ q·n — no doubles at all
    "dq_qq" ->
      """WITH e AS (SELECT event_type AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |  CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END AS cur
        |  FROM events),
        |c AS (SELECT grp, v, sum(1 - cur) AS b, sum(cur) AS c
        |      FROM e GROUP BY 1, 2),
        |cum AS (SELECT grp, v, sum(b) OVER w AS cb, sum(c) OVER w AS cc
        |  FROM c WINDOW w AS (PARTITION BY grp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT grp, CAST(sum(b) AS BIGINT) AS n_base,
        |  CAST(sum(c) AS BIGINT) AS n_cur FROM c GROUP BY 1),
        |q AS (SELECT CAST(range AS BIGINT) AS q FROM range(1, 10))
        |SELECT cum.grp, q.q,
        |  CAST(min(CASE WHEN t.n_base > 0 AND cb * 10 >= q.q * t.n_base
        |    THEN v END) AS BIGINT) AS base_cents,
        |  CAST(min(CASE WHEN t.n_cur > 0 AND cc * 10 >= q.q * t.n_cur
        |    THEN v END) AS BIGINT) AS cur_cents,
        |  CAST(min(CASE WHEN t.n_cur > 0 AND cc * 10 >= q.q * t.n_cur
        |    THEN v END) -
        |       min(CASE WHEN t.n_base > 0 AND cb * 10 >= q.q * t.n_base
        |    THEN v END) AS BIGINT) AS shift_cents
        |FROM cum JOIN t ON t.grp = cum.grp CROSS JOIN q
        |GROUP BY 1, 2""".stripMargin,

    // identical exact-long ladder to DataQuality.cusumReport: n×-scaled
    // mean-centered deviations, running sum, running min, peak row by
    // (s DESC, t, eid)
    "dq_cusum" ->
      """WITH e AS (SELECT event_type AS grp, epoch_ns(ts) // 1000 AS t,
        |  event_id AS eid,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events),
        |tt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx FROM e GROUP BY 1),
        |z AS (SELECT e.grp, t, eid, tt.n, tt.n * x - tt.sx AS dev
        |  FROM e JOIN tt ON tt.grp = e.grp),
        |c AS (SELECT grp, t, eid, n, sum(dev) OVER
        |  (PARTITION BY grp ORDER BY t, eid ROWS UNBOUNDED PRECEDING)
        |  AS cum FROM z),
        |s AS (SELECT grp, n, t, eid, cum - least(CAST(0 AS BIGINT),
        |  min(cum) OVER (PARTITION BY grp ORDER BY t, eid
        |    ROWS UNBOUNDED PRECEDING)) AS s FROM c),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY grp ORDER BY s DESC, t, eid) AS rn FROM s)
        |SELECT grp, n, CAST(s AS BIGINT) AS max_cusum,
        |  eid AS cp_event_id, t AS cp_ts
        |FROM r WHERE rn = 1""".stripMargin,

    // same ladder with dev = x − 5000 (no totals pass)
    "dq_cusum_t" ->
      """WITH e AS (SELECT event_type AS grp, epoch_ns(ts) // 1000 AS t,
        |  event_id AS eid,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) - 5000 AS dev
        |  FROM events),
        |c AS (SELECT grp, t, eid, sum(dev) OVER
        |  (PARTITION BY grp ORDER BY t, eid ROWS UNBOUNDED PRECEDING)
        |  AS cum FROM e),
        |s AS (SELECT grp, t, eid, cum - least(CAST(0 AS BIGINT),
        |  min(cum) OVER (PARTITION BY grp ORDER BY t, eid
        |    ROWS UNBOUNDED PRECEDING)) AS s FROM c),
        |tt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM e
        |  GROUP BY 1),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY grp ORDER BY s DESC, t, eid) AS rn FROM s)
        |SELECT r.grp, tt.n, CAST(s AS BIGINT) AS max_cusum,
        |  eid AS cp_event_id, t AS cp_ts
        |FROM r JOIN tt ON tt.grp = r.grp WHERE rn = 1""".stripMargin,

    // identical exact-integer ladder to DataQuality.skewReport: per-key
    // counts, ascending (x, key) rank, gini_num = Σ(2i−n−1)x, hhi_num =
    // Σx², each ratio one terminal division of exact longs
    "dq_skew" ->
      """WITH c AS (SELECT event_type AS grp, user_id AS k,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |r AS (SELECT grp, k, x, row_number() OVER
        |  (PARTITION BY grp ORDER BY x, k) AS i FROM c),
        |t AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(x) AS BIGINT) AS n_rows,
        |  CAST(sum(x * x) AS BIGINT) AS hhi_num,
        |  CAST(max(x) AS BIGINT) AS max_key_rows FROM c GROUP BY 1),
        |g AS (SELECT r.grp,
        |  CAST(sum((2 * i - t.n_keys - 1) * x) AS BIGINT) AS gini_num
        |  FROM r JOIN t ON t.grp = r.grp GROUP BY 1)
        |SELECT t.grp, t.n_keys, t.n_rows, g.gini_num,
        |  CAST(g.gini_num AS DOUBLE) /
        |    CAST(t.n_keys * t.n_rows AS DOUBLE) AS gini,
        |  t.hhi_num,
        |  CAST(t.hhi_num AS DOUBLE) /
        |    CAST(t.n_rows * t.n_rows AS DOUBLE) AS hhi,
        |  t.max_key_rows,
        |  CAST(t.max_key_rows AS DOUBLE) /
        |    CAST(t.n_rows AS DOUBLE) AS top_share
        |FROM t JOIN g ON g.grp = t.grp""".stripMargin,

    // from-scratch recompute over the surviving rows: standing minus
    // retracted (%7) plus inserted (%10), same exact-cents ladder
    "d_mv_inc" ->
      """WITH e AS (SELECT event_id,
        |  event_type || '|' || CAST(user_id AS VARCHAR) AS key,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |live AS (SELECT * FROM e
        |  WHERE (event_id % 10 <> 0 AND event_id % 7 <> 0)
        |     OR event_id % 10 = 0)
        |SELECT key AS k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total
        |FROM live GROUP BY 1""".stripMargin,

    // identical digit extraction (BIGINT decimal rendering) and the
    // same nine shared Benford literals; CASTs keep DuckDB's decimal
    // literals in DOUBLE land (the q19 gotcha)
    "dq_benford" ->
      """WITH e AS (SELECT event_type AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |d AS (SELECT grp,
        |  CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM e WHERE c > 0),
        |cnt AS (SELECT grp, digit, count(*) AS n_obs FROM d GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(n_obs) AS BIGINT) AS n_rows
        |      FROM cnt GROUP BY 1),
        |x AS (SELECT cnt.grp, cnt.digit, CAST(cnt.n_obs AS BIGINT) AS n_obs,
        |  t.n_rows,
        |  CAST(t.n_rows AS DOUBLE) * CAST(CASE cnt.digit
        |    WHEN 1 THEN 0.3010299956639812
        |    WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992
        |    WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482
        |    WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673
        |    WHEN 8 THEN 0.05115252244738129
        |    WHEN 9 THEN 0.04575749056067514 END AS DOUBLE) AS e
        |  FROM cnt JOIN t ON t.grp = cnt.grp)
        |SELECT grp, digit, n_obs, n_rows, e AS expected,
        |  (n_obs - e) * (n_obs - e) / e AS chi2_contrib
        |FROM x""".stripMargin,

    // identical marginals / expectation / contribution op order; every
    // count CAST to BIGINT (DuckDB sum -> HUGEINT otherwise)
    "dq_contingency" ->
      """WITH e AS (SELECT event_type AS a,
        |  'u' || CAST(user_id % 4 AS VARCHAR) AS b FROM events),
        |cells AS (SELECT a, b, count(*) AS n_obs FROM e GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(n_obs) AS BIGINT) AS n_a
        |       FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(n_obs) AS BIGINT) AS n_b
        |       FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM cells),
        |x AS (SELECT ra.a, cb.b,
        |  COALESCE(CAST(cells.n_obs AS BIGINT), CAST(0 AS BIGINT)) AS n_obs,
        |  ra.n_a, cb.n_b, t.n_tot,
        |  CAST(ra.n_a * cb.n_b AS DOUBLE) / CAST(t.n_tot AS DOUBLE) AS e
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
        |  CROSS JOIN t)
        |SELECT a, b, n_obs, n_a, n_b, n_tot, e AS expected,
        |  (n_obs - e) * (n_obs - e) / e AS chi2_contrib FROM x""".stripMargin,

    // identical exact-long ladder: 2x median = c@ceil(n/2) + c@(n/2+1)
    // over cumulative DISTINCT-value counts, 4x MAD over the 2x
    // deviations, Hampel flag as the integer comparison 2*dev2 > 3*mad4
    "dq_mad" ->
      """WITH e AS (SELECT event_type AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |cnt AS (SELECT grp, c, count(*) AS cnt FROM e
        |        WHERE c IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |cum AS (SELECT cnt.grp, c, cnt, t.n,
        |  sum(cnt) OVER (PARTITION BY cnt.grp ORDER BY c) AS cum
        |  FROM cnt JOIN t ON t.grp = cnt.grp),
        |m AS (SELECT grp, n,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN c END) +
        |  min(CASE WHEN cum >= n // 2 + 1 THEN c END) AS med2
        |  FROM cum GROUP BY 1, 2),
        |d AS (SELECT cnt.grp, m.n, abs(2 * c - m.med2) AS dev2,
        |  CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM cnt JOIN m ON m.grp = cnt.grp GROUP BY 1, 2, 3),
        |dcum AS (SELECT grp, n, dev2, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY dev2) AS cum FROM d),
        |md AS (SELECT grp, n,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN dev2 END) +
        |  min(CASE WHEN cum >= n // 2 + 1 THEN dev2 END) AS mad4
        |  FROM dcum GROUP BY 1, 2),
        |o AS (SELECT cnt.grp,
        |  CAST(sum(CASE WHEN 2 * abs(2 * c - m.med2) > 3 * md.mad4
        |    THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers
        |  FROM cnt JOIN m ON m.grp = cnt.grp JOIN md ON md.grp = cnt.grp
        |  GROUP BY 1)
        |SELECT m.grp, m.n, m.med2,
        |  CAST(m.med2 AS DOUBLE) / CAST(2.0 AS DOUBLE) AS median,
        |  md.mad4, CAST(md.mad4 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS mad,
        |  o.n_outliers
        |FROM m JOIN md ON md.grp = m.grp
        |JOIN o ON o.grp = m.grp""".stripMargin,

    // identical 2x-midrank ladder to DataQuality.spearmanTrend:
    // a = 2*RANK + |ties| - 1, five exact-long accumulators, closing
    // sqrt/divide on the shared op order (IEEE correctly rounded)
    "dq_spearman" ->
      """WITH e AS (SELECT event_type AS grp, value AS x,
        |  epoch_ns(ts) // 1000 AS y FROM events),
        |r AS (SELECT grp,
        |  2 * rank() OVER (PARTITION BY grp ORDER BY x) +
        |    count(*) OVER (PARTITION BY grp, x) - 1 AS ax,
        |  2 * rank() OVER (PARTITION BY grp ORDER BY y) +
        |    count(*) OVER (PARTITION BY grp, y) - 1 AS ay
        |  FROM e),
        |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ax) AS BIGINT) AS sax, CAST(sum(ay) AS BIGINT) AS say,
        |  CAST(sum(ax * ax) AS BIGINT) AS sxx_s,
        |  CAST(sum(ay * ay) AS BIGINT) AS syy_s,
        |  CAST(sum(ax * ay) AS BIGINT) AS sxy_s FROM r GROUP BY 1),
        |s AS (SELECT grp, n, n * sxy_s - sax * say AS sxy,
        |  n * sxx_s - sax * sax AS sxx,
        |  n * syy_s - say * say AS syy FROM a)
        |SELECT grp, n, sxy, sxx, syy,
        |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
        |       ELSE CAST(sxy AS DOUBLE) /
        |         (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
        |  END AS rho
        |FROM s""".stripMargin,

    // identical fence arithmetic to DataQuality.iqrOutliers
    "dq_outliers" ->
      """WITH q AS (SELECT event_type AS grp,
        |  quantile_cont(value, 0.25) AS q1,
        |  quantile_cont(value, 0.75) AS q3 FROM events GROUP BY 1),
        |f AS (SELECT grp, q1, q3, q1 - (q3 - q1) * 1.5 AS lo_fence,
        |  q3 + (q3 - q1) * 1.5 AS hi_fence FROM q)
        |SELECT f.grp, round(f.q1, 6) AS q1, round(f.q3, 6) AS q3,
        |  round(f.lo_fence, 6) AS lo_fence, round(f.hi_fence, 6) AS hi_fence,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN f ON e.event_type = f.grp
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // identical exact ladder to DataQuality.iqrOutliersFromCounts:
    // cents counts, cumulative sums, type-7 positions m+1 with dyadic
    // remainder r/4, fences at 1.5·IQR — every double exact, raw hash
    "dq_outliers_c" ->
      """WITH e AS (SELECT event_type AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |cnts AS (SELECT grp, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY 1, 2),
        |cum AS (SELECT grp, c, cnt, sum(cnt) OVER (PARTITION BY grp
        |  ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum FROM cnts),
        |t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cnts GROUP BY 1),
        |p AS (SELECT grp, n,
        |  (n - 1) // 4 + 1 AS pos1, least((n - 1) // 4 + 2, n) AS pos2,
        |  (n - 1) % 4 AS r1,
        |  (3 * (n - 1)) // 4 + 1 AS pos3,
        |  least((3 * (n - 1)) // 4 + 2, n) AS pos4,
        |  (3 * (n - 1)) % 4 AS r3 FROM t),
        |xs AS (SELECT cum.grp, p.n, p.r1, p.r3,
        |  min(CASE WHEN cum >= pos1 THEN c END) AS x1,
        |  min(CASE WHEN cum >= pos2 THEN c END) AS x2,
        |  min(CASE WHEN cum >= pos3 THEN c END) AS x3,
        |  min(CASE WHEN cum >= pos4 THEN c END) AS x4
        |  FROM cum JOIN p ON p.grp = cum.grp GROUP BY 1, 2, 3, 4),
        |q AS (SELECT grp, n,
        |  x1 + CAST(r1 * (x2 - x1) AS DOUBLE) / CAST(4 AS DOUBLE) AS q1,
        |  x3 + CAST(r3 * (x4 - x3) AS DOUBLE) / CAST(4 AS DOUBLE) AS q3
        |  FROM xs),
        |f AS (SELECT grp, n, q1, q3,
        |  q1 - (q3 - q1) * CAST(1.5 AS DOUBLE) AS lo_fence,
        |  q3 + (q3 - q1) * CAST(1.5 AS DOUBLE) AS hi_fence FROM q)
        |SELECT f.grp, f.q1, f.q3, f.lo_fence, f.hi_fence,
        |  f.n AS n_rows,
        |  CAST(sum(CASE WHEN cnts.c < f.lo_fence OR cnts.c > f.hi_fence
        |    THEN cnts.cnt ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM cnts JOIN f ON cnts.grp = f.grp
        |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    "d_compact" ->
      s"""SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
         |  bit_xor(${Hashing.hash60Sql("text")}) AS xh,
         |  1 AS files_after
         |FROM documents GROUP BY 1""".stripMargin,

    "d_overlap_sketch" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 256
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT CAST(source[4:] AS INT) % 2 AS corpus,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT corpus, ${H(gram3)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |d AS (SELECT DISTINCT corpus, h FROM sh),
         |r2 AS (SELECT corpus, h,
         |  row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn FROM d),
         |sk AS (SELECT corpus, list(h ORDER BY h) AS sk FROM r2
         |  WHERE rn <= $k GROUP BY corpus),
         |ex AS (SELECT
         |  count(DISTINCT CASE WHEN corpus = 0 THEN h END) AS exact_a,
         |  count(DISTINCT CASE WHEN corpus = 1 THEN h END) AS exact_b,
         |  count(DISTINCT h) AS exact_union FROM d),
         |ab AS (SELECT (SELECT sk FROM sk WHERE corpus = 0) AS sk_a,
         |  (SELECT sk FROM sk WHERE corpus = 1) AS sk_b),
         |u AS (SELECT sk_a, sk_b,
         |  list_sort(list_distinct(sk_a || sk_b))[1:$k] AS uni FROM ab),
         |m AS (SELECT sk_a, sk_b, uni, len(uni) AS kk,
         |  len(list_filter(uni, x -> list_contains(sk_a, x)
         |    AND list_contains(sk_b, x))) AS rho_num FROM u),
         |est AS (SELECT kk, rho_num,
         |  ${KmvSketch.oracleEstimateSql("sk_a", k)} AS est_a,
         |  ${KmvSketch.oracleEstimateSql("sk_b", k)} AS est_b,
         |  ${KmvSketch.oracleEstimateSql("uni", k)} AS est_union FROM m)
         |SELECT exact_a, exact_b, exact_union,
         |  exact_a + exact_b - exact_union AS exact_inter,
         |  est_a, est_b, est_union, kk, rho_num,
         |  floor(CAST(rho_num AS DOUBLE) / kk * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS jaccard_est,
         |  floor(CAST(rho_num AS DOUBLE) / kk * est_union * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS inter_est
         |FROM est, ex""".stripMargin
    },

    "d_overlap_matrix" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 128
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT source AS s,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT s, ${H(gram3)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |d AS (SELECT DISTINCT s, h FROM sh),
         |r2 AS (SELECT s, h,
         |  row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM d),
         |sk AS (SELECT s, list(h ORDER BY h) AS sk FROM r2
         |  WHERE rn <= $k GROUP BY s),
         |ex AS (SELECT s, count(*) AS n FROM d GROUP BY s),
         |p AS (SELECT a.s AS s1, b.s AS s2, a.sk AS sk1, b.sk AS sk2
         |  FROM sk a JOIN sk b ON a.s < b.s),
         |u AS (SELECT s1, s2, sk1, sk2,
         |  list_sort(list_distinct(sk1 || sk2))[1:$k] AS uni FROM p),
         |m AS (SELECT s1, s2, sk1, sk2, uni, len(uni) AS kk,
         |  len(list_filter(uni, x -> list_contains(sk1, x)
         |    AND list_contains(sk2, x))) AS rho_num FROM u),
         |est AS (SELECT s1, s2, kk, rho_num,
         |  ${KmvSketch.oracleEstimateSql("uni", k)} AS est_union FROM m)
         |SELECT s1, s2, ea.n AS n_s1, eb.n AS n_s2, est_union,
         |  floor(CAST(rho_num AS DOUBLE) / kk * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS jaccard_est,
         |  floor(CAST(rho_num AS DOUBLE) / kk * est_union * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS inter_est
         |FROM est
         |JOIN ex ea ON ea.s = est.s1
         |JOIN ex eb ON eb.s = est.s2""".stripMargin
    },

    "d_kmv_diff" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 256
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT CAST(source[4:] AS INT) % 2 AS corpus,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT corpus, ${H(gram3)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |d AS (SELECT DISTINCT corpus, h FROM sh),
         |r2 AS (SELECT corpus, h,
         |  row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn FROM d),
         |sk AS (SELECT corpus, list(h ORDER BY h) AS sk FROM r2
         |  WHERE rn <= $k GROUP BY corpus),
         |ex AS (SELECT
         |  count(DISTINCT CASE WHEN corpus = 0 THEN h END) AS exact_a,
         |  count(DISTINCT CASE WHEN corpus = 1 THEN h END) AS exact_b,
         |  count(DISTINCT h) AS exact_union FROM d),
         |ab AS (SELECT (SELECT sk FROM sk WHERE corpus = 0) AS sk_a,
         |  (SELECT sk FROM sk WHERE corpus = 1) AS sk_b),
         |u AS (SELECT sk_a, sk_b,
         |  list_sort(list_distinct(sk_a || sk_b))[1:$k] AS uni FROM ab),
         |m AS (SELECT uni, len(uni) AS kk,
         |  len(list_filter(uni, x -> list_contains(sk_a, x)
         |    AND NOT list_contains(sk_b, x))) AS rho_a_only FROM u),
         |est AS (SELECT kk, rho_a_only,
         |  ${KmvSketch.oracleEstimateSql("uni", k)} AS est_union FROM m)
         |SELECT exact_a, exact_union - exact_b AS exact_diff,
         |  kk, rho_a_only,
         |  floor(CAST(rho_a_only AS DOUBLE) / kk * est_union
         |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS diff_est
         |FROM est, ex""".stripMargin
    },

    // the maintained synopsis provably equals the full recompute, so
    // the oracle computes ONE synopsis and serves both estimates
    "d_kmv_inc" -> {
      val gram3 = "concat_ws(' ', " +
        (1 to 3).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 256
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT ${H(gram3)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 3),
         |d AS (SELECT DISTINCT h FROM sh),
         |r2 AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM d),
         |sk AS (SELECT list(h ORDER BY h) AS sk FROM r2 WHERE rn <= $k),
         |ex AS (SELECT count(*) AS exact_n FROM d),
         |est AS (SELECT ${KmvSketch.oracleEstimateSql("sk", k)} AS e FROM sk)
         |SELECT exact_n, e AS est_inc, e AS est_full, 1 AS same_synopsis
         |FROM est, ex""".stripMargin
    },

    // the maintained synopsis provably equals the full recompute, so the
    // oracle computes ONE synopsis per source and pins same_synopsis = 1
    // the maintained-synopsis refresh must equal the full set-function
    // replay (KMV's merge-losslessness, proven by d_kmv_inc /
    // d_decontam_inc's same_synopsis) — so the oracle just computes the
    // synopses over base+batch directly
    "d_decontam_kmv" -> {
      val gram8 = "concat_ws(' ', " +
        (1 to 8).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 128
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT source,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT source, ${H(gram8)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 8),
         |d AS (SELECT DISTINCT source, h FROM sh WHERE source <> 'src0'),
         |ev AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
         |r2 AS (SELECT source, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r2
         |  WHERE rn <= $k GROUP BY source),
         |re AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ev),
         |ske AS (SELECT list(h ORDER BY h) AS sk_eval FROM re WHERE rn <= $k),
         |u AS (SELECT source, sk, sk_eval,
         |  list_sort(list_distinct(sk || sk_eval))[1:$k] AS uni FROM sk, ske),
         |m AS (SELECT source, uni, len(uni) AS kk,
         |  len(list_filter(uni, x -> list_contains(sk, x)
         |    AND list_contains(sk_eval, x))) AS rho FROM u),
         |est AS (SELECT source, kk, rho,
         |  ${KmvSketch.oracleEstimateSql("uni", k)} AS est_union FROM m)
         |SELECT source, kk, rho, est_union,
         |  floor(CAST(rho AS DOUBLE) / kk * est_union * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS inter_est
         |FROM est""".stripMargin
    },

    "d_decontam_inc" -> {
      val gram8 = "concat_ws(' ', " +
        (1 to 8).map(j => s"toks[i+$j]").mkString(", ") + ")"
      val k = 128
      import graft.functions.KmvSketch
      s"""WITH t AS (SELECT source,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT source, ${H(gram8)} AS h
         |  FROM t, (SELECT unnest(range((SELECT max(len(toks)) FROM t))) AS i) r
         |  WHERE i <= len(toks) - 8),
         |d AS (SELECT DISTINCT source, h FROM sh WHERE source <> 'src0'),
         |ev AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
         |r2 AS (SELECT source, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r2
         |  WHERE rn <= $k GROUP BY source),
         |re AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ev),
         |ske AS (SELECT list(h ORDER BY h) AS sk_eval FROM re WHERE rn <= $k),
         |ex AS (SELECT source, count(*) AS exact_src FROM d GROUP BY source),
         |exi AS (SELECT d.source, count(*) AS exact_inter
         |  FROM d JOIN ev ON d.h = ev.h GROUP BY d.source),
         |u AS (SELECT source, sk, sk_eval,
         |  list_sort(list_distinct(sk || sk_eval))[1:$k] AS uni FROM sk, ske),
         |m AS (SELECT source, uni, len(uni) AS kk,
         |  len(list_filter(uni, x -> list_contains(sk, x)
         |    AND list_contains(sk_eval, x))) AS rho FROM u),
         |est AS (SELECT source, kk, rho,
         |  ${KmvSketch.oracleEstimateSql("uni", k)} AS est_union FROM m)
         |SELECT est.source, exact_src,
         |  COALESCE(exact_inter, 0) AS exact_inter, kk, rho, est_union,
         |  1 AS same_synopsis,
         |  floor(CAST(rho AS DOUBLE) / kk * est_union * 10000.0e0 + 0.5e0)
         |    / 10000.0e0 AS inter_est
         |FROM est
         |JOIN ex ON ex.source = est.source
         |LEFT JOIN exi ON exi.source = est.source""".stripMargin
    }
  )

  // the native as-of formulation answers to the composed one's oracle,
  // and the broadcast physical strategy answers to the merge exec's
  val oracles: Map[String, String] = oraclesBase +
    ("d_scd2_join_native" -> oraclesBase("d_scd2_join")) +
    ("d_asof_bcast" -> oraclesBase("d_asof_native"))
}
