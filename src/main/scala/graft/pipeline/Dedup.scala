package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.functions.Hashing
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard. Everything is
  * expressed with codegen'd column functions over the portable
  * [[Hashing.hash60]], so results are deterministic, partitioning-
  * independent, and reproducible by the DuckDB oracle.
  *
  * Scale shape (100 TB corpus):
  *  - exact: one hash-shuffle on a 60-bit digest — no full-text compare.
  *  - MinHash: signatures are one fused native expression per document
  *    in a single scan, spread over every core first when the scan has
  *    fewer splits than cores; LSH banding turns all-pairs into
  *    per-bucket joins, the standard way near-dup detection survives
  *    web scale. Candidate verification joins stay per-bucket.
  *  - SimHash: one scan to 60-bit sketches (one fused expression per
  *    document, spread as MinHash is); Hamming-near pairs via
  *    pigeonhole band-join on sketch bands + exact popcount verify.
  */
object Dedup {

  val NumHashes = 16
  val BandSize = 4
  def numBands: Int = NumHashes / BandSize

  /** Mersenne prime modulus for the affine MinHash permutations. One md5
    * base hash per shingle + 16 integer (a·x+b) mod p maps — 16× less
    * hashing than 16 md5s, with a·x ≤ 2^62 so the arithmetic never
    * overflows BIGINT (DuckDB errors on overflow; Spark would wrap —
    * staying under 2^63 keeps both engines identical). */
  val MinHashP: Long = (1L << 31) - 1

  /** Affine coefficients (a_h, b_h), a_h ∈ [1, p-1], b_h ∈ [0, p-1],
    * derived from the portable hash so the oracle uses the same values. */
  def minHashCoeffs(h: Int): (Long, Long) = (
    (Hashing.hash60Local(s"minhash-a$h") % (MinHashP - 1)) + 1,
    Hashing.hash60Local(s"minhash-b$h") % MinHashP)

  /** Exact-duplicate groups: content digest → group size (count > 1 are
    * duplicate sets). Deterministic; never compares full texts. */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(Hashing.hash60(text).as("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(id).as("keeper_id"))

  /** MinHash signatures: one row per doc with mh0..mh15 columns — min
    * over affine permutations of the word-3-gram shingle base hash. */
  def minHashSignatures(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // Fused row-local form (r13, graft.functions.MinHashSigExpr): one
    // native loop per document replaces the exploded-shingle rows, the
    // interpreted shingle lambda, and the groupBy exchange, values
    // bit-identical to the aggregate form below (PipelineSpec pins it).
    // No exchange of its own: a narrow scan with fewer splits than cores
    // is spread first (Ops.spread, one round-robin exchange of the
    // documents), a scan with enough splits runs shuffle-free. Docs
    // shorter than the shingle width yield a null signature and are
    // filtered, exactly the rows the aggregate form never produced a
    // group for.
    val coeffs = (0 until NumHashes).map(minHashCoeffs)
    val sig = Ops.spread(docs)
      .select(id.as("doc_id"), TextAnalysis.tokens(text).as("toks"))
      // filter on the CHEAP size predicate, not sig.isNotNull: the
      // optimizer pushes filters into the scan, and a sig-referencing
      // predicate would evaluate the md5 chain once in the filter and
      // again in the projection (guide §4.4's duplicated-UDF shape)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), graft.functions.MinHashSigExpr.minHashSig(
        col("toks"), 3, coeffs.map(_._1), coeffs.map(_._2), MinHashP).as("sig"))
    sig.select(col("doc_id") +:
      (0 until NumHashes).map(h => col("sig").getItem(h).as(s"mh$h")): _*)
  }

  /** The original exploded-shingle aggregate form — kept as the
    * bit-identity cross-check reference for [[minHashSignatures]]
    * (PipelineSpec). */
  def minHashSignaturesAgg(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val sh = TextAnalysis.explodedShingles(docs, id, text, 3)
      .select(col("doc_id"), (Hashing.hash60(col("sh")) % MinHashP).as("x"))
    val aggs = (0 until NumHashes).map { h =>
      val (a, b) = minHashCoeffs(h)
      min((lit(a) * col("x") + lit(b)) % MinHashP).as(s"mh$h")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-shingle base hashes as a row-local ARRAY — `hash60(shingle) %
    * p`, the value the affine permutations map over. `toks` must be a
    * PRE-BOUND token-array attribute (select `TextAnalysis.tokens(text)`
    * first): shingle construction references the token array 3n times,
    * and an inlined `split()` would re-tokenize the document for each
    * reference ([[TextAnalysis.shinglesFromTokens]] contract). Bind the
    * result to an attribute before feeding [[rowSignature]] (it
    * references this array 16 times). */
  def baseHashes(toks: Column): Column =
    transform(TextAnalysis.shinglesFromTokens(toks, 3), s => Hashing.hash60(s) % MinHashP)

  /** Row-local MinHash signature mh0..mh15 over a pre-bound
    * [[baseHashes]] array — identical values to the
    * [[minHashSignatures]] aggregate (asserted in PipelineSpec), but
    * STATELESS: the form a streaming pipeline needs, where no
    * shuffle/groupBy may precede the stateful stage. Empty array (doc
    * shorter than the shingle width) yields nulls — filter upstream. */
  def rowSignature(xs: Column): Seq[Column] =
    (0 until NumHashes).map { h =>
      val (a, b) = minHashCoeffs(h)
      array_min(transform(xs, x => (lit(a) * x + lit(b)) % MinHashP)).as(s"mh$h")
    }

  /** Array-of-structs (band, band_hash) over the mh0..mh15 columns —
    * shared by the batch band table and the streaming band explode. */
  def bandStructs: Column = array((0 until numBands).map { b =>
    val cols = (b * BandSize until (b + 1) * BandSize).map(h => col(s"mh$h"))
    struct(lit(b).as("band"),
      Hashing.hash60(concat_ws(",", cols: _*)).as("band_hash"))
  }: _*)

  /** LSH band table: (doc_id, band, band_hash) — docs sharing any
    * (band, band_hash) are near-dup candidates. */
  def lshBands(signatures: DataFrame): DataFrame =
    signatures.select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))

  /** Candidate pairs (a < b) from a signature frame, deduped across
    * bands. The join is keyed on (band, band_hash): only same-bucket
    * docs ever meet — no all-pairs blow-up.
    *
    * `maxBucket` caps the self-joined bucket size: candidate volume is
    * Σ|bucket|², so one degenerate bucket (boilerplate shingles, empty
    * docs) can dominate the whole job at corpus scale. The cap is an
    * explicit, reportable drop — pair it with [[oversizedBuckets]] for
    * the overflow count — never a silent truncation; recall loss is
    * confined to pathological buckets whose pairs a threshold-verify
    * stage would mostly reject anyway. Default keeps every bucket (the
    * oracle-checked gate behavior). */
  def candidatesFromSignatures(signatures: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    val bands = lshBands(signatures)
    val kept =
      if (maxBucket == Int.MaxValue) bands
      else {
        val sizes = bands.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("bsz"))
          .where(col("bsz") <= maxBucket)
        bands.join(sizes.select("band", "band_hash"), Seq("band", "band_hash"), "left_semi")
      }
    val l = kept.select(col("band"), col("band_hash"), col("doc_id").as("a"))
    val r = kept.select(col("band"), col("band_hash"), col("doc_id").as("b"))
    l.join(r, Seq("band", "band_hash"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Count of buckets a `maxBucket` cap would drop — the explicit
    * overflow report to pair with [[candidatesFromSignatures]]. */
  def oversizedBuckets(signatures: DataFrame, maxBucket: Int): Long =
    lshBands(signatures).groupBy("band", "band_hash")
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .count()

  /** MinHash/LSH candidate duplicate pairs (a < b). */
  def minHashCandidates(docs: DataFrame, id: Column, text: Column): DataFrame =
    // lazy localCheckpoint: the self-joined band table references the
    // signature frame on BOTH sides, and with the shuffle-free fused
    // signature (r13) there is no exchange for ReuseExchange to dedup —
    // without truncation each side would recompute every md5. The first
    // join-side materialization computes signatures exactly once.
    candidatesFromSignatures(
      minHashSignatures(docs, id, text).localCheckpoint(false))

  /** Winnowing near-dup candidates — the MOSS use-case, closing the loop
    * on [[TextAnalysis.winnowFingerprints]]: documents sharing ≥
    * `minShared` distinct fingerprint hashes are candidate near-dups,
    * with the detection guarantee that any shared token run of length ≥
    * w+k−1 produces a shared fingerprint (so true near-dups can't hide).
    * Scale shape mirrors the LSH path: the fingerprint hash is the band
    * space, pairs form only inside per-fingerprint buckets, and buckets
    * larger than `maxBucket` docs are dropped (boilerplate grams that
    * would quadratically blow up — same policy as
    * [[candidatesFromSignatures]]'s cap; never all-pairs). */
  def winnowCandidates(docs: DataFrame, id: Column, text: Column,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxBucket: Int = 64): DataFrame = {
    val fps = TextAnalysis.winnowFingerprints(docs, id, text, k, w)
      .select(col("doc_id"), col("h")).distinct()
    val small = fps.groupBy("h").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") <= maxBucket).select("h")
    val banded = fps.join(small, Seq("h"))
    banded.select(col("h"), col("doc_id").as("a"))
      .join(banded.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Incremental near-dup — the nightly-crawl shape: candidates of a NEW
    * batch against an EXISTING corpus, by bucket-joining the batch's LSH
    * bands with the corpus' bands. Batch×batch and corpus×corpus pairs
    * are never formed, so a day's crawl costs O(batch bands ⋈ matching
    * buckets) no matter how large the corpus grows; the corpus side is a
    * precomputed signature store ([[minHashSignatures]] persisted once,
    * appended per refresh), never re-shingled. MinHash signatures are
    * per-document, so batch and corpus sides can be computed
    * independently and still share one band space. */
  def minHashCandidatesIncremental(corpusSigs: DataFrame,
      batchSigs: DataFrame): DataFrame = {
    val cb = lshBands(corpusSigs)
      .select(col("band"), col("band_hash"), col("doc_id").as("corpus_id"))
    val nb = lshBands(batchSigs)
      .select(col("band"), col("band_hash"), col("doc_id").as("new_id"))
    nb.join(cb, Seq("band", "band_hash"))
      .select("new_id", "corpus_id").distinct()
  }

  /** Candidates with the MinHash Jaccard estimate: the fraction of the
    * 16 signature components the pair agrees on. The estimate is free
    * (signatures already exist); exact verification (ngramJaccard) is
    * reserved for pairs above threshold. */
  def minHashScored(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val sig = minHashSignatures(docs, id, text)
    val mh = (0 until NumHashes).map(h => s"mh$h")
    val sa = sig.select(col("doc_id").as("a") +: mh.map(c => col(c).as(s"a_$c")): _*)
    val sb = sig.select(col("doc_id").as("b") +: mh.map(c => col(c).as(s"b_$c")): _*)
    candidatesFromSignatures(sig)
      .join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        // raw agree/64 — an exact integer over a power of two is an
        // exact double, and gating it raw avoids the decimal-round
        // half-ulp hazard class (VERDICT r8 #2 sweep)
        (mh.map(c => when(col(s"a_$c") === col(s"b_$c"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / NumHashes).as("est_jaccard"))
  }

  /** Sketch width. 60, not 64: the portable [[Hashing.hash60]] yields 60
    * independent bits, and staying below the BIGINT sign bit keeps the
    * arithmetic identical in Spark and DuckDB (DuckDB errors on BIGINT
    * overflow; bit 63 would flip the sign). At 2^60 sketch space a web
    * corpus no longer collapses into the 65 536 buckets of a 16-bit
    * sketch — each 20-bit band alone has 2^20 buckets. */
  val SimHashBits = 60

  /** Bit-counters packed per aggregation long: 3 counters × 20 bits. A
    * counter holds the per-doc count of set token-hash bits for one
    * sketch position, so documents up to 2^20 tokens (~5 MB of text)
    * are safe from counter overflow — document that ceiling rather
    * than pay 60 separate sum() columns (the naive formulation's plan
    * is 4-5× slower end to end: the giant expression tree dominates
    * analysis + codegen, and the aggregate row is 4× wider). */
  private val CountersPerLong = 3
  private val CounterBits = 20

  /** 60-bit SimHash over token hashes: bit j set iff the sum over tokens
    * of ±1 (sign of token-hash bit j) is positive — computed as
    * 2·count_of_ones(j) > ntokens, the 60 one-counts kept in one native
    * loop per document. Identical output to the per-bit formulation
    * (the DuckDB oracle still computes the plain 60-sum form).
    * Duplicate tokens weigh multiply — standard SimHash with unit
    * weights. */
  def simHash(docs: DataFrame, id: Column, text: Column): DataFrame =
    // Fused row-local form (r13, graft.functions.SimHashExpr): one
    // native loop per document — no exploded token rows, no per-token
    // 60-shift packing tree, no groupBy exchange. The only exchange is
    // Ops.spread's, on a narrow scan with fewer splits than cores.
    // Sketch values bit-identical to the packed aggregate form kept
    // below (PipelineSpec pins it); empty docs filtered on the cheap
    // size predicate, exactly the rows the aggregate never grouped.
    Ops.spread(docs).select(id.as("doc_id"), TextAnalysis.tokens(text).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHashExpr.simHash60(col("toks")).as("simhash"))

  /** The original packed-counter aggregate form — kept as the
    * bit-identity cross-check reference for [[simHash]] (PipelineSpec). */
  def simHashAgg(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(TextAnalysis.tokens(text)).as("w"))
      .withColumn("th", Hashing.hash60(col("w")))
    val nPacks = SimHashBits / CountersPerLong
    val packs = (0 until nPacks).map { p =>
      sum((0 until CountersPerLong).map { k =>
        val j = p * CountersPerLong + k
        // bit j of th, shifted into counter slot k
        shiftleft(shiftright(col("th"), j).bitwiseAND(lit(1L)), k * CounterBits)
      }.reduce(_ + _)).as(s"p$p")
    }
    val sketch = (0 until SimHashBits).map { j =>
      val p = j / CountersPerLong
      val k = j % CountersPerLong
      val ones = shiftright(col(s"p$p"), k * CounterBits)
        .bitwiseAND(lit((1L << CounterBits) - 1))
      when(ones * 2 > col("ntok"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // Enforce the packed-counter ceiling instead of silently carrying
    // into the adjacent 20-bit slot: a doc with >= 2^20 tokens fails
    // loudly (pre-truncate upstream if such docs are expected).
    toks.groupBy("doc_id").agg(packs.head, (packs.tail :+ count(lit(1)).as("ntok")): _*)
      .select(col("doc_id"),
        when(col("ntok") < lit(1L << CounterBits), sketch)
          .otherwise(raise_error(format_string(
            "simHash counter overflow: document %s has %s tokens (max %s)",
            col("doc_id").cast("string"), col("ntok"),
            lit((1L << CounterBits) - 1))).cast("long"))
          .as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`, via
    * band-partitioned probing (pigeonhole): the 60-bit sketch splits into
    * `maxDist + 1` contiguous bands, and two sketches within `maxDist`
    * bit flips must agree exactly on at least one band — so candidates
    * meet on (band, band bits) equality and the exact xor-popcount check
    * runs only inside buckets. Unlike flat bit-flip expansion
    * (C(60,≤2) = 1831 probes per doc), this emits `maxDist + 1` rows per
    * doc and each band key carries ≥20 bits, so bucket cardinality
    * survives a web-scale corpus. The oracle is the plain all-pairs
    * xor-popcount filter — equal by construction (banding has perfect
    * recall at ≤ maxDist; the popcount filter removes false positives). */
  def simHashNearPairs(docs: DataFrame, id: Column, text: Column, maxDist: Int = 2): DataFrame = {
    val nb = maxDist + 1
    val bandBits = SimHashBits / nb
    // lazy localCheckpoint (r13): with the shuffle-free fused sketch
    // there is no exchange below the band self-join for ReuseExchange
    // to dedup — truncate so each side reads the sketches, not the md5s
    val sh = simHash(docs, id, text).localCheckpoint(false)
    def banded(idAs: String, shAs: String) =
      sh.select(col("doc_id").as(idAs), col("simhash").as(shAs),
        explode(array((0 until nb).map { b =>
          val width = if (b == nb - 1) SimHashBits - b * bandBits else bandBits
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * bandBits)
              .bitwiseAND(lit((1L << width) - 1)).as("bits"))
        }: _*)).as("bb"))
      .select(col(idAs), col(shAs), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val l = banded("a", "sha")
    val r = banded("b", "shb")
    l.join(r, Seq("band", "bits"))
      .where(col("a") < col("b") &&
        expr("bit_count(sha ^ shb)") <= maxDist)
      .select("a", "b").distinct()
  }

  /** The full production near-dup chain: LSH candidates → MinHash
    * Jaccard estimate → threshold → EXACT word-set Jaccard verification
    * of the survivors only. Each stage shrinks the pair set, so the
    * expensive exact check touches a vanishing fraction of the corpus —
    * the 100 TB shape end to end. */
  def dedupPipeline(docs: DataFrame, id: Column, text: Column,
      estThreshold: Double): DataFrame = {
    val candidates = minHashScored(docs, id, text)
      .where(col("est_jaccard") >= estThreshold)
    ngramJaccard(docs, id, text, candidates.select("a", "b"))
      .join(candidates, Seq("a", "b"))
      .select(col("a"), col("b"), col("est_jaccard"), col("jaccard"))
  }

  /** Canonical dedup clusters: connected components over the near-dup
    * candidate graph, keeper = the smallest doc_id of each cluster.
    * Near-duplication is not transitive pair-by-pair, but production
    * dedup keeps ONE representative per connected cluster (else A~B,
    * B~C with keeper-per-pair can drop both B and C yet keep neither
    * linked doc consistent). Composes the engine's own O(log n)
    * large-star/small-star CC over the LSH pairs — graph machinery and
    * pipeline machinery are the same engine. Output: one row per
    * clustered doc (docs with no near-dup are implicitly their own
    * keeper and don't appear). */
  def dedupClusters(spark: SparkSession, docs: DataFrame, id: Column, text: Column): DataFrame = {
    val pairs = minHashCandidates(docs, id, text)
    graft.graph.ConnectedComponents
      .run(spark, pairs.select(col("a").as("src"), col("b").as("dst")))
      .select(col("v").as("doc_id"), col("comp").as("keeper_id"))
  }

  /** Quality-priority near-dup resolution: within each LSH-derived
    * near-dup cluster ([[dedupClusters]]), KEEP the member with the
    * highest quality score (ties → smallest doc_id) instead of the
    * conventional min-id representative — the curation policy that
    * retains the cleanest copy of a boilerplate family rather than an
    * arbitrary one. Cluster argmax is one struct-max aggregate
    * (map-side combinable); quality scores compare on their 6-dp
    * rounded values, so the pick is engine-portable. Emits only docs
    * that are IN a cluster, like dedupClusters. */
  def dedupKeepBest(spark: SparkSession, docs: DataFrame,
      id: Column, text: Column): DataFrame = {
    val clusters = dedupClusters(spark, docs, id, text)
    val q = TextAnalysis.quality(docs, id, text)
      .select(col("doc_id"), col("quality_score"))
    val j = clusters.join(q, "doc_id")
    val best = j.groupBy("keeper_id")
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("negid"))).as("b"))
      .select(col("keeper_id"), col("b.negid").as("negbest"))
    j.join(best, "keeper_id")
      .select(col("doc_id"), col("keeper_id").as("cluster"),
        col("quality_score"), (col("doc_id") === -col("negbest")).as("kept"))
  }

  /** Incremental exact dedup — the daily-ingest shape: drop new
    * documents whose content digest already exists in the accumulated
    * corpus, then keep one representative (min doc_id) per digest within
    * the new batch itself. Only 60-bit digests ever join — never text —
    * and the anti-join shuffles on the digest, the right shape when the
    * EXISTING side is the big one (a year of corpus vs a day of intake);
    * at extreme scale a bloom filter built over the existing digests
    * prefilters the join input, trading one scan for most of the
    * shuffle.
    *
    * @return surviving new docs as (doc_id, content_hash). */
  def exactIncremental(newDocs: DataFrame, existing: DataFrame,
      id: Column, text: Column): DataFrame = {
    val newH = newDocs.select(id.as("doc_id"), Hashing.hash60(text).as("content_hash"))
    val oldH = existing.select(Hashing.hash60(text).as("content_hash")).distinct()
    newH.join(oldH, Seq("content_hash"), "left_anti")
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "content_hash")
  }

  /** Benchmark decontamination — flag training documents sharing any
    * word n-gram with an evaluation/benchmark corpus: the standard
    * overlap check run before training so eval answers don't leak into
    * the training set (n = 8–13 words in practice; shorter n-grams occur
    * by chance in any natural corpus).
    *
    * Scale shape: shingles are hashed to 60-bit fingerprints so the
    * benchmark side collapses to a compact distinct-Long set that is
    * BROADCAST — an eval suite is tiny next to a training corpus, so the
    * corpus side never shuffles for the membership check: scan → explode
    * → hash → broadcast hash-join → count. The broadcast join runs
    * BEFORE the per-doc distinct, so the only corpus shuffle carries the
    * contamination candidates' (doc_id, hash) pairs — nothing pushes a
    * join below an Aggregate, so ordering it this way in the plan is on
    * us, not Catalyst.
    *
    * @return (doc_id, n_overlap) — contaminated training docs with the
    *         count of DISTINCT shared n-grams; clean docs don't appear.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
      id: Column, text: Column, n: Int = 8): DataFrame = {
    def hashed(df: DataFrame) =
      TextAnalysis.explodedShingleHashes(df, id, text, n)
        .select(col("doc_id"), col("h").as("g"))
    val benchSet = hashed(bench).select("g").distinct()
    hashed(train)
      .join(broadcast(benchSet), "g")
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n_overlap"))
  }

  /** Cross-source n-gram overlap matrix — the corpus-composition
    * diagnostic run before mixing data sources: for every source pair,
    * the distinct-shingle intersection, Jaccard, and containment
    * (overlap coefficient). High containment of a small source in a big
    * one means the small source is redundant; high pairwise Jaccard
    * means double-counted crawl slices.
    *
    * Scale shape: text collapses to distinct (source, 60-bit gram
    * fingerprint) pairs FIRST — the only thing that ever shuffles is a
    * 16-byte row, never text ([[decontaminate]]'s discipline). The
    * pair join is keyed on the gram and fans out |sources ∋ gram|² per
    * gram, bounded by the source-universe size squared — source counts
    * are catalog-sized (10²–10⁴), not data-sized, at any corpus scale.
    * Counts are exact integers; the two ratios are single IEEE
    * divisions of exact integers, bit-identical in any engine.
    *
    * @return (s1, s2, n_s1, n_s2, n_common, jaccard, containment) per
    *         unordered source pair with at least one shared gram. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
      n: Int = 3): DataFrame = {
    val sg = TextAnalysis.explodedShingleHashes(docs, source, text, n)
      .select(col("doc_id").as("s"), col("h").as("g"))
      .distinct()
      // lazy localCheckpoint (r13): sg feeds counts + both pair sides
      .localCheckpoint(false)
    val counts = sg.groupBy("s").agg(count(lit(1)).as("ng"))
    val pairs = sg.select(col("s").as("s1"), col("g"))
      .join(sg.select(col("s").as("s2"), col("g")), "g")
      .where(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_common"))
    pairs
      .join(counts.select(col("s").as("s1"), col("ng").as("n_s1")), "s1")
      .join(counts.select(col("s").as("s2"), col("ng").as("n_s2")), "s2")
      .select(col("s1"), col("s2"), col("n_s1"), col("n_s2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_s1") + col("n_s2") - col("n_common"))).as("jaccard"),
        (col("n_common").cast("double") /
          least(col("n_s1"), col("n_s2"))).as("containment"))
  }

  /** [[sourceOverlap]]'s SKETCHED twin: the full pairwise overlap matrix
    * from one k-minimum-values synopsis per source
    * ([[graft.functions.KmvSketch]], Beyer et al. SIGMOD 2007) instead
    * of the exact n-gram self-join. One aggregation pass builds the
    * synopses (≤ k longs per source through the shuffle); the pair
    * matrix is then a broadcast join of |sources| tiny rows, and union
    * DV / Jaccard / intersection estimates are plain array functions —
    * at 100 TB the per-source synopses are maintained incrementally and
    * the matrix costs nothing to recompute, where the exact join
    * re-shuffles every n-gram. Estimates are floor-rounded to 4
    * decimals; `n_s1`/`n_s2` carry the exact per-source counts. */
  def sourceOverlapSketch(docs: DataFrame, source: Column, text: Column,
      n: Int = 3, k: Int = 256): DataFrame = {
    import graft.functions.KmvSketch
    val sg = TextAnalysis.explodedShingleHashes(docs, source, text, n)
      .select(col("doc_id").as("s"), col("h"))
    val sk = sg.groupBy("s")
      .agg(KmvSketch.kmv(col("h"), k).as("sk"), countDistinct("h").as("n"))
    val pairs = sk.select(col("s").as("s1"), col("sk").as("sk1"),
        col("n").as("n_s1"))
      .join(broadcast(sk.select(col("s").as("s2"), col("sk").as("sk2"),
        col("n").as("n_s2"))), col("s1") < col("s2"))
    pairs
      .withColumn("uni", KmvSketch.unionOf(col("sk1"), col("sk2"), k))
      .withColumn("est_union", KmvSketch.estimate(col("uni"), k))
      .withColumn("kk", size(col("uni")).cast("long"))
      .withColumn("rho_num", size(array_intersect(
        array_intersect(col("uni"), col("sk1")), col("sk2"))).cast("long"))
      .select(col("s1"), col("s2"), col("n_s1"), col("n_s2"), col("est_union"),
        (floor(col("rho_num").cast("double") / col("kk") * lit(1e4) + lit(0.5))
          / lit(1e4)).as("jaccard_est"),
        (floor(col("rho_num").cast("double") / col("kk") * col("est_union")
          * lit(1e4) + lit(0.5)) / lit(1e4)).as("inter_est"))
  }

  /** Substring-span duplication statistics — the ExactSubstr shape of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499): a token span duplicated ANYWHERE else
    * in the corpus marks every token it covers as duplicated text, and
    * per-document coverage drives the drop/trim decision. The suffix
    * array of the paper is a single-machine structure; the distributed
    * equivalent fingerprints every width-`k` token window (60-bit hash
    * of the window), marks windows whose fingerprint occurs more than
    * once corpus-wide — across documents OR repeated inside one (the
    * internal-boilerplate case ExactSubstr exists to catch) — and
    * unions the covered token positions.
    *
    * Scale shape: one scan to (doc_id, pos, fingerprint); duplicated
    * fingerprints found by a count-distinct aggregate over the
    * fingerprint key (shuffle carries only 60-bit hashes + ids, never
    * text); coverage is a position-range explode of the duplicated
    * windows only — bounded by k × dup-window count, a vanishing
    * fraction of the corpus. No all-pairs stage anywhere.
    *
    * @return one row per document: (doc_id, n_tokens, n_dup_spans,
    *         n_dup_tokens, dup_frac) — docs with no duplicated span
    *         report zeros, so the output is a total corpus report. */
  def substrSpanStats(docs: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame = {
    val t = docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("toks"))
    val nt = t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    // fused native shingle hashing (r13) — posexplode keeps positions
    val sh = t.select(col("doc_id"),
        posexplode(graft.functions.ShingleHashesExpr.shingleHashes(
          col("toks"), k)).as(Seq("pos", "g")))
      // lazy localCheckpoint (r13): sh feeds the dup aggregate AND the
      // span join — truncate so the per-position md5 pass runs once
      .localCheckpoint(false)
    val dup = sh.groupBy("g")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select("g")
    val dupSpans = sh.join(dup, "g").select("doc_id", "pos")
    val spans = dupSpans.groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    val covered = dupSpans
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    nt.join(spans, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_spans", "n_dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"), col("n_dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          // raw integer ratio: both engines divide the same two exact
          // integers, bit-identical without a decimal re-round
          .otherwise(col("n_dup_tokens").cast("double") / col("n_tokens"))
          .as("dup_frac"))
  }

  /** Exact word-set Jaccard for candidate pairs. `pairs` must have
    * columns (a, b); returns (a, b, jaccard). Intended for the small
    * post-LSH candidate set — the expensive exact check never touches
    * non-candidate pairs. */
  def ngramJaccard(docs: DataFrame, id: Column, text: Column, pairs: DataFrame): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("w"))
      .distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ta = toks.select(col("doc_id").as("a"), col("w"))
    val tb = toks.select(col("doc_id").as("b"), col("w"))
    val inter = pairs.join(ta, "a").join(tb, Seq("b", "w"))
      .groupBy("a", "b").agg(count(lit(1)).as("ninter"))
    pairs
      .join(inter, Seq("a", "b"), "left").na.fill(0L, Seq("ninter"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        // raw |A∩B| / |A∪B| — exact-integer division, bit-identical in
        // both engines; no decimal round (VERDICT r8 #2 sweep)
        (col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter"))).as("jaccard"))
  }

  /** Containment-oriented near-duplicate detection — the duplicate
    * class MinHash/LSH structurally misses: a document CONTAINED in a
    * much longer one (an excerpt, a quoted page, a prefix re-crawl) has
    * high containment |A∩B| / min(|A|,|B|) but LOW Jaccard (the union
    * is dominated by the container), so its MinHash signatures disagree
    * and LSH never buckets the pair — Broder (SEQUENCES 1997)
    * distinguishes resemblance from containment for exactly this case.
    *
    * Blocking: every doc nominates its `r` RAREST shingles (corpus
    * document-frequency ascending, hash tiebreak) among shingles with
    * 2 <= df <= `maxDf`; a candidate pair is any pair where one side's
    * nominated shingle occurs anywhere in the other's FULL shingle set.
    * A contained doc's shingles all occur in its container, so whichever
    * of them are corpus-rare are necessarily shared — the pair can only
    * be missed if every one of its shingles is corpus-common
    * (df > maxDf), which is the explicit recall/cost dial.
    *
    * Scale shape: rarity comes from the distinct (doc, gram-fingerprint)
    * frame (16-byte rows — text never shuffles); the nomination join
    * fans out at most df <= maxDf docs per rare gram, so block size is
    * bounded by construction and no all-pairs stage exists. Exact
    * verification then touches candidate pairs only (the
    * [[ngramJaccard]] discipline).
    *
    * @return (a, b, na, nb, ninter, containment, jaccard) per candidate
    *         pair over distinct `n`-gram sets; ratios are RAW doubles
    *         (exact-integer divisions — bit-identical across engines). */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
      n: Int = 3, r: Int = 5, maxDf: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = TextAnalysis.explodedShingleHashes(docs, id, text, n)
      .distinct()
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val rare = sh.join(df.where(col("df").between(2, maxDf)), "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .where(col("rn") <= r)
      .select(col("doc_id").as("nom"), col("h"))
    val cand = rare.join(sh.select(col("doc_id").as("other"), col("h")), "h")
      .where(col("nom") =!= col("other"))
      .select(least(col("nom"), col("other")).as("a"),
        greatest(col("nom"), col("other")).as("b"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("h")), "a")
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("ninter"))
    cand.join(inter, Seq("a", "b")) // candidates share >= 1 gram by construction
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
      .select(col("a"), col("b"), col("na"), col("nb"), col("ninter"),
        // raw integer ratios (bit-identical across engines; no round)
        (col("ninter").cast("double") /
          least(col("na"), col("nb"))).as("containment"),
        (col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter"))).as("jaccard"))
  }

  /** Lossless τ-Jaccard set-similarity self-join via PREFIX FILTERING —
    * the AllPairs/PPJoin family (Bayardo et al., WWW 2007; Xiao et al.,
    * WWW 2008): every pair of documents whose distinct word-`n`-gram
    * SETS have Jaccard ≥ `tau`, with a completeness GUARANTEE the
    * probabilistic MinHash path cannot give (LSH misses pairs with
    * band-collision probability < 1; this misses none).
    *
    * The filter: order each doc's shingles by a global canonical order —
    * ascending document frequency, ties by hash — and index only the
    * first |r| − ⌈τ·|r|⌉ + 1 of them. Two sets with Jaccard ≥ τ MUST
    * share a prefix token under any shared total order (pigeonhole: a
    * pair disjoint on both prefixes can overlap on at most
    * min(|r|,|s|) − p(min) elements < τ·|r∪s|). Candidates therefore
    * form only inside per-prefix-shingle buckets, and because prefixes
    * are the RAREST shingles, bucket sizes are bounded by the df of rare
    * grams — the property that keeps the join sub-quadratic on a 100 TB
    * corpus where boilerplate grams would otherwise bucket everything
    * together. Verification is an exact intersection count over
    * candidate pairs only; the emitted rows equal the all-pairs truth
    * the oracle computes.
    *
    * @return (a, b, na, nb, ninter, jaccard) for every pair with
    *         jaccard ≥ tau, a < b, jaccard rounded to 6dp */
  def setSimilarityJoin(docs: DataFrame, id: Column, text: Column,
      tau: Double, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0 && tau <= 1, "setSimilarityJoin: tau in (0,1]")
    // the (doc, gram-hash) frame has THREE consumers (dfreq, prefix, the
    // gram-array verify frame). Deliberately NOT persisted: measured at
    // sf0.1 the re-scan is cheaper than the persist barrier (3.45 s vs
    // 4.50 s median, r8) — at corpus scale,
    // where the scan dominates, callers persist `docs` themselves.
    val sh = TextAnalysis.explodedShingleHashes(docs, id, text, n)
      .distinct()
      .localCheckpoint(false)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    // prefix length p = n − ⌈τ·n⌉ + 1, computed in exact integer math
    val prefix = sh.join(dfreq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .join(sizes, "doc_id")
      .where(col("rn") <= col("nsh") - ceil(lit(tau) * col("nsh")) + 1)
      .select(col("doc_id"), col("h"))
      .localCheckpoint(false)
    val cand = prefix.select(col("h"), col("doc_id").as("a"))
      .join(prefix.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    // verify on per-doc gram ARRAYS (one row per candidate pair, one
    // array_intersect each) — measured 4.5× cheaper than re-joining the
    // exploded (doc, gram) rows per pair (r8: the row-level double
    // join was 6.8 s of an 11 s chain at sf0.1). The
    // PPJoin length filter (τ·|a| ≤ |b| ≤ |a|/τ, implied by Jaccard ≥ τ)
    // prunes pairs before the intersection is computed.
    val arrays = sh.groupBy("doc_id")
      .agg(collect_list(col("h")).as("grams"), count(lit(1)).as("nsh"))
      .localCheckpoint(false)
    cand
      .join(arrays.select(col("doc_id").as("a"), col("grams").as("ga"),
        col("nsh").as("na")), "a")
      .join(arrays.select(col("doc_id").as("b"), col("grams").as("gb"),
        col("nsh").as("nb")), "b")
      .where(lit(tau) * col("na") <= col("nb") &&
        lit(tau) * col("nb") <= col("na"))
      .withColumn("ninter", size(array_intersect(col("ga"), col("gb")))
        .cast("long"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("na") + col("nb") - col("ninter")))
      .where(col("jaccard") >= tau)
      .select("a", "b", "na", "nb", "ninter", "jaccard")
  }

  /** INCREMENTAL [[setSimilarityJoin]] — batch docs against a standing
    * corpus (the nightly-refresh member of the incremental family next
    * to exactIncremental / minHashCandidatesIncremental /
    * FuzzyMatch.fuzzyPairsIncremental): every (new, corpus) pair with
    * gram-set Jaccard ≥ τ, batch×batch and corpus×corpus never formed.
    *
    * The prefix theorem needs one SHARED total order, not frequencies —
    * so the order is (standing df, gram hash) with unseen-in-standing
    * grams at df = 0. That choice is the design point: the standing
    * prefix index depends only on standing data, so it is computed once
    * and appended per refresh, never reindexed because a batch arrived.
    * Still lossless: any common order satisfies the pigeonhole bound.
    * @return (new_id, corpus_id, n_new, n_corpus, ninter, jaccard) */
  def setSimilarityJoinIncremental(standing: DataFrame, batch: DataFrame,
      id: Column, text: Column, tau: Double, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0 && tau <= 1, "setSimilarityJoinIncremental: tau in (0,1]")
    def grams(docs: DataFrame) =
      TextAnalysis.explodedShingleHashes(docs, id, text, n)
        .distinct()
    val shS = grams(standing)
    val shB = grams(batch)
    val dfreqS = shS.groupBy("h").agg(count(lit(1)).as("df"))
    def prefixOf(sh: DataFrame, name: String) = {
      val withDf = sh.join(dfreqS, Seq("h"), "left")
        .na.fill(0L, Seq("df"))
      withDf
        .withColumn("nsh", count(lit(1)).over(
          Window.partitionBy("doc_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
        .where(col("rn") <= col("nsh") - ceil(lit(tau) * col("nsh")) + 1)
        .select(col("doc_id").as(name), col("h"))
    }
    val cand = prefixOf(shB, "new_id")
      .join(prefixOf(shS, "corpus_id"), Seq("h"))
      .select("new_id", "corpus_id").distinct()
    def arraysOf(sh: DataFrame, idName: String, gName: String, nName: String) =
      sh.groupBy("doc_id").agg(
        collect_list(col("h")).as(gName), count(lit(1)).as(nName))
        .withColumnRenamed("doc_id", idName)
    cand
      .join(arraysOf(shB, "new_id", "gb", "n_new"), "new_id")
      .join(arraysOf(shS, "corpus_id", "gs", "n_corpus"), "corpus_id")
      .where(lit(tau) * col("n_new") <= col("n_corpus") &&
        lit(tau) * col("n_corpus") <= col("n_new"))
      .withColumn("ninter", size(array_intersect(col("gb"), col("gs")))
        .cast("long"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("n_new") + col("n_corpus") - col("ninter")))
      .where(col("jaccard") >= tau)
      .select("new_id", "corpus_id", "n_new", "n_corpus", "ninter", "jaccard")
  }

  /** Segment-level (line/paragraph) deduplication — the sub-document
    * dedup step of C4 ("three-sentence span" removal; Raffel et al.,
    * JMLR 2020 §2.2) and CCNet/RefinedWeb line-dedup: split every
    * document into consecutive `width`-token segments, digest each, keep
    * only the globally FIRST occurrence of each digest (first = smallest
    * (doc_id, seg_idx), a total order both engines share), and
    * reassemble each document from its surviving segments in original
    * order. Corpora whose boilerplate repeats across pages lose the
    * boilerplate everywhere but its first carrier while unique prose
    * survives — the behavior doc-level dedup cannot express.
    *
    * Scale shape (100 TB): one scan explodes documents into segments
    * (row-local slicing of the token array — no join); the keep decision
    * is one shuffle keyed on the 60-bit segment digest carrying only
    * (digest, doc_id, seg_idx) — min(struct) with map-side partials, the
    * same digest-only discipline as [[exact]]; reassembly is one shuffle
    * back on doc_id. Segment text crosses the reassembly shuffle only
    * (it must — the output is the rebuilt text); the hot digest
    * aggregation never carries text. The per-vertex sort in reassembly
    * is a row-local `sort_array` over one document's segments, bounded
    * by document length, not corpus size.
    *
    * Determinism: the keeper rule min(doc_id, seg_idx) is partition-
    * independent; reassembly canonicalizes with sort_array on the unique
    * seg_idx. The DuckDB oracle replays digest, keeper rule, and ordered
    * reassembly exactly.
    *
    * @param width segment width in tokens (the last segment of a
    *              document may be shorter)
    * @return (doc_id, n_segs, n_kept, text_kept) for every input
    *         document; text_kept is "" when every segment was a
    *         duplicate. */
  def segmentDedup(docs: DataFrame, id: Column, text: Column, width: Int): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val toks = docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("tk"))
    // row-local segmentation: seg i = tokens [i*width, i*width + width).
    // The empty-token guard matters: Spark's sequence(0, -1) counts DOWN
    // (yielding bogus indices), so a token-less document must short-
    // circuit to an empty segment list — dropping the doc exactly like
    // the oracle's range(0).
    val nseg = ceil(size(col("tk")) / lit(width.toDouble)).cast("int")
    val segs = toks
      .select(col("doc_id"), posexplode(
        when(size(col("tk")) <= 0, typedLit(Seq.empty[String]))
          .otherwise(transform(sequence(lit(0), nseg - 1),
            i => array_join(slice(col("tk"), i * width + 1, lit(width)), " ")))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"), col("col").as("seg"))
    val keepers = segs
      .select(Hashing.hash60(col("seg")).as("d"), col("doc_id"), col("seg_idx"))
      .groupBy("d")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("k"))
      .select(col("d"), col("k.doc_id").as("kdoc"), col("k.seg_idx").as("kidx"))
    segs
      .join(keepers, Hashing.hash60(col("seg")) === col("d"), "left")
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        (col("doc_id") === col("kdoc") && col("seg_idx") === col("kidx")).as("kept"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("text_kept"))
  }

  /** DuckDB replica of [[segmentDedup]] over the `documents` table. */
  def segmentDedupOracleSql(width: Int): String = {
    val H = Hashing.hash60Sql("seg")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, tk,
       |    unnest(range(CAST(ceil(len(tk) / $width.0) AS BIGINT))) AS seg_idx
       |  FROM toks),
       |segs AS (
       |  SELECT doc_id, seg_idx,
       |    array_to_string(tk[seg_idx*$width+1 : seg_idx*$width+$width], ' ') AS seg
       |  FROM idx),
       |k AS (
       |  SELECT doc_id, seg_idx, seg,
       |    row_number() OVER (PARTITION BY $H ORDER BY doc_id, seg_idx) AS rn
       |  FROM segs)
       |SELECT doc_id, count(*) AS n_segs,
       |  count(*) FILTER (WHERE rn = 1) AS n_kept,
       |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '')
       |    AS text_kept
       |FROM k GROUP BY doc_id""".stripMargin
  }

  /** Content-defined chunking (CDC) dedup stats: chunk boundaries fall
    * AFTER token i whenever the portable hash of the trailing `w`-gram
    * ≡ 0 (mod `div`) — so, unlike [[segmentDedup]]'s fixed grid, an
    * insertion near the head of a document shifts only the chunk it
    * lands in; every boundary downstream re-synchronizes on the same
    * gram content (the Rabin/Gear-chunking property that makes
    * delta-level dedup of near-identical long documents work). Expected
    * chunk length ≈ `div` tokens.
    *
    * Plan shape: ENTIRELY in array land up to chunk granularity —
    * boundary flags are one `transform` over the token array, the
    * flagged positions become per-document chunk-end lists
    * (`filter` over positions), and each chunk's hash + length come
    * from a second `transform` slicing the token array between
    * consecutive ends. Only CHUNK-level rows (≈ tokens/div, 10-50×
    * fewer) ever explode; no per-token rows, no window cumsum, no
    * token-level groupBy (the previous token-explode + window shape
    * measured 2.1 s of d_cdc's 3.2 s at sf0.1 in r8). The
    * cross-doc duplicate check joins 60-bit chunk hashes only. Returns
    * per doc: n_chunks, n_cdc_tokens, n_dup_chunks (chunks whose hash
    * occurs in >1 document), dup_ratio.
    */
  def cdcChunkStats(docs: DataFrame, id: Column, text: Column,
      w: Int = 4, div: Int = 16): DataFrame = {
    require(w >= 1 && div >= 1, s"bad CDC params w=$w div=$div")
    val toks = docs.select(id.as("doc_id"), TextAnalysis.tokens(text).as("tk"))
      .where(size(col("tk")) > 0) // empty docs emit no chunk rows (as before)
    // boundary[i] = i ≥ w-1 && hash60(tokens[i-w+1..i]) % div == 0.
    // The i ≥ w-1 guard must be a `when` (not &&): slice() errors on a
    // non-positive start, and Column && does not short-circuit.
    val flagged = toks.select(col("doc_id"), col("tk"),
      filter(
        transform(col("tk"), (_, i) =>
          when(i >= w - 1,
            when(Hashing.hash60(array_join(
              slice(col("tk"), i - (w - 2), lit(w)), " ")) % div === 0, i)
              .otherwise(lit(-1)))
            .otherwise(lit(-1))),
        p => p >= 0).as("flag_pos"))
    // chunk ENDS (inclusive, 0-based): every flagged position, plus the
    // final position when the last token is not itself a boundary
    val n = size(col("tk"))
    val withEnds = flagged.select(col("doc_id"), col("tk"),
      when(coalesce(try_element_at(col("flag_pos"), lit(-1)), lit(-1)) === n - 1,
        col("flag_pos"))
        .otherwise(concat(col("flag_pos"), array(n - 1))).as("ends"))
    // chunk j spans (ends[j-1]+1 .. ends[j]); hash its tokens joined as
    // the token-level path did (identical strings, identical hashes)
    val chunks = withEnds.select(col("doc_id"),
        explode(transform(col("ends"), (e, j) => {
          val start = when(j === 0, lit(0))
            .otherwise(element_at(col("ends"), j) + 1)
          struct(
            (e - start + 1).cast("long").as("ntk"),
            Hashing.hash60(array_join(
              slice(col("tk"), start + 1, e - start + 1), " ")).as("chunk_hash"))
        })).as("c"))
      .select(col("doc_id"), col("c.ntk").as("ntk"),
        col("c.chunk_hash").as("chunk_hash"))
      // lazy localCheckpoint (r13): chunks feeds BOTH the spread
      // aggregate and the per-doc join below — truncate so the
      // rolling-hash chunking (an md5 per token position) runs once,
      // not once per consumer
      .localCheckpoint(false)
    val spread = chunks.groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("nd"))
    chunks.join(spread, "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("ntk").as("n_cdc_tokens"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_cdc_tokens"),
        col("n_dup_chunks"),
        // raw integer ratio (bit-identical across engines; no round)
        (col("n_dup_chunks").cast("double") /
          col("n_chunks").cast("double")).as("dup_ratio"))
  }

  /** DuckDB replica of [[cdcChunkStats]] over the `documents` table. */
  def cdcOracleSql(w: Int, div: Int): String = {
    // 1-based inclusive slice of the trailing w-gram ending at 0-based pos
    val gram = s"array_to_string(tk[pos - ${w - 2} : pos + 1], ' ')"
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |tok AS (SELECT doc_id, tk, i AS pos, tk[i+1] AS tok
       |  FROM t, (SELECT unnest(range((SELECT max(len(tk)) FROM t))) AS i) r
       |  WHERE i <= len(tk) - 1),
       |bnd AS (SELECT doc_id, pos, tok,
       |  CASE WHEN pos >= ${w - 1}
       |    AND ${Hashing.hash60Sql(gram)} % $div = 0
       |    THEN 1 ELSE 0 END AS b
       |  FROM tok),
       |ch AS (SELECT doc_id, pos, tok,
       |  coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
       |  FROM bnd),
       |chunks AS (SELECT doc_id, cidx, count(*) AS ntk,
       |  ${Hashing.hash60Sql("string_agg(tok, ' ' ORDER BY pos)")} AS h
       |  FROM ch GROUP BY 1, 2),
       |spread AS (SELECT h, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
       |SELECT c.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(c.ntk) AS BIGINT) AS n_cdc_tokens,
       |  CAST(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS dup_ratio
       |FROM chunks c JOIN spread s ON s.h = c.h
       |GROUP BY 1""".stripMargin
  }
}
