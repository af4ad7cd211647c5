package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting, word
  * frequency. All are single-pass, codegen-friendly column expressions —
  * no UDFs — so they survive 100 TB scans (predicate/column pruning
  * reach the parquet reader, everything else stays in WholeStageCodegen).
  *
  * The word-frequency path descends from the reference's `wordfreq`
  * (`/root/reference/oink/wordfreq.cpp:40-112`, `examples/wordfreq.cpp:
  * 43-96`); the rest extend the surface for LLM-corpus curation, with
  * deterministic, SQL-expressible semantics so the DuckDB oracle can
  * verify them.
  */
object TextAnalysis {

  /** Non-empty whitespace(single-space)-separated tokens. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** `wordfreq N` — global top-N words with deterministic tie-break.
    * Catalyst plans partial counts before the exchange and
    * TakeOrderedAndProject for the limit (the reference hand-writes both:
    * per-proc top-10 then gather+sort). Tokenizing is the cost, so a
    * narrow scan is spread over every core first ([[graft.core.Ops.spread]]). */
  def wordFreq(docs: DataFrame, text: Column, n: Int): DataFrame =
    graft.core.Ops.spread(docs).select(explode(tokens(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(n)

  /** Language-marker stopword sets for the n-gram-free language-ID
    * heuristic. Scores are marker-token occurrence counts. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  /** Language ID: argmax of marker counts, first-listed language wins
    * ties, "und" (undetermined) when no marker occurs. */
  def langId(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
    val scores = LangMarkers.map { case (lang, markers) =>
      sum(when(col("w").isin(markers: _*), 1).otherwise(0)).as(s"s_$lang")
    }
    val scored = toks.groupBy("doc_id").agg(scores.head, scores.tail: _*)
    // argmax with fixed priority order = fold over languages
    val best = LangMarkers.foldLeft((lit(0L), lit("und"))) {
      case ((bestScore, bestLang), (lang, _)) =>
        val s = col(s"s_$lang")
        (when(s > bestScore, s).otherwise(bestScore),
         when(s > bestScore, lang).otherwise(bestLang))
    }._2
    scored.select(col("doc_id"), best.as("lang_pred"))
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * and a composite score in [0,1]. Deterministic arithmetic only. */
  def quality(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val stop = LangMarkers.head._2 // english markers double as stopwords
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stop.map(lit): _*))).cast("long")
    val meanLen = (length(concat_ws("", toks)).cast("double") / nTok)
    val stopRatio = nStop.cast("double") / nTok
    val score = least(lit(1.0), nTok.cast("double") / lit(100.0)) *
      (lit(1.0) - stopRatio)
    // RAW doubles: each is built from exact-integer divisions and a
    // fixed op order shared with the oracle, so the values are
    // bit-identical across engines — a decimal round(x, 6) would add
    // the HALF_UP-vs-std::round half-ulp hazard (VERDICT r8 #2 sweep)
    docs.select(
      id.as("doc_id"),
      nTok.as("n_tokens"),
      meanLen.as("mean_token_len"),
      stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Feature-hash width of [[classify]] (2^12 buckets — collisions are
    * part of the model, exactly as in the public algorithm). */
  val ClassifyBuckets = 4096L

  /** Hashed-n-gram LINEAR quality classifier — the fastText-style
    * learned scorer (Joulin et al. 2016, "Bag of Tricks for Efficient
    * Text Classification"): each doc's word unigrams + bigrams hash
    * into [[ClassifyBuckets]] feature buckets, a weight vector scores
    * the bag, and the sign decides keep/drop. The learned complement
    * to the rule filters (gopherRules/c4Rules) in the curation family.
    *
    * The weight vector here is DETERMINISTIC (weight of bucket b =
    * hash60("clfw|" + b) % 2001 − 1000 ∈ [−1000, 1000]) — an exact
    * stand-in for offline-trained weights, so the gate hashes integers
    * with no tolerance. In production the vector is whatever training
    * produced, broadcast exactly the same way; everything else —
    * integer feature hashing, fixed-order bag sum, vectorized
    * higher-order-function execution with NO shuffle and NO UDF — is
    * the 100 TB scoring path itself. */
  def classify(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = tokens(text)
    // word bigrams: zip the token array with its own tail (zip_with
    // null-pads the short side; the guard drops that slot)
    val bigrams = filter(
      zip_with(toks, slice(toks, lit(2), size(toks)),
        (a, b) => when(b.isNotNull, concat_ws(" ", a, b))),
      g => g.isNotNull)
    val feats = concat(toks, bigrams)
    def bucket(g: Column): Column =
      pmod(Hashing.hash60(concat(lit("clf|"), g)), lit(ClassifyBuckets))
    def weight(g: Column): Column =
      Hashing.hash60(concat(lit("clfw|"), bucket(g).cast("string"))) %
        lit(2001L) - lit(1000L)
    docs.select(
      id.as("doc_id"),
      size(feats).cast("long").as("n_feats"),
      aggregate(transform(feats, weight(_)), lit(0L),
        (acc, w) => acc + w).as("score"))
      .withColumn("keep", col("score") > 0L)
  }

  /** Token statistics: whitespace tokens + a bytes/4 BPE-like estimate
    * (the classic "~4 chars per token" heuristic). */
  def tokenCounts(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("doc_id"),
      size(tokens(text)).cast("long").as("ws_tokens"),
      ceil(length(text).cast("double") / 4.0).cast("long").as("bpe_est"))

  /** Overlapping token-window chunking — the embedding/RAG prep pass: a
    * doc becomes chunks of `window` tokens starting every `stride`
    * tokens (overlap = window − stride), the final chunk short. Fully
    * declarative (sequence + posexplode + slice stay inside whole-stage
    * codegen); chunk identity is (doc_id, chunk_idx) plus the chunk-text
    * hash so downstream dedup/embedding joins never carry the text. */
  def chunk(docs: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride,
      "chunk: need stride > 0 and window >= stride")
    val toks = tokens(text)
    docs.select(id.as("doc_id"), toks.as("toks"), size(toks).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("toks"), col("start_tok") + 1, lit(window)).as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        Hashing.hash60(array_join(col("c"), " ")).as("chunk_hash"))
  }

  /** Document fingerprints: whole-text hash, 64-char-prefix hash, and a
    * min-shingle hash (min over word-3-gram shingle hashes — a k=1
    * MinHash, the rolling-fingerprint analogue). */
  def fingerprint(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), text.as("t"), tokens(text).as("toks"))
      .select(
        col("doc_id"),
        Hashing.hash60(col("t")).as("fp"),
        Hashing.hash60(substring(col("t"), 1, 64)).as("prefix_fp"),
        array_min(transform(shinglesFromTokens(col("toks"), 3),
          s => Hashing.hash60(s))).as("min_shingle_fp"))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): over the per-position k-gram
    * hash stream, each window of `w` consecutive hashes contributes its
    * RIGHTMOST minimum, and the distinct selected positions are the
    * document's fingerprints. Guarantees every match of length ≥ w+k−1
    * shares a fingerprint (the detection property [[fingerprint]]'s
    * single min-shingle lacks) while selecting only ~1/w of positions
    * (density 2/(w+1) in expectation).
    *
    * Plan shape: pure array expressions, one row per document end to
    * end — per-position hashes via `transform`, the rightmost window
    * minimum of each length-w window via a bounded `aggregate` fold
    * (`<=` makes the RIGHTMOST minimum win), `array_distinct` for the
    * selected set. O(n·w) work with w a small constant, no per-gram
    * explode, no doc-keyed self-join (the previous formulation joined
    * starts×grams on doc_id alone — O(n²) per long document), nothing
    * but the source scan shuffles, and the whole pipeline stays inside
    * WholeStageCodegen. Emits per doc: n_positions (hash stream
    * length), n_fps, density ×1e6, and an order-independent exact
    * checksum (sum of fingerprint hashes mod 2^31−1). Docs with < w+k−1
    * tokens emit nothing (no full window — same in the oracle). */
  def winnow(docs: DataFrame, id: Column, text: Column,
      k: Int = 3, w: Int = 4): DataFrame =
    winnowed(docs, id, text, k, w)
      .select(col("doc_id"), col("n_positions"),
        size(col("fps")).cast("long").as("n_fps"), col("fps"))
      .select(col("doc_id"), col("n_positions"), col("n_fps"),
        floor(col("n_fps") * lit(1000000L) / col("n_positions"))
          .as("density_x1e6"),
        aggregate(col("fps"), lit(0L),
          (acc, x) => acc + x("h") % ((1L << 31) - 1)).as("fp_checksum"))

  /** Winnowing fingerprints, exploded: (doc_id, pick, h) — the distinct
    * selected positions and their k-gram hashes. The candidate-pair
    * generator [[graft.pipeline.Dedup]] consumes this (the MOSS
    * use-case: docs sharing fingerprints are near-dup candidates). */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
      k: Int = 3, w: Int = 4): DataFrame =
    winnowed(docs, id, text, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .select(col("doc_id"), col("fp.pick").as("pick"), col("fp.h").as("h"))

  /** Shared core: per doc, `n_positions` and the distinct selected
    * (pick-position, hash) structs. `hs[i]` 1-based in element_at;
    * window starts j ∈ [0, n−w]; the fold over i ∈ [j, j+w−1] keeps the
    * rightmost minimum (`<=`). Distinct-by-struct equals distinct-by-
    * position: a position's hash is a function of the position. */
  private def winnowed(docs: DataFrame, id: Column, text: Column,
      k: Int, w: Int): DataFrame =
    // Fused native form (r13, graft.functions.WinnowExpr): one loop per
    // document replaces the interpreted O(n·w) window fold (a struct
    // allocation per step) AND the composed shingle-hash transform under
    // it — identical (h, pick) sets in identical array_distinct order
    // (WinnowExprSpec pins it against the composed form). The filter
    // uses the cheap position-count predicate so the pushed-down scan
    // condition never evaluates the md5 chain (guide §4.4);
    // size(toks) − k + 1 ≥ w ⟺ the old size(hs) ≥ w for every doc.
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) - (k - 1)).cast("long").as("n"))
      .where(col("n") >= w)
      .select(col("doc_id"), col("n").as("n_positions"),
        graft.functions.WinnowExpr.winnowFps(col("toks"), k, w).as("fps"))

  /** Within-document repetition signals — the classic quality filter
    * (Gopher/C4-style): the fraction of word-3-gram occurrences that are
    * repeats of an earlier 3-gram in the same document, plus the highest
    * single-3-gram count. Boilerplate and template spam score high; docs
    * shorter than n tokens emit no row (no shingles — same in the
    * oracle). Two hash aggregations, no UDFs. */
  def repetition(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    explodedShingles(docs, id, text, n)
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("max_repeat"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        // raw 1 − nd/ns: exact-integer division + one subtraction,
        // bit-identical across engines — no decimal round
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_shingles").cast("double")).as("rep_ratio"),
        col("max_repeat"))

  /** Email-address pattern for [[redact]] — intersection of Java-regex
    * and RE2 syntax so Spark and the DuckDB oracle match byte for byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (6+) — account/phone/ssn-shaped tokens. */
  val LongNumRe = "[0-9]{6,}"

  /** PII-style scrubbing, the standard pre-training redaction pass:
    * emails then long digit runs are replaced with typed placeholders,
    * with per-document match counts for curation stats. Order matters
    * and is part of the contract: emails are scrubbed first, digit runs
    * are counted and scrubbed on the email-scrubbed text (an address's
    * digits must not also count as a number). Pure regexp_replace /
    * regexp_extract_all column expressions — single scan, codegen. */
  def redact(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    docs.select(
      id.as("doc_id"),
      size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(noEmail, lit(LongNumRe), lit(0))).cast("long").as("n_nums"),
      regexp_replace(noEmail, LongNumRe, "<NUM>").as("clean_text"))
  }

  /** Concat-and-chunk sequence packing — assigns every document a
    * position in a fixed-token-budget training-sequence stream. The
    * corpus is sharded by `hash60(doc_id) % nShards` (packing is
    * per-shard, the way a per-worker packer runs in production — a
    * single global ordering would funnel the corpus through one task);
    * within a shard, documents are concatenated in doc_id order and cut
    * every `budget` tokens. Emitted per document: its shard, the
    * sequence index its first token lands in, the offset there, and
    * whether it spans a cut. Deterministic, partitioning-independent,
    * window-expressible in both engines. */
  def packSequences(docs: DataFrame, id: Column, text: Column,
      budget: Long, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      id.as("doc_id"),
      size(tokens(text)).cast("long").as("n_tokens"),
      (Hashing.hash60(id.cast("string")) % nShards).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    base
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w) - col("n_tokens"), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $budget").as("seq_id"),
        (col("cum_before") % budget).as("seq_offset"),
        // guarded: for an empty doc the last-token index would be -1,
        // and Spark's `div` truncates toward zero while DuckDB floors
        (col("n_tokens") > 0 &&
          expr(s"(cum_before + n_tokens - 1) div $budget") >
            expr(s"cum_before div $budget")).as("spans_cut"))
  }

  /** Unigram-LM log-loss scoring — the CCNet/KenLM-style quality signal
    * computed without an external model: the "model" is the corpus's own
    * unigram distribution p(w) = count(w)/N. Per document: token count,
    * mean negative log-probability of its tokens, and the perplexity
    * exp(avg_nll). High-loss documents are gibberish/rare-token spam;
    * suspiciously low-loss ones are boilerplate.
    *
    * Scale shape: token OCCURRENCES collapse to per-doc (doc_id, w, k)
    * counts first — one map-side-combined shuffle — and both the
    * vocabulary table and the probability join work on those distinct
    * pairs, never the raw token stream. The two consumers of the pair
    * frame share one exchange (Spark's ReuseExchange dedups identical
    * subplans). The vocab and total frames are broadcast: a vocabulary
    * is millions of rows against a corpus of billions. */
  def unigramLogLoss(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val pairs = docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
    val vocab = pairs.groupBy("w").agg(sum("k").as("c"))
    val total = vocab.agg(sum("c").as("n"))
    val nll = sum(col("k").cast("double") *
        -log(col("c").cast("double") / col("n").cast("double"))) /
      sum("k").cast("double")
    pairs.join(broadcast(vocab), "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum("k").as("n_tokens"), round(nll, 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 6))
  }

  // ---- count-min frequency sketch (Cormode & Muthukrishnan, "An
  // improved data stream summary: the count-min sketch and its
  // applications", J. Algorithms 2005) ----

  val CmRows = 4
  val CmWidth = 1024
  val CmSeed = 101L

  /** Count-min counter table over the corpus token stream: `CmRows`
    * independent hash rows × `CmWidth` buckets, i.e. a fixed
    * rows×width-row frame no matter the corpus size — the whole point
    * at scale: exact per-token counts need a vocabulary-sized shuffle,
    * the sketch needs 4096 counters (map-side combined, so the
    * exchange carries at most partitions×4096 rows). Every counter is
    * an integer sum of integers, so the sketch — unlike most float
    * sketches — is exactly reproducible by the SQL oracle with no
    * rounding discipline at all.
    *
    * @return (row, b, cnt): counter value for bucket `b` of hash row
    *         `row`. */
  def countMinCounters(docs: DataFrame, text: Column): DataFrame = {
    val toks = docs.select(explode(tokens(text)).as("w"))
    val pairs = (0 until CmRows).map { i =>
      struct(lit(i).as("row"),
        (Hashing.hash60(CmSeed + i, col("w")) % CmWidth).as("b"))
    }
    toks.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.row").as("row"), col("p.b").as("b"))
      .groupBy("row", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for each word in `words` (a small frame
    * with a `word` column): the estimate is the MIN over the word's
    * counter in each hash row — ≥ the true count always, with the
    * classic (ε, δ) overestimate bound. The counter table broadcasts
    * (it is 4096 rows by construction). */
  def countMinEstimate(counters: DataFrame, words: DataFrame): DataFrame = {
    val withBuckets = (0 until CmRows).foldLeft(words) { (df, i) =>
      df.withColumn(s"b_$i", Hashing.hash60(CmSeed + i, col("word")) % CmWidth)
    }
    val joined = (0 until CmRows).foldLeft(withBuckets) { (df, i) =>
      df.join(broadcast(counters.where(col("row") === i)
          .select(col("b").as(s"b_$i"), col("cnt").as(s"c_$i"))),
        Seq(s"b_$i"))
    }
    joined.select(col("word") +: words.columns.filter(_ != "word").map(col) :+
      least((0 until CmRows).map(i => col(s"c_$i")): _*).as("cm_est"): _*)
  }

  /** BM25 relevance (Robertson & Zaragoza, "The Probabilistic Relevance
    * Framework: BM25 and Beyond", FnTIR 2009) of every document against
    * a fixed bag-of-words query — keyword retrieval over the corpus, the
    * lexical complement of the embedding ANN path in
    * [[graft.pipeline.Similarity]]. Returns (doc_id, bm25) for documents
    * containing at least one query term.
    *
    * Scale shape: the token stream collapses to per-doc (doc_id, term,
    * tf) counts for the query terms ONLY — the `isin` filter runs before
    * the map-side combine, so the shuffle carries a handful of rows per
    * matching doc, not the corpus vocabulary. Document-frequency and
    * corpus-length stats are tiny aggregates joined back by broadcast.
    * The per-doc score sums term contributions in FIXED query order
    * (one conditional sum per term), keeping the result independent of
    * aggregation order — the property that makes it oracle-checkable.
    */
  def bm25(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be distinct")
    val toks = docs.select(id.as("doc_id"), tokens(text).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_len"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val avgdl = col("tot_len").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfd = col("tf").cast("double")
    val score = idf * (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    val perTerm = tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"), score.as("s"))
    val termCols = terms.map(t =>
      coalesce(sum(when(col("w") === t, col("s"))), lit(0.0)).as(s"s_$t"))
    perTerm.groupBy("doc_id").agg(termCols.head, termCols.tail: _*)
      .select(col("doc_id"),
        round(terms.map(t => col(s"s_$t")).reduce(_ + _), 6).as("bm25"))
  }

  /** Corpus-trained bigram language model with add-k smoothing, scoring
    * every document by its average bigram negative log-likelihood:
    * p(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V), the conditioning
    * count c(w1,·) summed over bigram LEFT occurrences and V the
    * unigram vocabulary size. The bigram upgrade of
    * [[unigramLogLoss]] — fluency-sensitive where the unigram score
    * only sees token frequency; shuffled word salad scores high here
    * even when its unigram distribution is natural.
    *
    * Scale shape: bigram occurrences collapse to per-doc
    * (doc_id, w1, w2, k) counts in one map-side-combined shuffle; the
    * corpus model aggregates those same rows (shared exchange); the
    * probability join is pair-keyed. The two one-row totals broadcast;
    * the bigram model table does NOT (it is vocabulary², joined by
    * key).
    *
    * @return (doc_id, n_bigrams BIGINT, avg_nll DOUBLE, ppl DOUBLE)
    *         for documents with at least one bigram. */
  def bigramLogLoss(docs: DataFrame, id: Column, text: Column,
      k: Double = 0.5): DataFrame = {
    val base = docs.select(id.as("doc_id"), tokens(text).as("ts"))
    val pair = base.where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> " +
          "struct(ts[i] AS w1, ts[i + 1] AS w2))")).as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("kc"))
    val model = pair.groupBy("w1", "w2").agg(sum("kc").as("c12"))
    val left = model.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = base.select(explode(col("ts")).as("w"))
      .agg(countDistinct("w").as("v"))
    val nll = sum(col("kc").cast("double") *
        -log((col("c12").cast("double") + lit(k)) /
          (col("c1").cast("double") + lit(k) * col("v").cast("double")))) /
      sum("kc").cast("double")
    pair.join(model, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("kc").as("n_bigrams"), round(nll, 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 6))
  }

  /** Collocation mining by pointwise mutual information over adjacent
    * token pairs (Church & Hanks, "Word association norms, mutual
    * information, and lexicography", CL 1990):
    * pmi = ln(p(w1,w2) / (p(w1)·p(w2))) with bigram probabilities over
    * the bigram total and unigram probabilities over the token total.
    * The corpus-scale workhorse behind multi-word-expression vocab
    * entries and tokenizer merge candidates.
    *
    * Determinism: both engines evaluate the identically-associated
    * double expression ln(((c12·N)·N) / ((B·c1)·c2)) — IEEE ops on the
    * same tree are bit-equal — and the top-N cut orders by the ROUNDED
    * pmi with a (w1, w2) tie-break, so the selection cannot ride a
    * last-ulp difference.
    *
    * Scale shape: one scan to bigrams (an O(len) `transform` per doc,
    * no self-join), word-keyed count aggregations with map-side
    * partials, the two one-row totals broadcast, and a TakeOrdered
    * top-N — the unigram join is word-keyed (vocabulary-sized, NOT
    * broadcast). minCount prunes the hapax tail before the joins.
    *
    * @return (w1, w2, c12 BIGINT, pmi DOUBLE): top `topN` pairs with
    *         c12 ≥ minCount by (pmi desc, w1, w2). */
  def pmiCollocations(docs: DataFrame, text: Column, minCount: Long = 5L,
      topN: Int = 100): DataFrame = {
    val toksDf = docs.select(tokens(text).as("ts"))
    val uni = toksDf.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val big = toksDf.where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> " +
          "struct(ts[i] AS w1, ts[i + 1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val nTok = uni.agg(coalesce(sum(col("c")), lit(0L)).as("n_tok"))
    val nBig = big.agg(coalesce(sum(col("c12")), lit(0L)).as("n_big"))
    val nt = col("n_tok").cast("double")
    val pmi = log(((col("c12").cast("double") * nt) * nt) /
      ((col("n_big").cast("double") * col("c1").cast("double")) *
        col("c2").cast("double")))
    big.where(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("c12"), round(pmi, 9).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Word n-gram shingles from a PRE-MATERIALIZED token array column.
    * Callers must bind `toks` to an attribute (e.g. via a prior select),
    * not pass `tokens(text)` inline — the expression references the
    * array 3n times per shingle, and an inlined `split()` would be
    * recomputed for each reference instead of once per row. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array())

  /** (doc_id, sh) exploded word-n-gram shingles, tokens materialized
    * once per row. */
  def explodedShingles(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), n)).as("sh"))

  /** (doc_id, h) exploded word-n-gram shingle HASHES — the fused native
    * form (r13, [[graft.functions.ShingleHashesExpr]]) for the
    * hash-only consumers: per shingle, one byte-join + one md5, no
    * interpreted shingle lambda, no intermediate string. Identical h
    * values to `hash60(sh)` over [[explodedShingles]] (spec-pinned). */
  def explodedShingleHashes(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashesExpr.shingleHashes(col("toks"), n)).as("h"))

  /** Word n-gram shingles of `text` (empty array when too short). */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** Unicode NFC normalization ([[graft.functions.NormalizeNfc]]) —
    * run FIRST in any curation chain so hashes/shingles/dedup keys see
    * one canonical form per glyph. */
  def normalizeNfc(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NormalizeNfc(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** The eight Gopher "required stop words" (Rae et al. 2021, A1.1). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** C4-style line-level cleaning + page filter (Raffel et al. 2020,
    * §2.2): keep lines with >= `minLineWords` words ending in terminal
    * punctuation; keep the page iff >= `minKeptLines` such lines survive
    * and the text has no code-brace and no "lorem ipsum". Emits the
    * cleaned text (kept lines re-joined) plus the decision columns —
    * scan-side projection only, no shuffle at any scale. */
  def c4Rules(docs: DataFrame, id: Column, text: Column,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    def words(l: Column) = size(filter(split(l, " "), t => t =!= lit("")))
    def terminal(l: Column) = {
      val r = rtrim(l)
      r.endsWith(".") || r.endsWith("!") || r.endsWith("?") || r.endsWith("\"")
    }
    val kept = filter(lines, l => words(l) >= minLineWords && terminal(l))
    val lowered = lower(text)
    docs.select(
      id.as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      lowered.contains("lorem ipsum").as("has_lorem"),
      lowered.contains("{").as("has_brace"),
      (size(kept) >= minKeptLines &&
        !lowered.contains("lorem ipsum") && !lowered.contains("{")).as("keep"),
      concat_ws("\n", kept).as("clean_text"))
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, Appendix
    * A1.1), one boolean column per rule plus the conjunctive `keep` —
    * emitted per document rather than pre-filtered so downstream mixing
    * can weight by rule, the shape a curation pipeline wants. All
    * deterministic column arithmetic (no UDFs, one projection — no
    * shuffle at any scale):
    *  - `r_wordcount`: 50 <= words <= 100000
    *  - `r_meanlen`:   mean token length in [3, 10]
    *  - `r_alpha`:     >= 80% of words contain an alphabetic character
    *  - `r_symbol`:    (# + "...") occurrences / words < 0.1
    *  - `r_bullet`:    < 90% of lines start with a bullet
    *  - `r_ellipsis`:  < 30% of lines end with an ellipsis
    *  - `r_stopwords`: contains >= 2 distinct Gopher stop words */
  def gopherRules(docs: DataFrame, id: Column, text: Column,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val toks = tokens(text)
    val nw = size(toks).cast("long")
    val nwD = nw.cast("double")
    val meanLen = length(concat_ws("", toks)).cast("double") / nwD
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double")
    val hashes = (length(text) - length(replace(text, lit("#"), lit("")))).cast("double")
    val dots = ((length(text) - length(replace(text, lit("..."), lit("")))) / 3).cast("double")
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nl = size(lines).cast("double")
    val bulletLines = size(filter(lines, l =>
      ltrim(l).startsWith("-") || ltrim(l).startsWith("*"))).cast("double")
    val ellipsisLines = size(filter(lines, l => rtrim(l).endsWith("..."))).cast("double")
    val nStop = GopherStopWords
      .map(w => when(array_contains(toks, w), 1).otherwise(0))
      .reduce(_ + _)
    val rules = Seq(
      "r_wordcount" -> (nw >= minWords && nw <= maxWords),
      "r_meanlen" -> (nw > 0 && meanLen >= 3.0 && meanLen <= 10.0),
      "r_alpha" -> (nw > 0 && alphaWords / nwD >= 0.8),
      "r_symbol" -> (nw > 0 && (hashes + dots) / nwD < 0.1),
      "r_bullet" -> (nl > 0 && bulletLines / nl < 0.9),
      "r_ellipsis" -> (nl > 0 && ellipsisLines / nl < 0.3),
      "r_stopwords" -> (nStop >= 2))
    docs.select(
      Seq(id.as("doc_id"), nw.as("n_words")) ++
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }
}
