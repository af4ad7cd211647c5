package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.functions.JaroWinklerFn.jaroWinkler
import graft.graph.ConnectedComponents

/** Edit-distance fuzzy matching and entity resolution — the dedup family
  * the corpus suite lacked: MinHash/SimHash find documents sharing many
  * shingles, but catalog-style near-identical SHORT strings (product
  * names, titles, author fields) need per-character edit distance, and
  * all-pairs Levenshtein is quadratic in the vocabulary.
  *
  * Blocking is FastSS deletion neighborhoods (Bocek et al., "Fast
  * Similarity Search in Large Dictionaries", 2007): two strings with
  * Levenshtein distance ≤ k share a member of their ≤k-deletion
  * neighborhoods, so exploding each distinct string to its O(|s|^k)
  * deletion variants and bucket-joining on the variant finds EVERY true
  * pair (lossless, unlike probabilistic LSH) while never forming
  * cross-bucket pairs. Candidates are then verified with Spark's
  * codegen'd `levenshtein`, so the output equals the exact all-pairs
  * answer — which is exactly what the DuckDB oracle computes.
  *
  * Scale shape (billion-name catalog): deletion variants are a row-local
  * array transform (one scan, no UDF); the bucket join shuffles
  * (variant → names) pairs, bounded by `maxBucket` with the same
  * drop-and-report policy as the LSH path ([[Dedup.candidatesFromSignatures]]);
  * verification is per-candidate, never all-pairs. Long strings are the
  * enemy of deletion blocking (|s|² variants for k=2) — `maxLen` guards
  * the fan-out and is part of the operator contract, not a hidden cap.
  */
object FuzzyMatch {

  /** One-character deletion variants of `s` as an array column (length
    * |s|, one per deleted position). Row-local higher-order functions —
    * no UDF, no shuffle. */
  private def del1(s: Column): Column =
    when(length(s) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))

  /** The ≤`maxDel`-deletion neighborhood of `s`, including `s` itself,
    * deduplicated — the native [[graft.functions.DeletionNeighborhood]]
    * expression (one static call, whole-stage codegen). */
  def deletionNeighborhood(s: Column, maxDel: Int): Column =
    graft.functions.DeletionNeighborhoodFn.deletionNeighborhood(s, maxDel)

  /** The same neighborhood COMPOSED from builtin higher-order array
    * functions — an independent second derivation, kept as the
    * cross-check the native expression is tested against
    * (FuzzyJoinRewriteSpec): k-deletion variants are the 1-deletion
    * variants of the (k−1)-deletion set, so the set composes [[del1]]. */
  def deletionNeighborhoodComposed(s: Column, maxDel: Int): Column = {
    require(maxDel >= 1 && maxDel <= 3, "deletionNeighborhood: maxDel in [1,3]")
    var frontier = del1(s)
    var all = concat(array(s), frontier)
    (2 to maxDel).foreach { _ =>
      frontier = array_distinct(flatten(transform(frontier, v => del1(v))))
      all = concat(all, frontier)
    }
    array_distinct(all)
  }

  /** Exact Levenshtein-≤`maxDist` pairs over the DISTINCT values of
    * `name` (a < b lexicographically): FastSS blocking + levenshtein
    * verify. Strings longer than `maxLen` are excluded from matching
    * (documented fan-out guard; the oracle applies the same predicate).
    * @return (name_a, name_b, dist) */
  def fuzzyPairs(names: DataFrame, name: Column, maxDist: Int = 2,
      maxLen: Int = 64, maxBucket: Int = Int.MaxValue): DataFrame = {
    val distinctNames = names.select(name.cast("string").as("n"))
      .where(col("n").isNotNull && length(col("n")) <= maxLen)
      .distinct()
    val keyed = distinctNames.select(col("n"),
      explode(deletionNeighborhood(col("n"), maxDist)).as("k"))
    val kept =
      if (maxBucket == Int.MaxValue) keyed
      else keyed.join(
        keyed.groupBy("k").agg(count(lit(1)).as("bsz"))
          .where(col("bsz") <= maxBucket).select("k"),
        Seq("k"), "left_semi")
    kept.select(col("k"), col("n").as("name_a"))
      .join(kept.select(col("k"), col("n").as("name_b")), Seq("k"))
      .where(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
  }

  /** Buckets a `maxBucket` cap would drop — the explicit overflow report
    * (same policy as [[Dedup.oversizedBuckets]]). */
  def oversizedBuckets(names: DataFrame, name: Column, maxDist: Int,
      maxLen: Int, maxBucket: Int): Long =
    names.select(name.cast("string").as("n"))
      .where(col("n").isNotNull && length(col("n")) <= maxLen)
      .distinct()
      .select(explode(deletionNeighborhood(col("n"), maxDist)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .count()

  /** [[fuzzyPairs]] scored with native Jaro-Winkler ([[JaroWinklerFn]]) —
    * the ranking signal entity resolution sorts candidates by (edit
    * distance alone can't distinguish a typo in a long name from a
    * different short name). The RAW double is emitted: on ASCII input
    * the expression is bit-identical to DuckDB's
    * jaro_winkler_similarity (r9: 0 ulp diffs over 256k pairs
    * covering every branch), while a decimal round(x, 6)
    * would re-introduce the Spark-HALF_UP vs DuckDB-std::round
    * half-ulp divergence that broke e_ewma in round 8.
    * @return (name_a, name_b, dist, jw) */
  def fuzzyScored(names: DataFrame, name: Column, maxDist: Int = 2,
      maxLen: Int = 64, maxBucket: Int = Int.MaxValue): DataFrame =
    fuzzyPairs(names, name, maxDist, maxLen, maxBucket)
      .withColumn("jw", jaroWinkler(col("name_a"), col("name_b")))

  /** Incremental fuzzy match — the nightly-refresh shape (mirrors
    * [[Dedup.minHashCandidatesIncremental]]): every (batch, standing)
    * pair within Levenshtein ≤ `maxDist`, joining only the BATCH side's
    * deletion keys against the standing corpus' precomputed key index.
    * Standing×standing pairs are never re-formed, so a day's new names
    * cost O(batch keys ⋈ matching buckets) regardless of catalog size;
    * the standing index ([[deletionNeighborhood]] exploded once) is
    * append-only across refreshes.
    * @return (new_name, corpus_name, dist) */
  def fuzzyPairsIncremental(standing: DataFrame, batch: DataFrame,
      name: Column, maxDist: Int = 2, maxLen: Int = 64): DataFrame =
    fuzzyPairsAgainstIndex(
      deletionKeyIndex(standing, name, maxDist, maxLen, "corpus_name"),
      batch, name, maxDist, maxLen)

  /** The standing corpus' deletion-key index — the STATE a nightly (or
    * streaming) refresh maintains: each distinct in-scope name exploded
    * to its ≤`maxDist`-deletion variants, one (name, k) row per variant.
    * Append-only across refreshes; build once, persist, and hand to
    * [[fuzzyPairsAgainstIndex]] per batch. */
  def deletionKeyIndex(df: DataFrame, name: Column, maxDist: Int,
      maxLen: Int, as: String): DataFrame =
    df.select(name.cast("string").as(as))
      .where(col(as).isNotNull && length(col(as)) <= maxLen)
      .distinct()
      .select(col(as), explode(deletionNeighborhood(col(as), maxDist)).as("k"))

  /** One refresh step against a prebuilt [[deletionKeyIndex]] (columns
    * (corpus_name, k)): only the BATCH side is keyed here — the standing
    * corpus is never rescanned, which is the property that makes the
    * shape streamable ([[graft.streaming.FuzzyStreams]]). */
  def fuzzyPairsAgainstIndex(index: DataFrame, batch: DataFrame,
      name: Column, maxDist: Int = 2, maxLen: Int = 64): DataFrame =
    deletionKeyIndex(batch, name, maxDist, maxLen, "new_name")
      .join(index, Seq("k"))
      .select("new_name", "corpus_name").distinct()
      .withColumn("dist", levenshtein(col("new_name"), col("corpus_name")))
      .where(col("dist") <= maxDist)

  /** Entity resolution: connected components over the fuzzy-pair graph,
    * each name canonicalized to its cluster representative (the member
    * with the minimum portable hash — hash60 is the vertex id, so the
    * same large-star/small-star CC the graph suite uses runs unchanged
    * on string entities, and the oracle re-derives identical ids).
    * Singleton names map to themselves.
    * @return (name, canon) for every distinct in-scope name */
  def fuzzyEntities(spark: SparkSession, names: DataFrame, name: Column,
      maxDist: Int = 2, maxLen: Int = 64,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val distinctNames = names.select(name.cast("string").as("n"))
      .where(col("n").isNotNull && length(col("n")) <= maxLen)
      .distinct()
      .withColumn("vid", Hashing.hash60(col("n")))
    val pairs = fuzzyPairs(names, name, maxDist, maxLen, maxBucket)
    val edges = pairs
      .select(Hashing.hash60(col("name_a")).as("src"),
        Hashing.hash60(col("name_b")).as("dst"))
    val comps = ConnectedComponents.run(spark, edges)  // (v, comp)
    val canonOf = comps.join(
        distinctNames.select(col("vid").as("comp"), col("n").as("canon")),
        Seq("comp"))
      .select(col("v").as("vid"), col("canon"))
    distinctNames.join(canonOf, Seq("vid"), "left")
      .select(col("n").as("name"),
        coalesce(col("canon"), col("n")).as("canon"))
  }
}
