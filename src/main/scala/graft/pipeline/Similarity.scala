package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths, as a scale ladder:
  *  - [[bruteForceTopK]]: exact cosine top-k via a partitioned cross
  *    join — the correctness baseline. The dot product is a codegen'd
  *    `aggregate(zip_with(...))` fold, no UDF. Cost O(|Q|·|C|·d): fine
  *    for |Q| small or one-off; not the 100 TB path.
  *  - [[lshBuckets]] + [[lshTopK]]: random-hyperplane LSH. Hyperplane
  *    weights are derived from the portable [[Hashing.hash60Local]], so
  *    the bucketing is deterministic and oracle-reproducible. At scale,
  *    candidates meet only inside buckets (shuffle keyed on the
  *    signature), turning all-pairs into per-bucket joins.
  */
object Similarity {

  /** Embedding as double array (float parquet storage widened exactly). */
  private def asDouble(emb: Column): Column = transform(emb, _.cast("double"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))

  /** Cosine of two `array<float>` columns — the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression: one fused loop,
    * no intermediate array, bit-identical to [[cosineComposed]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Composed-builtin form (4 array walks + a zip_with allocation) —
    * kept as the cross-check reference for CosineSimilaritySpec. */
  def cosineComposed(a: Column, b: Column): Column = {
    val (da, db) = (asDouble(a), asDouble(b))
    dot(da, db) / (norm(da) * norm(db))
  }

  /** Exact top-k cosine neighbors of each query vector among candidates.
    * Queries (qid, qvec) are expected small → broadcast; candidates
    * stream by. Returns (qid, vec_id, sim, rank), rank 1..k, ties broken
    * by vec_id for determinism. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = candidates.crossJoin(broadcast(queries))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive / retrieval training
    * (triplet-loss mining, Schroff et al. CVPR 2015 §3.2; dense-
    * retrieval hard negatives): for each query, the top-k most-similar
    * candidates with a DIFFERENT label — the negatives that actually
    * move the loss — plus the query's best same-label similarity
    * (`pos_sim`) and the semi-hard flag (negative still below the
    * positive: sim < pos_sim).
    *
    * Queries (qid, qvec, qlabel) broadcast; candidates stream by once —
    * the [[bruteForceTopK]] scale shape with a label predicate, so at
    * corpus scale the same IVF/LSH bucketing drops in front unchanged.
    * Similarities are rounded to 6 before ranking (tie-break vec_id),
    * keeping the order engine-independent.
    *
    * @return (qid, vec_id, sim, rank, pos_sim, semi_hard) */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = candidates.crossJoin(broadcast(queries))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        round(cosine(col("qvec"), col("embedding")), 6).as("sim"))
    val pos = scored.where(col("label") === col("qlabel"))
      .groupBy("qid").agg(max("sim").as("pos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    scored.where(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .join(pos, Seq("qid"), "left")
      .select(col("qid"), col("vec_id"), col("sim"), col("rank"),
        col("pos_sim"),
        (col("sim") < col("pos_sim")).cast("int").as("semi_hard"))
  }

  /** Symmetric per-vector int8 quantization — the standard 4× bandwidth
    * /memory lever for ANN at corpus scale (a 100 TB float corpus ships
    * 25 TB of int8 codes plus one double scale per vector). scale =
    * max|v|/127; codes are round-half-up of v/scale, which lands in
    * [-127, 127] by construction (|v/scale| ≤ 127, and floor(±127 + 0.5)
    * stays in range), so no clamp is needed. floor(x + 0.5) rather than
    * round(): both engines floor identically, while round() half-way
    * tie-breaking differs between them. Emitted code stats are integer
    * aggregates of the code array — exact, order-independent, and
    * enough for the oracle to pin every code without comparing array
    * renderings. */
  def quantizeInt8(embeddings: DataFrame, id: Column, emb: Column): DataFrame =
    embeddings
      .select(id.as("vec_id"), asDouble(emb).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("q", transform(col("v"), x =>
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(x / col("scale") + 0.5))))
      .select(col("vec_id"), col("scale"),
        size(col("q")).cast("long").as("dim"),
        aggregate(col("q"), lit(0L), _ + _).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))

  val DefaultPlanes = 8
  val DefaultTables = 4
  val PlaneSeed = 97L

  /** Deterministic hyperplane weight for (plane p, dimension j) in
    * [-0.5, 0.5): derivable identically in SQL. A single infinite plane
    * family serves every LSH table — table t consumes planes
    * [t·planes, (t+1)·planes), so table 0 is byte-identical to the
    * single-table layout. */
  def planeWeight(p: Int, j: Int): Double =
    Hashing.rand01Local(PlaneSeed, s"$p,$j") - 0.5

  // ---- deterministic random projection (dimensionality reduction) ----

  val ProjSeed = 181L

  /** Deterministic ±1 weight for (output dim k, input dim j) — the
    * Achlioptas sign matrix ("Database-friendly random projections",
    * PODS 2001; the J-L transform without Gaussians), drawn from the
    * same driver-side hash family as the LSH planes so the oracle can
    * embed the identical literals. */
  def projWeight(k: Int, j: Int): Double =
    if (Hashing.rand01Local(ProjSeed, s"$k,$j") < 0.5) -1.0 else 1.0

  /** (vec_id, k, v): dim-`dim` embeddings projected to `outDim`
    * components, scaled 1/√outDim so inner products are preserved in
    * expectation (Johnson-Lindenstrauss) — the cheap front-end that
    * makes brute-force rescoring 4× narrower before exact verification.
    * One codegen'd projection per vector: the matrix is inlined as
    * literals, nothing shuffles, and each component is a fixed-order
    * fold — bit-reproducible and exactly replayable in SQL. Output is
    * flattened to one row per component for the gate's row compare. */
  def randomProject(embeddings: DataFrame, dim: Int, outDim: Int): DataFrame = {
    val emb = asDouble(col("embedding"))
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    embeddings.select(col("vec_id"),
        posexplode(array((0 until outDim).map { kk =>
          val w = array((0 until dim).map(j => lit(projWeight(kk, j))): _*)
          round(dot(emb, w) * lit(scale), 6)
        }: _*)))
      .select(col("vec_id"), col("pos").cast("long").as("k"), col("col").as("v"))
  }

  /** Oracle for [[randomProject]]: one SELECT per component with the
    * identical literal sign row and scale. */
  def randomProjectOracleSql(dim: Int, outDim: Int): String = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    (0 until outDim).map { kk =>
      val w = (0 until dim).map(j => projWeight(kk, j)).mkString("[", ", ", "]")
      s"""SELECT vec_id, CAST($kk AS BIGINT) AS k,
         |  round(list_dot_product(CAST(embedding AS DOUBLE[]), $w) * $scale, 6) AS v
         |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Signature of one table: bit (p − offset) of the bucket is the sign
    * of the projection onto plane p, p ∈ [offset, offset + planes). */
  private def bucketExpr(dim: Int, planes: Int, offset: Int): Column = {
    val emb = asDouble(col("embedding"))
    (0 until planes).map { i =>
      val w = array((0 until dim).map(j => lit(planeWeight(offset + i, j))): _*)
      when(dot(emb, w) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (vec_id, bucket): random-hyperplane signature of table 0. One
    * codegen'd projection — no shuffle, no UDF; the plane matrix is
    * inlined as literals. */
  def lshBuckets(embeddings: DataFrame, dim: Int, planes: Int = DefaultPlanes): DataFrame =
    embeddings.select(col("vec_id"), bucketExpr(dim, planes, 0).as("bucket"))

  /** (vec_id, table, bucket) across `tables` independent hyperplane
    * tables, in one scan (all projections fuse into one codegen'd
    * projection + explode). More planes per table sharpens precision
    * (2^planes buckets); more tables is OR-amplification — a true
    * neighbor pair is a candidate if it collides in ANY table, which
    * restores the recall that a high plane count alone would lose. */
  def lshBucketsMulti(embeddings: DataFrame, dim: Int,
      planes: Int = DefaultPlanes, tables: Int = DefaultTables): DataFrame =
    embeddings.select(col("vec_id"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"), bucketExpr(dim, planes, t * planes).as("bucket"))
        }: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

  /** Distinct directed candidate pairs (qid, vec_id) colliding in at
    * least one table. The join is keyed on (table, bucket) — per-bucket
    * joins only, never all-pairs; dedup across tables happens before any
    * scoring so each pair's cosine is computed once. */
  def lshCandidates(embeddings: DataFrame, dim: Int,
      planes: Int = DefaultPlanes, tables: Int = DefaultTables): DataFrame = {
    val b = lshBucketsMulti(embeddings, dim, planes, tables)
    val l = b.select(col("tbl"), col("bucket"), col("vec_id").as("qid"))
    val r = b.select(col("tbl"), col("bucket"), col("vec_id"))
    l.join(r, Seq("tbl", "bucket"))
      .where(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id").distinct()
  }

  /** ANN top-k restricted to multi-table LSH candidates: the scale path.
    * Returns (qid, vec_id, sim, rank) like [[bruteForceTopK]] but only
    * scores pairs that collide in some table. */
  def lshTopK(embeddings: DataFrame, dim: Int, k: Int,
      planes: Int = DefaultPlanes, tables: Int = DefaultTables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embeddings.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scored = lshCandidates(embeddings, dim, planes, tables)
      .join(q, "qid")
      .join(embeddings, "vec_id")
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // ---- IVF (inverted-file) ANN: the second scale path ----

  val IvfSeed = 131L
  val DefaultNList = 16
  val DefaultNProbe = 4

  /** Deterministic coarse quantizer: the `nlist` corpus vectors with the
    * smallest `hash60(seed|vec_id)` are the centroids — a seeded uniform
    * sample (also the classic k-means init), chosen over trained k-means
    * so the quantizer is partitioning-independent and the DuckDB oracle
    * can re-derive it. nlist×dim is tiny → always broadcastable. */
  def ivfCentroids(embeddings: DataFrame, nlist: Int = DefaultNList): DataFrame =
    embeddings.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        Hashing.hash60(IvfSeed, col("vec_id")).as("h"))
      .orderBy(col("h"), col("cid")).limit(nlist)
      .select("cid", "cvec")

  /** (vec_id, cid): each vector assigned to its max-cosine centroid,
    * ties to the smallest cid. The centroid table is broadcast and the
    * argmax is a max(struct) aggregate — partial aggregation collapses
    * the |C|·nlist comparison rows map-side, so NOTHING shuffles but
    * one row per vector. */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"),
        round(cosine(col("embedding"), col("cvec")), 6).as("csim"))
      .groupBy("vec_id")
      .agg(max(struct(col("csim"), (-col("cid")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cid"))

  /** Semantic-dedup prune list (the SemDeDup shape of Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster embeddings with the
    * coarse quantizer, then compare vectors ONLY within their cluster
    * and prune every vector with a lower-id cluster-mate above the
    * cosine threshold. One-pass variant: the pruned-by row may itself
    * be pruned (the iterative keeper-chain refinement is the connected-
    * components path in [[Dedup.dedupClusters]]) — deterministic,
    * order-free, and what a single distributed sweep can decide.
    *
    * Scale shape: the clustering IS the candidate blocking — pairwise
    * cosine never crosses cluster boundaries, so the quadratic term is
    * bounded by the largest cluster, not the corpus. The pair join
    * shuffles on cid; centroids broadcast.
    *
    * @return one row per pruned vector: (cid, vec_id, n_similar,
    *         max_sim) — max_sim is the strongest lower-id match. */
  def semDedupPrune(embeddings: DataFrame, nlist: Int = DefaultNList,
      tau: Double = 0.2): DataFrame =
    semDedupPruneBy(embeddings,
      ivfAssign(embeddings, ivfCentroids(embeddings, nlist)), tau)

  /** [[semDedupPrune]] with the cluster blocking supplied by the
    * caller — any (vec_id, cid) assignment works; [[KMeansInt.run]]
    * labels give the gated, determinism-proved variant. */
  def semDedupPruneBy(embeddings: DataFrame, asg: DataFrame,
      tau: Double): DataFrame = {
    val withC = embeddings.join(asg.select("vec_id", "cid"), "vec_id")
    val l = withC.select(col("cid"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = withC.select(col("cid"), col("vec_id").as("b"), col("embedding").as("eb"))
    l.join(r, "cid")
      .where(col("a") < col("b"))
      .select(col("cid"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .where(col("sim") >= tau)
      .groupBy("cid", "b")
      .agg(count(lit(1)).as("n_similar"), max("sim").as("max_sim"))
      .withColumnRenamed("b", "vec_id")
  }

  /** Optional k-means refinement of the seeded quantizer: `iters`
    * Lloyd rounds of assign + per-list mean. Cosine is scale-invariant,
    * so the plain elementwise mean IS the spherical k-means update and
    * the summed assignment cosine is monotone non-decreasing (asserted
    * in PipelineSpec). Deterministic given the seeded init. Refined
    * centroids are synthetic vectors rather than corpus rows — better
    * list balance, but no longer a pure SQL re-derivation, so the gate
    * query keeps the seeded quantizer and refinement stays a library
    * call. Each round: one broadcast-assign pass + one narrow
    * (cid, dim) aggregation — nothing but nlist×dim rows shuffle. */
  def ivfTrain(embeddings: DataFrame, nlist: Int = DefaultNList, iters: Int = 2): DataFrame = {
    var cents = ivfCentroids(embeddings, nlist)
    for (_ <- 0 until iters) {
      val dims = ivfAssign(embeddings, cents)
        .join(embeddings, "vec_id")
        .select(col("cid"), posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
      cents = dims.groupBy("cid", "j").agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
        .select(col("cid"),
          transform(col("jm"), e => e.getField("m").cast("float")).as("cvec"))
        .localCheckpoint(true) // tiny; keeps the next assign plan shallow
    }
    cents
  }

  // ---- PQ (product quantization) ANN: the compressed-domain path ----

  val PqSeed = 173L
  val DefaultSubspaces = 8
  val DefaultCodewords = 16

  /** Squared L2 via the dot-product identity |a|² − 2a·b + |b|² — three
    * of the same sequential folds the DuckDB oracle's list_dot_product
    * reproduces bit-for-bit (a fused (a−b)² fold would sum in a
    * different order and drift). Native codegen'd single-loop form
    * (r13, [[graft.functions.SqDistL2]]); the composed-builtin twin
    * below stays as the bit-identity cross-check reference. */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDistL2.sqDist(a, b)

  /** Composed-builtin squared L2 (three interpreted folds) — kept as the
    * cross-check reference for SqDistL2's bit-identity spec. */
  def sqDistComposed(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Exact squared-L2 brute-force top-k — the recall REFERENCE for the
    * PQ path (PQ approximates L2 distances, not cosine, so its quality
    * must be judged against the exact L2 ranking). Same broadcast
    * shape as [[bruteForceTopK]]; distances rounded to 6 like
    * pqSearch's ADC sums so ties break identically. */
  def bruteForceTopKL2(queries: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = candidates.crossJoin(broadcast(queries))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(sqDist(col("qvec"), col("embedding")), 6).as("d2"))
    val w = Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** (code, subsp, cw): deterministic per-subspace codebooks. The
    * `codewords` corpus vectors with the smallest `hash60(seed|vec_id)`
    * are the seeds (same seeded-sample quantizer as [[ivfCentroids]] —
    * partitioning-independent, SQL-re-derivable); subspace s's codebook
    * is their s-th subvector slice. The global row_number runs over
    * `codewords` rows — trivially small by construction. */
  def pqCodebook(embeddings: DataFrame, dim: Int,
      subspaces: Int = DefaultSubspaces, codewords: Int = DefaultCodewords): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = dim / subspaces
    val seeds = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        Hashing.hash60(PqSeed, col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(codewords)
      .withColumn("code",
        row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
    seeds.select(col("code"),
      posexplode(array((0 until subspaces).map(s =>
        slice(col("v"), s * ds + 1, ds)): _*)).as(Seq("subsp", "cw")))
  }

  /** (vec_id, subsp, sub): each vector cut into `subspaces` slices. */
  private def subVectors(embeddings: DataFrame, dim: Int, subspaces: Int): DataFrame = {
    val ds = dim / subspaces
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col("v"), s * ds + 1, ds)): _*)).as(Seq("subsp", "sub")))
  }

  /** (vec_id, subsp, code): nearest codeword per subspace (squared-L2
    * argmin, ties to the smallest code). The codebook (subspaces ×
    * codewords rows) is broadcast; the argmin is a min(struct) partial
    * aggregate, so only one row per (vector, subspace) shuffles — at
    * corpus scale this pass compresses dim floats to `subspaces` bytes
    * per vector, the 32× storage lever PQ exists for. */
  def pqEncode(embeddings: DataFrame, codebook: DataFrame, dim: Int,
      subspaces: Int = DefaultSubspaces): DataFrame =
    subVectors(embeddings, dim, subspaces)
      .join(broadcast(codebook), "subsp")
      .select(col("vec_id"), col("subsp"), col("code"),
        sqDist(col("sub"), col("cw")).as("d2"))
      .groupBy("vec_id", "subsp")
      .agg(min(struct(col("d2"), col("code"))).as("mc"))
      .select(col("vec_id"), col("subsp"), col("mc.code").as("code"))

  /** PQ ANN search by asymmetric distance computation (ADC): each query
    * precomputes its distance table to every codeword (|Q| × subspaces ×
    * codewords rows — BROADCAST, which is why `queries` must be the
    * small side: the scale contract is a bounded query set against an
    * arbitrarily large coded corpus), and a candidate's approximate
    * distance is a sum of `subspaces` table lookups over its codes; the
    * full-precision corpus is never touched at query time. Returns
    * (qid, vec_id, ad2, rank), rank 1..k by ascending approximate
    * squared distance, ties to the smallest vec_id. */
  def pqSearch(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      subspaces: Int = DefaultSubspaces, codewords: Int = DefaultCodewords): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = pqCodebook(corpus, dim, subspaces, codewords)
    val codes = pqEncode(corpus, cb, dim, subspaces)
    // ADC via lookup-table ARRAYS (r13 — the ivfPqTopK LUT shape applied
    // here): one length-m code array per corpus vector and one
    // length-m·kw distance array per query, scored with the native
    // AdcSum fold. The former rows-per-subspace join materialized
    // |corpus|·m·|Q| rows and re-aggregated them through an exchange;
    // this touches ONE row per (query, candidate) and no exchange above
    // the encode. Same 8 qd2 terms per pair, summed in subspace order.
    val codesArr = codes
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("subsp"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), e => e.getField("code")).as("codes"))
    val dtab = subVectors(queries, dim, subspaces)
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cb), "subsp")
      .select(col("qid"),
        (col("subsp") * codewords + col("code")).as("idx"),
        sqDist(col("sub"), col("cw")).as("qd2"))
      .groupBy("qid")
      .agg(array_sort(collect_list(struct(col("idx"), col("qd2")))).as("iq"))
      .select(col("qid"), transform(col("iq"), e => e.getField("qd2")).as("lut"))
    val scored = codesArr.crossJoin(broadcast(dtab))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.AdcSum.adcSum(col("codes"), col("lut"),
          codewords), 6).as("ad2"))
    // TopKPerKey cut before the ranking window (r13, the ivfPqTopK
    // tail): bounded map-side heaps pass ≤ k rows per (query,
    // partition) to the exchange; the row_number window then ranks
    // only the ≤ |Q|·k survivors instead of sorting every scored pair.
    // Same (ad2 asc, vec_id asc) order both stages — identical rows.
    val w = Window.partitionBy("qid").orderBy(col("ad2").asc, col("vec_id").asc)
    graft.plans.TopKPerKey.topKPerKey(scored,
        Seq(col("qid")), Seq(col("ad2").asc, col("vec_id").asc), k)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Every-vector-against-the-corpus convenience over [[pqSearch]] —
    * broadcasts a CORPUS-sized distance table, so this self-search form
    * is for test/gate scale only; at corpus scale call [[pqSearch]]
    * with a bounded query frame. */
  def pqTopK(embeddings: DataFrame, dim: Int, k: Int,
      subspaces: Int = DefaultSubspaces, codewords: Int = DefaultCodewords): DataFrame =
    pqSearch(embeddings, embeddings, dim, k, subspaces, codewords)

  /** IVF ANN top-k: probe the `nprobe` nearest centroid lists per query,
    * exact cosine inside the probed lists only. Returns
    * (qid, vec_id, sim, rank) like the other ANN paths. At 100 TB the
    * candidate join is keyed on cid — per-list joins sized |C|/nlist,
    * never all-pairs — and probe selection rides [[graft.plans.TopKPerKey]]
    * (bounded map-side heaps), so only nprobe rows per query reach the
    * exchange. */
  def ivfTopK(embeddings: DataFrame, k: Int,
      nlist: Int = DefaultNList, nprobe: Int = DefaultNProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfCentroids(embeddings, nlist)
    val lists = ivfAssign(embeddings, cents)
    val qScored = embeddings
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(cosine(col("qvec"), col("cvec")), 6).as("csim"))
    val probes = graft.plans.TopKPerKey.topKPerKey(qScored,
        Seq(col("qid")), Seq(col("csim").desc, col("cid").asc), nprobe)
      .select("qid", "cid")
    val q = embeddings.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scored = probes.join(lists, "cid")
      .where(col("qid") =!= col("vec_id"))
      .join(q, "qid")
      .join(embeddings, "vec_id")
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-PQ ANN top-k — the two compression levers composed the way a
    * production index (FAISS `IVFx,PQy`) composes them: the IVF coarse
    * quantizer prunes the SEARCH (only `nprobe` of `nlist` lists are
    * scanned per query), and PQ compresses the STORAGE (each vector's
    * RESIDUAL against its list centroid is coded as `subspaces` bytes).
    * Coding residuals instead of raw vectors is the part that matters:
    * residuals of one list live in a ball around the origin, so one
    * shared codebook quantizes them far more finely than it could the
    * spread-out raw corpus.
    *
    * Determinism contract (what lets DuckDB replay this exactly): both
    * quantizers are the seeded hash60 samples ([[ivfCentroids]] /
    * [[pqCodebook]]'s seed rows), all distances are the dot-product
    * identity [[sqDist]] (same left-fold the oracle's
    * list_dot_product computes), ties break to the smaller code /
    * cid / vec_id everywhere.
    *
    * Scale shape: centroids and the residual codebook broadcast (both
    * tiny by construction); encode is a min(struct) partial aggregate —
    * one row per (vector, subspace) reaches the exchange; the ADC join
    * is keyed on (cid, subsp, code) against a query-side distance table
    * of |Q|·nprobe·subspaces·codewords rows, which is broadcastable
    * precisely because the query frame is bounded (self-search here is
    * gate-scale only, same caveat as [[pqTopK]]). The coded corpus —
    * the 100 TB side — is touched once, never re-read per query. */
  def ivfPqTopK(embeddings: DataFrame, dim: Int, k: Int,
      nlist: Int = DefaultNList, nprobe: Int = DefaultNProbe,
      subspaces: Int = DefaultSubspaces, codewords: Int = DefaultCodewords): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Each intermediate feeds 2–4 downstream branches; without the
    // eager localCheckpoint Catalyst RE-DERIVES the whole seeded-
    // quantizer subtree per branch — measured 4× the end-to-end time
    // at bench scale (r8: stage sum ≈ 2 s, uncheckpointed query
    // 8 s). cents/cb/probes are tiny by construction; lists and
    // resid are corpus-row-count (narrow / dim-wide) — localCheckpoint
    // stores MEMORY_AND_DISK, so at corpus scale they spill rather
    // than OOM, and computing each exactly once is precisely what a
    // production index build wants.
    val cents = ivfCentroids(embeddings, nlist).coalesce(1).localCheckpoint(true)
    val lists = ivfAssign(embeddings, cents).localCheckpoint(true)
    // residual frame: (vec_id, cid, embedding := v − c_cid), double-typed
    val resid = embeddings.join(lists, "vec_id")
      .join(broadcast(cents), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(asDouble(col("embedding")), asDouble(col("cvec")),
          _ - _).as("embedding"))
      .localCheckpoint(true)
    // shared residual codebook: seed rows' residuals, sliced per subspace
    val cb = pqCodebook(resid, dim, subspaces, codewords)
      .coalesce(1).localCheckpoint(true)
    val codes = pqEncode(resid, cb, dim, subspaces)
    // probe selection: nprobe best centroids per query (bounded heaps)
    val qScored = embeddings
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"), col("qvec"), col("cvec"),
        round(cosine(col("qvec"), col("cvec")), 6).as("csim"))
    val probes = graft.plans.TopKPerKey.topKPerKey(qScored,
        Seq(col("qid")), Seq(col("csim").desc, col("cid").asc), nprobe)
      .select(col("qid"), col("cid"),
        zip_with(asDouble(col("qvec")), asDouble(col("cvec")),
          _ - _).as("qres"))
      .localCheckpoint(true)
    // ADC via lookup-table ARRAYS (the FAISS per-query LUT shape): one
    // length-m code array per corpus vector, one length-m·kw distance
    // array per (query, probed list) — the scoring join then touches
    // ONE row per candidate (not one per candidate×subspace; the
    // rows-per-subspace shape ran 4× slower at bench scale) and the
    // ad2 sum is a fixed-order m-step fold of array lookups.
    val ds = dim / subspaces
    val codesArr = codes
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("subsp"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), e => e.getField("code")).as("codes"))
    val dtab = probes
      .select(col("qid"), col("cid"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col("qres"), s * ds + 1, ds)): _*)).as(Seq("subsp", "qsub")))
      .join(broadcast(cb), "subsp")
      .select(col("qid"), col("cid"),
        (col("subsp") * codewords + col("code")).as("idx"),
        sqDist(col("qsub"), col("cw")).as("qd2"))
      .groupBy("qid", "cid")
      .agg(array_sort(collect_list(struct(col("idx"), col("qd2")))).as("iq"))
      .select(col("qid"), col("cid"),
        transform(col("iq"), e => e.getField("qd2")).as("lut"))
    val scored = probes.select("qid", "cid")
      .join(lists, "cid")
      .where(col("qid") =!= col("vec_id"))
      .join(codesArr, "vec_id")
      .join(broadcast(dtab), Seq("qid", "cid"))
      .select(col("qid"), col("vec_id"),
        // native fused LUT fold (r13, graft.functions.AdcSum) — the
        // identical sequential Σ_s lut[s·kw + codes[s]] the interpreted
        // aggregate(sequence(...)) fold computed, bit-for-bit
        round(graft.functions.AdcSum.adcSum(col("codes"), col("lut"),
          codewords), 6).as("ad2"))
    graft.plans.TopKPerKey.topKPerKey(scored,
        Seq(col("qid")), Seq(col("ad2").asc, col("vec_id").asc), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad2").asc, col("vec_id").asc)))
  }

  /** Global top-`n` of `df` by (`score` desc, `id` asc), re-emitted as a
    * dense 1..n rank list (doc_id, rank) — the retrieval-list shape
    * [[rrfFuse]] consumes. The cut is orderBy+limit, which Catalyst
    * plans as TakeOrderedAndProject (per-partition heaps, no global
    * sort); only the ≤ n surviving rows pass through the single-
    * partition ranking window. */
  def topRanked(df: DataFrame, score: Column, id: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(id.as("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select("doc_id", "rank")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * N ranked retrieval lists — the standard hybrid-retrieval combiner
    * (a BM25 keyword list + an embedding-ANN list in a RAG stack).
    * Each input is (doc_id, rank) with rank 1..nᵢ; the fused score is
    * Σᵢ 1/(k + rankᵢ), a document absent from a list contributing 0.
    *
    * Determinism: the lists join pairwise full-outer on doc_id in the
    * given order and the score sums its terms in that same fixed
    * expression order, so no float result ever depends on aggregation
    * order; the final cut rounds to 9 dp BEFORE ordering, with doc_id
    * as tie-break. Scale: inputs are expected pre-cut to their own
    * top-n ([[topRanked]] / TakeOrderedAndProject upstream), so the
    * fusion joins bounded frames regardless of corpus size. Returns
    * (doc_id, rank_0.., rrf) with absent ranks as 0. */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 60, topN: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one list")
    val named = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("doc_id"), col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = named.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val contrib = lists.indices.map { i =>
      when(col(s"rank_$i").isNotNull,
        lit(1.0) / (lit(k.toDouble) + col(s"rank_$i").cast("double")))
        .otherwise(lit(0.0))
    }
    val rankCols = lists.indices.map(i =>
      coalesce(col(s"rank_$i"), lit(0L)).as(s"rank_$i"))
    joined
      .select(col("doc_id") +: rankCols :+
        round(contrib.reduce(_ + _), 9).as("rrf"): _*)
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(topN)
  }
}
