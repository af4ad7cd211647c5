package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftbridge.Bridge

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works alongside the
  * Column API. [[sqlFunctions]] is the one list both registration
  * paths read: [[register]] for an existing session, and
  * [[graft.GraftExtensions]] for sessions built with
  * `spark.sql.extensions`. */
object GraftFunctions {

  /** One SQL function: its name, the class `DESCRIBE FUNCTION` names,
    * and the builder the analyzer calls with the argument expressions. */
  case class SqlFunction(name: String, exprClass: Class[_],
      build: Seq[Expression] => Expression)

  // an aggregate row: arity check with the function's own usage text,
  // then the aggregate wrapped for the analyzer
  private def agg(arity: Int, usage: String)(
      f: Seq[Expression] => AggregateFunction): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == arity, usage)
      f(exprs).toAggregateExpression()
    }

  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("cosine_sim", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs.head, exprs(1))),
    SqlFunction("hash60", Hashing.getClass, hash60Builder),
    SqlFunction("jaro_winkler", classOf[JaroWinkler],
      exprs => JaroWinkler(exprs.head, exprs(1))),
    SqlFunction("normalize_nfc", classOf[NormalizeNfc], exprs => {
      require(exprs.length == 1, "normalize_nfc expects one string argument")
      NormalizeNfc(exprs.head)
    }),
    // HLL distinct sketch: hll60(hash60(x)) → estimate; the register
    // surface (the HyperANF building blocks): hll60_regs(hash60(x)) →
    // blob, hll_union(blob) → blob, hll_union_est(blob) → estimate
    SqlFunction("hll60", classOf[HllSketch],
      agg(1, "hll60 expects exactly one hash60 argument")(
        e => HllSketch(e.head, blobIn = false, blobOut = false))),
    SqlFunction("hll60_regs", classOf[HllSketch],
      agg(1, "hll60_regs expects one hash60 argument")(
        e => HllSketch(e.head, blobIn = false, blobOut = true))),
    SqlFunction("hll_union", classOf[HllSketch],
      agg(1, "hll_union expects one register blob")(
        e => HllSketch(e.head, blobIn = true, blobOut = true))),
    SqlFunction("hll_union_est", classOf[HllSketch],
      agg(1, "hll_union_est expects one register blob")(
        e => HllSketch(e.head, blobIn = true, blobOut = false))),
    // log-bin quantile sketches: hdrq(v, array(0.5, 0.95)) and
    // lgq(v, array(0.5, 0.99)) → ARRAY<BIGINT>
    SqlFunction("hdrq", classOf[LogBinQuantiles],
      agg(2, "hdrq expects (BIGINT value, ARRAY<DOUBLE> quantiles)")(
        e => LogBinQuantiles(e.head, e(1), LogBinQuantiles.HdrM))),
    SqlFunction("lgq", classOf[LogBinQuantiles],
      agg(2, "lgq expects (BIGINT value, ARRAY<DOUBLE> quantiles)")(
        e => LogBinQuantiles(e.head, e(1), LogBinQuantiles.LgqM))),
    // KMV distinct-value synopsis: kmv(hash60(x), 256) → ARRAY<BIGINT>
    SqlFunction("kmv", classOf[KmvSketch],
      agg(2, "kmv expects (BIGINT hash60 value, INT k)")(
        e => KmvSketch(e.head, e(1)))))

  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach(f => Bridge.registerFunction(spark, f.name, f.build))

  /** SQL TABLE function `graft_rmat(levels, n_edges, seed)` — the R-MAT
    * generator as a relation: `SELECT * FROM graft_rmat(8, 2000, 7)`.
    * Registered via `SparkSessionExtensions.injectTableFunction`; the
    * returned plan is the same codegen'd projection over a Range that
    * [[graft.graph.RMat.generate]] builds (the analyzer resolves the
    * `id` references against the Range output). Arguments must fold. */
  private[graft] def rmatTvfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    require(exprs.length == 3,
      "graft_rmat expects (levels INT, n_edges BIGINT, seed BIGINT) literals")
    def lng(e: Expression, what: String): Long = {
      require(e.foldable, s"graft_rmat $what must be a literal")
      e.eval(null) match {
        case n: java.lang.Number => n.longValue()
        case other =>
          throw new IllegalArgumentException(s"graft_rmat $what: got $other")
      }
    }
    val levels = lng(exprs(0), "levels").toInt
    require(levels >= 1 && levels <= 62, "graft_rmat levels must be in [1, 62]")
    val n = lng(exprs(1), "n_edges")
    val seed = lng(exprs(2), "seed")
    // Build through the Dataset API against the resolving session and
    // hand the analyzer the resulting catalyst plan: a hand-assembled
    // Project over Column-bridged expressions would smuggle lazy
    // ColumnNode wrappers into the plan (the same trap hash60Builder
    // documents), while the Dataset path converts everything eagerly.
    graft.graph.RMat
      .generate(org.apache.spark.sql.SparkSession.active, levels, n, seed)
      .queryExecution.logical
  }

  /** SQL TABLE function `graft_edges(path[, chunkBytes])` — the DSv2
    * edge-list connector as a relation, so PURE-SQL clients (thrift
    * server, `spark.sql` scripts) read the reference format with every
    * pushdown intact: `SELECT src, count(*) FROM graft_edges('/data')
    * GROUP BY src` plans the same grouped-pushdown scan the
    * DataFrame path gets. */
  private[graft] def edgesTvfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.nonEmpty && exprs.length <= 2,
      "graft_edges expects (path STRING [, chunkBytes BIGINT]) literals")
    require(exprs.forall(_.foldable), "graft_edges arguments must be literals")
    val path = exprs.head.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new IllegalArgumentException(s"graft_edges path: got $other")
    }
    val reader = org.apache.spark.sql.SparkSession.active.read
      .format("graft.sources.EdgeListSource")
    val withChunk = exprs.lift(1).fold(reader) { e =>
      reader.option("chunkBytes",
        e.eval(null).asInstanceOf[java.lang.Number].longValue.toString)
    }
    withChunk.load(path).queryExecution.logical
  }

  /** `SELECT * FROM graft_history('path')` — the connector's snapshot
    * log as a relation: (version INT, committed_at TIMESTAMP, n_files
    * INT, bytes BIGINT). The DESCRIBE-HISTORY face of time travel. */
  private[graft] def historyTvfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1 && exprs.head.foldable,
      "graft_history expects one literal path STRING")
    val path = exprs.head.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new IllegalArgumentException(s"graft_history path: got $other")
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val rows = graft.sources.EdgeLog.history(new java.io.File(path))
      .map { case (v, ms, n, b) =>
        (v, new java.sql.Timestamp(ms), n, b)
      }
    spark.createDataFrame(rows)
      .toDF("version", "committed_at", "n_files", "bytes")
      .queryExecution.logical
  }

  /** `SELECT * FROM graft_buckets('path')` — the bucketed layout as a
    * relation: one row per bucket with its file count, bytes, and
    * sidecar row sum (NULL when any of the bucket's files lacks a
    * sidecar). The DESCRIBE-layout face of storage-partitioned joins:
    * what an operator checks before relying on co-location, and where
    * bucket-level skew shows up before a job does. Errors on an
    * unbucketed table — absence of layout is a fact, not an empty
    * relation. */
  private[graft] def bucketsTvfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1 && exprs.head.foldable,
      "graft_buckets expects one literal path STRING")
    val path = exprs.head.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new IllegalArgumentException(s"graft_buckets path: got $other")
    }
    val (col, n) = graft.sources.BucketSpecIO.read(path).getOrElse(
      throw new IllegalArgumentException(
        s"edge-list table $path has no bucketed layout (_graft_buckets)"))
    val sorted = graft.sources.BucketSpecIO.sortedOf(path)
    val byBucket = graft.sources.EdgeListSource.listFiles(path)
      .groupBy(f => graft.sources.BucketSpecIO.bucketOf(f.getName))
    // a compound (grid) layout has n×n cells — describe every cell
    val cells = graft.sources.BucketSpecIO.totalCells((col, n))
    val rows = (0 until cells).map { b =>
      val fs = byBucket.getOrElse(Some(b), Seq.empty)
      val sidecars = fs.map(graft.sources.EdgeStats.read)
      (b, col, sorted, fs.size, fs.map(_.length()).sum,
        if (fs.nonEmpty && sidecars.forall(_.isDefined))
          Some(sidecars.flatten.map(_.rows).sum)
        else if (fs.isEmpty) Some(0L)
        else None)
    } ++ byBucket.get(None).map(fs =>
      // untagged files (pre-layout appends): surfaced, never hidden —
      // their presence is exactly what degrades the partitioning report
      (-1, col, sorted, fs.size, fs.map(_.length()).sum,
        Option.empty[Long]))
    org.apache.spark.sql.SparkSession.active.createDataFrame(rows)
      .toDF("bucket", "bucket_col", "sorted", "n_files", "bytes", "rows")
      .queryExecution.logical
  }

  /** `SELECT * FROM graft_changes('path', fromV [, toV])` — the
    * append-only changes feed as a relation: the rows committed in
    * version window (fromV, toV] (toV defaults to the current
    * version). SQL face of `.option("changesFromVersion", …)`. */
  private[graft] def changesTvfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length >= 2 && exprs.length <= 3 &&
      exprs.forall(_.foldable),
      "graft_changes expects (path STRING, fromVersion INT [, toVersion INT]) literals")
    val path = exprs.head.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new IllegalArgumentException(s"graft_changes path: got $other")
    }
    def intOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.eval(null).asInstanceOf[java.lang.Number].intValue.toString
    val reader = org.apache.spark.sql.SparkSession.active.read
      .format("graft.sources.EdgeListSource")
      .option("changesFromVersion", intOf(exprs(1)))
    exprs.lift(2).fold(reader)(e => reader.option("versionAsOf", intOf(e)))
      .load(path).queryExecution.logical
  }

  /** SQL surface for the portable 60-bit hash every deterministic
    * operator derives from (same value in DuckDB: see
    * [[Hashing.hash60Sql]]) — `hash60(x)` or seeded `hash60(seed, x)`.
    * Built as raw catalyst nodes (a Column round-trip would hand the
    * analyzer an Unevaluable lazy wrapper). */
  private[graft] def hash60Builder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.StringType
    // Route every input through StringType: an integral input hashes its
    // DECIMAL STRING, matching the documented DuckDB parity (md5 of the
    // varchar) and the seeded 2-arg form. The native Hash60 expression
    // is bit-equal to the old composed conv/substring/md5 chain.
    def h(e: Expression): Expression = graft.functions.Hash60(Cast(e, StringType))
    exprs match {
      case Seq(x) => h(x)
      case Seq(seed, x) => h(ConcatWs(Seq(Literal("|"),
        Cast(seed, StringType), Cast(x, StringType))))
      case _ => throw new IllegalArgumentException("hash60 expects 1 or 2 arguments")
    }
  }
}
