package graft.sources

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap, Set => JSet}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connector for the reference's whitespace edge-list
  * format (`mr-pr-cpp.cpp:93` — two decimal vertex ids per line): a
  * COMPLETE Spark-native source rather than a `spark.read.text` +
  * parse projection, so the engine's scan features reach the raw file:
  *
  *  - **Byte-range splits** (the reference's "map file chunks",
  *    `mapreduce-7Apr14/src/map_file_chars.cpp` semantics, and the same
  *    contract every columnar file source uses): each file is cut into
  *    `chunkBytes` ranges planned as independent InputPartitions; the
  *    Hadoop text-split convention assigns each line to exactly one
  *    chunk (a reader consumes lines starting in (start, end], skips
  *    its leading partial line, finishes past `end` a line it started)
  *    — so a 100 TB edge file parallelizes across executors without a
  *    driver-side line scan, and no line is read twice or dropped at
  *    any boundary (EdgeListSourceSpec sweeps chunk sizes down to 1
  *    byte).
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): a
  *    degree query touching only `src` never materializes `dst` — the
  *    parser stops at the first field's end.
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): =, <, <=, >,
  *    >=, IsNotNull on either column evaluate DURING the parse; pushed
  *    filters are fully consumed (no residual Filter node survives in
  *    the plan — EdgeListSourceSpec proves it).
  *  - **Limit / top-N pushdown** ([[SupportsPushDownLimit]] /
  *    [[SupportsPushDownTopN]], both PARTIAL): a pushed LIMIT stops
  *    each chunk reader after its first n post-filter rows; a pushed
  *    ORDER BY src/dst LIMIT n folds each chunk through one bounded
  *    O(n) heap — either way the retained global Limit/TakeOrdered
  *    merges ≤ n rows per chunk instead of the whole file.
  *  - **Zone maps** ([[EdgeStats]]): every committed file gets a
  *    `_stats/<file>.zmap` sidecar (min/max src & dst, rows) written
  *    at commit; batch and micro-batch planning drop whole files whose
  *    ranges cannot satisfy the pushed + runtime filters — the text
  *    format's parquet-row-group-statistics equivalent. Sidecars are
  *    an optimization only: absent or stale (post-DELETE, still
  *    conservative) stats never change results.
  *  - **SQL DML** ([[SupportsDeleteV2]] + [[EdgeListCatalog]]):
  *    CREATE / INSERT / SELECT / DELETE FROM / DROP against
  *    `graft.`<path>`` — deletes rewrite only files holding matches,
  *    through a temp file and an atomic rename.
  *
  * Options: `chunkBytes` (split size, default 64 MiB), `malformed`
  * (`fail` — default, abort with file+offset, the reference checker's
  * posture — or `skip`), `maxGroupsPerChunk` (grouped-pushdown partial
  * map bound, default 2^20 — past it the reader flushes partials and
  * refills, trading shuffle rows for O(bound) memory).
  *
  * Usage: `spark.read.format("graft.sources.EdgeListSource").load(dir)`.
  */
class EdgeListSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (java.lang.Boolean.parseBoolean(options.get("withWeight")))
      EdgeListSource.WeightedSchema
    else if (java.lang.Boolean.parseBoolean(options.get("withLabel")))
      EdgeListSource.LabeledSchema
    else EdgeListSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new EdgeListTable(properties.get("path"), withWeight =
      java.lang.Boolean.parseBoolean(properties.get("withWeight")),
      withLabel =
        java.lang.Boolean.parseBoolean(properties.get("withLabel")))

  override def supportsExternalMetadata(): Boolean = false
}

object EdgeListSource {
  val Schema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** The reference's weighted edge format (`vi vj weight`,
    * `read_edge_weight` — mr-pr inputs with per-edge weights): opt in
    * with `.option("withWeight", true)`. Filter/limit pushdown and
    * zone maps work as in the plain format (both key columns); agg /
    * top-N pushdown is declined (the partial readers are integer-only)
    * and falls back to Spark over the scanned rows. */
  val WeightedSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("weight", DoubleType, nullable = false)))

  /** The reference's labeled edge format (`vi vj label`, an INTEGER
    * label per edge — read_edge_label): opt in with
    * `.option("withLabel", true)`. Same pushdown posture as
    * [[WeightedSchema]]. */
  val LabeledSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  val DefaultChunkBytes: Long = 64L * 1024 * 1024

  /** Grouped-pushdown per-chunk partial-map bound (~80 MB of map at the
    * 5-long state): past it the reader emits and refills. */
  val DefaultMaxGroupsPerChunk: Int = 1 << 20

  /** All regular files under `path` (a file or a directory tree),
    * sorted for deterministic partition order. */
  def listFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        // hidden/metadata directories (_stats zone maps, _graft_commits
        // markers) are not data, at any nesting level
        f.listFiles().toSeq.sortBy(_.getName)
          .filterNot(c => c.isDirectory &&
            (c.getName.startsWith(".") || c.getName.startsWith("_")))
          .flatMap(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        Seq(f)
      else Seq.empty
    val root = new java.io.File(path)
    require(root.exists(), s"edge-list path does not exist: $path")
    walk(root)
  }
}

private[sources] class EdgeListTable(path: String,
    versionAsOf: Option[Int] = None, withWeight: Boolean = false,
    withLabel: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(path != null, "EdgeListSource requires a single load(path)/save(path)")
  require(!(withWeight && withLabel),
    "withWeight and withLabel are mutually exclusive (one extra column)")

  private def requireWritable(op: String): Unit =
    if (versionAsOf.isDefined)
      throw new UnsupportedOperationException(
        s"$op is not allowed on a snapshot (VERSION AS OF " +
          s"${versionAsOf.get}) of edge-list table $path")

  /** File-provenance metadata column (`SELECT src, _file FROM …`), and
    * the row-level operations' required metadata: requesting it routes
    * ReplaceData through Spark's projection-applying write task, which
    * is what strips the internal `__row_operation` column before rows
    * reach the connector's writer. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file holding this row"
    })

  /** SQL UPDATE / MERGE INTO (and DELETE whose predicates don't
    * translate — those fall back here from [[canDeleteWhere]]):
    * group-based copy-on-write at whole-table granularity. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireWritable("UPDATE/MERGE")
    () => new EdgeListRowLevelOperation(path, info.command(), withWeight,
      withLabel)
  }

  override def name(): String =
    s"edgelist($path${versionAsOf.fold("")(v => s"@v$v")})"
  override def schema(): StructType =
    if (withWeight) EdgeListSource.WeightedSchema
    else if (withLabel) EdgeListSource.LabeledSchema
    else EdgeListSource.Schema
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdgeListScanBuilder(path,
      Option(options.get("chunkBytes")).map(_.toLong)
        .getOrElse(EdgeListSource.DefaultChunkBytes),
      Option(options.get("malformed")).getOrElse("fail") == "skip",
      Option(options.get("maxGroupsPerChunk")).map(_.toInt)
        .getOrElse(EdgeListSource.DefaultMaxGroupsPerChunk),
      // a DataFrame-read option pins a snapshot too; the catalog's SQL
      // VERSION AS OF arrives through the constructor. timestampAsOf
      // (epoch MICROS, EdgeLog.versionAt's contract) resolves to the
      // latest version committed at or before the instant.
      Option(options.get("versionAsOf")).map(_.toInt)
        .orElse(Option(options.get("timestampAsOf")).map(t =>
          EdgeLog.versionAt(new java.io.File(path), t.toLong)))
        .orElse(versionAsOf),
      // append-only changes feed: rows committed AFTER this version
      // (exclusive) up to versionAsOf/current (inclusive); the
      // timestamp form resolves through the same versionAt contract
      Option(options.get("changesFromVersion")).map(_.toInt)
        .orElse(Option(options.get("changesFromTimestamp")).map(t =>
          EdgeLog.versionAt(new java.io.File(path), t.toLong))),
      withWeight ||
        java.lang.Boolean.parseBoolean(options.get("withWeight")),
      withLabel ||
        java.lang.Boolean.parseBoolean(options.get("withLabel")),
      // persisted bucket layout (storage-partitioned joins): the spec
      // is table state, not a read option — every reader sees it
      BucketSpecIO.read(path))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write")
    new EdgeListWriteBuilder(path, info)
  }

  /** SQL `DELETE FROM graft.`<path>`` — filter-based row deletion
    * (SupportsDeleteV2). Predicates arrive as the WHERE conjuncts; all
    * must translate to the connector's src/dst comparison set
    * ([[EdgeListFilters.supported]]) or `canDeleteWhere` refuses and
    * Spark raises the standard cannot-delete analysis error instead of
    * silently scanning-and-rewriting. An empty array (no WHERE) deletes
    * every row. Each file is rewritten through a hidden temp file and
    * atomically renamed into place; files with no matching rows are
    * left untouched (their mtime and identity are preserved — the
    * compaction/streaming-offset bookkeeping sees no change). */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(p =>
      Bridge.predicateToV1(p).exists(EdgeListFilters.supported(_)))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    requireWritable("DELETE")
    val v1 = predicates.map(p => Bridge.predicateToV1(p).getOrElse(
      throw new IllegalArgumentException(s"untranslatable delete predicate $p")))
    val matches = EdgeListFilters.compile(v1)
    var rewrote = false
    EdgeListSource.listFiles(path).foreach { f =>
      val tmp = new java.io.File(f.getParentFile, s".${f.getName}.del-tmp")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new FileInputStream(f), StandardCharsets.UTF_8))
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(tmp), StandardCharsets.UTF_8))
      var dropped = 0L
      // refreshed zone map for the surviving rows: the rewrite parses
      // every line anyway, so the sidecar stays EXACT (row counts feed
      // estimateStatistics.numRows — a stale post-DELETE count would
      // overstate cardinality as fact)
      var kept = 0L
      var minSrc = Long.MaxValue; var maxSrc = Long.MinValue
      var minDst = Long.MaxValue; var maxDst = Long.MinValue
      try {
        var line = in.readLine()
        while (line != null) {
          val t = (if (line.endsWith("\r")) line.dropRight(1) else line)
            .split("[ \t]")
          val keep =
            try !matches(t(0).toLong, t(1).toLong)
            catch { case _: RuntimeException =>
              throw new IllegalArgumentException(
                s"malformed edge line in $f: ${line.take(80)}")
            }
          if (keep) {
            out.write(line); out.newLine()
            kept += 1
            val s = t(0).toLong; val d = t(1).toLong
            if (s < minSrc) minSrc = s; if (s > maxSrc) maxSrc = s
            if (d < minDst) minDst = d; if (d > maxDst) maxDst = d
          } else dropped += 1
          line = in.readLine()
        }
      } finally { in.close(); out.close() }
      if (dropped > 0) {
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        if (kept > 0)
          EdgeStats.write(f, EdgeStats(minSrc, maxSrc, minDst, maxDst, kept))
        else EdgeStats.file(f).delete()
        rewrote = true
      } else tmp.delete()
    }
    // a rewrite is a new snapshot (and invalidates the rewritten
    // files' presence in older ones — time travel is append-history)
    if (rewrote) EdgeLog.commit(new java.io.File(path))
  }
}

private[sources] class EdgeListScanBuilder(path: String, chunkBytes: Long,
    skipMalformed: Boolean, maxGroups: Int = EdgeListSource.DefaultMaxGroupsPerChunk,
    version: Option[Int] = None, changesFrom: Option[Int] = None,
    withWeight: Boolean = false, withLabel: Boolean = false,
    bucketSpec: Option[(String, Int)] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType =
    if (withWeight) EdgeListSource.WeightedSchema
    else if (withLabel) EdgeListSource.LabeledSchema
    else EdgeListSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Seq[AggOp] = Nil
  private var groupBy: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var topN: Seq[(String, Boolean)] = Nil // (col, descending)

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after an aggregation push the required schema IS the agg schema —
    // keep the raw columns; the reader computes the partials itself
    if (aggs.isEmpty) required = requiredSchema

  /** Accept per-column comparisons against Long-convertible literals;
    * everything else stays with Catalyst. Accepted filters return an
    * EMPTY residual — the scan itself guarantees them. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, theirs) = filters.partition(EdgeListFilters.supported)
    pushed = ours
    theirs
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (ungrouped COUNT(*)/COUNT(col)/MIN/MAX
    * only): each chunk reader folds its range into ONE row of partial
    * values during the parse — nothing row-shaped ever leaves the scan
    * — and Spark's final aggregate merges them (sum of counts, min of
    * mins). Spark only attempts this once every filter was pushed, so
    * the partials are always post-filter. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false

  /** GROUPED partial pushdown (GROUP BY src / dst / both): each chunk
    * folds its range into one partial row per group it sees — a degree
    * count over a 100 TB edge file ships |groups-per-chunk| rows, not
    * |edges|. Memory stays bounded on adversarial cardinality: the
    * per-chunk group map FLUSHES as extra partial rows when it reaches
    * `maxGroupsPerChunk` (Spark's retained final aggregate merges
    * duplicate groups exactly as it merges the per-chunk ones). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // an untranslatable agg function (e.g. AVG) reaches here as an
    // EMPTY aggregate list with only the group columns — accepting it
    // would promise Spark a scan it cannot finish the query from
    if (withWeight || withLabel) return false // 2-col partial readers
    if (aggregation.aggregateExpressions().isEmpty) return false
    val gb = aggregation.groupByExpressions().toSeq.map(AggOp.colOf)
    if (gb.exists(_.isEmpty) || gb.flatten.distinct.size != gb.size) return false
    val translated = aggregation.aggregateExpressions().toSeq.map(AggOp.translate)
    if (translated.exists(_.isEmpty)) return false
    groupBy = gb.flatten
    aggs = translated.flatten
    true
  }

  /** PARTIAL limit pushdown: each chunk reader stops parsing after
    * emitting `limit` post-filter rows (Spark keeps the global Limit
    * that merges the per-chunk prefixes) — a `LIMIT 10` probe over a
    * 100 TB edge file reads ~10 lines per chunk, not the file. */
  override def pushLimit(l: Int): Boolean =
    if (aggs.nonEmpty || l < 0) false
    else { limit = Some(l); true }

  /** PARTIAL top-N pushdown (ORDER BY src/dst ... LIMIT n): each chunk
    * folds its whole range through one bounded O(n)-memory heap and
    * emits only its n best rows; Spark's global TakeOrdered then picks
    * the true top-N from ≤ n·chunks candidates instead of sorting every
    * edge. Any tie-break the heap makes is a valid top-N (the global
    * sort re-orders whatever survives). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (withWeight || withLabel || aggs.nonEmpty || l < 0 || orders.isEmpty) return false
    val cols = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            (nr.fieldNames()(0) == "src" || nr.fieldNames()(0) == "dst") =>
          Some((nr.fieldNames()(0), o.direction() == SortDirection.DESCENDING))
        case _ => None
      }
    }
    if (cols.exists(_.isEmpty)) return false // expression order: Catalyst keeps it
    topN = cols.flatten
    limit = Some(l)
    true
  }

  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new EdgeListScan(path, chunkBytes, skipMalformed, required, pushed, aggs,
      limit, topN, groupBy, maxGroups, version = version,
      changesFrom = changesFrom, withWeight = withWeight,
      withLabel = withLabel, bucketSpec = bucketSpec)
}

/** One pushed ungrouped aggregate, reader-side. */
private[sources] sealed trait AggOp { def name: String }
private[sources] case object CountStarOp extends AggOp { val name = "count(*)" }
private[sources] case class CountColOp(col: String) extends AggOp {
  def name = s"count($col)" // non-nullable column: same as count(*)
}
private[sources] case class MinOp(col: String) extends AggOp {
  def name = s"min($col)"
}
private[sources] case class MaxOp(col: String) extends AggOp {
  def name = s"max($col)"
}

private[sources] object AggOp {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}

  private[sources] def colOf(e: VExpr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 &&
      (nr.fieldNames()(0) == "src" || nr.fieldNames()(0) == "dst") =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  def translate(f: AggregateFunc): Option[AggOp] = f match {
    case _: CountStar => Some(CountStarOp)
    case c: Count if !c.isDistinct => colOf(c.column).map(CountColOp)
    case m: Min => colOf(m.column).map(MinOp)
    case m: Max => colOf(m.column).map(MaxOp)
    case _ => None
  }
}

private[sources] object EdgeListFilters {
  private def isCol(a: String) = a == "src" || a == "dst"
  private def isLong(v: Any) = v match {
    case _: Long | _: Int | _: Short | _: Byte => true
    case _ => false
  }
  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, v) => isCol(a) && isLong(v)
    case GreaterThan(a, v) => isCol(a) && isLong(v)
    case GreaterThanOrEqual(a, v) => isCol(a) && isLong(v)
    case LessThan(a, v) => isCol(a) && isLong(v)
    case LessThanOrEqual(a, v) => isCol(a) && isLong(v)
    case In(a, vs) => isCol(a) && vs.nonEmpty && vs.forall(isLong)
    case IsNotNull(a) => isCol(a) // non-nullable: always true
    // DELETE with no WHERE arrives as a literal-true predicate
    case AlwaysTrue() | AlwaysFalse() => true
    case _ => false
  }

  private def toL(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  /** Zone-map pruning test: can ANY row with src in [sMin,sMax] and dst
    * in [dMin,dMax] satisfy every conjunct? Conservative — unknown
    * filter shapes answer true (never skip on uncertainty). */
  def mayMatch(filters: Array[Filter],
      sMin: Long, sMax: Long, dMin: Long, dMax: Long): Boolean = {
    def lo(a: String) = if (a == "src") sMin else dMin
    def hi(a: String) = if (a == "src") sMax else dMax
    filters.forall {
      case EqualTo(a, v) if isCol(a) && isLong(v) =>
        val c = toL(v); c >= lo(a) && c <= hi(a)
      case GreaterThan(a, v) if isCol(a) && isLong(v) => hi(a) > toL(v)
      case GreaterThanOrEqual(a, v) if isCol(a) && isLong(v) => hi(a) >= toL(v)
      case LessThan(a, v) if isCol(a) && isLong(v) => lo(a) < toL(v)
      case LessThanOrEqual(a, v) if isCol(a) && isLong(v) => lo(a) <= toL(v)
      case In(a, vs) if isCol(a) && vs.nonEmpty && vs.forall(isLong) =>
        vs.exists(v => { val c = toL(v); c >= lo(a) && c <= hi(a) })
      case AlwaysFalse() => false
      case _ => true
    }
  }

  /** BUCKET PRUNING (the Hive story, exact on hash-scattered keys
    * where zone-map min/max ranges are useless): the bucket ids that
    * rows satisfying every conjunct can live in, or None when the
    * filters don't constrain the bucket column to points. A `src = k`
    * probe on a 100 TB table bucketed by src reads 1/n of the files —
    * before any byte moves. */
  def allowedBuckets(filters: Array[Filter], bucketCol: String,
      n: Int): Option[Set[Int]] = {
    val sets = filters.collect {
      case EqualTo(a, v) if a == bucketCol && isLong(v) =>
        Set(BucketHash.bucket(toL(v), n))
      case In(a, vs) if a == bucketCol && vs.nonEmpty && vs.forall(isLong) =>
        vs.map(v => BucketHash.bucket(toL(v), n)).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Compile the pushed set to one (src, dst) => Boolean. */
  def compile(filters: Array[Filter]): (Long, Long) => Boolean = {
    val tests: Array[(Long, Long) => Boolean] = filters.map {
      case EqualTo(a, v) =>
        val c = toL(v); if (a == "src") (s: Long, _: Long) => s == c
                        else (_: Long, d: Long) => d == c
      case GreaterThan(a, v) =>
        val c = toL(v); if (a == "src") (s: Long, _: Long) => s > c
                        else (_: Long, d: Long) => d > c
      case GreaterThanOrEqual(a, v) =>
        val c = toL(v); if (a == "src") (s: Long, _: Long) => s >= c
                        else (_: Long, d: Long) => d >= c
      case LessThan(a, v) =>
        val c = toL(v); if (a == "src") (s: Long, _: Long) => s < c
                        else (_: Long, d: Long) => d < c
      case LessThanOrEqual(a, v) =>
        val c = toL(v); if (a == "src") (s: Long, _: Long) => s <= c
                        else (_: Long, d: Long) => d <= c
      case In(a, vs) =>
        val set = vs.map(toL).toSet
        if (a == "src") (s: Long, _: Long) => set.contains(s)
        else (_: Long, d: Long) => set.contains(d)
      case IsNotNull(_) => (_: Long, _: Long) => true
      case AlwaysTrue() => (_: Long, _: Long) => true
      case AlwaysFalse() => (_: Long, _: Long) => false
      case f => throw new IllegalStateException(s"unsupported pushed filter $f")
    }
    (s, d) => {
      var i = 0
      var ok = true
      while (ok && i < tests.length) { ok = tests(i)(s, d); i += 1 }
      ok
    }
  }
}

private[sources] class EdgeListScan(path: String, chunkBytes: Long,
    skipMalformed: Boolean, required: StructType, pushed: Array[Filter],
    aggs: Seq[AggOp], limit: Option[Int] = None,
    topN: Seq[(String, Boolean)] = Nil, groupBy: Seq[String] = Nil,
    maxGroups: Int = EdgeListSource.DefaultMaxGroupsPerChunk,
    runtimePrunable: Boolean = true, version: Option[Int] = None,
    changesFrom: Option[Int] = None, withWeight: Boolean = false,
    withLabel: Boolean = false,
    bucketSpec: Option[(String, Int)] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning with SupportsReportOrdering {

  /** Validate recorded (file, length) pairs against the live
    * directory: data files are immutable once published, so an
    * existing file with the recorded length IS the committed content;
    * anything else means a later rewrite (DELETE / compaction /
    * OPTIMIZE ZORDER) replaced it — fail with the story rather than
    * return mixed-era rows. */
  private def validated(v: Int,
      recorded: Seq[(java.io.File, Long)]): Seq[(java.io.File, Long)] =
    recorded.map { case (f, len) =>
      if (!f.isFile || f.length() != len)
        throw new IllegalStateException(
          s"snapshot v$v of edge-list table $path is no longer " +
            s"readable: ${f.getName} " +
            (if (!f.isFile) "was removed"
             else s"was rewritten (length ${f.length()} != recorded $len)") +
            " by a later DELETE/compaction/zorder; time travel covers" +
            " append-only history")
      (f, len)
    }

  private def snapshotFiles(v: Int): Seq[(java.io.File, Long)] =
    validated(v, EdgeLog.read(new java.io.File(path), v))

  /** The planned file set: live listing, a pinned snapshot, or the
    * append-only changes feed (files added in (changesFrom, to]). */
  private def plannedFiles(): Seq[(java.io.File, Long)] =
    (changesFrom, version) match {
      case (Some(from), to) =>
        val root = new java.io.File(path)
        val toV = to.orElse(EdgeLog.currentVersion(root)).getOrElse(
          throw new IllegalArgumentException(
            s"changes feed: edge-list table $path has no snapshot log"))
        validated(toV, EdgeLog.changedFiles(root, from, toV))
      case (None, Some(v)) => snapshotFiles(v)
      case (None, None) =>
        EdgeListSource.listFiles(path).map(f => (f, f.length()))
    }

  /** CBO/AQE sizing: raw bytes on disk (the text IS the row payload —
    * no decode amplification worth modeling). Row count: when EVERY
    * planned file carries a zone-map sidecar and no filter was pushed,
    * the sidecars' row counts sum to the EXACT scan cardinality
    * (commit-time counts over immutable files) — free CBO statistics a
    * text format normally can't offer; any filtered, sidecar-less, or
    * agg-reshaped scan declines rather than estimates. */
  override def estimateStatistics():
      org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val files = plannedFiles()
      private val bytes = files.map(_._2).sum
      private val rows: Option[Long] =
        if (pushed.nonEmpty || runtimeFilters.nonEmpty || aggs.nonEmpty ||
            limit.isDefined)
          None
        else {
          val counts = files.map { case (f, _) => EdgeStats.read(f) }
          if (counts.nonEmpty && counts.forall(_.isDefined))
            Some(counts.flatten.map(_.rows).sum)
          else None
        }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }

  /** The bucket layout this scan can REPORT as key-grouped partitioning:
    * only a plain row scan (no pushed agg/top-N/limit reshaping the
    * output), and only when EVERY planned data file carries its bucket
    * tag — an unbucketed append or a compaction/zorder rewrite degrades
    * the report to unknown partitioning, never to a wrong plan. */
  private def reportableBuckets: Option[(String, Int)] =
    bucketSpec.filter(_ => aggs.isEmpty && topN.isEmpty && limit.isEmpty)
      .filter { sp =>
        val cells = BucketSpecIO.totalCells(sp)
        val fs = plannedFiles()
        fs.nonEmpty && fs.forall { case (f, _) =>
          BucketSpecIO.bucketOf(f.getName).exists(_ < cells)
        }
      }

  /** The layout sort the scan can REPORT as per-partition output
    * ordering ([[SupportsReportOrdering]] — the read half of the
    * `SORTED BY` contract): only a sorted-flagged bucketed table, only
    * a plain row scan, and only when the bucket column survives column
    * pruning (the merge needs the key). Each bucket's files are then
    * planned as ONE [[SortedBucketFiles]] partition read through a
    * k-way merge, so every output partition is ascending in the bucket
    * column and a storage-partitioned sort-merge join plans with zero
    * Exchange AND zero Sort — the reference's `sort_keys`
    * (`mapreduce.cpp:2007-2054`) amortized into the layout. */
  private def sortedBuckets: Option[(String, Int)] =
    reportableBuckets.filter { case (c, _) =>
      // compound (grid) layouts merge lexicographically on the pair —
      // BOTH key columns must survive pruning for the merge to key
      BucketSpecIO.sortedOf(path) &&
      c.split(",").forall(required.fieldNames.contains) &&
        // CONSUMER GATE: merged one-partition-per-bucket planning costs
        // a plain scan its chunk-granular parallelism (bucket-count
        // tasks + a k-way merge nobody reads the order of). Spark only
        // consumes the partitioning/ordering reports when V2 bucketing
        // is on (DataSourceV2ScanExecBase.groupedPartitions gates on
        // it), so a scan with it off keeps byte-range splits —
        // full-scan/compaction parallelism is never sacrificed to an
        // ordering report no operator will use. The key is read as
        // Spark registers it (on by default in Spark 4), so an unset
        // key and an explicit `true` plan the same scan.
        org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
        // SKEW INTERPLAY (round 13 — selective, no longer give-up):
        // under partially-clustered distribution, planInputPartitions
        // keeps merged+ordered partitions for COLD buckets and splits
        // only HOT ones (bytes > 2× the median bucket) into per-file /
        // per-chunk partitions — one hot bucket no longer costs every
        // cold bucket its sort-free merge. Correctness is guarded
        // upstream either way: DataSourceV2ScanExecBase.outputOrdering
        // honors a reported ordering only when EVERY key group holds a
        // single input partition (bytecode-verified), so if Spark ends
        // up grouping the hot splits (e.g. this side is chosen fully
        // clustered), the ordering silently degrades to a re-sort — a
        // weaker plan, never a wrong one.
        // COMPATIBLE-WIDTH INTERPLAY: under allowCompatibleTransforms a
        // wider table's buckets may be COALESCED onto a narrower
        // layout's (BucketReducer) — and two buckets' sorted streams do
        // not concatenate sorted, so the ordering report would be a
        // lie; measured, the merged-single-partition planning also
        // breaks the reduced grouping (wide buckets beyond the narrow
        // count were dropped — caught by EdgeListBucketJoinSpec's
        // compatible-width case before it could ship). Chunk-granular
        // planning under this conf is both correct and honest.
        !org.apache.spark.sql.internal.SQLConf.get.v2BucketingAllowCompatibleTransforms
    }

  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortedBuckets match {
      case Some((c, _)) => c.split(",").map(k =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(k),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None =>
        Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    }

  /** Storage-partitioned-join face ([[SupportsReportPartitioning]]):
    * a fully-bucketed table reports `bucket(n, col)` key-grouped
    * partitioning — each chunk carries its bucket id — so two tables
    * bucketed alike join with ZERO Exchange once Catalyst resolves the
    * transform through [[EdgeListCatalog]]'s function catalog (with
    * `spark.sql.sources.v2.bucketing.enabled`, on by default). The shuffle is paid
    * once at write time and amortized over every later join — the
    * reference's `aggregate`-once idiom (`mapreduce.cpp:382-536`) as a
    * durable layout. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    reportableBuckets match {
      case Some((cols, n)) =>
        // a compound layout reports TWO single-argument transforms
        // ([bucket(n, c1), bucket(n, c2)], partition key = the pair) —
        // NOT one bucket(n, c1, c2): Spark's SPJ machinery accepts only
        // single-reference transforms (KeyGroupedPartitioning.
        // isSupportedTransform requires children.size == 1; verified
        // against the 4.1.2 bytecode in r13), so
        // the grid form is what actually plans exchange-free
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          cols.split(",").map(c =>
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, c): org.apache.spark.sql.connector.expressions.Transform),
          planInputPartitions().length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Runtime (DPP-style) filtering: a broadcast join key set arrives
    * after planning as In(src/dst, …) and the chunk readers drop
    * non-matching rows during the parse — rows for keys the join can
    * never match are never materialized. */
  private var runtimeFilters: Array[Filter] = Array.empty
  // a row-level-operation rewrite scan must see EVERY current row:
  // advertising no filterable attributes keeps runtime/group filtering
  // away from it (runtimePrunable = false there). A key-grouped-
  // reporting scan DOES participate (the 100 TB star-join shape: a
  // broadcast dim's build-side key set prunes the bucketed fact's
  // buckets/files at execution) but advertises ONLY the bucket column,
  // and [[planInputPartitions]] pads runtime-emptied buckets with
  // explicit empty partitions so the reported KeyGroupedPartitioning's
  // value universe survives filter() — Spark requires the partitioning
  // be preserved across runtime filtering, and an absent value would
  // degrade it mid-plan.
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!runtimePrunable)
      Array.empty[org.apache.spark.sql.connector.expressions.NamedReference]
    else reportableBuckets match {
      case Some((c, _)) if c.contains(",") =>
        // compound GRID: a runtime key set on EITHER column prunes its
        // own grid dimension (rows for a src key set, columns for a
        // dst one — the grid's win over a combined hash, which needs
        // both keys); allowedTags composes the surviving cells, and
        // the padding below keeps the reported two-transform
        // partitioning's value universe intact
        c.split(",").filter(readSchema().fieldNames.contains)
          .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      case Some((c, _)) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(c))
          .filter(_ => readSchema().fieldNames.contains(c))
      case None =>
        // only columns that SURVIVED pruning: Spark resolves these
        // against the scan's output, and a dst reference on a src-only
        // scan is an analysis crash inside PartitionPruning (surfaced
        // the first time two pruned connector scans met in a join)
        Array("src", "dst")
          .filter(c => readSchema().fieldNames.contains(c))
          .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    }
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(EdgeListFilters.supported)

  override def readSchema(): StructType = {
    if (aggs.isEmpty) required
    else StructType(
      groupBy.map(c => StructField(c, LongType, nullable = false)) ++
      aggs.map {
        case a @ (CountStarOp | CountColOp(_)) =>
          StructField(a.name, LongType, nullable = false)
        case a => StructField(a.name, LongType, nullable = true) // empty chunk
      })
  }

  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (version.isDefined || changesFrom.isDefined)
      throw new UnsupportedOperationException(
        "streaming read of a snapshot/changes feed is not supported —" +
          " a snapshot is a fixed file set, stream the live table" +
          " (the micro-batch source is itself an incremental reader)")
    new EdgeListMicroBatchStream(path, chunkBytes, skipMalformed,
      required, pushed, withWeight, withLabel)
  }
  override def description(): String =
    s"EdgeListScan path=$path" +
      version.fold("")(v => s", VersionAsOf: $v") +
      changesFrom.fold("")(v => s", ChangesFromVersion: $v") +
      s", ReadSchema: ${readSchema().simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (aggs.isEmpty) "" else s", PushedAggregates: [${aggs.map(_.name).mkString(", ")}]") +
      (if (groupBy.isEmpty) "" else s", PushedGroupBy: [${groupBy.mkString(", ")}]") +
      (if (topN.nonEmpty)
        s", PushedTopN: [${topN.map { case (c, d) => s"$c ${if (d) "DESC" else "ASC"}" }.mkString(", ")} LIMIT ${limit.get}]"
      else limit.fold("")(l => s", PushedLimit: $l"))

  /** Zone-map file skip: a sidecar whose [min,max] ranges cannot satisfy
    * the pushed + runtime filters drops the whole file from the plan —
    * no chunk, no task, no read. Files without a sidecar always plan. */
  override def planInputPartitions(): Array[InputPartition] = {
    val fs = pushed ++ runtimeFilters
    val keyed = reportableBuckets.isDefined
    // bucket pruning: a point filter on the bucket column (=, IN) keeps
    // only files whose tag can hold a match — exact (a tagged file holds
    // ONLY its bucket's rows) where hash-scattered keys defeat zone
    // maps; untagged files never prune this way. A compound GRID prunes
    // per dimension: a point filter on EITHER key column keeps only its
    // grid row/column of cells — something a combined hash could never
    // do (it needs both keys).
    def allowedTags(filters: Array[Filter]): Option[Set[Int]] =
      bucketSpec.flatMap { case (c, n) =>
        if (!c.contains(",")) EdgeListFilters.allowedBuckets(filters, c, n)
        else {
          val Array(c1, c2) = c.split(",")
          val rows = EdgeListFilters.allowedBuckets(filters, c1, n)
          val cols = EdgeListFilters.allowedBuckets(filters, c2, n)
          if (rows.isEmpty && cols.isEmpty) None
          else {
            val rs = rows.getOrElse((0 until n).toSet)
            val cs = cols.getOrElse((0 until n).toSet)
            Some(for { i <- rs; j <- cs } yield i * n + j)
          }
        }
      }
    val allowed = allowedTags(fs)
    // a validated snapshot/changes file equals its committed content,
    // so the current sidecar (if any) describes exactly these rows —
    // zone maps keep pruning under time travel and changes feeds
    def keep(filters: Array[Filter],
        okBuckets: Option[Set[Int]]): Seq[(java.io.File, Long)] =
      plannedFiles().filterNot { case (f, len) =>
        len == 0 || (filters.nonEmpty && EdgeStats.read(f).exists(st =>
          !EdgeListFilters.mayMatch(filters,
            st.minSrc, st.maxSrc, st.minDst, st.maxDst))) ||
          okBuckets.exists(ok => BucketSpecIO.bucketOf(f.getName)
            .exists(b => !ok.contains(b)))
      }
    val kept = keep(fs, allowed)
    // KeyGroupedPartitioning preservation under runtime filtering: the
    // reported partition-value universe is what STATIC planning saw —
    // a bucket emptied by a runtime (DPP) filter must still plan, as an
    // explicit empty partition, or Spark would see the partitioning
    // degrade mid-plan. Universe = buckets surviving static-only
    // pruning.
    val padBuckets: Seq[Int] =
      if (!keyed || runtimeFilters.isEmpty) Nil
      else {
        val staticAllowed = allowedTags(pushed)
        val universe = keep(pushed, staticAllowed)
          .flatMap { case (f, _) => BucketSpecIO.bucketOf(f.getName) }.toSet
        val present = kept
          .flatMap { case (f, _) => BucketSpecIO.bucketOf(f.getName) }.toSet
        (universe -- present).toSeq.sorted
      }
    sortedBuckets match {
      case Some((c, _)) =>
        // sorted layout: one merge partition per bucket — whole files,
        // no byte-range splits (the bucket count is the parallelism
        // unit under SPJ anyway), merged on the bucket column so the
        // partition's output IS the reported ordering.
        // HOT-BUCKET-SELECTIVE SKEW (round 13): when the user opts into
        // partially-clustered distribution, a bucket holding > 2× the
        // median bucket's bytes is emitted as per-file partitions
        // (chunked further past chunkBytes) instead of one merged one —
        // each split is still internally sorted (whole sorted file, or
        // a byte range of one), so the ordering report stays honest,
        // cold buckets keep their sort-free merge, and only the hot
        // tail fans out for the dim side to replicate against.
        val specCols = c.split(",")
        val keyOrd = required.fieldNames.indexOf(specCols(0))
        val keyOrd2 =
          if (specCols.length < 2) -1
          else required.fieldNames.indexOf(specCols(1))
        val gridN = bucketSpec.filter(_._1.contains(",")).map(_._2)
          .getOrElse(0)
        val partialClustering = org.apache.spark.sql.internal.SQLConf.get
          .v2BucketingPartiallyClusteredDistributionEnabled
        val byBucket = kept.groupBy { case (f, _) =>
          BucketSpecIO.bucketOf(f.getName).get }.toSeq.sortBy(_._1)
        val medianBytes: Long =
          if (byBucket.isEmpty) 0L
          else byBucket.map(_._2.map(_._2).sum).sorted
            .apply(byBucket.size / 2)
        (byBucket.flatMap { case (b, files) =>
          val bytes = files.map(_._2).sum
          if (partialClustering && bytes > 2L * medianBytes)
            files.flatMap { case (f, len) =>
              (0L until len by chunkBytes).map { start =>
                BucketedEdgeChunk(f.getAbsolutePath, start,
                  math.min(start + chunkBytes, len), b,
                  gridN): InputPartition
              }
            }
          else Seq(SortedBucketFiles(
            files.map { case (f, len) => (f.getAbsolutePath, len) },
            b, keyOrd, keyOrd2, gridN): InputPartition)
        } ++
          padBuckets.map(b =>
            SortedBucketFiles(Nil, b, keyOrd, keyOrd2,
              gridN): InputPartition)).toArray
      case None =>
        val gridN = bucketSpec.filter(_._1.contains(",")).map(_._2)
          .getOrElse(0)
        (kept.flatMap { case (f, len) =>
          (0L until len by chunkBytes).map { start =>
            val end = math.min(start + chunkBytes, len)
            if (keyed)
              BucketedEdgeChunk(f.getAbsolutePath, start, end,
                BucketSpecIO.bucketOf(f.getName).get, gridN): InputPartition
            else EdgeChunk(f.getAbsolutePath, start, end): InputPartition
          }
        } ++
          padBuckets.map(b =>
            SortedBucketFiles(Nil, b, -1, -1, gridN): InputPartition)).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EdgeListReaderFactory(required.fieldNames,
      pushed ++ runtimeFilters, skipMalformed, aggs, limit, topN, groupBy,
      maxGroups, withWeight, withLabel)
}

/** One byte range of one data file — the unit of scan parallelism. */
private[graft] sealed trait EdgeRange extends InputPartition {
  def file: String; def start: Long; def end: Long
}

private[graft] case class EdgeChunk(file: String, start: Long, end: Long)
    extends EdgeRange

/** A chunk of a bucket-tagged file: carries its bucket id as the
  * partition key, which is what lets Spark group both join sides'
  * chunks bucket-by-bucket (storage-partitioned join). A compound
  * (grid) layout passes `gridN` > 0 and the key is the PAIR
  * `(tag / n, tag % n)` — one value per reported transform. */
private[graft] case class BucketedEdgeChunk(file: String, start: Long,
    end: Long, bucket: Int, gridN: Int = 0)
    extends EdgeRange with HasPartitionKey {
  override def partitionKey(): InternalRow =
    if (gridN <= 0) new GenericInternalRow(Array[Any](bucket))
    else new GenericInternalRow(Array[Any](bucket / gridN, bucket % gridN))
}

/** ALL files of one bucket (or grid cell) of a sorted bucketed table,
  * read as one k-way merge on the bucket column(s) (`keyOrdinal`
  * indexes the merge key in the OUTPUT columns; `keyOrdinal2` >= 0
  * makes the merge LEXICOGRAPHIC on the compound pair): each file is
  * internally sorted (the write demanded the sort), so the merged
  * partition stream is sorted — what [[SupportsReportOrdering]]
  * promises. A compound (grid) partition passes `gridN` > 0 and keys
  * on the pair `(tag / n, tag % n)`, one value per reported
  * transform. */
private[graft] case class SortedBucketFiles(files: Seq[(String, Long)],
    bucket: Int, keyOrdinal: Int, keyOrdinal2: Int = -1, gridN: Int = 0)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    if (gridN <= 0) new GenericInternalRow(Array[Any](bucket))
    else new GenericInternalRow(Array[Any](bucket / gridN, bucket % gridN))
}

/** K-way merge reader over one bucket's internally-sorted files. Holds
  * one [[EdgeChunkReader]] per file (bounded by files-per-bucket, not
  * table size) and a binary heap of their current heads; rows surface
  * in ascending merge-key order. EdgeChunkReader.get() allocates per
  * row, so held heads are never clobbered by a reader's advance.
  *
  * Open-handle bound: a k-way merge inherently holds k streams
  * (64 KB buffer each), where k = files in THIS bucket = write tasks
  * per append × appends since the last rewrite — an operational
  * quantity, not a data quantity. A long-appended table should be
  * periodically compacted ([[graft.io.Compaction.compactEdgeList]]),
  * which is the same maintenance the small-files problem already
  * demands; the writer side caps its fanout independently
  * ([[EdgeFileWriter.MaxOpenSinks]]). */
private[sources] class EdgeMergeReader(part: SortedBucketFiles,
    columns: Array[String], pushed: Array[Filter], skipMalformed: Boolean,
    withWeight: Boolean, withLabel: Boolean)
    extends PartitionReader[InternalRow] {

  private val readers: Array[EdgeChunkReader] = part.files.map {
    case (f, len) => new EdgeChunkReader(EdgeChunk(f, 0L, len), columns,
      pushed, skipMalformed, None, withWeight, withLabel)
  }.toArray

  // heap entries: (key[, key2], readerIdx) with the reader's current
  // row held alongside; classic array binary heap, size = live
  // readers. A compound layout (keyOrdinal2 >= 0) merges
  // LEXICOGRAPHICALLY on the pair — files are written sorted by both
  // columns, so the merged stream reports the full compound ordering.
  private val heapKey = new Array[Long](readers.length)
  private val heapKey2 = new Array[Long](readers.length)
  private val heapIdx = new Array[Int](readers.length)
  private val heapRow = new Array[InternalRow](readers.length)
  private var heapSize = 0
  private var current: InternalRow = _
  private val keyOrd = part.keyOrdinal
  private val keyOrd2 = part.keyOrdinal2

  private def key2Of(row: InternalRow): Long =
    if (keyOrd2 < 0) 0L else row.getLong(keyOrd2)

  locally {
    var i = 0
    while (i < readers.length) {
      if (readers(i).next()) push(readers(i).get().getLong(keyOrd),
        key2Of(readers(i).get()), i, readers(i).get())
      i += 1
    }
  }

  private def less(a: Int, b: Int): Boolean =
    heapKey(a) < heapKey(b) ||
      (heapKey(a) == heapKey(b) && heapKey2(a) < heapKey2(b))

  private def push(k: Long, k2: Long, idx: Int, row: InternalRow): Unit = {
    var c = heapSize
    heapKey(c) = k; heapKey2(c) = k2; heapIdx(c) = idx; heapRow(c) = row
    heapSize += 1
    while (c > 0 && less(c, (c - 1) / 2)) {
      swap(c, (c - 1) / 2); c = (c - 1) / 2
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val k = heapKey(a); heapKey(a) = heapKey(b); heapKey(b) = k
    val k2 = heapKey2(a); heapKey2(a) = heapKey2(b); heapKey2(b) = k2
    val i = heapIdx(a); heapIdx(a) = heapIdx(b); heapIdx(b) = i
    val r = heapRow(a); heapRow(a) = heapRow(b); heapRow(b) = r
  }

  private def siftDown(): Unit = {
    var c = 0
    var done = false
    while (!done) {
      val l = 2 * c + 1; val r = l + 1
      var m = c
      if (l < heapSize && less(l, m)) m = l
      if (r < heapSize && less(r, m)) m = r
      if (m == c) done = true else { swap(c, m); c = m }
    }
  }

  override def next(): Boolean = {
    if (heapSize == 0) return false
    current = heapRow(0)
    val idx = heapIdx(0)
    // refill from the reader that surfaced, keeping heap shape
    if (readers(idx).next()) {
      val row = readers(idx).get()
      heapKey(0) = row.getLong(keyOrd); heapKey2(0) = key2Of(row)
      heapRow(0) = row
    } else {
      heapSize -= 1
      heapKey(0) = heapKey(heapSize); heapKey2(0) = heapKey2(heapSize)
      heapIdx(0) = heapIdx(heapSize)
      heapRow(0) = heapRow(heapSize)
    }
    siftDown()
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = readers.foreach(_.close())
}

private[sources] class EdgeListReaderFactory(columns: Array[String],
    pushed: Array[Filter], skipMalformed: Boolean, aggs: Seq[AggOp],
    limit: Option[Int] = None, topN: Seq[(String, Boolean)] = Nil,
    groupBy: Seq[String] = Nil,
    maxGroups: Int = EdgeListSource.DefaultMaxGroupsPerChunk,
    withWeight: Boolean = false, withLabel: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    if (p.isInstanceOf[SortedBucketFiles])
      // sorted layout: k-way merge of the bucket's files (plain row
      // scans only — the planner never mixes this with pushed reshapes)
      new EdgeMergeReader(p.asInstanceOf[SortedBucketFiles], columns,
        pushed, skipMalformed, withWeight, withLabel)
    else if (aggs.nonEmpty && groupBy.nonEmpty)
      new EdgeChunkGroupAggReader(p.asInstanceOf[EdgeRange], pushed,
        skipMalformed, aggs, groupBy, maxGroups)
    else if (aggs.nonEmpty)
      new EdgeChunkAggReader(p.asInstanceOf[EdgeRange], pushed, skipMalformed, aggs)
    else if (topN.nonEmpty)
      new EdgeChunkTopNReader(p.asInstanceOf[EdgeRange], columns, pushed,
        skipMalformed, topN, limit.get)
    else
      new EdgeChunkReader(p.asInstanceOf[EdgeRange], columns, pushed,
        skipMalformed, limit, withWeight, withLabel)
}

/** Grouped-aggregate-pushdown reader: folds the chunk into one partial
  * row per (group, count/min/max partials) via an open hash map keyed
  * on the group columns. Memory is bounded regardless of the file's
  * key cardinality: at `maxGroups` occupied slots the map is EMITTED
  * as-is and refilled — duplicate group rows are exactly what Spark's
  * retained final aggregate already merges across chunks, so a flush
  * costs shuffle bytes, never correctness. */
private[sources] class EdgeChunkGroupAggReader(chunk: EdgeRange,
    pushed: Array[Filter], skipMalformed: Boolean, aggs: Seq[AggOp],
    groupBy: Seq[String], maxGroups: Int)
    extends PartitionReader[InternalRow] {

  private val inner = new EdgeChunkReader(chunk,
    Array("src", "dst"), pushed, skipMalformed)
  // per-group state: [count, minSrc, maxSrc, minDst, maxDst]
  private val state = new java.util.HashMap[(Long, Long), Array[Long]]()
  private var exhausted = false
  private var out: java.util.Iterator[java.util.Map.Entry[(Long, Long), Array[Long]]] = _
  private var row: InternalRow = _
  private val bySrc = groupBy.contains("src")
  private val byDst = groupBy.contains("dst")

  private def refill(): Unit = {
    while (state.size < maxGroups && inner.next()) {
      val r = inner.get()
      val s = r.getLong(0); val d = r.getLong(1)
      val key = (if (bySrc) s else 0L, if (byDst) d else 0L)
      val st = state.get(key)
      if (st == null)
        state.put(key, Array(1L, s, s, d, d))
      else {
        st(0) += 1
        if (s < st(1)) st(1) = s; if (s > st(2)) st(2) = s
        if (d < st(3)) st(3) = d; if (d > st(4)) st(4) = d
      }
    }
    if (state.size < maxGroups) exhausted = true
    out = state.entrySet().iterator()
  }

  override def next(): Boolean = {
    if (out == null) refill()
    while (!out.hasNext && !exhausted) { state.clear(); refill() }
    if (!out.hasNext) return false
    val e = out.next()
    val st = e.getValue
    val gvals: Seq[Any] = groupBy.map {
      case "src" => e.getKey._1
      case _ => e.getKey._2
    }
    val avals: Seq[Any] = aggs.map {
      case CountStarOp | CountColOp(_) => st(0)
      case MinOp(c) => if (c == "src") st(1) else st(3)
      case MaxOp(c) => if (c == "src") st(2) else st(4)
    }
    row = new GenericInternalRow((gvals ++ avals).toArray)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = inner.close()
}

/** Top-N-pushdown reader: folds the chunk's whole post-filter row set
  * through ONE bounded heap (worst-on-top, capped at n) and then emits
  * its ≤ n best rows — O(n) memory and no per-chunk sort of the full
  * range. Spark's retained global TakeOrdered merges the per-chunk
  * candidate sets. */
private[sources] class EdgeChunkTopNReader(chunk: EdgeRange,
    columns: Array[String], pushed: Array[Filter], skipMalformed: Boolean,
    topN: Seq[(String, Boolean)], n: Int)
    extends PartitionReader[InternalRow] {

  // total order on (src, dst) per the pushed sort; heap keeps the worst
  // surviving row on top so one compare decides admission
  private val cmp: java.util.Comparator[(Long, Long)] = { (a, b) =>
    var r = 0
    val it = topN.iterator
    while (r == 0 && it.hasNext) {
      val (c, desc) = it.next()
      val (x, y) = if (c == "src") (a._1, b._1) else (a._2, b._2)
      r = java.lang.Long.compare(x, y)
      if (desc) r = -r
    }
    r
  }

  private var it: Iterator[(Long, Long)] = _
  private var row: InternalRow = _
  private val srcIdx = columns.indexOf("src")
  private val dstIdx = columns.indexOf("dst")

  private def fill(): Unit = {
    val inner = new EdgeChunkReader(chunk, Array("src", "dst"), pushed,
      skipMalformed)
    val heap = new java.util.PriorityQueue[(Long, Long)](
      math.max(1, n), cmp.reversed())
    try {
      while (inner.next()) {
        val r = inner.get()
        val t = (r.getLong(0), r.getLong(1))
        if (heap.size < n) heap.add(t)
        else if (n > 0 && cmp.compare(t, heap.peek()) < 0) {
          heap.poll(); heap.add(t)
        }
      }
    } finally inner.close()
    it = Iterator.fill(heap.size)(heap.poll())
  }

  override def next(): Boolean = {
    if (it == null) fill()
    if (!it.hasNext) return false
    val (s, d) = it.next()
    val vals = new Array[Any](columns.length)
    if (srcIdx >= 0) vals(srcIdx) = s
    if (dstIdx >= 0) vals(dstIdx) = d
    val fi = columns.indexOf("_file")
    if (fi >= 0)
      vals(fi) = org.apache.spark.unsafe.types.UTF8String.fromString(chunk.file)
    row = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Aggregate-pushdown reader: folds its whole byte range into ONE row
  * of partial values — no per-edge InternalRow is ever allocated. */
private[sources] class EdgeChunkAggReader(chunk: EdgeRange,
    pushed: Array[Filter], skipMalformed: Boolean, aggs: Seq[AggOp])
    extends PartitionReader[InternalRow] {

  private val inner = new EdgeChunkReader(chunk,
    Array("src", "dst"), pushed, skipMalformed)
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    var n = 0L
    var minSrc = Long.MaxValue; var maxSrc = Long.MinValue
    var minDst = Long.MaxValue; var maxDst = Long.MinValue
    while (inner.next()) {
      val r = inner.get()
      val s = r.getLong(0); val d = r.getLong(1)
      n += 1
      if (s < minSrc) minSrc = s; if (s > maxSrc) maxSrc = s
      if (d < minDst) minDst = d; if (d > maxDst) maxDst = d
    }
    val vals: Array[Any] = aggs.map {
      case CountStarOp | CountColOp(_) => n
      case MinOp(c) =>
        if (n == 0) null else if (c == "src") minSrc else minDst
      case MaxOp(c) =>
        if (n == 0) null else if (c == "src") maxSrc else maxDst
    }.toArray
    row = new GenericInternalRow(vals)
    done = true
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = inner.close()
}

/** Streams one byte-range of one file. Boundary contract: a line
  * belongs to the chunk containing its first byte — a reader starting
  * at offset > 0 discards bytes up to and including the first newline
  * (they are the tail of the previous chunk's last line), and keeps
  * consuming PAST `end` to finish a line it started. */
private[sources] class EdgeChunkReader(chunk: EdgeRange,
    columns: Array[String], pushed: Array[Filter], skipMalformed: Boolean,
    limit: Option[Int] = None, withWeight: Boolean = false,
    withLabel: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val in = new BufferedInputStream(
    new FileInputStream(chunk.file), 1 << 16)
  private var pos: Long = 0L
  private var emitted: Int = 0
  private val keep = EdgeListFilters.compile(pushed)
  private val needSrc = columns.contains("src")
  private val needDst = columns.contains("dst")
  private val srcIdx = columns.indexOf("src")
  private val dstIdx = columns.indexOf("dst")
  private val wtIdx = if (withWeight) columns.indexOf("weight") else -1
  private val lbIdx = if (withLabel) columns.indexOf("label") else -1
  private val fileIdx = columns.indexOf("_file")
  private val fileVal = // constant per chunk
    if (fileIdx >= 0)
      org.apache.spark.unsafe.types.UTF8String.fromString(chunk.file)
    else null
  private var row: InternalRow = _
  private val lineBuf = new ArrayBuffer[Byte](64)

  // seek: BufferedInputStream.skip is cheap (no read of skipped bytes
  // beyond buffer fills); then drop the partial first line
  locally {
    var toSkip = chunk.start
    while (toSkip > 0) { val s = in.skip(toSkip); require(s > 0); toSkip -= s }
    pos = chunk.start
    if (chunk.start > 0) skipToNewline()
  }

  private def skipToNewline(): Unit = {
    var b = in.read()
    while (b != -1 && b != '\n') { pos += 1; b = in.read() }
    if (b != -1) pos += 1
  }

  /** Read the next raw line (bytes, no terminator); null at EOF or when
    * the line starts STRICTLY after the chunk end. The Hadoop text-split
    * convention: a reader consumes lines starting in (start, end] (chunk
    * 0 also owns offset 0) — so the line a boundary cuts is finished by
    * the left chunk, and a line starting exactly at a boundary belongs
    * to the left chunk too (the right reader's skip-first-line discards
    * it). Every line is read exactly once for EVERY chunk size. */
  private def nextLine(): Array[Byte] = {
    if (pos > chunk.end) return null
    lineBuf.clear()
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { lineBuf += b.toByte; pos += 1; b = in.read() }
    if (b != -1) pos += 1
    lineBuf.toArray
  }

  /** Reference line shape: `(0|[1-9][0-9]*)\s(0|[1-9][0-9]*)`, optional
    * trailing \r. Hand parser — no regex, no String allocation. Returns
    * false on malformed. */
  private var pSrc = 0L
  private var pDst = 0L
  private var pWt = 0.0d
  private var pLabel = 0L
  private def parse(bs: Array[Byte]): Boolean = {
    var i = 0
    val n = if (bs.nonEmpty && bs(bs.length - 1) == '\r') bs.length - 1 else bs.length
    if (n == 0) return false
    var v = 0L; var digits = 0
    while (i < n && bs(i) >= '0' && bs(i) <= '9') {
      v = v * 10 + (bs(i) - '0'); digits += 1; i += 1
    }
    if (digits == 0 || (digits > 1 && bs(0) == '0')) return false
    pSrc = v
    if (i >= n || !(bs(i) == ' ' || bs(i) == '\t')) return false
    i += 1
    v = 0L; digits = 0; val dStart = i
    while (i < n && bs(i) >= '0' && bs(i) <= '9') {
      v = v * 10 + (bs(i) - '0'); digits += 1; i += 1
    }
    if (digits == 0 || (digits > 1 && bs(dStart) == '0')) return false
    pDst = v
    if (withLabel) {
      // labeled line: exactly one more INTEGER token (read_edge_label
      // parses `%lu %lu %d` — signed int label)
      if (i >= n || !(bs(i) == ' ' || bs(i) == '\t')) return false
      i += 1
      val neg = i < n && bs(i) == '-'
      if (neg) i += 1
      v = 0L; digits = 0; val lStart = i
      while (i < n && bs(i) >= '0' && bs(i) <= '9') {
        v = v * 10 + (bs(i) - '0'); digits += 1; i += 1
      }
      if (digits == 0 || (digits > 1 && bs(lStart) == '0') || i != n)
        return false
      pLabel = if (neg) -v else v
      return true
    }
    if (!withWeight) return i == n
    // weighted line: exactly one more whitespace-separated float token
    // (read_edge_weight's `vi vj wt`); Double.parseDouble carries the
    // reference checker's float-text tolerance
    if (i >= n || !(bs(i) == ' ' || bs(i) == '\t')) return false
    i += 1
    if (i >= n) return false
    val tok = new String(bs, i, n - i, StandardCharsets.US_ASCII)
    if (tok.exists(c => c == ' ' || c == '\t')) return false
    try { pWt = java.lang.Double.parseDouble(tok); !pWt.isNaN }
    catch { case _: NumberFormatException => false }
  }

  override def next(): Boolean = {
    // pushed-limit early stop: this chunk's prefix satisfies the
    // retained global Limit, so stop parsing the rest of the range
    if (limit.exists(emitted >= _)) return false
    var line = nextLine()
    while (line != null) {
      if (parse(line)) {
        if (keep(pSrc, pDst)) {
          val vals = new Array[Any](columns.length)
          if (needSrc) vals(srcIdx) = pSrc
          if (needDst) vals(dstIdx) = pDst
          if (wtIdx >= 0) vals(wtIdx) = pWt
          if (lbIdx >= 0) vals(lbIdx) = pLabel
          if (fileIdx >= 0) vals(fileIdx) = fileVal
          row = new GenericInternalRow(vals)
          emitted += 1
          return true
        }
      } else if (!skipMalformed) {
        throw new IllegalArgumentException(
          s"malformed edge line in ${chunk.file} near byte $pos: " +
            new String(line, StandardCharsets.UTF_8).take(80))
      }
      line = nextLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Write side of the connector (the reference's `print`/golden-file
  * emitters as a Spark sink): each task streams its partition to a
  * hidden temp file; the driver-side commit atomically renames every
  * task file into place — and, under TRUNCATE (mode("overwrite")),
  * removes the previous generation first. A failed/speculative task's
  * file is deleted by abort and never becomes visible, so the commit
  * is all-or-nothing at file granularity (the same recipe as
  * exactlyOnceParquetSink). */
private[sources] class EdgeListWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** The effective bucket layout of this write: the explicit options
    * (`bucketBy` + `numBuckets`) if given, else the table's persisted
    * sidecar — so plain appends to a bucketed table keep bucketing
    * (Hive semantics: the layout is table state, not a per-write
    * whim). An append whose options CONTRADICT the standing layout
    * fails fast; a truncate may re-layout. */
  private def resolveBuckets(): Option[(String, Int)] = {
    val opts = info.options()
    val optSpec = (Option(opts.get("bucketBy")),
        Option(opts.get("numBuckets"))) match {
      case (None, None) => None
      case (Some(c), Some(n)) =>
        require(BucketSpecIO.validCols(c),
          s"bucketBy must be src, dst, src,dst or dst,src; got '$c'")
        require(scala.util.Try(n.toInt).toOption.exists(_ >= 1),
          s"numBuckets must be a positive integer; got '$n'")
        Some((c, n.toInt))
      case _ => throw new IllegalArgumentException(
        "bucketed edge-list writes need BOTH bucketBy and numBuckets")
    }
    val standing = BucketSpecIO.read(path)
    (optSpec, standing) match {
      case (Some(o), Some(s)) if !doTruncate && o != s =>
        throw new IllegalArgumentException(
          s"append bucket spec $o contradicts table layout $s of $path" +
            " (overwrite to re-layout)")
      case _ => optSpec.orElse(standing)
    }
  }

  override def build(): Write = {
    val in = info.schema()
    val weighted = in.fieldNames.toSeq == Seq("src", "dst", "weight") &&
      in.fields.take(2).forall(_.dataType == LongType) &&
      in.fields(2).dataType == DoubleType
    val labeled = in.fieldNames.toSeq == Seq("src", "dst", "label") &&
      in.fields.forall(_.dataType == LongType)
    require(weighted || labeled || (in.length == 2 &&
        in.fields.forall(f => f.dataType == LongType) &&
        in.fieldNames.toSeq == Seq("src", "dst")),
      "edge-list writes need (src BIGINT, dst BIGINT), " +
        "(src BIGINT, dst BIGINT, weight DOUBLE) or " +
        s"(src BIGINT, dst BIGINT, label BIGINT); got ${in.simpleString}")
    val bucketSpec = resolveBuckets()
    // SORTED BY as part of the layout (the reference's sort_keys,
    // mapreduce.cpp:2007-2054, paid once at write time): every bucketed
    // batch write demands an in-partition ascending sort on the bucket
    // column, so each fanout file comes out internally sorted (the
    // bucket filter preserves the task stream's relative order).
    // Appending to a pre-flag unsorted table still writes sorted files
    // but cannot upgrade the table flag — mixed eras stay unsorted.
    // COMPOUND layouts sort (and merge-read) lexicographically on both
    // key columns, in spec order.
    val sortedFlag = bucketSpec.isDefined &&
      (doTruncate || BucketSpecIO.read(path).isEmpty ||
        BucketSpecIO.sortedOf(path))
    // idempotent batch appends (foreachBatch maintenance): a marker
    // token tags this write's files and fences its commit — a replay
    // with the same token is a no-op, a crashed half-commit is
    // unpublished by its tag first. Filename-safe tokens only.
    val marker = Option(info.options().get("idempotencyMarker"))
    marker.foreach(m => require(m.nonEmpty && m.forall(c =>
        c.isLetterOrDigit || c == '_'),
      s"idempotencyMarker must be [A-Za-z0-9_]+; got '$m'"))
    new EdgeListWrite(path, doTruncate, weighted, labeled, bucketSpec,
      sortedFlag, allowStreaming = true,
      streamingBucketBy = Option(info.options().get("bucketBy")),
      marker = marker)
  }
}

/** The connector's Write: bucketed batch writes additionally implement
  * [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
  * (unspecified distribution — the caller owns task count — plus an
  * in-partition ascending sort on the bucket column), which is what
  * makes every committed bucket file internally sorted and lets reads
  * report ordering. */
private[sources] class EdgeListWrite(path: String, doTruncate: Boolean,
    weighted: Boolean, labeled: Boolean,
    bucketSpec: Option[(String, Int)], sortedFlag: Boolean,
    allowStreaming: Boolean, streamingBucketBy: Option[String],
    marker: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    bucketSpec match {
      case Some((cols, _)) => cols.split(",").map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None =>
        Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    }

  override def toBatch: BatchWrite =
    new EdgeListBatchWrite(path, doTruncate, weighted, labeled,
      bucketSpec, sortedFlag, marker)

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(allowStreaming, "streaming not supported for this write")
    require(!doTruncate, "edge-list streaming sink supports Append " +
      "output only (Complete would rewrite committed epochs)")
    // a streaming epoch's published names carry the epoch id, not a
    // bucket tag — bucketed layouts are a batch-write feature; the
    // sink's untagged appends simply degrade the table's reported
    // partitioning (read-side fallback), never its rows
    require(streamingBucketBy.isEmpty,
      "the edge-list streaming sink does not write bucketed layouts")
    new EdgeListStreamingWrite(path, weighted, labeled)
  }
}

/** GROUP-BASED (copy-on-write) row-level operation — what makes SQL
  * UPDATE and MERGE INTO work on the connector. Spark reads the current
  * rows through the operation's scan, assembles the full replacement
  * row set (updated matches plus untouched rows), and writes it through
  * the operation's write; the commit is the connector's truncate +
  * temp-file + atomic-rename path, so the swap is all-or-nothing at
  * file granularity. The scan deliberately supports NO pushdown and
  * advertises NO runtime-filterable attributes: the rewrite must see
  * every current row — pushing the command's condition into this scan
  * would silently drop non-matching rows from the new table. Group
  * granularity is the whole table (a text format has no row ids to
  * support a delta path); simple predicate deletes never come here —
  * they take the [[SupportsDeleteV2]] file-rewrite fast path. */
private[sources] class EdgeListRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    withWeight: Boolean = false, withLabel: Boolean = false)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  private def tableSchema: StructType =
    if (withWeight) EdgeListSource.WeightedSchema
    else if (withLabel) EdgeListSource.LabeledSchema
    else EdgeListSource.Schema

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  /** Requiring `_file` flips ReplaceData into the data+metadata write
    * task, whose row projection delivers clean (src, dst) rows to the
    * writer (the plain task hands the writer the raw query row,
    * `__row_operation` included). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = StructType(
        tableSchema.fields :+ StructField("_file", StringType, false))
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new EdgeListScan(path,
        Option(options.get("chunkBytes")).map(_.toLong)
          .getOrElse(EdgeListSource.DefaultChunkBytes),
        Option(options.get("malformed")).getOrElse("fail") == "skip",
        required, Array.empty, Nil,
        runtimePrunable = false, withWeight = withWeight,
        withLabel = withLabel)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val in = info.schema()
        require(in.fieldNames.toSeq == tableSchema.fieldNames.toSeq &&
            in.fields.map(_.dataType).toSeq ==
              tableSchema.fields.map(_.dataType).toSeq,
          s"edge-list rewrite needs ${tableSchema.simpleString}; " +
            s"got ${in.simpleString}")
        // a rewrite replaces every file — re-bucket through the fanout
        // writer so the standing layout survives DML; the demanded
        // in-partition sort means the replacement files come out
        // sorted, so the layout UPGRADES to sorted under a rewrite
        new EdgeListWrite(path, doTruncate = true, weighted = withWeight,
          labeled = withLabel, bucketSpec = BucketSpecIO.read(path),
          sortedFlag = BucketSpecIO.read(path).isDefined,
          allowStreaming = false, streamingBucketBy = None)
      }
    }
}

/** Per-file zone map (min/max src & dst + row count), carried from the
  * task's writer to the driver commit and persisted as a sidecar under
  * `_stats/<file>.zmap`. Readers use it to skip whole files whose
  * range can't satisfy the pushed filters — the text format's answer
  * to parquet row-group statistics. Bounds stay CONSERVATIVE under
  * row deletion (removing rows can only narrow the true range), so
  * `deleteWhere` rewrites never invalidate a sidecar. */
private[graft] case class EdgeStats(
    minSrc: Long, maxSrc: Long, minDst: Long, maxDst: Long, rows: Long)

private[graft] object EdgeStats {
  def file(dataFile: java.io.File): java.io.File =
    new java.io.File(new java.io.File(dataFile.getParentFile, "_stats"),
      dataFile.getName + ".zmap")

  def write(dataFile: java.io.File, st: EdgeStats): Unit = {
    val f = file(dataFile)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      s"${st.minSrc} ${st.maxSrc} ${st.minDst} ${st.maxDst} ${st.rows}\n"
        .getBytes(StandardCharsets.US_ASCII))
    ()
  }

  /** None when absent or unreadable — stats are an optimization, never
    * a correctness dependency. */
  def read(dataFile: java.io.File): Option[EdgeStats] = {
    val f = file(dataFile)
    if (!f.isFile) None
    else try {
      val t = new String(java.nio.file.Files.readAllBytes(f.toPath),
        StandardCharsets.US_ASCII).trim.split("\\s+")
      if (t.length != 5) None
      else Some(EdgeStats(t(0).toLong, t(1).toLong, t(2).toLong,
        t(3).toLong, t(4).toLong))
    } catch { case _: Exception => None }
  }

  /** Drop sidecars whose data file no longer exists (compaction /
    * truncate leftovers). */
  def dropOrphans(dir: java.io.File): Unit = {
    val sd = new java.io.File(dir, "_stats")
    if (sd.isDirectory)
      sd.listFiles().foreach { s =>
        if (!new java.io.File(dir, s.getName.stripSuffix(".zmap")).isFile)
          s.delete()
      }
  }
}

/** One task's committed temp files: usually one, one PER BUCKET under a
  * bucketed layout (the Hive-style fanout writer). */
private[sources] case class EdgeFileCommit(
    files: Seq[(String, Option[EdgeStats])]) extends WriterCommitMessage

private[sources] class EdgeListBatchWrite(path: String, truncate: Boolean,
    weighted: Boolean = false, labeled: Boolean = false,
    bucketSpec: Option[(String, Int)] = None, sortedFlag: Boolean = false,
    marker: Option[String] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo): DataWriterFactory =
    new EdgeListWriterFactory(path, weighted, labeled, bucketSpec, marker)

  /** Marker file fencing an idempotent write (the native streaming
    * sink's epoch recipe generalized to batch appends): present = the
    * token's write committed FULLY — a replay discards its temps and
    * does nothing. Absent with `-m<token>` files published = a crash
    * landed between renames and the marker; those partials are
    * identifiable by their tag and removed before the replay publishes
    * its complete set. */
  private def markerFile(m: String) =
    new java.io.File(new java.io.File(path, "_graft_commits"), s"_m_$m")

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    // Marker fencing applies to APPENDS only. An overwrite is naturally
    // idempotent (a replay re-truncates and republishes the same rows),
    // and consulting a pre-existing marker on a truncate is exactly the
    // stale-token data-loss trap: a token used BEFORE the overwrite
    // would silently discard the overwrite itself.
    marker.filterNot(_ => truncate) match {
      case Some(m) if markerFile(m).exists() =>
        // replay of a fully-committed write: drop temps, then make the
        // log current — the first attempt may have crashed AFTER the
        // marker landed but BEFORE its manifest did (marker-first
        // ordering below); re-committing here is idempotent because it
        // snapshots the listing and skips when nothing changed.
        messages.foreach { case EdgeFileCommit(files) =>
          files.foreach { case (t, _) => new java.io.File(t).delete() } }
        EdgeLog.commitIfChanged(dir)
        return
      case Some(m) =>
        // unpublish a half-committed earlier attempt of this token —
        // safe precisely because the marker (and therefore the log
        // manifest, which lands after it) never recorded those files
        val half = dir.listFiles().filter(f => f.isFile &&
          !f.getName.startsWith(".") &&
          f.getName.matches(s".*-m$m(-b\\d+)?\\.txt"))
        half.foreach { f => EdgeStats.file(f).delete(); f.delete() }
      case None => ()
    }
    if (truncate) {
      // data files only: dot-temps are in-flight writers' property and
      // _-prefixed entries are metadata (_graft_meta schema sidecar;
      // _stats/_graft_log/_graft_commits are directories anyway)
      dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .foreach(_.delete())
      // an overwrite RESETS the table's commit history: stale batch
      // tokens (_m_*) and streaming epoch markers must not survive it,
      // or a post-overwrite append reusing a pre-overwrite token (e.g.
      // foreachBatch after a checkpoint reset) hits the marker-exists
      // branch and silently discards its batch
      val commits = new java.io.File(dir, "_graft_commits")
      if (commits.isDirectory)
        commits.listFiles().filter(_.isFile).foreach(_.delete())
    }
    messages.foreach { case EdgeFileCommit(files) => files.foreach {
      case (tmp, stats) =>
        val f = new java.io.File(tmp)
        if (f.length() == 0) f.delete() // empty partition: no file
        else {
          val target = new java.io.File(dir, f.getName.stripPrefix("."))
          if (!f.renameTo(target))
            throw new java.io.IOException(s"commit rename failed: $tmp -> $target")
          stats.foreach(EdgeStats.write(target, _))
        }
    } }
    if (truncate) EdgeStats.dropOrphans(dir)
    // the layout is table state: persist it so later reads report the
    // partitioning (and, when sorted, the ordering) and later appends
    // keep bucketing without the option
    bucketSpec.foreach(BucketSpecIO.write(dir, _, sortedFlag))
    // MARKER BEFORE MANIFEST: once the marker exists a replay discards
    // its temps and (re-)commits the log; were the manifest first, a
    // crash between the two would leave a committed snapshot whose
    // files the replay's unpublish-by-tag pass then deletes — breaking
    // that version's immutable-file validation forever.
    marker.foreach { m =>
      markerFile(m).getParentFile.mkdirs()
      java.nio.file.Files.write(markerFile(m).toPath, Array.emptyByteArray)
    }
    EdgeLog.commit(dir) // snapshot manifest: this commit's file set
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case EdgeFileCommit(files) =>
      files.foreach { case (tmp, _) => new java.io.File(tmp).delete() } }
}

private[sources] class EdgeListWriterFactory(path: String,
    weighted: Boolean = false, labeled: Boolean = false,
    bucketSpec: Option[(String, Int)] = None,
    marker: Option[String] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new EdgeFileWriter(path, partitionId, taskId, weighted, labeled,
      bucketSpec, marker)
}

/** EXACTLY-ONCE streaming sink (Append mode): the connector's fourth
  * face. Tasks write invisible dot-temp files; `commit(epochId, …)`
  * publishes them as `part-<stamp>-e<epoch>-<i>.txt` and then drops a
  * marker under `_graft_commits/`. Idempotence on Spark's epoch-replay
  * contract (a failed micro-batch re-runs with the SAME epoch id):
  *
  *  - marker present → the epoch already committed fully; the replay's
  *    temp files are discarded, nothing is duplicated;
  *  - marker absent but epoch-tagged files present (a crash landed
  *    between renames and the marker) → those partials are deleted
  *    first, then the replay's complete set is published — the
  *    epoch tag in the file name is what makes the half-committed
  *    attempt identifiable and removable.
  *
  * Fresh wall-clock stamps keep the offset contract of
  * [[EdgeListMicroBatchStream]] (new files sort after processed ones),
  * so a sink directory can be re-consumed as a stream. */
private[sources] class EdgeListStreamingWrite(path: String,
    weighted: Boolean = false, labeled: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new EdgeListStreamingWriterFactory(path, weighted, labeled)

  private def marker(epochId: Long) =
    new java.io.File(new java.io.File(path, "_graft_commits"), s"_$epochId")

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val m = marker(epochId)
    if (m.exists()) {
      messages.foreach { case EdgeFileCommit(files) =>
        files.foreach { case (t, _) => new java.io.File(t).delete() } }
      return
    }
    // a half-committed earlier attempt of this epoch: unpublish it
    dir.listFiles()
      .filter(f => f.isFile && f.getName.matches(s"part-\\d+-e$epochId-\\d+\\.txt"))
      .foreach(_.delete())
    val stamp = f"${System.currentTimeMillis()}%013d"
    messages.flatMap { case EdgeFileCommit(files) => files }
      .zipWithIndex.foreach { case ((t, stats), i) =>
      val f = new java.io.File(t)
      if (f.length() == 0) f.delete()
      else {
        val target = new java.io.File(dir, f"part-$stamp-e$epochId-$i%05d.txt")
        if (!f.renameTo(target))
          throw new java.io.IOException(s"epoch commit rename failed: $t -> $target")
        stats.foreach(EdgeStats.write(target, _))
      }
    }
    m.getParentFile.mkdirs()
    java.nio.file.Files.write(m.toPath, Array.emptyByteArray)
    // snapshot manifest per published epoch (a marker-deduped replay
    // returned above — no duplicate version for a replayed epoch)
    EdgeLog.commit(dir)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case EdgeFileCommit(files) =>
      files.foreach { case (t, _) => new java.io.File(t).delete() } }
}

private[sources] class EdgeListStreamingWriterFactory(path: String,
    weighted: Boolean = false, labeled: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new EdgeFileWriter(path, partitionId, taskId, weighted, labeled)
}

private[sources] class EdgeFileWriter(path: String, partitionId: Int,
    taskId: Long, weighted: Boolean = false, labeled: Boolean = false,
    bucketSpec: Option[(String, Int)] = None,
    marker: Option[String] = None)
    extends DataWriter[InternalRow] {

  private val dir = { val d = new java.io.File(path); d.mkdirs(); d }
  // idempotency tag: precedes any bucket suffix so bucketOf's
  // trailing `-b<k>.txt` match is untouched
  private val markTag = marker.fold("")(m => s"-m$m")

  // dot-prefixed → invisible to listFiles until commit renames it.
  // Name order IS the stream-offset contract: the micro-batch reader
  // slices files in lexicographic order, so a later append job's files
  // must sort AFTER every earlier job's. partitionId-first naming
  // breaks that (job 2's part-00000-… sorts before job 1's
  // part-00001-…) — so the name leads with a fixed-width wall-clock
  // generation stamp; partitionId and taskId only break ties within
  // the same millisecond.
  private val stamp = f"${System.currentTimeMillis()}%013d"

  /** One output file + its zone-map accumulator. Under a bucketed
    * layout a task keeps one Sink PER BUCKET IT SEES (Hive-style
    * fanout, lazily opened — a task whose rows hit 3 of 1024 buckets
    * opens 3 files), each tagged `-b<k>` so readers recover the bucket
    * id from the committed name.
    *
    * OPEN-HANDLE CAP: a task never holds more than
    * [[EdgeFileWriter.MaxOpenSinks]] streams — with bucket counts
    * sized to cluster width (1024+) and 32 concurrent tasks, unbounded
    * fanout would hit the process ulimit and hold 64 KB of buffer per
    * bucket. Past the cap the least-recently-written sink's stream is
    * closed (flushing it) and transparently reopened in APPEND mode on
    * the next row for that bucket; the tmp file, its accumulated
    * bytes, and the zone-map state are untouched, so eviction costs an
    * open()/close(), never correctness or file count. */
  private final class Sink(suffix: String) {
    val tmp = new java.io.File(dir,
      f".part-$stamp-$partitionId%05d-$taskId$markTag$suffix.txt")
    private var stream: java.io.BufferedOutputStream = null
    var lastTouch = 0L
    var minSrc = Long.MaxValue
    var maxSrc = Long.MinValue
    var minDst = Long.MaxValue
    var maxDst = Long.MinValue
    var rows = 0L
    // touch the filesystem eagerly so an all-evicted or row-less sink
    // still has its (empty) tmp on disk for commit/abort to see
    java.nio.file.Files.createFile(tmp.toPath)

    def isOpen: Boolean = stream != null

    /** Flush-and-close this sink's stream only (evicted, not done). */
    def suspend(): Unit = if (stream != null) {
      stream.close(); stream = null; openSinks -= this
    }

    private def out: java.io.BufferedOutputStream = {
      if (stream == null) { // lazily opened / evicted: (re)open appending
        evictIfFull()
        stream = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(tmp, true), 1 << 16)
        openSinks += this
      }
      stream
    }

    def write(r: InternalRow): Unit = {
      touchCounter += 1; lastTouch = touchCounter
      val s = r.getLong(0); val d = r.getLong(1)
      if (s < minSrc) minSrc = s
      if (s > maxSrc) maxSrc = s
      if (d < minDst) minDst = d
      if (d > maxDst) maxDst = d
      rows += 1
      val o = out // resolve (and possibly reopen) once per row
      o.write(java.lang.Long.toString(s).getBytes(StandardCharsets.US_ASCII))
      o.write(' ')
      o.write(java.lang.Long.toString(d).getBytes(StandardCharsets.US_ASCII))
      if (weighted) {
        o.write(' ')
        // Double.toString: shortest text that re-parses to the same
        // double — a write→read round trip is bit-exact
        o.write(java.lang.Double.toString(r.getDouble(2))
          .getBytes(StandardCharsets.US_ASCII))
      } else if (labeled) {
        o.write(' ')
        o.write(java.lang.Long.toString(r.getLong(2))
          .getBytes(StandardCharsets.US_ASCII))
      }
      o.write('\n')
    }

    def entry: (String, Option[EdgeStats]) = (tmp.getAbsolutePath,
      if (rows == 0) None
      else Some(EdgeStats(minSrc, maxSrc, minDst, maxDst, rows)))
  }

  // LRU open-stream bookkeeping shared by this task's sinks: bounded
  // handles under wide fanout (advice: 1024+ buckets × 32 tasks would
  // otherwise exhaust ulimit). A java LinkedHashSet keeps insertion
  // order cheap to scan; lastTouch breaks the LRU tie exactly.
  private val openSinks = scala.collection.mutable.Set.empty[Sink]
  private var touchCounter = 0L
  private def evictIfFull(): Unit =
    while (openSinks.size >= EdgeFileWriter.MaxOpenSinks)
      openSinks.minBy(_.lastTouch).suspend()

  private val plain: Sink = if (bucketSpec.isEmpty) new Sink("") else null
  // one sink per file tag: n buckets, or n×n grid cells (compound)
  private val buckets: Array[Sink] =
    bucketSpec.map(sp => new Array[Sink](BucketSpecIO.totalCells(sp))).orNull
  // single key: its ordinal; compound "c1,c2": both ordinals, the pair
  // indexing the grid cell (src=0, dst=1 — the connector schema is fixed)
  private val keyOrdinals: Array[Int] = bucketSpec.map { case (c, _) =>
    c.split(",").map(k => if (k == "src") 0 else 1) }
    .getOrElse(Array(0))
  private val nBuckets = bucketSpec.map(_._2).getOrElse(0)

  private def sinks: Seq[Sink] =
    if (plain != null) Seq(plain) else buckets.toSeq.filter(_ != null)

  override def write(r: InternalRow): Unit =
    if (plain != null) plain.write(r)
    else {
      val b =
        if (keyOrdinals.length == 1)
          BucketHash.bucket(r.getLong(keyOrdinals(0)), nBuckets)
        else
          BucketHash.cell(r.getLong(keyOrdinals(0)),
            r.getLong(keyOrdinals(1)), nBuckets)
      var s = buckets(b)
      if (s == null) { s = new Sink(s"-b$b"); buckets(b) = s }
      s.write(r)
    }

  override def commit(): WriterCommitMessage = {
    close()
    EdgeFileCommit(sinks.map(_.entry))
  }
  override def abort(): Unit = { close(); sinks.foreach(_.tmp.delete()) }
  override def close(): Unit = sinks.foreach(_.suspend())
}

private[sources] object EdgeFileWriter {
  /** Per-task open-stream ceiling for the bucketed fanout writer. 128
    * streams × 64 KB buffers = 8 MB per task; 32 concurrent tasks stay
    * comfortably under default ulimits (4096+). Sinks past the cap are
    * suspended LRU and transparently reopened in append mode. */
  val MaxOpenSinks: Int = 128
}

/** Streaming read of an append-only edge-list directory — the third
  * face of the connector (batch read / batch write / micro-batch
  * stream), with the SAME pruning and filter pushdown active inside
  * each micro-batch's chunk readers.
  *
  * Offset model: the count of files in lexicographic order. Contract
  * (the FileStreamSource discipline, simplified): files are immutable
  * once visible and new files sort AFTER processed ones — the
  * connector's own writer satisfies both (part-<id> naming, rename
  * commit). Each micro-batch plans the byte-range chunks of files
  * [start, end) only, so a batch's work is bounded by new data, never
  * a re-scan of the directory. */
private[sources] class EdgeListMicroBatchStream(path: String,
    chunkBytes: Long, skipMalformed: Boolean, required: StructType,
    pushed: Array[Filter], withWeight: Boolean = false,
    withLabel: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class FileCountOffset(n: Int) extends Offset {
    override def json(): String = s"""{"files":$n}"""
  }

  private def files(): Seq[java.io.File] =
    if (new java.io.File(path).exists()) EdgeListSource.listFiles(path)
    else Seq.empty

  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = FileCountOffset(files().size)
  override def deserializeOffset(json: String): Offset = {
    val m = """\{"files":(\d+)\}""".r
    json match {
      case m(n) => FileCountOffset(n.toInt)
      case _ => throw new IllegalArgumentException(s"bad edge-list offset: $json")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    files().slice(s, e).flatMap { f =>
      val len = f.length()
      // the zone-map skip stays offset-correct: a skipped file is still
      // COUNTED by the offset (it was listed) — only its chunks vanish
      val skip = len == 0 ||
        (pushed.nonEmpty && EdgeStats.read(f).exists(st =>
          !EdgeListFilters.mayMatch(pushed,
            st.minSrc, st.maxSrc, st.minDst, st.maxDst)))
      if (skip) Seq.empty
      else (0L until len by chunkBytes).map(off =>
        EdgeChunk(f.getAbsolutePath, off, math.min(off + chunkBytes, len)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EdgeListReaderFactory(required.fieldNames, pushed, skipMalformed,
      Nil, withWeight = withWeight, withLabel = withLabel)
}
