package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType}

import scala.collection.mutable.LongMap

/** Mergeable log-bin quantile sketch over BIGINT values — one aggregate
  * behind two SQL names that differ only in the sub-bucket bits `m`:
  *
  *  - `hdrq` (m = 6): HDR-histogram binning (Tene, "HdrHistogram: a high
  *    dynamic range histogram", hdrhistogram.org; the log-bucket /
  *    linear-sub-bucket layout), ≤ 4033 bins, relative error ≤ 2⁻⁶ ≈ 1.6%.
  *  - `lgq` (m = 12): the heavy-tail setting, in the spirit of DDSketch
  *    (Masson, Rim, Lee, "DDSketch: a fast and fully-mergeable quantile
  *    sketch with relative-error guarantees", VLDB 2019), relative error
  *    ≤ 2⁻¹² ≈ 0.02%.
  *
  * A value lands in bin `1 + 2^m·e + (sub − 2^min(e,m))` with exponent
  * e = ⌊log₂ v⌋ and `sub` its top m+1 bits, so bins are log-spaced
  * (width proportional to value) and values below 2^(m+1) get exact
  * single-value bins. The store is SPARSE — state is proportional to the
  * bins the data occupies, not to a fixed grid — so the shuffle carries
  * one small count map per group instead of the values (the reference's
  * exact kv_stats-style scans, MR-MPI's `src/mapreduce.cpp`, keep all
  * values; this is the shape that survives a 100 TB column).
  *
  * Everything is integer arithmetic — bin index, counts, cumulative
  * ranks, and the reported value (the bin's LOWER bound at rank
  * ceil(q·n)) — plus one `ceil(q·n)` whose double product is identical
  * IEEE in Spark and DuckDB, so the SQL replicas below reproduce results
  * bit-for-bit, and merges are bin-wise count sums: associative,
  * commutative, independent of partitioning. A t-digest would adapt
  * centroid widths to the merge ORDER, which no distributed plan can
  * make reproducible; here the grid is fixed by the value alone.
  *
  * State bound: ≤ 2^m bins per occupied octave (worst case 63·2^m ≈
  * 258k entries at m = 12, only reachable by a group whose values span
  * the ENTIRE long range at full density; m = 6 has at most 4033).
  * Serialization caps at [[LogBinQuantiles.MaxSerializedBins]] entries
  * and FAILS LOUDLY beyond it rather than silently degrading.
  *
  * Negative inputs clamp to bin 0 (the v ≤ 0 bin); NULLs are skipped.
  */
case class LogBinQuantiles(
    child: Expression,
    quantiles: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongMap[Long]] with BinaryLike[Expression] {

  import LogBinQuantiles._

  override def left: Expression = child
  override def right: Expression = quantiles

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a BIGINT value, got ${child.dataType.simpleString}")
    else if (!quantiles.foldable ||
        !(quantiles.dataType match {
          case ArrayType(et: NumericType, _) => et != null
          case _ => false
        }))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a foldable numeric array of quantiles")
    else if (try {
        // the type check is the last gate before qs reads the ArrayData
        // positionally — a NULL element there would silently read as 0.0
        val arr = quantiles.eval(null).asInstanceOf[ArrayData]
        arr == null || (0 until arr.numElements()).exists(arr.isNullAt)
      } catch { case _: Exception => true })
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName quantiles must be a non-null array without null elements")
    else if (try qs.exists(q => q < 0.0 || q > 1.0) catch { case _: Exception => true })
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName quantiles must all lie in [0, 1]")
    else TypeCheckResult.TypeCheckSuccess

  // SQL literals like array(0.5) arrive as ARRAY<DECIMAL>; normalize
  private lazy val qs: Array[Double] = {
    val et = quantiles.dataType.asInstanceOf[ArrayType].elementType
    val arr = quantiles.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { i =>
      et match {
        case DoubleType => arr.getDouble(i)
        case FloatType => arr.getFloat(i).toDouble
        case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
        case IntegerType => arr.getInt(i).toDouble
        case LongType => arr.getLong(i).toDouble
        case other => throw new IllegalArgumentException(
          s"unsupported quantile element type $other")
      }
    }
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): LongMap[Long] = LongMap.empty[Long]

  override def update(buf: LongMap[Long], input: InternalRow): LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val b = binOf(v.asInstanceOf[Long], m).toLong
      buf.put(b, buf.getOrElse(b, 0L) + 1L)
    }
    buf
  }

  override def merge(a: LongMap[Long], b: LongMap[Long]): LongMap[Long] = {
    b.foreach { case (k, c) => a.put(k, a.getOrElse(k, 0L) + c) }
    a
  }

  override def eval(buf: LongMap[Long]): Any = {
    var n = 0L
    buf.foreach { case (_, c) => n += c }
    val sorted = buf.toArray.sortBy(_._1)
    val out = new Array[Long](qs.length)
    var j = 0
    while (j < qs.length) {
      out(j) = if (n == 0L) 0L else {
        val r = math.max(math.ceil(qs(j) * n).toLong, 1L)
        var cum = 0L
        var idx = 0
        var found = if (sorted.nonEmpty) sorted.last._1 else 0L
        var done = false
        while (idx < sorted.length && !done) {
          cum += sorted(idx)._2
          if (cum >= r) { found = sorted(idx)._1; done = true }
          idx += 1
        }
        lowerOf(found.toInt, m)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** (count, then (int idx, long count) per occupied bin in ascending
    * idx) — deserialize accepts the pairs in any order. */
  override def serialize(buf: LongMap[Long]): Array[Byte] = {
    if (buf.size > MaxSerializedBins)
      throw new IllegalStateException(
        s"$prettyName sketch exceeded $MaxSerializedBins occupied bins (" +
          s"${buf.size}) — the group's values span too many octaves at " +
          "full density; coarsen the input scale or use hdrq")
    val keys = buf.keys.toArray
    java.util.Arrays.sort(keys)
    val bb = java.nio.ByteBuffer.allocate(4 + keys.length * 12)
    bb.putInt(keys.length)
    keys.foreach { k => bb.putInt(k.toInt); bb.putLong(buf(k)) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LongMap[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = LongMap.empty[Long]
    var nz = bb.getInt()
    while (nz > 0) { buf.put(bb.getInt().toLong, bb.getLong()); nz -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): LogBinQuantiles =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LogBinQuantiles =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LogBinQuantiles =
    copy(child = l, quantiles = r)
  override def prettyName: String = if (m == HdrM) "hdrq" else "lgq"
}

object LogBinQuantiles {
  /** `hdrq`'s sub-bucket bits: 64 linear sub-buckets per power of two. */
  val HdrM = 6
  /** `lgq`'s sub-bucket bits: 4096 sub-buckets per octave. */
  val LgqM = 12
  /** Loud cap on serialized sparse entries (~1.5 MB at 12 B/entry). */
  val MaxSerializedBins = 131072

  /** e = ⌊log₂ v⌋; sub-bucket = top m+1 bits; idx = 1 + 2^m·e + offset.
    * Monotone in v; values below 2^(m+1) land in exact single-value bins. */
  def binOf(v: Long, m: Int): Int = {
    if (v <= 0L) 0
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val sub = v >>> math.max(e - m, 0)
      (1L + (1L << m) * e + (sub - (1L << math.min(e, m)))).toInt
    }
  }

  /** Lower bound of a bin — the reported (deterministic) value. */
  def lowerOf(idx: Int, m: Int): Long = {
    if (idx <= 0) 0L
    else {
      val e = (idx - 1) >> m
      val off = ((idx - 1) & ((1 << m) - 1)).toLong
      if (e <= m) (1L << e) + off
      else ((1L << m) + off) << (e - m)
    }
  }

  private def column(value: Column, qs: Seq[Double], m: Int): Column =
    Bridge.column(LogBinQuantiles(Bridge.expression(value),
      Literal.create(qs.toArray, ArrayType(DoubleType)), m).toAggregateExpression())

  /** Column form of `hdrq`: `hdrQuantiles(v, Seq(0.5, 0.95))` → ARRAY<BIGINT>. */
  def hdrQuantiles(value: Column, qs: Seq[Double]): Column = column(value, qs, HdrM)

  /** Column form of `lgq`: `logQuantiles(v, Seq(0.5, 0.99))` → ARRAY<BIGINT>. */
  def logQuantiles(value: Column, qs: Seq[Double]): Column = column(value, qs, LgqM)

  /** DuckDB replica of `hdrq` for oracle SQL: same bins (via
    * `length(bin(v))` for ⌊log₂⌋), same ceil-rank, same lower-bound
    * report. `valueExpr` must be BIGINT ≥ 0. Yields one row per
    * `$groupCol` with a column per (alias, q) pair. */
  def hdrqOracleSql(table: String, valueExpr: String, groupCol: String,
      qs: Seq[(String, Double)]): String = {
    val M = HdrM
    val qvalues = qs.map { case (_, q) => s"($q)" }.mkString(", ")
    val qcols = qs.map { case (alias, q) =>
      s"max(CASE WHEN q = $q THEN lo END) AS $alias" }.mkString(",\n  ")
    s"""WITH vals AS (SELECT $groupCol AS g, $valueExpr AS v FROM $table
       |  WHERE ($valueExpr) IS NOT NULL),
       |bins AS (
       |  SELECT g,
       |    CASE WHEN v <= 0 THEN 0 ELSE
       |      1 + 64*(length(bin(v))-1)
       |        + ((v >> greatest(length(bin(v))-1-$M, 0))
       |           - (1 << least(length(bin(v))-1, $M)))
       |    END AS idx, count(*) AS cnt
       |  FROM vals GROUP BY 1, 2),
       |tot AS (SELECT g, sum(cnt) AS n FROM bins GROUP BY 1),
       |cum AS (SELECT g, idx,
       |  sum(cnt) OVER (PARTITION BY g ORDER BY idx) AS cum FROM bins),
       |ranks AS (SELECT g, q, CAST(greatest(ceil(q*n), 1) AS BIGINT) AS r
       |  FROM tot, (VALUES $qvalues) t(q)),
       |pick AS (SELECT r.g, r.q, min(c.idx) AS idx FROM ranks r JOIN cum c
       |  ON c.g = r.g AND c.cum >= r.r GROUP BY 1, 2),
       |rep AS (SELECT g, q,
       |  CASE WHEN idx = 0 THEN CAST(0 AS BIGINT)
       |       WHEN (idx-1)//64 <= $M
       |         THEN (CAST(1 AS BIGINT) << ((idx-1)//64)) + (idx-1)%64
       |       ELSE ((CAST(1 AS BIGINT) << $M) + (idx-1)%64) << ((idx-1)//64 - $M)
       |  END AS lo
       |  FROM pick)
       |SELECT g AS $groupCol,
       |  $qcols
       |FROM rep GROUP BY 1""".stripMargin
  }

  /** DuckDB replica of `lgq` for oracle SQL — the [[hdrqOracleSql]]
    * shape with 2^12 sub-buckets. `valueExpr` must be BIGINT; yields one
    * row per `$groupCol` with a column per (alias, q) pair. */
  def lgqOracleSql(table: String, valueExpr: String, groupCol: String,
      qs: Seq[(String, Double)]): String =
    lgqOracleSqlGrouped(table, valueExpr, Seq(groupCol -> groupCol), qs)

  /** [[lgqOracleSql]] generalized to a composite group key: each
    * `(expr, alias)` pair in `groupCols` is evaluated against `table`
    * and emitted under `alias` in the final projection. */
  def lgqOracleSqlGrouped(table: String, valueExpr: String,
      groupCols: Seq[(String, String)], qs: Seq[(String, Double)]): String = {
    val M = LgqM
    val w = 1 << M
    val gs = groupCols.indices.map(i => s"g$i")
    val gsel = groupCols.zip(gs).map { case ((e, _), g) => s"$e AS $g" }.mkString(", ")
    val glist = gs.mkString(", ")
    val gout = groupCols.zip(gs).map { case ((_, a), g) => s"$g AS $a" }.mkString(",\n  ")
    val gjoin = gs.map(g => s"c.$g = r.$g").mkString(" AND ")
    val qvalues = qs.map { case (_, q) => s"($q)" }.mkString(", ")
    val qcols = qs.map { case (alias, q) =>
      s"max(CASE WHEN q = $q THEN lo END) AS $alias" }.mkString(",\n  ")
    s"""WITH vals AS (SELECT $gsel, $valueExpr AS v FROM $table
       |  WHERE ($valueExpr) IS NOT NULL),
       |bins AS (
       |  SELECT $glist,
       |    CASE WHEN v <= 0 THEN 0 ELSE
       |      1 + $w*(length(bin(v))-1)
       |        + ((v >> greatest(length(bin(v))-1-$M, 0))
       |           - (1 << least(length(bin(v))-1, $M)))
       |    END AS idx, count(*) AS cnt
       |  FROM vals GROUP BY $glist, idx),
       |tot AS (SELECT $glist, sum(cnt) AS n FROM bins GROUP BY $glist),
       |cum AS (SELECT $glist, idx,
       |  sum(cnt) OVER (PARTITION BY $glist ORDER BY idx) AS cum FROM bins),
       |ranks AS (SELECT $glist, q, CAST(greatest(ceil(q*n), 1) AS BIGINT) AS r
       |  FROM tot, (VALUES $qvalues) t(q)),
       |pick AS (SELECT ${gs.map(g => s"r.$g").mkString(", ")}, r.q,
       |  min(c.idx) AS idx FROM ranks r JOIN cum c
       |  ON $gjoin AND c.cum >= r.r
       |  GROUP BY ${gs.map(g => s"r.$g").mkString(", ")}, r.q),
       |rep AS (SELECT $glist, q,
       |  CASE WHEN idx = 0 THEN CAST(0 AS BIGINT)
       |       WHEN (idx-1)//$w <= $M
       |         THEN (CAST(1 AS BIGINT) << ((idx-1)//$w)) + (idx-1)%$w
       |       ELSE ((CAST(1 AS BIGINT) << $M) + (idx-1)%$w) << ((idx-1)//$w - $M)
       |  END AS lo
       |  FROM pick)
       |SELECT $gout,
       |  $qcols
       |FROM rep GROUP BY $glist""".stripMargin
  }
}
