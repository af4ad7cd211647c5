package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Deterministic HyperLogLog distinct-count sketch over pre-hashed
  * 60-bit keys (Flajolet et al., "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm", AofA 2007) — the
  * approximate `kv_stats`-style corpus statistic the reference computes
  * exactly (MR-MPI's `src/mapreduce.cpp` `kv_stats`) re-expressed as a
  * mergeable aggregate, which is what survives 100 TB: the shuffle
  * carries one 256-byte register array per group instead of every
  * distinct key.
  *
  * One aggregate over the register array, four SQL names; the name fixes
  * what goes in and what comes out:
  *
  * | name            | input                | output              |
  * |-----------------|----------------------|---------------------|
  * | `hll60`         | hash60 BIGINT        | estimate DOUBLE     |
  * | `hll60_regs`    | hash60 BIGINT        | register blob BINARY|
  * | `hll_union`     | register blob BINARY | register blob BINARY|
  * | `hll_union_est` | register blob BINARY | estimate DOUBLE     |
  *
  * The blob forms make sketches FIRST-CLASS VALUES — the piece the
  * neighborhood-function/HyperBall iteration needs (Boldi, Rosa, Vigna,
  * "HyperANF: approximating the neighbourhood function of very large
  * graphs on a budget", WWW 2011): per-vertex sketches live in a BINARY
  * column, rounds union them along edges, and a group-max merge is the
  * only shuffle payload (256 B per vertex, never vertex sets).
  *
  * Input hashes MUST be [[Hashing.hash60]] output (a uniform 60-bit
  * long) — taking the hash as input rather than hashing internally is
  * what makes the sketch oracle-checkable: DuckDB reproduces hash60
  * exactly, and every downstream step here is integer arithmetic plus
  * exact powers of two, so the SQL replica computes the identical
  * estimate.
  *
  * Determinism over merge order (the property a distributed aggregate
  * needs): registers combine by max (commutative, associative, idempotent)
  * and the estimator's floating sum Σ2^-M is order-independent because
  * every term is a power of two in [2^-40, 1] (rho capped at 40) and the
  * total stays under 2^9, so all partial sums are exact doubles. The
  * 2^-40 cap only matters past ~10^12 distinct keys per group, where the
  * estimate saturates low — documented trade for bit-reproducibility.
  *
  * p=8 (256 registers) → ~6.5% relative standard error.
  */
case class HllSketch(
    child: Expression,
    blobIn: Boolean,
    blobOut: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  import HllSketch._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == (if (blobIn) BinaryType else LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects " +
        (if (blobIn) "a BINARY register blob" else "a BIGINT hash60 value") +
        s", got ${child.dataType.simpleString}")

  override def dataType: DataType = if (blobOut) BinaryType else DoubleType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf
    else if (blobIn) mergeRegs(buf, v.asInstanceOf[Array[Byte]])
    else {
      val h = v.asInstanceOf[Long]
      val bucket = (h >>> W).toInt & (M - 1)
      val w = h & WMask
      // rank of the highest set bit inside the W-bit suffix; all-zero
      // suffix ranks W+1, then capped for the exact-sum property
      val rho = math.min(if (w == 0L) W + 1
        else java.lang.Long.numberOfLeadingZeros(w) - (64 - W) + 1, RhoCap)
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
      buf
    }
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = mergeRegs(a, b)

  override def eval(buf: Array[Byte]): Any = if (blobOut) buf else estimate(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllSketch =
    copy(child = c)
  override def prettyName: String = (blobIn, blobOut) match {
    case (false, false) => "hll60"
    case (false, true) => "hll60_regs"
    case (true, true) => "hll_union"
    case (true, false) => "hll_union_est"
  }
}

object HllSketch {
  /** Register-index bits; m = 2^p registers. */
  val P = 8
  val M: Int = 1 << P
  /** Suffix width the rank is drawn from (60-bit hash minus p). */
  val W: Int = 60 - P
  val WMask: Long = (1L << W) - 1
  /** Rank ceiling keeping every 2^-rho term ≥ 2^-40 (exact-sum window). */
  val RhoCap = 40
  /** Bias correction for m ≥ 128 (Flajolet et al. §4). */
  val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

  /** Element-wise max of `blob` into `buf` (the register union). */
  private def mergeRegs(buf: Array[Byte], blob: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (blob(i) > buf(i)) buf(i) = blob(i); i += 1 }
    buf
  }

  /** Estimate from a register array — raw harmonic-mean form with the
    * standard small-range linear-counting correction, floor-rounded to
    * 4 decimals (floor(x+0.5): identical half-up in Spark and DuckDB). */
  def estimate(regs: Array[Byte]): Double = {
    var s = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      val r = regs(i)
      if (r == 0) { zeros += 1; s += 1.0 }
      else s += java.lang.Math.pow(2.0, -r.toDouble)
      i += 1
    }
    val raw = Alpha * M * M / s
    val est = if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
              else raw
    math.floor(est * 10000.0 + 0.5) / 10000.0
  }

  private def column(c: Column, blobIn: Boolean, blobOut: Boolean): Column =
    Bridge.column(HllSketch(Bridge.expression(c), blobIn, blobOut).toAggregateExpression())

  /** Column forms: `hll60(Hashing.hash60(x))` → estimate,
    * `hll60Regs(hash)` → blob, `hllUnion(blob)` → blob,
    * `hllUnionEst(blob)` → estimate. */
  def hll60(hashed: Column): Column = column(hashed, blobIn = false, blobOut = false)
  def hll60Regs(hashed: Column): Column = column(hashed, blobIn = false, blobOut = true)
  def hllUnion(blob: Column): Column = column(blob, blobIn = true, blobOut = true)
  def hllUnionEst(blob: Column): Column = column(blob, blobIn = true, blobOut = false)

  /** DuckDB replica of `hll60` for oracle SQL: same buckets, same capped
    * ranks, same exact-power sum, same correction branch. `hashExpr`
    * must be the hash60Sql of the same input. Yields
    * ($groupCol, approx_distinct) rows. */
  def oracleSql(table: String, hashExpr: String, groupCol: String): String =
    oracleSqlGrouped(table, hashExpr, Seq(groupCol -> groupCol))

  /** [[oracleSql]] generalized to a composite group key: each
    * `(expr, alias)` pair is evaluated against `table` and emitted under
    * `alias` in the final projection. */
  def oracleSqlGrouped(table: String, hashExpr: String,
      groupCols: Seq[(String, String)]): String = {
    val two52 = 1L << W
    val gs = groupCols.indices.map(i => s"g$i")
    val gsel = groupCols.zip(gs).map { case ((e, _), g) => s"$e AS $g" }.mkString(", ")
    val glist = gs.mkString(", ")
    val gout = groupCols.zip(gs).map { case ((_, a), g) => s"$g AS $a" }.mkString(", ")
    s"""WITH hh AS (SELECT $gsel, $hashExpr AS h FROM $table),
       |rr AS (SELECT $glist, CAST(h // $two52 AS INTEGER) AS bucket,
       |  LEAST(CASE WHEN h % $two52 = 0 THEN ${W + 1}
       |        ELSE ${W + 1} - length(bin(h % $two52)) END, $RhoCap) AS rho
       |  FROM hh),
       |mx AS (SELECT $glist, bucket, MAX(rho) AS mr FROM rr GROUP BY $glist, bucket),
       |st AS (SELECT $glist, COUNT(*) AS nb, SUM(power(2.0e0, -mr)) AS sp
       |  FROM mx GROUP BY $glist),
       |ee AS (SELECT $glist, ($M - nb) AS zeros,
       |  (0.7213e0 / (1.0e0 + 1.079e0 / $M)) * $M * $M
       |    / (($M - nb) * 1.0e0 + sp) AS raw
       |  FROM st)
       |SELECT $gout, floor((CASE WHEN raw <= ${2.5 * M}e0 AND zeros > 0
       |  THEN $M * ln($M * 1.0e0 / zeros) ELSE raw END) * 10000.0e0 + 0.5e0)
       |  / 10000.0e0 AS approx_distinct
       |FROM ee""".stripMargin
  }
}
