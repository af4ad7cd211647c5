package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** KMV (k-minimum-values) distinct-value sketch (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002; multiset
  * operations per Beyer et al., "On synopses for distinct-value
  * estimation under multiset operations", SIGMOD 2007) — the
  * set-operation companion to [[HllSketch]]: where HLL registers can
  * only union, a KMV synopsis supports INTERSECTION and Jaccard
  * estimates, which is what corpus-overlap / decontamination sizing
  * needs at 100 TB (is eval-set contamination 0.1% or 10% of a source?
  * — answered from two k·8-byte synopses instead of a full n-gram
  * anti-join like `d_overlap`).
  *
  * The aggregate keeps the k smallest DISTINCT [[Hashing.hash60]]
  * values per group and RETURNS them as a sorted ARRAY<BIGINT> — the
  * synopsis itself, not an opaque blob. Every downstream operation is
  * then a plain codegen'd array function (no further native surface):
  *
  *   - union synopsis:  `slice(array_sort(array_distinct(concat(a,b))), 1, k)`
  *   - DV estimate:     `size(sk) < k ? size(sk) : (k-1)·2^60 / sk[k]`
  *   - Jaccard (Beyer §5): with K the union synopsis,
  *     ρ = |K ∩ a ∩ b| / |K| (array_intersect), |A∩B| ≈ ρ·DV(K)
  *
  * Determinism: "k smallest distinct values of a set" is a pure set
  * function — independent of row order, partitioning, and merge shape —
  * so the estimate is bit-reproducible under any plan, and a DuckDB
  * oracle replays it EXACTLY (row_number over distinct hashes; the only
  * floating step, (k-1)·2^60 / v_k, is two IEEE operations both engines
  * round identically). When a group holds fewer than k distinct values
  * the synopsis IS the distinct set and the estimate is exact.
  *
  * Scale: the shuffle carries ≤ k longs per group (k=256 → 2 KB) with
  * map-side partial merge; update cost is O(log k) via a bounded
  * red-black tree with an O(1) max-threshold reject fast path.
  */
case class KmvSketch(
    child: Expression,
    k: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = k

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv expects a BIGINT hash60 value, got ${child.dataType.simpleString}")
    else if (!k.foldable || k.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("kmv expects a foldable INT k")
    else if (try { val v = k.eval(null); v == null || v.asInstanceOf[Int] < 2 }
             catch { case _: Exception => true })
      TypeCheckResult.TypeCheckFailure("kmv k must be a non-null INT >= 2")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val kVal: Int = k.eval(null).asInstanceOf[Int]

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buf.size < kVal) buf.add(h)
      else if (h < buf.last) { // O(1) reject when h >= current k-th min
        if (buf.add(h)) buf.pollLast()
      }
    }
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.size < kVal) a.add(h)
      else if (h < a.last) { if (a.add(h)) a.pollLast() }
      else return a // b iterates ascending; the rest can't beat a's max
    }
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvSketch = copy(child = l, k = r)
  override def prettyName: String = "kmv"
}

object KmvSketch {
  import org.apache.spark.sql.functions._

  /** Column form: `kmv(Hashing.hash60(x), 256)` → sorted ARRAY<BIGINT>. */
  def kmv(hashed: Column, k: Int): Column =
    Bridge.column(KmvSketch(Bridge.expression(hashed),
      org.apache.spark.sql.catalyst.expressions.Literal(k)).toAggregateExpression())

  /** Hash-domain size: hash60 values are uniform in [0, 2^60).
    * 2^60 and (k-1)·2^60 (k ≤ 2^10) are exactly representable doubles,
    * and `Double.toString`'s shortest-round-trip repr parses back to the
    * identical bits in DuckDB — the numerator constant is shared
    * verbatim between both engines. */
  val Domain: Double = math.pow(2.0, 60)

  /** DV estimate from a synopsis column: exact size when the group held
    * fewer than k distinct values, else the (k-1)/v_k KMV estimator,
    * floor-rounded to 4 decimals (floor(x+0.5) half-up — identical in
    * Spark and DuckDB; Spark's floor(DOUBLE)→BIGINT then /1e4 is exact
    * for estimates below 2^53/1e4 ≈ 9·10^11). Plain codegen'd functions
    * — no further native surface needed past the aggregate. */
  def estimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(floor(lit((k - 1).toDouble * Domain) /
        element_at(sk, k).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))

  /** Union synopsis of two synopses (the aggregate's own merge, in
    * array land): k smallest distinct of the concatenation. */
  def unionOf(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** DuckDB replica of [[estimate]] over a `sk` LIST column ($sk must be
    * a plain column reference; the synopsis itself replays as
    * `list(h ORDER BY h)` over `row_number() OVER (ORDER BY h) <= k`
    * of the distinct hashes — see the d_overlap_sketch oracle). */
  def oracleEstimateSql(sk: String, k: Int): String =
    s"""CASE WHEN len($sk) < $k THEN CAST(len($sk) AS DOUBLE)
       | ELSE floor(${(k - 1).toDouble * Domain} /
       |   CAST($sk[$k] AS DOUBLE) * 10000.0e0 + 0.5e0) / 10000.0e0 END"""
      .stripMargin.replace('\n', ' ')
}
