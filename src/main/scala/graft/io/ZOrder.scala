package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Z-order (Morton-curve) layout: interleave the bits of several columns
  * into one sort key so that range-partitioning + sorting on it clusters
  * ALL the dimensions at once — the multi-column file-skipping layout
  * (a table laid out on `z(a, b)` serves min/max-pruned scans filtered
  * on `a`, on `b`, or on both, where a plain sort on `a` only serves
  * `a`). The z-value is a pure integer column expression — codegen'd,
  * deterministic, and exactly replayable by the DuckDB oracle.
  *
  * The reference's only layout tool is hash partitioning
  * (`/root/reference/mapreduce-7Apr14/src/mapreduce.cpp:659-705`
  * aggregate); this is engine extension surface for the 100 TB scan
  * path.
  */
object ZOrder {

  /** Morton z-value of `cols`: bit `b` of column `i` lands at position
    * `b * cols.length + i`. Columns must already be non-negative and fit
    * in `bits` bits (callers clamp/bucket first — [[zValueClamped]]);
    * `bits * cols.length` must stay below 63. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits * cols.length < 63,
      s"z-value needs ${bits * cols.length} bits; max 62")
    val n = cols.length
    val terms = for {
      (c, i) <- cols.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * n + i)
    terms.reduce(_ + _) // disjoint bit positions: + == bitwise OR
  }

  /** [[zValue]] after clamping each column into [0, 2^bits): the
    * standard guard for raw key domains. */
  def zValueClamped(cols: Seq[Column], bits: Int): Column =
    zValue(cols.map(c =>
      least(greatest(c.cast("long"), lit(0L)), lit((1L << bits) - 1))), bits)

  /** DuckDB replica of [[zValue]] over pre-clamped BIGINT expressions. */
  def zValueSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.length
    val terms = for {
      (e, i) <- exprs.zipWithIndex
      b <- 0 until bits
    } yield s"((((${e}) >> $b) & 1) << ${b * n + i})"
    terms.mkString(" + ")
  }

  /** `df` rebuilt on a copy of its session with the range-exchange
    * sampler turned up, so repartitionByRange boundaries are (near-)exact
    * instead of 100-rows-per-partition estimates. The default sampler is
    * also SEED-UNSTABLE across sessions (the seed derives from RDD ids),
    * so a pathological sample can hand one output file almost the whole
    * z-range and void the layout's pruning guarantee — observed once
    * under full-suite ordering. 20k samples/partition is a few hundred
    * KB on the driver and makes small/medium tables exactly
    * quantile-split; at 100 TB it is still noise next to the rewrite
    * itself. The conf is read at exchange-planning time, which happens
    * in the copy whichever action runs the frame; `df`'s session is
    * left as it was. */
  def withExactRangeSampling(df: DataFrame): DataFrame =
    Bridge.ofRows(Bridge.cloneSession(df.sparkSession,
        "spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "20000"),
      df.queryExecution.logical)

  /** Lay `df` out on the z-curve of `cols`: range-partition then sort by
    * the z-value, so every output file covers a small hyper-rectangle of
    * the key space (one exchange — same cost as any global sort).
    * Callers that materialize the layout should pass it through
    * [[withExactRangeSampling]] for boundary quality (zorderEdgeList
    * does). */
  def layoutBy(df: DataFrame, cols: Seq[Column], bits: Int,
      numPartitions: Int): DataFrame = {
    // collision-proof scratch name: a caller column literally named __z
    // must survive the layout unchanged
    val zc = Iterator.from(0).map(i => s"__z$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(zc, zValueClamped(cols, bits))
      .repartitionByRange(numPartitions, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }
}
