package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{FileSourceScanExec, InputRDDCodegen, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Thin typed operator algebra mirroring the reference MR-MPI surface
  * (`/root/reference/mapreduce-7Apr14/src/mapreduce.h:59-118`) where Spark
  * lacks a one-word equivalent. This is a library of *plan fragments*, not
  * a KV emulation: every helper stays declarative so Catalyst keeps
  * predicate pushdown / partial aggregation / whole-stage codegen.
  *
  * Mapping (SURVEY.md §2.1): `collate`→groupBy, `add`→union,
  * `compress`→partial agg (automatic), `gather(n)`→coalesce,
  * `sort_keys/values`→orderBy, `collapse`→collect_list, top-k idiom
  * (`oink/wordfreq.cpp:65-82`)→orderBy+limit (TakeOrderedAndProject).
  */
object Ops {

  /** `invert` (`/root/reference/oink/map_invert.cpp:9-15`): (k,v)→(v,k). */
  def invert(df: DataFrame): DataFrame = {
    require(df.columns.length == 2, "invert expects a 2-column (key,value) frame")
    val Array(k, v) = df.columns
    df.select(col(v), col(k))
  }

  /** `add` (`mapreduce.cpp:345-371`): append pairs of another KV. Spark
    * unions are metadata-only — no shuffle, no materialization. */
  def unionAdd(dfs: DataFrame*): DataFrame = dfs.reduce(_ union _)

  /** Distributed group-count — `collate` + `reduce_count`
    * (`oink/reduce_count.cpp:9-20`). Catalyst plans a partial (map-side)
    * aggregate before the shuffle, which is exactly the reference's
    * `compress`-then-`collate` pre-aggregation idiom. */
  def groupCount(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))

  /** `cull` (`oink/reduce_cull.cpp:9-20`): dedupe on the full row. */
  def cull(df: DataFrame): DataFrame = df.distinct()

  /** Two-level histogram (`oink/histo.cpp:36-73`): frequency of
    * frequencies of `key`, descending. */
  def histogram(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("freq"))
      .orderBy(col("cnt").desc)

  /** Global top-k by `order` — the reference's per-proc-top-k +
    * gather(1) + final sort idiom (`oink/wordfreq.cpp:65-112`). Spark
    * plans `TakeOrderedAndProject`: each partition keeps only k rows
    * before the single-stage gather, so this scales to any input size. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** `collapse`-like (`mapreduce.cpp:654-675`): one row per key carrying
    * all values as a canonically sorted array. Unlike the reference
    * (whole-partition KMV), keyed collapse stays distributed. */
  def collapseToList(df: DataFrame, key: Column, value: Column): DataFrame =
    df.groupBy(key.as("k")).agg(sort_array(collect_list(value)).as("vals"))

  /** `sort_multivalues` (`mapreduce.cpp:2115-2265`) as a string digest:
    * values per key, sorted and joined — hashable by the oracle. */
  def collapseToSortedString(df: DataFrame, key: Column, value: Column): DataFrame =
    df.groupBy(key.as("k"))
      .agg(concat_ws(",", sort_array(collect_list(value.cast("string")))).as("vals"))

  /** Skew-resistant two-stage aggregation for a NON-decomposable
    * aggregate (per-key value list). Decomposable aggregates (sum,
    * count, min, max) never need salting — Catalyst's map-side partial
    * aggregation already reduces a hot key to one row per input
    * partition before the shuffle. A collect_list has no bounded
    * partial form: every value of the hottest key crosses the shuffle
    * and funnels through one reducer as row-at-a-time input. Salting
    * builds the hot key's list in `salts` parallel partials so the
    * final task merges a handful of pre-assembled arrays instead of
    * millions of individual rows (the list bytes themselves still land
    * on one reducer — irreducible for an exact per-key list). Same
    * trick as the reference's CC "big zone" random scatter
    * (`cc_find.cpp:202-300`). Output: (k, vals) with vals the
    * canonically sorted comma-joined values. */
  def saltedCollapse(df: DataFrame, key: Column, value: Column, salts: Int): DataFrame =
    df.select(key.as("k"), value.as("v"),
        (spark_partition_id() % salts).as("salt"))
      .groupBy("k", "salt")
      .agg(collect_list("v").as("pv")) // stage 1: salted partial lists
      .groupBy("k")
      .agg(array_join( // stage 2: merge + canonical order
        transform(sort_array(flatten(collect_list(col("pv")))), _.cast("string")),
        ",").as("vals"))

  /** Range (interval) join: each left POINT row joined to right
    * INTERVAL rows containing it, optionally under equi-`keys`. Spark
    * plans a raw BETWEEN predicate as BroadcastNestedLoopJoin —
    * per-partition all-pairs, fatal at scale. Here intervals replicate
    * to every fixed-width bin they overlap, points hash to their single
    * bin, and the join is a plain shuffled equi-join on (keys, bin)
    * with the exact BETWEEN as a residual filter. Replication factor is
    * span/binWidth + 1 — pick binWidth near the typical interval span.
    * Domain: non-negative values (epoch micros); `div` truncation ==
    * floor there, matching the oracle's `//`.
    *
    * @param point name of the left point column
    * @param start/end names of the right interval bound columns (inclusive)
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      point: String, start: String, end: String, binWidth: Long): DataFrame = {
    val lb = left.withColumn("__bin", expr(s"$point div $binWidth"))
    val rb = right.withColumn("__bin",
      explode(sequence(expr(s"$start div $binWidth"), expr(s"$end div $binWidth"))))
    lb.join(rb, keys :+ "__bin")
      .where(col(point) >= col(start) && col(point) <= col(end))
      .drop("__bin")
  }

  /** KEYLESS interval-overlap join — two interval sets joined on
    * `[lStart, lEnd] ∩ [rStart, rEnd] ≠ ∅` with no equi-key at all: the
    * shape Spark itself can only plan as a BroadcastNestedLoop/cartesian
    * (O(|L|·|R|) comparisons). Each interval replicates to the
    * fixed-width time bins it touches and the join runs as an ordinary
    * hash equi-join ON THE BIN; a pair overlapping several shared bins
    * is kept only in the LATER of the two start bins (`greatest` of the
    * start bins — the first bin both intervals occupy), so no distinct
    * pass is needed. Work is O(|L|+|R|+|pairs|) with replication factor
    * `len/binWidth + 1` per interval — size `binWidth` near the typical
    * interval length. Time-uniform bins hash-spread evenly; a heavily
    * overlapped hot window is inherent output skew (that bin's pairs),
    * which AQE skew-split handles at the exchange.
    *
    * Column names must be disjoint across sides (rename before calling);
    * bounds are inclusive BIGINTs (e.g. micros). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame = {
    val lb = left.withColumn("__bin",
      explode(sequence(expr(s"$lStart div $binWidth"), expr(s"$lEnd div $binWidth"))))
    val rb = right.withColumn("__bin",
      explode(sequence(expr(s"$rStart div $binWidth"), expr(s"$rEnd div $binWidth"))))
    lb.join(rb, Seq("__bin"))
      .where(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__bin") === greatest(
          expr(s"$lStart div $binWidth"), expr(s"$rStart div $binWidth")))
      .drop("__bin")
  }

  /** The SAME keyless interval-overlap join as a RANGE-SLICED SORTED
    * SWEEP — the plan that wins when intervals pile up: inside one
    * shared bin, [[intervalOverlapJoin]]'s hash equi-join compares
    * every L×R pair that touches the bin and filters (O(pairs-in-bin)
    * even for non-overlapping ones); the sweep sorts each slice by
    * start and walks it once with an active-interval buffer, doing
    * O(output + evictions) comparisons — every buffered candidate it
    * touches IS an overlap (arrival order gives buffered.start ≤
    * arriving.start ≤ arriving.end, so overlap reduces to buffered.end
    * ≥ arriving.start, exactly the eviction predicate).
    *
    * Shape: one tiny bounds job pins the time domain; each interval
    * replicates to the fixed-width slices it spans (factor
    * span/width + 1); slices hash-exchange; ONE sort per slice; one
    * mapPartitions pass. A pair is emitted when its LATER-starting row
    * arrives, and only if that row's start lies in the current slice —
    * the same first-shared-bin ownership rule as the binned join, for
    * free from arrival order (no distinct pass). Buffer memory = max
    * concurrent overlapping intervals in a slice; eviction here is an
    * O(buffer) in-place filter per arrival — swap in an end-ordered
    * heap if profiling ever shows buffer scans dominating.
    *
    * Column names must be disjoint across sides; bounds are inclusive
    * BIGINTs. Output = left.* ++ right.*, multiset-equal to
    * [[intervalOverlapJoin]].
    *
    * MEASURED crossover (r9, local[8]): the sweep
    * is the HOT-BIN plan — 80k short intervals per side bursting into
    * one bin-sized window (6.4·10⁹ shared-bin candidates, 0.87M true
    * overlaps): binned 8.6–14.4 s and growing quadratically with the
    * burst (1.3 s at 20k), sweep 0.66–0.9 s warm and flat. The binned
    * join is the OUTPUT-HEAVY plan: 291M-pair uniform workload runs
    * 1.1 s binned vs ~27 s sweep, because codegen'd join emission is
    * ~25× cheaper per output row than this Row-based flatMap. Pick by
    * regime: candidates ≫ output → sweep; output-dominated → bins. */
  def intervalOverlapJoinSweep(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      nSlices: Int = 32): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructType
    require(left.columns.intersect(right.columns).isEmpty,
      "column names must be disjoint across sides")
    val bounds = left
      .select(col(lStart).cast("long").as("s"), col(lEnd).cast("long").as("e"))
      .unionByName(right.select(col(rStart).cast("long").as("s"),
        col(rEnd).cast("long").as("e")))
      .agg(min("s").as("lo"), max("e").as("hi")).head()
    if (bounds.isNullAt(0))
      return left.limit(0).crossJoin(right.limit(0)) // both empty
    val lo = bounds.getLong(0)
    val width = math.max(1L, (bounds.getLong(1) - lo) / nSlices + 1)
    // two side-typed payload columns (null on the other side): a single
    // struct column can't union across sides with different field names
    val lType = StructType(left.schema.fields)
    val rType = StructType(right.schema.fields)
    def tagged(df: DataFrame, s: String, e: String, side: Int) = {
      val (pl, pr) =
        if (side == 0) (struct(df.columns.map(col): _*), lit(null).cast(rType))
        else (lit(null).cast(lType), struct(df.columns.map(col): _*))
      df.select(col(s).cast("long").as("__s"), col(e).cast("long").as("__e"),
          lit(side).as("__side"), pl.as("__pl"), pr.as("__pr"))
        .withColumn("__pid", explode(sequence(
          expr(s"(__s - ${lo}L) div ${width}L"),
          expr(s"(__e - ${lo}L) div ${width}L"))))
    }
    val all = tagged(left, lStart, lEnd, 0)
      .unionByName(tagged(right, rStart, rEnd, 1))
      .repartition(col("__pid"))
      .sortWithinPartitions("__pid", "__s", "__side")
    val outSchema = StructType(left.schema.fields ++ right.schema.fields)
    val w = width
    all.mapPartitions { it =>
      var curPid = Long.MinValue
      val lBuf = scala.collection.mutable.ArrayBuffer.empty[Row]
      val rBuf = scala.collection.mutable.ArrayBuffer.empty[Row]
      it.flatMap { row =>
        val s = row.getLong(0)
        val side = row.getInt(2)
        val pid = row.getLong(5)
        if (pid != curPid) { curPid = pid; lBuf.clear(); rBuf.clear() }
        val (mine, other) = if (side == 0) (lBuf, rBuf) else (rBuf, lBuf)
        other.filterInPlace(_.getLong(1) >= s)
        mine.filterInPlace(_.getLong(1) >= s)
        val owned = (s - lo) / w == pid // arriving row's own start slice
        val out = if (owned) {
          other.iterator.map { o =>
            val lp = (if (side == 0) row else o).getStruct(3) // __pl
            val rp = (if (side == 0) o else row).getStruct(4) // __pr
            Row.fromSeq(lp.toSeq ++ rp.toSeq)
          }.toVector
        } else Vector.empty[Row]
        mine += row
        out
      }
    }(Encoders.row(outSchema))
  }

  /** As-of join: for each left row, the most recent right value at or
    * before its timestamp, per key. Composed from window functions (the
    * Spark-first preference ladder: built-ins before custom plans) —
    * one shuffle on (key), one sort, no point lookups. Left columns:
    * (k, ts, …) and right: (k, ts, v). */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, ts: String, value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.withColumn("__side", lit(1))
    val r = right.select(col(key), col(ts), col(value).as("__v"), lit(0).as("__side"))
    // At equal ts, right rows come first (side 0 < 1); among tied right
    // rows the ordering on __v makes the picked value deterministic.
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("__side"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("asof_" + value, last("__v", ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__side", "__v")
  }

  /** Spread a narrow scan over every core ahead of CPU-bound row work
    * (the map phase the reference runs on every processor). A parquet
    * table smaller than one row group scans in one task, and a
    * row-local kernel over it (MinHash signatures, SimHash sketches,
    * tokenizing) then runs on one core. When `df` is narrow (no
    * operator between its root and its scans shuffles) and its scans
    * plan fewer than `p` = `defaultParallelism` partitions, this returns
    * `df.repartition(p)`, or `df.repartition(p, keys: _*)` given keys;
    * otherwise, and for a streaming frame, `df` itself. The count is
    * read off the planned scans on the driver: no Spark job runs.
    *
    * Call it only where the per-row cost dwarfs one exchange of the row,
    * never ahead of an operator that shuffles its input anyway (a join,
    * an aggregate, a window): there the spread is one more exchange for
    * nothing. Keyed on the window's partition key, the repartition is
    * the window's own exchange, and AQE does not coalesce it. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      scanPartitions(df.queryExecution.sparkPlan) match {
        case Some(n) if n < p =>
          if (keys.isEmpty) df.repartition(p) else df.repartition(p, keys: _*)
        case _ => df
      }
    }

  /** Partitions the scans of a narrow physical plan run in; None when
    * an operator of `plan` shuffles or reads a leaf whose partitions it
    * cannot count. */
  private def scanPartitions(plan: SparkPlan): Option[Int] = plan match {
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case s: InputRDDCodegen => Some(s.inputRDD.getNumPartitions) // local rows, checkpoints
    case _: Exchange => None
    case o if o.children.nonEmpty &&
        o.requiredChildDistribution.forall(_ == UnspecifiedDistribution) =>
      o.children.map(scanPartitions).reduce((a, b) => a.zip(b).map { case (x, y) => x max y })
    case _ => None
  }
}
