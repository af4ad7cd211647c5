package graft.io

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuilder
import scala.util.control.NonFatal

/** Edge-list reader/writer with the reference's exact contract.
  *
  * Input: whitespace-separated `src dst` per line, validated against
  * `(0|[1-9][0-9]*)\s(0|[1-9][0-9]*)$`; the first invalid line aborts
  * with its 1-based line number (`/root/reference/mr-pr-cpp.cpp:89-108`).
  *
  * Output: the golden PageRank format — `"<id> = <rank>"` per dense id
  * ascending, then a `"s = <Σrank>"` trailer, values with 12 significant
  * digits (C++ `setprecision(12)`, `mr-pr-cpp.cpp:254-267`).
  */
object EdgeListIO {

  final case class InvalidLine(lineNumber: Long, content: String)
    extends RuntimeException(s"invalid input at line number : $lineNumber")

  private val LinePattern = "^(0|[1-9][0-9]*)\\s(0|[1-9][0-9]*)$"

  /** A text partition's validation figures: its `(file, lines)`
    * segments in scan order, and the segment of its first bad line (-1
    * for none; the scan stops there, so that segment's count ends at the
    * bad line). `error` is the first failure of a fallback parse, raised
    * only when no partition has a bad line. */
  private final case class Tally(segments: Array[(String, Long)], badSegment: Int,
      badContent: String, error: Throwable)

  /** A text partition's edges, in line order. `nulls` marks the ids a
    * fallback parse gave as null (bit 1 `src`, bit 2 `dst`) and is null
    * while there are none. */
  private final case class EdgeBlock(src: Array[Long], dst: Array[Long],
      nulls: Array[Byte], tally: Tally)

  /** Strictly validated distributed read → `(src BIGINT, dst BIGINT)`.
    *
    * One job parses each text partition once into an [[EdgeBlock]] and
    * persists it; the returned frame reads those blocks, never the text,
    * and [[Bridge.releaseCheckpoint]] on it frees them. The same job
    * returns each partition's [[Tally]]: the first bad line in partition
    * order (the order a sequential scan sees) aborts the read, numbered
    * within its file by adding that file's lines in earlier partitions.
    *
    * A line on the reference grammar with ids of at most 18 digits is
    * parsed from its bytes. Any other line goes to [[LinePattern]] (Java
    * `\s` and `$` included), and a line that passes it gets
    * [[splitParse]], the `split`-and-cast this reader always applied, so
    * an id past `Long.MaxValue` still fails the read as that cast does.
    */
  def readValidated(spark: SparkSession, path: String): DataFrame = {
    // Directory trees/globs read like the reference's file-list map.
    val text = spark.read.option("recursiveFileLookup", "true").text(path)
      .select(col("value"), input_file_name())
    val fallback = splitParse(spark)
    val blocks = text.queryExecution.toRdd
      .mapPartitions(rows => Iterator(parseBlock(rows, fallback)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val tallies = spark.sparkContext.runJob(blocks, (it: Iterator[EdgeBlock]) => it.next().tally)
      fault(tallies).foreach(e => throw e)
    } catch {
      case e: Throwable => blocks.unpersist(false); throw e
    }
    Bridge.rowsFrame(spark, new EdgeRows(blocks),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
  }

  /** The read's failure, if any: the first bad line in partition order,
    * numbered by its file's lines in all segments up to its own; else the
    * first deferred parse error. */
  private def fault(tallies: Array[Tally]): Option[Throwable] = {
    val bad = tallies.indexWhere(_.badSegment >= 0)
    if (bad < 0) tallies.iterator.map(_.error).find(_ != null)
    else {
      val t = tallies(bad)
      val file = t.segments(t.badSegment)._1
      val upTo = tallies.take(bad).flatMap(_.segments) ++ t.segments.take(t.badSegment + 1)
      Some(InvalidLine(upTo.collect { case (`file`, n) => n }.sum, t.badContent))
    }
  }

  /** `split(line, "\\s")` items 0 and 1 cast to BIGINT, as catalyst
    * expressions bound to a one-string row: the parse of every line that
    * passes [[LinePattern]] but not the byte parser. Built on the driver,
    * so the cast keeps the session's ANSI mode. */
  private def splitParse(spark: SparkSession): Seq[Expression] = {
    val parts = split(col("line"), "\\s")
    val plan = spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("line", StringType))))
      .select(parts.getItem(0).cast("long"), parts.getItem(1).cast("long"))
      .queryExecution.analyzed
    plan.expressions.map(e => BindReferences.bindReference(
      e.transformUp { case r: RuntimeReplaceable => r.replacement },
      plan.children.head.output))
  }

  /** Parses one text partition of `(line, file)` rows, up to its first
    * bad line. */
  private def parseBlock(rows: Iterator[InternalRow], fallback: Seq[Expression]): EdgeBlock = {
    val src = new ArrayBuilder.ofLong
    val dst = new ArrayBuilder.ofLong
    val nulls = mutable.ArrayBuffer.empty[(Int, Byte)]
    val segments = mutable.ArrayBuffer.empty[(String, Long)]
    var file: UTF8String = null
    var n = 0L
    var badContent: String = null
    var error: Throwable = null
    var pattern: java.util.regex.Pattern = null
    val ids = new Array[Long](2)
    while (badContent == null && rows.hasNext) {
      val r = rows.next()
      val f = r.getUTF8String(1)
      if (file == null || f != file) {
        if (file != null) segments += file.toString -> n
        file = f.clone()
        n = 0
      }
      n += 1
      val line = r.getUTF8String(0)
      if (parseFast(line, ids)) {
        src += ids(0); dst += ids(1)
      } else {
        val s = line.toString
        if (pattern == null) pattern = java.util.regex.Pattern.compile(LinePattern)
        // find, as `rlike` matches
        if (!pattern.matcher(s).find()) badContent = s
        else try {
          val in = InternalRow(UTF8String.fromString(s))
          val a = fallback(0).eval(in)
          val b = fallback(1).eval(in)
          val mask = (if (a == null) 1 else 0) | (if (b == null) 2 else 0)
          if (mask != 0) nulls += src.length -> mask.toByte
          src += (if (a == null) 0L else a.asInstanceOf[Long])
          dst += (if (b == null) 0L else b.asInstanceOf[Long])
        } catch {
          case NonFatal(e) => if (error == null) error = e
        }
      }
    }
    if (file != null) segments += file.toString -> n
    val nullMask = if (nulls.isEmpty) null else {
      val m = new Array[Byte](src.length)
      for ((e, bits) <- nulls) m(e) = bits
      m
    }
    EdgeBlock(src.result(), dst.result(), nullMask, Tally(segments.toArray,
      if (badContent == null) -1 else segments.length - 1, badContent, error))
  }

  /** The reference grammar on a line's UTF-8 bytes: digits with no
    * leading zero, one ASCII `\s` byte, digits, end of line. Writes the
    * two ids to `out`; false for any other line, and for ids over 18
    * digits, which might not fit a long. */
  private def parseFast(line: UTF8String, out: Array[Long]): Boolean = {
    val base = line.getBaseObject
    val end = line.getBaseOffset + line.numBytes
    var at = line.getBaseOffset
    var k = 0
    while (k < 2) {
      val start = at
      var v = 0L
      var b = 0
      while (at < end && { b = Platform.getByte(base, at); b >= '0' && b <= '9' }) {
        v = v * 10 + (b - '0')
        at += 1
      }
      val digits = at - start
      if (digits == 0 || digits > 18 || (digits > 1 && Platform.getByte(base, start) == '0'))
        return false
      out(k) = v
      if (k == 0) {
        if (at == end) return false
        b = Platform.getByte(base, at)
        if (b != ' ' && b != '\t' && b != 0x0b && b != '\f') return false
        at += 1
      }
      k += 1
    }
    at == end
  }

  /** The rows of a read's [[EdgeBlock]]s. Unpersisting it unpersists the
    * blocks, so [[Bridge.releaseCheckpoint]] on the frame over it frees
    * the read's storage. */
  private final class EdgeRows(blocks: RDD[EdgeBlock]) extends RDD[InternalRow](blocks) {
    override protected def getPartitions: Array[Partition] = blocks.partitions

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val b = blocks.iterator(split, context).next()
      val row = new UnsafeRow(2)
      row.pointTo(new Array[Byte](24), 24)
      new Iterator[InternalRow] {
        private var e = 0
        def hasNext: Boolean = e < b.src.length
        def next(): InternalRow = {
          row.setLong(0, b.src(e))
          row.setLong(1, b.dst(e))
          if (b.nulls != null) {
            if ((b.nulls(e) & 1) != 0) row.setNullAt(0)
            if ((b.nulls(e) & 2) != 0) row.setNullAt(1)
          }
          e += 1
          row
        }
      }
    }

    override def unpersist(blocking: Boolean): this.type = {
      blocks.unpersist(blocking)
      super.unpersist(blocking)
    }
  }

  /** Unvalidated fast path (schema-on-read CSV, filters/projection push
    * into the scan). Like every reader here, `path` may be a single
    * file, a glob, or a directory tree — the reference's file-list map
    * walks directories recursively (`mapreduce.cpp:1022-1043`,
    * `findfiles` recursion `:2725-2843`); Spark's equivalent is native
    * glob expansion plus `recursiveFileLookup`. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").option("recursiveFileLookup", "true")
      .schema("src LONG, dst LONG").csv(path)

  /** `read_edge_weight` (`oink/map_read_edge_weight.cpp:9-27`):
    * `vi vj weight` lines. */
  def readWeighted(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").option("recursiveFileLookup", "true")
      .schema("src LONG, dst LONG, weight DOUBLE").csv(path)

  /** `read_edge_label` (`oink/map_read_edge_label.cpp`): `vi vj label`. */
  def readLabeled(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").option("recursiveFileLookup", "true")
      .schema("src LONG, dst LONG, label INT").csv(path)

  /** `read_vertex_weight` / `read_vertex_label`
    * (`oink/map_read_vertex_weight.cpp`, `map_read_vertex_label.cpp`). */
  def readVertexWeighted(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").option("recursiveFileLookup", "true")
      .schema("id LONG, weight DOUBLE").csv(path)

  def readVertexLabeled(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", " ").option("recursiveFileLookup", "true")
      .schema("id LONG, label INT").csv(path)

  /** `read_words` (`oink/map_read_words.cpp:9-30`): whitespace tokens of
    * arbitrary text files as a single-column frame; directory trees
    * welcome (file-list map semantics). */
  def readWords(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("recursiveFileLookup", "true").textFile(path).toDF("line")
      .select(explode(filter(split(col("line"), "\\s+"), w => w =!= lit(""))).as("word"))
  }

  /** C++ `operator<<(double)` under `setprecision(12)`: up to 12
    * significant digits, trailing zeros trimmed, scientific notation
    * when the decimal exponent < -4 or >= 12 (%g semantics) — what the
    * golden files contain. Byte-level parity with the reference's cpp
    * goldens is asserted by EdgeListIOSpec over barabasi-100000. */
  def formatRank(x: Double): String = {
    if (x == 0.0) return "0"
    val bd = new java.math.BigDecimal(x).round(new java.math.MathContext(12))
    val unscaled = bd.stripTrailingZeros()
    val exp = unscaled.precision() - unscaled.scale() - 1 // decimal exponent
    if (exp < -4 || exp >= 12) {
      val m = java.math.BigDecimal.valueOf(unscaled.unscaledValue().longValue(), unscaled.precision() - 1)
      val mant = m.stripTrailingZeros().toPlainString
      val sign = if (exp < 0) "-" else "+"
      f"${mant}e$sign${math.abs(exp)}%02d"
    } else unscaled.toPlainString
  }

  /** Write ranks in golden format, streamed: the rows come in `id`
    * order through `toLocalIterator`, so the driver holds one partition
    * of the sorted frame at a time, and the `s =` trailer sums the ranks
    * in that same sequential order. */
  def writeGolden(ranks: DataFrame, path: String): Unit = {
    val out = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try {
      val rows = ranks.orderBy("id").toLocalIterator()
      var s = 0.0
      while (rows.hasNext) {
        val r = rows.next()
        val rank = r.getDouble(1)
        s += rank
        out.write(r.getLong(0).toString)
        out.write(" = ")
        out.write(formatRank(rank))
        out.write('\n')
      }
      out.write("s = ")
      out.write(formatRank(s))
    } finally out.close()
  }

  /** Parse a golden file into (id → value, trailer). Mirrors
    * `correctness_checker.cpp:34-56` (tolerance handled by caller). */
  def parseGolden(path: String): (Map[Long, Double], Double) = {
    val lines = scala.io.Source.fromFile(path).getLines().toVector.filter(_.nonEmpty)
    val kv = scala.collection.mutable.Map[Long, Double]()
    var trailer = 0.0
    lines.foreach { l =>
      val Array(k, v) = l.split("\\s=\\s")
      if (k == "s") trailer = v.toDouble else kv(k.toLong) = v.toDouble
    }
    (kv.toMap, trailer)
  }
}
