package graft.io

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
    * The text is scanned in one split per core ([[perCoreText]]), even
    * when it is one small file. One job parses each text partition once
    * into an [[EdgeBlock]] and persists it; the returned frame reads
    * those blocks, never the text, and [[Bridge.releaseCheckpoint]] on it
    * frees them. The same job returns each partition's [[Tally]]: the
    * first bad line in partition order (the order a sequential scan sees)
    * aborts the read, numbered within its file by adding that file's
    * lines in earlier partitions.
    *
    * A line on the reference grammar with ids of at most 18 digits is
    * parsed from its bytes. Any other line goes to [[LinePattern]] (Java
    * `\s` and `$` included), and a line that passes it gets
    * [[splitParse]], the `split`-and-cast this reader always applied, so
    * an id past `Long.MaxValue` still fails the read as that cast does.
    */
  def readValidated(spark: SparkSession, path: String): DataFrame = {
    val fallback = splitParse(spark)
    val blocks = perCoreText(spark, path).queryExecution.toRdd
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

  /** The `(line, file)` rows of the text under `path` (directory trees
    * and globs read like the reference's file-list map), scanned as
    * Spark scans files but sized for this read: a split is
    * ⌈bytes / n⌉, with opening a file counted as one byte and `n` the
    * split count the session's file scans aim for (`minPartitionNum`,
    * else the default parallelism), capped by `maxPartitionBytes`. So a
    * small single file splits into `n` pieces rather than staying under
    * the `openCostInBytes` floor. The sizing is set on a clone of the
    * session; `spark`'s conf never changes. */
  private[io] def perCoreText(spark: SparkSession, path: String): DataFrame = {
    val scan = Bridge.cloneSession(spark)
    val text = scan.read.option("recursiveFileLookup", "true").text(path)
    val index = text.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.get
    val (maxBytes, n) = Bridge.fileSplitFigures(scan)
    val bytes = index.sizeInBytes + index.inputFiles.length
    // With one byte per open and the target as the only split count,
    // Spark's own split sizing yields exactly `split`.
    val split = math.max(1L, math.min(maxBytes, (bytes + n - 1) / n))
    scan.conf.set("spark.sql.files.openCostInBytes", 1L)
    scan.conf.set("spark.sql.files.minPartitionNum", 1L)
    scan.conf.set("spark.sql.files.maxPartitionBytes", split)
    text.select(col("value"), input_file_name())
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

  private val TwelveDigits = new java.math.MathContext(12, java.math.RoundingMode.HALF_EVEN)

  /** C++ `operator<<(double)` under `setprecision(12)`, i.e. glibc
    * `%.12g`: the exact binary value rounded to 12 significant digits,
    * ties to even, trailing zeros trimmed, scientific notation when the
    * rounded value's decimal exponent is < -4 or >= 12 — what the golden
    * files contain. `EdgeListIOSpec` pins it against printf's output. */
  def formatRank(x: Double): String = {
    if (x == 0.0) return "0"
    val bd = new java.math.BigDecimal(x).round(TwelveDigits)
    val unscaled = bd.stripTrailingZeros()
    val exp = unscaled.precision() - unscaled.scale() - 1 // decimal exponent
    if (exp < -4 || exp >= 12) {
      // d.ddde±XX from the (zero-free) significant digits themselves
      val digits = java.lang.Long.toString(math.abs(unscaled.unscaledValue().longValue()))
      val out = new java.lang.StringBuilder(24)
      if (unscaled.signum() < 0) out.append('-')
      out.append(digits.charAt(0))
      if (digits.length > 1) out.append('.').append(digits, 1, digits.length)
      out.append(if (exp < 0) "e-" else "e+")
      if (math.abs(exp) < 10) out.append('0')
      out.append(math.abs(exp)).toString
    } else unscaled.toPlainString
  }

  /** Ids per [[writeGolden]] job: the driver holds one slab's lines. */
  private[io] val GoldenSlab = 1 << 20

  /** One partition's rows with ids in a slab `lo until lo + slab`:
    * their offsets from `lo`, ranks and golden lines; whether the
    * partition also has an id past the slab; its smallest id; and
    * whether it has a null id or rank. */
  private final case class SlabRows(at: Array[Int], rank: Array[Double], line: Array[String],
      beyond: Boolean, min: Long, nulls: Boolean)

  private def slabRows(rows: Iterator[InternalRow], lo: Long, slab: Int): SlabRows = {
    val at = new ArrayBuilder.ofInt
    val rank = new ArrayBuilder.ofDouble
    val line = mutable.ArrayBuffer.empty[String]
    var beyond = false
    var min = Long.MaxValue
    var nulls = false
    while (rows.hasNext) {
      val r = rows.next()
      if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
      else {
        val id = r.getLong(0)
        min = math.min(min, id)
        if (id - lo >= slab) beyond = true
        else if (id >= lo) {
          at += (id - lo).toInt
          rank += r.getDouble(1)
          line += s"$id = ${formatRank(r.getDouble(1))}\n"
        }
      }
    }
    SlabRows(at.result(), rank.result(), line.toArray, beyond, min, nulls)
  }

  /** Write `(id, rank)` in golden format. The frame must hold each id of
    * the dense universe `0..n-1` once, as PageRank's output does; else
    * this fails naming the first missing or repeated id (or a negative
    * one) and leaves no file.
    *
    * No sort and no shuffle: one job per slab of [[GoldenSlab]] ids, in
    * which each task formats its own rows of the slab. The driver puts
    * each line at `id − lo`, writes the slab in id order and adds Σrank
    * in that same sequential order for the `s =` trailer, so it holds one
    * slab at a time. Each slab's job scans the whole frame. */
  def writeGolden(ranks: DataFrame, path: String): Unit = writeGolden(ranks, path, GoldenSlab)

  private[io] def writeGolden(ranks: DataFrame, path: String, slab: Int): Unit = {
    val rows = ranks.select(col("id").cast("long"), col("rank").cast("double")).queryExecution.toRdd
    val file = Paths.get(path)
    val out = Files.newBufferedWriter(file, StandardCharsets.UTF_8)
    var written = false
    try {
      var s = 0.0
      var lo = 0L
      var more = true
      while (more) {
        val from = lo
        val parts = ranks.sparkSession.sparkContext.runJob(rows,
          (it: Iterator[InternalRow]) => slabRows(it, from, slab))
        def fail(what: String) = throw new IllegalArgumentException(
          s"golden output needs each id of 0..n-1 once: $what")
        if (parts.exists(_.nulls)) fail("an id or rank is null")
        val min = parts.foldLeft(Long.MaxValue)(_ min _.min)
        if (min < 0) fail(s"id $min is negative")
        more = parts.exists(_.beyond)
        val end = if (more) slab else parts.flatMap(_.at).maxOption.fold(0)(_ + 1)
        val line = new Array[String](end)
        val rank = new Array[Double](end)
        var repeated = end
        for (p <- parts; k <- p.at.indices) {
          val i = p.at(k)
          if (line(i) != null) repeated = math.min(repeated, i)
          line(i) = p.line(k)
          rank(i) = p.rank(k)
        }
        val missing = line.indexOf(null)
        if (missing >= 0 && missing < repeated) fail(s"id ${lo + missing} is missing")
        if (repeated < end) fail(s"id ${lo + repeated} is repeated")
        var i = 0
        while (i < end) {
          s += rank(i)
          out.write(line(i))
          i += 1
        }
        lo += slab
      }
      out.write("s = ")
      out.write(formatRank(s))
      written = true
    } finally {
      out.close()
      if (!written) Files.deleteIfExists(file)
    }
  }

  /** Parse a golden file into (id → value, trailer). Mirrors
    * `correctness_checker.cpp:34-56` (tolerance handled by caller). */
  def parseGolden(path: String): (Map[Long, Double], Double) = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().toVector.filter(_.nonEmpty) finally src.close()
    val kv = scala.collection.mutable.Map[Long, Double]()
    var trailer = 0.0
    lines.foreach { l =>
      val Array(k, v) = l.split("\\s=\\s")
      if (k == "s") trailer = v.toDouble else kv(k.toLong) = v.toDouble
    }
    (kv.toMap, trailer)
  }
}
