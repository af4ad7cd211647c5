package graft.io

import graft.graph.PageRank
import graft.testkit.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class EdgeListIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(content: String): String = {
    val f = Bridge.scratchDir("edges").toPath.resolve("edges.txt")
    Files.writeString(f, content)
    f.toString
  }

  test("readValidated aborts with 1-based line number on the FIRST bad line") {
    val p = tmp("0 1\n1 2\n01 2\nx y\n")
    val e = intercept[EdgeListIO.InvalidLine] {
      EdgeListIO.readValidated(spark, p)
    }
    assert(e.lineNumber == 3) // leading zero is invalid per the regex
  }

  test("readValidated accepts the reference grammar incl. id 0") {
    val p = tmp("0 0\n10 2\n999999999 0\n")
    val got = EdgeListIO.readValidated(spark, p).as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 0L), (10L, 2L), (999999999L, 0L)))
  }

  test("weighted/labeled/vertex variants parse their schemas") {
    val w = EdgeListIO.readWeighted(spark, tmp("0 1 0.5\n1 2 1.25\n"))
      .as[(Long, Long, Double)].collect().toSet
    assert(w == Set((0L, 1L, 0.5), (1L, 2L, 1.25)))
    val l = EdgeListIO.readLabeled(spark, tmp("3 4 7\n")).head()
    assert((l.getLong(0), l.getLong(1), l.getInt(2)) == ((3L, 4L, 7)))
    val vw = EdgeListIO.readVertexWeighted(spark, tmp("5 2.5\n")).head()
    assert((vw.getLong(0), vw.getDouble(1)) == ((5L, 2.5)))
  }

  test("readers walk directory trees recursively (file-list map semantics)") {
    val dir = Bridge.scratchDir("edgetree").toPath
    Files.createDirectory(dir.resolve("sub"))
    Files.writeString(dir.resolve("a.txt"), "0 1\n1 2\n")
    Files.writeString(dir.resolve("sub").resolve("b.txt"), "2 3\n")
    val got = EdgeListIO.read(spark, dir.toString).as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (1L, 2L), (2L, 3L)))
    val words = EdgeListIO.readWords(spark, dir.toString).count()
    assert(words == 6L)
  }

  test("multi-file validation aborts with the PER-FILE line number") {
    val dir = Bridge.scratchDir("edgebad").toPath
    Files.writeString(dir.resolve("a.txt"), "0 1\n1 2\n2 3\n")
    Files.writeString(dir.resolve("b.txt"), "5 6\nBAD LINE\n")
    val e = intercept[EdgeListIO.InvalidLine] {
      EdgeListIO.readValidated(spark, dir.toString)
    }
    assert(e.lineNumber == 2, s"expected line 2 of b.txt, got ${e.lineNumber}")
  }

  test("readWords tokenizes on whitespace runs") {
    val p = tmp("the  quick\tbrown\nfox the\n")
    val words = EdgeListIO.readWords(spark, p).as[String].collect().toSeq
    assert(words.sorted == Seq("brown", "fox", "quick", "the", "the"))
  }

  test("golden format round-trips through formatRank within checker tolerance") {
    for (x <- Seq(0.100073081953, 1.0 / 3.0, 1e-7, 0.25, 1.0))
      assert(math.abs(EdgeListIO.formatRank(x).toDouble - x) <= 1e-12 * math.max(1, x))
  }

  test("formatRank is glibc %.12g: exact value, ties to even") {
    // expected strings are Python's '%.12g' % x, which rounds as glibc printf does
    val cases = Seq(
      0.0 -> "0",
      0.25 -> "0.25",
      1.5 -> "1.5",
      100.0 -> "100",
      1.0 / 3.0 -> "0.333333333333",
      0.1 -> "0.1",
      1e-4 -> "0.0001",
      1e-5 -> "1e-05",
      5e-5 -> "5e-05",
      0.00012345678901234 -> "0.000123456789012",
      9.99999999999995e-05 -> "0.0001",
      999999999999.0 -> "999999999999",
      1e12 -> "1e+12",
      123456789012.0 -> "123456789012",
      math.pow(2, -18) -> "3.81469726562e-06", // 3.814697265625e-06, a tie: to even
      1000000000005.0 -> "1e+12",              // a tie: to even
      math.pow(2, -20) -> "9.53674316406e-07") // 9.5367431640625e-07, no tie
    for ((x, want) <- cases)
      assert(EdgeListIO.formatRank(x) == want, s"formatRank($x)")
  }

  /** `formatRank` as it was before its scientific branch built the
    * mantissa from the digits: a second `BigDecimal` and the `f""`
    * interpolator. The oracle of the sweep below. */
  private def formatRankViaBigDecimal(x: Double): String = {
    if (x == 0.0) return "0"
    val bd = new java.math.BigDecimal(x)
      .round(new java.math.MathContext(12, java.math.RoundingMode.HALF_EVEN))
    val unscaled = bd.stripTrailingZeros()
    val exp = unscaled.precision() - unscaled.scale() - 1
    if (exp < -4 || exp >= 12) {
      val m = java.math.BigDecimal.valueOf(unscaled.unscaledValue().longValue(), unscaled.precision() - 1)
      val mant = m.stripTrailingZeros().toPlainString
      val sign = if (exp < 0) "-" else "+"
      f"${mant}e$sign${math.abs(exp)}%02d"
    } else unscaled.toPlainString
  }

  test("formatRank matches the BigDecimal mantissa formatter on a fixed-seed sweep") {
    val rng = new scala.util.Random(20261019L)
    // PageRank-sized values (1/n around 1e-4..1e-7), uniform doubles
    // scaled across both notation boundaries, random bit patterns
    // (subnormals, three-digit exponents, negatives) and 12-digit ties
    val values = Iterator.fill(40000)(rng.nextDouble() / (1 + rng.nextInt(1 << 24))) ++
      Iterator.fill(40000)(rng.nextDouble() * math.pow(10, rng.nextInt(40) - 20)) ++
      Iterator.fill(40000)(java.lang.Double.longBitsToDouble(rng.nextLong()))
        .filter(d => !d.isNaN && !d.isInfinite) ++
      Iterator.fill(5000)(rng.nextLong(1000000000000L) * math.pow(10, rng.nextInt(30) - 18))
    var n = 0
    var sci = 0
    values.foreach { x =>
      val got = EdgeListIO.formatRank(x)
      assert(got == formatRankViaBigDecimal(x), s"formatRank($x)")
      n += 1
      if (got.contains('e')) sci += 1
    }
    assert(n >= 100000 && sci > n / 2, s"$n values, $sci in scientific notation")
  }

  test("formatRank is byte-identical to the reference cpp golden notation") {
    // barabasi-100000 spans fixed and scientific notation (8021 e-05
    // lines, plus e-06/e-07): every value string must reproduce exactly.
    val src = scala.io.Source.fromFile(
      "/root/reference/result/barabasi-100000-pr-cpp.txt")
    try {
      var checked = 0
      var sci = 0
      src.getLines().foreach { line =>
        val v = line.split("\\s=\\s")(1)
        assert(EdgeListIO.formatRank(v.toDouble) == v, s"line: $line")
        checked += 1
        if (v.contains("e-")) sci += 1
      }
      assert(checked > 100000 && sci > 8000)
    } finally src.close()
  }

  /** The composed read `readValidated` replaced: a numbering pass, a
    * bad-line query and a lazy `split`-and-cast frame. The oracle for the
    * one-pass read. */
  private def composedRead(path: String): DataFrame = {
    val lines = spark.read.option("recursiveFileLookup", "true").textFile(path)
    val numbered = lines
      .select(col("value").as("line"), input_file_name().as("f"))
      .rdd.zipWithIndex()
      .map { case (r, i) => (r.getString(0), r.getString(1), i) }
      .toDF("line", "f", "gidx")
    val bad = numbered
      .where(!col("line").rlike("^(0|[1-9][0-9]*)\\s(0|[1-9][0-9]*)$"))
      .orderBy("gidx")
      .limit(1)
      .select("gidx", "f", "line")
      .collect()
    bad.headOption.foreach { r =>
      val n = numbered
        .where(col("f") === r.getString(1) && col("gidx") <= r.getLong(0))
        .count()
      throw EdgeListIO.InvalidLine(n, r.getString(2))
    }
    numbered.select(
      split(col("line"), "\\s").getItem(0).cast("long").as("src"),
      split(col("line"), "\\s").getItem(1).cast("long").as("dst"))
  }

  /** The rows in order, the bad line's number, or the exception class. */
  private def outcome(read: String => DataFrame, path: String): Either[String, Seq[(Any, Any)]] =
    try Right(read(path).collect().toSeq.map(r => (r.get(0), r.get(1))))
    catch {
      case e: EdgeListIO.InvalidLine => Left(s"InvalidLine(${e.lineNumber}, ${e.content})")
      case e: Exception => Left(e.getClass.getName)
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val id: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0L, 99999L).map(_.toString),
    1 -> Gen.zip(Gen.choose(1, 2), Gen.choose(0L, 99L)).map { case (z, v) => "0" * z + v },
    2 -> Gen.choose(18, 20).flatMap(k =>
      Gen.zip(Gen.choose('1', '9'), Gen.listOfN(k - 1, Gen.numChar))
        .map { case (h, t) => h +: t.mkString }),
    1 -> Gen.oneOf("9223372036854775807", "9223372036854775808"),
    1 -> Gen.oneOf("\u0661", "1\u0662", "\uff13"))
  private val sep = Gen.frequency(5 -> " ", 1 -> "\t", 1 -> "\f", 1 -> "\u000b", 1 -> "  ", 1 -> " \t")
  private val end = Gen.frequency(8 -> "", 1 -> " ", 1 -> "\u0085", 1 -> "\u2028")
  private val line: Gen[String] = Gen.frequency(
    12 -> (for (a <- id; s <- sep; b <- id; e <- end) yield a + s + b + e),
    1 -> Gen.const(""),
    1 -> Gen.alphaNumStr.map(_.take(4)))

  test("one-pass read agrees with the composed read on generated lines") {
    val kinds = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(Gen.choose(1, 6).flatMap(Gen.listOfN(_, line))) { ls =>
      val p = tmp(ls.mkString("\n") + "\n")
      val (got, want) = (outcome(EdgeListIO.readValidated(spark, _), p), outcome(composedRead, p))
      kinds += got.fold(_.takeWhile(_ != '('), _ => "rows")
      Prop(got == want) :| s"lines ${ls.map(_.map(_.toInt))}: got $got, want $want"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(Seed(6L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // the cases reached all three outcomes
    assert(kinds == Set("rows", "InvalidLine", "org.apache.spark.SparkNumberFormatException"),
      kinds)
  }

  test("without ANSI an id past Long.MaxValue reads as null, as the composed read does") {
    withConf("spark.sql.ansi.enabled" -> "false") {
      val p = tmp("1 2\n3 99999999999999999999\n9223372036854775808 4\n5 6\u0085\n")
      val got = outcome(EdgeListIO.readValidated(spark, _), p)
      assert(got == outcome(composedRead, p))
      assert(got == Right(Seq((1L, 2L), (3L, null), (null, 4L), (5L, null))))
    }
  }

  test("a bad line in a later partition of a split file keeps its line number") {
    val p = tmp((0 until 40).map(i => if (i == 32 || i == 37) "bad" else s"$i ${i + 1}")
      .mkString("", "\n", "\n"))
    withConf("spark.sql.files.maxPartitionBytes" -> "64") {
      assert(EdgeListIO.perCoreText(spark, p).rdd.getNumPartitions > 2)
      val e = intercept[EdgeListIO.InvalidLine](EdgeListIO.readValidated(spark, p))
      assert(e.lineNumber == 33 && e.content == "bad")
      assert(outcome(composedRead, p) == Left("InvalidLine(33, bad)"))
    }
  }

  test("a small single file reads in one partition per core, conf untouched") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores >= 2 && spark.conf.getOption("spark.sql.files.minPartitionNum").isEmpty)
    val lines = (0 until 2000).map(i => s"$i ${i * 7 % 2000}")
    val good = tmp(lines.mkString("", "\n", "\n"))
    val bad = tmp(lines.updated(1990, "1990  5").mkString("", "\n", "\n"))
    val conf = spark.conf.getAll
    assert(EdgeListIO.perCoreText(spark, good).rdd.getNumPartitions == cores)
    assert(EdgeListIO.readValidated(spark, good).rdd.getNumPartitions == cores)
    assert(spark.read.text(good).rdd.getNumPartitions == 1) // the session's own sizing
    val rows = outcome(EdgeListIO.readValidated(spark, _), good)
    assert(rows.map(_.size) == Right(2000) && rows == outcome(composedRead, good))
    // line 1991 sits in the last of the splits
    assert(outcome(EdgeListIO.readValidated(spark, _), bad) == Left("InvalidLine(1991, 1990  5)"))
    assert(outcome(composedRead, bad) == Left("InvalidLine(1991, 1990  5)"))
    assert(spark.conf.getAll == conf)
  }

  test("files packed into one partition number their lines per file") {
    val dir = Bridge.scratchDir("edgepack").toPath
    Files.writeString(dir.resolve("a.txt"), "0 1\n1 2\n2 3\n3 4\n4 5\n")
    Files.writeString(dir.resolve("b.txt"), "5 6\n6 7\n7 8\n")
    Files.writeString(dir.resolve("c.txt"), "8 9\nx\n")
    withConf("spark.sql.files.openCostInBytes" -> "1", "spark.sql.files.minPartitionNum" -> "1") {
      assert(EdgeListIO.perCoreText(spark, dir.toString).rdd.getNumPartitions == 1)
      val e = intercept[EdgeListIO.InvalidLine](EdgeListIO.readValidated(spark, dir.toString))
      assert(e.lineNumber == 2 && e.content == "x")
      Files.writeString(dir.resolve("c.txt"), "8 9\n")
      val got = EdgeListIO.readValidated(spark, dir.toString).as[(Long, Long)].collect().toSet
      assert(got == (0L until 9L).map(i => (i, i + 1)).toSet)
    }
  }

  test("the returned frame never reads the text again") {
    val vendored = getClass.getResource("/bull.txt").getPath
    val p = Bridge.scratchDir("bull").toPath.resolve("bull.txt")
    Files.copy(Paths.get(vendored), p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val edges = EdgeListIO.readValidated(spark, p.toString)
    Files.delete(p)
    def ranks(e: DataFrame) =
      PageRank.run(spark, e).as[(Long, Double)].collect().toMap
    assert(ranks(edges) == ranks(EdgeListIO.readValidated(spark, vendored)))
  }

  test("releaseCheckpoint on the returned frame frees the read's storage") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = EdgeListIO.readValidated(spark, tmp("0 1\n1 2\n"))
    assert(spark.sparkContext.getPersistentRDDs.keySet != before)
    Bridge.releaseCheckpoint(edges)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  /** The writer `writeGolden` replaced: a global sort streamed through
    * `toLocalIterator`. The oracle for the slab writer. */
  private def sortedGolden(ranks: DataFrame, path: String): Unit = {
    val out = Files.newBufferedWriter(Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    try {
      val rows = ranks.orderBy("id").toLocalIterator()
      var s = 0.0
      while (rows.hasNext) {
        val r = rows.next()
        val rank = r.getDouble(1)
        s += rank
        out.write(r.getLong(0).toString)
        out.write(" = ")
        out.write(EdgeListIO.formatRank(rank))
        out.write('\n')
      }
      out.write("s = ")
      out.write(EdgeListIO.formatRank(s))
    } finally out.close()
  }

  /** The slab writer's file and the oracle's file, as bytes. */
  private def bothGoldens(ranks: DataFrame, slab: Int = EdgeListIO.GoldenSlab): (Seq[Byte], Seq[Byte]) = {
    val got = Bridge.scratchDir("golden").toPath.resolve("golden.txt")
    val want = Bridge.scratchDir("golden-sorted").toPath.resolve("golden-sorted.txt")
    EdgeListIO.writeGolden(ranks, got.toString, slab)
    sortedGolden(ranks, want.toString)
    (Files.readAllBytes(got).toSeq, Files.readAllBytes(want).toSeq)
  }

  test("writeGolden matches the sorted writer byte for byte on PageRank outputs") {
    for (parts <- Seq("1", "3", "4"); seed <- Seq(3L, 4L)) withConf(
        "spark.sql.shuffle.partitions" -> parts) {
      val edges = graft.graph.RMat.generate(spark, 9, 4L << 9, seed)
      val ranks = PageRank.run(spark, edges)
      assert(ranks.rdd.getNumPartitions == parts.toInt)
      val (got, want) = bothGoldens(ranks)
      assert(got == want, s"shuffle.partitions=$parts seed=$seed")
      assert(new String(got.toArray, "UTF-8").linesIterator.size > 256)
    }
  }

  test("writeGolden places ids from partitions in any order, over several slabs") {
    val rnd = new scala.util.Random(8)
    val n = 1000
    val rows = rnd.shuffle((0 until n).toList).map(i => (i.toLong, rnd.nextDouble() / (i + 1)))
    val ranks = rows.toDF("id", "rank").repartition(7)
    for (slab <- Seq(EdgeListIO.GoldenSlab, n, 100, 64, 1)) {
      val (got, want) = bothGoldens(ranks, slab)
      assert(got == want, s"slab $slab")
    }
    val (got, want) = bothGoldens(Seq.empty[(Long, Double)].toDF("id", "rank"))
    assert(got == want && new String(got.toArray, "UTF-8") == "s = 0")
  }

  test("writeGolden refuses a frame that is not dense 0..n-1, naming the id") {
    def error(ids: Seq[Long], slab: Int = EdgeListIO.GoldenSlab): String = {
      val out = Bridge.scratchDir("golden-bad").toPath.resolve("golden-bad.txt")
      val e = intercept[IllegalArgumentException] {
        EdgeListIO.writeGolden(ids.map(i => (i, 0.5)).toDF("id", "rank").repartition(3),
          out.toString, slab)
      }
      assert(!Files.exists(out), "a refused frame leaves no file")
      e.getMessage
    }
    val all = (0L until 100L)
    assert(error(all.filter(_ != 42)).endsWith("id 42 is missing"))
    assert(error(all :+ 7L :+ 60L).endsWith("id 7 is repeated"))
    assert(error(all.filter(_ != 80) :+ 30L).endsWith("id 30 is repeated"))
    assert(error(all :+ -3L).endsWith("id -3 is negative"))
    // the gap is in the second slab, found after the first is checked
    assert(error((0L until 10L) :+ 20L, slab = 16).endsWith("id 10 is missing"))
    assert(error(all.filter(_ != 0)).endsWith("id 0 is missing"))
  }
}
