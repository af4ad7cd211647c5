package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.testkit.SparkSpec
import org.apache.spark.sql.graftbridge.Bridge

/** The DataSourceV2 edge-list connector must read the reference format
  * byte-identically to the spark.read.text + parse path, at EVERY
  * chunking — including chunk sizes smaller than one line, where a
  * reader's range starts and ends mid-line — and its pruning/pushdown
  * must actually reach the scan node. */
class EdgeListSourceSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.EdgeListSource"

  private def writeEdges(name: String, text: String): String = {
    val dir = Bridge.scratchDir(s"graft_els_$name").toPath
    Files.write(dir.resolve("part-0.txt"), text.getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("src", "dst").as[(Long, Long)].collect().toSeq.sorted

  test("chunked reads equal the unchunked read for every boundary placement") {
    val lines = (0 until 200).map(i => s"${i % 17} ${(i * 7) % 23}")
    val dir = writeEdges("chunks", lines.mkString("\n") + "\n")
    val whole = edgeSet(spark.read.format(Fmt).load(dir))
    assert(whole.size == 200)
    // chunk sizes below one line, around one line, prime, large: every
    // byte offset serves as a boundary for some size
    for (cb <- Seq(1, 2, 3, 5, 7, 11, 64, 1000, 1 << 20)) {
      val chunked = edgeSet(
        spark.read.format(Fmt).option("chunkBytes", cb.toString).load(dir))
      assert(chunked == whole, s"chunkBytes=$cb diverged")
    }
  }

  test("reads the reference's own test graph identically to EdgeListIO") {
    val ref = "/root/reference/test/bull.txt"
    if (new java.io.File(ref).exists()) {
      val viaText = edgeSet(EdgeListIO.read(spark, ref))
      val viaDsv2 = edgeSet(spark.read.format(Fmt)
        .option("chunkBytes", "16").load(ref))
      assert(viaDsv2 == viaText)
    }
  }

  test("no trailing newline, CRLF, and empty files all read correctly") {
    val d1 = writeEdges("notrail", "1 2\n3 4") // last line unterminated
    assert(edgeSet(spark.read.format(Fmt).option("chunkBytes", "3").load(d1))
      == Seq((1L, 2L), (3L, 4L)))
    val d2 = writeEdges("crlf", "1 2\r\n3 4\r\n")
    assert(edgeSet(spark.read.format(Fmt).load(d2)) == Seq((1L, 2L), (3L, 4L)))
    val d3 = writeEdges("empty", "")
    assert(spark.read.format(Fmt).load(d3).count() == 0)
  }

  test("column pruning reaches the scan: dst-only query never parses src column") {
    val dir = writeEdges("prune", "1 2\n3 4\n")
    val df = spark.read.format(Fmt).load(dir).select("dst")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    assert(scans.head.output.map(_.name) == Seq("dst"),
      s"scan output not pruned: ${scans.head.output}")
    assert(df.as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // count(*) prunes everything
    assert(spark.read.format(Fmt).load(dir).count() == 2)
  }

  test("comparison filters push into the scan with no residual Filter node") {
    val lines = (0 until 100).map(i => s"$i ${i * 2}")
    val dir = writeEdges("push", lines.mkString("\n") + "\n")
    val df = spark.read.format(Fmt).load(dir)
      .where(col("src") >= 10 && col("src") < 20 && col("dst") =!= 24)
    val plan = df.queryExecution.executedPlan
    val scanDesc = plan.collect { case b: BatchScanExec => b }.head.scan.description()
    assert(scanDesc.contains("GreaterThanOrEqual(src,10)")
      && scanDesc.contains("LessThan(src,20)"),
      s"comparisons not pushed: $scanDesc")
    // the inequality (Not(EqualTo)) is NOT supported -> must remain as
    // a residual Catalyst filter; the pushed ones must not
    val residual = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }.mkString(";")
    assert(residual.contains("24"), "unsupported filter lost from the plan")
    assert(!residual.contains("10") && !residual.contains("20"),
      s"pushed filters still re-checked post-scan: $residual")
    assert(df.count() == 9) // src 10..19 minus src=12 (dst=24)
  }

  test("ungrouped count/min/max push into the scan as per-chunk partials") {
    val lines = (0 until 100).map(i => s"${(i * 13) % 97} ${(i * 29) % 89}")
    val dir = writeEdges("agg", lines.mkString("\n") + "\n")
    val base = spark.read.format(Fmt).option("chunkBytes", "64").load(dir)
    val df = base.agg(
      count(lit(1)).as("n"), min("src").as("mns"), max("src").as("mxs"),
      min("dst").as("mnd"), max("dst").as("mxd"))
    val desc = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(desc.contains("PushedAggregates"), s"aggregates not pushed: $desc")
    assert(desc.contains("min(src)") && desc.contains("max(dst)"), desc)
    val r = df.head()
    val exp = lines.map { l => val Array(a, b) = l.split(" "); (a.toLong, b.toLong) }
    assert(r.getLong(0) == 100L && r.getLong(1) == exp.map(_._1).min
      && r.getLong(2) == exp.map(_._1).max && r.getLong(3) == exp.map(_._2).min
      && r.getLong(4) == exp.map(_._2).max)
    // composes with pushed filters: partials are post-filter
    val f = base.where(col("src") >= 50).agg(count(lit(1)), max("dst"))
    val fdesc = graft.plans.PlanWalk.nodes(f.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(fdesc.contains("PushedAggregates") && fdesc.contains("GreaterThanOrEqual(src,50)"), fdesc)
    val expF = exp.filter(_._1 >= 50)
    assert(f.head().getLong(0) == expF.size.toLong
      && f.head().getLong(1) == expF.map(_._2).max)
    // AVG is not translatable: the whole aggregation must stay row-level
    val g = base.groupBy("src").agg(avg("dst"))
    val gdesc = graft.plans.PlanWalk.nodes(g.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(!gdesc.contains("PushedAggregates"), gdesc)
    assert(g.count() == exp.map(_._1).distinct.size.toLong)
  }

  test("grouped count/min/max push as per-chunk per-group partials") {
    val lines = (0 until 200).map(i => s"${i % 7} ${(i * 31) % 53}")
    val exp = lines.map { l => val Array(a, b) = l.split(" "); (a.toLong, b.toLong) }
    val dir = writeEdges("gagg", lines.mkString("\n") + "\n")
    // chunkBytes=32 → many chunks, each seeing several groups;
    // maxGroupsPerChunk=2 → the flush-and-refill path runs constantly
    for (cap <- Seq("2", "1048576")) {
      val base = spark.read.format(Fmt).option("chunkBytes", "32")
        .option("maxGroupsPerChunk", cap).load(dir)
      val df = base.groupBy("src").agg(count(lit(1)).as("deg"),
        min("dst").as("mn"), max("dst").as("mx"))
      val desc = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collectFirst { case b: BatchScanExec => b }.get.scan.description()
      assert(desc.contains("PushedAggregates") &&
        desc.contains("PushedGroupBy: [src]"), s"cap=$cap: $desc")
      val got = df.as[(Long, Long, Long, Long)].collect().toSet
      val want = exp.groupBy(_._1).map { case (s, es) =>
        (s, es.size.toLong, es.map(_._2).min, es.map(_._2).max) }.toSet
      assert(got == want, s"cap=$cap: $got")
    }
    // two group columns, and dst-only grouping
    val base = spark.read.format(Fmt).option("chunkBytes", "32").load(dir)
    val both = base.groupBy("src", "dst").count()
    val bdesc = graft.plans.PlanWalk.nodes(both.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(bdesc.contains("PushedGroupBy: [src, dst]"), bdesc)
    assert(both.as[(Long, Long, Long)].collect().toSet ==
      exp.groupBy(identity).map { case ((s, d), es) => (s, d, es.size.toLong) }.toSet)
    val byDst = base.where(col("src") >= 3).groupBy("dst").count()
    val ddesc = graft.plans.PlanWalk.nodes(byDst.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()
    assert(ddesc.contains("PushedGroupBy: [dst]") &&
      ddesc.contains("GreaterThanOrEqual(src,3)"), ddesc)
    assert(byDst.as[(Long, Long)].collect().toSet ==
      exp.filter(_._1 >= 3).groupBy(_._2)
        .map { case (d, es) => (d, es.size.toLong) }.toSet)
  }

  test("limit and top-N push into the scan (per-chunk prefix / bounded heap)") {
    val lines = (0 until 200).map(i => s"${(i * 37) % 211} ${(i * 53) % 199}")
    val dir = writeEdges("topn", lines.mkString("\n") + "\n")
    val exp = lines.map { l => val Array(a, b) = l.split(" "); (a.toLong, b.toLong) }
    val base = spark.read.format(Fmt).option("chunkBytes", "64").load(dir)
    def scanDesc(df: org.apache.spark.sql.DataFrame): String =
      graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collectFirst { case b: BatchScanExec => b }.get.scan.description()

    // plain LIMIT: pushed (each chunk stops after its prefix), the
    // retained global limit yields exactly n real rows
    val lim = base.limit(7)
    assert(scanDesc(lim).contains("PushedLimit: 7"), scanDesc(lim))
    val got = lim.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == 7 && got.forall(exp.contains))

    // top-N: pushed heap per chunk, global result equals the full sort
    val topn = base.orderBy(col("dst").desc, col("src")).limit(5)
    assert(scanDesc(topn).contains("PushedTopN: [dst DESC, src ASC LIMIT 5]"),
      scanDesc(topn))
    val expTop = exp.sortBy { case (s, d) => (-d, s) }.take(5)
    assert(topn.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expTop)

    // limit composes with a pushed filter: the prefix is post-filter
    val lf = base.where(col("src") >= 100).limit(4)
    val lfd = scanDesc(lf)
    assert(lfd.contains("PushedLimit: 4")
      && lfd.contains("GreaterThanOrEqual(src,100)"), lfd)
    val gotF = lf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotF.size == 4 && gotF.forall { case (s, _) => s >= 100 })

    // top-N under a projection that drops the sort column downstream
    val proj = base.orderBy(col("dst"), col("src")).limit(3).select("src")
    assert(proj.collect().map(_.getLong(0)).toSeq ==
      exp.sortBy { case (s, d) => (d, s) }.take(3).map(_._1))
  }

  test("write path: round trip, overwrite truncation, append, schema check") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = Bridge.scratchDir("graft_els_write").toPath
    val p = dir.toString + "/out"
    val edges = (0 until 50).map(i => (i.toLong, (i * 3 % 31).toLong))
    edges.toDF("src", "dst").repartition(4)
      .write.format(Fmt).mode("overwrite").save(p)
    // multiple part files, reference line format on disk
    val files = new java.io.File(p).listFiles().filter(_.isFile)
      .filterNot(_.getName.startsWith("."))
    assert(files.length > 1, "expected multiple part files")
    val raw = files.flatMap(f =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty))
    assert(raw.forall(_.matches("(0|[1-9][0-9]*) (0|[1-9][0-9]*)")),
      s"bad line format: ${raw.take(3).mkString(";")}")
    assert(edgeSet(spark.read.format(Fmt).load(p)) == edges.sorted)
    // overwrite truncates the previous generation
    val gen2 = Seq((100L, 200L), (300L, 400L))
    gen2.toDF("src", "dst").write.format(Fmt).mode("overwrite").save(p)
    assert(edgeSet(spark.read.format(Fmt).load(p)) == gen2.sorted)
    // append keeps it
    Seq((500L, 600L)).toDF("src", "dst")
      .write.format(Fmt).mode("append").save(p)
    assert(edgeSet(spark.read.format(Fmt).load(p)) == (gen2 :+ ((500L, 600L))).sorted)
    // wrong schema refused — Spark's write-side analysis rejects the
    // unsafe cast against the table schema before our builder even runs
    val e = intercept[Exception] {
      Seq(("x", 1L)).toDF("src", "dst").write.format(Fmt).mode("append").save(p)
    }
    assert(e.getMessage.contains("CANNOT_SAFELY_CAST")
      || e.getMessage.contains("src BIGINT"))
    // written output survives a chunked re-read (write ⊣ read adjunction)
    assert(edgeSet(spark.read.format(Fmt).option("chunkBytes", "5").load(p))
      == (gen2 :+ ((500L, 600L))).sorted)
  }

  test("micro-batch stream: new files arrive as new batches, exactly once") {
    val dir = Bridge.scratchDir("graft_els_stream").toPath
    Files.write(dir.resolve("part-00000.txt"),
      "1 2\n3 4\n".getBytes(StandardCharsets.UTF_8))
    val q = spark.readStream.format(Fmt)
      .option("chunkBytes", "4") // mid-line boundaries inside a stream too
      .load(dir.toString)
      .where(col("src") >= 0) // pushed into the streaming chunk readers
      .writeStream.format("memory").queryName("els_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("els_stream").select("src", "dst")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(first == Seq((1L, 2L), (3L, 4L)))
      // a second file = a later offset = exactly one more batch of rows
      Files.write(dir.resolve("part-00001.txt"),
        "5 6\n".getBytes(StandardCharsets.UTF_8))
      q.processAllAvailable()
      val both = spark.table("els_stream").select("src", "dst")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(both == Seq((1L, 2L), (3L, 4L), (5L, 6L)))
    } finally q.stop()
  }

  test("appended connector writes sort after processed files (offset contract)") {
    val dir = Bridge.scratchDir("graft_els_appendstream").toPath
    val p = dir.toString + "/edges"
    // generation 1 through the connector's own writer, 2 task files
    Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("src", "dst")
      .repartition(2).write.format(Fmt).mode("append").save(p)
    val q = spark.readStream.format(Fmt).option("chunkBytes", "4").load(p)
      .writeStream.format("memory").queryName("els_append_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // generation 2, ALSO 2 task files: with partitionId-first naming
      // its part-00000-… would sort BEFORE generation 1's part-00001-…,
      // making the offset slice re-read one old file and drop one new
      // one — the generation-stamped names must sort strictly after
      Seq((9L, 10L), (11L, 12L)).toDF("src", "dst")
        .repartition(2).write.format(Fmt).mode("append").save(p)
      q.processAllAvailable()
      val got = spark.table("els_append_stream").select("src", "dst")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L), (11L, 12L)))
    } finally q.stop()
  }

  test("In pushdown, size statistics, and runtime filter application") {
    val lines = (0 until 60).map(i => s"$i ${i * 2}")
    val text = lines.mkString("\n") + "\n"
    val dir = writeEdges("inpush", text)
    // In via isin: pushed, no residual, correct values
    val df = spark.read.format(Fmt).load(dir).where(col("src").isin(3, 7, 11))
    val scanExec = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b }.get
    assert(scanExec.scan.description().contains("In(src"),
      s"In not pushed: ${scanExec.scan.description()}")
    assert(df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty, "In filter re-checked post-scan")
    assert(edgeSet(df) == Seq((3L, 6L), (7L, 14L), (11L, 22L)))
    // statistics: sizeInBytes = raw bytes on disk (drives broadcast picks)
    val stats = scanExec.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.sizeInBytes().getAsLong == text.getBytes("UTF-8").length.toLong)
    // runtime filtering: a post-planning In (the DPP shape) reaches the
    // chunk readers — rows for other keys are never materialized
    val rf = scanExec.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq == Seq("src", "dst"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("dst", Array(6L, 14L))))
    val batch = scanExec.scan.toBatch
    val parts = batch.planInputPartitions()
    val factory = batch.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (r.next()) { val row = r.get(); buf += ((row.getLong(0), row.getLong(1))) }
      r.close(); buf
    }.toSeq.sorted
    assert(rows == Seq((3L, 6L), (7L, 14L))) // static In ∧ runtime In
  }

  test("malformed lines: fail-fast by default with location, skip on request") {
    val dir = writeEdges("bad", "1 2\n01 3\nx y\n4 5\n")
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format(Fmt).load(dir).count()
    }
    assert(e.getMessage.contains("malformed edge line")
      || Option(e.getCause).exists(_.getMessage.contains("malformed edge line")))
    val kept = edgeSet(spark.read.format(Fmt)
      .option("malformed", "skip").load(dir))
    assert(kept == Seq((1L, 2L), (4L, 5L))) // leading zero + non-digit dropped
  }
}
