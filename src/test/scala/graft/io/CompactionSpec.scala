package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction rewrites many small files to the size-derived count, content-equal") {
    val dir = Bridge.scratchDir("graft-compact").toPath.resolve("t").toString
    // 64 tiny files
    spark.range(100000L).select(col("id"), (col("id") % 97).as("k"))
      .repartition(64).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.collect().map(_.toSeq).toSet

    val bytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(bytes.length == 64)
    val total = bytes.map(_.length).sum
    val target = total / 4 // aim for ~4 files
    val r = Compaction.compactParquet(spark, dir, target)
    assert(r.filesBefore == 64)
    val expectWant = math.max(1, math.ceil(total.toDouble / target).toInt)
    assert(r.filesAfter == expectWant, s"got ${r.filesAfter}, want $expectWant")

    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.toSeq).toSet == beforeRows)

    // convergent: repeated passes with the same target settle (the
    // post-compaction table may shed per-file overhead bytes and shrink
    // once more, but a fixed point is reached and then never rewritten)
    val r2 = Compaction.compactParquet(spark, dir, target)
    assert(r2.filesBefore == r.filesAfter && r2.filesAfter <= r2.filesBefore)
    val r3 = Compaction.compactParquet(spark, dir, target)
    assert(r3.filesBefore == r3.filesAfter && r3.filesAfter == r2.filesAfter)
  }

  test("a table already at target count is left untouched") {
    val dir = Bridge.scratchDir("graft-compact2").toPath.resolve("t").toString
    spark.range(1000L).coalesce(1).write.parquet(dir)
    val fileBefore = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val mtime = fileBefore.lastModified()
    val r = Compaction.compactParquet(spark, dir, 128L << 20)
    assert(r.filesBefore == 1 && r.filesAfter == 1)
    val fileAfter = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    assert(fileAfter.getName == fileBefore.getName && fileAfter.lastModified() == mtime)
  }

  test("compacting a bucketed edge table PRESERVES the layout: sidecar, tags, sortedness, SPJ") {
    val fmt = "graft.sources.EdgeListSource"
    val root = Bridge.scratchDir("graft-compact-b")
    val dir = s"$root/t"
    val edges = spark.range(4000L)
      .selectExpr("id % 97 AS src", "(id * 7) % 89 AS dst")
    // 5 appends x 4 tasks x 4 buckets: files-per-bucket piles up —
    // exactly the shape the merge reader's handle bound points at
    edges.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(dir)
    (1 to 4).foreach(_ => edges.repartition(4).write.format(fmt)
      .mode("append").save(dir))
    val before = graft.sources.EdgeListSource.listFiles(dir)
    assert(before.size > 8, s"fixture too small: ${before.size} files")
    val r = Compaction.compactEdgeList(spark, dir, 1L << 30)
    // layout survived: sidecar (with the sorted flag), every file
    // tagged, and far fewer files
    assert(graft.sources.BucketSpecIO.read(dir) === Some(("src", 4)))
    assert(graft.sources.BucketSpecIO.sortedOf(dir),
      "compaction lost the sorted flag")
    val after = graft.sources.EdgeListSource.listFiles(dir)
    assert(after.size < before.size && r.filesAfter == after.size)
    after.foreach(f => assert(graft.sources.BucketSpecIO
      .bucketOf(f.getName).exists(_ < 4), s"untagged ${f.getName}"))
    // content exact (5x the base multiset)
    val back = spark.read.format(fmt).load(dir)
    assert(back.count() === 20000L)
    assert(back.groupBy("src", "dst").count()
      .except(edges.groupBy("src", "dst")
        .agg((count(lit(1)) * 5).as("count"))).isEmpty)
    // and the compacted table still joins exchange-free
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    try {
      edges.repartition(2).write.format(fmt)
        .option("bucketBy", "src").option("numBuckets", "4")
        .mode("overwrite").save(s"$root/other")
      val df = spark.sql(s"SELECT /*+ MERGE(a) */ a.src, count(*) AS n " +
        s"FROM graft.`$dir` a JOIN graft.`$root/other` b ON a.src = b.src " +
        "GROUP BY a.src")
      df.collect()
      assert(graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.Exchange]) === 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zorder on a bucketed table is BUCKET-LOCAL: layout kept, files z-narrow, SPJ intact") {
    val fmt = "graft.sources.EdgeListSource"
    val root = Bridge.scratchDir("graft-zorder-b")
    val dir = s"$root/t"
    val edges = spark.range(8000L)
      .selectExpr("id % 97 AS src", "(id * 7) % 89 AS dst")
    edges.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(dir)
    (1 to 3).foreach(_ => edges.repartition(4).write.format(fmt)
      .mode("append").save(dir))
    def meanArea(files: Seq[java.io.File]): Double = {
      val as = files.flatMap(f => graft.sources.EdgeStats.read(f)).map(s =>
        (s.maxSrc - s.minSrc + 1).toDouble * (s.maxDst - s.minDst + 1))
      as.sum / as.size
    }
    val before = graft.sources.EdgeListSource.listFiles(dir)
    val areaBefore = meanArea(before)
    Compaction.zorderEdgeList(spark, dir, numFiles = 16, bits = 8)
    // the layout SURVIVED the re-cluster: sidecar (sorted), tags
    assert(graft.sources.BucketSpecIO.read(dir) === Some(("src", 4)))
    assert(graft.sources.BucketSpecIO.sortedOf(dir),
      "bucket-local zorder lost the sorted flag")
    val after = graft.sources.EdgeListSource.listFiles(dir)
    after.foreach(f => assert(graft.sources.BucketSpecIO
      .bucketOf(f.getName).exists(_ < 4), s"untagged ${f.getName}"))
    // content exact (4x the base multiset)
    val back = spark.read.format(fmt).load(dir)
    assert(back.count() === 32000L)
    assert(back.groupBy("src", "dst").count()
      .except(edges.groupBy("src", "dst")
        .agg((count(lit(1)) * 4).as("count"))).isEmpty)
    // z-locality is now per FILE: append-order files each spanned the
    // whole (src, dst) domain; z-sliced bucket files cover small
    // rectangles, so the zone maps prune on either or both dimensions
    assert(after.size >= 8, s"too few files to slice: ${after.size}")
    val areaAfter = meanArea(after)
    assert(areaAfter < areaBefore * 0.6,
      f"zone-map rectangles did not shrink: $areaBefore%.0f -> $areaAfter%.0f")
    // and the z-ordered table still joins exchange-free
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    try {
      edges.repartition(2).write.format(fmt)
        .option("bucketBy", "src").option("numBuckets", "4")
        .mode("overwrite").save(s"$root/other")
      val df = spark.sql(s"SELECT /*+ MERGE(a) */ a.src, count(*) AS n " +
        s"FROM graft.`$dir` a JOIN graft.`$root/other` b ON a.src = b.src " +
        "GROUP BY a.src")
      df.collect()
      assert(graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.Exchange]) === 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
