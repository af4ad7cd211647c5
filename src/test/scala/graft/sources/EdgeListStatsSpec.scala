package graft.sources


import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Zone-map sidecars (`_stats/<file>.zmap`): written at commit, used to
  * skip whole files whose min/max ranges can't satisfy pushed filters —
  * and NEVER a correctness dependency (absent/stale sidecars only cost
  * speed). */
class EdgeListStatsSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.EdgeListSource"

  /** Two single-file generations with disjoint src ranges. */
  private def twoFileTable(): String = {
    val root = Bridge.scratchDir("graftzmap").toPath.resolve("edges").toString
    Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).mode("append").save(root)
    Seq((10L, 1000L), (11L, 1100L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).mode("append").save(root)
    root
  }

  private def plannedPartitions(root: String, cond: org.apache.spark.sql.Column): Int =
    spark.read.format(Fmt).load(root).where(cond).rdd.getNumPartitions

  test("commit writes one sidecar per data file with exact bounds") {
    val root = twoFileTable()
    val files = EdgeListSource.listFiles(root)
    assert(files.size === 2)
    val stats = files.flatMap(EdgeStats.read)
    assert(stats.size === 2)
    assert(stats.map(s => (s.minSrc, s.maxSrc, s.rows)).toSet ===
      Set((1L, 3L, 3L), (10L, 11L, 2L)))
    assert(stats.map(s => (s.minDst, s.maxDst)).toSet ===
      Set((100L, 300L), (1000L, 1100L)))
  }

  test("pushed filter outside a file's range skips the whole file") {
    val root = twoFileTable()
    assert(plannedPartitions(root, lit(true)) === 2)       // no filter: all
    assert(plannedPartitions(root, col("src") === 10) === 1)
    assert(plannedPartitions(root, col("src") < 4) === 1)
    assert(plannedPartitions(root, col("dst") >= 1000) === 1)
    assert(plannedPartitions(root, col("src") === 99) === 0)
    // IN hitting both ranges keeps both files
    assert(plannedPartitions(root, col("src").isin(1, 11)) === 2)
    // results stay correct under the skip
    assert(spark.read.format(Fmt).load(root).where(col("src") === 10)
      .as[(Long, Long)].collect().toSeq === Seq((10L, 1000L)))
  }

  test("missing sidecars disable the skip but not the read") {
    val root = twoFileTable()
    val sd = new java.io.File(root, "_stats")
    sd.listFiles().foreach(_.delete()); sd.delete()
    assert(plannedPartitions(root, col("src") === 10) === 2) // no skip
    assert(spark.read.format(Fmt).load(root).where(col("src") === 10)
      .as[(Long, Long)].collect().toSeq === Seq((10L, 1000L)))
  }

  test("DELETE refreshes the rewritten file's sidecar to exact bounds") {
    val root = twoFileTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    spark.sql(s"DELETE FROM graft.`$root` WHERE src = 3")
    // the rewrite parses every surviving line anyway, so the sidecar is
    // re-written EXACT (bounds narrowed, row count correct — the count
    // feeds estimateStatistics.numRows, where stale would mean wrong)
    assert(plannedPartitions(root, col("src") === 1) === 1)
    val stats = EdgeListSource.listFiles(root).flatMap(EdgeStats.read)
    assert(stats.map(s => (s.minSrc, s.maxSrc, s.rows)).toSet ===
      Set((1L, 2L, 2L), (10L, 11L, 2L)))
    assert(spark.read.format(Fmt).load(root).as[(Long, Long)]
      .collect().toSet ===
      Set((1L, 100L), (2L, 200L), (10L, 1000L), (11L, 1100L)))
  }

  test("exact numRows statistics when every planned file has a sidecar") {
    val root = twoFileTable()
    def reportedRows(df: org.apache.spark.sql.DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.stats.rowCount
    assert(reportedRows(spark.read.format(Fmt).load(root)) ===
      Some(BigInt(5)))
    // a pushed filter makes the count an upper bound, not a fact:
    // the scan declines rather than estimates
    assert(reportedRows(spark.read.format(Fmt).load(root)
      .where(col("src") === 1)).isEmpty)
    // DELETE keeps the count exact through the sidecar refresh
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    spark.sql(s"DELETE FROM graft.`$root` WHERE src IN (1, 11)")
    assert(reportedRows(spark.read.format(Fmt).load(root)) ===
      Some(BigInt(3)))
    // a sidecar-less file (hand-dropped: the crash-between-renames
    // shape) downgrades the whole report — never a wrong number
    EdgeStats.file(EdgeListSource.listFiles(root).head).delete()
    assert(reportedRows(spark.read.format(Fmt).load(root)).isEmpty)
  }

  test("DELETE + immediate filtered read is exact under stale zone maps") {
    // VERDICT r8 #7: prove no filter exists for which a post-DELETE
    // (stale) sidecar drops a file that still holds matching rows.
    // Deletion can only NARROW a file's true range, so the stale
    // [min,max] stays a superset and mayMatch stays conservative —
    // this test makes that argument empirical by deleting the very
    // rows that DEFINED each file's bounds and then sweeping filters
    // over the whole domain against an in-memory truth table.
    val root = twoFileTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    // kill both files' boundary rows: file1 loses its min (src=1) and
    // max (src=3), file2 loses its max (src=11)
    spark.sql(s"DELETE FROM graft.`$root` WHERE src IN (1, 3, 11)")
    val truth = Set((2L, 200L), (10L, 1000L))
    // deleteWhere refreshes sidecars now, so STALENESS is constructed
    // by hand — the crash-between-rename-and-sidecar shape: write the
    // ORIGINAL (pre-DELETE) maps back over the fresh ones
    val byMin = EdgeListSource.listFiles(root)
      .sortBy(f => EdgeStats.read(f).get.minSrc)
    EdgeStats.write(byMin(0), EdgeStats(1L, 3L, 100L, 300L, 3L))
    EdgeStats.write(byMin(1), EdgeStats(10L, 11L, 1000L, 1100L, 2L))
    val stats = EdgeListSource.listFiles(root).flatMap(EdgeStats.read)
    assert(stats.map(s => (s.minSrc, s.maxSrc)).toSet ===
      Set((1L, 3L), (10L, 11L)), "precondition: maps must still be stale")
    // exhaustive single-point + range sweep over the src/dst domain:
    // every filtered read must equal the truth table's filter
    val srcPoints = (0L to 12L).map(v => (s"src=$v", col("src") === v,
      truth.filter(_._1 == v)))
    val dstPoints = Seq(100L, 200L, 300L, 1000L, 1100L).map(v =>
      (s"dst=$v", col("dst") === v, truth.filter(_._2 == v)))
    val ranges = Seq(
      ("src<=2", col("src") <= 2, truth.filter(_._1 <= 2)),
      ("src>=3", col("src") >= 3, truth.filter(_._1 >= 3)),
      ("src between 2 and 10", col("src").between(2, 10), truth),
      ("dst>=200", col("dst") >= 200, truth.filter(_._2 >= 200)),
      ("dst<1000", col("dst") < 1000, truth.filter(_._2 < 1000)),
      ("src in (2,10)", col("src").isin(2, 10), truth))
    (srcPoints ++ dstPoints ++ ranges).foreach { case (label, cond, want) =>
      val got = spark.read.format(Fmt).load(root).where(cond)
        .as[(Long, Long)].collect().toSet
      assert(got === want, s"filter $label read through stale zone maps")
    }
    // and a second DELETE leaving only a mid-range row in file1:
    // its stale map is now maximally wide relative to the truth
    spark.sql(s"DELETE FROM graft.`$root` WHERE src = 10")
    assert(spark.read.format(Fmt).load(root).where(col("src") === 2)
      .as[(Long, Long)].collect().toSet === Set((2L, 200L)))
    // DELETE then APPEND: fresh sidecar on the new file coexists with
    // the stale one on the rewritten file; the combined read is exact
    Seq((7L, 700L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).mode("append").save(root)
    assert(spark.read.format(Fmt).load(root).where(col("src") >= 2)
      .as[(Long, Long)].collect().toSet === Set((2L, 200L), (7L, 700L)))
  }

  test("overwrite truncate drops the previous generation's sidecars") {
    val root = twoFileTable()
    Seq((50L, 60L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).mode("overwrite").save(root)
    val files = EdgeListSource.listFiles(root)
    assert(files.size === 1)
    val sd = new java.io.File(root, "_stats")
    assert(sd.listFiles().map(_.getName).toSeq ===
      files.map(_.getName + ".zmap"))
    assert(plannedPartitions(root, col("src") === 1) === 0)
  }

  test("pushed aggregate over a skipped file set still merges correctly") {
    val root = twoFileTable()
    val got = spark.read.format(Fmt).load(root)
      .where(col("src") >= 10)
      .agg(count(lit(1)).as("n"), min("dst").as("lo"), max("dst").as("hi"))
      .as[(Long, Long, Long)].head()
    assert(got === ((2L, 1000L, 1100L)))
  }

  test("OPTIMIZE ZORDER turns no-prune append layout into quadrant-pruned files") {
    // 4 appended files, EACH spanning the whole 64x64 key plane
    // ((src+dst)%4 slicing) -> zone maps are useless: every file plans
    // for any point or range query
    val root = Bridge.scratchDir("graftzord").toPath.resolve("edges").toString
    val all = for { s <- 0L until 64L; d <- 0L until 64L } yield (s, d)
    for (slice <- 0 until 4)
      all.filter { case (s, d) => (s + d) % 4 == slice }
        .toDF("src", "dst").coalesce(1)
        .write.format(Fmt).mode("append").save(root)
    assert(EdgeListSource.listFiles(root).size === 4)
    assert(plannedPartitions(root, col("src") === 5 && col("dst") === 7) === 4)
    assert(plannedPartitions(root, col("src") < 32) === 4)

    val before = spark.read.format(Fmt).load(root)
      .as[(Long, Long)].collect().sorted
    val r = graft.io.Compaction.zorderEdgeList(spark, root,
      numFiles = 4, bits = 6)
    assert(r.filesBefore === 4 && r.filesAfter === 4)

    // content identical after the rewrite
    val after = spark.read.format(Fmt).load(root)
      .as[(Long, Long)].collect().sorted
    assert(after.toSeq === before.toSeq)
    // every new file has a fresh sidecar (written by the connector commit)
    val files = EdgeListSource.listFiles(root)
    assert(files.flatMap(EdgeStats.read).size === 4)
    // Morton layout: 4 contiguous z-ranges ≈ the four 32x32 quadrants
    // (repartitionByRange SAMPLES boundaries, so a file edge can sit
    // slightly off the exact quadrant corner and one neighboring file's
    // bounding rectangle may still admit a point) — a point query now
    // plans at most 2 files instead of all 4, half-planes at most 3
    assert(plannedPartitions(root, col("src") === 5 && col("dst") === 7) <= 2)
    assert(plannedPartitions(root, col("src") < 32) <= 3)
    assert(plannedPartitions(root, col("dst") >= 32) <= 3)
    // and pruned reads stay exact
    assert(spark.read.format(Fmt).load(root)
      .where(col("src") === 5 && col("dst") === 7).count() === 1L)
    assert(spark.read.format(Fmt).load(root)
      .where(col("src") < 32).count() === 32L * 64L)
  }
}
