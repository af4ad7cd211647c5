package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.hadoop.fs.Path

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB corpus needs: streaming ingests, per-trigger micro-batch
  * sinks, and fine-grained incremental refreshes all accrete files far
  * below the scan-efficient size, and a 10k-file table pays file-listing
  * latency, per-file open cost, and footer reads on every query.
  *
  * The rewrite is size-aware, not count-aware: the target file count is
  * `ceil(on-disk bytes / targetFileBytes)`, so compaction is idempotent
  * (a compacted table maps to the same count) and never builds
  * memory-breaking giant partitions from a count-based `coalesce(1)`
  * guess. `repartition` (round-robin exchange) rather than `coalesce` so
  * skewed input files cannot produce skewed output files; for sorted /
  * Z-ordered layouts use [[ZOrder.layoutBy]] directly — it already
  * range-partitions to a file count.
  *
  * The rewrite goes through a sibling temp dir + atomic-ish swap, never
  * read-overwrite-in-place on the same path (Spark would delete the
  * input mid-scan under overwrite mode).
  */
object Compaction {

  final case class Report(filesBefore: Int, filesAfter: Int,
      bytes: Long, targetFileBytes: Long)

  private def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Buffer[(String, Long)]()
    // a file nested under a metadata directory (_stats zone maps,
    // _graft_commits markers) is not data even when its own name is
    // plain — check every path component below `dir`
    val rootPath = fs.makeQualified(p).toUri.getPath
    def underHidden(path: Path): Boolean = {
      var q = path.getParent
      while (q != null && q.toUri.getPath != rootPath) {
        val n = q.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        q = q.getParent
      }
      false
    }
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !underHidden(f.getPath))
        out += ((f.getPath.toString, f.getLen))
    }
    out.toSeq
  }

  /** Compact the parquet table at `dir` toward `targetFileBytes` per
    * file. Returns the before/after report. No-op (no rewrite at all)
    * when the table already has the target count. */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20): Report = {
    val files = dataFiles(spark, dir)
    val bytes = files.map(_._2).sum
    val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (files.length <= want)
      return Report(files.length, files.length, bytes, targetFileBytes)

    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(p.getParent, s".${p.getName}__compact_tmp")
    val bak = new Path(p.getParent, s".${p.getName}__compact_old")
    fs.delete(tmp, true); fs.delete(bak, true)
    // mergeSchema: a long-lived corpus EVOLVES (columns added over
    // time); the default schema-from-first-file read would silently drop
    // newer columns from the rewrite. A maintenance pass already reads
    // every footer, so the merge costs nothing extra here — and the
    // rewritten table is schema-uniform afterwards.
    spark.read.option("mergeSchema", "true").parquet(dir).repartition(want)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // swap: old table aside, tmp in place, old dropped — the window
    // where `dir` is absent is two renames; a maintenance pass owns the
    // table during compaction by contract (same as any table rewrite)
    if (!fs.rename(p, bak)) sys.error(s"compaction: cannot move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // restore
      sys.error(s"compaction: cannot move rewritten table into $p")
    }
    fs.delete(bak, true)
    Report(files.length, dataFiles(spark, dir).length, bytes, targetFileBytes)
  }

  /** A catalog-created weighted/labeled table records its extra column
    * in `_graft_meta`; rewrites must read AND write that schema (a
    * plain-format read of 3-token lines is malformed) and carry the
    * sidecar across the swap ([[swapWithLogHistory]] does). */
  private def extraColOption(dir: String): Option[String] = {
    val m = new java.io.File(dir, "_graft_meta")
    if (!m.isFile) None
    else new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim match {
      case "weight" => Some("withWeight")
      case "label" => Some("withLabel")
      case _ => None
    }
  }

  /** [[compactParquet]] for an edge-list directory written by the
    * connector's streaming sink — the natural companion op: every epoch
    * commit lands ≥ 1 small file, and a long-lived sink accretes
    * thousands. Same size-aware count, same temp-dir + swap (never
    * read-overwrite-in-place). The `_graft_commits` epoch markers are
    * DROPPED with the old files: they exist to dedupe epoch replays of
    * a live query, and compaction is only legal on a CLOSED sink (no
    * writer running — same ownership contract as any table rewrite);
    * a reader consuming the dir as a stream must also restart from a
    * fresh offset, since compaction rewrites the file list. */
  def compactEdgeList(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20): Report = {
    val fmt = "graft.sources.EdgeListSource"
    val files = dataFiles(spark, dir)
    val bytes = files.map(_._2).sum
    // LAYOUT-PRESERVING on bucketed tables: a bucketed table's
    // compaction problem is files-PER-BUCKET (every append adds up to
    // one file per bucket per task; the sorted merge reader holds one
    // stream per file), and dropping the paid-for layout to fix it
    // would trade a handle bound for a full re-shuffle on the next
    // join. The rewrite goes back through the connector's own bucketed
    // (and therefore sorted) write: task count sized so tasks×buckets
    // tracks the byte target, sidecar and tags re-created by the write
    // itself, SPJ/ordering intact afterwards.
    val layout = graft.sources.BucketSpecIO.read(dir)
    val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val done = layout match {
      // fully compacted bucketed table = one file per bucket (or grid
      // cell) per needed task group
      case Some(sp) =>
        files.length <= math.max(graft.sources.BucketSpecIO.totalCells(sp), want)
      case None => files.length <= want
    }
    if (done)
      return Report(files.length, files.length, bytes, targetFileBytes)

    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(p.getParent, s".${p.getName}__compact_tmp")
    val bak = new Path(p.getParent, s".${p.getName}__compact_old")
    fs.delete(tmp, true); fs.delete(bak, true)
    val opt = extraColOption(dir)
    val rd = opt.foldLeft(spark.read.format(fmt))(_.option(_, "true"))
    val wr = layout match {
      case Some(sp @ (col, n)) =>
        val tasks = math.max(1, math.round(want.toDouble /
          graft.sources.BucketSpecIO.totalCells(sp)).toInt)
        opt.foldLeft(rd.load(dir).repartition(tasks).write.format(fmt))(
            _.option(_, "true"))
          .option("bucketBy", col).option("numBuckets", n.toString)
      case None =>
        opt.foldLeft(rd.load(dir).repartition(want).write.format(fmt))(
          _.option(_, "true"))
    }
    wr.mode(SaveMode.Overwrite).save(tmp.toString)
    swapWithLogHistory(fs, p, tmp, bak, "compaction")
    Report(files.length, dataFiles(spark, dir).length, bytes, targetFileBytes)
  }

  /** Shared table swap for full rewrites (compaction / zorder) that
    * keeps the snapshot log's HISTORY: the rewrite's own tmp-side
    * manifest (a v0 of the new layout) is dropped, the table's log
    * moves back in across the swap, and the rewrite commits as the
    * NEXT version — so pre-rewrite version numbers stay resolvable
    * (reading one fails with the explicit rewritten-snapshot story,
    * not an unknown-version error). */
  private def swapWithLogHistory(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, tmp: Path, bak: Path, what: String): Unit = {
    import graft.sources.EdgeLog
    fs.delete(new Path(tmp, EdgeLog.LogDirName), true)
    if (!fs.rename(p, bak)) sys.error(s"$what: cannot move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // restore
      sys.error(s"$what: cannot move rewritten table into $p")
    }
    val oldLog = new Path(bak, EdgeLog.LogDirName)
    if (fs.exists(oldLog)) fs.rename(oldLog, new Path(p, EdgeLog.LogDirName))
    // the catalog's extra-column sidecar survives the rewrite too
    val oldMeta = new Path(bak, "_graft_meta")
    if (fs.exists(oldMeta)) fs.rename(oldMeta, new Path(p, "_graft_meta"))
    fs.delete(bak, true)
    EdgeLog.commit(new java.io.File(p.toUri.getPath))
    ()
  }

  /** OPTIMIZE ZORDER for the edge-list connector table: rewrite the
    * table laid out on the Morton curve of (src, dst), so every data
    * file covers a small RECTANGLE of the key plane and the per-file
    * zone-map sidecars (`_stats/<file>.zmap`) become selective on
    * either column or both at once — where append-order files each
    * span the whole domain and prune nothing. This is the maintenance
    * pass that turns the connector's min/max skipping from "free when
    * writes happened to cluster" into "guaranteed by layout": at
    * 100 TB the scan cost of `src = k` drops from every-file to the
    * z-range slivers containing k. Same temp-dir + rename-swap (and
    * the same single-writer contract) as [[compactEdgeList]]; sidecars
    * for the new files are written by the connector commit itself.
    * On a BUCKETED table the pass is BUCKET-LOCAL (round 13): rows are
    * range-split on (bucket, z) — each rewrite task holds one bucket's
    * contiguous z-slice — and written back THROUGH the connector's
    * bucketed write, so the `_graft_buckets` sidecar, the `-b<k>` tags,
    * the sorted flag, and therefore the exchange-free SPJ all survive,
    * while every bucket file now covers a small (src, dst) rectangle
    * and the zone maps prune on both dimensions. Z-locality is a
    * FILE-granular property (zone maps are per-file min/max), so the
    * write path's in-file ascending-src sort — the merge-read
    * contract — costs the skipping nothing. The 100 TB table keeps
    * BOTH layouts: the join rides the buckets, the 2-dim filter rides
    * the curve. (Effective file floor on a bucketed table is one file
    * per non-empty bucket; a `numFiles` below the bucket count cannot
    * merge across buckets.)
    * @param bits per-column bit budget (keys clamped to [0, 2^bits)) */
  def zorderEdgeList(spark: SparkSession, dir: String, numFiles: Int,
      bits: Int = 20): Report = {
    require(numFiles > 0, "zorderEdgeList: numFiles must be positive")
    val fmt = "graft.sources.EdgeListSource"
    val files = dataFiles(spark, dir)
    val bytes = files.map(_._2).sum
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(p.getParent, s".${p.getName}__zorder_tmp")
    val bak = new Path(p.getParent, s".${p.getName}__zorder_old")
    fs.delete(tmp, true); fs.delete(bak, true)
    val opt = extraColOption(dir)
    val rd = opt.foldLeft(spark.read.format(fmt))(_.option(_, "true"))
    graft.sources.BucketSpecIO.read(dir) match {
      case Some((bcol, n)) =>
        // bucket-local: slice the z-curve WITHIN each bucket. The row's
        // bucket comes from its file tag (`_file` metadata column) —
        // exact, and no driver-side re-hash; the range exchange on
        // (bucket, z) makes each task one bucket's z-slice, and the
        // bucketed fanout write re-tags and re-sorts it in place.
        val base = rd.load(dir)
        val bc = Iterator.from(0).map(i => s"__zb$i")
          .find(c => !base.columns.contains(c)).get
        val zc = Iterator.from(0).map(i => s"__zv$i")
          .find(c => !base.columns.contains(c)).get
        val laid = ZOrder.withExactRangeSampling(base.select(col("*"), col("_file"))
          .withColumn(bc,
            regexp_extract(col("_file"), "-b(\\d+)\\.txt$", 1).cast("int"))
          .drop("_file")
          .withColumn(zc,
            ZOrder.zValueClamped(Seq(col("src"), col("dst")), bits))
          .repartitionByRange(math.max(numFiles, n), col(bc), col(zc))
          .drop(bc, zc))
        opt.foldLeft(laid.write.format(fmt))(_.option(_, "true"))
          .option("bucketBy", bcol).option("numBuckets", n.toString)
          .mode(SaveMode.Overwrite).save(tmp.toString)
      case None =>
        val laid = ZOrder.withExactRangeSampling(ZOrder.layoutBy(rd.load(dir),
          Seq(col("src"), col("dst")), bits, numFiles))
        opt.foldLeft(laid.write.format(fmt))(_.option(_, "true"))
          .mode(SaveMode.Overwrite).save(tmp.toString)
    }
    swapWithLogHistory(fs, p, tmp, bak, "zorder")
    Report(files.length, dataFiles(spark, dir).length, bytes, bytes)
  }
}
