package graft.sources

import java.nio.file.Files

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.graftbridge.Bridge

/** The connector's streaming sink must be exactly-once under Spark's
  * epoch-replay contract: a failed micro-batch re-runs with the same
  * epoch id, and neither the replay of a fully-committed epoch nor the
  * recovery of a half-committed one may duplicate or lose a row. */
class EdgeListSinkSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.EdgeListSource"

  private def tmpDir(tag: String): String = {
    val d = Bridge.scratchDir(s"graft_sink_$tag").toPath
    d.toString
  }

  private def readBack(path: String): Set[(Long, Long)] =
    spark.read.format(Fmt).load(path)
      .as[(Long, Long)].collect().toSet

  test("streaming sink end-to-end: three micro-batches, three epochs, no dup/loss") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val out = tmpDir("e2e")
    val q = ms.toDF().select(col("_1").as("src"), col("_2").as("dst"))
      .writeStream.format(Fmt)
      .option("checkpointLocation", tmpDir("e2e_ckpt"))
      .outputMode("append")
      .start(out)
    try {
      ms.addData((1L, 2L), (3L, 4L)); q.processAllAvailable()
      ms.addData((5L, 6L)); q.processAllAvailable()
      ms.addData((7L, 8L), (9L, 10L)); q.processAllAvailable()
    } finally q.stop()
    assert(readBack(out) == Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L)))
    val markers = new java.io.File(out, "_graft_commits").listFiles().map(_.getName).sorted
    assert(markers.toSeq == Seq("_0", "_1", "_2"), markers.toSeq.toString)
    // a sink directory re-consumes as a stream: offset contract held
    val snap = graft.streaming.EventStreams.runToMemory(
      spark.readStream.format(Fmt).load(out).groupBy("src").count(),
      "sink_restream", org.apache.spark.sql.streaming.OutputMode.Complete)
    snap.stop()
    assert(spark.table("sink_restream").count() == 5)
  }

  private def tempEdgeFile(dir: String, rows: Seq[(Long, Long)]): String = {
    val f = java.io.File.createTempFile(".sink", ".tmp", new java.io.File(dir))
    val w = new java.io.PrintWriter(f)
    rows.foreach { case (s, d) => w.println(s"$s $d") }
    w.close()
    f.getAbsolutePath
  }

  test("replay of a fully-committed epoch is a no-op (marker short-circuit)") {
    val out = tmpDir("replay")
    val w = new EdgeListStreamingWrite(out)
    w.commit(7L, Array[WriterCommitMessage](
      EdgeFileCommit(Seq((tempEdgeFile(out, Seq((1L, 2L), (3L, 4L))), None)))))
    val after1 = readBack(out)
    // the replay arrives with ITS OWN fresh temp files (same rows)
    w.commit(7L, Array[WriterCommitMessage](
      EdgeFileCommit(Seq((tempEdgeFile(out, Seq((1L, 2L), (3L, 4L))), None)))))
    assert(readBack(out) == after1 && after1 == Set((1L, 2L), (3L, 4L)))
    assert(new java.io.File(out).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".txt")) == 1)
  }

  test("half-committed epoch (files visible, no marker) is unpublished then replayed") {
    val out = tmpDir("half")
    val w = new EdgeListStreamingWrite(out)
    // simulate a crash after one rename of epoch 3, before the marker:
    // a stale partial with rows the replay will NOT produce
    val stale = new java.io.File(out, "part-0000000000001-e3-00000.txt")
    Files.write(stale.toPath, "99 99\n".getBytes)
    w.commit(3L, Array[WriterCommitMessage](
      EdgeFileCommit(Seq((tempEdgeFile(out, Seq((5L, 6L))), None)))))
    assert(readBack(out) == Set((5L, 6L)), "stale partial epoch survived replay")
    assert(!stale.exists())
  }

  test("complete output mode is rejected loudly") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = ms.toDF().select(col("_1").as("src"), col("_2").as("dst"))
      .groupBy("src").agg(max("dst").as("dst"))
      .writeStream.format(Fmt)
      .option("checkpointLocation", tmpDir("cm_ckpt"))
      .outputMode("complete")
    val e = intercept[Exception] {
      val qq = q.start(tmpDir("cm"))
      try { ms.addData((1L, 2L)); qq.processAllAvailable() } finally qq.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("Append output only")),
      s"unexpected failure: $e")
  }

  test("idempotencyMarker: replayed batch append is a no-op; half-commit is unpublished by its tag") {
    import spark.implicits._
    val out = tmpDir("idem")
    val base = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    base.coalesce(1).write.format(Fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(out)
    val batch = Seq((5L, 6L), (7L, 8L)).toDF("src", "dst")
    def append(): Unit = batch.coalesce(1).write.format(Fmt)
      .option("idempotencyMarker", "b17").mode("append").save(out)
    append()
    assert(readBack(out) == Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)))
    assert(new java.io.File(out, "_graft_commits/_m_b17").isFile)
    // replay of the fully-committed batch: NOTHING duplicates
    append()
    assert(readBack(out) == Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)))
    // half-commit recovery: simulate a crash that published tagged
    // files but never dropped the marker for token b18
    val b = graft.sources.BucketHash.bucket(9L, 4)
    java.nio.file.Files.write(
      new java.io.File(out, f"part-9999999999999-00000-0-mb18-b$b.txt").toPath,
      "9 10\n".getBytes("UTF-8"))
    assert(readBack(out).contains((9L, 10L))) // the partial is visible...
    Seq((9L, 10L), (11L, 12L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).option("idempotencyMarker", "b18")
      .mode("append").save(out)
    // ...until the replay unpublishes it and lands the complete set once
    val rows = spark.read.format(Fmt).load(out)
      .as[(Long, Long)].collect().toSeq
    assert(rows.sorted == Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L),
      (9L, 10L), (11L, 12L)))
    // the layout survived all of it: every file tagged, sidecar sorted
    graft.sources.EdgeListSource.listFiles(out).foreach(f =>
      assert(BucketSpecIO.bucketOf(f.getName).exists(_ < 4), f.getName))
    assert(BucketSpecIO.sortedOf(out))
    // token hygiene: regex-hostile tokens are rejected loudly
    val e = intercept[Exception] {
      batch.write.format(Fmt).option("idempotencyMarker", "a.b*")
        .mode("append").save(out)
    }
    assert(e.getMessage.contains("idempotencyMarker"))
  }

  test("overwrite resets markers: a stale pre-overwrite token cannot discard a later append") {
    import spark.implicits._
    val out = tmpDir("stale_token")
    // a token commits before the overwrite (e.g. foreachBatch id 17)
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1).write.format(Fmt)
      .option("idempotencyMarker", "b17").mode("append").save(out)
    // streaming sink epochs leave markers too
    java.nio.file.Files.write(
      new java.io.File(out, "_graft_commits/_5").toPath,
      Array.emptyByteArray)
    // the overwrite RESETS commit history: all markers must die with it
    Seq((10L, 20L)).toDF("src", "dst").coalesce(1).write.format(Fmt)
      .mode("overwrite").save(out)
    val commits = new java.io.File(out, "_graft_commits")
    assert(!commits.isDirectory ||
      commits.listFiles().count(_.isFile) === 0)
    // a post-overwrite append reusing the pre-overwrite token (replayed
    // batch id after a checkpoint reset) must LAND, not be discarded
    Seq((30L, 40L)).toDF("src", "dst").coalesce(1).write.format(Fmt)
      .option("idempotencyMarker", "b17").mode("append").save(out)
    assert(readBack(out) === Set((10L, 20L), (30L, 40L)))
    // and an overwrite CARRYING a stale token must land too (overwrite
    // is naturally idempotent — the marker fence applies to appends)
    Seq((50L, 60L)).toDF("src", "dst").coalesce(1).write.format(Fmt)
      .option("idempotencyMarker", "b17").mode("overwrite").save(out)
    assert(readBack(out) === Set((50L, 60L)))
  }

  test("marker-before-manifest: a crash between them heals on replay without breaking time travel") {
    import spark.implicits._
    val out = tmpDir("mkr_order")
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1).write.format(Fmt)
      .mode("overwrite").save(out)
    val root = new java.io.File(out)
    val v0 = EdgeLog.currentVersion(root).get
    def append(): Unit = Seq((3L, 4L)).toDF("src", "dst").coalesce(1)
      .write.format(Fmt).option("idempotencyMarker", "m9")
      .mode("append").save(out)
    append()
    val v1 = EdgeLog.currentVersion(root).get
    assert(v1 === v0 + 1)
    // simulate the crash window: marker landed, manifest did not
    assert(new java.io.File(out, "_graft_commits/_m_m9").isFile)
    java.nio.file.Files.delete(
      new java.io.File(out, f"_graft_log/v$v1%08d.manifest").toPath)
    assert(EdgeLog.currentVersion(root).get === v0)
    // the replay must NOT unpublish the committed files (the marker
    // proves the write completed) — it re-commits the missing manifest
    append()
    assert(readBack(out) === Set((1L, 2L), (3L, 4L)))
    val v2 = EdgeLog.currentVersion(root).get
    assert(v2 === v0 + 1)
    // the healed snapshot is a valid time-travel target
    assert(spark.read.format(Fmt).option("versionAsOf", v2).load(out)
      .as[(Long, Long)].collect().toSet === Set((1L, 2L), (3L, 4L)))
    // and a SECOND replay of the same token mints no duplicate version
    append()
    assert(EdgeLog.currentVersion(root).get === v2)
    assert(readBack(out) === Set((1L, 2L), (3L, 4L)))
  }

  test("bucketed fanout past the open-handle cap: LRU suspend/append-reopen loses nothing") {
    // 300 buckets > MaxOpenSinks (128) in ONE task, keys interleaved so
    // every bucket is revisited after eviction — the worst thrash shape
    assert(EdgeFileWriter.MaxOpenSinks < 300)
    val out = tmpDir("fanout")
    val edges = (0L until 3000L).map(i => (i % 300, i))
    edges.toDF("src", "dst").coalesce(1)
      .write.format(Fmt)
      .option("bucketBy", "src").option("numBuckets", "300")
      .mode("overwrite").save(out)
    assert(readBack(out) == edges.toSet.map((t: (Long, Long)) => t))
    // every committed file is bucket-tagged and holds only its bucket
    val files = EdgeListSource.listFiles(out)
    assert(files.nonEmpty)
    files.foreach { f =>
      val b = BucketSpecIO.bucketOf(f.getName)
      assert(b.isDefined, f.getName)
      scala.io.Source.fromFile(f).getLines().foreach { ln =>
        val k = ln.split(" ")(0).toLong
        assert(BucketHash.bucket(k, 300) == b.get, s"$k in ${f.getName}")
      }
    }
  }
}
