package graft.sources

import java.nio.file.Files

import graft.testkit.SparkSpec
import org.apache.spark.sql.graftbridge.Bridge

/** Snapshot manifests + time travel: every connector commit records a
  * `_graft_log` manifest; pinned reads (option / SQL VERSION AS OF /
  * TIMESTAMP AS OF) replay exactly the recorded file set, stay stable
  * under later appends, and fail with the explicit rewritten-snapshot
  * story after DELETE / zorder replaced a recorded file. */
class EdgeListTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
  private val fmt = "graft.sources.EdgeListSource"

  private def freshDir(): java.io.File =
    Bridge.scratchDir("graft_tt").toPath.resolve("edges").toFile

  private def write(dir: java.io.File, rows: Seq[(Long, Long)],
      mode: String = "append"): Unit =
    rows.toDF("src", "dst").coalesce(1)
      .write.format(fmt).mode(mode).save(dir.getPath)

  private def readV(dir: java.io.File, v: Int): Set[(Long, Long)] =
    spark.read.format(fmt).option("versionAsOf", v).load(dir.getPath)
      .as[(Long, Long)].collect().toSet

  test("appends create versions; pinned reads are stable under later appends") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L), (3L, 4L)))
    val v0 = EdgeLog.currentVersion(dir).get
    write(dir, Seq((5L, 6L)))
    val v1 = EdgeLog.currentVersion(dir).get
    assert(v1 == v0 + 1)
    assert(readV(dir, v0) == Set((1L, 2L), (3L, 4L)))
    assert(readV(dir, v1) == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    // latest (unpinned) read tracks the live table
    write(dir, Seq((7L, 8L)))
    assert(spark.read.format(fmt).load(dir.getPath).count() == 4L)
    assert(readV(dir, v0) == Set((1L, 2L), (3L, 4L))) // still stable
    // the pin shows up in the plan description
    val desc = spark.read.format(fmt).option("versionAsOf", v0)
      .load(dir.getPath).queryExecution.executedPlan.toString
    assert(desc.contains(s"VersionAsOf: $v0"))
  }

  test("SQL VERSION AS OF and TIMESTAMP AS OF through the catalog") {
    val dir = freshDir()
    val t = s"graft.`$dir`"
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2), (3, 4)")
    val v0 = EdgeLog.currentVersion(dir).get
    Thread.sleep(1100) // TIMESTAMP AS OF resolves on manifest mtime (s granularity on some filesystems)
    val cut = java.time.Instant.now()
    Thread.sleep(1100)
    spark.sql(s"INSERT INTO $t VALUES (5, 6)")
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $v0")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L)))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 3L)
    assert(spark.sql(
        s"SELECT * FROM $t TIMESTAMP AS OF '${java.sql.Timestamp.from(cut)}'")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L)))
    // writes to a pinned snapshot are refused
    val e = intercept[Exception](
      spark.sql(s"DELETE FROM $t VERSION AS OF $v0 WHERE src = 1"))
    assert(e.getMessage != null)
  }

  test("DELETE commits a new version and invalidates rewritten snapshots explicitly") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L), (3L, 4L)))
    write(dir, Seq((5L, 6L)))
    val vBefore = EdgeLog.currentVersion(dir).get
    val t = s"graft.`$dir`"
    spark.sql(s"DELETE FROM $t WHERE src = 1") // rewrites file 1 only
    assert(EdgeLog.currentVersion(dir).get == vBefore + 1)
    // latest version reads the post-delete table
    assert(readV(dir, vBefore + 1) == Set((3L, 4L), (5L, 6L)))
    // the pre-delete snapshot's file was rewritten in place -> the
    // pinned read must fail with the story, never mix eras
    val e = intercept[Exception](readV(dir, vBefore))
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("was rewritten")), s"got: $e")
  }

  test("zorder keeps version history; old numbers resolve to the explicit story") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)))
    val vOld = EdgeLog.currentVersion(dir).get
    graft.io.Compaction.zorderEdgeList(spark, dir.getPath, numFiles = 2,
      bits = 4)
    val vNew = EdgeLog.currentVersion(dir).get
    assert(vNew > vOld) // history carried across the swap, not reset
    assert(readV(dir, vNew) == Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)))
    val e = intercept[Exception](readV(dir, vOld))
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      (c.getMessage.contains("was removed") ||
        c.getMessage.contains("was rewritten"))), s"got: $e")
  }

  test("streaming epochs commit versions; replay does not duplicate them") {
    val dir = freshDir()
    val src = Bridge.scratchDir("graft_tt_src")
    write(src, Seq((1L, 2L)))
    write(src, Seq((3L, 4L)))
    val ckpt = Bridge.scratchDir("graft_tt_ckpt")
    val q = spark.readStream.format(fmt)
      .option("maxFilesPerTrigger", "1").load(src.getPath)
      .writeStream.format(fmt)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dir.getPath)
    q.awaitTermination()
    val vs = EdgeLog.versions(dir)
    assert(vs.nonEmpty)
    // the earliest epoch snapshot holds a strict subset
    assert(readV(dir, vs.head).subsetOf(Set((1L, 2L), (3L, 4L))))
    assert(readV(dir, vs.last) == Set((1L, 2L), (3L, 4L)))
  }

  test("changes feed returns exactly the window's appends; rewrites fail it") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    val v0 = EdgeLog.currentVersion(dir).get
    write(dir, Seq((3L, 4L)))
    val v1 = EdgeLog.currentVersion(dir).get
    write(dir, Seq((5L, 6L)))
    val v2 = EdgeLog.currentVersion(dir).get
    def changes(from: Int, to: Option[Int]): Set[(Long, Long)] = {
      val rd = spark.read.format(fmt).option("changesFromVersion", from)
      to.fold(rd)(v => rd.option("versionAsOf", v)).load(dir.getPath)
        .as[(Long, Long)].collect().toSet
    }
    assert(changes(v0, Some(v1)) == Set((3L, 4L)))
    assert(changes(v0, Some(v2)) == Set((3L, 4L), (5L, 6L)))
    assert(changes(v1, None) == Set((5L, 6L))) // to = current
    assert(changes(v2, Some(v2)) == Set.empty[(Long, Long)])
    // same-window read is REPEATABLE after further appends
    write(dir, Seq((7L, 8L)))
    assert(changes(v0, Some(v1)) == Set((3L, 4L)))
    // a DELETE inside the window breaks append-only -> explicit error
    spark.sql(s"DELETE FROM graft.`$dir` WHERE src = 1")
    val vDel = EdgeLog.currentVersion(dir).get
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    val e = intercept[Exception](changes(v0, Some(vDel)))
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("not append-only")), s"got: $e")
    // a window strictly AFTER the delete is append-only again
    write(dir, Seq((9L, 10L)))
    assert(changes(vDel, None) == Set((9L, 10L)))
    // the SQL face agrees: bounded window and open-ended window
    assert(spark.sql(s"SELECT src, dst FROM graft_changes('$dir', $v0, $v1)")
      .as[(Long, Long)].collect().toSet == Set((3L, 4L)))
    assert(spark.sql(s"SELECT src, dst FROM graft_changes('$dir', $vDel)")
      .as[(Long, Long)].collect().toSet == Set((9L, 10L)))
  }

  test("history lists every version with file counts and sizes") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    write(dir, Seq((3L, 4L), (5L, 6L)))
    val h = EdgeLog.history(dir)
    assert(h.map(_._1) == EdgeLog.versions(dir))
    assert(h.last._3 == 2) // two data files at the head version
    assert(h.map(_._2).sliding(2).forall { case Seq(a, b) => a <= b
      case _ => true })
    assert(h.last._4 > h.head._4) // bytes grew with the append
    // the SQL face: SELECT * FROM graft_history('path')
    val viaSql = spark.sql(
      s"SELECT version, n_files, bytes FROM graft_history('$dir')")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaSql == h.map(x => (x._1, x._3, x._4)))
  }

  test("a committer losing the version-number race retries with the next number") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L))) // v0
    // simulate a concurrent committer that already claimed v1: the
    // no-replace rename must lose and retry onto v2
    val stolen = new java.io.File(new java.io.File(dir, "_graft_log"),
      "v00000001.manifest")
    java.nio.file.Files.write(stolen.toPath, Array.emptyByteArray)
    val v = EdgeLog.commit(dir)
    assert(v == 2)
    assert(EdgeLog.versions(dir) == Seq(0, 1, 2))
    // the retried manifest records the real file set
    assert(readV(dir, 2) == Set((1L, 2L)))
  }

  test("unknown version and pre-log directories fail with clear errors") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    val e1 = intercept[Exception](readV(dir, 99))
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot version 99")))
    // a directory written outside the connector has no log
    val raw = Bridge.scratchDir("graft_tt_raw")
    java.nio.file.Files.write(new java.io.File(raw, "e.txt").toPath,
      "1 2\n".getBytes("UTF-8"))
    val e2 = intercept[Exception] {
      spark.read.format(fmt).option("versionAsOf", 0).load(raw.getPath)
        .collect()
    }
    assert(chain(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot version 0")))
  }

  test("timestampAsOf and changesFromTimestamp options resolve via versionAt") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    val v0 = EdgeLog.currentVersion(dir).get
    // manifests are published with wall-clock mtimes; pin v0's instant
    val t0us = new java.io.File(new java.io.File(dir, EdgeLog.LogDirName),
      f"v$v0%08d.manifest").lastModified() * 1000L
    Thread.sleep(1100) // separate the commits on the seconds axis
    write(dir, Seq((3L, 4L)))
    val pinned = spark.read.format(fmt).option("timestampAsOf", t0us)
      .load(dir.getPath).as[(Long, Long)].collect().toSet
    assert(pinned == Set((1L, 2L)), s"timestampAsOf read $pinned")
    val changed = spark.read.format(fmt)
      .option("changesFromTimestamp", t0us)
      .load(dir.getPath).as[(Long, Long)].collect().toSet
    assert(changed == Set((3L, 4L)), s"changesFromTimestamp read $changed")
    // an instant before any commit fails with the committed-versions story
    val e = intercept[Exception] {
      spark.read.format(fmt).option("timestampAsOf", 0L)
        .load(dir.getPath).collect()
    }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot")))
  }

  test("vacuum retains the newest N versions; dropped pins fail, current reads hold") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    write(dir, Seq((3L, 4L)))
    write(dir, Seq((5L, 6L)))
    val vs = EdgeLog.versions(dir)
    assert(vs.size == 3)
    val removed = EdgeLog.vacuum(dir, retainLast = 2)
    assert(removed == Seq(vs.head))
    assert(EdgeLog.versions(dir) == vs.tail)
    // retained pins still read; the dropped one fails with the story
    assert(readV(dir, vs(1)) == Set((1L, 2L), (3L, 4L)))
    assert(readV(dir, vs(2)) == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    val e = intercept[Exception](readV(dir, vs.head))
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains(s"no snapshot version ${vs.head}")))
    // current (unpinned) read and new commits are unaffected
    assert(spark.read.format(fmt).load(dir.getPath).count() == 3L)
    write(dir, Seq((7L, 8L)))
    assert(EdgeLog.currentVersion(dir).get == vs.last + 1)
    // idempotent floor: retaining at least everything is a no-op, and
    // retainLast < 1 is rejected
    assert(EdgeLog.vacuum(dir, retainLast = 10).isEmpty)
    intercept[IllegalArgumentException](EdgeLog.vacuum(dir, 0))
  }

  test("vacuumOlderThan keeps the version TIMESTAMP AS OF the cutoff resolves to") {
    val dir = freshDir()
    write(dir, Seq((1L, 2L)))
    Thread.sleep(1100)
    write(dir, Seq((3L, 4L)))
    Thread.sleep(1100)
    // cutoff sits between commits 2 and 3: v1 and v2 are both "before"
    // but v2 is what TIMESTAMP AS OF cutoff resolves to — it must stay
    val cutoffUs = System.currentTimeMillis() * 1000L
    Thread.sleep(1100)
    write(dir, Seq((5L, 6L)))
    val vs = EdgeLog.versions(dir)
    val removed = EdgeLog.vacuumOlderThan(dir, cutoffUs)
    assert(removed == Seq(vs.head), s"removed $removed of $vs")
    assert(EdgeLog.versionAt(dir, cutoffUs) == vs(1))
    assert(readV(dir, vs(1)) == Set((1L, 2L), (3L, 4L)))
    // a cutoff before every commit removes nothing
    assert(EdgeLog.vacuumOlderThan(dir, 0L).isEmpty)
  }
}
