package graft.streaming

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.graftbridge.Bridge

/** Operational-telemetry proofs: the numbers an on-call engineer reads
  * off a 100 TB stream. Late rows beyond the watermark must be DROPPED
  * AND COUNTED (`numRowsDroppedByWatermark`), never silently absorbed;
  * and the RocksDB changelog-checkpointing restart path must rebuild
  * state exactly. */
class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("late rows are dropped AND surface in numRowsDroppedByWatermark") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val us = 1000000L
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val events = ms.toDF().select(col("_1").as("user_id"),
      col("_2").as("event_type"), timestamp_micros(col("_3")).as("tts"))
    val agg = events
      .withWatermark("tts", "10 seconds")
      .groupBy(window(col("tts"), "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("obs_late")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: events around t=1000s; watermark advances to 990s
      ms.addData((1L, "a", 1000L * us), (2L, "a", 1001L * us))
      q.processAllAvailable()
      // batch 2: a row at t=100s — far below the watermark
      ms.addData((3L, "a", 100L * us), (4L, "a", 1002L * us))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"late row not counted as dropped (sum=$dropped)")
      // and it truly didn't land in any window
      ms.addData((9L, "a", 2000L * us)) // push watermark; flush windows
      q.processAllAvailable()
      val lateWindow = spark.table("obs_late").where(col("ws") === 100L * us)
      assert(lateWindow.isEmpty, "late row was absorbed into a window")
    } finally q.stop()
  }

  test("RocksDB changelog checkpointing survives a restart exactly") {
    val dir = "/root/testdata/sf0.001"
    val root = Bridge.scratchDir("graft_rdb_restart")
    val (src, sink, ckpt) = (new java.io.File(root, "src"),
      new java.io.File(root, "sink"), new java.io.File(root, "ckpt"))
    src.mkdirs()
    // stage the 4 time-sorted slices; phase 1 sees only the first two
    val staged = new java.io.File(EventStreams.stagedEventsDir(spark, dir))
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def run(): Unit = {
      val prev = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      try {
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        val in = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getPath)
        val q = EventStreams.windowedAgg(in)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt.getPath)
          .option("path", sink.getPath)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(v) => spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
    staged.take(2).foreach { f =>
      val d = new java.io.File(src, f.getName)
      java.nio.file.Files.copy(f.toPath, d.toPath)
      d.setLastModified(f.lastModified())
    }
    run() // phase 1, then STOP
    staged.drop(2).foreach { f =>
      val d = new java.io.File(src, f.getName)
      java.nio.file.Files.copy(f.toPath, d.toPath)
      d.setLastModified(f.lastModified())
    }
    run() // restart from the RocksDB changelog checkpoint

    // the restarted union must equal an uninterrupted default-provider drain
    val got = spark.read.parquet(sink.getPath)
      .select("win_start_us", "event_type", "cnt", "total_cents")
    val q2 = EventStreams.runToMemory(
      EventStreams.windowedAgg(EventStreams.readEvents(spark, dir)),
      "obs_rdb_ref", OutputMode.Append)
    q2.stop()
    val ref = spark.table("obs_rdb_ref")
      .select("win_start_us", "event_type", "cnt", "total_cents")
    assert(got.count() == ref.count() && got.except(ref).isEmpty &&
      ref.except(got).isEmpty,
      "RocksDB changelog restart diverged from the uninterrupted drain")
  }
}
