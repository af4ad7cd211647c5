package graft.streaming

import graft.testkit.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** Checkpoint/restart fault-tolerance proof: a watermarked stateful
  * aggregation is stopped mid-stream and RESTARTED from its checkpoint,
  * and the union of what both runs emitted must equal a never-stopped
  * drain — no lost windows, no duplicates. This is the property a
  * multi-day 100 TB ingest actually relies on (executors die, jobs
  * redeploy); the state store must rehydrate open windows (phase-1 rows
  * inside them) and the file-source log must not re-read consumed files.
  * The parquet sink's _spark_metadata commit log is what makes the
  * output exactly-once — spark.read honors it, ignoring any orphan
  * files from aborted batches. */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  // four time-contiguous one-file slices, mtime-ordered (the
  // FileStreamSource processes oldest-first)
  private def stageSlices(target: java.io.File): Seq[java.io.File] = {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val n = ev.count()
    val ranked = ev.withColumn("__rn",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))))
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    (0 until 4).map { k =>
      val stage = new java.io.File(target, s"_stage$k")
      ranked.where(col("__rn") > k * n / 4 && col("__rn") <= (k + 1) * n / 4)
        .drop("__rn").coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val slice = new java.io.File(target, f"slice$k%02d.parquet")
      Files.move(part.toPath, slice.toPath)
      slice.setLastModified(t0 + k * 60000L)
      stage.listFiles().foreach(_.delete()); stage.delete()
      slice
    }
  }

  private def drainToParquet(srcDir: String, sinkDir: String, ckptDir: String,
      op: DataFrame => DataFrame = EventStreams.windowedAgg): Unit = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = op(in)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckptDir)
      .option("path", sinkDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def rows(dir: String): Seq[Seq[Any]] = {
    val df = spark.read.parquet(dir)
      .select("win_start_us", "event_type", "cnt", "total_cents")
    df.collect().map(_.toSeq.toIndexedSeq).toSeq
  }

  test("stateful windowed agg survives stop + checkpoint restart exactly-once") {
    val root = Bridge.scratchDir("graft-restart")
    val staged = stageSlices(root)
    val src = new java.io.File(root, "src"); src.mkdirs()
    val (sink, ckpt) = (new java.io.File(root, "sink"), new java.io.File(root, "ckpt"))
    val (sinkRef, ckptRef) = (new java.io.File(root, "sinkRef"), new java.io.File(root, "ckptRef"))

    // phase 1: only the first two slices exist; drain and STOP
    staged.take(2).foreach { f =>
      val d = new java.io.File(src, f.getName)
      Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
    }
    drainToParquet(src.getPath, sink.getPath, ckpt.getPath)
    val afterPhase1 = rows(sink.getPath)

    // phase 2: the rest of the stream arrives; RESTART from checkpoint
    staged.drop(2).foreach { f =>
      val d = new java.io.File(src, f.getName)
      Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
    }
    drainToParquet(src.getPath, sink.getPath, ckpt.getPath)
    val restarted = rows(sink.getPath)

    // reference: the same four files drained in one never-stopped run
    val srcRef = new java.io.File(root, "srcRef"); srcRef.mkdirs()
    staged.foreach { f =>
      val d = new java.io.File(srcRef, f.getName)
      Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
    }
    drainToParquet(srcRef.getPath, sinkRef.getPath, ckptRef.getPath)
    val reference = rows(sinkRef.getPath)

    assert(restarted.nonEmpty && reference.nonEmpty)
    // exactly-once across the restart: multiset equality with the
    // uninterrupted drain — nothing lost, nothing emitted twice
    def ms(s: Seq[Seq[Any]]) = s.groupBy(identity).view.mapValues(_.size).toMap
    assert(ms(restarted) == ms(reference))
    // the restart genuinely continued (phase 2 emitted windows phase 1
    // had open or unseen), and phase-1 output was not re-emitted
    assert(afterPhase1.size < restarted.size)
    assert(ms(afterPhase1).forall { case (r, c) => ms(restarted).getOrElse(r, 0) >= c })
  }

  test("custom flatMapGroupsWithState state (running stats) survives restart") {
    // the encoder-serialized custom state path, not the built-in window
    // store: phase-2 rows must carry n_prior counts that CONTINUE from
    // phase-1 state rehydrated out of the checkpoint
    val root = Bridge.scratchDir("graft-restart-fgws")
    val staged = stageSlices(root)
    val src = new java.io.File(root, "src"); src.mkdirs()
    def place(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      val d = new java.io.File(src, f.getName)
      Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
    }
    val op = (df: DataFrame) => EventStreams.runningStatsStream(spark, df)
    val (sink, ckpt) = (new java.io.File(root, "sink"), new java.io.File(root, "ckpt"))
    place(staged.take(2))
    drainToParquet(src.getPath, sink.getPath, ckpt.getPath, op)
    place(staged.drop(2))
    drainToParquet(src.getPath, sink.getPath, ckpt.getPath, op)

    val srcRef = new java.io.File(root, "srcRef"); srcRef.mkdirs()
    staged.foreach { f =>
      val d = new java.io.File(srcRef, f.getName)
      Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
    }
    val (sinkRef, ckptRef) = (new java.io.File(root, "sinkRef"), new java.io.File(root, "ckptRef"))
    drainToParquet(srcRef.getPath, sinkRef.getPath, ckptRef.getPath, op)

    def all(dir: String) = spark.read.parquet(dir).collect()
      .map(_.toSeq.toIndexedSeq).toSeq
    def ms(s: Seq[Seq[Any]]) = s.groupBy(identity).view.mapValues(_.size).toMap
    val (a, b) = (all(sink.getPath), all(sinkRef.getPath))
    assert(a.nonEmpty && ms(a) == ms(b))
  }

  test("stream-stream as-of join state (TWS) survives restart exactly-once") {
    // BOTH state lists — the dim version history AND the held fact
    // buffer — must rehydrate from the checkpoint: a fact buffered in
    // phase 1 emits in phase 2 matched against dim versions that
    // arrived across the restart boundary
    val ConfKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = Bridge.scratchDir("graft-restart-ssasof")
      val staged = stageSlices(root)
      val src = new java.io.File(root, "src"); src.mkdirs()
      def place(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
        val d = new java.io.File(src, f.getName)
        Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
      }
      val op = (df: DataFrame) => TwsOperators.streamAsOfJoinTws(spark, df)
      val (sink, ckpt) = (new java.io.File(root, "sink"), new java.io.File(root, "ckpt"))
      place(staged.take(2))
      drainToParquet(src.getPath, sink.getPath, ckpt.getPath, op)
      val afterPhase1 = spark.read.parquet(sink.getPath).count()
      place(staged.drop(2))
      drainToParquet(src.getPath, sink.getPath, ckpt.getPath, op)

      val srcRef = new java.io.File(root, "srcRef"); srcRef.mkdirs()
      staged.foreach { f =>
        val d = new java.io.File(srcRef, f.getName)
        Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
      }
      val (sinkRef, ckptRef) =
        (new java.io.File(root, "sinkRef"), new java.io.File(root, "ckptRef"))
      drainToParquet(srcRef.getPath, sinkRef.getPath, ckptRef.getPath, op)

      def all(dir: String) = spark.read.parquet(dir).collect()
        .map(_.toSeq.toIndexedSeq).toSeq
      def ms(s: Seq[Seq[Any]]) = s.groupBy(identity).view.mapValues(_.size).toMap
      val (a, b) = (all(sink.getPath), all(sinkRef.getPath))
      assert(a.nonEmpty && ms(a) == ms(b),
        "restarted as-of drain diverged from the uninterrupted one")
      assert(afterPhase1 < a.size,
        "phase 2 emitted nothing — held facts did not flush after restart")
    } finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }
}
