package graft.streaming

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.graftbridge.Bridge

/** The streaming 3-sigma anomaly flags must agree with an exact batch
  * window replica, and the idempotent-batch-id foreachBatch sink must
  * stay exactly-once through a replayed batch. */
class AnomalyExactlyOnceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("anomalyStream equals the exact batch window replica") {
    import org.apache.spark.sql.expressions.Window
    val q = EventStreams.runToMemory(
      EventStreams.anomalyStream(spark, EventStreams.readEvents(spark, dir)),
      "anom_out", OutputMode.Append)
    try {
      val s = spark.table("anom_out")
        .select("event_type", "event_id", "cents", "n_prior", "is_anomaly")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val w = Window.partitionBy("event_type")
        .orderBy(graft.io.Tables.eventMicros(ev), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // batch twin in exact decimal arithmetic (sizes bounded at this
      // sf: every product fits decimal(38,0) losslessly)
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val n = count(lit(1)).over(w)
      val sm = coalesce(sum(cents).over(w), lit(0L))
      val ss = coalesce(sum(cents * cents).over(w), lit(0L))
      val lhs = d(n) * d(cents) - d(sm)
      val b = ev.select(col("event_type"), col("event_id"),
        cents.as("cents"), n.as("n_prior"),
        (n >= 2 && lhs * lhs > d(lit(9)) * (d(n) * d(ss) - d(sm) * d(sm)))
          .as("is_anomaly"))
      assert(s.count() == b.count() && s.count() > 0)
      assert(s.except(b).isEmpty && b.except(s).isEmpty,
        "stream flags disagree with the batch replica")
      // the corpus actually contains both flag values, or the test is vacuous
      assert(s.where(col("is_anomaly")).count() > 0, "no anomalies flagged")
      assert(s.where(!col("is_anomaly")).count() > 0, "everything flagged")
    } finally q.stop()
  }

  test("a hand-built spike is flagged; steady traffic is not") {
    import spark.implicits._
    // 20 steady values then one spike, one event type
    val rows = (1L to 20L).map(i => (i, "t", i * 1000000L, 50.0)) :+
      ((21L, "t", 21L * 1000000L, 5000.0))
    val src = Bridge.scratchDir("graft_anom_src")
    rows.toDF("event_id", "event_type", "ts", "value")
      .withColumn("ts", timestamp_micros(col("ts")))
      .coalesce(1).write.mode("overwrite").parquet(src.getPath)
    val schema = spark.read.parquet(src.getPath).schema
    val stream = spark.readStream.schema(schema).parquet(src.getPath)
    val q = EventStreams.runToMemory(
      EventStreams.anomalyStream(spark, stream), "anom_hand", OutputMode.Append)
    try {
      val out = spark.table("anom_hand").orderBy("event_id").collect()
      assert(out.length == 21)
      assert(out.take(20).forall(!_.getAs[Boolean]("is_anomaly")),
        "steady prefix must not be flagged (variance 0, x == mean)")
      assert(out.last.getAs[Boolean]("is_anomaly"), "spike not flagged")
    } finally q.stop()
  }

  test("exactly-once sink: a replayed batch overwrites, never duplicates") {
    val root = Bridge.scratchDir("graft_eo_spec")
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt")
    def run(): Unit = {
      val ev = EventStreams.readEventsMultiBatch(spark, dir)
      EventStreams.exactlyOnceParquetSink(
        ev.select("event_id", "event_type"), out.getPath, ckpt.getPath)
    }
    run()
    val once = spark.read.parquet(out.getPath).drop("batch_id")
    val expected = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "event_type")
    assert(once.count() == expected.count())

    // crash between sink write and offset commit: drop the last commit
    // marker (and its ChecksumFs sidecar) -> restart replays that batch
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2, "staging did not produce a multi-batch run")
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    commits.last.delete(); if (crc.exists()) crc.delete()
    run()

    val replayed = spark.read.parquet(out.getPath).drop("batch_id")
    assert(replayed.count() == expected.count(), "replay duplicated rows")
    assert(replayed.except(expected).isEmpty && expected.except(replayed).isEmpty)
  }
}
