package graft.streaming

import graft.testkit.SparkSpec
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** STATE SCHEMA EVOLUTION on `transformWithState`: a long-lived
  * pipeline must be able to add a field to its running state (a new
  * metric, a new flag) WITHOUT replaying the corpus or discarding the
  * checkpoint. Spark 4 supports this when the state store encodes
  * state as Avro (`spark.sql.streaming.stateStore.encodingFormat =
  * avro`) — old-layout rows rehydrate into the widened case class with
  * the new field defaulted.
  *
  * The proof here: a checkpointed per-type counting stream drains half
  * the corpus under state V1 `(n)`, STOPS, and restarts from the SAME
  * checkpoint under state V2 `(n, mx)`; the emitted sequence numbers
  * must CONTINUE (state carried, not reset), and the persisted V2
  * state — read back through the state data source — must hold the
  * full-corpus count next to a max that covers only what V2 saw
  * (proving the new field started from its default, not garbage).
  */
class TwsSchemaEvolutionSpec extends SparkSpec {
  import EventStreams.REvent

  private val sfDir = "/root/testdata/sf0.001"
  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  import TwsSchemaEvolutionSpec._

  private def toREvents(df: DataFrame) =
    df.select(col("event_type"), col("event_id"),
        graft.io.Tables.eventMicros(df).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[REvent](Encoders.product[REvent])

  private def drain(src: String, sink: String, ckpt: String, v2: Boolean): Unit = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val ds = toREvents(in).groupByKey(_.event_type)(Encoders.STRING)
    val out =
      if (v2) ds.transformWithState(new CountV2, TimeMode.None(), OutputMode.Append())(
        Encoders.product[CntRow])
      else ds.transformWithState(new CountV1, TimeMode.None(), OutputMode.Append())(
        Encoders.product[CntRow])
    val q = out.toDF().writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", sink)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("adding a state field mid-stream: avro-encoded state rehydrates and continues") {
    val root = Bridge.scratchDir("graft-tws-evolve")
    val staged = new java.io.File(EventStreams.stagedEventsDir(spark, sfDir, 4))
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val src = new java.io.File(root, "src"); src.mkdirs()
    val sink = new java.io.File(root, "sink").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" -> RocksProvider,
      "spark.sql.streaming.stateStore.encodingFormat" -> "avro")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // phase 1: first half of the corpus under state V1 (n)
      staged.take(2).foreach { f =>
        val d = new java.io.File(src, f.getName)
        Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
      }
      drain(src.getPath, sink, ckpt, v2 = false)

      // phase 2: state case class gains `mx`; restart from the SAME
      // checkpoint over the second half
      staged.drop(2).foreach { f =>
        val d = new java.io.File(src, f.getName)
        Files.copy(f.toPath, d.toPath); d.setLastModified(f.lastModified())
      }
      drain(src.getPath, sink, ckpt, v2 = true)

      // continuation proof: per key the emitted n_before sequence is
      // exactly 0..count-1 with no reset and no duplicate
      val emitted = spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), countDistinct("n_before").as("d"),
          max("n_before").as("mx"))
        .collect()
      assert(emitted.nonEmpty)
      emitted.foreach { r =>
        val (cnt, d, mx) = (r.getLong(1), r.getLong(2), r.getLong(3))
        assert(d == cnt && mx == cnt - 1,
          s"${r.getString(0)}: state did not continue across evolution " +
            s"(cnt=$cnt distinct=$d max=$mx)")
      }

      // persisted V2 state: full-corpus count, max over ONLY what V2
      // processed (the new field started from its None default)
      val all = toREvents(spark.read.parquet(s"$sfDir/events.parquet"))
        .collect().toSeq
      val state = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "cnt").load()
        .select(col("key.value").as("k"), col("value.n").as("n"),
          col("value.mx").as("mx"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2))).toMap
      val expTotal = all.groupBy(_.event_type).view.mapValues(_.size.toLong)
      expTotal.foreach { case (k, n) =>
        assert(state(k)._1 == n, s"$k: state n=${state(k)._1}, corpus=$n")
      }
      // V2 saw only slices 2-3: its mx must be bounded by the phase-2
      // per-key max cents (strictly smaller than the corpus max when
      // the corpus max landed in phase 1)
      val phase2 = staged.drop(2).flatMap(f =>
        toREvents(spark.read.parquet(f.getPath)).collect())
      val expMx = phase2.groupBy(_.event_type).view.mapValues(_.map(_.cents).max)
      expMx.foreach { case (k, m) =>
        assert(state(k)._2 == m, s"$k: evolved mx=${state(k)._2}, expected $m")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object TwsSchemaEvolutionSpec {
  import EventStreams.REvent

  final case class CntV1(n: Long)
  final case class CntV2(n: Long, mx: Option[Long])
  final case class CntRow(event_type: String, event_id: Long, n_before: Long)

  class CountV1 extends StatefulProcessor[String, REvent, CntRow] {
    @transient private var st: ValueState[CntV1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CntV1]("cnt", Encoders.product[CntV1],
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[REvent],
        timers: TimerValues): Iterator[CntRow] = {
      var s = if (st.exists()) st.get() else CntV1(0L)
      val out = Seq.newBuilder[CntRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += CntRow(key, e.event_id, s.n)
        s = CntV1(s.n + 1)
      }
      st.update(s)
      out.result().iterator
    }
  }

  /** Same processor, state widened by one field (max cents seen). */
  class CountV2 extends StatefulProcessor[String, REvent, CntRow] {
    @transient private var st: ValueState[CntV2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CntV2]("cnt", Encoders.product[CntV2],
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[REvent],
        timers: TimerValues): Iterator[CntRow] = {
      var s = if (st.exists()) st.get() else CntV2(0L, None)
      val out = Seq.newBuilder[CntRow]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        out += CntRow(key, e.event_id, s.n)
        s = CntV2(s.n + 1, Some(math.max(s.mx.getOrElse(Long.MinValue), e.cents)))
      }
      st.update(s)
      out.result().iterator
    }
  }

}
