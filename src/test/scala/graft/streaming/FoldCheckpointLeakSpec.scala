package graft.streaming

import graft.testkit.{CheckpointLeaks, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[graft.graph.CheckpointLeakSpec]]'s contract for every sink that
  * folds micro-batches into a state: after the result is collected, the
  * only persisted RDDs the call added are the checkpoints the returned
  * plan reads directly. Each superseded state, each per-batch checkpoint
  * and each set-up checkpoint the result does not read is released; one
  * dropped without a release fails the row even once the garbage
  * collector has taken it ([[graft.testkit.CheckpointLeaks]]). */
class FoldCheckpointLeakSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val sinks: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "EventStreams.scd2StreamingSink" -> (EventStreams.scd2StreamingSink(_, _)),
    "EventStreams.mergeStreamingSink" -> (EventStreams.mergeStreamingSink(_, _)),
    "EventStreams.ksMonitorSink" -> (EventStreams.ksMonitorSink(_, _)),
    "EventStreams.mwuMonitorSink" -> (EventStreams.mwuMonitorSink(_, _)),
    "EventStreams.tvdMonitorSink" -> (EventStreams.tvdMonitorSink(_, _)),
    "EventStreams.spearmanMonitorSink" -> (EventStreams.spearmanMonitorSink(_, _)),
    "EventStreams.mvMaintenanceSink" -> (EventStreams.mvMaintenanceSink(_, _)),
    "EventStreams.topkLeaderboardSink" -> (EventStreams.topkLeaderboardSink(_, _)),
    "EventStreams.cusumMonitorSink" -> (EventStreams.cusumMonitorSink(_, _)),
    "EventStreams.survivalMonitorSink" -> (EventStreams.survivalMonitorSink(_, _)),
    "EventStreams.survivalCohortMonitorSink" ->
      (EventStreams.survivalCohortMonitorSink(_, _)),
    "EventStreams.retentionMonitorSink" -> (EventStreams.retentionMonitorSink(_, _)),
    "EventStreams.benfordMonitorSink" -> (EventStreams.benfordMonitorSink(_, _)),
    "EventStreams.madMonitorSink" -> (EventStreams.madMonitorSink(_, _)),
    "EventStreams.outlierMonitorSink" -> (EventStreams.outlierMonitorSink(_, _)),
    "EventStreams.qqMonitorSink" -> (EventStreams.qqMonitorSink(_, _)),
    "EventStreams.contingencyMonitorSink" -> (EventStreams.contingencyMonitorSink(_, _)),
    "EventStreams.skewMonitorSink" -> (EventStreams.skewMonitorSink(_, _)),
    "GraphStreams.ccMaintenanceSink" -> (GraphStreams.ccMaintenanceSink(_, _)),
    "GraphStreams.triMaintenanceSink" -> (GraphStreams.triMaintenanceSink(_, _)),
    "GraphStreams.pagerankMaintenanceSink" -> (GraphStreams.pagerankMaintenanceSink(_, _)),
    "GraphStreams.pagerankWeightedMaintenanceSink" ->
      (GraphStreams.pagerankWeightedMaintenanceSink(_, _)),
    "AHashStreams.aHashStreamingSink" -> (AHashStreams.aHashStreamingSink(_, _)),
    "FuzzyStreams.fuzzyMatchStreamingSink" -> (FuzzyStreams.fuzzyMatchStreamingSink(_, _)),
    "DecontamStreams.decontamStreamingSink" -> (DecontamStreams.decontamStreamingSink(_, _)))

  for ((name, sink) <- sinks)
    test(s"$name leaves only the checkpoints its result reads") {
      val left = CheckpointLeaks.leftBehind(spark)(sink(spark, dir))
      assert(left.isEmpty, s"$name left persisted RDDs behind: $left")
    }
}
