package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Scheduler state that is private to the `org.apache.spark` package. */
object SparkInternals {
  /** Waits until the listener bus is empty: every event posted so far has
    * reached every listener, so counts read afterwards are complete
    * without sleeping for an arbitrary time. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage of an exchange). */
  def isShuffleMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
