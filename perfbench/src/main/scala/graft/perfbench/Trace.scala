package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark scheduler counts, fed by a registered listener. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, shuffleStages: Long = 0,
    tasks: Long = 0, taskRunMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    inputBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    shuffleStages - o.shuffleStages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    inputBytes - o.inputBytes, spillBytes - o.spillBytes)
}

/** Listener accumulating [[Counts]] and every task's run interval (wall
  * clock ms), so a span can tell how much of its wall time had no task
  * running. Events arrive on the listener-bus thread; readers drain the
  * bus first (see [[Tracer]]). */
final class CountingListener extends SparkListener {
  @volatile private var c = Counts()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  def counts: Counts = c

  def taskIntervals(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    intervals.iterator.filter { case (s, e) => e > from && s < to }.toVector
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c = c.copy(jobs = c.jobs + 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val shuffle = if (org.apache.spark.perfbench.SparkInternals.isShuffleMapStage(e.stageInfo)) 1 else 0
    c = c.copy(stages = c.stages + 1, shuffleStages = c.shuffleStages + shuffle)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    synchronized { intervals += ((info.launchTime, info.finishTime)) }
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** One timed call into a layer. `counts` are the scheduler events of
  * the jobs the call launched; `noTaskMs` is the part of its wall time
  * during which no task ran (work outside tasks, scheduling, waiting). */
final case class Span(name: String, run: Int, id: Int, parent: Int,
    startMs: Long, endMs: Long, seconds: Double, counts: Counts, noTaskMs: Long)

/** Spans around the benchmark's calls into each layer. Detached, a span
  * is just the call. Attached, the listener is registered and a span
  * drains the listener bus at both ends, so the counts between the two
  * snapshots belong to the call. Spans are kept in memory and written
  * out by the caller when the run ends. */
final class Tracer(spark: SparkSession) {
  private val listener = new CountingListener
  private var attached = false
  val spans = ArrayBuffer.empty[Span]
  private var run = 0
  private var stack = List.empty[Int]
  private var started = 0

  def startRun(r: Int): Unit = run = r

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = {
    attached = false
    org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def drained(): Counts = {
    org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
    listener.counts
  }

  def span[T](name: String)(f: => T): T =
    if (!attached) f
    else {
      val id = started
      started += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = drained()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      stack = id :: stack
      try f
      finally {
        val t1 = System.nanoTime()
        val wall1 = System.currentTimeMillis()
        stack = stack.tail
        val c1 = drained()
        val busy = covered(listener.taskIntervals(wall0, wall1), wall0, wall1)
        spans += Span(name, run, id, parent, wall0, wall1, (t1 - t0) / 1e9,
          c1 - c0, wall1 - wall0 - busy)
      }
    }

  /** Milliseconds of [from, to] covered by at least one interval. */
  private def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    iv.map { case (s, e) => (s.max(from), e.min(to)) }.sortBy(_._1).foreach {
      case (s, e) =>
        if (e > end) { total += e - s.max(end); end = e }
    }
    total
  }
}

object Tracer {
  /** A tracer that is never attached: spans are plain calls. */
  val Off = new Tracer(null)
}
