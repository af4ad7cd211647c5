package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge
import graft.{GraftSession, SparkEntry}
import graft.queries.GraphQueries

/** Per-query wall time and scheduling census: the median and every wall
  * time of `reps` runs of each named SparkEntry query, plus the Spark
  * jobs, stages and tasks its median run launched. For iterative
  * algorithms on the (tiny, 401-vertex) gate graph the cost is the
  * fixed scheduling machinery rather than data volume, so the counts
  * belong next to the seconds. `max_single_task_stage_ms` is the
  * longest stage of that run that ran one task: work on one core. Memos are off and cleared per run, as in
  * Bench; one untimed run at `sfDir` warms each query first.
  *
  * usage: runMain graft.tools.Profile sfDir reps query [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1).toInt > 0,
      "usage: Profile sfDir reps query [query ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession(defaultCpus = 32, memoize = false)
    val sc = spark.sparkContext

    // written only on the listener thread; read after a drain
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var maxSingleTaskMs = 0L
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val i = s.stageInfo
        if (i.numTasks == 1)
          for (t0 <- i.submissionTime; t1 <- i.completionTime)
            maxSingleTaskMs = math.max(maxSingleTaskMs, t1 - t0)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    })

    /** One run from cleared caches: (wall s, jobs, stages, tasks,
      * longest one-task stage ms). */
    def run(name: String): (Double, Int, Int, Int, Long) = {
      GraphQueries.clearCaches()
      Bridge.drainListeners(sc)
      jobs = 0; stages = 0; tasks = 0; maxSingleTaskMs = 0L
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      (wall, jobs, stages, tasks, maxSingleTaskMs)
    }

    val failed = names.filter { name =>
      try {
        run(name) // warm
        System.gc()
        val runs = (1 to reps).map(_ => run(name)).sortBy(_._1)
        val (wall, j, s, t, single) = runs(reps / 2)
        val all = runs.map(r => f"${r._1}%.2f").mkString(",")
        println(f"PROFILE\t$name\tmedian=$wall%.3f\tall=$all\tjobs=$j\tstages=$s\ttasks=$t" +
          s"\tmax_single_task_stage_ms=$single")
        false
      } catch { case e: Throwable =>
        println(s"PROFILE\t$name\tFAILED: ${e.getMessage}")
        true
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
