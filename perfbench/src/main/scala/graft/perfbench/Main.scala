package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark run in one JVM: set up a workload, repeat its job in a
  * closed loop for the requested seconds, check every output, and write
  * the run's metrics and record as JSON.
  *
  * usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --dir <work dir> --out <json> [--pregen-s <s>]
  *
  * `--pregen-s` is the time the caller spent generating inputs before
  * starting the JVM; it counts towards `setup_s`.
  *
  * With `--trace 0` no listener is registered and the end-to-end metrics
  * are measured. With `--trace 1` the loop alternates untraced and traced
  * jobs; traced jobs carry spans and listener counts, which give the
  * per-layer metrics, and the difference of the two medians is the
  * tracing overhead. */
object Main {

  val Cores = 4
  /** Timed jobs per run, at the least, whatever `--seconds` says: the
    * median of three still holds when one job is slowed by the host. */
  val MinJobs = 3

  /** One job: wall and CPU seconds, and the heap still live after a full
    * GC right after it, before the next job releases its caches. */
  final case class Job(wall: Double, cpu: Double, liveHeap: Long, traced: Boolean,
      fault: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = opt("dir")
    Files.createDirectories(Paths.get(dir))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // every timed job does its full work: no cross-job memo
      .config("spark.graft.memoize", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    // seconds since JVM start at which each phase of the run ended
    val phases = ArrayBuffer("session" -> sessionS)
    def phase(name: String): Unit =
      phases += name -> (System.currentTimeMillis() - jvmStart) / 1e3

    val selfTest = SelfTest.failures()
    phase("self_test")
    val w = Workloads(workload, spark, dir, seed)
    val tracer = new Tracer(spark)
    // CPU time of the JVM's Java threads (tasks, caller, listeners); the
    // JIT compiler and GC threads are not among them, so warm-up
    // compilation does not count as work of the job
    val threads = ManagementFactory.getThreadMXBean
    def threadCpu(): Map[Long, Long] =
      threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
        .filter(_._2 >= 0).toMap
    val faults = ArrayBuffer.empty[String]
    var attempted = 0

    def runJob(traced: Boolean, job: Tracer => () => Option[String] = w.job): Job = {
      // each job starts cold: no graph memo, and no frame or checkpoint
      // block left by an earlier job (removed synchronously, so what a
      // job leaves on the heap does not depend on cleanup timing)
      graft.queries.GraphQueries.clearCaches()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // events of earlier jobs are processed before the clock starts
      org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
      System.gc()
      if (traced) tracer.attach()
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      val check = try Right(job(if (traced) tracer else Tracer.Off))
        catch { case e: Throwable => Left(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = threadCpu().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e9
      org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      if (traced) tracer.detach()
      val fault = check.fold(Some(_), c =>
        try c() catch { case e: Throwable => Some(e.toString) })
      attempted += 1
      fault.foreach(f => faults += f)
      Job(wall, cpu, liveHeap, traced, fault)
    }

    // set-up: generate the inputs and warm up with one full job (with C1
    // only, the first timed job is then at most about a tenth slower than
    // later ones, and the median of three leaves it out); the oracle is
    // built after generation, off the clock
    val t0 = System.nanoTime()
    val input = w.generate()
    val generateS = (System.nanoTime() - t0) / 1e9
    phase("generate")
    val oracle = w.prepare()
    phase("oracle")
    val warm = runJob(traced = false).wall
    phase("warm_up")
    val setupS = opt.get("pregen-s").map(_.toDouble).getOrElse(0.0) +
      sessionS + generateS + warm

    val jobs = ArrayBuffer.empty[Job]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (jobs.size < MinJobs || System.nanoTime() < deadline ||
        (trace && !(jobs.exists(_.traced) && jobs.exists(!_.traced)))) {
      tracer.startRun(jobs.size)
      jobs += runJob(traced = trace && jobs.size % 2 == 1)
    }

    phase("timed_jobs")
    // traced runs only: the side job, warmed up once, then traced once
    val side = if (!trace) Nil else w.sideJob.toSeq.flatMap { job =>
      runJob(traced = false, job)
      tracer.startRun(-1)
      runJob(traced = true, job)
      phase("side_job")
      w.layers(tracer.spans.filter(_.run == -1).toSeq)
    }
    val untraced = jobs.filterNot(_.traced)
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "job_s" -> median(untraced.map(_.wall)),
      "cpu_s" -> median(untraced.map(_.cpu)))
    val perLayer = if (!trace) Nil else {
      val traced = jobs.zipWithIndex.filter(_._1.traced)
      val perJob = traced.map { case (_, i) => w.layers(tracer.spans.filter(_.run == i).toSeq) }
      val names = perJob.head.map(_._1)
      names.map(n => n -> median(perJob.map(_.find(_._1 == n).get._2))) ++
        side ++ w.extraLayers() :+
        ("trace_overhead_s" -> (median(traced.map(_._1.wall)) - median(untraced.map(_.wall))))
    }

    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.default.parallelism" -> spark.sparkContext.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).toSeq,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "input" -> input, "oracle" -> oracle,
      "phases" -> phases.toSeq, "generate_s" -> generateS, "warm_up_s" -> warm,
      "jobs" -> jobs.map(j => Seq("wall_s" -> j.wall, "cpu_s" -> j.cpu,
        "live_heap_mb" -> j.liveHeap / Workloads.MB, "traced" -> j.traced,
        "fault" -> j.fault)).toSeq,
      "self_test_cases" -> SelfTest.cases.size)
    val result = Seq(
      "attempted" -> attempted, "failed" -> faults.size,
      "faults" -> faults.distinct.take(20).toSeq,
      "self_test_failures" -> selfTest,
      "end_to_end" -> (if (trace) Nil else endToEnd),
      "peak_live_heap_mb" -> jobs.map(_.liveHeap).max / Workloads.MB,
      "per_layer" -> perLayer,
      "record" -> record,
      "spans" -> tracer.spans.map(s => Seq("name" -> s.name, "run" -> s.run, "id" -> s.id,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "jobs" -> s.counts.jobs, "stages" -> s.counts.stages,
        "shuffle_stages" -> s.counts.shuffleStages, "tasks" -> s.counts.tasks,
        "task_run_ms" -> s.counts.taskRunMs, "shuffle_read_bytes" -> s.counts.shuffleReadBytes,
        "shuffle_write_bytes" -> s.counts.shuffleWriteBytes,
        "input_bytes" -> s.counts.inputBytes, "spill_bytes" -> s.counts.spillBytes,
        "no_task_ms" -> s.noTaskMs)).toSeq)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
