package graft.core

import graft.pipeline.Dedup
import graft.plans.PlanWalk
import graft.testkit.SparkSpec
import graft.text.TextAnalysis
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** sf0.001's `documents` and `events` rewritten into a scratch
    * directory as one file each, and again as `p` files each: the first
    * scans in one task (a narrow scan to spread), the second in `p`. */
  private lazy val (narrowDir, wideDir) = {
    val p = spark.sparkContext.defaultParallelism
    val root = Bridge.scratchDir("graft-spread")
    for ((dir, files) <- Seq("narrow" -> 1, "wide" -> p); t <- Seq("documents", "events"))
      graft.io.Tables.table(spark, sf, t).repartition(files)
        .write.parquet(s"$root/$dir/$t.parquet")
    (s"$root/narrow", s"$root/wide")
  }

  private def exchanges(df: DataFrame): Int =
    PlanWalk.nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])

  /** Whether `df` plans an explicit repartition by number: the spread. */
  private def spreads(df: DataFrame): Boolean =
    PlanWalk.nodes(df.queryExecution.executedPlan).exists {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The task count of each stage `body` runs from this thread, in
    * stage order, and the number of its jobs. */
  private def stagesOf(body: => Any): (Seq[Int], Int) = {
    val sc = spark.sparkContext
    val group = "ops-spread-spec"
    val jobs = new AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      private def ours(props: java.util.Properties) =
        props != null && props.getProperty("spark.jobGroup.id") == group
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (ours(j.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (ours(s.properties)) stages.put(s.stageInfo.stageId, s.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ops spread spec")
    try {
      body
      Bridge.drainListeners(sc)
      import scala.jdk.CollectionConverters._
      (stages.asScala.toSeq.sortBy(_._1).map(_._2), jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("spread: a kernel over a one-file parquet table runs defaultParallelism tasks") {
    val p = spark.sparkContext.defaultParallelism
    val docs = graft.io.Tables.documents(spark, narrowDir)
    assert(docs.rdd.getNumPartitions == 1, "fixture must scan in one task")
    val sig = Dedup.minHashSignatures(docs, col("doc_id"), col("text"))
    assert(exchanges(sig) == 1)
    val (tasks, jobs) = stagesOf(sig.write.format("noop").mode("overwrite").save())
    // the scan stage, then the kernel stage reading the spread
    assert(tasks == Seq(1, p), s"stage tasks $tasks over $jobs jobs")
  }

  test("spread: a frame with p partitions and a streaming frame come back unchanged") {
    val wide = graft.io.Tables.documents(spark, wideDir)
    assert(wide.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(Ops.spread(wide) eq wide)
    assert(exchanges(Dedup.simHash(wide, col("doc_id"), col("text"))) == 0)
    val joined = graft.io.Tables.documents(spark, narrowDir).as("a")
      .join(graft.io.Tables.documents(spark, narrowDir).as("b"), "doc_id")
    assert(Ops.spread(joined) eq joined, "a frame that shuffles already is left alone")
    val stream = spark.readStream.format("rate").load()
    assert(Ops.spread(stream, col("value")) eq stream)
  }

  test("spread: building the spread kernels launches no Spark job") {
    val (_, jobs) = stagesOf {
      val docs = graft.io.Tables.documents(spark, narrowDir)
      Ops.spread(docs)
      Dedup.minHashSignatures(docs, col("doc_id"), col("text"))
      Dedup.simHash(docs, col("doc_id"), col("text"))
      TextAnalysis.wordFreq(docs, col("text"), 20)
      graft.SparkEntry.queries("e_sessionize")(spark, narrowDir)
    }
    assert(jobs == 0)
  }

  test("spread: the kernels give the same rows with and without the spread") {
    def both(f: String => DataFrame): Unit = {
      val (spread, plain) = (f(narrowDir), f(wideDir))
      assert(spreads(spread) && !spreads(plain))
      val rows = sortedRows(spread)
      assert(rows.nonEmpty && rows == sortedRows(plain))
    }
    def docs(dir: String) = graft.io.Tables.documents(spark, dir)
    both(d => Dedup.minHashSignatures(docs(d), col("doc_id"), col("text")))
    both(d => Dedup.simHash(docs(d), col("doc_id"), col("text")))
    both(d => TextAnalysis.wordFreq(docs(d), col("text"), 20))
    both(d => graft.SparkEntry.queries("e_sessionize")(spark, d))
  }

  test("asofJoin picks the most recent right value at or before each left ts") {
    val left = Seq((1L, 10L, 100L), (1L, 11L, 250L), (2L, 12L, 50L))
      .toDF("k", "event_id", "ts")
    val right = Seq((1L, 100L, 1.0), (1L, 200L, 2.0), (2L, 60L, 9.0))
      .toDF("k", "ts", "v")
    val got = Ops.asofJoin(left, right, "k", "ts", "v")
      .select("event_id", "asof_v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(
      10L -> Some(1.0), // equal-ts right row counts (at-or-before)
      11L -> Some(2.0),
      12L -> None))     // no signup yet for user 2 at ts 50
  }

  test("salted collapse equals plain group-by collect") {
    val df = (Seq.tabulate(1000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(10)(i => ("cold", i.toLong))).toDF("k", "v")
      .repartition(8) // spread the hot key across partitions → real salts
    val salted = Ops.saltedCollapse(df, col("k"), col("v"), salts = 8)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val plain = df.groupBy("k")
      .agg(array_join(transform(sort_array(collect_list("v")), _.cast("string")), ",").as("vals"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(salted == plain)
    assert(salted("hot").split(",").length == 1000)
  }

  test("rangeJoin equals the naive BETWEEN join and avoids nested-loop plans") {
    val points = Seq((1L, 10L, 100L), (1L, 11L, 250L), (2L, 12L, 50L), (1L, 13L, 301L))
      .toDF("k", "pid", "t")
    val ivs = Seq((1L, 100L, 90L, 260L), (1L, 101L, 240L, 300L), (2L, 102L, 0L, 40L))
      .toDF("k", "iid", "s", "e")
    val ranged = Ops.rangeJoin(points, ivs, Seq("k"), "t", "s", "e", binWidth = 50L)
    val got = ranged.select("iid", "pid").as[(Long, Long)].collect().toSet
    val naive = points.join(ivs, Seq("k"))
      .where(col("t") >= col("s") && col("t") <= col("e"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(got == naive && got == Set((100L, 10L), (100L, 11L), (101L, 11L)))
    assert(!ranged.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
  }

  test("intervalOverlapJoin: keyless overlap equals naive, no dup pairs, no nested loop") {
    // intervals spanning MANY shared bins (len >> binWidth) — the
    // first-shared-bin dedup must keep each overlapping pair exactly once
    val a = Seq((1L, 0L, 500L), (2L, 90L, 110L), (3L, 600L, 700L))
      .toDF("aid", "as", "ae")
    val b = Seq((10L, 100L, 450L), (11L, 480L, 520L), (12L, 900L, 950L))
      .toDF("bid", "bs", "be")
    val joined = Ops.intervalOverlapJoin(a, b, "as", "ae", "bs", "be", binWidth = 50L)
    val got = joined.select("aid", "bid").as[(Long, Long)].collect().toList.sorted
    val naive = a.crossJoin(b)
      .where(col("as") <= col("be") && col("bs") <= col("ae"))
      .select("aid", "bid").as[(Long, Long)].collect().toList.sorted
    // exact multiset equality: every overlap once, none twice
    assert(got == naive && got == List((1L, 10L), (1L, 11L), (2L, 10L)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("intervalOverlapJoinSweep: equals binned join and naive on hand and random sets") {
    // hand case with long spans crossing many slices
    val a = Seq((1L, 0L, 500L), (2L, 90L, 110L), (3L, 600L, 700L))
      .toDF("aid", "as", "ae")
    val b = Seq((10L, 100L, 450L), (11L, 480L, 520L), (12L, 900L, 950L))
      .toDF("bid", "bs", "be")
    val sweep = Ops.intervalOverlapJoinSweep(a, b, "as", "ae", "bs", "be",
        nSlices = 7)
      .select("aid", "bid").as[(Long, Long)].collect().toList.sorted
    assert(sweep == List((1L, 10L), (1L, 11L), (2L, 10L)))
    // randomized parity: sweep == binned == brute force, including
    // touching endpoints (inclusive bounds), nested and disjoint spans
    val rnd = new scala.util.Random(7)
    val ra = (1 to 120).map { i =>
      val s = rnd.nextInt(2000).toLong; (i.toLong, s, s + rnd.nextInt(300))
    }
    val rb = (1 to 120).map { i =>
      val s = rnd.nextInt(2000).toLong; (i.toLong, s, s + rnd.nextInt(300))
    }
    val da = ra.toDF("aid", "as", "ae"); val db = rb.toDF("bid", "bs", "be")
    val naive = (for {
      (ai, as_, ae) <- ra; (bi, bs, be) <- rb
      if as_ <= be && bs <= ae
    } yield (ai, bi)).toList.sorted
    val gotSweep = Ops.intervalOverlapJoinSweep(da, db, "as", "ae", "bs", "be")
      .select("aid", "bid").as[(Long, Long)].collect().toList.sorted
    val gotBin = Ops.intervalOverlapJoin(da, db, "as", "ae", "bs", "be", 128L)
      .select("aid", "bid").as[(Long, Long)].collect().toList.sorted
    assert(gotSweep == naive, "sweep vs brute force")
    assert(gotBin == naive, "binned vs brute force")
    // degenerate: empty side
    assert(Ops.intervalOverlapJoinSweep(da.limit(0), db,
      "as", "ae", "bs", "be").isEmpty)
  }

  test("cosine_sim is callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("invert, histogram, topK basics") {
    val kv = Seq(("a", 1L), ("b", 2L)).toDF("key", "value")
    assert(Ops.invert(kv).columns.toSeq == Seq("value", "key"))
    val h = Ops.histogram(
      Seq("x", "x", "y", "z").toDF("v"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(2L -> 1L, 1L -> 2L)) // one key twice, two keys once
    val top = Ops.topK(Seq(3, 1, 2).toDF("n"), 2, col("n").desc)
      .as[Int].collect().toSeq
    assert(top == Seq(3, 2))
  }
}
