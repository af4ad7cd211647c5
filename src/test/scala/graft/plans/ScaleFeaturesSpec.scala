package graft.plans

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The two runtime re-plan features a 100 TB deployment leans on,
  * demonstrated live so a conf regression can't silently disable them:
  * AQE skew-join splitting (a hot key no longer serializes one reducer)
  * and runtime bloom-filter pruning (a selective dim filter reaches the
  * fact scan as a semi-join reduction). Both assert on the POST-EXECUTION
  * adaptive plan — the whole point is what AQE decided at runtime. */
class ScaleFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def withConfs[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the skewed partition of a sort-merge join") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
      // 200k rows, half on key 0, ~100-byte payload -> one reducer gets
      // ~5 MB while the median partition is tiny
      val skewed = spark.range(200000L)
        .select(when(col("id") < 100000L, 0L).otherwise(col("id")).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("pay"))
      val dim = spark.range(2000L).select(col("id").as("k2"))
      val joined = skewed.join(dim, col("k") === col("k2"))
      // collect() drives THIS QueryExecution — count() would spawn a
      // separate one and leave the inspected plan unexecuted (AQE's
      // final plan only exists after its own execution ran).
      // k=0 (100k rows) matches dim key 0; keys >= 100000 match nothing.
      assert(joined.collect().length == 100000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    }
  }

  test("runtime bloom filter from a selective dim filter prunes the fact scan") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1") {
      val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      val ord = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_orderkey")
      joined.collect() // drive this QueryExecution (see above)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter in plan:\n$plan")
    }
  }

  test("CBO join reorder: statistics, not query text, pick the join order") {
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq("cbo_big", "cbo_mid", "cbo_small").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.range(200000L).selectExpr("id % 1000 AS k", "id AS pay")
        .write.saveAsTable("cbo_big")
      spark.range(2000L).selectExpr("id % 1000 AS k").write.saveAsTable("cbo_mid")
      spark.range(10L).selectExpr("id AS k").write.saveAsTable("cbo_small")
      Seq("cbo_big", "cbo_mid", "cbo_small").foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      // written worst-first: ((big ⋈ mid) ⋈ small) would build the
      // full big×mid result before the 10-row reduction applies
      val q = spark.sql(
        """SELECT count(*) FROM cbo_big b
          |JOIN cbo_mid m ON b.k = m.k
          |JOIN cbo_small s ON m.k = s.k""".stripMargin)
      import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
      def leaves(p: LogicalPlan): Seq[String] =
        p.collectLeaves().map(_.toString)
      val innermost = q.queryExecution.optimizedPlan.collect {
        case j: Join if !j.children.exists(_.exists(_.isInstanceOf[Join])) => j
      }
      assert(innermost.nonEmpty)
      // the stats-chosen first join must avoid the 200k-row table: it
      // joins mid with small, leaving big for last
      val innerLeaves = innermost.flatMap(leaves)
      assert(!innerLeaves.exists(_.contains("cbo_big")),
        s"CBO left cbo_big in the innermost join:\n${q.queryExecution.optimizedPlan}")
      Seq("cbo_big", "cbo_mid", "cbo_small").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions") {
    // a date-partitioned fact joined on its partition column: the dim
    // filter (2 of 20 keys) must reach the fact SCAN as a
    // DynamicPruningExpression — at 100 TB this is the difference between
    // reading 2 partitions and reading all of them
    val dir = Bridge.scratchDir("graft-dpp").getPath
    spark.range(100000L)
      .select((col("id") % 20).as("pk"), col("id").as("v"))
      .write.mode("overwrite").partitionBy("pk").parquet(dir)
    withConfs(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val fact = spark.read.parquet(dir)
      val dim = spark.range(20L)
        .select(col("id").as("dk"), concat(lit("g"), col("id") % 7).as("grp"))
        .where(col("dk").isin(3L, 11L))
      val joined = fact.join(dim, col("pk") === col("dk"))
      assert(joined.collect().length == 10000)
      val scan = joined.queryExecution.executedPlan.toString
      assert(scan.toLowerCase.contains("dynamicpruning"),
        s"no DynamicPruningExpression in the fact scan:\n$scan")
    }
  }

  test("exchange reuse: a self-joined aggregate shuffles once, not twice") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val agg = spark.range(100000L)
        .select((col("id") % 1000L).as("k"), col("id").as("v"))
        .groupBy("k").agg(sum("v").as("s"))
      // two consumers of the SAME aggregate subtree: Spark must plan one
      // Exchange and a ReusedExchange/stage for the second branch — at
      // corpus scale this halves the shuffle for every diamond plan
      val joined = agg.join(agg.withColumnRenamed("s", "s2")
        .withColumnRenamed("k", "k2"), col("k") === col("k2"))
      assert(joined.collect().length == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"no exchange reuse in the diamond plan:\n$plan")
    }
  }

  test("AQE coalesces the over-partitioned shuffle of a small aggregate") {
    withConfs(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB") {
      // 64 shuffle partitions for a few KB of aggregate state: AQE must
      // fold them into a handful at runtime — at cluster scale this is
      // what keeps small stages from paying 1000-task overhead
      val agg = spark.range(10000L)
        .select((col("id") % 100L).as("k")).groupBy("k").count()
      assert(agg.collect().length == 100)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("coalesced") || plan.contains("AQEShuffleRead"),
        s"no AQE shuffle-read coalescing:\n$plan")
    }
  }

  test("spill threshold: the window buffer spills without changing results") {
    // The window partition buffer (ExternalAppendOnlyUnsafeRowArray) is
    // the spill path a memory-pressured executor actually takes; its
    // thresholds are DYNAMIC SQLConfs, so the external-sorter route can
    // be forced live. (The SMJ buffer's force-spill is NOT testable this
    // way: the probe side re-opens the spilled group per left row, and
    // each re-open allocates fresh ~MB read-ahead buffers that live to
    // task end — forcing it OOMs any JVM. Window iterates its spilled
    // buffer once, so one forced spill per group is cheap.)
    val df = spark.range(20000L)
      .select((col("id") % 7L).as("k"), col("id").as("v"))
    import org.apache.spark.sql.expressions.Window
    def windowed = df.select(col("k"), col("v"),
      sum("v").over(Window.partitionBy("k").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)).as("run"))
    val expectW = windowed.collect().toSet
    withConfs(
      "spark.sql.windowExec.buffer.spill.threshold" -> "2048",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1024") {
      assert(windowed.collect().toSet == expectW,
        "window results changed under forced spill")
    }
  }
}
