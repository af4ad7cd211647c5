package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** SPJ SKEW MITIGATION (partially-clustered distribution): a storage-
  * partitioned join runs one task per bucket, so a skewed key inside
  * one bucket pins that bucket's whole row mass to one task — the
  * reference hand-built the mitigation for exactly this shape in
  * cc_find's big-zone splitting (`oink/cc_find.cpp:38-109`). The
  * modern equivalent is Spark's partially-clustered distribution
  * (`spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  * .enabled`): the big side's input splits stay UNGROUPED (the hot
  * bucket's chunks become several tasks) and the small side's groups
  * are replicated to match — still ZERO shuffle of the fact side.
  *
  * The connector's part of the contract (round 13 — hot-bucket
  * SELECTIVE): under the conf, COLD buckets keep their single
  * merged+ordered partition (the sort-free SPJ merge) and only a
  * bucket holding > 2× the median bucket's bytes fans out into
  * per-file/per-chunk HasPartitionKey splits — each still internally
  * sorted, so the ordering report stays honest. Plus honest per-scan
  * size statistics (Spark picks the replicate side by size). */
class EdgeListSkewJoinSpec extends SparkSpec {

  private val fmt = "graft.sources.EdgeListSource"

  private def tmp(): java.io.File = Bridge.scratchDir("graft_skew_")

  private def withConfs[A](confs: Seq[(String, String)])(f: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val spjConfs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")

  private val partialConfs = spjConfs :+
    ("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true")

  /** Fact with a hot key: every src%4==0 row is remapped to key 7, so
    * bucket(7, 8)'s task carries ~25% of the table under plain SPJ. */
  private def skewedFact(n: Int): DataFrame =
    spark.range(n).selectExpr(
      "CASE WHEN id % 4 = 0 THEN 7L ELSE id % 97 END AS src",
      "(id * 13) % 1000 AS dst")

  // dim attribute rides the dst column (the connector's on-disk shape)
  private def dim(): DataFrame =
    spark.range(97).selectExpr("id AS src", "id * 2 AS dst")

  test("partially-clustered SPJ: hot bucket splits into several tasks, dim replicates, zero exchanges below the join") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    skewedFact(40000).repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/fact")
    dim().repartition(1).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/dim")
    // make the fact's hot bucket span several chunks even at this size
    val q =
      s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
         |  CAST(sum(a.dst + b.dst) AS BIGINT) AS s
         |FROM graft.`$root/fact` a JOIN graft.`$root/dim` b
         |ON a.src = b.src GROUP BY a.src""".stripMargin

    val (rowsPartial, factParts) = withConfs(partialConfs) {
      val df = spark.sql(q)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"no SMJ:\n${df.queryExecution.executedPlan}"))
      // no exchange below the join (the fact never shuffles); the
      // final per-key aggregate above MAY legitimately exchange —
      // partially-clustered output is no longer unique per key
      val joinSubtreeEx = graft.plans.PlanWalk.nodes(smj)
        .filter(_.isInstanceOf[Exchange])
      assert(joinSubtreeEx.isEmpty,
        s"exchange below the join:\n${df.queryExecution.executedPlan}")
      val scans = nodes.collect { case b: BatchScanExec => b }
      assert(scans.size === 2)
      val fact = scans.find(_.scan.description().contains("/fact")).get
      val d = scans.find(_.scan.description().contains("/dim")).get
      assert(fact.spjParams.applyPartialClustering,
        "fact side did not apply partial clustering")
      assert(!fact.spjParams.replicatePartitions)
      assert(d.spjParams.replicatePartitions,
        "dim side was not replicated")
      // the replicated dim must present as many RDD partitions as the
      // partially-clustered fact — one task per fact split
      val factTasks = fact.inputRDDs().head.getNumPartitions
      val dimTasks = d.inputRDDs().head.getNumPartitions
      assert(dimTasks === factTasks,
        s"dim not replicated to match: $dimTasks vs $factTasks")
      (rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted,
        factTasks)
    }
    // the split actually happened: more tasks than buckets...
    assert(factParts > 8, s"hot bucket not split: $factParts partitions")
    // ...and it was SELECTIVE: cold buckets stayed merged (one task
    // each) instead of every file becoming a task — 7 cold merges +
    // the hot bucket's splits, strictly fewer than the file census
    val factFiles = graft.sources.EdgeListSource
      .listFiles(s"$root/fact").size
    assert(factParts < factFiles,
      s"cold buckets lost their merge: $factParts tasks over " +
        s"$factFiles files")

    // identical answer without the mitigation (plain SPJ)
    val rowsPlain = withConfs(spjConfs) {
      spark.sql(q).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    }
    assert(rowsPartial === rowsPlain)

    // and identical to the no-layout truth
    val truth = skewedFact(40000).as("a").join(dim().as("b"), "src")
      .groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.dst") + col("b.dst")).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rowsPartial === truth)
  }
}
