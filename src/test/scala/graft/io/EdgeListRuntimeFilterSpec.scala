package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** RUNTIME (executor-side) filtering into the connector — the 100 TB
  * star-join shape: a bucketed fact joined to a small dim through a
  * broadcast hash join, where the dim's surviving join keys arrive at
  * the fact SCAN after planning (DynamicPruningExpression → In) and
  * prune whole buckets/files before any byte is parsed. Static
  * pushdown, zone maps and bucket pruning already cover filters known
  * at plan time; this is the case where the keys are only known at
  * EXECUTION (a filtered dim), and it composes with the bucket layout:
  * In(src, ks) → allowedBuckets → file-level pruning, exact.
  *
  * The partitioning contract under runtime filtering: a KeyGrouped-
  * reporting scan pads runtime-emptied buckets with explicit empty
  * partitions (EdgeListScan.planInputPartitions), so the reported
  * partitioning never degrades mid-plan. */
class EdgeListRuntimeFilterSpec extends SparkSpec {

  private val fmt = "graft.sources.EdgeListSource"

  private def tmp(): java.io.File = Bridge.scratchDir("graft_rtf_")

  test("broadcast dim's keys prune the bucketed fact's files at execution") {
    val root = tmp()
    // 97 keys over 8 buckets, 2 write tasks: 16 files
    spark.range(40000)
      .selectExpr("id % 97 AS src", "(id * 13) % 1000 AS dst")
      .repartition(2).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/fact")
    val totalFiles = graft.sources.EdgeListSource.listFiles(s"$root/fact").size
    assert(totalFiles > 8)

    val dim = spark.range(97)
      .select(col("id").as("k"), (col("id") % 31).as("grp"))
    val fact = spark.read.format(fmt).load(s"$root/fact")
    // dim filter selects ~3 of 97 keys — unknown at plan time for the
    // fact (the grp column exists only on the dim)
    val joined = fact.join(broadcast(dim.where(col("grp") === 7)),
      col("src") === col("k"))
      .groupBy("src").agg(count(lit(1)).as("n"),
        sum("dst").cast("long").as("s"))
    val rows = joined.collect()

    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningExpression on the fact scan:\n$planStr")
    val scan = graft.plans.PlanWalk.nodes(joined.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec
        if b.scan.description().contains("/fact") => b }.get
    // post-execution final partitions (the RDD is built from the
    // runtime-FILTERED partition list; `partitions` is the static
    // plan): strictly fewer FILES than the static plan — the runtime
    // In pruned buckets the dim can't match
    val plannedFiles = scan.inputRDDs().head.partitions.flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        p.inputPartitions
      case _ => Nil
    }.flatMap {
      case s: graft.sources.SortedBucketFiles => s.files.map(_._1)
      case e: graft.sources.EdgeRange => Seq(e.file)
    }.distinct.size
    assert(plannedFiles < totalFiles,
      s"runtime pruning inactive: planned $plannedFiles of $totalFiles files")

    // the answer is the unpruned truth
    val truth = spark.range(40000)
      .selectExpr("id % 97 AS src", "(id * 13) % 1000 AS dst")
      .join(dim.where(col("grp") === 7), col("src") === col("k"))
      .groupBy("src").agg(count(lit(1)).as("n"),
        sum("dst").cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === truth)
  }
}
