package graft.plans

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.graftbridge.Bridge

/** The bucketed co-located join must actually be shuffle-free: both
  * sides CLUSTERED BY the join key into the same bucket count, so the
  * sort-merge join reads bucket i against bucket i with NO Exchange
  * anywhere in the plan — the write paid the shuffle once, every
  * downstream join on that key rides the layout. This is the plan
  * invariant behind q45_bucket_join (the gate only checks the
  * relational answer; this spec checks the 100 TB claim). */
class BucketJoinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q45's join plans a bucket-local sort-merge join with zero exchanges") {
    val runId = java.util.UUID.randomUUID().toString.replace("-", "_")
    val loc = Bridge.scratchDir("graft_bktspec_")
    val li = s"bktspec_li_$runId"; val od = s"bktspec_od_$runId"
    try {
      graft.io.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"${loc.getPath}/li").saveAsTable(li)
      graft.io.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"${loc.getPath}/od").saveAsTable(od)
      // the exact join shape q45_bucket_join runs: MERGE hint (plan-
      // local), no session-conf flip
      val joined = spark.sql(
        s"SELECT /*+ MERGE(l) */ * FROM $li l JOIN $od o " +
          "ON l.l_orderkey = o.o_orderkey")
      val plan = joined.queryExecution.executedPlan
      val nodes = PlanWalk.nodes(plan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected a sort-merge join:\n$plan")
      val exchanges = nodes.filter(_.isInstanceOf[ShuffleExchangeExec])
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles (${exchanges.size} exchanges):\n$plan")
      // and it computes the right thing
      val n = joined.count()
      val truth = graft.io.Tables.lineitem(spark, dir)
        .join(graft.io.Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == truth)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $li")
      spark.sql(s"DROP TABLE IF EXISTS $od")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
  }
}
