package graft.tools

import graft.GraftSession

/** Dump formatted physical plans for SparkEntry queries — the
  * `.explain("formatted")` feedback loop (scan pushdown, broadcast
  * choices, exchange counts, WholeStageCodegen spans).
  *
  * usage: runMain graft.tools.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // Bench's session (extensions included — the injected optimizer
    // rules change plan shapes), so dumped plans are the plans the bench
    // actually runs
    val spark = GraftSession(defaultCpus = 8, memoize = false)
    names.foreach { name =>
      println(s"\n================ $name ================")
      try println(graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
