package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: makes the engine a drop-in library —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers the native SQL functions and the TopKPerKey planner
  * strategy on EVERY session (including ones the application code never
  * touches, e.g. thrift-server sessions), without any imperative
  * `register(spark)` call. The Column-API paths keep their lazy
  * per-session installation so the library also works without the conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // window-top-k idiom -> TopKPerKey (bounded map-side heaps);
    // the strategy above plans the node the rule introduces
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // count(DISTINCT x) -> hll60 sketch, OPT-IN (off by default)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // keyless range join -> bin-replicated equi-join, OPT-IN (fires
    // only when spark.graft.rangeJoin.binWidth is set)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // levenshtein(a,b) <= k join -> FastSS deletion-neighborhood
    // blocked join, OPT-IN (spark.graft.fuzzyJoin.enabled)
    ext.injectOptimizerRule(_ => graft.plans.FuzzyJoinRewrite)
    // the SQL functions: the same table GraftFunctions.register reads
    graft.functions.GraftFunctions.sqlFunctions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.build))
    }
    // SQL TABLE functions (extension-only): SELECT * FROM
    // graft_rmat(levels, n, seed) / graft_edges(path[, chunkBytes]) / ...
    ext.injectTableFunction((
      FunctionIdentifier("graft_rmat"),
      new ExpressionInfo(graft.graph.RMat.getClass.getName, "graft_rmat"),
      graft.functions.GraftFunctions.rmatTvfBuilder _))
    ext.injectTableFunction((
      FunctionIdentifier("graft_edges"),
      new ExpressionInfo(classOf[graft.sources.EdgeListSource].getName, "graft_edges"),
      graft.functions.GraftFunctions.edgesTvfBuilder _))
    ext.injectTableFunction((
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(classOf[graft.sources.EdgeListSource].getName, "graft_history"),
      graft.functions.GraftFunctions.historyTvfBuilder _))
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(classOf[graft.sources.EdgeListSource].getName, "graft_changes"),
      graft.functions.GraftFunctions.changesTvfBuilder _))
    ext.injectTableFunction((
      FunctionIdentifier("graft_buckets"),
      new ExpressionInfo(classOf[graft.sources.EdgeListSource].getName, "graft_buckets"),
      graft.functions.GraftFunctions.bucketsTvfBuilder _))
  }
}
