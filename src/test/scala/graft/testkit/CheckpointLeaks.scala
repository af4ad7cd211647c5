package graft.testkit

import org.apache.spark.CollectedLeaks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The checkpoint-leak contract of the iterative graph loops and the
  * streaming folds: after a call's result is collected, the only
  * persisted RDDs the call added are the checkpoints the returned plan
  * reads directly. */
object CheckpointLeaks {

  /** The persisted RDDs `call` left behind other than those its result
    * reads directly: the ones still registered, and the ones the
    * `ContextCleaner` already freed because the code dropped them
    * without a release and the garbage collector took them. */
  def leftBehind(spark: SparkSession)(call: => DataFrame): Set[Int] = {
    val sc = spark.sparkContext
    val collected = CollectedLeaks.of(sc)
    val from = sc.emptyRDD[Int].id // every RDD of the call has a later id
    val before = sc.getPersistentRDDs.keySet
    val result = call
    result.collect()
    val own = result.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSet
    // the registry holds RDDs weakly, so entries from before the call
    // may vanish; only additions are checked
    val added = sc.getPersistentRDDs.keySet -- before
    (added ++ collected.since(from)).toSet -- own
  }
}
