package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇔ catalyst Expression bridge. Spark 4's Column wraps a
  * connect-agnostic ColumnNode; the conversion helpers live in
  * `org.apache.spark.sql.classic` with `private[sql]` visibility, so
  * extension expressions (graft.functions.CosineSimilarity) reach them
  * through this in-package shim — the standard pattern for Catalyst
  * extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A fresh directory `<java.io.tmpdir>/<prefix>-<uuid>` that is
    * deleted WITH ITS CONTENTS when the JVM exits: Spark's own
    * `Utils.createTempDir`, which registers a recursive delete with
    * Spark's `ShutdownHookManager` (`File.deleteOnExit` cannot remove a
    * non-empty directory, so it leaks every staged or checkpoint dir). */
  def scratchDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(
      System.getProperty("java.io.tmpdir"), prefix)

  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** DataFrame from a raw LogicalPlan (classic Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of catalyst rows of `schema`; its LogicalRDD
    * holds `rdd` itself, so releasing that RDD releases the frame's
    * storage (classic `internalCreateDataFrame` is private[sql]). */
  def rowsFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A copy of `spark` with its own conf: setting a key on the copy
    * leaves `spark` as it was (classic `cloneSession` is private[sql]). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The two figures a file scan sizes its splits by, as
    * `FilePartition.maxSplitBytes` takes them:
    * `spark.sql.files.maxPartitionBytes`, and the split count it aims
    * for, `spark.sql.files.minPartitionNum` or else the leaf-node
    * default parallelism. */
  def fileSplitFigures(spark: org.apache.spark.sql.SparkSession): (Long, Int) = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = s.sessionState.conf
    (conf.filesMaxPartitionBytes, conf.filesMinPartitionNum.getOrElse(s.leafNodeDefaultParallelism))
  }

  /** Release the block-manager storage behind a (local)checkpointed
    * DataFrame. `Dataset.unpersist` only uncaches CacheManager entries;
    * a checkpoint's blocks were persisted at the RDD level inside
    * `RDD.localCheckpoint` and are invisible to it — without this, every
    * iteration's checkpoint lives until the driver GCs the orphaned RDD
    * and the ContextCleaner gets around to it. No-op for plans that are
    * not checkpoint-backed. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** The RDD-backed leaves of `df`'s logical plan — for a plan built
    * over lazy checkpoints, those checkpoints — as frames
    * [[releaseCheckpoint]] accepts. */
  def checkpointsIn(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.DataFrame] =
    df.queryExecution.logical.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => ofRows(df.sparkSession, l)
    }

  /** Lazy local checkpoint with runaway plan statistics capped.
    *
    * Spark 4's `Dataset.checkpoint` carries the origin plan's estimated
    * `Statistics` onto the truncating [[org.apache.spark.sql.execution.LogicalRDD]]
    * (`originStats`) so that small checkpointed frames stay
    * broadcast-eligible. For iterative algorithms whose per-round plan
    * joins the checkpointed state frame with itself more than once, that
    * carry turns `sizeInBytes` into a PRODUCT recurrence: the estimate
    * multiplies every round, the BigInt doubles in bit length per extra
    * self-reference, and after a few dozen rounds
    * `JoinSelection.canBroadcastBySize` spends minutes per round in
    * `BigInteger.multiply` on numbers with millions of bits (observed:
    * Jones-Plassmann coloring at 23 rounds froze the driver). Capping at
    * `Long.MaxValue` is lossless for planning — every code path compares
    * against thresholds far below it, and an absent `originStats` would
    * default to the same `spark.sql.defaultSizeInBytes` ceiling — while
    * keeping genuinely small frames broadcastable. */
  def lazyCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val ck = df.localCheckpoint(eager = false)
    ck.queryExecution.logical match {
      case l: LogicalRDD =>
        val cap = BigInt(Long.MaxValue)
        val s = l.computeStats()
        if (s.sizeInBytes <= cap && s.rowCount.forall(_ <= cap)) ck
        else {
          val capped = Statistics(
            sizeInBytes = s.sizeInBytes.min(cap),
            rowCount = s.rowCount.map(_.min(cap)))
          ofRows(df.sparkSession, new LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            Some(capped), None))
        }
      case _ => ck
    }
  }

  /** V2 Predicate → V1 Filter (`PredicateUtils` is `private[sql]`);
    * None when the predicate has no V1 translation. Used by the
    * connector's SupportsDeleteV2 to reuse its pushdown filter set. */
  def predicateToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Blocks until every listener event posted so far has reached every
    * listener (`listenerBus` is `private[spark]`), so counts a listener
    * keeps are complete once this returns, with no sleep. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Install an extra planner strategy on a live session (idempotent). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
