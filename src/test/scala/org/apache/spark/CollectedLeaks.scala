package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}

/** The persisted RDDs the `ContextCleaner` freed because their object was
  * garbage-collected while still persisted: RDDs dropped without a
  * release, which `SparkContext.getPersistentRDDs` (it holds RDDs
  * weakly) no longer shows once they are collected.
  *
  * Every unpersist posts an `UnpersistRDD` event, the cleaner's own
  * included, and the cleaner reports every persisted RDD it frees, also
  * one released before it was collected. So an RDD the cleaner freed
  * with a single unpersist event (the cleaner's) was never released.
  * `ContextCleaner` and `CleanerListener` are private[spark], hence the
  * package. */
final class CollectedLeaks private (sc: SparkContext)
    extends SparkListener with CleanerListener {

  private val cleaned = ConcurrentHashMap.newKeySet[Int]()
  private val unpersists = new ConcurrentHashMap[Int, AtomicInteger]()

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    unpersists.computeIfAbsent(e.rddId, _ => new AtomicInteger).incrementAndGet()

  def rddCleaned(rddId: Int): Unit = cleaned.add(rddId)
  def shuffleCleaned(shuffleId: Int): Unit = ()
  def broadcastCleaned(broadcastId: Long): Unit = ()
  def accumCleaned(accId: Long): Unit = ()
  def checkpointCleaned(rddId: Long): Unit = ()

  /** The RDDs with id `from` or above that the cleaner has freed without
    * a release. */
  def since(from: Int): Set[Int] = {
    val freed = cleaned.asScala.filter(_ >= from).toSet
    // the cleaner posts its unpersist before it reports the RDD freed,
    // so once the bus is drained every event behind `freed` is counted
    sc.listenerBus.waitUntilEmpty()
    freed.filter(id => Option(unpersists.get(id)).forall(_.get <= 1))
  }
}

object CollectedLeaks {
  private var attached: Option[(SparkContext, CollectedLeaks)] = None

  /** The one watcher of `sc`, attached on first use. */
  def of(sc: SparkContext): CollectedLeaks = synchronized {
    attached.collect { case (`sc`, w) => w }.getOrElse {
      val w = new CollectedLeaks(sc)
      sc.addSparkListener(w)
      sc.cleaner.foreach(_.attachListener(w))
      attached = Some(sc -> w)
      w
    }
  }
}
