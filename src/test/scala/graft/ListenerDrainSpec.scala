package graft

import graft.testkit.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge
import java.util.concurrent.atomic.AtomicInteger

/** Listener events arrive on the bus asynchronously; after one
  * `Bridge.drainListeners` every event of the actions before it has
  * been delivered, so a count read then is exact with no sleep. */
class ListenerDrainSpec extends SparkSpec {

  test("after k actions and one drain a listener has seen exactly k jobs") {
    val sc = spark.sparkContext
    val group = "listener-drain-spec"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "drain spec")
    try {
      val k = 7
      (1 to k).foreach(i => sc.parallelize(1 to 100, 4).map(_ * i).count())
      Bridge.drainListeners(sc)
      assert(jobs.get == k)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
