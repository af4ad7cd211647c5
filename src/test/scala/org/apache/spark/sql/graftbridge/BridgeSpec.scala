package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

class BridgeSpec extends AnyFunSuite {

  test("scratchDir returns a fresh directory registered for recursive delete") {
    val a = Bridge.scratchDir("graft_bridge_probe")
    val b = Bridge.scratchDir("graft_bridge_probe")
    assert(a.isDirectory && b.isDirectory && a != b)
    assert(a.getName.startsWith("graft_bridge_probe"))
    assert(a.getParentFile.getCanonicalPath ==
      new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    // Spark's shutdown hook deletes it with its contents at JVM exit
    assert(org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(a))
    assert(org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(b))
  }
}

/** A session on `spark`'s context and shared state that applies NO
  * session extensions — not even the `spark.sql.extensions` the shared
  * test context sets — so its function registry holds only Spark's
  * built-ins. */
object BareSession {
  def of(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the primary constructor (context, shared state, parent state,
    // extensions, options, job tags) is class-private in Scala; every
    // public path applies the context's spark.sql.extensions
    classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(s.sparkContext, Some(s.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
