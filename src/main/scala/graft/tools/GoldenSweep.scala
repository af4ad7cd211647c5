package graft.tools

import graft.GraftSession
import graft.graph.PageRank
import graft.io.EdgeListIO

/** Golden-parity regression sweep: run reference-semantics PageRank on
  * every `/root/reference/test/<name>.txt` that ships a
  * `result/<name>-pr-p.txt` oracle (or the names passed as args) and
  * compare per-id within the checker tolerance 1e-4
  * (`correctness_checker.cpp:34-56`). One session for the whole sweep.
  *
  * usage: runMain graft.tools.GoldenSweep [name ...]
  */
object GoldenSweep {
  def main(args: Array[String]): Unit = {
    val testDir = new java.io.File("/root/reference/test")
    val names =
      if (args.nonEmpty) args.toSeq
      else testDir.listFiles().map(_.getName)
        .filter(_.endsWith(".txt")).map(_.stripSuffix(".txt"))
        .filter(n => new java.io.File(s"/root/reference/result/$n-pr-p.txt").exists())
        .sorted.toSeq

    val spark = GraftSession(defaultCpus = 32)

    var failures = 0
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val edges = EdgeListIO.readValidated(spark, s"/root/reference/test/$name.txt")
        val (ranks, iters) = PageRank.runWithStats(spark, edges, None,
          PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 10)
        val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val (expected, _) = EdgeListIO.parseGolden(s"/root/reference/result/$name-pr-p.txt")
        val secs = (System.nanoTime() - t0) / 1e9
        if (got.keySet != expected.keySet) {
          failures += 1
          println(f"FAIL  $name%-20s id universe ${got.size} vs ${expected.size}")
        } else {
          val maxDiff = expected.map { case (id, v) => math.abs(got(id) - v) }.max
          val ok = maxDiff <= 1e-4
          if (!ok) failures += 1
          println(f"${if (ok) "PASS" else "FAIL"}  $name%-20s maxdiff=$maxDiff%.2e iters=$iters%3d ${secs}%6.1f s")
        }
      } catch {
        case e: Throwable =>
          failures += 1
          println(f"FAIL  $name%-20s ${e.getMessage}")
      }
    }
    println(s"\n${names.size - failures}/${names.size} golden datasets pass")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
