package graft.sources

import java.nio.file.Files

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The reference's labeled edge format (`vi vj label`, integer label —
  * read_edge_label, `sscanf %lu %lu %d`) through the DSv2 connector. */
class EdgeListLabeledSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.EdgeListSource"

  private def freshDir(): java.io.File =
    Bridge.scratchDir("graft_l").toPath.resolve("edges").toFile

  test("labeled write -> read round trip, including negative labels") {
    val dir = freshDir()
    val rows = Seq((1L, 2L, 5L), (3L, 4L, -17L), (5L, 6L, 0L))
    rows.toDF("src", "dst", "label").coalesce(1)
      .write.format(fmt).option("withLabel", "true")
      .mode("overwrite").save(dir.getPath)
    val back = spark.read.format(fmt).option("withLabel", "true")
      .load(dir.getPath).as[(Long, Long, Long)].collect().toSet
    assert(back == rows.toSet)
  }

  test("hand-written reference file parses; bad labels are malformed") {
    val dir = freshDir()
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "e.txt").toPath,
      "1 2 7\n3 4 -3\n5 6 00\n7 8 1.5\n9 10 2\n".getBytes("UTF-8"))
    val kept = spark.read.format(fmt).option("withLabel", "true")
      .option("malformed", "skip").load(dir.getPath)
      .as[(Long, Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L, 7L), (3L, 4L, -3L), (9L, 10L, 2L)))
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    val strict = intercept[Exception] {
      spark.read.format(fmt).option("withLabel", "true")
        .load(dir.getPath).collect()
    }
    assert(chain(strict).exists(c => c.getMessage != null &&
      c.getMessage.contains("malformed edge line")))
  }

  test("withWeight and withLabel are mutually exclusive") {
    val dir = freshDir()
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1)
      .write.format(fmt).mode("overwrite").save(dir.getPath)
    val e = intercept[Exception] {
      spark.read.format(fmt).option("withLabel", "true")
        .option("withWeight", "true").load(dir.getPath).collect()
    }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("mutually exclusive")))
  }
}
