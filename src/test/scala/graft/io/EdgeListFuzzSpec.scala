package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Seeded randomized sweep of the connector's parser and pushdowns:
  * random edge files (value ranges crossing every literal-width
  * boundary, single- and multi-file dirs, with and without trailing
  * newline) read at random chunk sizes — including sizes far below one
  * line — with random filter / prune / group combinations, each case
  * compared against a straightforward in-memory parse of the same
  * bytes. Deterministic (fixed seed): a failure replays exactly. */
class EdgeListFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.sources.EdgeListSource"
  private val rnd = new scala.util.Random(20260814L)

  private def v(): Long = rnd.nextInt(4) match {
    case 0 => rnd.nextInt(10).toLong            // 1-digit
    case 1 => rnd.nextInt(100000).toLong        // mid-width
    case 2 => Long.MaxValue - rnd.nextInt(1000) // 19-digit
    case _ => rnd.nextInt(2).toLong             // heavy duplicates
  }

  private def randomEdges(n: Int): Seq[(Long, Long)] =
    Seq.fill(n)((v(), v()))

  test("random files x chunk sizes x pushdowns all equal the reference parse") {
    (0 until 25).foreach { caseIdx =>
      val edges = randomEdges(1 + rnd.nextInt(200))
      val nFiles = 1 + rnd.nextInt(3)
      val trailing = rnd.nextBoolean()
      val dir = Bridge.scratchDir(s"graft_fuzz_$caseIdx").toPath
      edges.grouped(math.max(1, edges.size / nFiles)).zipWithIndex.foreach {
        case (part, i) =>
          val body = part.map { case (s, d) => s"$s $d" }.mkString("\n")
          Files.write(dir.resolve(f"part-$i%03d.txt"),
            (if (trailing) body + "\n" else body).getBytes(StandardCharsets.UTF_8))
      }
      val chunk = 1 + rnd.nextInt(64)
      val base = spark.read.format(Fmt)
        .option("chunkBytes", chunk.toString).load(dir.toString)
      val tag = s"case=$caseIdx chunk=$chunk files=$nFiles trailing=$trailing n=${edges.size}"

      // full read
      assert(base.as[(Long, Long)].collect().sorted.toSeq == edges.sorted, tag)

      // random filter pushdown
      val lo = rnd.nextInt(100000).toLong
      val filtered = base.where(col("dst") >= lo).as[(Long, Long)]
        .collect().sorted.toSeq
      assert(filtered == edges.filter(_._2 >= lo).sorted, s"$tag lo=$lo")

      // pruned single-column read
      val dsts = base.select("dst").as[Long].collect().sorted.toSeq
      assert(dsts == edges.map(_._2).sorted, tag)

      // grouped pushdown under a tiny flush cap
      val got = base.where(col("dst") >= lo)
        .groupBy("src").agg(count(lit(1)).as("n"), max("dst").as("mx"))
        .as[(Long, Long, Long)].collect().toSet
      val want = edges.filter(_._2 >= lo).groupBy(_._1).map { case (s, es) =>
        (s, es.size.toLong, es.map(_._2).max) }.toSet
      assert(got == want, s"$tag lo=$lo grouped")

      // limit pushdown: a prefix of the post-filter rows, count exact
      val lim = 1 + rnd.nextInt(10)
      val limited = base.where(col("dst") >= lo).limit(lim).collect()
      assert(limited.length == math.min(lim, edges.count(_._2 >= lo)),
        s"$tag lim=$lim")
    }
  }

  test("random sorted bucketed layouts: exact round trip, per-partition order, pushdown under merge") {
    // the k-way merge reader is new core read-path code — sweep it the
    // same way the parser is swept: random sizes, bucket counts, write
    // parallelism, key distributions (heavy duplicates included), both
    // key columns, a random pushed filter riding through the merge
    (0 until 12).foreach { caseIdx =>
      val n = 50 + rnd.nextInt(3000)
      val edges = randomEdges(n)
      val buckets = 1 + rnd.nextInt(12)
      val tasks = 1 + rnd.nextInt(5)
      val keyCol = if (rnd.nextBoolean()) "src" else "dst"
      val dir = Bridge.scratchDir(s"graft_fuzz_sb_$caseIdx").toPath
      val tag = s"case=$caseIdx n=$n buckets=$buckets tasks=$tasks key=$keyCol"
      edges.toDF("src", "dst").repartition(tasks)
        .write.format(Fmt)
        .option("bucketBy", keyCol).option("numBuckets", buckets.toString)
        .mode("overwrite").save(dir.toString)
      assert(graft.sources.BucketSpecIO.sortedOf(dir.toString), tag)
      val back = spark.read.format(Fmt).load(dir.toString)
      // multiset equality through the merge
      assert(back.groupBy("src", "dst").count()
        .except(edges.toDF("src", "dst").groupBy("src", "dst").count())
        .isEmpty, tag)
      // each planned partition is one bucket, ascending in the key
      val keyIdx = if (keyCol == "src") 0 else 1
      val perPart = back.rdd
        .mapPartitions(it => Iterator.single(it.map(_.getLong(keyIdx)).toSeq))
        .collect()
      perPart.foreach(ks => assert(ks == ks.sorted, tag))
      // a random pushed filter rides through the merge unchanged
      val lo = v()
      assert(back.where(col("dst") >= lo).count()
        == edges.count(_._2 >= lo), s"$tag lo=$lo")
    }
  }
}
