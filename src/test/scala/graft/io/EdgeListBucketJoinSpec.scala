package graft.io

import graft.testkit.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The connector's STORAGE-PARTITIONED JOIN must actually be
  * exchange-free: two edge-list tables bucketed alike report
  * `bucket(n, src)` key-grouped partitioning, EdgeListCatalog's
  * function catalog resolves both transforms to the same function, and
  * the sort-merge join plans with zero Exchange — the engine's own
  * format now carries the q45 bucketed-layout guarantee
  * (BucketJoinSpec proves it for builtin tables; this spec for the
  * connector). Plus the layout lifecycle: tagged files + sidecar on
  * write, auto-bucketed appends, fail-fast on a contradicting append,
  * safe degradation when a file loses its tag. */
class EdgeListBucketJoinSpec extends SparkSpec {

  private val fmt = "graft.sources.EdgeListSource"

  private def tmp(): java.io.File = Bridge.scratchDir("graft_bktj_")

  private def edges(n: Int): DataFrame =
    spark.range(n).selectExpr("id % 97 AS src", "(id * 7) % 89 AS dst")

  private def withSpj[A](f: => A): A = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed write: tagged files, sidecar, exact round trip") {
    val root = tmp()
    val e = edges(5000)
    e.repartition(3).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/t")
    // sidecar persisted
    assert(graft.sources.BucketSpecIO.read(s"$root/t") === Some(("src", 8)))
    // every data file tagged with a valid bucket id
    val files = graft.sources.EdgeListSource.listFiles(s"$root/t")
    assert(files.nonEmpty)
    files.foreach { f =>
      val b = graft.sources.BucketSpecIO.bucketOf(f.getName)
      assert(b.isDefined && b.get >= 0 && b.get < 8, s"untagged file $f")
    }
    // the rows came back exactly (multiset equality via counts)
    val back = spark.read.format(fmt).load(s"$root/t")
    assert(back.count() === 5000)
    assert(back.groupBy("src", "dst").count()
      .except(e.groupBy("src", "dst").count()).isEmpty)
    // and each file holds ONLY rows of its bucket
    val withFile = spark.read.format(fmt).load(s"$root/t")
      .select(col("src"), col("_file"))
      .collect()
    withFile.foreach { r =>
      val tag = graft.sources.BucketSpecIO
        .bucketOf(new java.io.File(r.getString(1)).getName).get
      assert(graft.sources.BucketHash.bucket(r.getLong(0), 8) === tag)
    }
  }

  test("storage-partitioned join: zero exchanges, answer matches unbucketed") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    val b = edges(4000).selectExpr("dst AS src", "src AS dst")
    a.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/a")
    b.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/b")
    val out = withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(b.dst) AS BIGINT) AS s
           |FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      val ex = nodes.filter(_.isInstanceOf[Exchange])
      assert(ex.isEmpty,
        s"SPJ still planned ${ex.size} Exchange(s):\n${df.queryExecution.executedPlan}")
      rows
    }
    // truth from the in-memory frames, no connector, no layout
    val truth = a.as("a").join(b.as("b"), "src")
      .groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("n"), sum(col("b.dst")).cast("long").as("s"))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === truth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
  }

  test("COMPOUND bucket key (src,dst): tagged write, exact fanout, SPJ on both columns") {
    val root = tmp()
    val a = edges(4000)
    val b = edges(4000).where((col("src") + col("dst")) % 3 === 0)
    a.repartition(4).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/a")
    b.repartition(2).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/b")
    assert(graft.sources.BucketSpecIO.read(s"$root/a") === Some(("src,dst", 8)))
    // compound layouts carry the FULL sorted contract too (files
    // lexicographically sorted on the pair; merge reader is two-key)
    assert(graft.sources.BucketSpecIO.sortedOf(s"$root/a"))
    // each file holds ONLY rows of its grid cell (tag = cell index)
    spark.read.format(fmt).load(s"$root/a")
      .select(col("src"), col("dst"), col("_file")).collect().foreach { r =>
        val tag = graft.sources.BucketSpecIO
          .bucketOf(new java.io.File(r.getString(2)).getName).get
        assert(graft.sources.BucketHash
          .cell(r.getLong(0), r.getLong(1), 8) === tag)
      }
    // SPJ on BOTH key columns: zero Exchange, answer matches in-memory.
    // The aggregate groups by BOTH keys — the grid partitioning
    // satisfies (src, dst) grouping; a src-only GROUP BY would
    // (correctly) re-exchange above the still-exchange-free join.
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val out = withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, a.dst AS w, count(*) AS n
           |FROM graft.`$root/a` a JOIN graft.`$root/b` b
           |ON a.src = b.src AND a.dst = b.dst
           |GROUP BY a.src, a.dst""".stripMargin)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      val ex = nodes.filter(_.isInstanceOf[Exchange])
      assert(ex.isEmpty,
        s"compound SPJ planned ${ex.size} Exchange(s):\n${df.queryExecution.executedPlan}")
      // the compound sorted layout: zero Sort too — the grid pays the
      // shuffle AND the lexicographic sort once, at write time
      val sorts = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
      assert(sorts.isEmpty,
        s"compound SPJ planned ${sorts.size} Sort(s):\n${df.queryExecution.executedPlan}")
      rows
    }
    val truth = a.join(b, Seq("src", "dst"))
      .groupBy(col("src").as("v"), col("dst").as("w"))
      .agg(count(lit(1)).as("n")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === truth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
    // a single-key layout must NOT prove compatible with a compound one
    // (different hash functions): the join still answers correctly,
    // through an exchange
    edges(4000).repartition(2).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/c")
    withSpj {
      val df = spark.sql(
        s"""SELECT count(*) AS n FROM graft.`$root/a` a
           |JOIN graft.`$root/c` c
           |ON a.src = c.src AND a.dst = c.dst""".stripMargin)
      val n = df.collect().head.getLong(0)
      assert(n === a.join(edges(4000), Seq("src", "dst")).count())
    }
  }

  test("compound grid + SPJ partition filter: the dim's present cells prune the fact at planning") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    // dim present in FEW grid cells: a handful of exact (src, dst)
    // pairs → at most 3 of 16 cells hold files
    val b = a.where(col("src").isin(7L, 11L) && col("dst") < 30)
    a.repartition(3).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/fact")
    b.repartition(1).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/dim")
    val totalFiles = graft.sources.EdgeListSource.listFiles(s"$root/fact").size
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partition.filter.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "true"))
    try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, a.dst AS w, count(*) AS n
           |FROM graft.`$root/fact` a JOIN graft.`$root/dim` b
           |ON a.src = b.src AND a.dst = b.dst
           |GROUP BY a.src, a.dst""".stripMargin)
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val truth = a.join(b, Seq("src", "dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got === truth)
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.count(_.isInstanceOf[Exchange]) === 0,
        s"grid partition-filtered SPJ exchanged:\n${df.queryExecution.executedPlan}")
      val fact = nodes.collect {
        case sc: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if sc.scan.description().contains("/fact") => sc }.head
      val planned = fact.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions
        case _ => Nil
      }.flatMap {
        case sb: graft.sources.SortedBucketFiles => sb.files.map(_._1)
        case er: graft.sources.EdgeRange => Seq(er.file)
      }.distinct.size
      assert(planned < totalFiles,
        s"grid partition filter inactive: planned $planned of $totalFiles")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("compound grid width drift: 8/dim joins 4/dim exchange-free via per-transform reducers") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    val b = edges(4000).where((col("src") + col("dst")) % 3 === 0)
    a.repartition(2).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/wide")
    b.repartition(2).write.format(fmt)
      .option("bucketBy", "src,dst").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/narrow")
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "true"))
    try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, a.dst AS w, count(*) AS n
           |FROM graft.`$root/wide` a JOIN graft.`$root/narrow` b
           |ON a.src = b.src AND a.dst = b.dst
           |GROUP BY a.src, a.dst""".stripMargin)
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val truth = a.join(b, Seq("src", "dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got === truth)
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      val ex = nodes.filter(_.isInstanceOf[Exchange])
      assert(ex.isEmpty,
        s"width-drifted grid join planned ${ex.size} Exchange(s):\n" +
          s"${df.queryExecution.executedPlan}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("append without options keeps the layout; contradicting append fails") {
    val root = tmp()
    edges(1000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/t")
    // plain append rides the sidecar — still fully tagged after
    edges(500).write.format(fmt).mode("append").save(s"$root/t")
    val files = graft.sources.EdgeListSource.listFiles(s"$root/t")
    files.foreach(f => assert(
      graft.sources.BucketSpecIO.bucketOf(f.getName).exists(_ < 4)))
    assert(spark.read.format(fmt).load(s"$root/t").count() === 1500)
    // a contradicting append fails fast
    val err = intercept[Exception] {
      edges(10).write.format(fmt)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("append").save(s"$root/t")
    }
    assert(err.getMessage.contains("contradicts table layout"))
    // an overwrite MAY re-layout
    edges(1000).write.format(fmt)
      .option("bucketBy", "dst").option("numBuckets", "2")
      .mode("overwrite").save(s"$root/t")
    assert(graft.sources.BucketSpecIO.read(s"$root/t") === Some(("dst", 2)))
  }

  test("an untagged file degrades the report to a shuffled (still correct) join") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/a")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/b")
    // simulate a pre-bucketing file landing in table b (e.g. an old
    // generation): hand-write an untagged data file + recommit
    java.nio.file.Files.write(
      new java.io.File(s"$root/b", "part-legacy.txt").toPath,
      "1 2\n".getBytes("UTF-8"))
    graft.sources.EdgeLog.commit(new java.io.File(s"$root/b"))
    val df = withSpj {
      spark.sql(s"SELECT /*+ MERGE(a) */ count(*) AS n " +
        s"FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src")
    }
    val n = df.collect().head.getLong(0)
    // correctness holds; the plan simply shuffles again
    val expected = edges(2000).as("x")
      .join(edges(2000).unionByName(
        spark.sql("SELECT 1L AS src, 2L AS dst")), "src").count()
    assert(n === expected)
    assert(graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[ShuffleExchangeExec]),
      "degraded table should not report key-grouped partitioning")
  }

  test("mixed join: only the unbucketed side shuffles, into OUR bucket function") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    a.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/a")
    // the fresh batch side: plain (unbucketed) connector table
    val b = edges(1000).selectExpr("dst AS src", "src AS dst")
    b.repartition(2).write.format(fmt).mode("overwrite").save(s"$root/b")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "true"))
    // the shuffled side is hashed by BoundBucket.produceResult: any
    // disagreement with the writer's BucketHash would land rows in the
    // wrong partition and silently DROP matches — the count equality
    // below is the contract test
    try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(b.dst) AS BIGINT) AS s
           |FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      val shuffles = nodes.filter(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles.size === 1,
        s"expected exactly the batch-side shuffle, got ${shuffles.size}:\n" +
          df.queryExecution.executedPlan)
      val truth = a.as("a").join(b.as("b"), "src")
        .groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("n"), sum(col("b.dst")).cast("long").as("s"))
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        === truth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucket pruning: a point filter plans only its buckets' files, exactly") {
    val root = tmp()
    edges(5000).repartition(3).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/t")
    val files = graft.sources.EdgeListSource.listFiles(s"$root/t")
    // count planned FILES, not partitions: a sorted layout plans one
    // merged partition per bucket holding that bucket's file list
    def scanSize(df: DataFrame): Int = {
      df.collect()
      graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.flatMap {
            case s: graft.sources.SortedBucketFiles => s.files.map(_._1)
            case e: graft.sources.EdgeRange => Seq(e.file)
          }.distinct.size
      }.sum
    }
    val full = spark.read.format(fmt).load(s"$root/t")
    assert(scanSize(full) === files.size)
    // equality probe: exactly the matching bucket's files, right rows
    val one = spark.read.format(fmt).load(s"$root/t")
      .where(col("src") === 42L)
    val b42 = graft.sources.BucketHash.bucket(42L, 8)
    val expected42 = files.count(f =>
      graft.sources.BucketSpecIO.bucketOf(f.getName).contains(b42))
    assert(scanSize(one) === expected42 && expected42 < files.size)
    assert(one.count() === edges(5000).where(col("src") === 42L).count())
    // IN probe: union of the named keys' buckets
    val in = spark.read.format(fmt).load(s"$root/t")
      .where(col("src").isin(1L, 2L, 3L))
    val allowed = Set(1L, 2L, 3L).map(graft.sources.BucketHash.bucket(_, 8))
    val expectedIn = files.count(f => graft.sources.BucketSpecIO
      .bucketOf(f.getName).exists(allowed.contains))
    assert(scanSize(in) === expectedIn)
    assert(in.count() ===
      edges(5000).where(col("src").isin(1L, 2L, 3L)).count())
    // a range filter does NOT bucket-prune (hash order is unrelated)
    val rng = spark.read.format(fmt).load(s"$root/t")
      .where(col("src") < 3L)
    assert(rng.count() === edges(5000).where(col("src") < 3L).count())
  }

  test("SPJ survives time travel: a pinned snapshot still joins exchange-free") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/a")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/b")
    val v = graft.sources.EdgeLog
      .currentVersion(new java.io.File(s"$root/a")).get
    // later append grows the live table; the pinned snapshot's file set
    // is still fully tagged and reports the same layout
    edges(100).write.format(fmt).mode("append").save(s"$root/a")
    withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src, count(*) AS n
           |FROM graft.`$root/a` VERSION AS OF $v a
           |JOIN graft.`$root/b` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val n = df.collect().map(_.getLong(1)).sum
      assert(graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[Exchange]) === 0)
      val truth = edges(2000).join(edges(2000), "src").count()
      assert(n === truth, "pinned snapshot must exclude the later append")
    }
  }

  test("weighted bucketed table: fanout keeps the third column, SPJ holds") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val w = edges(2000).withColumn("weight",
      (col("src") % 5 + 1).cast("double"))
    w.repartition(3).write.format(fmt)
      .option("withWeight", "true")
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/w")
    val back = spark.read.format(fmt).option("withWeight", "true")
      .load(s"$root/w")
    assert(back.count() === 2000)
    assert(back.agg(sum("weight")).head().getDouble(0) ===
      w.agg(sum("weight")).head().getDouble(0))
    graft.sources.EdgeListSource.listFiles(s"$root/w").foreach(f =>
      assert(graft.sources.BucketSpecIO.bucketOf(f.getName).isDefined))
  }

  test("graft_buckets TVF describes the layout, per-bucket, exactly") {
    val root = tmp()
    edges(5000).repartition(2).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/t")
    val desc = spark.sql(s"SELECT * FROM graft_buckets('$root/t')").collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getBoolean(2), r.getInt(3), r.getLong(5))))
      .toMap
    assert(desc.keySet === Set(0, 1, 2, 3))
    assert(desc.values.forall(_._1 == "src"))
    // round-12 writes carry the sorted-layout flag
    assert(desc.values.forall(_._2 == true))
    // per-bucket row sums from sidecars reconcile to the table total
    assert(desc.values.map(_._4).sum === 5000L)
    // and each bucket's count equals the hash's truth
    val truth = edges(5000).collect().groupBy(r =>
      graft.sources.BucketHash.bucket(r.getLong(0), 4))
      .view.mapValues(_.length.toLong).toMap
    (0 until 4).foreach(b => assert(desc(b)._4 === truth.getOrElse(b, 0L)))
    // an untagged file surfaces as bucket -1 with NULL rows
    java.nio.file.Files.write(
      new java.io.File(s"$root/t", "part-legacy.txt").toPath,
      "1 2\n".getBytes("UTF-8"))
    val withLegacy = spark.sql(s"SELECT * FROM graft_buckets('$root/t')")
      .collect().map(r => r.getInt(0) -> r.isNullAt(5)).toMap
    assert(withLegacy(-1) === true)
    // unbucketed table: absence of layout is an error, not empty
    edges(10).write.format(fmt).mode("overwrite").save(s"$root/plain")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_buckets('$root/plain')").collect()
    }
    assert(e.getMessage.contains("no bucketed layout"))
  }

  test("DELETE preserves tags and the layout keeps joining exchange-free") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/a")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/b")
    spark.sql(s"DELETE FROM graft.`$root/a` WHERE dst < 5")
    graft.sources.EdgeListSource.listFiles(s"$root/a").foreach(f =>
      assert(graft.sources.BucketSpecIO.bucketOf(f.getName).isDefined,
        s"DELETE broke the tag on $f"))
    withSpj {
      // group by the bucket key: the key-grouped output satisfies the
      // aggregate's clustering too (a GLOBAL count would legitimately
      // plan one single-partition Exchange above the join)
      val df = spark.sql(s"SELECT /*+ MERGE(a) */ a.src, count(*) AS n " +
        s"FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src " +
        s"GROUP BY a.src")
      df.collect()
      assert(graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[Exchange]) === 0)
    }
  }

  test("sorted layout: flagged sidecar, internally-sorted files, merged sorted partitions") {
    val root = tmp()
    // 4 write tasks x 8 buckets: multiple files per bucket, so the read
    // MUST k-way merge (concatenation would interleave key runs)
    edges(6000).repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/t")
    assert(graft.sources.BucketSpecIO.sortedOf(s"$root/t"),
      "bucketed write did not persist the sorted flag")
    val files = graft.sources.EdgeListSource.listFiles(s"$root/t")
    assert(files.count(f => graft.sources.BucketSpecIO
      .bucketOf(f.getName).contains(0)) > 1,
      "fixture too small: need >1 file in a bucket to prove the merge")
    // on-disk contract: every file is non-decreasing in src
    files.foreach { f =>
      val keys = scala.io.Source.fromFile(f).getLines()
        .map(_.split(" ")(0).toLong).toSeq
      assert(keys == keys.sorted, s"${f.getName} is not sorted by src")
    }
    // read-side contract: each planned partition is one whole bucket,
    // merged ascending
    val df = spark.read.format(fmt).load(s"$root/t")
    val perPart = df.select("src").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    assert(perPart.length === 8)
    perPart.foreach(ks => assert(ks == ks.sorted, "partition not merged"))
    // and nothing lost through the merge
    assert(df.count() === 6000)
    assert(df.groupBy("src", "dst").count()
      .except(edges(6000).groupBy("src", "dst").count()).isEmpty)
  }

  test("v2 bucketing: an unset key and an explicit true plan the same input partitions") {
    val root = tmp()
    edges(6000).repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/t")
    val key = "spark.sql.sources.v2.bucketing.enabled"
    /** The input partitions a plain read of the table plans on `s`. */
    def planned(s: org.apache.spark.sql.SparkSession): Seq[String] = {
      val prev = org.apache.spark.sql.SparkSession.getActiveSession
      org.apache.spark.sql.SparkSession.setActiveSession(s)
      try graft.plans.PlanWalk.nodes(
          s.read.format(fmt).load(s"$root/t").queryExecution.executedPlan)
        .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map(_.toString) }.flatten
      finally prev.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
    val unset = Bridge.cloneSession(spark)
    unset.conf.unset(key)
    val on = planned(Bridge.cloneSession(spark, key -> "true"))
    // on by default: one merged partition per bucket either way
    assert(on.length === 8)
    assert(planned(unset) === on)
    assert(planned(Bridge.cloneSession(spark, key -> "false")).length > 8)
  }

  test("sorted SPJ: sort-merge join with ZERO Exchange and ZERO Sort") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    val b = edges(4000).selectExpr("dst AS src", "src AS dst")
    a.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/a")
    b.repartition(4).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/b")
    val out = withSpj {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(b.dst) AS BIGINT) AS s
           |FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      assert(nodes.count(_.isInstanceOf[Exchange]) === 0,
        s"Exchange survived:\n${df.queryExecution.executedPlan}")
      assert(nodes.count(
          _.isInstanceOf[org.apache.spark.sql.execution.SortExec]) === 0,
        s"SortExec survived — reported ordering was not honored:\n" +
          df.queryExecution.executedPlan)
      rows
    }
    val truth = a.as("a").join(b.as("b"), "src")
      .groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("n"), sum(col("b.dst")).cast("long").as("s"))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === truth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
  }

  test("compatible-width SPJ: bucket(16) x bucket(8) joins with zero exchanges via the reducer") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    val a = edges(4000)
    val b = edges(4000).selectExpr("dst AS src", "src AS dst")
    a.repartition(2).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "16")
      .mode("overwrite").save(s"$root/wide")
    b.repartition(2).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "8")
      .mode("overwrite").save(s"$root/narrow")
    // the algebra the reducer rides on: bucket(k, 16) % 8 == bucket(k, 8)
    Seq(0L, 7L, 42L, -1L, Long.MaxValue).foreach(k =>
      assert(graft.sources.BucketHash.bucket(k, 16) % 8
        === graft.sources.BucketHash.bucket(k, 8)))
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "true"))
    val out = try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(b.dst) AS BIGINT) AS s
           |FROM graft.`$root/wide` a JOIN graft.`$root/narrow` b
           |ON a.src = b.src GROUP BY a.src""".stripMargin)
      val rows = df.collect()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ:\n${df.queryExecution.executedPlan}")
      assert(nodes.count(_.isInstanceOf[Exchange]) === 0,
        s"compatible-width SPJ still exchanged:\n" +
          df.queryExecution.executedPlan)
      rows
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val truth = a.as("a").join(b.as("b"), "src")
      .groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("n"), sum(col("b.dst")).cast("long").as("s"))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === truth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted)
  }

  test("pre-flag (unsorted) sidecar degrades to a sorted-at-read SPJ, never a wrong plan") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/a")
    edges(2000).write.format(fmt)
      .option("bucketBy", "src").option("numBuckets", "4")
      .mode("overwrite").save(s"$root/b")
    // simulate a table written before the sorted flag existed
    graft.sources.BucketSpecIO.write(new java.io.File(s"$root/a"), ("src", 4))
    assert(!graft.sources.BucketSpecIO.sortedOf(s"$root/a"))
    withSpj {
      val df = spark.sql(s"SELECT /*+ MERGE(a) */ a.src, count(*) AS n " +
        s"FROM graft.`$root/a` a JOIN graft.`$root/b` b ON a.src = b.src " +
        s"GROUP BY a.src")
      val n = df.collect().length
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      // still exchange-free (bucketing holds) but the unsorted side
      // must be sorted at read — at least one SortExec reappears
      assert(nodes.count(_.isInstanceOf[Exchange]) === 0)
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        "expected the degraded side to pay a read-side sort")
      assert(n > 0)
    }
  }
}
