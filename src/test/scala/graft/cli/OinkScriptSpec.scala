package graft.cli

import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

/** The interpreter must run the reference's shipped example scripts
  * (small-scale parameter variants) end to end, with results equal to
  * the direct API calls. */
class OinkScriptSpec extends SparkSpec {
  import spark.implicits._

  test("in.luby shape: rmat -> edge_upper -> luby_find -> print") {
    val dir = Bridge.scratchDir("oink").toPath
    val out = dir.resolve("mis.csv").toString
    val reg = OinkScript.run(spark, Seq(
      "# OINK script for Luby's algorithm",
      "variable t equal time",
      "variable p equal nprocs",
      "set scratch SCRATCH",
      "rmat 8 4 0.25 0.25 0.25 0.25 0.0 12345 -o NULL mre",
      "edge_upper -i mre -o NULL mre",
      s"luby_find 12345 -i mre -o $out NULL",
      "print \"MIS: $t secs on $p procs\""))
    assert(reg.contains("mre"))
    val direct = graft.graph.LubyMIS.run(spark, reg("mre"), seed = 12345L).count()
    val written = spark.read.schema("v LONG").option("sep", " ").csv(out).count()
    assert(written == direct && written > 0)
  }

  test("in.sssp shape: map/mr add_weight feeds the weighted sssp") {
    val reg = OinkScript.run(spark, Seq(
      "rmat 4 3 0.25 0.25 0.25 0.25 0.0 12345 -o NULL mre",
      "mre map/mr mre add_weight",
      "sssp 2 12345 -i mre -o NULL mrd"))
    val d = reg("mrd")
    assert(d.columns.toSeq == Seq("source", "v", "dist"))
    assert(d.count() > 0)
    assert(reg("mre").columns.contains("weight"))
  }

  test("in.wordfreq shape: -var files variable resolves in -i") {
    val dir = Bridge.scratchDir("oinkwf").toPath
    Files.writeString(dir.resolve("a.txt"), "alpha beta alpha\n")
    Files.writeString(dir.resolve("b.txt"), "beta gamma\n")
    val reg = OinkScript.run(spark, Seq(
      "wordfreq 10 -i v_files -o NULL mrw"),
      extVars = Map("files" -> Seq(
        dir.resolve("a.txt").toString, dir.resolve("b.txt").toString)))
    val freq = reg("mrw").as[(String, Long)].collect().toMap
    assert(freq == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
  }

  test("control flow: loop variable + label/jump/next, and if/then/else") {
    val reg = OinkScript.run(spark, Seq(
      "variable i loop 3",
      "label top",
      "rmat 4 2 0.25 0.25 0.25 0.25 0.0 $i -o NULL mr$i",
      "next i",
      "jump SELF top",
      "if \"2 < 3\" then \"rmat 4 2 0.25 0.25 0.25 0.25 0.0 9 -o NULL mrthen\" " +
        "else \"rmat 4 2 0.25 0.25 0.25 0.25 0.0 9 -o NULL mrelse\""))
    assert(Set("mr1", "mr2", "mr3", "mrthen").subsetOf(reg.keySet))
    assert(!reg.contains("mrelse"))
    // per-iteration seeds differ -> different graphs
    assert(reg("mr1").collect().toSet != reg("mr2").collect().toSet)
  }

  test("include splices a sub-script in place, with cycle detection") {
    val dir = Bridge.scratchDir("oinkinc").toPath
    val sub = dir.resolve("sub.oink")
    Files.writeString(sub, "rmat 4 2 0.25 0.25 0.25 0.25 0.0 5 -o NULL mrinc\n")
    val reg = OinkScript.run(spark, Seq(
      s"include $sub",
      "edge_upper -i mrinc -o NULL mru"))
    assert(reg.contains("mrinc") && reg.contains("mru"))
    // include must also work as a quoted sub-command (runtime path)
    val reg2 = OinkScript.run(spark, Seq(
      "if \"1 == 1\" then \"include " + sub + "\""))
    assert(reg2.contains("mrinc"))
    // a script including itself must abort, not loop
    val cyc = dir.resolve("cyc.oink")
    Files.writeString(cyc, s"include $cyc\n")
    val ex = intercept[OinkScript.ScriptError] {
      OinkScript.run(spark, Seq(s"include $cyc"))
    }
    assert(ex.getMessage.contains("include cycle"))
  }

  test("sql verb: scripted named-catalog DDL/DML/query round trip") {
    val wh = Bridge.scratchDir("oinksql")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    try {
      val reg = OinkScript.run(spark, Seq(
        """sql "CREATE NAMESPACE graft.db"""",
        """sql "CREATE TABLE graft.db.edges (src BIGINT, dst BIGINT) PARTITIONED BY (bucket(4, src))"""",
        """sql "INSERT INTO graft.db.edges SELECT id AS src, id * 3 AS dst FROM range(50)"""",
        """sql "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dst) AS BIGINT) AS s FROM graft.db.edges" -o NULL agg"""))
      val row = reg("agg").collect().head
      assert((row.getLong(0), row.getLong(1)) === (50L, 3L * (49L * 50L / 2)))
      // the DDL-declared layout was real: bucketed + sorted on disk
      val dir = new java.io.File(wh, "db/edges")
      assert(graft.sources.BucketSpecIO.read(dir.getPath) === Some(("src", 4)))
      assert(graft.sources.EdgeListSource.listFiles(dir.getPath).forall(f =>
        graft.sources.BucketSpecIO.bucketOf(f.getName).exists(_ < 4)))
      // usage guard
      val e = intercept[OinkScript.ScriptError] {
        OinkScript.run(spark, Seq("sql"))
      }
      assert(e.getMessage.contains("quoted statement"))
    } finally {
      spark.conf.unset("spark.sql.catalog.graft.warehouse")
    }
  }

  test("edge sink refuses an input carrying BOTH weight and label") {
    val dir = Bridge.scratchDir("oinkwl").toPath
    import spark.implicits._
    Seq((1L, 2L, 1.5, 7L)).toDF("src", "dst", "weight", "label")
      .write.parquet(s"$dir/wl.parquet")
    // both columns are individually in the allowed edge shape, but the
    // connector has no 4-column layout — the sink must refuse, never
    // silently keep weight and drop label
    val ex = intercept[OinkScript.ScriptError] {
      OinkScript.run(spark, Seq(
        s"read_parquet -i $dir/wl.parquet -o NULL wl",
        s"write_edge_dsv2 -i wl -o $dir/out"))
    }
    assert(ex.getMessage.contains("weight") &&
      ex.getMessage.contains("label"))
  }

  test("shell mkdir/cd scope relative sink paths; rm deletes; rest rejected") {
    val dir = Bridge.scratchDir("oinkshell").toPath
    OinkScript.run(spark, Seq(
      s"shell mkdir $dir/out",
      s"shell cd $dir/out",
      "rmat 4 2 0.25 0.25 0.25 0.25 0.0 5 -o edges.csv mrs"))
    val written = new java.io.File(s"$dir/out/edges.csv")
    assert(written.isDirectory, "relative sink must land under the shell cwd")
    val ex = intercept[OinkScript.ScriptError] {
      OinkScript.run(spark, Seq("shell curl http://example.com"))
    }
    assert(ex.getMessage.contains("unsupported shell command"))
  }

  test("extension commands: coreness/lpa/hits/walks/betweenness run from scripts") {
    val reg = OinkScript.run(spark, Seq(
      "rmat 6 4 0.25 0.25 0.25 0.25 0.0 7 -o NULL mre",
      "coreness -i mre -o NULL mrk",
      "lpa 4 -i mre -o NULL mrl",
      "hits 3 -i mre -o NULL mrh",
      "walks 9 5 -i mre -o NULL mrw",
      "betweenness 2 7 -i mre -o NULL mrb"))
    assert(reg("mrk").columns.toSeq == Seq("v", "coreness") && reg("mrk").count() > 0)
    assert(reg("mrl").columns.toSeq == Seq("v", "label") && reg("mrl").count() > 0)
    assert(reg("mrh").columns.toSeq == Seq("v", "authority", "hub") && reg("mrh").count() > 0)
    assert(reg("mrw").columns.toSeq == Seq("start", "step", "v") && reg("mrw").count() > 0)
    assert(reg("mrb").columns.toSeq == Seq("source", "v", "dist", "sigma", "delta")
      && reg("mrb").count() > 0)
  }

  test("dsv2 verbs: rmat -> write_edge_dsv2 -> read_edge_dsv2 round trip") {
    val dir = Bridge.scratchDir("oinkdsv2").getPath
    val reg = OinkScript.run(spark, Seq(
      "rmat 4 3 0.25 0.25 0.25 0.25 0.0 777 -o NULL mre",
      s"write_edge_dsv2 -i mre -o $dir/edges mre2",
      s"read_edge_dsv2 -i $dir/edges -o NULL back"))
    val orig = reg("mre").select("src", "dst").as[(Long, Long)]
      .collect().sorted.toSeq
    val back = reg("back").select("src", "dst").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(back == orig && back.nonEmpty)
    // time travel: the write's snapshot version pins the same rows
    val v = graft.sources.EdgeLog
      .currentVersion(new java.io.File(s"$dir/edges")).get
    val reg2 = OinkScript.run(spark, Seq(
      s"read_edge_dsv2 $v -i $dir/edges -o NULL pinned"))
    assert(reg2("pinned").select("src", "dst").as[(Long, Long)]
      .collect().sorted.toSeq == orig)
    // append one edge: the changes window holds exactly it, and the
    // history gained a version
    Seq((999L, 998L)).toDF("src", "dst").coalesce(1)
      .write.format("graft.sources.EdgeListSource")
      .mode("append").save(s"$dir/edges")
    val reg3 = OinkScript.run(spark, Seq(
      s"edge_changes $v -i $dir/edges -o NULL delta",
      s"edge_history -i $dir/edges -o NULL hist"))
    assert(reg3("delta").select("src", "dst").as[(Long, Long)]
      .collect().toSeq == Seq((999L, 998L)))
    assert(reg3("hist").select("version").as[Int].collect().max == v + 1)
  }

  test("pipeline verbs: read_parquet -> minhash dedup chain end to end") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(docs).exists())
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $docs -o NULL docs",
      "dedup_exact -i docs -o NULL kept",
      "minhash_pairs -i docs -o NULL pairs",
      "minhash_dedup 0.5 -i docs -o NULL neardups",
      "dedup_clusters -i docs -o NULL clusters",
      "langid -i docs -o NULL langs"))
    // script results equal the direct API calls
    val direct = graft.pipeline.Dedup.dedupPipeline(
      reg("docs"), col("doc_id"), col("text"), 0.5)
    assert(reg("neardups").collect().toSet == direct.collect().toSet)
    assert(reg("neardups").columns.toSeq ==
      Seq("a", "b", "est_jaccard", "jaccard"))
    assert(reg("kept").count() > 0 && reg("kept").count() <= reg("docs").count())
    assert(reg("pairs").count() == graft.pipeline.Dedup.minHashCandidates(
      reg("docs"), col("doc_id"), col("text")).count())
    assert(reg("clusters").columns.toSeq == Seq("doc_id", "keeper_id"))
    assert(reg("langs").count() == reg("docs").count())
  }

  test("pipeline verbs: ann_lsh and quantize over embeddings") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    assume(new java.io.File(emb).exists())
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $emb -o NULL emb",
      "ann_lsh 5 -i emb -o NULL nn",
      "quantize -i emb -o NULL q8"))
    assert(reg("nn").columns.toSeq == Seq("qid", "vec_id", "sim", "rank"))
    val perQuery = reg("nn").groupBy("qid").count()
      .agg(max("count")).head().getLong(0)
    assert(perQuery <= 5 && reg("nn").count() > 0)
    assert(reg("q8").count() == reg("emb").count())
  }

  test("scc, eigen, and matching run from scripts") {
    val reg = OinkScript.run(spark, Seq(
      "rmat 6 4 0.25 0.25 0.25 0.25 0.0 7 -o NULL mre",
      "scc -i mre -o NULL mrs",
      "eigen 6 -i mre -o NULL mrx",
      "matching 13 -i mre -o NULL mrm"))
    assert(reg("mrs").columns.toSeq == Seq("v", "scc") && reg("mrs").count() > 0)
    assert(reg("mrx").columns.toSeq == Seq("v", "score") && reg("mrx").count() > 0)
    assert(reg("mrm").columns.toSeq == Seq("vi", "vj") && reg("mrm").count() > 0)
  }

  test("toposort runs from a script over a DAG object") {
    import spark.implicits._
    val dag = Bridge.scratchDir("graft_dag_")
    Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
      .write.mode("overwrite").parquet(dag.getPath)
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i ${dag.getPath} -o NULL d",
      "toposort -i d -o NULL lv"))
    val m = reg("lv").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("msf, densest, and pmi run from scripts") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(docs).exists())
    val reg = OinkScript.run(spark, Seq(
      "rmat 6 4 0.25 0.25 0.25 0.25 0.0 7 -o NULL mre",
      "msf -i mre -o NULL mrf",
      "densest -i mre -o NULL mrd",
      s"read_parquet -i $docs -o NULL d",
      "pmi 2 10 -i d -o NULL mrp"))
    assert(reg("mrf").columns.toSeq == Seq("vi", "vj", "w") && reg("mrf").count() > 0)
    assert(reg("mrd").columns.toSeq == Seq("v", "nv", "ne", "density")
      && reg("mrd").count() > 0)
    assert(reg("mrp").columns.toSeq == Seq("w1", "w2", "c12", "pmi")
      && reg("mrp").count() <= 10)
  }

  test("anf suite and kmeans run from scripts") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    assume(new java.io.File(emb).exists())
    val reg = OinkScript.run(spark, Seq(
      "rmat 6 4 0.25 0.25 0.25 0.25 0.0 7 -o NULL mre",
      "anf 2 -i mre -o NULL mra",
      "hopplot 2 -i mre -o NULL mrp",
      "hyperball 2 -i mre -o NULL mrhb",
      "effdiam 2 -i mre -o NULL mred",
      "hb_closeness 2 -i mre -o NULL mrhc",
      s"read_parquet -i $emb -o NULL emb",
      "kmeans 4 2 -i emb -o NULL km"))
    assert(reg("mra").columns.toSeq == Seq("v", "r", "n_est") && reg("mra").count() > 0)
    assert(reg("mrp").columns.toSeq == Seq("r", "pairs_x1e4", "reach_ratio")
      && reg("mrp").count() == 3) // r = 0, 1, 2
    assert(reg("mrhb").columns.toSeq == Seq("v", "harmonic_est") && reg("mrhb").count() > 0)
    assert(reg("mred").columns.toSeq ==
      Seq("eff_diameter", "r_cross", "final_pairs_x1e4") && reg("mred").count() == 1)
    assert(reg("mrhc").columns.toSeq ==
      Seq("v", "reached_x1e4", "sumdist_x1e4", "closeness_est")
      && reg("mrhc").count() > 0)
    assert(reg("km").columns.toSeq == Seq("vec_id", "cid", "cost")
      && reg("km").count() == reg("emb").count()
      && reg("km").select("cid").distinct().count() <= 4)
  }

  test("in.cc shape: cc_find result feeds cc_stats by name") {
    val reg = OinkScript.run(spark, Seq(
      "rmat 6 2 0.25 0.25 0.25 0.25 0.0 12345 -o NULL mre",
      "edge_upper -i mre -o NULL mre",
      "cc_find 0 -i mre -o NULL mrc",
      "cc_stats -i mrc -o NULL mrs"))
    val stats = reg("mrs")
    assert(stats.columns.toSeq == Seq("size", "ncomp"))
    val direct = graft.graph.ConnectedComponents.stats(
      graft.graph.ConnectedComponents.run(spark, reg("mre"))).count()
    assert(stats.count() == direct)
  }

  test("streaming verbs: read_events_stream -> stream_window_agg -> stream_drain") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_events_stream -i $dir -o NULL ev",
      "stream_window_agg -i ev -o NULL w",
      "stream_drain oink_winagg_sink -i w -o NULL res"))
    assert(reg("ev").isStreaming && reg("w").isStreaming && !reg("res").isStreaming)
    // same final table as the direct API drain of the same pipeline
    val q = graft.streaming.EventStreams.runToMemory(
      graft.streaming.EventStreams.windowedAgg(
        graft.streaming.EventStreams.readEvents(spark, dir)),
      "oink_winagg_direct", org.apache.spark.sql.streaming.OutputMode.Append)
    q.stop()
    val direct = spark.table("oink_winagg_direct")
    assert(reg("res").count() == direct.count() && direct.count() > 0)
    assert(reg("res").exceptAll(direct).isEmpty)
  }

  test("stream_scd2 verb: streaming SCD2 corpus-refresh sink from a script") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"stream_scd2 -i $dir -o NULL dim"))
    val dim = reg("dim")
    assert(dim.columns.toSeq ==
      Seq("user_id", "value", "valid_from", "valid_to"))
    assert(dim.count() > 0)
    // exactly one OPEN version per user, intervals are well-formed, and
    // consecutive versions abut (valid_to of one = valid_from of next)
    val open = dim.where(col("valid_to") === Long.MaxValue)
      .groupBy("user_id").count().where(col("count") =!= 1)
    assert(open.isEmpty)
    assert(dim.where(col("valid_from") >= col("valid_to")).isEmpty)
    val gaps = dim.where(col("valid_to") =!= Long.MaxValue).as("a")
      .join(dim.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.valid_to") === col("b.valid_from"), "left_anti")
    assert(gaps.isEmpty)
  }

  test("conf verb + TWS stream verbs: MapState profile from a script") {
    val dir = "/root/testdata/sf0.001"
    val ConfKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(ConfKey)
    try {
      val reg = OinkScript.run(spark, Seq(
        s"conf $ConfKey org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        s"read_events_stream -i $dir -o NULL ev",
        "stream_profile -i ev -o NULL pr",
        "stream_drain oink_prof_sink -i pr -o NULL res"))
      val res = reg("res")
      assert(res.columns.toSeq ==
        Seq("user_id", "event_id", "event_type", "seen_count"))
      // one output row per event; per-(user,type) counts are 1..k
      val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
      assert(res.count() == nEvents)
      val maxSeen = res.groupBy("user_id", "event_type")
        .agg(max("seen_count").as("mx"), count(lit(1)).as("c"))
        .where(col("mx") =!= col("c"))
      assert(maxSeen.isEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }

  test("stream_anomaly and cdc_dedup verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_events_stream -i $dir -o NULL ev",
      "stream_anomaly -i ev -o NULL an",
      "stream_drain oink_anom_sink -i an -o NULL res",
      s"read_parquet -i $dir/documents.parquet -o NULL docs",
      "cdc_dedup 4 16 -i docs -o NULL cdc"))
    assert(reg("an").isStreaming && !reg("res").isStreaming)
    assert(reg("res").count() > 0)
    assert(reg("res").columns.contains("is_anomaly"))
    val cdc = reg("cdc")
    assert(cdc.count() > 0 && cdc.columns.contains("dup_ratio"))
    // the script object equals the direct API call
    val direct = graft.pipeline.Dedup.cdcChunkStats(
      spark.read.parquet(s"$dir/documents.parquet"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    assert(cdc.exceptAll(direct).isEmpty && direct.exceptAll(cdc).isEmpty)
  }

  test("dq, asof, and epoch_shuffle verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/lineitem.parquet -o NULL li",
      s"read_parquet -i $dir/orders.parquet -o NULL ord",
      "dq_profile l_orderkey l_returnflag -i li -o NULL prof",
      "dq_refint l_orderkey o_orderkey -i li ord -o NULL ri",
      s"read_parquet -i $dir/documents.parquet -o NULL docs",
      "epoch_shuffle 3 4 -i docs -o NULL sh"))
    assert(reg("prof").count() == 2)
    val ri = reg("ri").head()
    assert(ri.getAs[Long]("n_orphans") == 0L && ri.getAs[Boolean]("fk_ok"))
    assert(reg("sh").groupBy("shard").count().count() == 4)

    // asof verb: tiny facts/dim parquet round-tripped through the script
    import spark.implicits._
    val tmp = Bridge.scratchDir("oinkasof").toPath
    Seq((0L, 50L, 1L), (0L, 150L, 2L), (1L, 10L, 3L))
      .toDF("k", "t", "fid")
      .write.parquet(tmp.resolve("facts").toString)
    Seq((0L, 0L, "era0"), (0L, 100L, "era1"))
      .toDF("dk", "vt", "era")
      .write.parquet(tmp.resolve("dim").toString)
    val reg2 = OinkScript.run(spark, Seq(
      s"read_parquet -i ${tmp.resolve("facts")} -o NULL f",
      s"read_parquet -i ${tmp.resolve("dim")} -o NULL d",
      "asof k dk t vt -i f d -o NULL aj",
      "asof k dk t vt forward -i f d -o NULL ajf"))
    val aj = reg2("aj").collect()
      .map(r => r.getAs[Long]("fid") ->
        Option(r.getAs[String]("era")).getOrElse("none")).toMap
    assert(aj == Map(1L -> "era0", 2L -> "era1", 3L -> "none"))
    val ajf = reg2("ajf").collect()
      .map(r => r.getAs[Long]("fid") ->
        Option(r.getAs[String]("era")).getOrElse("none")).toMap
    // forward: t=50 -> era1 (vt=100 ahead); t=150 -> none; t=10 -> none (key 1)
    assert(ajf == Map(1L -> "era1", 2L -> "none", 3L -> "none"))
  }

  test("chunk and compact verbs: pipeline prep + table maintenance from a script") {
    val dir = Bridge.scratchDir("oinkchunk").toPath
    val tbl = dir.resolve("docs").toString
    spark.range(0L, 40L).selectExpr("id AS doc_id",
        "concat('tok', id, ' tok tok tok tok tok tok tok tok tok') AS text")
      .repartition(8).write.parquet(tbl)
    val reg = OinkScript.run(spark, Seq(
      s"compact 128 -i $tbl",
      s"read_parquet -i $tbl -o NULL docs",
      "chunk 4 3 -i docs -o NULL ch"))
    assert(reg("ch").columns.toSeq ==
      Seq("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_hash"))
    // 10 tokens, window 4 stride 3 -> starts 0,3,6,9 = 4 chunks per doc
    assert(reg("ch").count() == 40L * 4)
    val files = new java.io.File(tbl).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files == 1) // compacted
  }

  test("streaming objects refuse file sinks with a clear error") {
    val e = intercept[OinkScript.ScriptError](OinkScript.run(spark, Seq(
      "read_events_stream -i /root/testdata/sf0.001 -o /tmp/oink-bad.csv ev")))
    assert(e.getMessage.contains("stream_drain"))
  }

  test("overlap_sketch verb: pairwise KMV matrix agrees with the exact overlap") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/documents.parquet -o NULL docs",
      "overlap_sketch 3 256 -i docs -o NULL m",
      "overlap 3 -i docs -o NULL x"))
    val m = reg("m")
    assert(m.columns.toSeq == Seq("s1", "s2", "n_s1", "n_s2", "est_union",
      "jaccard_est", "inter_est"))
    val exact = reg("x").select(col("s1"), col("s2"), col("jaccard"))
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val est = m.select(col("s1"), col("s2"), col("jaccard_est"))
      .as[(String, String, Double)].collect()
    assert(est.length == exact.size) // same 190 pairs
    // k=256 over ~500-element sets: estimates track truth to coarse RSE
    est.foreach { case (a, b, j) =>
      assert(math.abs(j - exact((a, b))) < 0.15,
        s"pair ($a,$b): sketch $j vs exact ${exact((a, b))}")
    }
  }

  test("stream_asof + write_edge_stream verbs: temporal join and epoch sink") {
    val dir = "/root/testdata/sf0.001"
    val out = Bridge.scratchDir("oinksink").toPath.resolve("edges").toString
    val ConfKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(ConfKey)
    try {
      val reg = OinkScript.run(spark, Seq(
        s"conf $ConfKey org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        s"read_events_stream -i $dir -o NULL ev",
        "stream_asof -i ev -o NULL aj",
        "stream_drain oink_asof_sink -i aj -o NULL res",
        s"read_events_stream -i $dir -o NULL ev2",
        """filter "event_type = 'purchase'" -i ev2 -o NULL pur0""",
        """select "user_id AS src" "event_id AS dst" -i pur0 -o NULL pur""",
        s"write_edge_stream $out -i pur",
        s"compact_edges 128 -i $out",
        s"vacuum_edges 1 -i $out",
        s"read_edge_dsv2 -i $out -o NULL back"))
      // vacuum kept only the newest snapshot; current reads unaffected
      assert(graft.sources.EdgeLog.versions(new java.io.File(out)).size == 1)
      assert(reg("res").columns.toSeq == Seq("user_id", "fact_id",
        "fact_ts_us", "dim_id", "dim_ts_us", "dim_cents"))
      assert(reg("res").count() > 0)
      // the sink round-trips every purchase exactly once
      val purchases = spark.read.parquet(s"$dir/events.parquet")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)].collect().toSet
      assert(reg("back").as[(Long, Long)].collect().toSet == purchases)
    } finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }

  test("containment, merge, and hard_negatives verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val tmp = Bridge.scratchDir("oinkmerge").toPath
    Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3))
      .toDF("id", "text", "keepme")
      .write.parquet(tmp.resolve("target").toString)
    Seq((2L, "B", "u"), (3L, "x", "d"), (5L, "E", "i"))
      .toDF("id", "text", "op")
      .write.parquet(tmp.resolve("batch").toString)
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/documents.parquet -o NULL docs",
      "containment 3 5 10 -i docs -o NULL cont",
      s"read_parquet -i ${tmp.resolve("target")} -o NULL tgt",
      s"read_parquet -i ${tmp.resolve("batch")} -o NULL upd",
      "merge id -i tgt upd -o NULL snap",
      s"read_parquet -i $dir/embeddings.parquet -o NULL e",
      """filter "vec_id < 5" -i e -o NULL eq""",
      """select "vec_id AS qid" "embedding AS qvec" "label AS qlabel" -i eq -o NULL q""",
      "hard_negatives 3 -i q e -o NULL hn"))
    // containment: same result as the direct call
    val direct = graft.pipeline.Dedup.containmentPairs(
      spark.read.parquet(s"$dir/documents.parquet"),
      col("doc_id"), col("text"), 3, 5, 10).count()
    assert(reg("cont").count() == direct)
    // merge: update applied, delete applied, insert landed, retain kept
    val snap = reg("snap").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(snap == Map(1L -> "a", 2L -> "B", 5L -> "E"))
    // non-shared target column survives on retained/updated rows
    assert(reg("snap").where(col("id") === 2).head.getAs[Int]("keepme") == 2)
    // hard negatives: 3 per query, none sharing the query's label
    val hn = reg("hn")
    assert(hn.groupBy("qid").count().collect().forall(_.getLong(1) == 3L))
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    assert(hn.select("qid", "vec_id").as[(Long, Long)].collect()
      .forall { case (q, v) => labels(q) != labels(v) })
  }

  test("setsim, fuzzy_pairs, and fuzzy_entities verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val tmp = Bridge.scratchDir("oinkfuzzy").toPath
    Seq("cold bolt", "old bolt", "bold bolt", "red gear", "red gears",
      "widget").toDF("p_name")
      .write.parquet(tmp.resolve("names").toString)
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/documents.parquet -o NULL docs",
      "setsim 0.5 3 -i docs -o NULL ss",
      s"read_parquet -i ${tmp.resolve("names")} -o NULL names",
      "fuzzy_pairs p_name 2 -i names -o NULL fp",
      "fuzzy_entities p_name 2 -i names -o NULL fe"))
    val directSs = graft.pipeline.Dedup.setSimilarityJoin(
      spark.read.parquet(s"$dir/documents.parquet"),
      col("doc_id"), col("text"), 0.5).count()
    assert(reg("ss").count() == directSs)
    // cold bolt ~ old bolt ~ bold bolt chain; red gear ~ red gears
    val fp = reg("fp").select("name_a", "name_b")
      .as[(String, String)].collect().toSet
    assert(fp.contains(("cold bolt", "old bolt")))
    assert(fp.contains(("red gear", "red gears")))
    val fe = reg("fe").as[(String, String)].collect().toMap
    assert(fe("cold bolt") == fe("old bolt") && fe("old bolt") == fe("bold bolt"))
    assert(fe("widget") == "widget")
  }

  test("cc_inc and tri_inc verbs: incremental maintenance from scripts") {
    val tmp = Bridge.scratchDir("oinkinc").toPath
    Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("src", "dst")
      .write.parquet(tmp.resolve("standing").toString)
    Seq((2L, 10L), (20L, 21L)).toDF("src", "dst")
      .write.parquet(tmp.resolve("batch").toString)
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i ${tmp.resolve("standing")} -o NULL st",
      s"read_parquet -i ${tmp.resolve("batch")} -o NULL ba",
      "cc_find -i st -o NULL stcc",
      "cc_inc -i stcc ba -o NULL inc",
      "tri_inc -i st ba -o NULL tri"))
    val inc = reg("inc").as[(Long, Long)].collect().toMap
    // the batch edge 2-10 merges the two standing components
    assert(inc(11L) == 0L && inc(20L) == 20L && inc(21L) == 20L)
    val tri = reg("tri").head()
    assert(tri.getAs[Long]("tri_standing") == 0L &&
      tri.getAs[Long]("tri_total") == 0L)
  }

  test("dq_drift and dq_outliers verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/events.parquet -o NULL ev",
      """filter "event_id % 2 = 0" -i ev -o NULL base""",
      """filter "event_id % 2 <> 0" -i ev -o NULL cur""",
      "dq_drift event_type -i base cur -o NULL drift",
      "dq_outliers event_type value -i ev -o NULL outl"))
    val drift = reg("drift").collect()
    assert(drift.nonEmpty &&
      drift.map(_.getAs[String]("category")).distinct.length == drift.length)
    val outl = reg("outl").collect()
    assert(outl.nonEmpty && outl.forall(r =>
      r.getAs[Long]("n_outliers") <= r.getAs[Long]("n_rows")))
  }

  test("dq_ks, dq_mwu, and dq_skew verbs run from scripts") {
    val dir = "/root/testdata/sf0.001"
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $dir/events.parquet -o NULL ev",
      "dq_ks event_type value event_id % 2 <> 0 -i ev -o NULL ks",
      "dq_mwu event_type value event_id % 2 <> 0 -i ev -o NULL mwu",
      "dq_skew event_type user_id -i ev -o NULL skew",
      "dq_spearman event_type value event_id -i ev -o NULL trend",
      "dq_benford event_type CAST(floor(value * 100 + 0.5) AS BIGINT) -i ev -o NULL benf",
      "dq_mad event_type CAST(floor(value * 100 + 0.5) AS BIGINT) -i ev -o NULL mad",
      "dq_contingency event_type 'u' || CAST(user_id % 4 AS STRING) -i ev -o NULL cont"))
    val ks = reg("ks").collect()
    assert(ks.nonEmpty && ks.forall { r =>
      val d = r.getAs[Double]("d"); d >= 0.0 && d <= 1.0 })
    val mwu = reg("mwu").collect()
    assert(mwu.nonEmpty && mwu.forall { r =>
      val a = r.getAs[Double]("auc"); a >= 0.0 && a <= 1.0 })
    val skew = reg("skew").collect()
    assert(skew.nonEmpty && skew.forall { r =>
      val g = r.getAs[Double]("gini"); g >= 0.0 && g < 1.0 })
    val trend = reg("trend").collect()
    assert(trend.nonEmpty && trend.forall { r =>
      r.isNullAt(5) || math.abs(r.getAs[Double]("rho")) <= 1.0 + 1e-12 })
    val benf = reg("benf").collect()
    assert(benf.nonEmpty && benf.forall { r =>
      val d = r.getAs[Int]("digit"); d >= 1 && d <= 9 })
    val mad = reg("mad").collect()
    assert(mad.nonEmpty && mad.forall { r =>
      r.getAs[Double]("mad") >= 0.0 &&
        r.getAs[Long]("n_outliers") <= r.getAs[Long]("n") })
    val cont = reg("cont").collect()
    assert(cont.nonEmpty && cont.forall(r =>
      r.getAs[Double]("chi2_contrib") >= 0.0))
    // usage errors raise ScriptError, not NoSuchElementException
    val err = intercept[OinkScript.ScriptError] {
      OinkScript.run(spark, Seq(
        s"read_parquet -i $dir/events.parquet -o NULL ev",
        "dq_mwu event_type -i ev -o NULL bad"))
    }
    assert(err.getMessage.contains("dq_mwu"))
  }

  test("mv_refresh verb folds a batch into a standing rollup exactly") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("user_id").as("key"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val tmp = Bridge.scratchDir("graft_mv_verb_").toPath
    graft.pipeline.IncrementalAgg.bootstrap(
        ev.where(col("event_id") % 2 === 0), col("key"), col("cents"))
      .write.parquet(s"$tmp/standing")
    ev.where(col("event_id") % 2 =!= 0).withColumn("del", lit(false))
      .write.parquet(s"$tmp/batch")
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $tmp/standing -o NULL st",
      s"read_parquet -i $tmp/batch -o NULL ba",
      "mv_refresh key cents del -i st ba -o NULL mv"))
    val full = graft.pipeline.IncrementalAgg.bootstrap(
      ev, col("key"), col("cents"))
    val got = reg("mv")
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
  }

  test("classify and write_edge_bucketed verbs run from scripts") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(docs).exists())
    val dir = Bridge.scratchDir("oinkbkt").getPath
    val reg = OinkScript.run(spark, Seq(
      s"read_parquet -i $docs -o NULL docs",
      "classify -i docs -o NULL scored",
      "rmat 6 3 0.25 0.25 0.25 0.25 0.0 99 -o NULL mre",
      s"write_edge_bucketed src 4 -i mre -o $dir/edges mre2",
      s"read_edge_dsv2 -i $dir/edges -o NULL back"))
    // classify equals the direct API call
    val direct = graft.text.TextAnalysis.classify(
      spark.read.parquet(docs), col("doc_id"), col("text"))
    assert(reg("scored").exceptAll(direct).isEmpty &&
      direct.exceptAll(reg("scored")).isEmpty)
    // the bucketed sink persisted the layout and kept every row
    assert(graft.sources.BucketSpecIO.read(s"$dir/edges") === Some(("src", 4)))
    assert(reg("back").count() === reg("mre").count())
  }

  test("append_edge_idem: the same token appended twice lands exactly once") {
    val dir = Bridge.scratchDir("oinkidem").getPath
    val reg = OinkScript.run(spark, Seq(
      "rmat 5 2 0.25 0.25 0.25 0.25 0.0 7 -o NULL base",
      s"write_edge_bucketed src 2 -i base -o $dir/t b2",
      "rmat 4 2 0.25 0.25 0.25 0.25 0.0 11 -o NULL extra",
      // a scripted retry: the second append with the SAME token no-ops
      s"append_edge_idem batch42 -i extra -o $dir/t x1",
      s"append_edge_idem batch42 -i extra -o $dir/t x2",
      s"read_edge_dsv2 -i $dir/t -o NULL back"))
    assert(reg("back").count() ===
      reg("base").count() + reg("extra").count())
    // layout survived the marked appends
    assert(graft.sources.BucketSpecIO.sortedOf(s"$dir/t"))
    graft.sources.EdgeListSource.listFiles(s"$dir/t").foreach(f =>
      assert(graft.sources.BucketSpecIO.bucketOf(f.getName).exists(_ < 2),
        f.getName))
  }
}
