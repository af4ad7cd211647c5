package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark main — one JSON line on stdout per the driver contract.
  *
  * SECTION LAYOUT (r13): the parent JVM runs the 14 headline queries
  * (5 reps, spreads recorded), the ms-scale mr_phase reference metric
  * (warmed-process shape — a fresh JVM reads it ~3× slower from lost
  * JIT state, breaking BASELINE comparability), and prints the JSON;
  * every OTHER family — topk, streaming, asof, each of the 12 trend
  * queries, decontam_kmv, edge_changes, cc_inc, bucket_spj,
  * bucket_skew, bucket_grid, zorder_bucket, ahash_index — runs in its
  * OWN forked JVM (same
  * classpath/flags/heap), reporting results plus a per-family q1_agg
  * control
  * (`<family>_ctl_sec`) over BENCHKV stdout lines. Families therefore
  * cannot contaminate each other through shared old-gen state, and
  * every extras number is clean-JVM comparable by construction
  * (the r11–r12 d_setsim/ivfpq/ahash watch churn was exactly such
  * cross-section GC bleed: in r13 a clean JVM reproduced each anchor
  * every time).
  *
  * Two sections:
  *  - `queries`: headline operators from SparkEntry on
  *    SPARK_GRAFT_SF_DIR (default sf0.1), each fully materialized via the
  *    noop sink (a bare count() would let parquet scans shortcut to
  *    metadata). Reported seconds are per-query wall time, steady state
  *    (session + codegen warmed by a prior untimed pass at sf0.001).
  *  - `mr_phase_ms`: the reference's own metric — the MapReduce-phase
  *    runtime building the inverse adjacency `incoming[]`
  *    (BASELINE.md; `mr-pr-cpp.cpp:220-226` times exactly this, file
  *    parsing excluded) — on the reference's barabasi/erdos datasets,
  *    median of 3 runs, edges pre-parsed and cached like the reference's
  *    pre-parsed vectors.
  */
object Bench {

  private val Headline = Seq(
    "q1_agg", "q2_filter_project", "q3_join_agg", "q10_window",
    "g_pagerank", "g_cc", "g_tri", "g_sssp",
    "t_wordfreq", "d_minhash_pairs", "d_simhash", "s_ann_brute",
    "e_sessionize", "e_window_agg")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SECTION ISOLATION (round 13): every extras family runs in a
    // FRESH child JVM, so no section's old-gen pressure bleeds into
    // the next one's numbers — three consecutive rounds (d_setsim
    // r11→12, ivfpq r11→12, ahash r12) re-adjudicated exactly that
    // GC-bleed pattern; a clean JVM reproduced the anchors every time
    // (r13). Forking makes every published number clean-JVM
    // comparable BY CONSTRUCTION, and each child also
    // reports its own q1_agg control (`<family>_ctl_sec`) so host
    // noise during that family's window is visible next to it.
    // `--section <name>` = child mode (run one family, print KV lines).
    val childTarget: Option[String] =
      args.sliding(2).collectFirst { case Array("--section", n) => n }
    // memoize off: measure operators, not the cc/tri memo's
    // block-manager writes
    val spark = GraftSession(defaultCpus = 32, memoize = false)

    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm: session, codegen, file listing — untimed, smallest sf
    // (child JVMs skip the headline entirely — they warm their one
    // family plus the control below)
    if (childTarget.isEmpty) Headline.foreach { name =>
      try materialize(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }

    // median of 5: single-run numbers on a shared JVM swing 2-3× with
    // GC/JIT state and host noisy-neighbor jitter; the median is what a
    // steady-state cluster run sees. The cc/tri memo is cleared per rep
    // so every rep does real work.
    val timed = (if (childTarget.isDefined) Seq.empty[String]
      else Headline).map { name =>
      // one untimed rep at the TARGET sf first: the global sf0.001 warm
      // compiles different AQE plan shapes, and the iterative graph
      // queries keep JIT-warming for several sf0.1 reps without this
      // (round-7 probe: g_pagerank 2.38 -> 1.55 s over in-order reps) —
      // the very drift round 6 couldn't explain
      graft.queries.GraphQueries.clearCaches()
      try materialize(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
      // the warm rep's dead checkpoint blocks must not become a timed
      // rep's stop-the-world pause (observed: g_sssp 14 s GC spike)
      System.gc()
      val ts = (1 to 5).map { _ =>
        graft.queries.GraphQueries.clearCaches()
        val t0 = System.nanoTime()
        try materialize(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // drop dead localCheckpoint blocks: the ContextCleaner frees them
      // only after the driver GC collects the orphaned RDD references
      System.gc()
      name -> ts.sorted
    }
    val results = timed.map { case (name, ts) => name -> ts(2) }
    System.gc() // settle the heap before the ms-scale reference metric

    // Failure isolation: one broken query family must never zero the
    // whole bench (round-5 postmortem — a streaming AnalysisException
    // outside any try/catch killed the entire JSON line). Each section
    // runs fenced; a failed section contributes no keys and the line
    // still prints with whatever succeeded. Two modes (r13 isolation):
    //  - parent: fork `graft.Bench --section <name>` in a fresh JVM,
    //    collect its BENCHKV lines (mr_phase: sections run in-process);
    //  - child: execute ONLY the target family (preceded by a q1_agg
    //    control), print results as BENCHKV lines.
    def section(name: String)(f: => Seq[(String, Double)]): Seq[(String, Double)] =
      childTarget match {
        case Some(t) if t != name => Nil // child: not my family
        case Some(_) => // child: control, then the one family
          try {
            materialize(SparkEntry.queries("q1_agg")(spark, sfDir)) // warm
            val ctl = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              materialize(SparkEntry.queries("q1_agg")(spark, sfDir))
              (System.nanoTime() - t0) / 1e9
            }.min
            // no ctl key for the ms-scale reference metric: its KVs
            // feed the mr_phase_ms map, where a seconds-unit control
            // would masquerade as a phase time
            val kvs =
              if (name.startsWith("mr_phase:")) f
              else (s"${name}_ctl_sec" -> ctl) +: f
            kvs.foreach { case (k, v) =>
              println(f"BENCHKV\t$k\t$v%.6f") }
            kvs
          } catch { case e: Throwable =>
            System.err.println(s"[bench] section $name failed: ${e.getMessage}")
            Nil
          }
        // the ms-scale reference metric stays IN the warmed parent: a
        // fresh JVM reads ~3× slower (measured 94 vs 29 ms barabasi-
        // local) purely from lost JIT state — the metric's cross-round
        // and BASELINE comparability lives in the warmed-process shape,
        // and ms-scale phases are not GC-bleed victims (own warm rep,
        // median of 5)
        case None if !name.startsWith("mr_phase:") =>
          forkSection(name)
        case None =>
          try f catch { case e: Throwable =>
            System.err.println(s"[bench] section $name failed: ${e.getMessage}")
            Nil
          }
      }

    // Fork one extras family into a fresh JVM (same classpath, same
    // JDK17 --add-opens as build.sbt, same heap), parse its BENCHKV
    // stdout lines. Child stderr flows through to ours; a dead or
    // KV-less child contributes nothing — the round-5 isolation, now
    // process-grade.
    def forkSection(name: String): Seq[(String, Double)] =
      try {
        val javaBin = new java.io.File(new java.io.File(
          System.getProperty("java.home"), "bin"), "java").getPath
        val addOpens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar")
          .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
        val cmd = Seq(javaBin) ++ addOpens ++ Seq(
          s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
          "-cp", System.getProperty("java.class.path"),
          "graft.Bench", "--section", name)
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .getLines().toList
        val code = p.waitFor()
        if (code != 0)
          System.err.println(s"[bench] section $name child exited $code")
        out.filter(_.startsWith("BENCHKV\t")).flatMap { l =>
          l.split('\t') match {
            case Array(_, k, v) => scala.util.Try(k -> v.toDouble).toOption
            case _ => None
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] section $name fork failed: ${e.getMessage}")
        Nil
      }

    // Reference-metric section: inverse-adjacency build, timed like the
    // reference's MapReduce phase (parse excluded). Two shapes:
    //  - local: single-partition hash grouping — comparable to the cpp
    //    variant (threaded shared-memory, no communication);
    //  - shuffle: hash-exchange + per-partition grouping — comparable to
    //    the MPI variants (communication included), and the shape that
    //    scales out.
    import spark.implicits._
    val mrPhase = Seq("barabasi-100000", "erdos-100000").flatMap { name => section(s"mr_phase:$name") {
      val path = s"/root/reference/test/$name.txt"
      if (!new java.io.File(path).exists()) Nil
      else {
        val edges = graft.io.EdgeListIO.read(spark, path).cache()
        edges.count() // parse+cache untimed (reference excludes parsing)
        val e1 = edges.coalesce(1).cache(); e1.count()
        def median(f: => Unit): Double = {
          f // untimed warm rep: JIT-compile this path before timing
          val ts = (1 to 5).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
          }
          ts.sorted.apply(2)
        }
        // Both shapes group with LongAdjacencyMap (primitive long keys +
        // long[] adjacency — the reference's KMV build without boxing)
        // over the cached InternalRows directly: the tuple deserializer
        // alone costs more than the whole grouping loop (measured in r3:
        // 81 ms tuple path vs 31 ms InternalRow path on barabasi-100000).
        def grouped(df: DataFrame): Unit =
          df.queryExecution.toRdd.mapPartitions { it =>
            val m = new graft.core.LongAdjacencyMap()
            it.foreach { r => m.add(r.getLong(1), r.getLong(0)) }
            m.groupSizes
          }.foreach(_ => ())
        val local = median(grouped(e1))
        // hash exchange + per-partition local hash grouping — literally
        // the reference's aggregate()+convert() pair (and measured ~2×
        // faster than groupBy+collect_list, whose array building is not
        // part of the reference's phase); wall time here is the exchange
        // itself, Spark's fixed scale-out cost on a 1 MB graph.
        // Round-6 tuning note: a raw-RDD HashPartitioner shuffle of boxed
        // (Long, Long) tuples beats this Exchange 43 ms vs 70 ms in a
        // clean JVM (r6 sweep) but LOSES here (~100 ms vs
        // ~82 ms) — after the headline reps fill the old gen, the boxed
        // path's per-rep allocations pay full GC freight while the
        // UnsafeRow Exchange stays allocation-light. Exactly the property
        // that matters on loaded executors, so the Exchange shape stays.
        // Partition count 2..32 moves the Exchange < 15% (same sweep);
        // the session default (cpus) is kept.
        val shuffle = median(grouped(edges.repartition(
          spark.conf.get("spark.sql.shuffle.partitions").toInt, col("dst"))))
        edges.unpersist(false); e1.unpersist(false)
        Seq(s"$name-local" -> local, s"$name-shuffle" -> shuffle)
      }
    } }

    // Extras: custom-operator-vs-builtin and streaming throughput.
    //  - topk: TopKPerKey (bounded map-side heaps, ≤k rows/key/partition
    //    cross the exchange) vs the window row_number formulation (full
    //    partition sort, whole input shuffles) on lineitem.
    //  - streaming: micro-batch rows/sec through the windowed-agg
    //    pipeline (watermark + stateful agg), AvailableNow drain.
    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val topk = section("topk") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val topkArgs = (Seq(col("l_suppkey")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
      materialize(graft.plans.TopKPerKey.topKPerKey(li, topkArgs._1, topkArgs._2, 10)) // warm
      val topkCustom = timeIt(materialize(
        graft.plans.TopKPerKey.topKPerKey(li, topkArgs._1, topkArgs._2, 10)))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      def windowed = li.withColumn("rn", row_number().over(w)).where(col("rn") <= 10).drop("rn")
      // the TopKRewrite optimizer rule would silently turn THIS side
      // into the custom operator too — hold it off so the comparison
      // stays custom-vs-builtin
      spark.conf.set(graft.plans.TopKRewrite.ConfKey, "false")
      val windowSec = try {
        materialize(windowed) // warm
        timeIt(materialize(windowed))
      } finally spark.conf.unset(graft.plans.TopKRewrite.ConfKey)
      Seq("topk_custom_sec" -> topkCustom,
        "topk_window_sec" -> windowSec)
    }
    val streaming = section("streaming") {
      val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
      val streamSec = timeIt {
        val q = graft.streaming.EventStreams.runToMemory(
          graft.streaming.EventStreams.windowedAgg(
            graft.streaming.EventStreams.readEvents(spark, sfDir)),
          "bench_stream", org.apache.spark.sql.streaming.OutputMode.Append)
        q.stop()
      }
      // API-generation overhead head-to-head: the same running-stats
      // operator on flatMapGroupsWithState (default provider) vs
      // transformWithState (RocksDB, typed ValueState) — what a
      // migration to the new state API costs/saves at this scale.
      def drainSec(df: => org.apache.spark.sql.DataFrame, name: String): Double =
        timeIt {
          val q = graft.streaming.EventStreams.runToMemory(df, name,
            org.apache.spark.sql.streaming.OutputMode.Append)
          q.stop()
        }
      val fmgws = drainSec(graft.streaming.EventStreams.runningStatsStream(
        spark, graft.streaming.EventStreams.readEvents(spark, sfDir)),
        "bench_run_fmgws")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val tws = try drainSec(graft.streaming.TwsOperators.runningStatsStreamTws(
        spark, graft.streaming.EventStreams.readEvents(spark, sfDir)),
        "bench_run_tws")
      finally prev match {
        case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key)
      }
      Seq("stream_rows_per_sec" -> (if (streamSec > 0) nEvents / streamSec else 0.0),
        "running_fmgws_sec" -> fmgws, "running_tws_rocksdb_sec" -> tws)
    }
    // asof: the native AsOfJoinExec streaming merge vs the composed
    // lead()-interval left join (same result, AsOfJoinSpec) on the full
    // events table enriched against its signup dimension.
    val asof = section("asof") {
      import org.apache.spark.sql.expressions.Window
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val usC = graft.io.Tables.eventMicros(ev)
      val facts = ev.select(col("user_id"), col("event_id"), usC.as("ts_us"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("d_user"), usC.as("vf0"), col("value"))
        .groupBy("d_user", "vf0").agg(max("value").as("asof_value"))
        .select(col("d_user"), col("vf0").as("vf"), col("asof_value"))
      def native = graft.plans.AsOfJoin.asOfJoin(facts, dim,
        Seq(col("user_id")), Seq(col("d_user")), col("ts_us"), col("vf"))
      def bcast = graft.plans.AsOfJoin.asOfJoin(facts, dim,
        Seq(col("user_id")), Seq(col("d_user")), col("ts_us"), col("vf"),
        broadcast = true)
      def composed = facts.join(
        dim.select(col("d_user"), col("vf"),
          coalesce(lead(col("vf"), 1).over(
              Window.partitionBy("d_user").orderBy("vf")),
            lit(Long.MaxValue)).as("vt"), col("asof_value")),
        col("user_id") === col("d_user") &&
          col("ts_us") >= col("vf") && col("ts_us") < col("vt"), "left")
      materialize(native); materialize(composed); materialize(bcast) // warm
      Seq("asof_native_sec" -> timeIt(materialize(native)),
        "asof_composed_sec" -> timeIt(materialize(composed)),
        "asof_bcast_sec" -> timeIt(materialize(bcast)))
    }
    // Trend extras (VERDICT r7 #7): content-defined-chunking dedup and
    // the BM25⊕ANN RRF fusion, timed as whole gate queries at the bench
    // sf — kept out of the headline so its composition stays comparable
    // across rounds, but baselined here with min/median/max like the
    // headline spread.
    val trend = Seq("d_cdc", "s_hybrid_rrf", "s_ann_ivfpq",
        "g_dsv2_edges",
        // the hand-binned interval join vs the RangeJoinRewrite-rule
        // plan from the naive join text (the rule-less naive plan is a
        // nested loop: 3.1 s at sf0.1, measured in COVERAGE)
        // ... and the round-9 range-sliced sorted sweep beside them:
        // same answer, O(output) comparisons vs all-pairs-in-bin
        "e_interval_join", "e_interval_join_auto", "e_interval_join_sweep",
        // round-8 session-3 baselines: the KMV pairwise matrix and the
        // exact n-gram join it replaces at refresh time
        "d_overlap_matrix", "d_overlap",
        // round-8 session-4 baselines: the lossless prefix-filter
        // τ-Jaccard join (full + incremental) and the FastSS+Jaro-Winkler
        // fuzzy-match chain
        "d_setsim", "d_setsim_inc", "d_fuzzy_jw",
        // round-9: the full-rescan incremental decontamination, as the
        // contrast for the standing-synopsis refresh timed below
        "d_decontam_inc").flatMap { name => section(name) {
      val q = SparkEntry.queries(name)
      materialize(q(spark, sfDir)) // warm
      val ts = (1 to 3).map(_ => timeIt(materialize(q(spark, sfDir)))).sorted
      Seq(s"${name}_sec" -> ts(1), s"${name}_min_sec" -> ts.head,
        s"${name}_max_sec" -> ts.last)
    } }
    // Standing-synopsis decontamination refresh (VERDICT r8 #5): the
    // bootstrap (one standing-corpus scan) is untimed state; the timed
    // refresh reads ONLY the batch docs + 2×k-array merges — the number
    // that should sit far under d_decontam_inc_sec's full rescan.
    val decontamKmv = section("decontam_kmv") {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      val (standingSk, evalSk) = graft.pipeline.Decontam.standingState(
        d.where(col("doc_id") % 10 =!= 0 || col("source") === "src0"),
        "src0", k = 128)
      def refresh(): Unit = materialize(graft.pipeline.Decontam.refresh(
        standingSk, evalSk,
        d.where(col("doc_id") % 10 === 0 && col("source") =!= "src0"),
        "src0", k = 128))
      refresh() // warm
      val ts = (1 to 3).map(_ => timeIt(refresh())).sorted
      Seq("d_decontam_kmv_refresh_sec" -> ts(1),
        "d_decontam_kmv_refresh_min_sec" -> ts.head,
        "d_decontam_kmv_refresh_max_sec" -> ts.last)
    }
    // Changes-feed read vs full-table rescan (round 9): a big standing
    // connector table gets a ~1% append; consuming the new rows via the
    // manifest file-diff should cost ~append-size, not ~table-size —
    // the incremental-ingest claim as a measured pair.
    val changesFeed = section("edge_changes") {
      val root = Bridge.scratchDir("graft_bench_cf")
      val fmtName = "graft.sources.EdgeListSource"
      // the 60k-row graph table is overhead-bound (agg pushdown makes
      // a full scan ~free at that size) — replicate the lineitem key
      // pairs ×16 (~10M rows, ~120 MB text) so the standing-table scan
      // cost is visible against the ~1% append
      val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
        .crossJoin(broadcast(spark.range(16).toDF("rep")))
        .select((col("src") * 16 + col("rep")).as("src"), col("dst"))
      e.where(col("dst") % 100 =!= 0).repartition(8)
        .write.format(fmtName).mode("overwrite").save(s"$root/edges")
      val v = graft.sources.EdgeLog
        .currentVersion(new java.io.File(s"$root/edges")).get
      e.where(col("dst") % 100 === 0).repartition(1)
        .write.format(fmtName).mode("append").save(s"$root/edges")
      def full(): Unit = materialize(
        spark.read.format(fmtName).load(s"$root/edges")
          .agg(count(lit(1)), sum("dst")))
      def changes(): Unit = materialize(
        spark.read.format(fmtName).option("changesFromVersion", v)
          .load(s"$root/edges").agg(count(lit(1)), sum("dst")))
      full(); changes() // warm
      val tf = (1 to 3).map(_ => timeIt(full())).sorted
      val tc = (1 to 3).map(_ => timeIt(changes())).sorted
      Seq("edge_full_scan_sec" -> tf(1), "edge_changes_window_sec" -> tc(1))
    }
    // Incremental-CC refresh vs full recompute (round 9, fourth
    // session): the standing assignment absorbs a 10% edge batch via
    // the contraction (CC rounds over |batch| contracted edges) — the
    // measured gap vs re-running large/small-star over ALL edges is
    // the claim behind g_cc_inc / st_cc_inc.
    val ccInc = section("cc_inc") {
      val e = graft.io.Tables.edges(spark, sfDir)
      val standing = graft.graph.ConnectedComponents.run(spark,
        e.where((col("src") + col("dst")) % 10 =!= 0)).localCheckpoint()
      val batch = e.where((col("src") + col("dst")) % 10 === 0)
        .localCheckpoint()
      def refresh(): Unit = materialize(
        graft.graph.ConnectedComponents.incremental(spark, standing, batch))
      def full(): Unit = materialize(
        graft.graph.ConnectedComponents.run(spark, e))
      refresh(); full() // warm
      val tr = (1 to 3).map(_ => timeIt(refresh())).sorted
      val tf = (1 to 3).map(_ => timeIt(full())).sorted
      Seq("cc_inc_refresh_sec" -> tr(1), "cc_full_recompute_sec" -> tf(1))
    }
    // Storage-partitioned join vs plain shuffled join through the
    // connector (round 11): the same ~10M-row fact and its per-key
    // dim, written once bucketed (the layout pays the shuffle at
    // write) and once plain; the SPJ plan moves ZERO fact/dim bytes at
    // join time, the plain plan exchanges both sides every query. The
    // gap is what the layout buys EVERY downstream join on the key.
    val bucketSpj = section("bucket_spj") {
      val root = Bridge.scratchDir("graft_bench_spj")
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
      val fmtName = "graft.sources.EdgeListSource"
      val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
        .crossJoin(broadcast(spark.range(16).toDF("rep")))
        .select((col("src") * 16 + col("rep")).as("src"), col("dst"))
      val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("dst"))
      // bucket count = TARGET JOIN PARALLELISM (here local[32]): the
      // key-grouped join runs one task per bucket, so under-bucketing
      // clamps the join to fewer cores than the plain plan's 32-way
      // exchange gets (measured: 8 buckets on 32 cores lost more to
      // idle cores than the exchange cost) — the same sizing rule as
      // cluster bucketing
      e.repartition(4).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "32")
        .mode("overwrite").save(s"$root/fact_b")
      deg.repartition(4).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "32")
        .mode("overwrite").save(s"$root/dim_b")
      // same FILE COUNT as the fanout layout (4 tasks x 32 buckets =
      // 128): local file-open overhead would otherwise mask the
      // exchange the pair is meant to isolate
      e.repartition(128).write.format(fmtName)
        .mode("overwrite").save(s"$root/fact_p")
      deg.repartition(128).write.format(fmtName)
        .mode("overwrite").save(s"$root/dim_p")
      def q(fa: String, di: String) =
        s"SELECT /*+ MERGE(a) */ count(*) AS n, " +
          s"CAST(sum(a.dst + b.dst) AS BIGINT) AS s " +
          s"FROM graft.`$root/$fa` a JOIN graft.`$root/$di` b " +
          "ON a.src = b.src"
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      def spj(): Unit = {
        // save/restore (not unset) so pre-existing session values for
        // the v2 bucketing confs survive later bench sections
        val prior = keys.map(k => k -> spark.conf.getOption(k))
        keys.foreach(spark.conf.set(_, "true"))
        try materialize(spark.sql(q("fact_b", "dim_b")))
        finally prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      def plain(): Unit = materialize(spark.sql(q("fact_p", "dim_p")))
      spj(); plain() // warm
      val ts = (1 to 3).map(_ => timeIt(spj())).sorted
      val tp = (1 to 3).map(_ => timeIt(plain())).sorted
      Seq("bucket_spj_join_sec" -> ts(1), "bucket_shuffle_join_sec" -> tp(1))
    }
    // SPJ skew pair (round 12): the hot-key tail under plain SPJ (one
    // task per bucket — the hot bucket's ~27% of rows on ONE core) vs
    // partially-clustered distribution (the hot bucket's 8 files become
    // 8 tasks, the small dim replicates; zero fact shuffle either way).
    // The partial arm pays read-side sorts (chunk-granular planning
    // gives up the sorted-merge report — the documented interplay in
    // EdgeListScan.sortedBuckets); the pair measures that trade where
    // it matters, on the skewed table where the tail dominates.
    val bucketSkew = section("bucket_skew") {
      val root = Bridge.scratchDir("graft_bench_skw")
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
      val fmtName = "graft.sources.EdgeListSource"
      // 20M rows, 50% remapped onto one hot key; 8 write tasks x 32
      // buckets → the hot bucket lands as 8 splittable files. Sizing
      // note (measured in r12): at 25%/10M the hot task is cheaper than the
      // pair's fixed costs and the arms tie (~1.3 s each); at 50%/20M
      // the tail dominates and partial clustering collapses it
      // (measured 4.14 s → 1.73 s median, 2.4x).
      spark.range(20000000L).selectExpr(
          "CASE WHEN id % 2 = 0 THEN 7L ELSE id % 100000 END AS src",
          "(id * 13) % 1000000 AS dst")
        .repartition(8).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "32")
        .mode("overwrite").save(s"$root/fact_sk")
      spark.range(100000L).selectExpr("id AS src", "id * 2 AS dst")
        .repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "32")
        .mode("overwrite").save(s"$root/dim_sk")
      val q = s"SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n, " +
        s"CAST(sum(a.dst + b.dst) AS BIGINT) AS s " +
        s"FROM graft.`$root/fact_sk` a JOIN graft.`$root/dim_sk` b " +
        "ON a.src = b.src GROUP BY a.src"
      val base = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      val pcKey =
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
      def run(partial: Boolean): Unit = {
        val keys = if (partial) base :+ pcKey else base
        val prior = keys.map(k => k -> spark.conf.getOption(k))
        keys.foreach(spark.conf.set(_, "true"))
        try materialize(spark.sql(q))
        finally prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      run(partial = false); run(partial = true) // warm
      val tPlain = (1 to 3).map(_ => timeIt(run(partial = false))).sorted
      val tPart = (1 to 3).map(_ => timeIt(run(partial = true))).sorted
      Seq("bucket_skew_plain_spj_sec" -> tPlain(1),
        "bucket_skew_part_clustered_sec" -> tPart(1))
    }
    // Compound-key GRID SPJ (round 13): the same ~10M-row fact joined
    // on BOTH key columns — once through the n×n grid layout (two
    // reported transforms, pair partition key, zero Exchange) and once
    // through plain tables (both sides exchange). What the compound
    // layout buys every multi-column-key join.
    val bucketGrid = section("bucket_grid") {
      val root = Bridge.scratchDir("graft_bench_grid")
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")
      val fmtName = "graft.sources.EdgeListSource"
      val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
        .crossJoin(broadcast(spark.range(16).toDF("rep")))
        .select((col("src") * 16 + col("rep")).as("src"), col("dst"))
      val sub = e.where((col("src") + col("dst")) % 3 === 0)
      // 6 buckets/dim = 36 grid cells ≈ the 32-core target parallelism
      e.repartition(4).write.format(fmtName)
        .option("bucketBy", "src,dst").option("numBuckets", "6")
        .mode("overwrite").save(s"$root/fact_g")
      sub.repartition(2).write.format(fmtName)
        .option("bucketBy", "src,dst").option("numBuckets", "6")
        .mode("overwrite").save(s"$root/sub_g")
      e.repartition(40).write.format(fmtName)
        .mode("overwrite").save(s"$root/fact_p")
      sub.repartition(40).write.format(fmtName)
        .mode("overwrite").save(s"$root/sub_p")
      def q(fa: String, su: String) =
        s"SELECT /*+ MERGE(a) */ count(*) AS n " +
          s"FROM graft.`$root/$fa` a JOIN graft.`$root/$su` b " +
          "ON a.src = b.src AND a.dst = b.dst"
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      def spj(): Unit = {
        val prior = keys.map(k => k -> spark.conf.getOption(k))
        keys.foreach(spark.conf.set(_, "true"))
        try materialize(spark.sql(q("fact_g", "sub_g")))
        finally prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      def plain(): Unit = materialize(spark.sql(q("fact_p", "sub_p")))
      spj(); plain() // warm
      val ts = (1 to 3).map(_ => timeIt(spj())).sorted
      val tp = (1 to 3).map(_ => timeIt(plain())).sorted
      Seq("bucket_grid_spj_sec" -> ts(1),
        "bucket_grid_shuffle_sec" -> tp(1))
    }
    // Bucket-local z-order (round 13): a 2-dim box filter on the SAME
    // bucketed table before and after the bucket-local rewrite — what
    // the kept-layout Morton pass buys a multi-dimensional scan
    // (file-skipping via zone maps) without costing the SPJ anything.
    val zorderBucket = section("zorder_bucket") {
      val root = Bridge.scratchDir("graft_bench_zb")
      val fmtName = "graft.sources.EdgeListSource"
      val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
        .crossJoin(broadcast(spark.range(16).toDF("rep")))
        .select((col("src") * 16 + col("rep")).as("src"), col("dst"))
      e.repartition(8).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "16")
        .mode("overwrite").save(s"$root/t")
      val hi = e.agg(max("src"), max("dst")).head
      val (sLim, dLim) = (hi.getLong(0) / 4, hi.getLong(1) / 4)
      def boxScan(): Unit = materialize(
        spark.read.format(fmtName).load(s"$root/t")
          .where(col("src") < sLim && col("dst") < dLim)
          .agg(count(lit(1)), sum("dst")))
      boxScan() // warm
      val before = (1 to 3).map(_ => timeIt(boxScan())).sorted
      graft.io.Compaction.zorderEdgeList(spark, s"$root/t",
        numFiles = 64, bits = 24)
      boxScan() // warm post-layout
      val after = (1 to 3).map(_ => timeIt(boxScan())).sorted
      Seq("zorder_bucket_box_before_sec" -> before(1),
        "zorder_bucket_box_after_sec" -> after(1))
    }
    // Multi-index aHash probe vs brute-force all-pairs Hamming
    // (round 10) on a HIGH-ENTROPY fingerprint corpus (200k standing,
    // 2k batch with planted 1-bit flips). Honest reading: at this
    // size the broadcast codegen popcount (400M ALU ops, zero
    // shuffles) wins — brute IS the right plan below the crossover,
    // and the pair records where that crossover economics stands
    // (probe does ~478× fewer comparisons but pays shuffle-priced
    // candidates; measured round 10: 69 s naive 7-bit row-banding →
    // 10.1 s value-banding → ~2 s multi-index, vs ~0.5 s brute). The
    // index's structural claim — standing state reused across
    // refreshes, no standing×standing pairs, no corpus rescans — is
    // the ahash_rescan pair below.
    val ahashIdx = section("ahash_index") {
      import graft.pipeline.Multimodal
      import graft.functions.Hashing
      val bound = 1L << 32
      def fp(ids: DataFrame): DataFrame = ids.select(
        col("id").as("doc_id"), lit(0L).as("frame_idx"),
        pmod(Hashing.hash60(concat(lit("alo"), col("id"))), lit(bound))
          .as("ahash_lo"),
        pmod(Hashing.hash60(concat(lit("ahi"), col("id"))), lit(bound))
          .as("ahash_hi"))
      val standing = fp(spark.range(200000).toDF("id")).localCheckpoint()
      val batch = fp(spark.range(200000).toDF("id")
          .where(col("id") % 100 === 0))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("frame_idx"),
          col("ahash_lo"), col("ahash_hi"))
        // plant a 1-bit flip so true near pairs exist; the lo/hi choice
        // keys on (doc_id div 100) % 2 — doc_id itself is a multiple of
        // 100 here, so `doc_id % 2` would route EVERY flip into
        // ahash_lo and never exercise the hi bands (r10 ADVICE)
        .select(col("doc_id"), col("frame_idx"),
          expr("CASE WHEN (doc_id div 100) % 2 = 0 THEN ahash_lo ^ " +
            "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 32 AS INT)) " +
            "ELSE ahash_lo END").as("ahash_lo"),
          expr("CASE WHEN (doc_id div 100) % 2 <> 0 THEN ahash_hi ^ " +
            "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 32 AS INT)) " +
            "ELSE ahash_hi END").as("ahash_hi"))
        .localCheckpoint()
      val index = Multimodal.aHashIndex(standing).localCheckpoint()
      // duplicate-heavy regime: same row counts, hashes drawn from a
      // 1 000-value set (screenshots/logos shape) — the value-distinct
      // index collapses to 1 000 hashes while brute still pays the full
      // 4×10⁸ row-pair product
      def fpDup(ids: DataFrame): DataFrame = ids.select(
        col("id").as("doc_id"), lit(0L).as("frame_idx"),
        pmod(Hashing.hash60(concat(lit("dlo"), col("id") % 1000)),
          lit(bound)).as("ahash_lo"),
        pmod(Hashing.hash60(concat(lit("dhi"), col("id") % 1000)),
          lit(bound)).as("ahash_hi"))
      val standingDup = fpDup(spark.range(200000).toDF("id")).localCheckpoint()
      val batchDup = fpDup(spark.range(200000).toDF("id")
          .where(col("id") % 100 === 0))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("frame_idx"),
          col("ahash_lo"), col("ahash_hi"))
        .select(col("doc_id"), col("frame_idx"),
          expr("CASE WHEN (doc_id div 100) % 2 = 0 THEN ahash_lo ^ " +
            "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 32 AS INT)) " +
            "ELSE ahash_lo END").as("ahash_lo"),
          expr("CASE WHEN (doc_id div 100) % 2 <> 0 THEN ahash_hi ^ " +
            "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 32 AS INT)) " +
            "ELSE ahash_hi END").as("ahash_hi"))
        .localCheckpoint()
      val indexDup = Multimodal.aHashIndex(standingDup).localCheckpoint()
      def stats(df: DataFrame): Unit =
        materialize(Multimodal.aHashNearDupStats(df))
      def probe(): Unit =
        stats(Multimodal.aHashNearDupProbe(index, standing, batch, 8))
      def brute(): Unit =
        stats(Multimodal.aHashNearDupBrute(standing, batch, 8))
      def auto(): Unit =
        stats(Multimodal.aHashNearDupAuto(index, standing, batch, 8))
      def probeDup(): Unit =
        stats(Multimodal.aHashNearDupProbe(indexDup, standingDup, batchDup, 8))
      def bruteDup(): Unit =
        stats(Multimodal.aHashNearDupBrute(standingDup, batchDup, 8))
      def autoDup(): Unit =
        stats(Multimodal.aHashNearDupAuto(indexDup, standingDup, batchDup, 8))
      probe(); brute(); auto(); probeDup(); bruteDup(); autoDup() // warm
      def med(f: () => Unit): Double = (1 to 3).map(_ => timeIt(f())).sorted.apply(1)
      Seq("ahash_probe_sec" -> med(probe), "ahash_brute_sec" -> med(brute),
        "ahash_auto_sec" -> med(auto),
        "ahash_dup_probe_sec" -> med(probeDup),
        "ahash_dup_brute_sec" -> med(bruteDup),
        "ahash_dup_auto_sec" -> med(autoDup))
    }
    // No rescan-vs-index pair for st_ahash here, deliberately: on the
    // synthetic corpus the AVI decode is ~free (1 KB clips; measured
    // probe-only 3.15 s vs decode+probe 3.21 s — both numbers are
    // output materialization, not the claim), so the pair would read
    // as noise. The no-rescan property is structural (the standing
    // hashes and index are bootstrapped once and localCheckpointed;
    // foreachBatch touches only the micro-batch) and gate-proven; on
    // real media the decode the index amortizes dominates by orders
    // of magnitude.
    val extras = topk ++ streaming ++ asof ++ trend ++ decontamKmv ++
      changesFeed ++ ccInc ++ bucketSpj ++ bucketSkew ++ bucketGrid ++
      zorderBucket ++ ahashIdx

    // child mode: the one family's KVs are already on stdout — the
    // parent owns the JSON contract
    if (childTarget.isDefined) { spark.stop(); return }

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val mr = mrPhase.map { case (k, v) => "\"" + k + f"\":$v%.1f" }
      .mkString("{", ",", "}")
    val ex = extras.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    // per-query [min, median, max] over the 5 reps — the reported median
    // is only trustworthy next to its spread (round-6 postmortem: a
    // +14-29% graph-trio drift was unexplainable without variance data)
    val spread = timed.map { case (k, ts) =>
      "\"" + k + f"""":[${ts.head}%.3f,${ts(2)}%.3f,${ts.last}%.3f]""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"mr_phase_ms":$mr,"extras":$ex,"spread":$spread,"sf":"$sfDir"}""")
    // COMPACT summary as the LAST stdout line (≤1.5 kB): the driver
    // records only a 2000-char stdout tail, so the full record above
    // always truncated to "parsed": null (r11 Missing #5 — the r11
    // s_ann_ivfpq anomaly hid in the unparseable tail). This line keeps
    // the headline, the host-noise control floor, the reference metric,
    // and the evidence pairs cross-round comparison needs.
    val controlMin = timed.find(_._1 == "q1_agg").map(_._2.head).getOrElse(0.0)
    val evidenceKeys = Seq(
      "bucket_spj_join_sec", "bucket_shuffle_join_sec",
      "bucket_skew_part_clustered_sec", "bucket_skew_plain_spj_sec",
      "bucket_grid_spj_sec", "bucket_grid_shuffle_sec",
      "zorder_bucket_box_before_sec", "zorder_bucket_box_after_sec",
      "cc_inc_refresh_sec", "cc_full_recompute_sec",
      "edge_changes_window_sec", "edge_full_scan_sec",
      "d_decontam_kmv_refresh_sec",
      "ahash_auto_sec", "ahash_brute_sec", "ahash_probe_sec",
      "ahash_dup_auto_sec", "ahash_dup_brute_sec", "ahash_dup_probe_sec",
      "s_ann_ivfpq_min_sec", "s_ann_ivfpq_sec", "s_ann_ivfpq_max_sec",
      // per-family controls of the two watched sections: the fresh-JVM
      // number plus the host state DURING that family's window
      "ahash_index_ctl_sec", "s_ann_ivfpq_ctl_sec")
    val extrasMap = extras.toMap
    val ev = evidenceKeys.flatMap(k => extrasMap.get(k).map(v =>
      "\"" + k + f"\":$v%.2f")).mkString("{", ",", "}")
    println(
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","summary":true,"queries":$qs,"mr_phase_ms":$mr,"control_min":$controlMin%.3f,"evidence":$ev,"sf":"$sfDir"}""")
    spark.stop()
  }
}
