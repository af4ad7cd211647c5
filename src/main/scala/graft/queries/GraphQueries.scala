package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Betweenness, Bipartite, Coloring, CommunityMetrics, ConnectedComponents, Coreness, DensestSubgraph, EigenvectorCentrality, GraphOps, Hits, Katz, KCore, LinkPrediction, LabelPropagation, LubyMIS, MaximalMatching, MinimumSpanningForest, NeighborhoodFunction, PageRank, RMat, RandomWalks, ShortestPaths, StronglyConnectedComponents, TopoSort, Triangles, Truss}
import graft.io.Tables
import graft.sources.EdgeListCatalog
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-gate queries for the OINK graph suite (SURVEY.md §2.5) over the
  * canonical derived edge list ([[Tables.edges]]). Oracle SQL shares the
  * same `edges` CTE so both engines see the identical graph.
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  private def E = Tables.EdgesSql
  private val N = Tables.GraphN

  // g_sssp_multi's seeded-source contract (oink/sssp.cpp:54).
  private val SsspSeed = 5L
  private val SsspCount = 3

  // Query families that share an expensive stage (g_cc/g_cc_stats,
  // g_tri/g_tri_count, ...) memoize it per (stage, session, dir) so a
  // Verify sweep computes each once. A memoized frame is persisted
  // unless spark.graft.memoize is false (default true): a Verify sweep
  // wants the reuse, but a benchmark rep must not pay the block-manager
  // write — at sf0.1 the triangle set is 6.4M rows, and caching it
  // costs more than enumerating it.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, SparkSession, String), AnyRef]
  private def memoized[T <: AnyRef](stage: String, s: SparkSession, dir: String)(
      build: => T): T =
    memo.getOrElseUpdate((stage, s, dir), build match {
      case df: DataFrame if s.conf.get("spark.graft.memoize", "true").toBoolean =>
        df.persist()
      case v => v
    }).asInstanceOf[T]

  private def ccOf(s: SparkSession, dir: String): DataFrame =
    memoized("cc", s, dir)(ConnectedComponents.run(s, Tables.edges(s, dir)))
  // g_msf / g_msf_stats share the Borůvka forest.
  private def msfOf(s: SparkSession, dir: String): DataFrame =
    memoized("msf", s, dir)(MinimumSpanningForest.run(s, Tables.edges(s, dir)))
  private def triOf(s: SparkSession, dir: String): DataFrame =
    memoized("tri", s, dir)(Triangles.run(Tables.edges(s, dir)))

  // g_sssp_multi / g_closeness / g_harmonic share the seeded
  // multi-source BFS, and g_betweenness its source derivation.
  private def srcsOf(s: SparkSession, dir: String): Seq[Long] =
    memoized("srcs", s, dir)(ShortestPaths.seededSources(
      Tables.edges(s, dir), seed = SsspSeed, count = SsspCount))
  private def ssspOf(s: SparkSession, dir: String): DataFrame =
    memoized("sssp", s, dir)(
      ShortestPaths.runMulti(s, Tables.edges(s, dir), srcsOf(s, dir)))

  // g_anf / g_hopplot / g_hyperball share the HyperANF sketch rounds.
  private val AnfRounds = 3
  private def anfOf(s: SparkSession, dir: String): DataFrame =
    memoized("anf", s, dir)(
      NeighborhoodFunction.run(s, Tables.edges(s, dir), AnfRounds))

  // In-direction ANF twin (edges reversed): g_hyperball_in /
  // g_hb_closeness_in — in-harmonic ranks receivers, in-closeness the
  // classic closeness on incoming paths.
  private def anfInOf(s: SparkSession, dir: String): DataFrame =
    memoized("anfIn", s, dir) {
      val rev = Tables.edges(s, dir)
        .select(col("dst").as("src"), col("src").as("dst"))
      NeighborhoodFunction.run(s, rev, AnfRounds)
    }

  // g_scc / g_scc_stats / g_scc_condense share the SCC labels.
  private def sccOf(s: SparkSession, dir: String): DataFrame =
    memoized("scc", s, dir)(StronglyConnectedComponents.run(s, Tables.edges(s, dir)))

  // g_lpa / g_community / g_modularity share the 4-round LPA labels.
  private def lpaOf(s: SparkSession, dir: String): DataFrame =
    memoized("lpa", s, dir)(LabelPropagation.run(s, Tables.edges(s, dir), rounds = 4))

  /** Release the memoized frames — call after a sweep (Verify, Bench)
    * so persisted blocks don't outlive their usefulness in a long-lived
    * session. */
  def clearCaches(): Unit = {
    memo.values.foreach {
      case df: DataFrame => df.unpersist(false)
      case _ => ()
    }
    memo.clear()
  }

  val queries: Map[String, Q] = Map(
    "g_degree" -> ((s, dir) => GraphOps.outDegree(Tables.edges(s, dir))),

    // The DataSourceV2 edge-list connector end-to-end, BOTH directions:
    // the edge table is written through the connector's BatchWrite
    // (task temp files + rename commit), re-read at 4 KiB byte-range
    // chunks — dozens of mid-line boundaries — with the dst-filter
    // PUSHED INTO the chunk readers, and aggregated. The oracle never
    // sees the on-disk detour, so any emit / parse / boundary /
    // pushdown defect breaks the hash.
    "g_dsv2_edges" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2")
      Tables.edges(s, dir)
        .repartition(3).write.format("graft.sources.EdgeListSource")
        .mode("overwrite").save(s"$root/edges")
      s.read.format("graft.sources.EdgeListSource")
        .option("chunkBytes", "4096")
        .load(s"$root/edges")
        .where(col("dst") >= 10)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
    }),

    // TIME TRAVEL round trip: write the low-dst half of the edges as
    // snapshot v, append the high-dst half (a later version), then
    // read VERSION AS OF v — the pinned read must see only the first
    // commit's rows while the live table holds both. The oracle never
    // sees the on-disk detour: it just filters the low half.
    "g_dsv2_timetravel" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2t")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.where(col("dst") < 5000).repartition(2)
        .write.format(fmtName).mode("overwrite").save(s"$root/edges")
      val v = graft.sources.EdgeLog
        .currentVersion(new java.io.File(s"$root/edges")).get
      e.where(col("dst") >= 5000).repartition(2)
        .write.format(fmtName).mode("append").save(s"$root/edges")
      s.read.format(fmtName).option("versionAsOf", v)
        .load(s"$root/edges")
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
    }),

    // WEIGHTED edge format through the connector (read_edge_weight's
    // `vi vj wt`): write with integer-valued weights, read back under
    // the 3-column schema, aggregate — integer-valued doubles sum
    // exactly, so the cast-to-long total hash-gates. The oracle never
    // sees the on-disk text detour.
    "g_dsv2_weighted" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2w")
      val fmtName = "graft.sources.EdgeListSource"
      Tables.edges(s, dir)
        .withColumn("weight",
          ((col("src") + col("dst")) % 7 + 1).cast("double"))
        .repartition(3)
        .write.format(fmtName).option("withWeight", "true")
        .mode("overwrite").save(s"$root/edges")
      s.read.format(fmtName).option("withWeight", "true")
        .load(s"$root/edges")
        .where(col("dst") >= 10)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"),
          sum("weight").cast("long").as("sum_w"))
    }),

    // LABELED edge format through the connector (read_edge_label's
    // `vi vj label`, signed integer): the label expression goes
    // negative for half the edges, so the gate exercises the signed
    // parse; exact longs end to end.
    "g_dsv2_labeled" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2l")
      val fmtName = "graft.sources.EdgeListSource"
      Tables.edges(s, dir)
        .withColumn("label", (col("src") + col("dst")) % 9 - 4)
        .repartition(3)
        .write.format(fmtName).option("withLabel", "true")
        .mode("overwrite").save(s"$root/edges")
      s.read.format(fmtName).option("withLabel", "true")
        .load(s"$root/edges")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("dst").as("sum_dst"))
    }),

    // APPEND-ONLY CHANGES FEED: commit the low-dst half, then the
    // high-dst half; reading changesFromVersion=v0 returns EXACTLY the
    // second commit's rows — the standing table is never rescanned
    // (the incremental-ingest read path). Oracle filters the high half.
    "g_dsv2_changes" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2c")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.where(col("dst") < 5000).repartition(2)
        .write.format(fmtName).mode("overwrite").save(s"$root/edges")
      val v = graft.sources.EdgeLog
        .currentVersion(new java.io.File(s"$root/edges")).get
      e.where(col("dst") >= 5000).repartition(2)
        .write.format(fmtName).mode("append").save(s"$root/edges")
      s.read.format(fmtName).option("changesFromVersion", v)
        .load(s"$root/edges")
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
    }),

    // VACUUM (log retention): two commits land, then vacuum retains
    // only the newest manifest — the dropped snapshot must fail fast
    // when pinned (probed and asserted in-query), history shrinks to
    // the retained window, and the CURRENT read is byte-identical to
    // before (the oracle sees all edges, never the maintenance op).
    // The op that bounds metadata growth at thousands of commits/day.
    "g_dsv2_vacuum" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2v")
      val fmtName = "graft.sources.EdgeListSource"
      val tbl = new java.io.File(s"$root/edges")
      val e = Tables.edges(s, dir)
      e.where(col("dst") < 5000).repartition(2)
        .write.format(fmtName).mode("overwrite").save(tbl.getPath)
      e.where(col("dst") >= 5000).repartition(2)
        .write.format(fmtName).mode("append").save(tbl.getPath)
      val removed = graft.sources.EdgeLog.vacuum(tbl, retainLast = 1)
      require(removed.nonEmpty, "vacuum removed no versions")
      require(graft.sources.EdgeLog.versions(tbl).size == 1,
        "history did not shrink to the retained window")
      val gone =
        try {
          s.read.format(fmtName).option("versionAsOf", removed.head)
            .load(tbl.getPath).collect(); false
        } catch { case e: Exception =>
          // assert on the story, not on "anything threw": an unrelated
          // failure (bad path, format error) must not pass as "snapshot
          // correctly gone"
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => t.getMessage != null &&
              t.getMessage.contains(s"no snapshot version ${removed.head}"))
        }
      require(gone, s"vacuumed version ${removed.head} is still readable" +
        " (or failed without the no-snapshot story)")
      s.read.format(fmtName).load(tbl.getPath)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
    }),

    // CHANGES-FEED-DRIVEN INCREMENTAL CC — the connector's feed wired
    // into the maintenance path (the full 100 TB refresh loop): the
    // standing graph is written to the connector and its CC assignment
    // computed ONCE from that snapshot; the 10% batch lands as an
    // append commit; the refresh reads ONLY the changes window
    // (changesFromVersion=v0 — the standing table is never rescanned)
    // and folds it through ConnectedComponents.incremental. Terminal
    // assignment ≡ the full-graph closure (g_cc_inc's oracle verbatim
    // — equality proven, not assumed).
    "g_dsv2_cc_inc" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2cc")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.where((col("src") + col("dst")) % 10 =!= 0).repartition(2)
        .write.format(fmtName).mode("overwrite").save(s"$root/edges")
      val v = graft.sources.EdgeLog
        .currentVersion(new java.io.File(s"$root/edges")).get
      // pin the standing read to the pre-append snapshot: the assignment
      // is computed lazily, and an UNPINNED read would re-list the
      // directory at execution time — i.e. after the append below — so
      // the "standing" state would silently rescan the full post-append
      // table (r10 ADVICE). The pinned version makes the carried state a
      // true snapshot and the refresh touch only the changes window.
      val standingCC = ConnectedComponents.run(
        s, s.read.format(fmtName).option("versionAsOf", v)
          .load(s"$root/edges"))
      e.where((col("src") + col("dst")) % 10 === 0).repartition(2)
        .write.format(fmtName).mode("append").save(s"$root/edges")
      val delta = s.read.format(fmtName)
        .option("changesFromVersion", v).load(s"$root/edges")
      ConnectedComponents.incremental(s, standingCC, delta)
    }),

    // Write -> OPTIMIZE ZORDER -> filtered read round trip: the
    // maintenance pass rewrites the connector table on the (src, dst)
    // Morton curve (fresh zone-map sidecars from the rewrite commit),
    // then a two-sided range filter reads through the pruned file set.
    // The oracle never sees the on-disk detour or the layout.
    "g_dsv2_zorder" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2z")
      Tables.edges(s, dir)
        .repartition(4).write.format("graft.sources.EdgeListSource")
        .mode("overwrite").save(s"$root/edges")
      graft.io.Compaction.zorderEdgeList(s, s"$root/edges",
        numFiles = 4, bits = 20)
      s.read.format("graft.sources.EdgeListSource")
        .load(s"$root/edges")
        .where(col("src") >= 100 && col("dst") < 5000)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
    }),

    // COMPOUND (grid) bucket keys (round 13): real fact tables
    // co-locate on multi-column keys. Spark 4.1's SPJ machinery only
    // accepts SINGLE-argument transforms (KeyGroupedPartitioning.
    // isSupportedTransform requires children.size == 1 — verified
    // against the bytecode; a reported bucket(n, src, dst) resolves but
    // never plans exchange-free, r13), so the compound
    // layout is a GRID: `bucketBy=src,dst` fans out to n×n cells
    // (tag = bucket(src,n)*n + bucket(dst,n)), the scan reports TWO
    // transforms [bucket(n,src), bucket(n,dst)] with the pair as
    // partition key, and a join on BOTH columns plans with ZERO
    // Exchange (asserted in-query on the executed plan, aggregate
    // grouped on both keys so the grid satisfies it end-to-end).
    // Bonus over a combined hash: a filter on EITHER column prunes its
    // grid dimension alone, and the width-reduction algebra composes
    // per dimension. The oracle computes the same two-key join.
    "g_dsv2_bucket_multi" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bm")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(4).write.format(fmtName)
        .option("bucketBy", "src,dst").option("numBuckets", "4")
        .mode("overwrite").save(s"$root/a")
      e.where((col("src") + col("dst")) % 3 === 0)
        .repartition(2).write.format(fmtName)
        .option("bucketBy", "src,dst").option("numBuckets", "4")
        .mode("overwrite").save(s"$root/b")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs: _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, a.dst AS w,
           |  count(*) AS n_pairs
           |FROM graft.`$root/a` a JOIN graft.`$root/b` b
           |ON a.src = b.src AND a.dst = b.dst
           |GROUP BY a.src, a.dst""".stripMargin)
      val out = df.localCheckpoint() // executes the join
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join over the grid-bucketed tables:\n" +
          df.queryExecution.executedPlan)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(exchanges.isEmpty,
        s"compound-key SPJ planned ${exchanges.size} Exchange(s):\n" +
          df.queryExecution.executedPlan)
      // full compound layout contract: files are lexicographically
      // sorted on the pair and the two-key merge reader reports the
      // ordering — the grid pays shuffle AND sort once, at write time
      val sorts = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
      require(sorts.isEmpty,
        s"compound-key SPJ planned ${sorts.size} Sort(s):\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // GRID RUNTIME (DPP) PRUNING (round 13, follow-on to bucket_multi):
    // the compound layout's third prune channel. A broadcast dim's
    // build-side key set arrives at EXECUTION as In(src, …) and prunes
    // the grid's ROW dimension alone — precisely what a combined
    // compound hash could never do (it needs both keys). In-query
    // audit: DynamicPruningExpression present AND the executed RDD
    // planned strictly fewer files than the on-disk census; cells
    // emptied by the runtime filter pad as explicit empty partitions so
    // the reported two-transform partitioning survives filter().
    // Oracle: the plain join aggregate.
    "g_dsv2_grid_runtime" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2gr")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(2).write.format(fmtName)
        .option("bucketBy", "src,dst").option("numBuckets", "4")
        .mode("overwrite").save(s"$root/fact")
      val totalFiles =
        graft.sources.EdgeListSource.listFiles(s"$root/fact").size
      val dim = e.groupBy(col("src").as("k"))
        .agg(count(lit(1)).as("c"))
        .where(col("k") % 293 === 7)
      val fact = s.read.format(fmtName).load(s"$root/fact")
      val df = fact.join(broadcast(dim), col("src") === col("k"))
        .groupBy("src")
        .agg(count(lit(1)).as("n"),
          sum(col("dst") + col("c")).cast("long").as("sum_dc"))
      val out = df.localCheckpoint()
      val planStr = df.queryExecution.executedPlan.toString
      require(planStr.toLowerCase.contains("dynamicpruning"),
        s"no DynamicPruningExpression on the grid fact scan:\n$planStr")
      val scan = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.description().contains("/fact") => b }
        .getOrElse(throw new IllegalStateException(s"no fact scan:\n$planStr"))
      val planned = scan.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions
        case _ => Nil
      }.flatMap {
        case sb: graft.sources.SortedBucketFiles => sb.files.map(_._1)
        case er: graft.sources.EdgeRange => Seq(er.file)
      }.distinct.size
      require(planned < totalFiles,
        s"grid runtime pruning inactive: planned $planned of" +
          s" $totalFiles files")
      out
    }),

    // BUCKET-LOCAL Z-ORDER (round 13): the 100 TB table wants BOTH
    // layouts — the SPJ buckets for the join and the Morton curve for
    // multi-dimensional skipping — and until this round zorder dropped
    // the bucket tags (a deliberate re-layout). Now `zorderEdgeList` on
    // a bucketed table range-splits rows on (bucket, z) and rewrites
    // THROUGH the connector's bucketed write: tags, sidecar, sorted
    // flag all survive, while each bucket's files become narrow
    // (src, dst) rectangles. In-query audits: (1) a 2-dim filtered scan
    // plans STRICTLY FEWER files than the on-disk census (zone-map
    // pruning through the kept layout), (2) an SPJ join of the
    // z-ordered table still plans ZERO Exchange. The oracle sees only
    // the filtered aggregate.
    "g_dsv2_zorder_bucket" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2zb")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(4).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/edges")
      graft.io.Compaction.zorderEdgeList(s, s"$root/edges",
        numFiles = 32, bits = 20)
      require(graft.sources.BucketSpecIO.read(s"$root/edges")
          .contains(("src", 8)),
        "bucket-local zorder dropped the _graft_buckets sidecar")
      val census =
        graft.sources.EdgeListSource.listFiles(s"$root/edges").size
      val df = s.read.format(fmtName).load(s"$root/edges")
        .where(col("src") >= 100 && col("dst") < 5000)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
      val out = df.localCheckpoint()
      val scan = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            => b }.head
      val planned = scan.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions
        case _ => Nil
      }.flatMap {
        case sb: graft.sources.SortedBucketFiles => sb.files.map(_._1)
        case er: graft.sources.EdgeRange => Seq(er.file)
      }.distinct.size
      require(planned < census,
        s"z-order pruning inactive on the bucketed layout: planned" +
          s" $planned of $census files")
      // the kept layout still serves the exchange-free join
      e.select(col("dst").as("src"), col("src").as("dst"))
        .repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/other")
      val j = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs: _*).sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n
           |FROM graft.`$root/edges` a JOIN graft.`$root/other` b
           |ON a.src = b.src GROUP BY a.src""".stripMargin)
      j.localCheckpoint()
      val ex = graft.plans.PlanWalk.nodes(j.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(ex == 0,
        s"SPJ over the z-ordered bucketed table planned $ex Exchange(s):\n" +
          j.queryExecution.executedPlan)
      out
    }),

    // The connector as a PURE-SQL relation (graft_edges table function):
    // the same grouped-pushdown degree query, written entirely in SQL —
    // the thrift-server / SQL-script access path. Shares g_dsv2_degree's
    // oracle shape.
    "g_dsv2_tvf" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2tvf")
      Tables.edges(s, dir)
        .repartition(3).write.format("graft.sources.EdgeListSource")
        .mode("overwrite").save(s"$root/edges")
      s.sql(
        s"""SELECT src, count(*) AS out_deg, min(dst) AS min_dst,
           |  max(dst) AS max_dst
           |FROM graft_edges('$root/edges', 4096)
           |WHERE dst >= 5 GROUP BY src""".stripMargin)
    }),

    // SQL DML on the connector through the path-based catalog
    // (EdgeListCatalog): CREATE TABLE, INSERT via the batch write,
    // two pushed DELETE FROMs (range + IN — SupportsDeleteV2 rewrites
    // only files holding matches), and the surviving rows aggregated in
    // SQL. The oracle applies the same deletions as WHERE clauses over
    // the derived edge list — it never sees the table, the DML, or the
    // on-disk files.
    "g_dsv2_dml" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2dml")
      val p = s"$root/edges"
      val t = s"graft.`$p`"
      val cat = Bridge.cloneSession(s, EdgeListCatalog.Mount)
      cat.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
      Tables.edges(s, dir).repartition(3)
        .write.format("graft.sources.EdgeListSource").mode("append").save(p)
      cat.sql(s"DELETE FROM $t WHERE dst < 10")
      cat.sql(s"DELETE FROM $t WHERE src IN (0, 7)")
      cat.sql(s"""SELECT src, count(*) AS out_deg,
               |  CAST(sum(dst) AS BIGINT) AS sum_dst
               |FROM $t GROUP BY src""".stripMargin)
    }),

    // NAMED-TABLE catalog face (round 13): a real user's first query is
    // `SELECT … FROM db.edges`, not a path literal — the reference's
    // named MR-object layer (oink/object.cpp:96-295 binds names to
    // inputs/outputs) as a Spark TableCatalog with a warehouse mapping
    // (`spark.sql.catalog.graft.warehouse`). End-to-end by NAME only:
    // CREATE NAMESPACE, CREATE TABLE … PARTITIONED BY (bucket(8, src))
    // (the SPJ layout declared at DDL time — sidecar lands before any
    // row), INSERT INTO … SELECT (rides the sidecar: fanout-bucketed,
    // sorted), SHOW TABLES audited in-query, then a storage-partitioned
    // join of the two named tables with ZERO Exchange asserted on the
    // executed plan. No absolute path appears in any statement after
    // the warehouse conf. The oracle computes the same aggregate from
    // the derived edge list and never sees names, layout, or plan.
    "g_dsv2_catalog" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2cat")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.catalog.graft.warehouse" -> root.getPath): _*)
      spj.sql("CREATE NAMESPACE graft.db")
      spj.sql("CREATE TABLE graft.db.out_edges (src BIGINT, dst BIGINT)" +
        " PARTITIONED BY (bucket(8, src))")
      spj.sql("CREATE TABLE graft.db.in_edges (src BIGINT, dst BIGINT)" +
        " PARTITIONED BY (bucket(8, src))")
      Tables.edges(spj, dir).createOrReplaceTempView("g_cat_src")
      spj.sql("INSERT INTO graft.db.out_edges SELECT src, dst FROM g_cat_src")
      spj.sql("INSERT INTO graft.db.in_edges" +
        " SELECT dst AS src, src AS dst FROM g_cat_src")
      val listed = spj.sql("SHOW TABLES IN graft.db")
        .select("tableName").collect().map(_.getString(0)).toSet
      require(listed == Set("in_edges", "out_edges"),
        s"SHOW TABLES IN graft.db listed $listed")
      val df = spj.sql(
        """SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n_two_paths,
          |  CAST(min(b.dst) AS BIGINT) AS min_origin
          |FROM graft.db.out_edges a
          |JOIN graft.db.in_edges b ON a.src = b.src
          |GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint() // executes the join
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join over the named bucketed tables:\n" +
          df.queryExecution.executedPlan)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(exchanges.isEmpty,
        s"named-table SPJ planned ${exchanges.size} Exchange(s):\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // STORAGE-PARTITIONED JOIN through the connector — q45's zero-
    // Exchange lesson extended to the engine's OWN storage format: both
    // edge tables are written bucketed by the join key (the fanout
    // writer tags every file `-b<k>`, the `_graft_buckets` sidecar
    // persists the layout), the scans report bucket(8, src) key-grouped
    // partitioning, EdgeListCatalog's function catalog resolves both
    // transforms to the same bucket function, and the sort-merge join
    // plans with ZERO Exchange of any kind — shuffle OR broadcast —
    // asserted in-query on the EXECUTED plan (AQE stages walked). The
    // write paid the shuffle once; every later join on the key rides
    // the layout — the reference's aggregate-once idiom
    // (mapreduce.cpp:382-536) durable on disk. The oracle computes the
    // same 2-paths-through-v aggregate from the derived edge list and
    // never sees the layout, the catalog, or the plan.
    "g_dsv2_bucket_join" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bj")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/out_edges")
      e.select(col("dst").as("src"), col("src").as("dst"))
        .write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/in_edges")
      // storage-partitioned joins are conf-gated in Spark: the join is
      // built on a session copy that carries them
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs: _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n_two_paths,
           |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
           |FROM graft.`$root/out_edges` a
           |JOIN graft.`$root/in_edges` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint() // executes the join
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join over the bucketed connector tables:\n" +
          df.queryExecution.executedPlan)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(exchanges.isEmpty,
        s"bucketed connector join planned ${exchanges.size} Exchange(s):\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // SORTED storage-partitioned join — the full layout contract: both
    // tables bucketed AND sorted by the join key at write time (the
    // writer demands an in-partition ascending sort; the `_graft_buckets`
    // sidecar records `sorted`; every bucket's files are internally
    // ordered), the scans report per-partition ordering
    // (SupportsReportOrdering) over one merge-read partition per
    // bucket, and the sort-merge join plans with ZERO Exchange and
    // ZERO Sort — both halves of the shuffle+sort paid once at write
    // time, the reference's sort_keys (mapreduce.cpp:2007-2054)
    // amortized into the layout. The in-query audit walks the EXECUTED
    // plan (AQE stages included) for both absences.
    "g_dsv2_bucket_sorted" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bs")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(3).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/out_edges")
      e.select(col("dst").as("src"), col("src").as("dst"))
        .repartition(3).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/in_edges")
      require(graft.sources.BucketSpecIO.sortedOf(s"$root/out_edges") &&
        graft.sources.BucketSpecIO.sortedOf(s"$root/in_edges"),
        "bucketed writes must persist the sorted-layout flag")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs: _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n_two_paths,
           |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
           |FROM graft.`$root/out_edges` a
           |JOIN graft.`$root/in_edges` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint() // executes the join
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join over the sorted bucketed tables:\n" +
          df.queryExecution.executedPlan)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(exchanges.isEmpty,
        s"sorted bucketed join planned ${exchanges.size} Exchange(s):\n" +
          df.queryExecution.executedPlan)
      val sorts = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
      require(sorts.isEmpty,
        s"sorted bucketed join planned ${sorts.size} Sort(s) — the " +
          s"layout ordering was not honored:\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // COMPATIBLE-WIDTH storage-partitioned join (ReducibleFunction,
    // `v2.bucketing.allowCompatibleTransforms.enabled`): two tables
    // bucketed at DIFFERENT counts — 16 and 8 — join with ZERO
    // Exchange, because bucket(k,16) % 8 == bucket(k,8) (one mixed
    // value, nonneg modulo), so the wider side's buckets COALESCE onto
    // the narrower layout via BucketReducer. At 100 TB this joins a
    // 1024-wide table against a 256-wide one in place instead of
    // re-bucketing a petabyte. The sorted planner defers to
    // chunk-granular partitions under this conf (coalesced buckets
    // cannot report ordering — and the merged-partition planning broke
    // the reduced grouping, caught by the spec before it shipped).
    // The oracle computes the same join from the derived edge list.
    "g_dsv2_bucket_compat" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bc")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "16")
        .mode("overwrite").save(s"$root/wide")
      e.select(col("dst").as("src"), col("src").as("dst"))
        .repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/narrow")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true"): _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n_two_paths,
           |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
           |FROM graft.`$root/wide` a
           |JOIN graft.`$root/narrow` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join over the width-mismatched tables:\n" +
          df.queryExecution.executedPlan)
      val exchanges = nodes.filter(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      require(exchanges.isEmpty,
        s"compatible-width join planned ${exchanges.size} Exchange(s):\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // SPJ PARTITION FILTER (`v2.bucketing.partition.filter.enabled`):
    // the join's OTHER side filters this side's partitions at PLANNING
    // — an inner SPJ against a dim whose files exist in only a few
    // buckets (here: a point-filtered derivative, ≤3 of 8) never scans
    // the fact's unmatched buckets. This composes with bucket pruning
    // (filters on THIS side) and runtime filtering (keys known at
    // execution): three prune channels into the same layout. In-query
    // audit: zero Exchange AND the fact's executed RDD planned strictly
    // fewer files than the on-disk census. Oracle: the plain join.
    "g_dsv2_bucket_pfilter" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2pf")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/fact")
      e.where(col("src").isin(7L, 11L, 40L))
        .select(col("src"), col("dst") + 1000000L)
        .toDF("src", "dst")
        .repartition(1).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/dim")
      val totalFiles =
        graft.sources.EdgeListSource.listFiles(s"$root/fact").size
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.sources.v2.bucketing.partition.filter.enabled" -> "true"): _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(b.dst) AS BIGINT) AS s
           |FROM graft.`$root/fact` a JOIN graft.`$root/dim` b
           |ON a.src = b.src GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) == 0,
        s"partition-filtered SPJ exchanged:\n${df.queryExecution.executedPlan}")
      val fact = nodes.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("/fact") => b }.head
      val planned = fact.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions
        case _ => Nil
      }.flatMap {
        case sb: graft.sources.SortedBucketFiles => sb.files.map(_._1)
        case er: graft.sources.EdgeRange => Seq(er.file)
      }.distinct.size
      require(planned < totalFiles,
        s"partition filter inactive: planned $planned of $totalFiles files")
      out
    }),

    // SPJ SKEW MITIGATION (partially-clustered distribution) — the one
    // shape plain SPJ cannot survive at 100 TB: a skewed key inside one
    // bucket pins that bucket's row mass to a single task, because the
    // key-grouped join runs one task per bucket and AQE cannot split a
    // pinned partitioning. The reference hand-built the mitigation in
    // cc_find's big-zone splitting (oink/cc_find.cpp:38-109); the
    // engine's equivalent is Spark's partially-clustered distribution
    // over the connector's chunk-granular splits: the fact side's hot
    // bucket stays UNGROUPED (its files become separate tasks) and the
    // small dim's groups are replicated to match — still zero shuffle
    // of the fact. In-query audit: SMJ, no Exchange below the join,
    // partial-clustering flags on both scans, fact task count ABOVE the
    // bucket count (the split happened), dim task count equal to it
    // (the replication happened). The oracle computes the same skewed
    // join from the derived tables and never sees the layout.
    "g_dsv2_bucket_skew" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2sk")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      // hot key 7 carries ~25% of the fact; 4 write tasks x 8 buckets
      // give the hot bucket several files (= several splittable chunks)
      e.selectExpr("CASE WHEN src % 4 = 0 THEN 7L ELSE src END AS src", "dst")
        .repartition(4).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/fact")
      e.groupBy("src").agg(count(lit(1)).as("dst"))
        .repartition(1).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/dim")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true"): _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n,
           |  CAST(sum(a.dst + b.dst) AS BIGINT) AS s
           |FROM graft.`$root/fact` a JOIN graft.`$root/dim` b
           |ON a.src = b.src GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      val smj = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
        .getOrElse(throw new IllegalStateException(
          s"no SMJ:\n${df.queryExecution.executedPlan}"))
      require(graft.plans.PlanWalk.nodes(smj)
          .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) == 0,
        s"exchange below the join:\n${df.queryExecution.executedPlan}")
      val scans = nodes.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      val fact = scans.find(_.scan.description().contains("/fact")).get
      val dim = scans.find(_.scan.description().contains("/dim")).get
      require(fact.spjParams.applyPartialClustering &&
          !fact.spjParams.replicatePartitions,
        "fact side did not partially cluster")
      require(dim.spjParams.replicatePartitions,
        "dim side was not replicated")
      val factTasks = fact.inputRDDs().head.getNumPartitions
      val dimTasks = dim.inputRDDs().head.getNumPartitions
      require(factTasks > 8,
        s"hot bucket not split: $factTasks tasks for 8 buckets")
      require(dimTasks == factTasks,
        s"dim not replicated to match: $dimTasks vs $factTasks")
      out
    }),

    // MIXED storage-partitioned join — the realistic 100 TB refresh
    // shape: the standing fact table is bucketed, the fresh batch is
    // not; with v2 bucketing-shuffle enabled, ONLY the batch side
    // shuffles (hashed by the catalog's own bucket function into the
    // reported partitioning) and the standing side moves zero bytes.
    // The in-query audit requires exactly ONE ShuffleExchange in the
    // whole executed plan (batch side; the join and the group-by ride
    // the layout). This is also the function-evaluation contract test:
    // if BoundBucket.produceResult disagreed with the writer's hash,
    // batch rows would land in wrong partitions and matches would
    // silently vanish — the oracle's exact counts would catch it.
    "g_dsv2_bucket_mixed" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bm")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/standing")
      e.where(col("dst") % 3 === 0)
        .select(col("dst").as("src"), col("src").as("dst"))
        .repartition(2)
        .write.format(fmtName).mode("overwrite").save(s"$root/batch")
      val spj = Bridge.cloneSession(s, EdgeListCatalog.SpjConfs :+
        ("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"): _*)
      val df = spj.sql(
        s"""SELECT /*+ MERGE(a) */ a.src AS v, count(*) AS n_two_paths,
           |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
           |FROM graft.`$root/standing` a
           |JOIN graft.`$root/batch` b ON a.src = b.src
           |GROUP BY a.src""".stripMargin)
      val out = df.localCheckpoint()
      val nodes = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
      require(nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "expected a sort-merge join:\n" + df.queryExecution.executedPlan)
      val shuffles = nodes.filter(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      require(shuffles.size == 1,
        s"expected exactly the batch-side shuffle, got ${shuffles.size}:\n" +
          df.queryExecution.executedPlan)
      out
    }),

    // BUCKET PRUNING through the gate (the layout's read-side dividend
    // beyond joins): a point filter on the bucket column keeps only
    // files whose `-b<k>` tag can hold a match — exact, because a
    // tagged file holds ONLY its bucket's rows, and effective exactly
    // where hash-scattered keys defeat zone-map min/max ranges. The
    // in-query audit requires the executed scan to have planned
    // precisely the allowed buckets' files (a strict subset); the
    // oracle sees only the WHERE clause.
    "g_dsv2_bucket_prune" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2bp")
      val fmtName = "graft.sources.EdgeListSource"
      Tables.edges(s, dir).repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/edges")
      val df = s.read.format(fmtName).load(s"$root/edges")
        .where(col("src").isin(7L, 11L, 40L))
        .groupBy("src").agg(count(lit(1)).as("out_deg"),
          sum("dst").cast("long").as("sum_dst"))
      val out = df.localCheckpoint()
      val scans = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collect { case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b }
      require(scans.nonEmpty, "no BatchScanExec in the executed plan")
      val allowedB = Set(7L, 11L, 40L)
        .map(graft.sources.BucketHash.bucket(_, 8))
      val files = graft.sources.EdgeListSource.listFiles(s"$root/edges")
      val expected = files.count(f => graft.sources.BucketSpecIO
        .bucketOf(f.getName).exists(allowedB.contains))
      // planned FILES, not partitions — a sorted layout plans one
      // merged partition per bucket carrying that bucket's file list
      val scanned = scans.flatMap(_.inputPartitions.flatMap {
        case s: graft.sources.SortedBucketFiles => s.files.map(_._1)
        case e: graft.sources.EdgeRange => Seq(e.file)
      }).distinct.size
      require(scanned == expected && expected < files.size,
        s"bucket pruning inactive: scanned=$scanned expected=$expected " +
          s"of ${files.size} files")
      out
    }),

    // RUNTIME (executor-side) filtering through the gate — the 100 TB
    // star-join shape: a bucketed fact joined to a small filtered dim
    // through a broadcast hash join; the dim's surviving keys are only
    // known at EXECUTION, arrive at the fact scan as a
    // DynamicPruningExpression (SupportsRuntimeV2Filtering face; In on
    // the bucket column), and prune whole buckets/files before a byte
    // is parsed. In-query audit: the DPP expression is present AND the
    // executed RDD planned strictly fewer fact files than the static
    // plan (counted from the runtime-filtered DataSourceRDD partitions,
    // against the on-disk file census). The oracle computes the same
    // join from the derived tables and never sees the pruning.
    "g_dsv2_runtime_prune" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2rt")
      val fmtName = "graft.sources.EdgeListSource"
      val e = Tables.edges(s, dir)
      e.repartition(2).write.format(fmtName)
        .option("bucketBy", "src").option("numBuckets", "8")
        .mode("overwrite").save(s"$root/fact")
      val totalFiles =
        graft.sources.EdgeListSource.listFiles(s"$root/fact").size
      // dim: per-key aggregate of the same edges; the runtime-selective
      // filter keeps <=2 of 401 possible keys (k % 293 = 7), so at most
      // 2 buckets' files can survive the executor-side prune
      val dim = e.groupBy(col("src").as("k"))
        .agg(count(lit(1)).as("c"))
        .where(col("k") % 293 === 7)
      val fact = s.read.format(fmtName).load(s"$root/fact")
      val df = fact.join(broadcast(dim), col("src") === col("k"))
        .groupBy("src")
        .agg(count(lit(1)).as("n"),
          sum(col("dst") + col("c")).cast("long").as("sum_dc"))
      val out = df.localCheckpoint()
      val planStr = df.queryExecution.executedPlan.toString
      require(planStr.toLowerCase.contains("dynamicpruning"),
        s"no DynamicPruningExpression on the fact scan:\n$planStr")
      val scan = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.description().contains("/fact") => b }
        .getOrElse(throw new IllegalStateException(s"no fact scan:\n$planStr"))
      val planned = scan.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions
        case _ => Nil
      }.flatMap {
        case sb: graft.sources.SortedBucketFiles => sb.files.map(_._1)
        case er: graft.sources.EdgeRange => Seq(er.file)
      }.distinct.size
      require(planned < totalFiles,
        s"runtime pruning inactive: planned $planned of $totalFiles files")
      out
    }),

    // GROUPED aggregate pushdown through the gate: count/min/max GROUP
    // BY src fold inside the chunk readers (one partial row per group
    // per chunk — a degree query over a 100 TB edge file ships group
    // partials, not edges), composed with a pushed filter, under a
    // 4 KiB chunk grid AND maxGroupsPerChunk=3, so the bounded-memory
    // flush-and-refill path runs constantly and Spark's final aggregate
    // provably merges duplicate partials of the same group. The oracle
    // never sees the connector round-trip.
    "g_dsv2_degree" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2d")
      Tables.edges(s, dir)
        .repartition(3).write.format("graft.sources.EdgeListSource")
        .mode("overwrite").save(s"$root/edges")
      s.read.format("graft.sources.EdgeListSource")
        .option("chunkBytes", "4096").option("maxGroupsPerChunk", "3")
        .load(s"$root/edges")
        .where(col("dst") >= 5)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), min("dst").as("min_dst"),
          max("dst").as("max_dst"))
    }),

    // The connector's STREAMING face through the gate: edges arrive as
    // two append generations through the connector's own BatchWrite,
    // with a micro-batch drain between them — the file-count offset
    // model must deliver every byte-range chunk of every file exactly
    // once ACROSS the generations (the generation-stamped file naming
    // is what makes the second append sort after the processed files;
    // with partitionId-first names this gate double-counts one file
    // and drops another). Same pushed dst-filter as g_dsv2_edges,
    // active inside the streaming chunk readers; the complete-mode
    // degree snapshot is gated against an oracle that never sees the
    // stream.
    "g_dsv2_stream" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2st")
      val fmt = "graft.sources.EdgeListSource"
      val p = s"$root/edges"
      val edges = Tables.edges(s, dir)
      edges.where(col("src") % 2 === 0).repartition(2)
        .write.format(fmt).mode("append").save(p)
      val agg = s.readStream.format(fmt).option("chunkBytes", "4096").load(p)
        .where(col("dst") >= 10)
        .groupBy("src")
        .agg(count(lit(1)).as("out_deg"), sum("dst").as("sum_dst"))
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("g_dsv2_stream_gate").start()
      try {
        q.processAllAvailable()
        edges.where(col("src") % 2 =!= 0).repartition(2)
          .write.format(fmt).mode("append").save(p)
        q.processAllAvailable()
      } finally q.stop()
      s.table("g_dsv2_stream_gate")
    }),

    "g_degree_both" -> ((s, dir) => GraphOps.degreeBoth(Tables.edges(s, dir))),

    "g_degree_stats" -> ((s, dir) => GraphOps.degreeStats(Tables.edges(s, dir))),

    "g_degree_weight" -> ((s, dir) => GraphOps.degreeWeight(Tables.edges(s, dir))),

    "g_edge_upper" -> ((s, dir) => GraphOps.edgeUpper(Tables.edges(s, dir))),

    "g_vertex_extract" -> ((s, dir) => GraphOps.vertexExtract(Tables.edges(s, dir))),

    "g_neighbor" -> ((s, dir) => GraphOps.neighbors(Tables.edges(s, dir))),

    // Fixed-3-iteration PageRank with exact reference update semantics
    // (SURVEY.md §2.4); the oracle unrolls the same three iterations.
    "g_pagerank" -> ((s, dir) =>
      PageRank.runFixed(s, Tables.edges(s, dir), N, iterations = 3)
        .select(col("id"), round(col("rank"), 9).as("rank"))),

    // WARM-START (incremental) PageRank — the incremental family's
    // PageRank member: 3 iterations on the standing 90% of edges, then
    // a 10% edge batch lands and 2 more iterations continue from the
    // carried vector over the union graph (re-derived outdegrees /
    // dangling set; first warm iteration normalizes — the carried
    // vector is not exactly unit mass). At refresh time the cost is
    // the warm iterations, not a cold re-convergence. The oracle
    // unrolls BOTH phases.
    "g_pagerank_warm" -> ((s, dir) => {
      val e = Tables.edges(s, dir)
      val standing = e.where((col("src") + col("dst")) % 10 =!= 0)
      val r0 = PageRank.runFixed(s, standing, N, iterations = 3)
      PageRank.runFixed(s, e, N, iterations = 2, init = Some(r0))
        .select(col("id"), round(col("rank"), 9).as("rank"))
    }),

    // WEIGHTED PageRank: rank flows in proportion to deterministic
    // integer edge weights w = 1 + (src+dst)%5 — the add_weight
    // consumer the reference's own pagerank lacks. Same unrolled-
    // oracle discipline; per-edge term (old_pr·w)/wout in a shared
    // op order.
    "g_pagerank_w" -> ((s, dir) =>
      PageRank.runFixedWeighted(s,
        Tables.edges(s, dir).withColumn("w",
          lit(1L) + (col("src") + col("dst")) % 5),
        N, iterations = 3)
        .select(col("id"), round(col("rank"), 9).as("rank"))),

    // WARM-START weighted PageRank (VERDICT r9 #8): the incremental-
    // refresh shape on the weighted surface — 3 cold iterations over
    // the 90% standing weighted graph, then a 10% edge batch lands and
    // 2 warm iterations continue from the carried vector with wout
    // (and the dangling set) re-derived over the union. First warm
    // iteration normalizes (carried mass ≠ 1), mirroring g_pagerank_
    // warm; the oracle unrolls both phases in the weighted algebra.
    "g_pagerank_w_warm" -> ((s, dir) => {
      val e = Tables.edges(s, dir).withColumn("w",
        lit(1L) + (col("src") + col("dst")) % 5)
      val standing = e.where((col("src") + col("dst")) % 10 =!= 0)
      val r0 = PageRank.runFixedWeighted(s, standing, N, iterations = 3)
      PageRank.runFixedWeighted(s, e, N, iterations = 2, init = Some(r0))
        .select(col("id"), round(col("rank"), 9).as("rank"))
    }),

    // The same weighted PageRank fed END-TO-END from the connector's
    // weighted format: weights round-trip through `vi vj wt` text
    // (integer-valued doubles — bit-exact), so the ranks must equal
    // g_pagerank_w's (shared oracle). The reference's read_edge_weight
    // → pagerank pipeline, on the modern source.
    "g_dsv2_pagerank_w" -> ((s, dir) => {
      val root = Bridge.scratchDir("graft_dsv2pw")
      val fmtName = "graft.sources.EdgeListSource"
      Tables.edges(s, dir)
        .withColumn("weight",
          (lit(1L) + (col("src") + col("dst")) % 5).cast("double"))
        .repartition(3)
        .write.format(fmtName).option("withWeight", "true")
        .mode("overwrite").save(s"$root/edges")
      // localCheckpoint severs the V2 relation before the iterative
      // self-joins: DataFrame-apply column refs (e("dst")) across a
      // deduplicated DSv2 self-join re-id one branch's pruned
      // attributes, which a checkpointed leaf does not hit — and an
      // iterative consumer wants the truncated lineage anyway
      val e = s.read.format(fmtName).option("withWeight", "true")
        .load(s"$root/edges")
        .select(col("src"), col("dst"), col("weight").as("w"))
        .localCheckpoint()
      PageRank.runFixedWeighted(s, e, N, iterations = 3)
        .select(col("id"), round(col("rank"), 9).as("rank"))
    }),

    // Personalized PageRank: restart mass on the shared seeded sources
    // (Jeh-Widom); identical unrolled recurrence in the oracle.
    "g_ppr" -> ((s, dir) =>
      PageRank.runPersonalized(s, Tables.edges(s, dir), N, srcsOf(s, dir),
          iterations = 3)
        .select(col("id"), round(col("rank"), 9).as("rank"))),

    // WARM-START personalized PageRank — the last PageRank variant to
    // join the incremental family: 3 cold personalized iterations over
    // the 90% standing graph, a 10% edge batch lands, 2 warm
    // iterations continue from the carried vector (restart mass still
    // on the seeds; outdegrees/dangling re-keyed; first warm iteration
    // normalizes). Oracle unrolls both phases.
    "g_ppr_warm" -> ((s, dir) => {
      val e = Tables.edges(s, dir)
      val seeds = srcsOf(s, dir)
      val standing = e.where((col("src") + col("dst")) % 10 =!= 0)
      val r0 = PageRank.runPersonalized(s, standing, N, seeds, iterations = 3)
      PageRank.runPersonalized(s, e, N, seeds, iterations = 2,
          init = Some(r0))
        .select(col("id"), round(col("rank"), 9).as("rank"))
    }),

    "g_cc" -> ((s, dir) => ccOf(s, dir)),

    "g_cc_stats" -> ((s, dir) => ConnectedComponents.stats(ccOf(s, dir))),

    // INCREMENTAL CC maintenance: a tenth of the edges arrive as a
    // batch against the standing graph's assignment; contraction +
    // remap must equal the full-graph recompute (the oracle is g_cc's
    // full closure verbatim — equality proven, not assumed).
    "g_cc_inc" -> ((s, dir) => {
      val e = Tables.edges(s, dir)
      val standingCC = ConnectedComponents.run(
        s, e.where((col("src") + col("dst")) % 10 =!= 0))
      ConnectedComponents.incremental(
        s, standingCC, e.where((col("src") + col("dst")) % 10 === 0))
    }),

    // Per-component bipartiteness: BFS-layer parity from each CC root
    // (deterministic — dist is the unique shortest distance), odd-parity
    // edges witness odd cycles. Reuses the memoized CC labels.
    "g_bipartite" -> ((s, dir) =>
      Bipartite.run(s, Tables.edges(s, dir), ccOf(s, dir))),

    // Directed SCC via the coloring peel (trim → forward-min color →
    // backward sweep from roots); scc = min vertex id of the component,
    // which the oracle recomputes from the full reachability closure.
    "g_scc" -> ((s, dir) => sccOf(s, dir)),

    "g_scc_stats" -> ((s, dir) =>
      StronglyConnectedComponents.stats(sccOf(s, dir))),

    // Condensation DAG — the link DAG over the components.
    "g_scc_condense" -> ((s, dir) => StronglyConnectedComponents
      .condense(Tables.edges(s, dir), sccOf(s, dir))),

    // Topological LEVELS of the condensation DAG (longest path ending
    // at each component): the dependency-wave layering a scheduler
    // derives from the SCC surface — monotone Bellman fixpoint, one
    // join + grouped max per round, rounds = DAG depth.
    "g_toposort" -> ((s, dir) => TopoSort.levels(s,
        StronglyConnectedComponents.condense(Tables.edges(s, dir), sccOf(s, dir))
          .select(col("from_scc").as("src"), col("to_scc").as("dst")))
      .select(col("v").as("scc"), col("level"))),

    "g_sssp" -> ((s, dir) => ShortestPaths.run(s, Tables.edges(s, dir), source = 0L)),

    // Multi-source (the reference's `sssp ncnt seed` runs ncnt random-
    // source searches): all sources advance in one iterative pass,
    // state keyed (source, v). Sources derive from hash60(seed|i) into
    // the ranked vertex list — the reference's srand48(seed) contract,
    // made deterministic; the oracle replays the same derivation.
    "g_sssp_multi" -> ((s, dir) => ssspOf(s, dir)),

    // Weighted variant (the reference's sssp consumes weighted edges,
    // oink/sssp.cpp): weights = 1/outdeg(src). Oracle unrolls the same
    // Bellman-Ford recurrence round by round (bit-identical double
    // sums), like the PageRank oracle.
    "g_sssp_w" -> ((s, dir) => ShortestPaths.run(s,
      GraphOps.degreeWeight(Tables.edges(s, dir)), source = 0L)
      .select(col("v"), round(col("dist"), 9).as("dist"))),

    "g_tri" -> ((s, dir) => triOf(s, dir)),

    "g_tri_count" -> ((s, dir) => triOf(s, dir)
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("ntri"))),

    // INCREMENTAL triangle-count maintenance: the delta path touches
    // only edges incident to batch endpoints (Δ = T1 − c2 + T3
    // inclusion-exclusion); standing + delta must equal the full-graph
    // recount the oracle computes independently.
    "g_tri_inc" -> ((s, dir) => {
      val e = Tables.edges(s, dir)
      Triangles.incrementalCount(
        e.where((col("src") + col("dst")) % 10 =!= 0),
        e.where((col("src") + col("dst")) % 10 === 0))
    }),

    // Faithful neigh_tri: neighbor edges + opposite triangle edges per
    // vertex (oink/neigh_tri.cpp:39-60).
    "g_neigh_tri" -> ((s, dir) =>
      GraphOps.neighTri(Tables.edges(s, dir), triOf(s, dir))),

    // Deterministic per-seed: with fixed hash priorities Luby's rounds
    // converge to the greedy MIS of the (priority, id) order, which the
    // oracle computes sequentially via a recursive CTE.
    "g_luby" -> ((s, dir) => LubyMIS.run(s, Tables.edges(s, dir), seed = 11L)),

    // Greedy coloring via Jones-Plassmann rounds — with fixed hash
    // priorities the fixpoint is the sequential greedy coloring of the
    // (priority, id) order, replayed by the recursive-CTE oracle.
    "g_coloring" -> ((s, dir) => Coloring.run(s, Tables.edges(s, dir), seed = 13L)),

    // Maximal matching (Israeli-Itai rounds, hash priorities): the
    // fixpoint is the greedy matching of the priority order; the oracle
    // unrolls the identical mutually-minimal rounds (measured ≤4 rounds
    // at sf0.01/0.1; 12 gives 3× headroom, extra rounds are no-ops).
    "g_matching" -> ((s, dir) =>
      MaximalMatching.run(s, Tables.edges(s, dir), seed = 13L)),

    // 2-approximate vertex cover: endpoints of the maximal matching.
    "g_vcover" -> ((s, dir) =>
      MaximalMatching.vertexCover(s, Tables.edges(s, dir), seed = 13L)),

    "g_rmat" -> ((s, _) => RMat.generate(s, levels = 8, nEdges = 2000L, seed = 7L)),

    // The same generator as a SQL TABLE FUNCTION (injectTableFunction —
    // the fourth extension-injection kind after planner strategy,
    // optimizer rules, and scalar functions): a relation-producing
    // `FROM graft_rmat(levels, n, seed)` usable anywhere a table is.
    // Shares g_rmat's oracle — the surface must not change one edge.
    "g_rmat_tvf" -> ((s, _) =>
      s.sql("SELECT src, dst FROM graft_rmat(8, 2000, 7)")),

    // k-core extraction (k=56 peels 3 rounds at sf0.01); the oracle
    // unrolls 8 peel rounds — past the fixpoint, where extra rounds are
    // no-ops.
    "g_kcore" -> ((s, dir) => KCore.run(s, Tables.edges(s, dir), k = 56)),

    // Synchronous 4-round label propagation — deterministic (smallest-
    // label tie-break), so the oracle replays the identical rounds.
    "g_lpa" -> ((s, dir) => lpaOf(s, dir)),

    // Community-quality layer over the LPA labels: per-community exact
    // integer structure + one closing conductance division per row, and
    // the one-row Newman-Girvan modularity as an exact rational with one
    // closing division. Oracles replay the LPA rounds then score.
    "g_community" -> ((s, dir) =>
      CommunityMetrics.communityStats(Tables.edges(s, dir), lpaOf(s, dir))),

    "g_modularity" -> ((s, dir) =>
      CommunityMetrics.modularity(Tables.edges(s, dir), lpaOf(s, dir))),

    // Full core-number decomposition via the H-index fixpoint; the
    // oracle unrolls 10 rounds, past the measured ≤8-round fixpoint.
    "g_coreness" -> ((s, dir) => Coreness.run(s, Tables.edges(s, dir))),

    // Integer HITS with deterministic power-of-two rescaling: every
    // score an exact BIGINT (the L2 normalization is the only float part
    // of HITS and rankings don't need it), so the oracle is the
    // identical rescaled integer recurrence. 6 iterations exercises the
    // rescale path that lifted r4's 3-iteration overflow cap.
    "g_hits" -> ((s, dir) => Hits.run(s, Tables.edges(s, dir), iterations = 6)),

    // Eigenvector centrality: 8 rescaled integer power iterations (the
    // HITS discipline on the single in-edge recurrence); the oracle is
    // the identical unrolled recurrence.
    "g_eigen" -> ((s, dir) =>
      EigenvectorCentrality.run(s, Tables.edges(s, dir), iterations = 8)),

    // Katz centrality: attenuated walk counts (α = 1/8, depth 6) via the
    // rescaled integer recurrence p←Aᵀp, y←2³y+p; the oracle unrolls the
    // identical rounds.
    "g_katz" -> ((s, dir) =>
      Katz.run(s, Tables.edges(s, dir), iterations = 6, alphaShift = 3)),

    // Link prediction (common-neighbors / Jaccard / Adamic-Adar) over
    // wedge-witnessed non-adjacent pairs; Adamic-Adar folds in
    // ascending-center order (the g_harmonic discipline), Jaccard is one
    // exact-integer division.
    "g_linkpred" -> ((s, dir) =>
      LinkPrediction.run(s, Tables.edges(s, dir))),

    // 8-truss extraction (support peel; 12 rounds to fixpoint at
    // sf0.01) — the oracle unrolls 16 rounds, past the fixpoint, where
    // extra rounds are no-ops.
    "g_truss" -> ((s, dir) => Truss.run(s, Tables.edges(s, dir), k = 8)),

    // Densest subgraph (Bahmani-Kumar-Vassilvitskii parallel greedy
    // peel, ε = 1/4): exact integer removal threshold, exact rational
    // best-prefix choice — no float compares anywhere in the loop.
    "g_densest" -> ((s, dir) =>
      DensestSubgraph.run(s, Tables.edges(s, dir))),

    // Minimum spanning forest (parallel Borůvka): deterministic hash60
    // edge weights, strict (w, vi, vj) total order — the forest is
    // unique, so both engines' replay is row-identical.
    "g_msf" -> ((s, dir) => msfOf(s, dir)),

    "g_msf_stats" -> ((s, dir) =>
      MinimumSpanningForest.summarize(msfOf(s, dir))),

    // Global clustering coefficient: 3·tri/wedges from the memoized
    // triangle frame + the degree moments — exact integers, one closing
    // division.
    "g_transitivity" -> ((s, dir) =>
      GraphOps.transitivity(Tables.edges(s, dir), triOf(s, dir))),

    // Directed reciprocity: fraction of simple edges with a reverse
    // edge; semi-join on the swapped key.
    "g_reciprocity" -> ((s, dir) =>
      GraphOps.reciprocity(Tables.edges(s, dir))),

    // Degree assortativity in the integer-exact Pearson form — one
    // division of exact BIGINT moments.
    "g_assortativity" -> ((s, dir) =>
      GraphOps.assortativity(Tables.edges(s, dir))),

    // Deterministic random-walk corpus (DeepWalk/node2vec input): every
    // next-hop choice is hash(seed, walk, step, position) % degree, so
    // walks reproduce under any partitioning and in the SQL replica.
    "g_walks" -> ((s, dir) =>
      RandomWalks.run(s, Tables.edges(s, dir), seed = 9L, length = 5)),

    // Local clustering coefficient: 2·tri(v) / (deg·(deg−1)) on the
    // simple undirected graph — reuses the memoized triangle frame; the
    // single double division of exact integers is bit-identical in both
    // engines.
    "g_clustering" -> ((s, dir) =>
      GraphOps.localClustering(Tables.edges(s, dir), triOf(s, dir))),

    // Seeded-source Brandes betweenness dependencies: integer path
    // counts plus the backward dependency sweep, every float sum a
    // sorted left fold. delta is rounded to 9 decimals like every other
    // float-emitting gate query (g_pagerank/g_sssp_w above) so the
    // driver's value hash never rides the last ulps of a DOUBLE.
    "g_betweenness" -> ((s, dir) =>
      Betweenness.run(s, Tables.edges(s, dir), srcsOf(s, dir))
        .withColumn("delta", round(col("delta"), 9))),

    // HyperANF neighborhood function: per-vertex HLL sketches absorb
    // out-neighbor sketches per hop — the 100 TB distance census; the
    // oracle replays the register rows and the exact-power estimator.
    "g_anf" -> ((s, dir) => anfOf(s, dir)),

    // Hop plot: total pairs within ≤ r hops — the curve whose knee is
    // the effective diameter; exact BIGINT sums of the scaled sketch
    // estimates, so the cross-vertex total is partitioning-independent.
    "g_hopplot" -> ((s, dir) =>
      NeighborhoodFunction.hopPlot(anfOf(s, dir))),

    // HyperBall outward harmonic centrality for EVERY vertex — the
    // 100 TB companion to the exact 3-source g_harmonic below.
    "g_hyperball" -> ((s, dir) =>
      NeighborhoodFunction.hyperballHarmonic(anfOf(s, dir), AnfRounds)),

    // Interpolated 90%-effective diameter off the hop plot — integer
    // crossing test, one exact-integer division for the interpolation.
    "g_effdiam" -> ((s, dir) =>
      NeighborhoodFunction.effectiveDiameter(anfOf(s, dir))),

    // HyperBall closeness: approximate sum-of-distances per vertex in
    // exact scaled integers, one closing division.
    "g_hb_closeness" -> ((s, dir) =>
      NeighborhoodFunction.hyperballCloseness(anfOf(s, dir), AnfRounds)),

    // In-direction twins: the same HyperBall centralities over the
    // REVERSED edge set — in-harmonic ranks how reachable a vertex is
    // FROM the graph (the web-centrality convention), in-closeness the
    // incoming-path closeness. One extra sketch family, memoized like
    // the outward one.
    "g_hyperball_in" -> ((s, dir) =>
      NeighborhoodFunction.hyperballHarmonic(anfInOf(s, dir), AnfRounds)),

    "g_hb_closeness_in" -> ((s, dir) =>
      NeighborhoodFunction.hyperballCloseness(anfInOf(s, dir), AnfRounds)),

    // Riondato-Kornaropoulos ε the seeded betweenness sample buys at
    // δ=0.1, with the vertex diameter taken from the ANF effective
    // diameter — the diagnostic that sizes a sample at 100 TB.
    "g_bc_eps" -> ((s, dir) =>
      Betweenness.sampleEpsilon(
        NeighborhoodFunction.effectiveDiameter(anfOf(s, dir)), SsspCount)),

    // Per-source eccentricity (max BFS depth) — the diagnostic that
    // sizes every unrolled-oracle depth bound; integer-exact.
    "g_eccentricity" -> ((s, dir) =>
      ssspOf(s, dir)
        .groupBy("source")
        .agg(max(col("dist")).cast("long").as("eccentricity"),
          count(lit(1)).as("n_reached"))),

    // Harmonic centrality (the disconnect-robust closeness variant,
    // Boldi & Vigna "Axioms for centrality" 2014), computed per BFS
    // LEVEL: Σ_d count_d/d, folded in ascending-dist order — the
    // aggregation buffer holds one term per level (≤ diameter), never
    // one per vertex, and the float fold order is canonical so the
    // oracle matches exactly.
    "g_harmonic" -> ((s, dir) =>
      ssspOf(s, dir)
        .where(col("dist") > 0)
        .groupBy("source", "dist").agg(count(lit(1)).as("cnt"))
        .withColumn("term", col("cnt").cast("double") / col("dist"))
        .groupBy("source")
        .agg(sum("cnt").as("n_reached"),
          aggregate(
            sort_array(collect_list(struct(col("dist").as("d"), col("term").as("t")))),
            lit(0.0), (acc, x) => acc + x.getField("t")).as("harmonic"))),

    // Closeness centrality of the seeded multi-source BFS sources:
    // integer-exact reach count and distance total, plus their double
    // ratio — no float accumulation, so the oracle matches exactly.
    "g_closeness" -> ((s, dir) =>
      ssspOf(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_reached"), sum("dist").as("total_dist"))
        .withColumn("closeness",
          when(col("total_dist") > 0,
            (col("n_reached") - 1).cast("double") / col("total_dist"))
            .otherwise(lit(0.0))))
  )

  /** Seeded-source derivation CTEs (the reference's `sssp ncnt seed`
    * contract) — shared by g_sssp_multi / g_closeness / g_betweenness. */
  private def seededSrcsCtes: String =
    s"""verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |ranked AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rn FROM verts),
       |srcs AS (SELECT DISTINCT r.v AS source FROM ranked r JOIN
       |  (SELECT ${graft.functions.Hashing.hash60Sql(SsspSeed, "i")}
       |     % (SELECT count(*) FROM verts) AS want
       |   FROM (SELECT unnest(range($SsspCount)) AS i)) w ON r.rn = w.want)""".stripMargin

  /** Shared CTE prefix for the seeded multi-source BFS (g_sssp_multi,
    * g_closeness): source derivation + recursive unit-weight walk. */
  private def multiWalkCtes: String =
    s"""WITH RECURSIVE edges AS ($E),
       |$seededSrcsCtes,
       |walk(source, v, d) AS (
       |  SELECT source, source AS v, CAST(0.0 AS DOUBLE) AS d FROM srcs
       |  UNION
       |  SELECT w.source, e.dst, w.d + 1.0
       |  FROM walk w JOIN edges e ON e.src = w.v WHERE w.d < 40)""".stripMargin

  /** Full-graph reachability-closure min-label (shared by g_cc and the
    * incremental-maintenance gate g_cc_inc, whose whole point is that
    * the incremental path must reproduce this exactly). */
  private lazy val ccClosureSql: String =
    s"""WITH RECURSIVE edges AS ($E),
       |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
       |       FROM edges WHERE src <> dst),
       |und AS (SELECT vi, vj FROM eu UNION ALL SELECT vj AS vi, vi AS vj FROM eu),
       |verts AS (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v)
       |SELECT v, min(r) AS comp FROM reach GROUP BY v""".stripMargin

  val oracles: Map[String, String] = Map(
    "g_degree" ->
      s"""WITH edges AS ($E)
         |SELECT src AS v, count(*) AS deg FROM edges GROUP BY src""".stripMargin,

    "g_dsv2_edges" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE dst >= 10 GROUP BY src""".stripMargin,

    "g_dsv2_dml" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE dst >= 10 AND src NOT IN (0, 7)
         |GROUP BY src""".stripMargin,

    // identical signed-label expression, exact longs
    "g_dsv2_labeled" ->
      s"""WITH edges AS ($E)
         |SELECT (src + dst) % 9 - 4 AS label, count(*) AS n,
         |  CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges GROUP BY 1""".stripMargin,

    // identical weight expression; integer-valued double sums are exact
    "g_dsv2_weighted" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg,
         |  CAST(sum(CAST((src + dst) % 7 + 1 AS DOUBLE)) AS BIGINT) AS sum_w
         |FROM edges WHERE dst >= 10 GROUP BY src""".stripMargin,

    // vacuum touches only the log: the current read sees all edges
    "g_dsv2_vacuum" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges GROUP BY src""".stripMargin,

    // the changes window holds exactly the second commit: the high half
    "g_dsv2_changes" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE dst >= 5000 GROUP BY src""".stripMargin,

    // the snapshot holds exactly the first commit: the low-dst half
    "g_dsv2_timetravel" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE dst < 5000 GROUP BY src""".stripMargin,

    "g_dsv2_zorder" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE src >= 100 AND dst < 5000 GROUP BY src""".stripMargin,

    // compound-key join: the grid layout and the exchange-free plan are
    // invisible to the result — the oracle computes the two-key join
    "g_dsv2_bucket_multi" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, a.dst AS w, count(*) AS n_pairs
         |FROM edges a
         |JOIN (SELECT * FROM edges WHERE (src + dst) % 3 = 0) b
         |  ON a.src = b.src AND a.dst = b.dst
         |GROUP BY a.src, a.dst""".stripMargin,

    // bucket-local z-order: the kept SPJ layout and the pruned scan are
    // both plan-side; the oracle sees only the filtered aggregate
    "g_dsv2_zorder_bucket" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE src >= 100 AND dst < 5000 GROUP BY src""".stripMargin,

    "g_dsv2_stream" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE dst >= 10 GROUP BY src""".stripMargin,

    "g_dsv2_degree" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, min(dst) AS min_dst,
         |  max(dst) AS max_dst
         |FROM edges WHERE dst >= 5 GROUP BY src""".stripMargin,

    // the batch side is the dst%3 reversed subset; the plan shape
    // (one-sided shuffle) is invisible to the result
    "g_dsv2_bucket_mixed" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n_two_paths,
         |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
         |FROM edges a JOIN (SELECT dst AS src, src AS dst FROM edges
         |  WHERE dst % 3 = 0) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // the pruning is a planning optimization: only the filter shows
    "g_dsv2_bucket_prune" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, CAST(sum(dst) AS BIGINT) AS sum_dst
         |FROM edges WHERE src IN (7, 11, 40) GROUP BY src""".stripMargin,

    // the partition filter is a planning optimization: the oracle sees
    // only the join against the point-filtered derivative
    "g_dsv2_bucket_pfilter" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n,
         |  CAST(sum(b.dst) AS BIGINT) AS s
         |FROM edges a JOIN (SELECT src, dst + 1000000 AS dst FROM edges
         |  WHERE src IN (7, 11, 40)) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // the width coalescing is a planning optimization: the oracle sees
    // only the 2-paths aggregate
    "g_dsv2_bucket_compat" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n_two_paths,
         |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
         |FROM edges a JOIN (SELECT dst AS src, src AS dst FROM edges) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // the runtime prune is a planning optimization: the oracle sees
    // only the star join with the selective dim filter
    "g_dsv2_runtime_prune" ->
      s"""WITH edges AS ($E),
         |dim AS (SELECT src AS k, count(*) AS c FROM edges GROUP BY src)
         |SELECT a.src, count(*) AS n,
         |  CAST(sum(a.dst + b.c) AS BIGINT) AS sum_dc
         |FROM edges a JOIN (SELECT * FROM dim WHERE k % 293 = 7) b
         |  ON a.src = b.k
         |GROUP BY a.src""".stripMargin,

    // the grid's runtime prune is execution-plan-side only: the oracle
    // computes the same star join, blind to cells and DPP
    "g_dsv2_grid_runtime" ->
      s"""WITH edges AS ($E),
         |dim AS (SELECT src AS k, count(*) AS c FROM edges GROUP BY src)
         |SELECT a.src, count(*) AS n,
         |  CAST(sum(a.dst + b.c) AS BIGINT) AS sum_dc
         |FROM edges a JOIN (SELECT * FROM dim WHERE k % 293 = 7) b
         |  ON a.src = b.k
         |GROUP BY a.src""".stripMargin,

    // the skew mitigation is a planning optimization: the oracle sees
    // only the skewed join, never the split/replicated plan
    "g_dsv2_bucket_skew" ->
      s"""WITH edges AS ($E),
         |fact AS (SELECT CASE WHEN src % 4 = 0 THEN 7 ELSE src END AS src,
         |  dst FROM edges),
         |dim AS (SELECT src, CAST(count(*) AS BIGINT) AS dst FROM edges
         |  GROUP BY src)
         |SELECT a.src AS v, count(*) AS n,
         |  CAST(sum(a.dst + b.dst) AS BIGINT) AS s
         |FROM fact a JOIN dim b ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // the sorted layout is a planning optimization: the oracle sees
    // only the 2-paths aggregate, never the zero-Exchange/zero-Sort plan
    "g_dsv2_bucket_sorted" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n_two_paths,
         |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
         |FROM edges a JOIN (SELECT dst AS src, src AS dst FROM edges) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // names, namespaces, DDL, and the SPJ plan are all invisible to
    // the result: the oracle only sees the 2-paths aggregate
    "g_dsv2_catalog" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n_two_paths,
         |  CAST(min(b.dst) AS BIGINT) AS min_origin
         |FROM edges a JOIN (SELECT dst AS src, src AS dst FROM edges) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    // 2-paths through each vertex: out-edges joined to in-edges on the
    // shared middle vertex — the layout (bucketed files, SPJ plan) is
    // invisible to the result
    "g_dsv2_bucket_join" ->
      s"""WITH edges AS ($E)
         |SELECT a.src AS v, count(*) AS n_two_paths,
         |  CAST(sum(b.dst) AS BIGINT) AS sum_origin
         |FROM edges a JOIN (SELECT dst AS src, src AS dst FROM edges) b
         |  ON a.src = b.src
         |GROUP BY a.src""".stripMargin,

    "g_dsv2_tvf" ->
      s"""WITH edges AS ($E)
         |SELECT src, count(*) AS out_deg, min(dst) AS min_dst,
         |  max(dst) AS max_dst
         |FROM edges WHERE dst >= 5 GROUP BY src""".stripMargin,

    "g_degree_both" ->
      s"""WITH edges AS ($E)
         |SELECT v, count(*) AS deg FROM (
         | SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges
         |) GROUP BY v""".stripMargin,

    "g_degree_stats" ->
      s"""WITH edges AS ($E)
         |SELECT deg, count(*) AS nvert FROM (
         | SELECT v, count(*) AS deg FROM (
         |  SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges
         | ) GROUP BY v
         |) GROUP BY deg ORDER BY deg DESC""".stripMargin,

    "g_degree_weight" ->
      s"""WITH edges AS ($E),
         | outdeg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY src)
         |SELECT src, dst, CAST(1.0 AS DOUBLE) / deg AS weight
         |FROM edges JOIN outdeg ON src = v""".stripMargin,

    "g_edge_upper" ->
      s"""WITH edges AS ($E)
         |SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
         |FROM edges WHERE least(src, dst) <> greatest(src, dst)""".stripMargin,

    "g_vertex_extract" ->
      s"""WITH edges AS ($E)
         |SELECT DISTINCT v FROM (
         | SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)""".stripMargin,

    "g_neighbor" ->
      s"""WITH edges AS ($E)
         |SELECT src AS v, array_to_string(list_sort(list(dst)), ',') AS nbrs
         |FROM edges GROUP BY src""".stripMargin,

    "g_pagerank" -> pagerankSql(3),
    "g_pagerank_warm" -> pagerankWarmSql(3, 2),
    "g_pagerank_w" -> pagerankWeightedSql(3),
    "g_pagerank_w_warm" -> pagerankWeightedWarmSql(3, 2),
    // the text round trip is bit-exact, so the connector-fed variant
    // shares the unrolled oracle verbatim
    "g_dsv2_pagerank_w" -> pagerankWeightedSql(3),

    "g_ppr" -> pprSql(3),
    "g_ppr_warm" -> pprWarmSql(3, 2),

    // Reachability-closure min-label — same fixpoint the iterative
    // propagation converges to.
    "g_cc" -> ccClosureSql,

    "g_cc_stats" ->
      s"""WITH RECURSIVE edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst),
         |und AS (SELECT vi, vj FROM eu UNION ALL SELECT vj AS vi, vi AS vj FROM eu),
         |verts AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT u.vj, re.r FROM reach re JOIN und u ON u.vi = re.v),
         |cc AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
         |sizes AS (SELECT comp, count(*) AS size FROM cc GROUP BY comp)
         |SELECT size, count(*) AS ncomp FROM sizes GROUP BY size
         |ORDER BY size DESC""".stripMargin,

    "g_anf" -> NeighborhoodFunction.oracleSql(E, rounds = AnfRounds),

    "g_hopplot" -> NeighborhoodFunction.hopPlotOracleSql(E, rounds = AnfRounds),

    "g_hyperball" -> NeighborhoodFunction.hyperballOracleSql(E, rounds = AnfRounds),

    "g_effdiam" -> NeighborhoodFunction.effectiveDiameterOracleSql(E, rounds = AnfRounds),

    "g_hb_closeness" -> NeighborhoodFunction.hyperballClosenessOracleSql(E, rounds = AnfRounds),

    "g_hyperball_in" -> NeighborhoodFunction.hyperballOracleSql(
      s"SELECT dst AS src, src AS dst FROM ($E) revt", rounds = AnfRounds),

    "g_hb_closeness_in" -> NeighborhoodFunction.hyperballClosenessOracleSql(
      s"SELECT dst AS src, src AS dst FROM ($E) revt", rounds = AnfRounds),

    "g_bc_eps" -> Betweenness.sampleEpsilonOracleSql(E, rounds = AnfRounds, k = SsspCount),

    "g_bipartite" -> Bipartite.oracleSql(E),

    "g_scc" -> StronglyConnectedComponents.oracleSql(E),

    "g_scc_stats" -> StronglyConnectedComponents.statsOracleSql(E),

    "g_scc_condense" -> StronglyConnectedComponents.condenseOracleSql(E),

    // longest-path levels over the condensation, enumerated by a second
    // recursive CTE on top of the reachability-closure scc labels
    "g_toposort" -> StronglyConnectedComponents.topoOracleSql(E),

    "g_sssp_multi" ->
      s"""$multiWalkCtes
         |SELECT source, v, min(d) AS dist FROM walk GROUP BY source, v""".stripMargin,

    "g_eccentricity" ->
      s"""$multiWalkCtes,
         |dd AS (SELECT source, v, min(d) AS dist FROM walk GROUP BY source, v)
         |SELECT source, CAST(max(dist) AS BIGINT) AS eccentricity,
         |  count(*) AS n_reached
         |FROM dd GROUP BY source""".stripMargin,

    "g_harmonic" ->
      s"""$multiWalkCtes,
         |dd AS (SELECT source, v, min(d) AS dist FROM walk GROUP BY source, v),
         |lv AS (SELECT source, dist, count(*) AS cnt,
         |  CAST(count(*) AS DOUBLE) / dist AS term
         |  FROM dd WHERE dist > 0 GROUP BY source, dist)
         |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_reached,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list_sort(list(struct_pack(d := dist, t := term))),
         |      x -> x.t)),
         |    (a, x) -> a + x) AS harmonic
         |FROM lv GROUP BY source""".stripMargin,

    "g_closeness" ->
      s"""$multiWalkCtes,
         |dd AS (SELECT source, v, min(d) AS dist FROM walk GROUP BY source, v)
         |SELECT source, count(*) AS n_reached, sum(dist) AS total_dist,
         |  CASE WHEN sum(dist) > 0
         |       THEN CAST(count(*) - 1 AS DOUBLE) / sum(dist)
         |       ELSE CAST(0 AS DOUBLE) END AS closeness
         |FROM dd GROUP BY source""".stripMargin,

    // Unit-weight BFS from source 0; the hop guard bounds recursion, far
    // above the graph's diameter.
    "g_sssp" ->
      s"""WITH RECURSIVE edges AS ($E),
         |walk(v, d) AS (
         |  SELECT CAST(0 AS BIGINT) AS v, CAST(0.0 AS DOUBLE) AS d
         |  UNION
         |  SELECT e.dst, w.d + 1.0 FROM walk w JOIN edges e ON e.src = w.v
         |  WHERE w.d < 40)
         |SELECT v, min(d) AS dist FROM walk GROUP BY v""".stripMargin,

    "g_tri" ->
      s"""WITH edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst)
         |SELECT e1.vi AS a, e1.vj AS b, e2.vj AS c
         |FROM eu e1 JOIN eu e2 ON e2.vi = e1.vj
         |JOIN eu e3 ON e3.vi = e1.vi AND e3.vj = e2.vj""".stripMargin,

    "g_tri_count" ->
      s"""WITH edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.vi AS a, e1.vj AS b, e2.vj AS c
         | FROM eu e1 JOIN eu e2 ON e2.vi = e1.vj
         | JOIN eu e3 ON e3.vi = e1.vi AND e3.vj = e2.vj)
         |SELECT v, count(*) AS ntri FROM (
         | SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         | UNION ALL SELECT c FROM tri) GROUP BY v""".stripMargin,

    "g_neigh_tri" ->
      s"""WITH edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.vi AS a, e1.vj AS b, e2.vj AS c
         | FROM eu e1 JOIN eu e2 ON e2.vi = e1.vj
         | JOIN eu e3 ON e3.vi = e1.vi AND e3.vj = e2.vj)
         |SELECT src AS v, src AS ea, dst AS eb FROM edges
         |UNION ALL SELECT a AS v, b AS ea, c AS eb FROM tri
         |UNION ALL SELECT b AS v, a AS ea, c AS eb FROM tri
         |UNION ALL SELECT c AS v, a AS ea, b AS eb FROM tri""".stripMargin,

    "g_rmat" -> RMat.generateSql(levels = 8, nEdges = 2000L, seed = 7L),
    "g_rmat_tvf" -> RMat.generateSql(levels = 8, nEdges = 2000L, seed = 7L),

    "g_sssp_w" -> ssspWeightedSql(rounds = 40),

    "g_luby" -> lubySql(seed = 11L),

    "g_coloring" -> Coloring.oracleSql(E, seed = 13L),

    "g_matching" -> MaximalMatching.oracleSql(E, seed = 13L, rounds = 12),

    "g_vcover" -> MaximalMatching.vertexCoverOracleSql(E, seed = 13L, rounds = 12),

    "g_kcore" -> kcoreSql(k = 56, rounds = 8),

    "g_lpa" -> LabelPropagation.oracleSql(E, rounds = 4),

    "g_community" -> CommunityMetrics.statsOracleSql(E, rounds = 4),

    "g_modularity" -> CommunityMetrics.modularityOracleSql(E, rounds = 4),

    "g_coreness" -> Coreness.oracleSql(E, rounds = 10),

    "g_walks" -> RandomWalks.oracleSql(E, seed = 9L, length = 5),

    "g_hits" -> Hits.oracleSql(E, iterations = 6),

    "g_eigen" -> EigenvectorCentrality.oracleSql(E, iterations = 8),

    "g_katz" -> Katz.oracleSql(E, iterations = 6, alphaShift = 3),

    "g_linkpred" -> LinkPrediction.oracleSql(E),

    "g_truss" -> Truss.oracleSql(E, k = 8, rounds = 16),

    "g_densest" -> DensestSubgraph.oracleSql(E, rounds = 28),

    "g_msf" -> MinimumSpanningForest.oracleSql(E, rounds = 10),

    "g_msf_stats" ->
      s"""WITH msf AS (${MinimumSpanningForest.oracleSql(E, rounds = 10)})
         |SELECT count(*) AS n_edges,
         |  coalesce(bit_xor(w), 0) AS xor_w FROM msf""".stripMargin,

    "g_transitivity" ->
      s"""WITH edges AS ($E),
         |up AS (SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
         |       FROM edges WHERE src <> dst),
         |sym AS (SELECT vi, vj FROM up UNION ALL SELECT vj, vi FROM up),
         |deg AS (SELECT vi AS v, count(*) AS deg FROM sym GROUP BY 1),
         |w AS (SELECT CAST(sum(deg * (deg - 1)) AS BIGINT) // 2 AS n_wedges FROM deg),
         |t AS (SELECT count(*) AS n_tri FROM up e1
         |      JOIN up e2 ON e2.vi = e1.vj
         |      JOIN up e3 ON e3.vi = e1.vi AND e3.vj = e2.vj)
         |SELECT t.n_tri, w.n_wedges,
         |  CASE WHEN w.n_wedges > 0
         |       THEN CAST(t.n_tri * 3 AS DOUBLE) / w.n_wedges
         |       ELSE CAST(0 AS DOUBLE) END AS transitivity
         |FROM t, w""".stripMargin,

    "g_reciprocity" ->
      s"""WITH edges AS ($E),
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |r AS (SELECT count(*) AS n_recip FROM e
         |      WHERE EXISTS (SELECT 1 FROM e x
         |                    WHERE x.src = e.dst AND x.dst = e.src)),
         |n AS (SELECT count(*) AS n_edges FROM e)
         |SELECT n.n_edges, r.n_recip,
         |  CASE WHEN n.n_edges > 0
         |       THEN CAST(r.n_recip AS DOUBLE) / n.n_edges
         |       ELSE CAST(0 AS DOUBLE) END AS reciprocity
         |FROM n, r""".stripMargin,

    "g_assortativity" ->
      s"""WITH edges AS ($E),
         |up AS (SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
         |       FROM edges WHERE src <> dst),
         |sym AS (SELECT vi, vj FROM up UNION ALL SELECT vj, vi FROM up),
         |deg AS (SELECT vi AS v, count(*) AS deg FROM sym GROUP BY 1),
         |wd AS (SELECT dj.deg AS j, dk.deg AS k
         |       FROM sym JOIN deg dj ON dj.v = sym.vi
         |       JOIN deg dk ON dk.v = sym.vj),
         |s AS (SELECT count(*) AS m, CAST(sum(j * k) AS BIGINT) AS s_jk,
         |      CAST(sum(j) AS BIGINT) AS s_j,
         |      CAST(sum(j * j) AS BIGINT) AS s_j2 FROM wd)
         |SELECT m, s_jk, s_j, s_j2,
         |  CASE WHEN m * s_j2 - s_j * s_j <> 0
         |       THEN CAST(m * s_jk - s_j * s_j AS DOUBLE)
         |            / (m * s_j2 - s_j * s_j)
         |       ELSE CAST(0 AS DOUBLE) END AS assortativity
         |FROM s""".stripMargin,

    // measured seeded-BFS depth: 0 (sf0.001, sink sources), 3 (sf0.01),
    // 2 (sf0.1); 12 unrolled levels give 4× headroom — empty levels are
    // no-ops, and a depth beyond the unroll would otherwise make the
    // oracle silently undercount instead of erroring
    "g_betweenness" -> Betweenness.oracleSql(E, seededSrcsCtes, levels = 12),

    "g_clustering" ->
      s"""WITH edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst),
         |und AS (SELECT vi, vj FROM eu UNION ALL SELECT vj, vi FROM eu),
         |dg AS (SELECT vi AS v, count(*) AS deg FROM und GROUP BY 1),
         |tri AS (SELECT e1.vi AS a, e1.vj AS b, e2.vj AS c
         | FROM eu e1 JOIN eu e2 ON e2.vi = e1.vj
         | JOIN eu e3 ON e3.vi = e1.vi AND e3.vj = e2.vj),
         |tc AS (SELECT tv, count(*) AS ntri FROM (
         | SELECT a AS tv FROM tri UNION ALL SELECT b FROM tri
         | UNION ALL SELECT c FROM tri) GROUP BY tv)
         |SELECT d.v, d.deg, coalesce(tc.ntri, 0) AS ntri,
         |  CASE WHEN d.deg >= 2
         |       THEN CAST(coalesce(tc.ntri, 0) * 2 AS DOUBLE)
         |            / (d.deg * (d.deg - 1))
         |       ELSE CAST(0 AS DOUBLE) END AS lcc
         |FROM dg d LEFT JOIN tc ON tc.tv = d.v""".stripMargin,

    // incremental maintenance must EQUAL the full recompute: the oracle
    // is the g_cc closure over ALL edges, verbatim — no split appears
    "g_cc_inc" -> ccClosureSql,
    // the feed-driven refresh must land on the same fixpoint: full
    // closure verbatim — neither the connector nor the feed appears
    "g_dsv2_cc_inc" -> ccClosureSql,

    // full-graph and standing-graph triangle counts recomputed from
    // scratch; the engine's standing + Δ must reproduce both
    "g_tri_inc" ->
      s"""WITH edges AS ($E),
         |eu AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst),
         |su AS (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
         |       FROM edges WHERE src <> dst AND (src + dst) % 10 <> 0),
         |tall AS (SELECT count(*) AS n FROM eu a
         |  JOIN eu b ON b.vi = a.vi AND b.vj > a.vj
         |  JOIN eu c ON c.vi = a.vj AND c.vj = b.vj),
         |tst AS (SELECT count(*) AS n FROM su a
         |  JOIN su b ON b.vi = a.vi AND b.vj > a.vj
         |  JOIN su c ON c.vi = a.vj AND c.vj = b.vj)
         |SELECT CAST(tst.n AS BIGINT) AS tri_standing,
         |  CAST(tall.n - tst.n AS BIGINT) AS tri_delta,
         |  CAST(tall.n AS BIGINT) AS tri_total
         |FROM tall, tst""".stripMargin
  )

  /** Unrolled k-core peel mirroring KCore.run: each round recomputes
    * undirected degrees and keeps edges whose BOTH endpoints are ≥ k.
    * `rounds` must exceed the peel depth (extra rounds are no-ops at
    * the fixpoint). CTEs are MATERIALIZED — inlining re-opens the
    * parquet per reference and doubles plans per level. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      val d =
        s"""d$i AS MATERIALIZED (SELECT v AS vi, count(*) AS deg FROM (
           |  SELECT vi AS v FROM e$i UNION ALL SELECT vj AS v FROM e$i)
           |  GROUP BY 1)""".stripMargin
      val e =
        s"""e${i + 1} AS MATERIALIZED (SELECT e.vi, e.vj FROM e$i e
           |  JOIN d$i a ON a.vi = e.vi AND a.deg >= $k
           |  JOIN d$i b ON b.vi = e.vj AND b.deg >= $k)""".stripMargin
      s"$d,\n$e"
    }.mkString(",\n")
    s"""WITH edges AS ($E),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS vi, greatest(src, dst) AS vj
       |  FROM edges WHERE least(src, dst) <> greatest(src, dst)),
       |$steps
       |SELECT vi AS v, deg FROM d${rounds - 1} WHERE deg >= $k""".stripMargin
  }

  /** Unrolled weighted Bellman-Ford oracle mirroring ShortestPaths.run
    * over degreeWeight edges: r_{k+1}(v) = min(r_k(v), min_{(u,v)∈E}
    * r_k(u) + w(u,v)). Both engines evaluate the identical double
    * recurrence, so sums (and their min) are bit-identical; `rounds`
    * must be ≥ the converged iteration count (40 ≫ the weighted
    * shortest-path hop radius of the test graphs). */
  def ssspWeightedSql(rounds: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED: DuckDB inlines CTEs by default, which would re-open
    // the parquet scan once per unrolled round (EMFILE at 40 rounds).
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("outdeg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY src),\n")
    sb.append("w AS MATERIALIZED (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / o.deg AS weight\n")
    sb.append("      FROM edges e JOIN outdeg o ON e.src = o.v),\n")
    sb.append("r0(v, d) AS (SELECT CAST(0 AS BIGINT) AS v, CAST(0.0 AS DOUBLE) AS d)")
    for (k <- 1 to rounds) {
      sb.append(",\n")
      // each round references the previous twice — materialize or the
      // inlined plan doubles per round (2^rounds blowup)
      sb.append(s"r$k AS MATERIALIZED (SELECT v, min(d) AS d FROM (\n")
      sb.append(s"  SELECT v, d FROM r${k - 1}\n")
      sb.append(s"  UNION ALL\n")
      sb.append(s"  SELECT w.dst AS v, r.d + w.weight AS d FROM r${k - 1} r JOIN w ON w.src = r.v\n")
      sb.append(s") GROUP BY v)")
    }
    sb.append(s"\nSELECT v, round(d, 9) AS dist FROM r$rounds")
    sb.toString
  }

  /** Greedy-MIS oracle for LubyMIS.run: with fixed priorities the
    * parallel rounds converge to the lexicographically-first MIS of the
    * (priority, id) order, computed here sequentially — one vertex per
    * recursive-CTE iteration, carrying the accepted set as a list and
    * rejecting any vertex with an already-accepted neighbor. */
  def lubySql(seed: Long): String = {
    import graft.functions.Hashing
    s"""WITH RECURSIVE edges AS ($E),
       |eu AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS vi, greatest(src,dst) AS vj
       |       FROM edges WHERE src <> dst),
       |und AS MATERIALIZED (SELECT vi, vj FROM eu UNION ALL SELECT vj AS vi, vi AS vj FROM eu),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM
       |  (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)),
       |rk AS MATERIALIZED (SELECT v, CAST(row_number() OVER (ORDER BY p, v) AS BIGINT) AS rk
       |       FROM (SELECT v, ${Hashing.hash60Sql(seed, "v")} AS p FROM verts)),
       |nbrs AS MATERIALIZED (SELECT r1.rk AS rk, list(r2.rk) AS nb
       |         FROM und u JOIN rk r1 ON u.vi = r1.v JOIN rk r2 ON u.vj = r2.v
       |         GROUP BY r1.rk),
       |g(i, mis) AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS mis
       |  UNION ALL
       |  SELECT g.i + 1,
       |    CASE WHEN n.nb IS NOT NULL AND list_has_any(n.nb, g.mis)
       |         THEN g.mis ELSE list_append(g.mis, g.i + 1) END
       |  FROM g LEFT JOIN nbrs n ON n.rk = g.i + 1
       |  WHERE g.i < (SELECT count(*) FROM verts))
       |SELECT r.v FROM rk r
       |JOIN (SELECT mis FROM g ORDER BY i DESC LIMIT 1) m
       |  ON list_contains(m.mis, r.rk)""".stripMargin
  }

  /** Unrolled personalized-PageRank oracle mirroring
    * PageRank.runPersonalized: the pagerankSql recurrence with the
    * restart mass on the seeded sources. Float discipline: the restart
    * fraction is the same IEEE division (1.0/|S|) and the (1−α) term is
    * computed as `1.0 - 0.85` in BOTH engines (the subtraction and the
    * literal 0.15 are different doubles). */
  def pprSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append(s"$seededSrcsCtes,\n")
    sb.append(s"outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),\n")
    sb.append(s"vertsu AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("pv AS MATERIALIZED (SELECT v.id, CASE WHEN EXISTS (SELECT 1 FROM srcs s WHERE s.source = v.id)\n")
    sb.append("  THEN CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM srcs)\n")
    sb.append("  ELSE CAST(0.0 AS DOUBLE) END AS p FROM vertsu v),\n")
    sb.append("r0 AS MATERIALIZED (SELECT v.id, o.outdeg, pv.p, pv.p AS pr\n")
    sb.append("       FROM vertsu v LEFT JOIN outdeg o ON v.id = o.id JOIN pv ON pv.id = v.id),\n")
    for (i <- 0 until iters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s$i AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS MATERIALIZED (SELECT id, outdeg, p, $norm FROM r$i),\n")
      sb.append(s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg, n.p,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE))\n")
      sb.append(s"          + (0.85 * (SELECT d FROM s$i) + (CAST(1.0 AS DOUBLE) - 0.85)) * n.p AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id)")
      sb.append(if (i == iters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM r$iters")
    sb.toString
  }

  /** Two-phase unrolled oracle for g_ppr_warm: [[pprSql]]'s
    * personalized recurrence, cold over the standing edge set, then
    * warm-carried over the full graph (outdegrees and the dangling
    * set re-keyed, restart vector unchanged, every warm iteration
    * normalizes including the first). */
  def pprWarmSql(standingIters: Int, warmIters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("edges1 AS MATERIALIZED (SELECT * FROM edges WHERE (src + dst) % 10 <> 0),\n")
    sb.append(s"$seededSrcsCtes,\n")
    sb.append(s"outdeg1 AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges1 GROUP BY src),\n")
    sb.append(s"outdeg2 AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),\n")
    sb.append(s"vertsu AS (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("pv AS MATERIALIZED (SELECT v.id, CASE WHEN EXISTS (SELECT 1 FROM srcs s WHERE s.source = v.id)\n")
    sb.append("  THEN CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM srcs)\n")
    sb.append("  ELSE CAST(0.0 AS DOUBLE) END AS p FROM vertsu v),\n")
    sb.append("r0 AS MATERIALIZED (SELECT v.id, o.outdeg, pv.p, pv.p AS pr\n")
    sb.append("       FROM vertsu v LEFT JOIN outdeg1 o ON v.id = o.id JOIN pv ON pv.id = v.id),\n")
    for (i <- 0 until standingIters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s$i AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS MATERIALIZED (SELECT id, outdeg, p, $norm FROM r$i),\n")
      sb.append(s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges1 e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg, n.p,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE))\n")
      sb.append(s"          + (0.85 * (SELECT d FROM s$i) + (CAST(1.0 AS DOUBLE) - 0.85)) * n.p AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id),\n")
    }
    // phase switch: carry pr and the restart vector, re-key outdegrees
    sb.append(s"w0 AS MATERIALIZED (SELECT v.id, o.outdeg, pv.p, r.pr FROM vertsu v\n")
    sb.append(s"       LEFT JOIN outdeg2 o ON v.id = o.id\n")
    sb.append(s"       JOIN pv ON pv.id = v.id\n")
    sb.append(s"       JOIN r$standingIters r ON r.id = v.id),\n")
    for (i <- 0 until warmIters) {
      sb.append(s"ws$i AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM w$i),\n")
      sb.append(s"wn$i AS MATERIALIZED (SELECT id, outdeg, p, pr / (SELECT s FROM ws$i) AS old_pr FROM w$i),\n")
      sb.append(s"wc$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges e JOIN wn$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"w${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg, n.p,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE))\n")
      sb.append(s"          + (0.85 * (SELECT d FROM ws$i) + (CAST(1.0 AS DOUBLE) - 0.85)) * n.p AS pr\n")
      sb.append(s"        FROM wn$i n LEFT JOIN wc$i c ON n.id = c.id)")
      sb.append(if (i == warmIters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM w$warmIters")
    sb.toString
  }

  /** Unrolled weighted-PageRank oracle mirroring
    * PageRank.runFixedWeighted: the pagerankSql recurrence with
    * per-edge contribution (old_pr·w)/wout, w = 1 + (src+dst)%5,
    * wout = Σ out-weights, dangling = no out-edges. */
  def pagerankWeightedSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("wedges AS (SELECT src, dst, CAST(1 + (src + dst) % 5 AS BIGINT) AS w FROM edges),\n")
    sb.append("wout AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wout FROM wedges GROUP BY src),\n")
    sb.append(s"verts AS (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("r0 AS MATERIALIZED (SELECT v.id, o.wout, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN wout o ON v.id = o.id),\n")
    for (i <- 0 until iters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s${i} AS (SELECT sum(pr) AS s, sum(CASE WHEN wout IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS MATERIALIZED (SELECT id, wout, $norm FROM r$i),\n")
      sb.append(s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum((n.old_pr * e.w) / n.wout) AS h\n")
      sb.append(s"        FROM wedges e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS MATERIALIZED (SELECT n.id, n.wout,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id)")
      sb.append(if (i == iters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM r$iters")
    sb.toString
  }

  /** Two-phase unrolled oracle for g_pagerank_w_warm — the WEIGHTED
    * twin of [[pagerankWarmSql]]: cold iterations over the standing
    * weighted edge set, a phase switch that re-keys wout (and the
    * dangling set) to the full weighted graph while carrying the rank
    * vector, then warm iterations (every one normalizes, including the
    * first). Per-edge term (old_pr · w) / wout in the shared op order
    * of [[pagerankWeightedSql]]. */
  def pagerankWeightedWarmSql(standingIters: Int, warmIters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("wedges AS MATERIALIZED (SELECT src, dst, CAST(1 + (src + dst) % 5 AS BIGINT) AS w FROM edges),\n")
    sb.append("wedges1 AS MATERIALIZED (SELECT * FROM wedges WHERE (src + dst) % 10 <> 0),\n")
    sb.append("wout1 AS MATERIALIZED (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wout FROM wedges1 GROUP BY src),\n")
    sb.append("wout2 AS MATERIALIZED (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wout FROM wedges GROUP BY src),\n")
    sb.append(s"verts AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("r0 AS MATERIALIZED (SELECT v.id, o.wout, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN wout1 o ON v.id = o.id),\n")
    for (i <- 0 until standingIters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s${i} AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN wout IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS MATERIALIZED (SELECT id, wout, $norm FROM r$i),\n")
      sb.append(s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum((n.old_pr * e.w) / n.wout) AS h\n")
      sb.append(s"        FROM wedges1 e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS MATERIALIZED (SELECT n.id, n.wout,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id),\n")
    }
    // phase switch: carry pr, re-key wout to the union weighted graph
    sb.append(s"w0 AS MATERIALIZED (SELECT v.id, o.wout, r.pr FROM verts v\n")
    sb.append(s"       LEFT JOIN wout2 o ON v.id = o.id\n")
    sb.append(s"       JOIN r$standingIters r ON r.id = v.id),\n")
    for (i <- 0 until warmIters) {
      sb.append(s"ws${i} AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN wout IS NULL THEN pr ELSE 0.0 END) AS d FROM w$i),\n")
      sb.append(s"wn$i AS MATERIALIZED (SELECT id, wout, pr / (SELECT s FROM ws$i) AS old_pr FROM w$i),\n")
      sb.append(s"wc$i AS MATERIALIZED (SELECT e.dst AS id, sum((n.old_pr * e.w) / n.wout) AS h\n")
      sb.append(s"        FROM wedges e JOIN wn$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"w${i + 1} AS MATERIALIZED (SELECT n.id, n.wout,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM ws$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM wn$i n LEFT JOIN wc$i c ON n.id = c.id)")
      sb.append(if (i == warmIters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM w$warmIters")
    sb.toString
  }

  /** Two-phase unrolled oracle for g_pagerank_warm: `standingIters`
    * cold iterations over the 90% standing edge set, a phase switch
    * that re-keys outdegrees (and hence the dangling set) to the full
    * graph while carrying the rank vector, then `warmIters` warm
    * iterations — every warm iteration normalizes, including the
    * first, mirroring runFixed's init branch. */
  def pagerankWarmSql(standingIters: Int, warmIters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("edges1 AS MATERIALIZED (SELECT * FROM edges WHERE (src + dst) % 10 <> 0),\n")
    sb.append("outdeg1 AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges1 GROUP BY src),\n")
    sb.append("outdeg2 AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),\n")
    sb.append(s"verts AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("r0 AS MATERIALIZED (SELECT v.id, o.outdeg, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN outdeg1 o ON v.id = o.id),\n")
    for (i <- 0 until standingIters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s${i} AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS MATERIALIZED (SELECT id, outdeg, $norm FROM r$i),\n")
      sb.append(s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges1 e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id),\n")
    }
    // phase switch: carry pr, re-key outdeg to the union graph
    sb.append(s"w0 AS MATERIALIZED (SELECT v.id, o.outdeg, r.pr FROM verts v\n")
    sb.append(s"       LEFT JOIN outdeg2 o ON v.id = o.id\n")
    sb.append(s"       JOIN r$standingIters r ON r.id = v.id),\n")
    for (i <- 0 until warmIters) {
      sb.append(s"ws${i} AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM w$i),\n")
      sb.append(s"wn$i AS MATERIALIZED (SELECT id, outdeg, pr / (SELECT s FROM ws$i) AS old_pr FROM w$i),\n")
      sb.append(s"wc$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges e JOIN wn$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"w${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM ws$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM wn$i n LEFT JOIN wc$i c ON n.id = c.id)")
      sb.append(if (i == warmIters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM w$warmIters")
    sb.toString
  }

  /** N-phase unrolled oracle for st_pagerank_w — the WEIGHTED twin of
    * [[pagerankPhasedSql]]: phase p runs `iters` iterations over the
    * CUMULATIVE staged weighted edge set, cold on phase 0, warm-carried
    * (wout and the dangling set re-keyed per phase, first iteration
    * normalized) on every later phase. Per-edge term (old_pr·w)/wout
    * in [[pagerankWeightedSql]]'s shared op order. Every
    * multiply-referenced per-iteration CTE MATERIALIZED (DuckDB
    * inlines plain CTEs exponentially — the kcoreSql note). */
  def pagerankWeightedPhasedSql(nPhases: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    sb.append("wedges AS MATERIALIZED (SELECT src, dst, CAST(1 + (src + dst) % 5 AS BIGINT) AS w FROM edges),\n")
    for (p <- 0 until nPhases)
      sb.append(s"e$p AS MATERIALIZED (SELECT * FROM wedges WHERE (src * 7 + dst) % $nPhases <= $p),\n")
    for (p <- 0 until nPhases)
      sb.append(s"od$p AS MATERIALIZED (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wout FROM e$p GROUP BY src),\n")
    sb.append(s"verts AS (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("p0r0 AS MATERIALIZED (SELECT v.id, o.wout, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN od0 o ON v.id = o.id),\n")
    for (p <- 0 until nPhases) {
      if (p > 0) {
        sb.append(s"p${p}r0 AS MATERIALIZED (SELECT v.id, o.wout, r.pr FROM verts v\n")
        sb.append(s"       LEFT JOIN od$p o ON v.id = o.id\n")
        sb.append(s"       JOIN p${p - 1}r$iters r ON r.id = v.id),\n")
      }
      for (i <- 0 until iters) {
        val norm =
          if (p == 0 && i == 0) "pr AS old_pr"
          else s"pr / (SELECT s FROM p${p}s$i) AS old_pr"
        sb.append(s"p${p}s$i AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN wout IS NULL THEN pr ELSE 0.0 END) AS d FROM p${p}r$i),\n")
        sb.append(s"p${p}n$i AS MATERIALIZED (SELECT id, wout, $norm FROM p${p}r$i),\n")
        sb.append(s"p${p}c$i AS MATERIALIZED (SELECT e.dst AS id, sum((n.old_pr * e.w) / n.wout) AS h\n")
        sb.append(s"        FROM e$p e JOIN p${p}n$i n ON e.src = n.id GROUP BY e.dst),\n")
        sb.append(s"p${p}r${i + 1} AS MATERIALIZED (SELECT n.id, n.wout,\n")
        sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM p${p}s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
        sb.append(s"        FROM p${p}n$i n LEFT JOIN p${p}c$i c ON n.id = c.id)")
        sb.append(if (p == nPhases - 1 && i == iters - 1) "\n" else ",\n")
      }
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM p${nPhases - 1}r$iters")
    sb.toString
  }

  /** N-phase unrolled oracle for st_pagerank: phase p runs `iters`
    * iterations over the CUMULATIVE staged edge set ((src·7 + dst) %
    * nPhases ≤ p — the GraphStreams staging split), cold on phase 0,
    * warm-carried (outdegrees re-keyed, first iteration normalized)
    * on every later phase. */
  def pagerankPhasedSql(nPhases: Int, iters: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED: DuckDB inlines plain CTEs, re-opening the parquet
    // once per reference — at 4 phases x 2 iterations that exhausts
    // the process fd limit (see kcoreSql's identical note)
    sb.append(s"WITH edges AS MATERIALIZED ($E),\n")
    for (p <- 0 until nPhases)
      sb.append(s"e$p AS MATERIALIZED (SELECT * FROM edges WHERE (src * 7 + dst) % $nPhases <= $p),\n")
    for (p <- 0 until nPhases)
      sb.append(s"od$p AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e$p GROUP BY src),\n")
    sb.append(s"verts AS (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("p0r0 AS MATERIALIZED (SELECT v.id, o.outdeg, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN od0 o ON v.id = o.id),\n")
    for (p <- 0 until nPhases) {
      if (p > 0) {
        sb.append(s"p${p}r0 AS MATERIALIZED (SELECT v.id, o.outdeg, r.pr FROM verts v\n")
        sb.append(s"       LEFT JOIN od$p o ON v.id = o.id\n")
        sb.append(s"       JOIN p${p - 1}r$iters r ON r.id = v.id),\n")
      }
      for (i <- 0 until iters) {
        val norm =
          if (p == 0 && i == 0) "pr AS old_pr"
          else s"pr / (SELECT s FROM p${p}s$i) AS old_pr"
        sb.append(s"p${p}s$i AS MATERIALIZED (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM p${p}r$i),\n")
        sb.append(s"p${p}n$i AS MATERIALIZED (SELECT id, outdeg, $norm FROM p${p}r$i),\n")
        sb.append(s"p${p}c$i AS MATERIALIZED (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
        sb.append(s"        FROM e$p e JOIN p${p}n$i n ON e.src = n.id GROUP BY e.dst),\n")
        sb.append(s"p${p}r${i + 1} AS MATERIALIZED (SELECT n.id, n.outdeg,\n")
        sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM p${p}s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
        sb.append(s"        FROM p${p}n$i n LEFT JOIN p${p}c$i c ON n.id = c.id)")
        sb.append(if (p == nPhases - 1 && i == iters - 1) "\n" else ",\n")
      }
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM p${nPhases - 1}r$iters")
    sb.toString
  }

  /** Unrolled n-iteration PageRank oracle mirroring PageRank.runFixed:
    * per iteration, sum/dangling from the pre-normalized vector,
    * normalize (skipped at iteration 0), contributions old_pr/outdeg,
    * pr = α·h + α·dangling/n + (1−α)/n. */
  def pagerankSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS ($E),\n")
    sb.append(s"outdeg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),\n")
    sb.append(s"verts AS (SELECT CAST(range AS BIGINT) AS id FROM range($N)),\n")
    sb.append("r0 AS (SELECT v.id, o.outdeg, CASE WHEN v.id = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr\n")
    sb.append("       FROM verts v LEFT JOIN outdeg o ON v.id = o.id),\n")
    for (i <- 0 until iters) {
      val norm =
        if (i == 0) "pr AS old_pr"
        else s"pr / (SELECT s FROM s$i) AS old_pr"
      sb.append(s"s${i} AS (SELECT sum(pr) AS s, sum(CASE WHEN outdeg IS NULL THEN pr ELSE 0.0 END) AS d FROM r$i),\n")
      sb.append(s"n$i AS (SELECT id, outdeg, $norm FROM r$i),\n")
      sb.append(s"c$i AS (SELECT e.dst AS id, sum(n.old_pr / n.outdeg) AS h\n")
      sb.append(s"        FROM edges e JOIN n$i n ON e.src = n.id GROUP BY e.dst),\n")
      sb.append(s"r${i + 1} AS (SELECT n.id, n.outdeg,\n")
      sb.append(s"        0.85 * coalesce(c.h, CAST(0.0 AS DOUBLE)) + ((0.85 * (SELECT d FROM s$i) / $N) + (0.15 / CAST($N AS DOUBLE))) AS pr\n")
      sb.append(s"        FROM n$i n LEFT JOIN c$i c ON n.id = c.id)")
      sb.append(if (i == iters - 1) "\n" else ",\n")
    }
    sb.append(s"SELECT id, round(pr, 9) AS rank FROM r$iters")
    sb.toString
  }
}
