package graft.perfbench

import graft.SparkEntry
import graft.graph.{ConnectedComponents, PageRank, RMat, ShortestPaths}
import graft.io.EdgeListIO
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: seeded inputs, an oracle, and the job the
  * closed loop repeats. `job` makes every call into the engine inside a
  * tracer span named `<layer>.<call>` and returns the check of its
  * output, which the caller runs outside the timed window. */
trait Workload {
  /** Writes the inputs; recorded facts about them (|V|, |E|, bytes). */
  def generate(): Seq[(String, Any)]
  /** Builds the oracle, outside any timed window; facts to record. */
  def prepare(): Seq[(String, Any)]
  /** One complete job, from input to output; returns a checker. */
  def job(t: Tracer): () => Option[String]
  /** Per-layer metrics of one traced job, from its spans. */
  def layers(spans: Seq[Span]): Seq[(String, Double)]
  /** A job that only traced runs make, after the timed window: calls off
    * the timed job's path whose per-layer numbers are still wanted. Its
    * metrics come from `layers` over its own spans. */
  def sideJob: Option[Tracer => () => Option[String]] = None
  /** Per-layer metrics measured once per traced run, outside the jobs. */
  def extraLayers(): Seq[(String, Double)] = Nil
}

object Workloads {
  /** R-MAT graph size: 2^Levels vertices, EdgeFactor draws per vertex.
    * A level-15 job takes about 14 s against 9 s here, and three timed
    * jobs plus set-up then no longer fit a run's time. */
  val Levels = 14
  val EdgeFactor = 16
  /** R-MAT quadrant probabilities. Degrees are skewed, and PageRank
    * converges in the same number of rounds on every seed tried (12 on
    * each of 42 seeds), so a seed changes the graph but not the amount
    * of work. With RMat's default (0.45, 0.15, 0.15, 0.25) the round
    * count varies from 12 to 15 between seeds at level 15. */
  val Quadrants = (0.35, 0.2, 0.2, 0.25)

  val QueryNames = Seq("q1_agg", "q2_filter_project", "q3_join_agg", "q10_window",
    "t_wordfreq", "d_minhash_pairs", "d_simhash", "s_ann_brute",
    "e_sessionize", "e_window_agg")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload =
    name match {
      case "pagerank" => new PageRankWorkload(spark, dir, seed)
      case "sql_mix"  => new SqlMixWorkload(spark, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def sum(spans: Seq[Span], name: String)(f: Span => Double): Double =
    spans.filter(_.name == name).map(f).sum

  val MB = 1024.0 * 1024.0

  /** The standard metrics of the spans named `name`, keyed `<key>s`,
    * `<key>jobs`, `<key>tasks`, `<key>task_s`, `<key>no_task_s` and
    * `<key>shuffle_mb`. */
  def callMetrics(spans: Seq[Span], name: String, key: String): Seq[(String, Double)] = {
    def s(f: Span => Double) = sum(spans, name)(f)
    Seq(
      s"${key}s" -> s(_.seconds),
      s"${key}jobs" -> s(_.counts.jobs.toDouble),
      s"${key}tasks" -> s(_.counts.tasks.toDouble),
      s"${key}task_s" -> s(_.counts.taskRunMs / 1e3),
      s"${key}no_task_s" -> s(_.noTaskMs / 1e3),
      s"${key}shuffle_mb" -> s(_.counts.shuffleWriteBytes / MB))
  }
}

/** The paper's query as `graft.cli.Main pagerank` runs it, on a seeded
  * R-MAT graph written in the reference's `src dst` text format:
  * validated read, PageRank to convergence, golden `setprecision(12)`
  * output. Traced runs also time the CLI's `cc_find` (connected
  * components) and `sssp` (BFS distances from vertex 0) on the same
  * graph, each from its own validated read, as a side job. The edges are
  * held in memory for the oracles. */
final class PageRankWorkload(spark: SparkSession, dir: String, seed: Long) extends Workload {
  import Workloads._
  private val input = s"$dir/edges.txt"
  private val output = s"$dir/ranks.txt"
  private var edges: Edges = _
  private var refRanks: Array[Double] = _
  private var refRounds = 0
  private var refCc: Map[Long, Long] = _
  private var refDist: Map[Long, Long] = _
  private var prRounds = 0
  private var ccRounds = 0

  def generate(): Seq[(String, Any)] = {
    val (a, b, c, d) = Quadrants
    val df = RMat.generate(spark, Levels, (1L << Levels) * EdgeFactor, seed, a, b, c, d)
    // ids are below 2^Levels, so (src, dst) packs into one sortable long
    val packed = df.collect().map(r => (r.getLong(0) << 32) | r.getLong(1))
    java.util.Arrays.sort(packed)
    edges = Edges(packed.map(_ >>> 32), packed.map(_ & 0xffffffffL))
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < edges.size) {
      sb.append(edges.src(k)).append(' ').append(edges.dst(k)).append('\n')
      k += 1
    }
    Files.write(Paths.get(input), sb.toString.getBytes(StandardCharsets.US_ASCII))
    Seq("rmat_levels" -> Levels, "rmat_edge_factor" -> EdgeFactor,
      "rmat_quadrants" -> Seq(a, b, c, d),
      "vertices" -> edges.universe, "edges" -> edges.size,
      "input_bytes" -> Files.size(Paths.get(input)))
  }

  def prepare(): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    val (r, n) = Oracles.pageRank(edges)
    refRanks = r
    refRounds = n
    // the sequential PageRank's time is context, not a metric
    val prS = (System.nanoTime() - t0) / 1e9
    refCc = Oracles.components(edges)
    refDist = Oracles.bfs(edges, 0L)
    Seq("ref_single_thread_s" -> prS, "ref_pagerank_rounds" -> n,
      "components" -> refCc.values.toSet.size, "reachable_from_0" -> refDist.size)
  }

  def job(t: Tracer): () => Option[String] = {
    val e1 = t.span("io.read_validated")(EdgeListIO.readValidated(spark, input))
    val (ranks, n) = t.span("graph.pagerank")(PageRank.runWithStats(spark, e1, None,
      PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 10))
    prRounds = n
    t.span("io.write_golden")(EdgeListIO.writeGolden(ranks, output))
    () => Oracles.checkGolden(
      new String(Files.readAllBytes(Paths.get(output)), StandardCharsets.UTF_8),
      n, refRanks, refRounds)
  }

  override def sideJob: Option[Tracer => () => Option[String]] = Some { t =>
    val e1 = t.span("io.read_validated")(EdgeListIO.readValidated(spark, input))
    val cc = t.span("graph.cc") {
      val (df, r) = ConnectedComponents.runCounted(spark, e1)
      ccRounds = r
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val e2 = t.span("io.read_validated")(EdgeListIO.readValidated(spark, input))
    val dist = t.span("graph.sssp") {
      ShortestPaths.run(spark, e2, 0L).collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    () => Oracles.checkPairs("cc", cc.toSeq, refCc).orElse {
      if (dist.exists { case (_, d) => d != d.toLong.toDouble })
        Some("sssp: a distance is not a whole number of hops")
      else Oracles.checkPairs("sssp", dist.map { case (v, d) => (v, d.toLong) }.toSeq, refDist)
    }
  }

  def layers(spans: Seq[Span]): Seq[(String, Double)] =
    if (spans.exists(_.name == "graph.cc")) Seq(
      "graph.cc_rounds" -> ccRounds.toDouble,
      "graph.cc_shuffle_stages_per_round" ->
        sum(spans, "graph.cc")(_.counts.shuffleStages.toDouble) / math.max(ccRounds, 1)) ++
      callMetrics(spans, "graph.cc", "graph.cc_") ++
      callMetrics(spans, "graph.sssp", "graph.sssp_")
    else Seq(
      "io.read_validated_s" -> sum(spans, "io.read_validated")(_.seconds),
      "io.read_validated_jobs" -> sum(spans, "io.read_validated")(_.counts.jobs.toDouble),
      "io.write_golden_s" -> sum(spans, "io.write_golden")(_.seconds),
      "graph.pagerank_rounds" -> prRounds.toDouble,
      "graph.pagerank_s_per_round" ->
        sum(spans, "graph.pagerank")(_.seconds) / math.max(prRounds, 1)) ++
      callMetrics(spans, "graph.pagerank", "graph.pagerank_")

  /** The reference's MapReduce phase (the inverse-adjacency build that
    * `mr-pr-cpp` times) through `LongAdjacencyMap`, single-threaded on
    * the workload's edges; median of five after one warm pass. Its input
    * is generated, so it is never comparable with BASELINE.md. */
  override def extraLayers(): Seq[(String, Double)] = {
    def build(): Long = {
      val m = new graft.core.LongAdjacencyMap()
      var k = 0
      while (k < edges.size) { m.add(edges.dst(k), edges.src(k)); k += 1 }
      m.groupSizes.map(_._2.toLong).sum
    }
    require(build() == edges.size, "inverse adjacency lost edges")
    val ms = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); build(); (System.nanoTime() - t0) / 1e6
    }.sorted
    Seq("core.inverse_adjacency_ms" -> ms(2))
  }
}

/** One pass over ten non-graph queries, in fixed order, on seeded
  * tables that `perfbench/sqldata.py` writes under `<dir>/tables` before
  * the JVM starts. Each query's rows are collected; the first pass is
  * the reference that every later pass must reproduce, and it is written
  * out for the DuckDB check of `SparkEntry.oracleSql` after the run. */
final class SqlMixWorkload(spark: SparkSession, dir: String) extends Workload {
  import Workloads._
  private val tables = s"$dir/tables"
  private var ref: Map[String, Vector[String]] = Map.empty

  def generate(): Seq[(String, Any)] = {
    val bytes = Files.walk(Paths.get(tables)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    Seq("sf_dir" -> tables, "input_bytes" -> bytes)
  }

  def prepare(): Seq[(String, Any)] = Nil

  private def runQueries(t: Tracer): Seq[(String, Array[Row], StructType)] =
    QueryNames.map { name =>
      t.span(s"queries.$name") {
        val df = SparkEntry.queries(name)(spark, tables)
        (name, df.collect(), df.schema)
      }
    }

  def job(t: Tracer): () => Option[String] = {
    val out = t.span("queries")(runQueries(t))
    () => {
      val got = out.map { case (n, rows, _) => n -> Oracles.canonical(rows.toSeq) }.toMap
      if (ref.isEmpty) { writeReference(out); ref = got; None }
      else QueryNames.iterator.flatMap(n => Oracles.checkRows(n, got(n), ref(n))).nextOption()
    }
  }

  /** The reference pass's rows as JSON, plus the oracle SQL, for the
    * DuckDB comparison that runs after the JVM exits. */
  private def writeReference(out: Seq[(String, Array[Row], StructType)]): Unit = {
    Files.createDirectories(Paths.get(s"$dir/result"))
    out.foreach { case (name, rows, schema) =>
      Files.writeString(Paths.get(s"$dir/result/$name.json"), Json(Seq(
        "columns" -> schema.fieldNames.toSeq, "rows" -> rows.map(_.toSeq).toSeq)))
    }
    Files.writeString(Paths.get(s"$dir/result/oracle_sql.json"),
      Json(QueryNames.filter(SparkEntry.oracleSql.contains)
        .map(n => n -> SparkEntry.oracleSql(n))))
  }

  def layers(spans: Seq[Span]): Seq[(String, Double)] = {
    QueryNames.map(n => s"queries.${n}_s" -> sum(spans, s"queries.$n")(_.seconds)) ++
      callMetrics(spans, "queries", "queries.") :+
      ("io.parquet_read_mb" -> sum(spans, "queries")(_.counts.inputBytes / MB))
  }
}
