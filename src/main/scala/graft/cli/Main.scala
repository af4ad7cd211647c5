package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph._
import graft.io.EdgeListIO
import graft.text.TextAnalysis

/** CLI runner mirroring the reference's entry points: the PageRank
  * binaries (`./mr-pr-cpp.o <input> -o <output>`, usage at
  * `/root/reference/mr-pr-cpp.cpp:187-193`) and the OINK named commands
  * (`/root/reference/oink/` — degree, degree_stats, edge_upper,
  * vertex_extract, neighbor, histo, wordfreq, cc_find, cc_stats, sssp,
  * tri_find, luby_find, rmat; SURVEY.md §2.5), so `run.sh`-style
  * end-to-end workflows and the golden checker reproduce against this
  * engine:
  *
  * {{{
  * runMain graft.cli.Main pagerank test/bull.txt -o out.txt
  * runMain graft.cli.Main degree edges.txt -o degrees.csv
  * runMain graft.cli.Main sssp edges.txt -o dist.csv --source 0
  * runMain graft.cli.Main rmat - -o edges.csv --levels 10 --edges 4096 --seed 7
  * }}}
  */
object Main {

  private val commands = Seq("pagerank", "pagerank_w", "degree", "degree_stats",
    "edge_upper", "vertex_extract", "neighbor", "neigh_tri", "histo",
    "wordfreq", "cc_find", "cc_stats", "sssp", "tri_find", "luby_find", "coloring",
    "kcore", "coreness", "lpa", "betweenness", "hits", "scc", "eigen", "katz",
    "matching", "walks", "rmat", "anf", "hopplot", "hyperball", "effdiam",
    "hb_closeness", "linkpred", "truss", "toposort", "transitivity", "reciprocity",
    "assortativity", "msf", "msf_stats", "densest")

  /** The `--key` options [[usage]] lists. */
  private val optionKeys = Set("source", "nsources", "seed", "levels", "edges",
    "k", "rounds", "iters", "alpha-shift", "max-center-degree", "dir", "length",
    "top")

  def usage(problem: String = ""): Nothing = {
    if (problem.nonEmpty) System.err.println(problem)
    System.err.println(
      s"""usage: graft.cli.Main <command> <input> -o <output> [--key value ...]
         |commands: ${commands.mkString(" ")}
         |options: --source N (sssp) | --nsources N --seed N (sssp, betweenness)
         |         --seed N (luby_find, coloring, rmat, walks, matching) --levels N --edges N (rmat)
         |         --k N (kcore, truss) --rounds N (lpa, anf, hopplot, hyperball,
         |                                   effdiam, hb_closeness)
         |         --iters N (pagerank_w, hits, eigen, katz) --alpha-shift N (katz)
         |         --max-center-degree N (linkpred) --dir in|out (hyperball, hb_closeness)
         |         --length N (walks)
         |         --top N (wordfreq; input may be a file, glob, or dir tree)""".stripMargin)
    sys.exit(2)
  }

  /** `--key value` pairs, or the first token that is not one: a key
    * [[usage]] does not list, a key with no value, or a stray value. */
  private[cli] def parseOpts(rest: Seq[String]): Either[String, Map[String, String]] =
    rest match {
      case Seq() => Right(Map.empty)
      case k +: _ if !k.startsWith("--") || !optionKeys(k.drop(2)) =>
        Left(s"unknown option: $k")
      case k +: (v +: tail) if !v.startsWith("--") =>
        parseOpts(tail).map(Map(k.drop(2) -> v) ++ _)
      case k +: _ => Left(s"missing value for option: $k")
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 4 || args(2) != "-o") usage()
    val Array(cmd, input, _, output) = args.take(4)
    if (!commands.contains(cmd)) usage()
    val o = parseOpts(args.drop(4).toSeq).fold(usage(_), o => o)

    val spark = graft.GraftSession(defaultCpus = 8)

    def edges() = EdgeListIO.readValidated(spark, input)
    // --dir in reverses the edge set (hyperball / hb_closeness twins)
    def dirEdges(o: Map[String, String]) = o.get("dir") match {
      case Some("in") => edges().select(
        org.apache.spark.sql.functions.col("dst").as("src"),
        org.apache.spark.sql.functions.col("src").as("dst"))
      case _ => edges()
    }

    try {
      val t0 = System.nanoTime()
      cmd match {
        case "pagerank" =>
          val (ranks, iters) = PageRank.runWithStats(spark, edges(), None,
            PageRank.DefaultAlpha, PageRank.DefaultTol, PageRank.DefaultMaxIter, 10)
          EdgeListIO.writeGolden(ranks, output)
          println(f"Pagerank finished in ${(System.nanoTime() - t0) / 1e6}%.1f ms ($iters iterations)")
          spark.stop(); return
        case "pagerank_w" =>
          // weighted fixed-iteration variant over `vi vj weight` lines
          // (read_edge_weight format): rank flows ∝ edge weight / wout
          val we = EdgeListIO.readWeighted(spark, input)
            .withColumnRenamed("weight", "w")
          val n = we.agg(greatest(max("src"), max("dst"))).head().getLong(0) + 1
          val iters = o.getOrElse("iters", "10").toInt
          EdgeListIO.writeGolden(
            PageRank.runFixedWeighted(spark, we, n, iters), output)
          println(f"Weighted pagerank finished in ${(System.nanoTime() - t0) / 1e6}%.1f ms ($iters iterations)")
          spark.stop(); return
        case _ => ()
      }
      val result: DataFrame = cmd match {
        case "degree"         => GraphOps.outDegree(edges()).orderBy("v")
        case "degree_stats"   => GraphOps.degreeStats(edges())
        case "edge_upper"     => GraphOps.edgeUpper(edges()).orderBy("vi", "vj")
        case "vertex_extract" => GraphOps.vertexExtract(edges()).orderBy("v")
        case "neighbor"       => GraphOps.neighbors(edges()).orderBy("v")
        case "histo"          => // histogram of out-degrees (oink/histo.cpp)
          GraphOps.degreeStats(edges())
        case "wordfreq"       =>
          // the reference's file-list map walks directories recursively
          // (mapreduce.cpp:1022-1043, findfiles 2725-2843): accept a
          // file, a glob, or a directory tree
          val docs = spark.read
            .option("recursiveFileLookup", "true")
            .textFile(input).toDF("text")
          TextAnalysis.wordFreq(docs, col("text"), o.getOrElse("top", "10").toInt)
        case "cc_find"        => ConnectedComponents.run(spark, edges()).orderBy("v")
        case "cc_stats"       => ConnectedComponents.stats(ConnectedComponents.run(spark, edges()))
        case "sssp" if o.contains("nsources") =>
          // the reference's `sssp ncnt seed` (oink/sssp.cpp:54): ncnt
          // seeded random sources, one multi-source pass
          val e = edges()
          ShortestPaths.runMulti(spark, e, ShortestPaths.seededSources(
            e, o.getOrElse("seed", "1").toLong, o("nsources").toInt))
            .orderBy("source", "v")
        case "sssp"           => ShortestPaths.run(spark, edges(),
          o.getOrElse("source", "0").toLong).orderBy("v")
        case "tri_find"       => Triangles.run(edges()).orderBy("a", "b", "c")
        case "neigh_tri"      => // neighbor edges + opposite triangle edges
          val e = edges()
          GraphOps.neighTri(e, Triangles.run(e)).orderBy("v", "ea", "eb")
        case "luby_find"      => LubyMIS.run(spark, edges(),
          o.getOrElse("seed", "1").toLong).orderBy("v")
        case "coloring"       => graft.graph.Coloring.run(spark, edges(),
          o.getOrElse("seed", "1").toLong).orderBy("v")
        case "kcore"          => KCore.run(spark, edges(),
          o.getOrElse("k", "2").toInt).orderBy("v")
        case "coreness"       => graft.graph.Coreness.run(spark, edges()).orderBy("v")
        case "lpa"            => graft.graph.LabelPropagation.run(spark, edges(),
          o.getOrElse("rounds", "4").toInt).orderBy("v")
        case "betweenness"    => // seeded like the reference's `sssp ncnt seed`
          val e = edges()
          graft.graph.Betweenness.run(spark, e, ShortestPaths.seededSources(
            e, o.getOrElse("seed", "1").toLong,
            o.getOrElse("nsources", "3").toInt)).orderBy("source", "v")
        case "hits"           => graft.graph.Hits.run(spark, edges(),
          o.getOrElse("iters", "3").toInt).orderBy("v")
        case "scc"            =>
          graft.graph.StronglyConnectedComponents.run(spark, edges()).orderBy("v")
        case "toposort"       => // scc -> condensation -> longest-path levels
          val e = edges()
          val scc = graft.graph.StronglyConnectedComponents.run(spark, e)
          graft.graph.TopoSort.levels(spark,
            graft.graph.StronglyConnectedComponents.condense(e, scc)
              .select(col("from_scc").as("src"), col("to_scc").as("dst")))
            .orderBy("v")
        case "matching"       => graft.graph.MaximalMatching.run(spark, edges(),
          o.getOrElse("seed", "1").toLong).orderBy("vi", "vj")
        case "eigen"          => graft.graph.EigenvectorCentrality.run(spark,
          edges(), o.getOrElse("iters", "8").toInt).orderBy("v")
        case "katz"           => graft.graph.Katz.run(spark, edges(),
          o.getOrElse("iters", "6").toInt,
          o.getOrElse("alpha-shift", "3").toInt).orderBy("v")
        case "linkpred"       => graft.graph.LinkPrediction.run(spark, edges(),
          o.get("max-center-degree").map(_.toLong)).orderBy("u", "w")
        case "truss"          => graft.graph.Truss.run(spark, edges(),
          o.getOrElse("k", "4").toInt).orderBy("vi", "vj")
        case "transitivity"   =>
          val e = edges()
          graft.graph.GraphOps.transitivity(e, graft.graph.Triangles.run(e))
        case "reciprocity"    => graft.graph.GraphOps.reciprocity(edges())
        case "assortativity"  => graft.graph.GraphOps.assortativity(edges())
        case "walks"          => graft.graph.RandomWalks.run(spark, edges(),
          o.getOrElse("seed", "1").toLong, o.getOrElse("length", "5").toInt)
          .orderBy("start", "step")
        case "anf"            => graft.graph.NeighborhoodFunction.run(spark,
          edges(), o.getOrElse("rounds", "3").toInt).orderBy("v", "r")
        case "hopplot"        => graft.graph.NeighborhoodFunction.hopPlot(
          graft.graph.NeighborhoodFunction.run(spark, edges(),
            o.getOrElse("rounds", "3").toInt)).orderBy("r")
        case "hyperball"      =>
          val r = o.getOrElse("rounds", "3").toInt
          graft.graph.NeighborhoodFunction.hyperballHarmonic(
            graft.graph.NeighborhoodFunction.run(spark, dirEdges(o), r), r)
            .orderBy("v")
        case "effdiam"        => graft.graph.NeighborhoodFunction.effectiveDiameter(
          graft.graph.NeighborhoodFunction.run(spark, edges(),
            o.getOrElse("rounds", "3").toInt))
        case "hb_closeness"   =>
          val r = o.getOrElse("rounds", "3").toInt
          graft.graph.NeighborhoodFunction.hyperballCloseness(
            graft.graph.NeighborhoodFunction.run(spark, dirEdges(o), r), r)
            .orderBy("v")
        case "msf"            => graft.graph.MinimumSpanningForest
          .run(spark, edges()).orderBy("vi", "vj")
        case "msf_stats"      => graft.graph.MinimumSpanningForest
          .summarize(graft.graph.MinimumSpanningForest.run(spark, edges()))
        case "densest"        => graft.graph.DensestSubgraph
          .run(spark, edges()).orderBy("v")
        case "rmat"           => RMat.generate(spark,
          o.getOrElse("levels", "10").toInt, o.getOrElse("edges", "1024").toLong,
          o.getOrElse("seed", "1").toLong)
      }
      // single ordered CSV, like the reference's print sinks
      result.coalesce(1).write.mode("overwrite")
        .option("sep", " ").csv(output)
      println(f"$cmd finished in ${(System.nanoTime() - t0) / 1e6}%.1f ms -> $output")
    } catch {
      case EdgeListIO.InvalidLine(n, _) =>
        System.err.println(s"invalid input at line number : $n")
        sys.exit(1)
    } finally spark.stop()
  }
}
