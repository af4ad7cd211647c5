package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.graph._
import graft.pipeline.{Dedup, KMeansInt, Similarity}
import graft.text.TextAnalysis

/** Interpreter for the reference's OINK script language
  * (`/root/reference/mapreduce-7Apr14/oink/input.cpp:392-407` parses,
  * `oink/object.cpp:96-295` manages named MR objects) — the last layer
  * a user of the reference drives. Surface per the shipped examples
  * (`examples/in.{rmat,tri,cc,luby,sssp,wordfreq}`):
  *
  *  - `# comment`, blank lines
  *  - `variable NAME equal time|nprocs` — builtins; `time` is elapsed
  *    seconds at substitution time, `nprocs` the session parallelism
  *  - external variables (the binary's `-var name v1 v2...`) — passed
  *    in by the caller; referenced as `v_NAME` in `-i` slots
  *  - `set key value` — scratch/verbosity/timer knobs; accepted and
  *    recorded (Spark owns spill + logging, so they are advisory here)
  *  - `CMD arg... -i in... -o FILE OBJ` — named commands; FILE=NULL
  *    skips the file sink, OBJ=NULL skips binding the result
  *  - `OBJ map/mr SRC FUNC` — apply a map function to a named object
  *    (`add_weight`, `invert`)
  *  - `print "text with $var"`
  *
  * Commands run the same Spark implementations as [[Main]]; results are
  * named DataFrames in a registry instead of spilled KV files. Beyond
  * the reference's command set, the engine's training-data pipeline is
  * scriptable too: `read_parquet` binds a table as an object, and
  * `dedup_exact / minhash_sig / minhash_pairs / minhash_dedup /
  * dedup_clusters / simhash / simhash_pairs / langid / quality /
  * tokens / fingerprint` operate on (doc_id, text) objects
  * (`overlap` / `overlap_sketch` on (source, text)),
  * `ann_lsh / quantize` on (vec_id, embedding) objects. MR-MPI
  * tuning parameters with no Spark meaning (cc_find's big-zone
  * `nthresh` — skew handled by AQE; rmat's extra-shuffle `fraction`)
  * are accepted and ignored, documented here rather than silently
  * swallowed. */
object OinkScript {

  final case class ScriptError(line: String, msg: String)
    extends RuntimeException(s"$msg in: $line")

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.cli.OinkScript <script> [-var name v1 v2 ...]")
      sys.exit(2)
    }
    val script = scala.io.Source.fromFile(args(0)).getLines().toSeq
    val vars = mutable.Map[String, Seq[String]]()
    var rest = args.drop(1).toList
    while (rest.nonEmpty) rest match {
      case "-var" :: name :: tail =>
        val (vals, next) = tail.span(!_.startsWith("-"))
        vars(name) = vals
        rest = next
      case other => throw new IllegalArgumentException(s"bad args: $other")
    }
    val spark = graft.GraftSession(defaultCpus = 8)
    try run(spark, script, vars.toMap)
    finally spark.stop()
  }

  /** Execute `lines`; returns the final named-object registry (exposed
    * for tests). `extVars` are the binary's `-var` variables. */
  def run(spark: SparkSession, lines: Seq[String],
      extVars: Map[String, Seq[String]] = Map.empty): Map[String, DataFrame] = {
    val t0 = System.nanoTime()
    val objects = mutable.Map[String, DataFrame]()
    // variable name -> thunk evaluated at substitution time
    val variables = mutable.Map[String, () => String]()
    extVars.foreach { case (k, v) => variables(k) = () => v.mkString(" ") }

    def subst(s: String): String =
      variables.foldLeft(s) { case (acc, (k, f)) =>
        if (acc.contains("$" + k)) acc.replace("$" + k, f()) else acc
      }

    def obj(name: String, line: String): DataFrame =
      objects.getOrElse(name, throw ScriptError(line, s"unknown MR object '$name'"))

    /** split `CMD a b -i x y -o f o` into (positional, inputs, outputs) */
    def parse(tokens: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
      val i = tokens.indexOf("-i")
      val o = tokens.indexOf("-o")
      val posEnd = Seq(i, o).filter(_ >= 0).sorted.headOption.getOrElse(tokens.length)
      val ins = if (i < 0) Nil else tokens.slice(i + 1, if (o > i) o else tokens.length)
      val outs = if (o < 0) Nil else tokens.slice(o + 1, if (i > o) i else tokens.length)
      (tokens.take(posEnd), ins, outs)
    }

    // `shell cd` scope — relative file sinks/sources resolve against it
    // (input.cpp's shell passthrough changes the process cwd; a JVM
    // cannot, so the interpreter tracks it and resolves paths itself)
    var cwd = new java.io.File(".").getCanonicalFile
    def resolve(path: String): String = {
      // scheme-qualified URIs (hdfs://, s3a://, file:) pass through
      // untouched — only bare relative paths join the shell cwd
      val isUri = try new java.net.URI(path).isAbsolute
        catch { case _: java.net.URISyntaxException => false }
      if (isUri || new java.io.File(path).isAbsolute) path
      else new java.io.File(cwd, path).getPath
    }

    // The connector writes exactly three shapes: (src,dst),
    // (src,dst,weight), (src,dst,label). Select the widest one the
    // input carries; a table with NEITHER src nor dst is a script
    // error (not a bare AnalysisException), and extra columns beyond
    // the edge shape are named in the error rather than dropped.
    def edgeSinkColumns(df: DataFrame, line: String): DataFrame = {
      val cols = df.columns.toSeq
      if (!cols.contains("src") || !cols.contains("dst"))
        throw ScriptError(line,
          s"edge sink needs src and dst columns; got (${cols.mkString(", ")})")
      val extra = cols.filterNot(Set("src", "dst", "weight", "label"))
      if (extra.nonEmpty) throw ScriptError(line,
        s"edge sink would drop columns (${extra.mkString(", ")}); " +
          "project to (src, dst[, weight|label]) first")
      if (cols.contains("weight") && cols.contains("label"))
        // the connector has no 4-column shape — refusing beats the
        // silent weight-wins drop the select below would otherwise do
        throw ScriptError(line,
          "edge sink has no (src, dst, weight, label) shape; project to" +
            " (src, dst, weight) or (src, dst, label) first")
      if (cols.contains("weight")) df.select("src", "dst", "weight")
      else if (cols.contains("label")) df.select("src", "dst", "label")
      else df.select("src", "dst")
    }

    def sinkAndBind(df: DataFrame, outs: Seq[String], line: String): Unit = {
      outs.headOption.filter(_ != "NULL").foreach { file =>
        if (df.isStreaming) throw ScriptError(line,
          "streaming object cannot sink to a file; stream_drain it first (bind with -o NULL OBJ)")
        df.coalesce(1).write.mode("overwrite").option("sep", " ").csv(resolve(file))
      }
      outs.drop(1).headOption.filter(_ != "NULL").foreach(objects(_) = df)
      if (outs.isEmpty) throw ScriptError(line, "command requires -o FILE OBJ")
    }

    // `include FILE` splices the named script in place (the reference
    // pushes the file onto its parse stack, input.cpp:405-427 — a static
    // splice is equivalent for label/jump, which search the whole
    // program). Paths may reference external `-var`s; cycles abort.
    def splice(ls: Seq[String], seen: Set[String]): Seq[String] =
      ls.flatMap { l =>
        val t = l.trim
        if (tokenize(t).headOption.contains("include")) {
          tokenize(subst(t)) match {
            case Seq(_, path) =>
              if (seen(path)) throw ScriptError(l, s"include cycle at '$path'")
              // splice runs before any `shell cd`, so resolve() sees the
              // launch cwd — same result as a bare path, kept for
              // consistency with the runtime include/sink/source cases
              val src = scala.io.Source.fromFile(resolve(path))
              try splice(src.getLines().toList, seen + path)
              finally src.close()
            case _ => throw ScriptError(l, "include expects exactly one path")
          }
        } else Seq(l)
      }

    // LAMMPS-style control flow (input.cpp:394-401, 527-720):
    // loop variables + label/jump/next, and if "expr" then/else with
    // quoted sub-commands. Program-counter execution over the filtered
    // line array; `next` on an exhausted loop variable deletes it and
    // skips the following jump (the reference's loop-exit idiom).
    val prog = splice(lines, Set.empty)
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toIndexedSeq
    val loopMax = mutable.Map[String, Int]()
    var skipNextJump = false
    var pc = 0

    def evalBool(expr: String, line: String): Boolean = {
      val s = subst(expr).trim
      val m = "^\\s*(-?[0-9.]+)\\s*(==|!=|<=|>=|<|>)\\s*(-?[0-9.]+)\\s*$".r
      s match {
        case m(a, op, b) =>
          val (x, y) = (a.toDouble, b.toDouble)
          op match {
            case "==" => x == y; case "!=" => x != y
            case "<=" => x <= y; case ">=" => x >= y
            case "<"  => x < y;  case ">"  => x > y
          }
        case _ => throw ScriptError(line, s"unsupported boolean '$s'")
      }
    }

    // runtime include nesting (e.g. inside an if/then branch, where the
    // static splice above cannot reach) — guarded against cycles
    val includeActive = mutable.Set[String]()

    def exec(line: String): Unit = {
      // substitute $vars before parsing (input.cpp:280-282); a value
      // with spaces expands to multiple tokens, as in the reference
      val tokens = tokenize(subst(line))
      tokens match {
        case Seq("include", path) =>
          // top-level includes were spliced statically; this case serves
          // quoted sub-commands. Lines run sequentially (label/jump
          // inside a runtime include is out of scope).
          if (includeActive(path)) throw ScriptError(line, s"include cycle at '$path'")
          includeActive += path
          try {
            // resolve() against the tracked script cwd — a prior `shell cd`
            // must scope relative include paths exactly like sinks/sources
            val src = scala.io.Source.fromFile(resolve(path))
            val ls = try src.getLines().toList finally src.close()
            ls.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).foreach(exec)
          } finally includeActive -= path
        case Seq("variable", name, "equal", "time") =>
          variables(name) = () => f"${(System.nanoTime() - t0) / 1e9}%.3f"
        case Seq("variable", name, "equal", "nprocs") =>
          variables(name) = () => spark.sparkContext.defaultParallelism.toString
        case Seq("variable", name, "equal", value) =>
          variables(name) = () => value
        case Seq("variable", name, "loop", n) =>
          if (!variables.contains(name)) { // re-entry keeps the counter
            variables(name) = () => "1"
            loopMax(name) = n.toInt
          }
        case Seq("next", name) =>
          val cur = variables.getOrElse(name,
            throw ScriptError(line, s"unknown variable '$name'"))().toInt
          if (cur >= loopMax.getOrElse(name, Int.MaxValue)) {
            variables.remove(name); loopMax.remove(name)
            skipNextJump = true
          } else {
            val v = (cur + 1).toString
            variables(name) = () => v
          }
        case Seq("label", _) => () // position marker; jump searches for it
        case Seq("jump", _, labelName) =>
          if (skipNextJump) skipNextJump = false
          else {
            val target = prog.indexWhere(l => tokenize(l) == Seq("label", labelName))
            if (target < 0) throw ScriptError(line, s"label '$labelName' not found")
            pc = target // pc += 1 below lands on the line after the label
          }
        case "if" +: cond +: "then" +: branches =>
          val elseIdx = branches.indexOf("else")
          val (thenCmds, elseCmds) =
            if (elseIdx < 0) (branches, Seq.empty[String])
            else (branches.take(elseIdx), branches.drop(elseIdx + 1))
          (if (evalBool(cond, line)) thenCmds else elseCmds).foreach(exec)
        case Seq("set", _*) => () // advisory knobs (scratch/verbosity/timer)
        case Seq("conf", key, value) =>
          // session conf (e.g. `conf spark.sql.streaming.stateStore.providerClass
          // org.apache...RocksDBStateStoreProvider` before a TWS stream verb)
          spark.conf.set(key, value)
        // `shell cmd args` (input.cpp:394-401 passes to the host shell) —
        // the safe filesystem subset, interpreted: cd scopes relative
        // sink/source paths; mkdir/rm manage scratch dirs. Anything else
        // is an explicit error, not a silent host exec.
        case Seq("shell", "cd", path) =>
          val target = new java.io.File(resolve(path)).getCanonicalFile
          if (!target.isDirectory) throw ScriptError(line, s"cd: no such directory '$path'")
          cwd = target
        case Seq("shell", "mkdir", paths @ _*) =>
          paths.foreach(p => java.nio.file.Files
            .createDirectories(java.nio.file.Paths.get(resolve(p))))
        case Seq("shell", "rm", paths @ _*) =>
          paths.foreach { p =>
            val f = new java.io.File(resolve(p))
            if (f.isDirectory) throw ScriptError(line, s"rm: '$p' is a directory")
            if (!f.delete()) throw ScriptError(line, s"rm: cannot remove '$p'")
          }
        case Seq("shell", other @ _*) =>
          throw ScriptError(line, s"unsupported shell command '${other.mkString(" ")}'")
        case Seq("print", text) =>
          println(subst(text)) // scalastyle:ignore
        // OBJ map/mr SRC FUNC — named-object map application
        case Seq(dst, "map/mr", src, fn) =>
          val in = obj(src, line)
          objects(dst) = fn match {
            case "add_weight" => in.withColumn("weight", lit(1.0))
            case "invert"     => graft.core.Ops.invert(in)
            case other        => throw ScriptError(line, s"unknown map func '$other'")
          }
        case cmd +: restTokens =>
          // registry convention: edge frames carry (src, dst [, weight])
          val (pos, ins, outs) = parse(restTokens)
          def in0 = obj(ins.head, line)
          cmd match {
            case "rmat" | "rmat2" =>
              // rmat N M a b c d fraction seed (rmat.cpp:37-90): 2^N
              // vertices, M edges per vertex; `fraction` (random bit
              // re-shuffle) accepted, only the examples' 0.0 supported
              val Seq(n, m, a, b, c, d, _fraction, seed) = pos.take(8): @unchecked
              val df = RMat.generate(spark, n.toInt, m.toLong << n.toInt, seed.toLong,
                a.toDouble, b.toDouble, c.toDouble, d.toDouble)
              sinkAndBind(df, outs, line)
            case "edge_upper" =>
              sinkAndBind(GraphOps.edgeUpper(in0)
                .select(col("vi").as("src"), col("vj").as("dst")), outs, line)
            case "degree" =>
              val dup = pos.headOption.map(_.toInt).getOrElse(1)
              val df = if (dup == 2) GraphOps.degreeBoth(in0) else GraphOps.outDegree(in0)
              if (outs.nonEmpty) sinkAndBind(df, outs, line) else df.collect()
            case "degree_stats" =>
              val df = GraphOps.degreeStats(in0)
              if (outs.nonEmpty) sinkAndBind(df, outs, line) else df.collect()
            case "cc_find" =>
              // positional nthresh = MR-MPI big-zone scatter threshold;
              // skew is AQE's job here — accepted, not used
              sinkAndBind(ConnectedComponents.run(spark, in0), outs, line)
            case "cc_stats" =>
              val df = ConnectedComponents.stats(
                if (ins.nonEmpty && in0.columns.contains("comp")) in0
                else ConnectedComponents.run(spark, in0))
              if (outs.nonEmpty) sinkAndBind(df, outs, line) else df.collect()
            case "tri_find" =>
              sinkAndBind(Triangles.run(in0), outs, line)
            case "cc_inc" =>
              // cc_inc -i standingAssignment batchEdges — incremental CC
              if (ins.size < 2)
                throw ScriptError(line, "cc_inc -i standing_cc batch_edges")
              sinkAndBind(ConnectedComponents.incremental(
                spark, in0, obj(ins(1), line)), outs, line)
            case "tri_inc" =>
              // tri_inc -i standingEdges batchEdges — incremental count
              if (ins.size < 2)
                throw ScriptError(line, "tri_inc -i standing_edges batch_edges")
              sinkAndBind(Triangles.incrementalCount(
                in0, obj(ins(1), line)), outs, line)
            case "luby_find" =>
              val seed = pos.headOption.map(_.toLong).getOrElse(1L)
              sinkAndBind(LubyMIS.run(spark, in0, seed), outs, line)
            case "coloring" =>
              val seed = pos.headOption.map(_.toLong).getOrElse(1L)
              sinkAndBind(Coloring.run(spark, in0, seed), outs, line)
            case "sssp" =>
              // sssp ncnt seed (sssp.cpp:395-401)
              val Seq(ncnt, seed) = pos.take(2): @unchecked
              val sources = ShortestPaths.seededSources(in0, seed.toLong, ncnt.toInt)
              sinkAndBind(ShortestPaths.runMulti(spark, in0, sources), outs, line)
            case "wordfreq" =>
              // wordfreq ntop (wordfreq.cpp:94-98); -i is a file-list
              // variable (the binary's `-var files ...`)
              val ntop = pos.headOption.map(_.toInt).getOrElse(10)
              val paths = ins.map {
                case v if v.startsWith("v_") =>
                  variables.getOrElse(v.drop(2),
                    throw ScriptError(line, s"unknown variable '$v'"))().split("\\s+").toSeq
                case p => Seq(p)
              }.flatten
              val docs = paths.map(p => spark.read
                  .option("recursiveFileLookup", "true").textFile(resolve(p)).toDF("text"))
                .reduce(_ union _)
              sinkAndBind(TextAnalysis.wordFreq(docs, col("text"), ntop), outs, line)
            case "vertex_extract" =>
              sinkAndBind(GraphOps.vertexExtract(in0), outs, line)
            // engine extensions beyond the reference's script set — the
            // same Spark implementations the CLI exposes
            case "kcore" =>
              val k = pos.headOption.map(_.toInt).getOrElse(2)
              sinkAndBind(KCore.run(spark, in0, k), outs, line)
            case "coreness" =>
              sinkAndBind(Coreness.run(spark, in0), outs, line)
            case "lpa" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(4)
              sinkAndBind(LabelPropagation.run(spark, in0, rounds), outs, line)
            case "betweenness" =>
              // betweenness [ncnt] [seed] — seeded like sssp
              val ncnt = pos.lift(0).map(_.toInt).getOrElse(3)
              val seed = pos.lift(1).map(_.toLong).getOrElse(1L)
              sinkAndBind(Betweenness.run(spark, in0,
                ShortestPaths.seededSources(in0, seed, ncnt)), outs, line)
            case "hits" =>
              val iters = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(Hits.run(spark, in0, iters), outs, line)
            case "walks" =>
              // walks [seed] [length]
              val seed = pos.lift(0).map(_.toLong).getOrElse(1L)
              val len = pos.lift(1).map(_.toInt).getOrElse(5)
              sinkAndBind(RandomWalks.run(spark, in0, seed, len), outs, line)
            case "neighbor" =>
              sinkAndBind(GraphOps.neighbors(in0), outs, line)
            case "histo" =>
              val df = GraphOps.degreeStats(in0)
              if (outs.nonEmpty) sinkAndBind(df, outs, line) else df.collect()
            case "scc" =>
              sinkAndBind(StronglyConnectedComponents.run(spark, in0), outs, line)
            case "toposort" =>
              // toposort — longest-path levels of a DAG object (run scc
              // + condense first on a general digraph); raises on cycles
              sinkAndBind(graft.graph.TopoSort.levels(spark, in0), outs, line)
            case "eigen" =>
              val iters = pos.headOption.map(_.toInt).getOrElse(8)
              sinkAndBind(EigenvectorCentrality.run(spark, in0, iters), outs, line)
            case "katz" =>
              // katz [iters] [alphaShift]
              val iters = pos.lift(0).map(_.toInt).getOrElse(6)
              val aShift = pos.lift(1).map(_.toInt).getOrElse(3)
              sinkAndBind(Katz.run(spark, in0, iters, aShift), outs, line)
            case "linkpred" =>
              // linkpred [maxCenterDegree]
              val cap = pos.headOption.map(_.toLong)
              sinkAndBind(LinkPrediction.run(spark, in0, cap), outs, line)
            case "truss" =>
              // truss [k]
              val k = pos.headOption.map(_.toInt).getOrElse(4)
              sinkAndBind(Truss.run(spark, in0, k), outs, line)
            case "transitivity" =>
              sinkAndBind(GraphOps.transitivity(in0, Triangles.run(in0)), outs, line)
            case "reciprocity" =>
              sinkAndBind(GraphOps.reciprocity(in0), outs, line)
            case "assortativity" =>
              sinkAndBind(GraphOps.assortativity(in0), outs, line)
            case "matching" =>
              val seed = pos.headOption.map(_.toLong).getOrElse(1L)
              sinkAndBind(MaximalMatching.run(spark, in0, seed), outs, line)
            case "msf" =>
              sinkAndBind(MinimumSpanningForest.run(spark, in0), outs, line)
            case "densest" =>
              sinkAndBind(DensestSubgraph.run(spark, in0), outs, line)
            case "anf" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(NeighborhoodFunction.run(spark, in0, rounds), outs, line)
            case "hopplot" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(NeighborhoodFunction.hopPlot(
                NeighborhoodFunction.run(spark, in0, rounds)), outs, line)
            case "hyperball" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(NeighborhoodFunction.hyperballHarmonic(
                NeighborhoodFunction.run(spark, in0, rounds), rounds), outs, line)
            case "effdiam" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(NeighborhoodFunction.effectiveDiameter(
                NeighborhoodFunction.run(spark, in0, rounds)), outs, line)
            case "hb_closeness" =>
              val rounds = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(NeighborhoodFunction.hyperballCloseness(
                NeighborhoodFunction.run(spark, in0, rounds), rounds), outs, line)
            // ---- training-data pipeline verbs over the registry
            // conventions (doc_id, text) / (vec_id, embedding) ----
            case "read_parquet" =>
              // source verb: binds a parquet table (e.g. documents,
              // embeddings) as a named object; -i paths, -o FILE OBJ
              if (ins.isEmpty) throw ScriptError(line, "read_parquet requires -i paths")
              sinkAndBind(spark.read.option("recursiveFileLookup", "true")
                .parquet(ins.map(resolve): _*), outs, line)
            case "sql" =>
              // sql "STATEMENT" [-o FILE OBJ] — one SQL statement
              // against the session: the named-catalog face (CREATE
              // NAMESPACE / CREATE TABLE graft.db.t PARTITIONED BY
              // (bucket(n, src)) / INSERT / SELECT) scripted — the
              // reference's named-object layer (oink/object.cpp:96-295)
              // driven through Spark SQL. `$var` substitution applies,
              // so loops can parameterize table names. DDL/DML execute
              // eagerly; a query's frame binds/sinks like any source
              // verb (no -o = validate-only).
              val stmt = pos.headOption.filter(_.nonEmpty).getOrElse(
                throw ScriptError(line, "sql requires a quoted statement"))
              val df = spark.sql(subst(stmt))
              if (outs.nonEmpty) sinkAndBind(df, outs, line)
            case "read_edge_dsv2" =>
              // read_edge_dsv2 [version] -i path — edge list through
              // the V2 connector (byte-range chunked scan with
              // pruning/pushdown); with a positional version number the
              // read pins that `_graft_log` snapshot (time travel)
              if (ins.size != 1)
                throw ScriptError(line, "read_edge_dsv2 [version] requires -i path")
              val rd = spark.read.format("graft.sources.EdgeListSource")
              sinkAndBind(
                pos.headOption.fold(rd)(v => rd.option("versionAsOf", v))
                  .load(resolve(ins.head)), outs, line)
            case "edge_changes" =>
              // edge_changes fromVersion [toVersion] -i path — the
              // append-only changes feed: rows committed after
              // fromVersion (exclusive) up to toVersion/current
              if (pos.isEmpty || ins.size != 1)
                throw ScriptError(line,
                  "edge_changes fromVersion [toVersion] -i path")
              val rd0 = spark.read.format("graft.sources.EdgeListSource")
                .option("changesFromVersion", pos(0))
              sinkAndBind(
                pos.lift(1).fold(rd0)(v => rd0.option("versionAsOf", v))
                  .load(resolve(ins.head)), outs, line)
            case "edge_history" =>
              // edge_history -i path — snapshot log as rows
              // (version, committed_at_ms, n_files, bytes)
              if (ins.size != 1)
                throw ScriptError(line, "edge_history requires -i path")
              val h = graft.sources.EdgeLog
                .history(new java.io.File(resolve(ins.head)))
              sinkAndBind(spark.createDataFrame(h)
                .toDF("version", "committed_at_ms", "n_files", "bytes"),
                outs, line)
            case "write_edge_dsv2" =>
              // sink verb: emit edges through the connector's
              // temp-file + rename commit; -o DIR [OBJ]. Preserves a
              // weight/label column when present (the connector's
              // three on-disk shapes), never silently drops one.
              if (outs.isEmpty) throw ScriptError(line, "write_edge_dsv2 requires -o dir [OBJ]")
              edgeSinkColumns(in0, line)
                .write.format("graft.sources.EdgeListSource")
                .mode("overwrite").save(resolve(outs.head))
              outs.drop(1).headOption.filter(_ != "NULL").foreach(objects(_) = in0)
            case "write_edge_bucketed" =>
              // bucketed sink: write_edge_bucketed COL N -o DIR [OBJ] —
              // pays the layout shuffle once; every later join/point
              // probe on COL rides it (SPJ + bucket pruning).
              // weight/label pass through like write_edge_dsv2.
              val bcol = pos.lift(0).getOrElse(
                throw ScriptError(line, "write_edge_bucketed needs COL N"))
              val n = pos.lift(1).map(_.toInt).getOrElse(
                throw ScriptError(line, "write_edge_bucketed needs COL N"))
              if (outs.isEmpty)
                throw ScriptError(line, "write_edge_bucketed requires -o dir [OBJ]")
              edgeSinkColumns(in0, line)
                .write.format("graft.sources.EdgeListSource")
                .option("bucketBy", bcol).option("numBuckets", n.toString)
                .mode("overwrite").save(resolve(outs.head))
              outs.drop(1).headOption.filter(_ != "NULL").foreach(objects(_) = in0)
            case "append_edge_idem" =>
              // idempotent append: append_edge_idem TOKEN -o DIR [OBJ] —
              // the connector's marker-fenced commit makes a re-run of
              // the same TOKEN a no-op and unpublishes a crashed
              // half-commit by its filename tag (the retry-safe verb a
              // scripted ingestion loop wraps each batch in)
              val token = pos.headOption.getOrElse(
                throw ScriptError(line, "append_edge_idem needs TOKEN"))
              if (outs.isEmpty)
                throw ScriptError(line, "append_edge_idem requires -o dir [OBJ]")
              edgeSinkColumns(in0, line)
                .write.format("graft.sources.EdgeListSource")
                .option("idempotencyMarker", token)
                .mode("append").save(resolve(outs.head))
              outs.drop(1).headOption.filter(_ != "NULL").foreach(objects(_) = in0)
            case "dedup_exact" =>
              sinkAndBind(Dedup.exact(in0, col("doc_id"), col("text")), outs, line)
            case "minhash_sig" =>
              sinkAndBind(Dedup.minHashSignatures(in0, col("doc_id"), col("text")), outs, line)
            case "minhash_pairs" =>
              sinkAndBind(Dedup.minHashCandidates(in0, col("doc_id"), col("text")), outs, line)
            case "minhash_dedup" =>
              // minhash_dedup [est_threshold] — the full LSH → estimate →
              // exact-verify chain
              val thr = pos.headOption.map(_.toDouble).getOrElse(0.7)
              sinkAndBind(Dedup.dedupPipeline(in0, col("doc_id"), col("text"), thr), outs, line)
            case "dedup_clusters" =>
              sinkAndBind(Dedup.dedupClusters(spark, in0, col("doc_id"), col("text")), outs, line)
            case "para_dedup" =>
              // para_dedup [width] — segment-level first-occurrence dedup
              val width = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(Dedup.segmentDedup(in0, col("doc_id"), col("text"), width), outs, line)
            case "simhash" =>
              sinkAndBind(Dedup.simHash(in0, col("doc_id"), col("text")), outs, line)
            case "simhash_pairs" =>
              val maxDist = pos.headOption.map(_.toInt).getOrElse(2)
              sinkAndBind(Dedup.simHashNearPairs(in0, col("doc_id"), col("text"), maxDist), outs, line)
            case "overlap" =>
              // overlap [n] — cross-source n-gram overlap matrix
              val n = pos.headOption.map(_.toInt).getOrElse(3)
              sinkAndBind(Dedup.sourceOverlap(in0, col("source"), col("text"), n), outs, line)
            case "containment" =>
              // containment [n] [r] [maxDf] — excerpt/prefix duplicates
              // via rare-shingle blocking (the class LSH-Jaccard misses)
              sinkAndBind(Dedup.containmentPairs(in0, col("doc_id"),
                col("text"), pos.lift(0).map(_.toInt).getOrElse(3),
                pos.lift(1).map(_.toInt).getOrElse(5),
                pos.lift(2).map(_.toInt).getOrElse(10)), outs, line)
            case "setsim" =>
              // setsim [tau] [n] — lossless τ-Jaccard prefix-filter join
              sinkAndBind(Dedup.setSimilarityJoin(in0, col("doc_id"),
                col("text"), pos.lift(0).map(_.toDouble).getOrElse(0.5),
                pos.lift(1).map(_.toInt).getOrElse(3)), outs, line)
            case "fuzzy_pairs" =>
              // fuzzy_pairs <col> [maxDist] — FastSS edit-distance pairs
              if (pos.isEmpty) throw ScriptError(line, "fuzzy_pairs col [maxDist]")
              sinkAndBind(graft.pipeline.FuzzyMatch.fuzzyPairs(in0,
                col(pos.head), pos.lift(1).map(_.toInt).getOrElse(2)),
                outs, line)
            case "fuzzy_entities" =>
              // fuzzy_entities <col> [maxDist] — entity resolution:
              // CC over the fuzzy graph, canonical per cluster
              if (pos.isEmpty) throw ScriptError(line, "fuzzy_entities col [maxDist]")
              sinkAndBind(graft.pipeline.FuzzyMatch.fuzzyEntities(spark,
                in0, col(pos.head), pos.lift(1).map(_.toInt).getOrElse(2)),
                outs, line)
            case "merge" =>
              // merge key -i target batch — MERGE INTO snapshot upsert.
              // Batch rows with op='d' delete; other matched rows update
              // every shared non-key column; unmatched rows insert.
              if (pos.isEmpty || ins.size < 2)
                throw ScriptError(line, "merge key -i target batch")
              val key = pos.head
              val batch = obj(ins(1), line)
              val shared = in0.columns.toSeq
                .filter(c => c != key && batch.columns.contains(c))
              val hasOp = batch.columns.contains("op")
              sinkAndBind(graft.pipeline.MergeInto.mergeInto(in0, batch, key,
                matchedDeleteWhen =
                  if (hasOp) Some(col("s_op") === "d") else None,
                matchedUpdate = shared.map(c => c -> col(s"s_$c")),
                notMatchedInsert = (key +: shared).map(c => c -> col(s"s_$c"))),
                outs, line)
            case "hard_negatives" =>
              // hard_negatives [k] -i queries candidates — contrastive
              // mining: queries (qid,qvec,qlabel), candidates
              // (vec_id,embedding,label)
              if (ins.size < 2)
                throw ScriptError(line, "hard_negatives [k] -i queries candidates")
              sinkAndBind(graft.pipeline.Similarity.hardNegatives(in0,
                obj(ins(1), line),
                pos.headOption.map(_.toInt).getOrElse(5)), outs, line)
            case "langid" =>
              sinkAndBind(TextAnalysis.langId(in0, col("doc_id"), col("text")), outs, line)
            case "pmi" =>
              // pmi [minCount] [topN] — collocation mining
              val minC = pos.lift(0).map(_.toLong).getOrElse(5L)
              val topN = pos.lift(1).map(_.toInt).getOrElse(100)
              sinkAndBind(TextAnalysis.pmiCollocations(in0, col("text"), minC, topN), outs, line)
            case "quality" =>
              sinkAndBind(TextAnalysis.quality(in0, col("doc_id"), col("text")), outs, line)
            case "classify" =>
              // hashed-n-gram linear quality scorer (fastText-style)
              sinkAndBind(TextAnalysis.classify(in0, col("doc_id"), col("text")), outs, line)
            case "tokens" =>
              sinkAndBind(TextAnalysis.tokenCounts(in0, col("doc_id"), col("text")), outs, line)
            case "fingerprint" =>
              sinkAndBind(TextAnalysis.fingerprint(in0, col("doc_id"), col("text")), outs, line)
            case "chunk" =>
              // chunk [window] [stride] — overlapping token windows
              val w = pos.lift(0).map(_.toInt).getOrElse(64)
              val st = pos.lift(1).map(_.toInt).getOrElse(48)
              sinkAndBind(TextAnalysis.chunk(in0, col("doc_id"), col("text"), w, st), outs, line)
            case "compact" =>
              // compact targetMB -i dir — table maintenance, no object out
              val mb = pos.headOption.map(_.toLong).getOrElse(128L)
              if (ins.isEmpty) throw ScriptError(line, "compact requires -i dir")
              val r = graft.io.Compaction.compactParquet(
                spark, resolve(ins.head), mb << 20)
              println(s"compact: ${r.filesBefore} -> ${r.filesAfter} files " +
                s"(${r.bytes} bytes)") // scalastyle:ignore
            case "compact_edges" =>
              // compact_edges targetMB -i dir — merge a closed edge-list
              // sink's small per-epoch files (connector read+write path)
              val mb = pos.headOption.map(_.toLong).getOrElse(128L)
              if (ins.isEmpty) throw ScriptError(line, "compact_edges requires -i dir")
              val r = graft.io.Compaction.compactEdgeList(
                spark, resolve(ins.head), mb << 20)
              println(s"compact_edges: ${r.filesBefore} -> ${r.filesAfter} files " +
                s"(${r.bytes} bytes)") // scalastyle:ignore
            case "zorder_edges" =>
              // zorder_edges numFiles [bits] -i dir — rewrite the
              // connector table on the (src, dst) Morton curve so the
              // zone-map sidecars prune on both columns
              if (pos.isEmpty || ins.isEmpty)
                throw ScriptError(line, "zorder_edges numFiles [bits] -i dir")
              val zr = graft.io.Compaction.zorderEdgeList(spark,
                resolve(ins.head), pos(0).toInt,
                pos.lift(1).map(_.toInt).getOrElse(20))
              println(s"zorder_edges: ${zr.filesBefore} -> ${zr.filesAfter} " +
                s"files (${zr.bytes} bytes)") // scalastyle:ignore
            case "vacuum_edges" =>
              // vacuum_edges retainLast -i dir — log retention: drop
              // all but the newest retainLast snapshot manifests
              if (pos.isEmpty || ins.isEmpty)
                throw ScriptError(line, "vacuum_edges retainLast -i dir")
              val removed = graft.sources.EdgeLog.vacuum(
                new java.io.File(resolve(ins.head)), pos(0).toInt)
              println(s"vacuum_edges: removed ${removed.size} versions" +
                (if (removed.isEmpty) ""
                 else s" (${removed.head}..${removed.last})")) // scalastyle:ignore
            case "ann_lsh" =>
              // ann_lsh [k] [dim] — dim probed from the data if absent
              val k = pos.lift(0).map(_.toInt).getOrElse(10)
              val dim = pos.lift(1).map(_.toInt).getOrElse(
                in0.select(size(col("embedding"))).limit(1).collect().headOption
                  .map(_.getInt(0)).getOrElse(throw ScriptError(line,
                    "ann_lsh cannot probe dim of an empty object")))
              sinkAndBind(Similarity.lshTopK(in0, dim, k), outs, line)
            case "quantize" =>
              sinkAndBind(Similarity.quantizeInt8(in0, col("vec_id"), col("embedding")), outs, line)
            case "kmeans" =>
              // kmeans [k] [iters] — integer-exact Lloyd on the code grid
              val k = pos.lift(0).map(_.toInt).getOrElse(8)
              val iters = pos.lift(1).map(_.toInt).getOrElse(3)
              sinkAndBind(KMeansInt.run(in0, k, iters), outs, line)
            // ---- streaming verbs: the Structured Streaming surface on
            // the script layer, so the engine's two execution modes share
            // one user surface (engine extension; the reference is
            // batch-only). Streaming objects bind with `-o NULL OBJ`
            // (file sinks refuse them); `stream_drain NAME` runs an
            // AvailableNow drain into a memory sink and binds the result
            // as an ordinary batch object.
            case "read_events_stream" =>
              if (ins.isEmpty) throw ScriptError(line, "read_events_stream requires -i dir")
              sinkAndBind(graft.streaming.EventStreams.readEvents(
                spark, resolve(ins.head)), outs, line)
            case "stream_window_agg" =>
              sinkAndBind(graft.streaming.EventStreams.windowedAgg(in0), outs, line)
            case "stream_dedup" =>
              // stream_dedup [key...] — watermarked exact dedup
              val keys = if (pos.nonEmpty) pos else Seq("user_id", "event_type")
              sinkAndBind(graft.streaming.EventStreams.dedupStream(in0, keys), outs, line)
            case "stream_funnel" =>
              sinkAndBind(graft.streaming.EventStreams.funnelStream(spark, in0), outs, line)
            case "stream_running" =>
              sinkAndBind(graft.streaming.EventStreams.runningStatsStream(spark, in0), outs, line)
            case "stream_scd2" =>
              // stream_scd2 -i dir — multi-batch drain folding each
              // micro-batch's signup updates into an SCD2 dimension
              // (the streaming corpus-refresh sink)
              if (ins.isEmpty) throw ScriptError(line, "stream_scd2 requires -i dir")
              sinkAndBind(graft.streaming.EventStreams.scd2StreamingSink(
                spark, resolve(ins.head)), outs, line)
            case "stream_fuzzy" =>
              // stream_fuzzy [maxDist] -i dir — micro-batches of new
              // part names joined against the persisted standing
              // deletion-key index (streaming FastSS)
              if (ins.isEmpty) throw ScriptError(line, "stream_fuzzy [maxDist] -i dir")
              sinkAndBind(graft.streaming.FuzzyStreams.fuzzyMatchStreamingSink(
                spark, resolve(ins.head),
                pos.headOption.map(_.toInt).getOrElse(2)), outs, line)
            case "stream_decontam" =>
              // stream_decontam [k] -i dir — per-micro-batch KMV synopsis
              // fold + contamination matrix vs the src0 eval set
              if (ins.isEmpty) throw ScriptError(line, "stream_decontam [k] -i dir")
              sinkAndBind(graft.streaming.DecontamStreams.decontamStreamingSink(
                spark, resolve(ins.head),
                pos.headOption.map(_.toInt).getOrElse(128)), outs, line)
            case "decontam_kmv" =>
              // decontam_kmv [k] -i standing_docs batch_docs — batch-only
              // refresh over maintained per-source synopses (src0 = eval)
              if (ins.size < 2)
                throw ScriptError(line, "decontam_kmv [k] -i standing_docs batch_docs")
              val dk = pos.headOption.map(_.toInt).getOrElse(128)
              val (ssk, esk) = graft.pipeline.Decontam.standingState(in0, "src0", dk)
              sinkAndBind(graft.pipeline.Decontam.refresh(
                ssk, esk, obj(ins(1), line), "src0", dk), outs, line)
            case "stream_running_tws" =>
              // transformWithState generation of stream_running
              sinkAndBind(graft.streaming.TwsOperators.runningStatsStreamTws(
                spark, in0), outs, line)
            case "stream_profile" =>
              // per-user event_type -> lifetime-count profile (MapState)
              sinkAndBind(graft.streaming.TwsOperators.profileStreamTws(
                spark, in0), outs, line)
            case "stream_lastn" =>
              // stream_lastn [n] — sliding last-n feature window (ListState)
              sinkAndBind(graft.streaming.TwsOperators.lastNStreamTws(
                spark, in0, pos.headOption.map(_.toInt).getOrElse(5)), outs, line)
            case "stream_anomaly" =>
              sinkAndBind(graft.streaming.EventStreams.anomalyStream(spark, in0), outs, line)
            case "dq_profile" =>
              // dq_profile col [col...] — one-scan expectations profile
              if (pos.isEmpty) throw ScriptError(line, "dq_profile requires column names")
              sinkAndBind(graft.pipeline.DataQuality.profile(in0, pos), outs, line)
            case "dq_refint" =>
              // dq_refint childKey parentKey -i child parent
              if (pos.size < 2 || ins.size < 2)
                throw ScriptError(line, "dq_refint childKey parentKey -i child parent")
              sinkAndBind(graft.pipeline.DataQuality.refIntegrity(
                in0, col(pos(0)), obj(ins(1), line), col(pos(1))), outs, line)
            case "dq_drift" =>
              // dq_drift col -i base current — chi-square category drift
              if (pos.isEmpty || ins.size < 2)
                throw ScriptError(line, "dq_drift col -i base current")
              sinkAndBind(graft.pipeline.DataQuality.categoricalDrift(
                in0, obj(ins(1), line), col(pos.head)), outs, line)
            case "dq_outliers" =>
              // dq_outliers groupCol valueCol — Tukey 1.5*IQR report
              if (pos.size < 2)
                throw ScriptError(line, "dq_outliers groupCol valueCol")
              sinkAndBind(graft.pipeline.DataQuality.iqrOutliers(
                in0, col(pos(0)), col(pos(1))), outs, line)
            case "dq_ks" =>
              // dq_ks groupCol valueCol curBoolExpr... — exact two-sample
              // Kolmogorov-Smirnov per group (rest of line = predicate
              // marking the CURRENT sample)
              if (pos.size < 3)
                throw ScriptError(line, "dq_ks groupCol valueCol curBoolExpr")
              sinkAndBind(graft.pipeline.DataQuality.ksTest(
                in0, col(pos(0)), col(pos(1)),
                expr(pos.drop(2).mkString(" "))), outs, line)
            case "dq_mwu" =>
              // dq_mwu groupCol valueCol curBoolExpr... — exact
              // Mann-Whitney U / AUC per group (location-shift twin of
              // dq_ks; rest of line = CURRENT-sample predicate)
              if (pos.size < 3)
                throw ScriptError(line, "dq_mwu groupCol valueCol curBoolExpr")
              sinkAndBind(graft.pipeline.DataQuality.mwuTest(
                in0, col(pos(0)), col(pos(1)),
                expr(pos.drop(2).mkString(" "))), outs, line)
            case "dq_tvd" =>
              // dq_tvd groupCol valueCol curBoolExpr... — exact total-
              // variation distance per group (mass-movement twin of
              // dq_ks; rest of line = CURRENT-sample predicate)
              if (pos.size < 3)
                throw ScriptError(line, "dq_tvd groupCol valueCol curBoolExpr")
              sinkAndBind(graft.pipeline.DataQuality.tvdTest(
                in0, col(pos(0)), col(pos(1)),
                expr(pos.drop(2).mkString(" "))), outs, line)
            case "dq_qq" =>
              // dq_qq groupCol centsCol curBoolExpr... — exact per-decile
              // quantile-shift table (type-1 integer order statistics)
              if (pos.size < 3)
                throw ScriptError(line, "dq_qq groupCol centsCol curBoolExpr")
              sinkAndBind(graft.pipeline.DataQuality.quantileShift(
                in0, col(pos(0)), col(pos(1)),
                expr(pos.drop(2).mkString(" "))), outs, line)
            case "dq_cusum" =>
              // dq_cusum groupCol timeCol idCol valueCol — exact CUSUM
              // changepoint report (peak upward level shift per group)
              if (pos.size < 4)
                throw ScriptError(line, "dq_cusum groupCol timeCol idCol valueCol")
              sinkAndBind(graft.pipeline.DataQuality.cusumReport(
                in0, col(pos(0)), col(pos(1)), col(pos(2)), col(pos(3))),
                outs, line)
            case "survival" =>
              // survival durationCol eventCol — Kaplan-Meier curve with
              // right censoring over (duration, 0/1-event) rows
              if (pos.size < 2)
                throw ScriptError(line, "survival durationCol eventCol")
              sinkAndBind(graft.pipeline.DataQuality.kaplanMeier(
                in0, col(pos(0)), col(pos(1))), outs, line)
            case "dq_skew" =>
              // dq_skew groupCol keyCol — hot-key report (Gini/HHI/top
              // share of per-key counts), the pre-shuffle skew screen
              if (pos.size < 2)
                throw ScriptError(line, "dq_skew groupCol keyCol")
              sinkAndBind(graft.pipeline.DataQuality.skewReport(
                in0, col(pos(0)), col(pos(1))), outs, line)
            case "dq_benford" =>
              // dq_benford groupCol centsExpr... — first-digit Benford
              // screen (rest of line = exact-integer expression)
              if (pos.size < 2)
                throw ScriptError(line, "dq_benford groupCol centsExpr")
              sinkAndBind(graft.pipeline.DataQuality.benford(
                in0, col(pos(0)),
                expr(pos.drop(1).mkString(" "))), outs, line)
            case "mv_refresh" =>
              // mv_refresh keyCol measureCol delBoolExpr... -i standing batch
              // — fold a refresh batch (inserts + retractions) into a
              // standing (k, n, total) rollup without rescanning it
              if (pos.size < 3 || ins.size < 2)
                throw ScriptError(line,
                  "mv_refresh keyCol measureCol delBoolExpr -i standing batch")
              sinkAndBind(graft.pipeline.IncrementalAgg.refresh(in0,
                graft.pipeline.IncrementalAgg.delta(obj(ins(1), line),
                  col(pos(0)), col(pos(1)),
                  expr(pos.drop(2).mkString(" ")))), outs, line)
            case "dq_mad" =>
              // dq_mad groupCol centsExpr... — exact median/MAD
              // (Hampel X84) outlier screen per group (rest of line =
              // exact-integer expression, e.g. the cents ladder)
              if (pos.size < 2)
                throw ScriptError(line, "dq_mad groupCol centsExpr")
              sinkAndBind(graft.pipeline.DataQuality.madOutliers(
                in0, col(pos(0)),
                expr(pos.drop(1).mkString(" "))), outs, line)
            case "dq_contingency" =>
              // dq_contingency aCol bExpr... — per-cell chi-square
              // association screen between two categoricals (rest of
              // line = the second categorical expression)
              if (pos.size < 2)
                throw ScriptError(line, "dq_contingency aCol bExpr")
              sinkAndBind(graft.pipeline.DataQuality.contingency(
                in0, col(pos(0)),
                expr(pos.drop(1).mkString(" "))), outs, line)
            case "dq_spearman" =>
              // dq_spearman groupCol xCol yExpr... — exact tie-aware
              // Spearman trend per group (rest of line = y expression,
              // e.g. the event-time column)
              if (pos.size < 3)
                throw ScriptError(line, "dq_spearman groupCol xCol yExpr")
              sinkAndBind(graft.pipeline.DataQuality.spearmanTrend(
                in0, col(pos(0)), col(pos(1)),
                expr(pos.drop(2).mkString(" "))), outs, line)
            case "asof" =>
              // asof key dimKey ts vts [tolUs] [direction] -i facts dim
              if (pos.size < 4 || ins.size < 2)
                throw ScriptError(line,
                  "asof key dimKey ts vts [tolUs] [backward|forward|nearest] -i facts dim")
              val extra = pos.drop(4)
              sinkAndBind(graft.plans.AsOfJoin.asOfJoin(in0, obj(ins(1), line),
                Seq(col(pos(0))), Seq(col(pos(1))), col(pos(2)), col(pos(3)),
                extra.find(t => t.nonEmpty && t.forall(_.isDigit)).map(_.toLong),
                extra.find(graft.plans.AsOfJoin.Directions)
                  .getOrElse("backward"),
                broadcast = extra.contains("broadcast")), outs, line)
            case "epoch_shuffle" =>
              // epoch_shuffle [seed] [nShards] — seeded training order
              sinkAndBind(graft.pipeline.Sampling.epochShuffle(spark, in0,
                col("doc_id"), pos.lift(0).map(_.toLong).getOrElse(0L),
                pos.lift(1).map(_.toInt).getOrElse(8)), outs, line)
            case "cdc_dedup" =>
              // cdc_dedup [w] [div] — content-defined chunking dup stats
              val w = pos.lift(0).map(_.toInt).getOrElse(4)
              val dv = pos.lift(1).map(_.toInt).getOrElse(16)
              sinkAndBind(Dedup.cdcChunkStats(in0, col("doc_id"), col("text"), w, dv), outs, line)
            case "stream_drain" =>
              val name = pos.headOption.getOrElse(
                throw ScriptError(line, "stream_drain requires a sink table name"))
              graft.streaming.EventStreams.runToMemory(in0, name,
                org.apache.spark.sql.streaming.OutputMode.Append).stop()
              sinkAndBind(spark.table(name), outs, line)
            case "select" =>
              // select "expr AS name" ... — SQL projection on batch or
              // streaming objects (quoted tokens keep their spaces)
              if (pos.isEmpty)
                throw ScriptError(line, "select requires at least one expression")
              sinkAndBind(in0.selectExpr(pos.map(subst): _*), outs, line)
            case "filter" =>
              // filter "sql predicate"
              val pred = pos.headOption.getOrElse(
                throw ScriptError(line, "filter requires a predicate"))
              sinkAndBind(in0.where(expr(subst(pred))), outs, line)
            case "overlap_sketch" =>
              // overlap_sketch [n] [k] — pairwise KMV-synopsis overlap
              // matrix on (source, text): the sketched twin of `overlap`
              val n = pos.lift(0).map(_.toInt).getOrElse(3)
              val k = pos.lift(1).map(_.toInt).getOrElse(256)
              sinkAndBind(Dedup.sourceOverlapSketch(in0, col("source"),
                col("text"), n, k), outs, line)
            case "stream_asof" =>
              // stream-stream AS-OF (temporal) join: purchases enrich
              // with the latest same-user click version (TWS)
              sinkAndBind(graft.streaming.TwsOperators.streamAsOfJoinTws(
                spark, in0), outs, line)
            case "stream_asof_fwd" =>
              // forward direction: earliest click in [ts, ts+tolMin]
              val tolMin = pos.headOption.map(_.toLong).getOrElse(30L)
              sinkAndBind(graft.streaming.TwsOperators.streamAsOfJoinFwdTws(
                spark, in0, tolUs = tolMin * 60000000L), outs, line)
            case "write_edge_stream" =>
              // write_edge_stream path — drain a streaming (src, dst)
              // object into the connector's exactly-once epoch sink
              val target = pos.headOption.getOrElse(
                throw ScriptError(line, "write_edge_stream requires a target path"))
              val q = in0.writeStream.format("graft.sources.EdgeListSource")
                .option("checkpointLocation", s"${target}_ckpt")
                .outputMode("append").start(target)
              q.processAllAvailable(); q.stop()
            case _ => throw ScriptError(line, s"unknown command '$cmd'")
          }
      }
    }

    while (pc < prog.length) {
      exec(prog(pc))
      pc += 1
    }
    objects.toMap
  }

  /** whitespace split, double-quoted strings kept whole */
  private def tokenize(line: String): Seq[String] = {
    val out = mutable.Buffer[String]()
    var i = 0
    while (i < line.length) {
      if (line(i).isWhitespace) i += 1
      else if (line(i) == '"') {
        val j = line.indexOf('"', i + 1)
        out += line.substring(i + 1, if (j < 0) line.length else j)
        i = if (j < 0) line.length else j + 1
      } else {
        var j = i
        while (j < line.length && !line(j).isWhitespace) j += 1
        out += line.substring(i, j)
        i = j
      }
    }
    out.toSeq
  }
}
