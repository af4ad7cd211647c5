package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extension class must wire the SQL function and the planner
  * strategy into a fresh session with no imperative registration.
  * `spark.sql.extensions` is a STATIC conf read from the SparkContext,
  * which this JVM shares across suites — so the test drives the same
  * extension object through `Builder.withExtensions` (the programmatic
  * twin of the conf; both funnel into the builder's applyExtensions).
  * The default session is cleared for the build and restored after. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("both registration paths give the same SQL functions") {
    import graft.functions.GraftFunctions
    val base = graft.testkit.SparkSpec.session
    // extension-built: a fresh session of the shared context, whose
    // spark.sql.extensions is graft.GraftExtensions; no register call
    val viaExt = base.newSession()
    val bare = org.apache.spark.sql.graftbridge.BareSession.of(base)
    val names = GraftFunctions.sqlFunctions.map(_.name)
    // the bare session knows none of them beyond Spark's own built-ins
    // (Spark ships an unrelated DataSketches `hll_union`, which both
    // paths shadow)
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    names.filterNot(n => builtin.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      .foreach(n => assert(!bare.catalog.functionExists(n), s"$n in a bare session"))
    GraftFunctions.register(bare)
    // one fixed input; one probe query per table row
    val t = "(VALUES ('martha', CAST(7 AS BIGINT)), ('marhta', CAST(1000003 AS BIGINT)), " +
      "('e\u0301', CAST(-2 AS BIGINT)), ('abc', CAST(42 AS BIGINT))) AS t(x, v)"
    val regs = s"SELECT v, hll60_regs(hash60(x)) AS r FROM $t GROUP BY v"
    val probes = Map(
      "cosine_sim" -> (s"SELECT cosine_sim(array(CAST(v AS FLOAT), CAST(1.0 AS FLOAT)), " +
        s"array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) FROM $t"),
      "hash60" -> s"SELECT hash60(x), hash60(v, x) FROM $t",
      "jaro_winkler" -> s"SELECT jaro_winkler(x, 'martha') FROM $t",
      "normalize_nfc" -> s"SELECT normalize_nfc(x) FROM $t",
      "hll60" -> s"SELECT hll60(hash60(x)) FROM $t",
      "hll60_regs" -> s"SELECT hex(hll60_regs(hash60(x))) FROM $t",
      "hll_union" -> s"SELECT hex(hll_union(r)) FROM ($regs)",
      "hll_union_est" -> s"SELECT hll_union_est(r) FROM ($regs)",
      "hdrq" -> s"SELECT hdrq(v, array(0.0, 0.5, 1.0)) FROM $t",
      "lgq" -> s"SELECT lgq(v, array(0.0, 0.5, 1.0)) FROM $t",
      "kmv" -> s"SELECT kmv(hash60(x), 2) FROM $t")
    assert(probes.keySet == names.toSet, "every table row needs a probe")
    for (n <- names) {
      def run(s: SparkSession) = s.sql(probes(n)).collect().map(_.toString).sorted.toSeq
      val (a, b) = (run(viaExt), run(bare))
      assert(a.nonEmpty && a == b, s"$n: extension $a vs registered $b")
    }
  }

  test("GraftExtensions wires functions and strategy at session build") {
    // Initialize the SHARED testkit session (and thus the SparkContext)
    // FIRST: spark.sql.extensions is a static conf read from the
    // SparkContext at session build, so if THIS suite created the
    // context (via withExtensions, no conf string), every later suite's
    // conf-based extensions would silently not apply — order-dependent
    // failures in the rule specs (caught when FuzzyJoinRewriteSpec ran
    // second and its rule never fired).
    graft.testkit.SparkSpec.session
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // function injection: SQL works with no GraftFunctions.register call
      val c = spark.sql(
        "SELECT cosine_sim(array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      // hash60 from SQL must equal the driver-side derivation
      val h = spark.sql("SELECT hash60('abc') AS h, hash60(7, 'abc') AS hs").head()
      assert(h.getLong(0) == graft.functions.Hashing.hash60Local("abc"))
      assert(h.getLong(1) == graft.functions.Hashing.hash60Local("7|abc"))
      // normalize_nfc injected: decomposed e + combining acute composes
      val nf = spark.sql("SELECT normalize_nfc('e\u0301') AS n").head().getString(0)
      assert(nf == "é")
      // jaro_winkler injected: DuckDB-pinned value (see FuzzyMatchSpec)
      val jw = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS j")
        .head().getDouble(0)
      assert(math.abs(jw - 0.9611111111111111) < 1e-12)
      // non-string args hash their decimal-string rendering (DuckDB
      // parity), not their big-endian binary cast
      val hn = spark.sql(
        "SELECT hash60(CAST(42 AS BIGINT)) AS hi, hash60(CAST(42 AS INT)) AS hj").head()
      assert(hn.getLong(0) == graft.functions.Hashing.hash60Local("42"))
      assert(hn.getLong(1) == graft.functions.Hashing.hash60Local("42"))
      // the sketch aggregates are injected too
      val sk = spark.sql(
        "SELECT hll60(hash60('x')) AS d, element_at(hdrq(CAST(7 AS BIGINT), array(0.5)), 1) AS q, " +
          "element_at(lgq(CAST(7 AS BIGINT), array(0.5)), 1) AS lq").head()
      assert(sk.getDouble(0) > 0.0 && sk.getLong(1) == 7L && sk.getLong(2) == 7L)
      // ... and the register-surface HLL chain: regs → union → estimate
      // must equal the one-shot sketch over the same input
      val hu = spark.sql(
        """SELECT hll_union_est(sk) AS est, hll60(h) AS direct FROM (
          |  SELECT hash60(x) AS h, hll60_regs(hash60(x)) AS sk
          |  FROM VALUES ('a'), ('b'), ('c') t(x) GROUP BY x)""".stripMargin).head()
      assert(hu.getDouble(0) == hu.getDouble(1) && hu.getDouble(0) > 0.0)
      // strategy injection: present in the session's planner without any
      // Bridge.addStrategy call on this session
      assert(spark.sessionState.planner.strategies.contains(graft.plans.TopKStrategy))
      // TABLE function injection: the R-MAT generator as a relation —
      // must equal the Column-API path edge for edge
      val viaTvf = spark.sql("SELECT src, dst FROM graft_rmat(5, 100, 7)")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaApi = graft.graph.RMat.generate(spark, 5, 100L, 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaTvf == viaApi && viaTvf.nonEmpty)
      // non-literal arguments fail loudly at analysis
      val err = intercept[Exception] {
        spark.sql("SELECT * FROM range(3), LATERAL graft_rmat(5, id, 7)").collect()
      }
      assert(err.getMessage.contains("literal") ||
        err.getMessage.toLowerCase.contains("resolve"), err.getMessage.take(200))
      // graft_edges: the connector as a pure-SQL relation, with the
      // grouped pushdown still reaching the scan through the TVF path
      val dir = java.nio.file.Files.createTempDirectory("graft_tvf_edges")
      dir.toFile.deleteOnExit()
      java.nio.file.Files.write(dir.resolve("e.txt"),
        "1 2\n1 3\n2 3\n2 4\n".getBytes)
      val q = spark.sql(
        s"SELECT src, count(*) AS n FROM graft_edges('$dir', 64) GROUP BY src")
      val desc = graft.plans.PlanWalk.nodes(q.queryExecution.executedPlan)
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }.get.scan.description()
      assert(desc.contains("PushedGroupBy: [src]"), desc)
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L), (2L, 2L)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
