package graft.sources


import graft.testkit.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graftbridge.Bridge

/** The connector as a SQL DML target: the path-based catalog resolves
  * CREATE / INSERT / SELECT / DELETE / RENAME / DROP, and deletes are
  * pushed to [[EdgeListTable]]'s SupportsDeleteV2 (file rewrite +
  * atomic rename) — never a scan-and-rewrite through Spark. */
class EdgeListCatalogSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft", "graft.sources.EdgeListCatalog")

  private def freshTable(): String = {
    val dir = Bridge.scratchDir("graftcat").toPath.resolve("edges")
    s"graft.`$dir`"
  }

  test("CREATE / INSERT / SELECT / DELETE / DROP round trip in SQL") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2), (1, 3), (2, 3), (5, 1)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 4L)

    spark.sql(s"DELETE FROM $t WHERE src = 1")
    assert(spark.sql(s"SELECT src, dst FROM $t").as[(Long, Long)]
      .collect().toSet === Set((2L, 3L), (5L, 1L)))

    // compound conjunction: IN + range, both pushed
    spark.sql(s"INSERT INTO $t VALUES (7, 8), (9, 10), (7, 10)")
    spark.sql(s"DELETE FROM $t WHERE dst IN (8, 10) AND src >= 8")
    assert(spark.sql(s"SELECT src, dst FROM $t").as[(Long, Long)]
      .collect().toSet === Set((2L, 3L), (5L, 1L), (7L, 8L), (7L, 10L)))

    // unconditional delete empties but keeps the table
    spark.sql(s"DELETE FROM $t")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 0L)

    spark.sql(s"DROP TABLE $t")
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $t").collect())
  }

  test("untranslatable delete predicate falls back to the rewrite path") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2), (5, 7)")
    // src + dst has no v1 translation -> canDeleteWhere refuses -> Spark
    // routes through the group-based row-level operation instead
    spark.sql(s"DELETE FROM $t WHERE src + dst = 3")
    assert(spark.sql(s"SELECT src, dst FROM $t").as[(Long, Long)]
      .collect().toSeq === Seq((5L, 7L)))
  }

  test("SQL UPDATE rewrites matching rows, keeps the rest") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 2), (1, 3), (4, 5)")
    spark.sql(s"UPDATE $t SET dst = dst + 100 WHERE src = 1")
    assert(spark.sql(s"SELECT src, dst FROM $t").as[(Long, Long)]
      .collect().toSet === Set((1L, 102L), (1L, 103L), (4L, 5L)))
    // zone maps regenerate with the rewrite
    val files = EdgeListSource.listFiles(
      t.stripPrefix("graft.`").stripSuffix("`"))
    assert(files.nonEmpty && files.flatMap(EdgeStats.read).nonEmpty)
  }

  test("SQL MERGE INTO: update, delete, and insert clauses") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(
      s"""MERGE INTO $t t
         |USING (SELECT 1L AS src, 111L AS dst, 'u' AS op
         |       UNION ALL SELECT 2L, 0L, 'd'
         |       UNION ALL SELECT 9L, 99L, 'i') AS s
         |ON t.src = s.src
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET dst = s.dst
         |WHEN NOT MATCHED THEN INSERT (src, dst) VALUES (s.src, s.dst)
         |""".stripMargin)
    assert(spark.sql(s"SELECT src, dst FROM $t").as[(Long, Long)]
      .collect().toSet === Set((1L, 111L), (3L, 30L), (9L, 99L)))
  }

  test("delete rewrites only files with matches (atomic, others untouched)") {
    val root = Bridge.scratchDir("graftcat").toPath.resolve("edges").toString
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1)
      .write.format("graft.sources.EdgeListSource").mode("append").save(root)
    Seq((3L, 4L)).toDF("src", "dst").coalesce(1)
      .write.format("graft.sources.EdgeListSource")
      .mode("append").save(root)
    val before = EdgeListSource.listFiles(root)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(before.size === 2)
    Thread.sleep(50) // ensure a rewrite would bump mtime
    spark.sql(s"DELETE FROM graft.`$root` WHERE src = 3")
    val after = EdgeListSource.listFiles(root)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after.keySet === before.keySet) // same file identities
    val untouched = before.filter { case (n, m) => after(n) == m }
    assert(untouched.size === 1) // the src=1 file was not rewritten
    assert(spark.read.format("graft.sources.EdgeListSource").load(root)
      .as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
  }

  test("_file metadata column exposes row provenance") {
    val root = Bridge.scratchDir("graftcat").toPath.resolve("edges").toString
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1)
      .write.format("graft.sources.EdgeListSource").mode("append").save(root)
    Seq((3L, 4L)).toDF("src", "dst").coalesce(1)
      .write.format("graft.sources.EdgeListSource").mode("append").save(root)
    val got = spark.sql(s"SELECT src, _file FROM graft.`$root`")
      .as[(Long, String)].collect().toMap
    assert(got.keySet === Set(1L, 3L))
    assert(got(1L) !== got(3L)) // two files, two provenances
    val names = EdgeListSource.listFiles(root).map(_.getAbsolutePath).toSet
    assert(got.values.toSet === names)
  }

  test("CREATE rejects a wrong schema; RENAME moves the directory") {
    val dir = Bridge.scratchDir("graftcat").toPath
    val bad = s"graft.`${dir.resolve("bad")}`"
    intercept[Exception](
      spark.sql(s"CREATE TABLE $bad (a INT, b STRING)"))
    val t = s"graft.`${dir.resolve("t1")}`"
    val t2 = s"graft.`${dir.resolve("t2")}`"
    spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (8, 9)")
    spark.sql(s"ALTER TABLE $t RENAME TO `${dir.resolve("t2")}`")
    assert(spark.sql(s"SELECT src, dst FROM $t2").as[(Long, Long)]
      .collect().toSeq === Seq((8L, 9L)))
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $t").collect())
  }

  test("named tables under a warehouse: namespaces, listing, rename, errors") {
    val wh = Bridge.scratchDir("graftwh")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    try {
      spark.sql("CREATE NAMESPACE graft.mart")
      intercept[AnalysisException](spark.sql("CREATE NAMESPACE graft.mart"))
      spark.sql("CREATE TABLE graft.mart.edges (src BIGINT, dst BIGINT)")
      spark.sql("INSERT INTO graft.mart.edges VALUES (1, 2), (3, 4)")
      assert(spark.sql("SELECT CAST(sum(src + dst) AS BIGINT)" +
        " FROM graft.mart.edges").head.getLong(0) === 10L)
      // the name resolved UNDER the warehouse, not cwd
      assert(new java.io.File(wh, "mart/edges").isDirectory)
      assert(spark.sql("SHOW TABLES IN graft.mart")
        .select("tableName").as[String].collect().toSeq === Seq("edges"))
      // a CREATE TABLE with no prior CREATE NAMESPACE marks its parent
      spark.sql("CREATE TABLE graft.raw.e2 (src BIGINT, dst BIGINT)")
      assert(spark.sql("SHOW NAMESPACES IN graft")
        .select("namespace").as[String].collect().toSet === Set("mart", "raw"))
      // missing-table and missing-namespace errors
      intercept[AnalysisException](
        spark.sql("SELECT * FROM graft.mart.nope").collect())
      intercept[AnalysisException](
        spark.sql("SHOW TABLES IN graft.nowhere").collect())
      // rename by name stays inside the warehouse
      spark.sql("ALTER TABLE graft.mart.edges RENAME TO mart.edges2")
      assert(spark.sql("SELECT src, dst FROM graft.mart.edges2")
        .as[(Long, Long)].collect().toSet === Set((1L, 2L), (3L, 4L)))
      intercept[AnalysisException](
        spark.sql("SELECT * FROM graft.mart.edges").collect())
      spark.sql("DROP TABLE graft.mart.edges2")
      assert(spark.sql("SHOW TABLES IN graft.mart").count() === 0L)
      // non-empty namespace refuses a bare DROP, CASCADE removes it
      intercept[AnalysisException](spark.sql("DROP NAMESPACE graft.raw"))
      spark.sql("DROP NAMESPACE graft.raw CASCADE")
      assert(!new java.io.File(wh, "raw").exists())
      // the path-literal face is untouched by the warehouse conf
      val abs = Bridge.scratchDir("graftcat").toPath.resolve("absedges")
      spark.sql(s"CREATE TABLE graft.`$abs` (src BIGINT, dst BIGINT)")
      assert(new java.io.File(abs.toString).isDirectory)
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }

  test("PARTITIONED BY (bucket(n, src)) at CREATE: inserts ride the layout") {
    val wh = Bridge.scratchDir("graftwh")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    try {
      spark.sql("CREATE TABLE graft.db.be (src BIGINT, dst BIGINT)" +
        " PARTITIONED BY (bucket(4, src))")
      val dir = new java.io.File(wh, "db/be")
      assert(BucketSpecIO.read(dir.getPath) === Some(("src", 4)))
      assert(BucketSpecIO.sortedOf(dir.getPath))
      spark.sql("INSERT INTO graft.db.be" +
        " SELECT id AS src, id * 7 AS dst FROM range(100)")
      // every data file carries its bucket tag and the sorted flag held
      val files = EdgeListSource.listFiles(dir.getPath)
      assert(files.nonEmpty)
      assert(files.forall(f =>
        BucketSpecIO.bucketOf(f.getName).exists(_ < 4)))
      assert(BucketSpecIO.sortedOf(dir.getPath))
      assert(spark.sql("SELECT count(*) FROM graft.db.be")
        .head.getLong(0) === 100L)
      // only the bucket transform is accepted
      intercept[Exception](spark.sql(
        "CREATE TABLE graft.db.bad (src BIGINT, dst BIGINT)" +
          " PARTITIONED BY (bucket(4, src), bucket(4, dst))"))
    } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
  }
}
