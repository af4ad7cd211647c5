package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, NamespaceAlreadyExistsException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `TableCatalog` over [[EdgeListSource]] directories with two
  * addressing faces and no metastore:
  *
  *  - **path literals** — a backquoted absolute path IS the table:
  * {{{
  *   Bridge.cloneSession(spark, EdgeListCatalog.Mount)   -- then, on that copy:
  *   CREATE TABLE graft.`/data/edges` (src BIGINT, dst BIGINT)
  *   INSERT INTO  graft.`/data/edges` VALUES (1, 2)
  *   SELECT ...   FROM graft.`/data/edges`
  *   DELETE FROM  graft.`/data/edges` WHERE src = 1     -- SupportsDeleteV2
  *   DROP TABLE   graft.`/data/edges`
  * }}}
  *  - **named tables** — with `spark.sql.catalog.graft.warehouse=/wh`,
  *    dotted identifiers resolve UNDER the warehouse (`graft.db.edges`
  *    → `/wh/db/edges`), which is what a real user types first
  *    (`SELECT … FROM db.edges`, never a path) — the reference's named
  *    MR-object layer (`oink/object.cpp:96-295` binds names to
  *    inputs/outputs the same way). Namespaces are directories
  *    ([[SupportsNamespaces]]: CREATE/SHOW/DROP NAMESPACE, `USE`),
  *    `SHOW TABLES IN graft.db` lists the directory, and every face —
  *    SPJ layouts (`PARTITIONED BY (bucket(n, src))` at CREATE), DML,
  *    time travel — rides the same named identity.
  *
  * The warehouse conf is read dynamically (SQLConf) so setting it
  * after the catalog instance was cached still applies. Nothing else
  * is cached — every load re-lists the directory, so concurrent
  * writers (the streaming sink, compaction) are always seen at their
  * latest committed state. The schema is (src BIGINT, dst BIGINT),
  * optionally + weight DOUBLE or + label BIGINT chosen at CREATE — the
  * extra-column choice persists as a `_graft_meta` sidecar so later
  * loads resolve it with no read option. */
class EdgeListCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName = "graft"
  private var initWarehouse: Option[String] = None
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initWarehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catName

  /** Warehouse root for NAMED identifiers, resolved per-call from the
    * session conf (the catalog instance is cached by Spark's
    * CatalogManager on first use — a static capture would ignore a
    * warehouse set afterwards). Absent = named tables resolve
    * cwd-relative, the pre-warehouse behavior. */
  private def warehouse: Option[String] =
    Option(org.apache.spark.sql.internal.SQLConf.get.getConfString(
      s"spark.sql.catalog.$catName.warehouse", null)).orElse(initWarehouse)

  /** FunctionCatalog face — serves the ONE function the storage layer
    * defines: `bucket(n, key)`, the hash behind bucketed layouts. This
    * is what lets Catalyst resolve a scan's reported `bucket(n, col)`
    * transform ([[EdgeListScan.outputPartitioning]]) and prove two
    * bucketed tables share a layout, i.e. plan their join with zero
    * Exchange (storage-partitioned join). */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def resolve(rel: String): String =
    if (new java.io.File(rel).isAbsolute) rel
    else warehouse.map(w => s"$w/$rel").getOrElse(rel)

  private def pathOf(ident: Identifier): String =
    resolve((ident.namespace() :+ ident.name()).mkString("/"))

  /** Namespace marker: distinguishes a database directory from a table
    * directory under the warehouse (both are just directories; a
    * freshly CREATEd table is even empty). Written by CREATE NAMESPACE
    * and for the implicit parents a CREATE TABLE mkdirs. */
  private val NsMarker = "_graft_namespace"
  private def nsDir(namespace: Array[String]): java.io.File =
    new java.io.File(resolve(namespace.mkString("/")))

  /** Named tables under the warehouse: the namespace's subdirectories
    * that are not metadata (`_`-prefixed) and not namespaces. Without a
    * warehouse there is no root to enumerate — tables are paths. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (warehouse.isEmpty && namespace.isEmpty) return Array.empty
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    d.listFiles().filter(f => f.isDirectory &&
        !f.getName.startsWith("_") &&
        !new java.io.File(f, NsMarker).isFile)
      .map(f => Identifier.of(namespace, f.getName)).sortBy(_.name())
  }

  // ---- SupportsNamespaces: databases are warehouse directories ----

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (warehouse.isEmpty) return Array.empty
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    d.listFiles().filter(f => f.isDirectory &&
        new java.io.File(f, NsMarker).isFile)
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (namespace.isEmpty || !nsDir(namespace).isDirectory)
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap[String, String]()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || nsDir(namespace).isDirectory

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    if (new java.io.File(d, NsMarker).isFile)
      throw new NamespaceAlreadyExistsException(namespace)
    require(d.isDirectory || d.mkdirs(),
      s"cannot create namespace directory $d")
    java.nio.file.Files.write(new java.io.File(d, NsMarker).toPath,
      Array.emptyByteArray)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "edge-list namespaces are plain directories and carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    if (!cascade && d.listFiles().exists(f =>
        f.isDirectory && !f.getName.startsWith("_")))
      throw new NonEmptyNamespaceException(namespace)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(d); true
  }

  /** The persisted extra-column choice of a catalog-created table
    * (`_graft_meta` holding "weight" or "label"), so SQL resolves a
    * weighted/labeled table without any read option. Absent file =
    * plain (src, dst) — every pre-existing table. */
  private def metaOf(p: String): (Boolean, Boolean) = {
    val m = new java.io.File(p, "_graft_meta")
    if (!m.isFile) (false, false)
    else new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim match {
      case "weight" => (true, false)
      case "label" => (false, true)
      case other => throw new IllegalStateException(
        s"corrupt _graft_meta in $p: '$other' (expected weight|label)")
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!new java.io.File(p).exists()) throw new NoSuchTableException(ident)
    val (w, l) = metaOf(p)
    new EdgeListTable(p, withWeight = w, withLabel = l)
  }

  /** SQL time travel — `SELECT … FROM graft.`path` VERSION AS OF n`:
    * pins the scan to snapshot n of the table's `_graft_log` manifest
    * history (every connector commit records one). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!new java.io.File(p).exists()) throw new NoSuchTableException(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"edge-list snapshot versions are integers; got '$version'")
    }
    val (w, l) = metaOf(p)
    new EdgeListTable(p, versionAsOf = Some(v), withWeight = w,
      withLabel = l)
  }

  /** SQL `TIMESTAMP AS OF` — resolves to the latest snapshot committed
    * at or before the timestamp (micros), then pins it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    if (!new java.io.File(p).exists()) throw new NoSuchTableException(ident)
    val (w, l) = metaOf(p)
    new EdgeListTable(p, versionAsOf =
      Some(EdgeLog.versionAt(new java.io.File(p), timestamp)),
      withWeight = w, withLabel = l)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val f = new java.io.File(pathOf(ident))
    if (f.exists()) throw new TableAlreadyExistsException(ident)
    // `PARTITIONED BY (bucket(n, src|dst))` — the SPJ layout declared
    // at CREATE: the sidecar lands before any row does, so every later
    // INSERT fans out bucketed (and sorted — an empty table trivially
    // satisfies the all-files-sorted contract, and the writer's
    // required ordering maintains it), and named-table joins on the
    // key plan with zero Exchange from the first insert on.
    val bucketSpecOpt: Option[(String, Int)] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Int]
        }
        val cols = t.references.flatMap(_.fieldNames)
        require(n.exists(_ >= 1) &&
            BucketSpecIO.validCols(cols.mkString(",")),
          "edge-list bucketing is bucket(<n>, src|dst) or the compound" +
            " bucket(<n>, src, dst); got " + t.describe)
        Some((cols.mkString(","), n.get))
      case other => throw new IllegalArgumentException(
        "edge-list tables support only PARTITIONED BY" +
          " (bucket(n, src|dst) | bucket(n, src, dst));" +
          s" got ${other.map(_.describe).mkString(", ")}")
    }
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val plain = schema.isEmpty ||
      (schema.fieldNames.toSeq == Seq("src", "dst") &&
        schema.fields.forall(_.dataType == LongType))
    val weighted = schema.fieldNames.toSeq == Seq("src", "dst", "weight") &&
      schema.fields.take(2).forall(_.dataType == LongType) &&
      schema.fields(2).dataType == DoubleType
    val labeled = schema.fieldNames.toSeq == Seq("src", "dst", "label") &&
      schema.fields.forall(_.dataType == LongType)
    require(plain || weighted || labeled,
      "edge-list tables have schema (src BIGINT, dst BIGINT)" +
        " [, weight DOUBLE | label BIGINT]; " +
        s"got ${schema.simpleString}")
    require(f.mkdirs(), s"cannot create edge-list table directory $f")
    // a NAMED create under the warehouse marks its implicit parent
    // namespaces (CREATE TABLE graft.db.t without CREATE NAMESPACE db),
    // so SHOW NAMESPACES and listTables stay consistent with use
    if (warehouse.isDefined && ident.namespace().nonEmpty)
      ident.namespace().inits.toSeq.reverse.filter(_.nonEmpty).foreach { ns =>
        val marker = new java.io.File(nsDir(ns), NsMarker)
        if (!marker.isFile)
          java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
    // persist the extra-column choice so loadTable resolves it with no
    // read option (pre-existing plain tables simply have no meta file)
    if (weighted || labeled)
      java.nio.file.Files.write(new java.io.File(f, "_graft_meta").toPath,
        (if (weighted) "weight" else "label")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the layout starts sorted (compound: lexicographically on both
    // keys) — an empty table trivially satisfies the contract and the
    // writer's required ordering maintains it on every insert
    bucketSpecOpt.foreach(BucketSpecIO.write(f, _, sorted = true))
    new EdgeListTable(f.getPath, withWeight = weighted, withLabel = labeled)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "edge-list tables have a fixed schema, chosen at CREATE " +
        "((src, dst) [+ weight | label])")

  override def dropTable(ident: Identifier): Boolean = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val f = new java.io.File(pathOf(ident))
    if (!f.exists()) false else { rm(f); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new java.io.File(pathOf(oldIdent))
    val to = new java.io.File(pathOf(newIdent))
    if (!from.exists()) throw new NoSuchTableException(oldIdent)
    if (to.exists()) throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(from.toPath, to.toPath)
    ()
  }
}

object EdgeListCatalog {
  /** The conf that mounts this catalog as `graft`. */
  val Mount: (String, String) = "spark.sql.catalog.graft" -> classOf[EdgeListCatalog].getName

  /** [[Mount]] plus the two confs a storage-partitioned join over the
    * catalog's bucketed tables needs. */
  val SpjConfs: Seq[(String, String)] = Seq(Mount,
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
}
