package graft.sources.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.icelite.{CommitReq, IceLite, TableRef}
import graft.sources.{IceLiteSource, IceLiteTable}

/** The REST-ATTACHED catalog — how a second engine (or a second
  * Spark cluster) mounts a graft warehouse with nothing but a uri,
  * the way Trino attaches to the reference's Iceberg REST catalog
  * (iceberg-template.properties:8-9: `iceberg.catalog.type=rest` +
  * uri; storage shared underneath). Register:
  *
  * {{{
  *   spark.sql.catalog.remote     = graft.sources.rest.IceLiteRestCatalog
  *   spark.sql.catalog.remote.uri = http://host:port/v1
  * }}}
  *
  * METADATA travels over HTTP; DATA is read from the shared
  * warehouse (the reference's engines share MinIO the same way).
  * loadTable fetches the current manifest and SPOOLS it as a local
  * single-JSON manifest version file keyed by the server's version —
  * re-loads of an unchanged table are one GET plus a cache hit, a
  * changed table spools the newer version beside the old (highest
  * wins, the same rule the engine itself uses). The spool's `data/`
  * and `deletes/` are symlinks into the shared warehouse, so every
  * relative path in the manifest — flat, partitioned, MoR sidecars —
  * resolves without rewriting (the local-FS analogue of the absolute
  * object-store URIs real Iceberg manifests carry).
  *
  * Writes (d76): the FULL DML surface works over the wire, through
  * one division of labor — executors stage (and, for partitioned
  * layouts, promote) parquet straight into the shared warehouse
  * through the data/ mount, then ONE POST asks the catalog service
  * to CAS-commit the result (Iceberg's REST commit: data never
  * proxies through the catalog, the metadata authority never leaves
  * it). That covers INSERT INTO, INSERT OVERWRITE (truncate, static
  * and dynamic partition modes), row-level DELETE/UPDATE/MERGE (the
  * group-based rewrite runs client-side against the spool, the swap
  * commits server-side), atomic CTAS/RTAS (StagingTableCatalog),
  * CREATE TABLE … PARTITIONED BY, DROP TABLE, and view DDL — the
  * operations a remote dbt run issues against the reference's shared
  * catalog (README.md:79-98). Concurrent remote and local writers
  * rebase through the same server-side CAS.
  *
  * Streaming reads (s24) follow the LIVE table through a
  * version-watch: the micro-batch stream re-resolves the spool
  * against the catalog service before every offset/plan, so a remote
  * commit surfaces in the next batch — the spool is a cache, never a
  * point-in-time lie. Offsets are snapshot ids, identical to the
  * owning catalog's stream.
  */
class IceLiteRestCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog
  with graft.sources.GraftFunctionCatalog
  with graft.sources.SupportsPartitionFieldDdl {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)
  private var catalogName: String = _
  private var uri: String = _
  private var spoolRoot: Path = _
  private var warehouse: String = _
  private val http = HttpClient.newHttpClient()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    uri = options.get("uri")
    require(uri != null, s"catalog '$name' needs spark.sql.catalog.$name.uri")
    uri = uri.stripSuffix("/")
    spoolRoot = Option(options.get("spool")).map(Paths.get(_))
      .getOrElse(graft.GraftTmp.dir(s"graft_rest_spool_$name"))
    warehouse = (parse(get("/config")) \ "warehouse")
      .asInstanceOf[org.json4s.JString].s
  }

  override def name(): String = catalogName

  private def parse(s: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(s)

  private def get(path: String): String = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(uri + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) throw new RestCatalogException(
      resp.statusCode(), s"GET $path -> ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  private def post(path: String, body: String = ""): String =
    RestCommitClient.post(http, uri + path, body)

  /** POST face for the procedure layer (d80). */
  private[rest] def postPath(path: String, body: String): String =
    post(path, body)

  /** Parse a procedure's 'ns.t' table argument. */
  private[rest] def splitTable(table: String): (String, String) = {
    val parts = table.split('.')
    require(parts.length == 2, s"expected 'namespace.table', got '$table'")
    (parts(0), parts(1))
  }

  private def delete(path: String): String = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(uri + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) throw new RestCatalogException(
      resp.statusCode(), s"DELETE $path -> ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    (parse(get("/namespaces")) \ "namespaces")
      .extract[Seq[String]].map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && listNamespaces().exists(_.sameElements(namespace))

  // d90: same catalog FUNCTIONS as the owning catalog, via the shared
  // GraftFunctionCatalog mixin — the transform resolution for
  // storage-partitioned joins works identically through the wire face
  // (the functions are client-side semantics of the shared write
  // layout, nothing to fetch)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    post(s"/namespaces/${namespace.head}")
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("icelite namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    val suffix = if (cascade) "?cascade=1" else ""
    (parse(delete(s"/namespaces/${namespace.head}$suffix")) \ "dropped")
      .extract[Boolean]
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    try (parse(get(s"/namespaces/${namespace.head}/tables")) \ "tables")
      .extract[Seq[String]].map(Identifier.of(namespace, _)).toArray
    catch { case e: RestCatalogException if e.code == 404 =>
      throw new NoSuchNamespaceException(namespace) }
  }

  override def tableExists(ident: Identifier): Boolean =
    try { probeVersion(ident); true }
    catch { case _: NoSuchTableException => false }

  /** Existence/version probe: ONE pointer GET, no segment fetches, no
    * spool writes — what an existence check (or a staged-create
    * guard) actually needs. */
  private def probeVersion(ident: Identifier): Long = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    val ns = ident.namespace.head
    val body =
      try parse(get(s"/namespaces/$ns/tables/${ident.name}?wire=sharded"))
      catch { case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchTableException(ident) }
    (body \ "version").extract[Long]
  }

  /** Fetch the current manifest over HTTP and spool it locally keyed
    * by the server's version; returns the spool TableRef. Retries
    * from the pointer when a referenced segment was swept between the
    * pointer GET and the segment GET (the re-resolve IceLite
    * .segmentWire's contract names). */
  private def spoolManifest(ident: Identifier): TableRef =
    spoolManifestVersioned(ident)._1

  private[rest] def spoolManifestVersioned(ident: Identifier): (TableRef, Long) = {
    var last: RestCatalogException = null
    (1 to 3).foreach { _ =>
      try return spoolManifestOnce(ident)
      catch { case e: RestCatalogException if e.code == 404 => last = e }
    }
    throw last
  }

  private def spoolManifestOnce(ident: Identifier): (TableRef, Long) = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    val ns = ident.namespace.head
    val body =
      try parse(get(s"/namespaces/$ns/tables/${ident.name}?wire=sharded"))
      catch { case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchTableException(ident) }
    val version = (body \ "version").extract[Long]
    // sharded wire (d77): the pointer's raw bytes + its segment
    // names; legacy servers send the assembled single JSON instead —
    // both spool verbatim (decodeManifest reads either layout)
    val manifestJson = (body \ "pointer") match {
      case org.json4s.JString(p) => p
      case _ => (body \ "manifest").extract[String]
    }
    val segments = (body \ "segments") match {
      case org.json4s.JArray(_) => (body \ "segments").extract[Seq[String]]
      case _ => Nil
    }
    val spool = TableRef(spoolRoot.toString, ns, ident.name)
    Files.createDirectories(spool.dir)
    val mf = spool.dir.resolve(f"manifest.v$version%08d.json")
    // STALE-INCARNATION detection, BEFORE any fetch lands in the
    // spool. A DROP + re-CREATE restarts the server's version
    // counter, so a dead incarnation shows up either as a spool max
    // version ABOVE the server's current one (highest-wins would
    // resurrect the dropped table) or as same-version CONTENT drift
    // (the new incarnation reached the old count). Either way: wipe.
    val spoolMaxAbove = IceLite.listDir(Files.list(spool.dir))(_
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("manifest.v") =>
        n.stripPrefix("manifest.v").stripSuffix(".json").toLong }
      .maxOption.exists(_ > version))
    val contentDrift = Files.exists(mf) && Files.readString(mf) != manifestJson
    if (spoolMaxAbove || contentDrift) {
      wipeSpool(spool)
      Files.createDirectories(spool.dir)
    }
    // shared-storage mounts: every relative data/delete path in the
    // manifest resolves through these links (object-store deployments
    // carry absolute URIs instead and need no mount)
    val serverTable = Paths.get(warehouse, ns, ident.name)
    Seq("data", "deletes").foreach { d =>
      val link = spool.dir.resolve(d)
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        Files.createDirectories(serverTable.resolve(d))
        try Files.createSymbolicLink(link, serverTable.resolve(d))
        catch { case _: java.nio.file.FileAlreadyExistsException => () } // racing loader won
      }
    }
    // fetch only the segments this spool has never seen (immutable,
    // content-named — the O(delta) half of the wire), and land them
    // BEFORE the pointer so no concurrent reader of the spool can
    // decode a pointer whose chain is missing
    if (segments.nonEmpty) {
      val metaDir = spool.dir.resolve("meta")
      Files.createDirectories(metaDir)
      segments.filterNot(n => Files.exists(metaDir.resolve(n))).foreach { n =>
        val raw = get(s"/namespaces/$ns/tables/${ident.name}/segments/$n")
        val tmp = Files.createTempFile(metaDir, ".seg", ".tmp")
        Files.writeString(tmp, raw)
        try Files.createLink(metaDir.resolve(n), tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally Files.deleteIfExists(tmp)
      }
    }
    if (!Files.exists(mf)) {
      val tmp = Files.createTempFile(spool.dir, ".spool", ".tmp")
      Files.writeString(tmp, manifestJson)
      try Files.createLink(mf, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }
    (spool, version)
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables (`t$snapshots` … `t$entries`) fold from the
    // SPOOLED manifest — the attachment's audit surface costs one
    // version GET for an unchanged table, never data pages (the d88
    // trio works from any engine, like Trino's Iceberg connector)
    val dollar = ident.name.lastIndexOf('$')
    if (dollar > 0) {
      val baseIdent = Identifier.of(ident.namespace, ident.name.take(dollar))
      val spool = spoolManifest(baseIdent)
      return graft.sources.IceLiteMetadataTables.load(spool, ident.name,
        ident.name.drop(dollar + 1))
    }
    val spool = spoolManifest(ident)
    // the version-watch hook (s24): streaming reads re-resolve the
    // spool against the catalog service before every manifest read,
    // so remote commits surface in the next micro-batch
    new RestReadTable(spool, IceLiteSource.schemaOf(spool), catalogName,
      ident, uri, http, () => { spoolManifest(ident); () })
  }

  /** Server path (relative to the /v1 base) of a table resource. */
  private def tablePath(ident: Identifier): String =
    s"/namespaces/${ident.namespace.head}/tables/${ident.name}"

  private def refuseWrite(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op refused: catalog '$catalogName' is a REST attachment; this " +
        "operation mutates state the commit protocol does not carry — " +
        "run it through the warehouse's owning catalog (IceLiteCatalog)")

  // ---- views over the wire: the owning engine's dbt models are
  // queryable AND maintainable from this attachment — definitions are
  // fetched per read (a re-run's CREATE OR REPLACE flows through),
  // and view DDL posts the definition to the catalog service, which
  // applies the same one-winner CREATE claim / atomic REPLACE the
  // owning catalog uses (d76/d78). ----

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    try (parse(get(s"/namespaces/${ns.head}/views")) \ "views")
      .extract[Seq[String]].map(Identifier.of(ns, _)).toArray
    catch { case e: RestCatalogException if e.code == 404 =>
      throw new NoSuchNamespaceException(ns) }
  }

  override def viewExists(ident: Identifier): Boolean =
    try { loadView(ident); true }
    catch { case _: NoSuchViewException => false }

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    val vd =
      try Serialization.read[graft.sources.ViewDef](
        get(s"/namespaces/${ident.namespace.head}/views/${ident.name}"))
      catch { case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchViewException(ident) }
    graft.sources.IceLiteViews.asSparkView(ident, vd)
  }

  private def putView(ident: Identifier, vd: graft.sources.ViewDef,
      replace: Boolean, orCreate: Boolean): Unit = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    try post(s"/namespaces/${ident.namespace.head}/views/${ident.name}",
      Serialization.write(ViewPutReq(replace, orCreate, vd)))
    catch {
      case e: RestCatalogException if e.code == 409 =>
        if (e.getMessage.contains("is a table"))
          throw new TableAlreadyExistsException(ident)
        else throw new ViewAlreadyExistsException(ident)
      case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchViewException(ident)
    }
    ()
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo): org.apache.spark.sql.connector.catalog.View = {
    val vd = graft.sources.IceLiteViews.defOf(info)
    putView(info.ident, vd, replace = false, orCreate = false)
    graft.sources.IceLiteViews.asSparkView(info.ident, vd)
  }

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val vd = graft.sources.IceLiteViews.defOf(info)
    putView(info.ident, vd, replace = true, orCreate = orCreate)
    graft.sources.IceLiteViews.asSparkView(info.ident, vd)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*): org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val cur =
      try Serialization.read[graft.sources.ViewDef](
        get(s"/namespaces/${ident.namespace.head}/views/${ident.name}"))
      catch { case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchViewException(ident) }
    val next = changes.foldLeft(cur) { (v, ch) => ch match {
      case set: ViewChange.SetProperty =>
        v.copy(properties = v.properties + (set.property -> set.value))
      case rm: ViewChange.RemoveProperty =>
        v.copy(properties = v.properties - rm.property)
      case other => throw new UnsupportedOperationException(
        s"icelite ALTER VIEW supports SET/UNSET TBLPROPERTIES only, got $other")
    }}
    putView(ident, next, replace = true, orCreate = true)
    graft.sources.IceLiteViews.asSparkView(ident, next)
  }

  override def dropView(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      (parse(delete(s"/namespaces/${ident.namespace.head}/views/${ident.name}")) \
        "dropped").extract[Boolean]

  override def renameView(from: Identifier, to: Identifier): Unit = {
    require(from.namespace.length == 1 && to.namespace.length == 1,
      "icelite namespaces are single-level")
    try post(s"/namespaces/${from.namespace.head}/views/${from.name}/rename",
      Serialization.write(ViewRenameReq(to.namespace.head, to.name)))
    catch {
      case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchViewException(from)
      case e: RestCatalogException if e.code == 409 =>
        if (e.getMessage.contains("is a table"))
          throw new TableAlreadyExistsException(to)
        else throw new ViewAlreadyExistsException(to)
    }
    ()
  }

  // ---- table DDL over the wire (d76) ----

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (partitions.isEmpty) {
      // empty flat table with its declared schema in the manifest —
      // one create-staged POST with no files (same CAS commit the
      // owning catalog's flat DDL makes)
      post(tablePath(ident) + "/create-staged", Serialization.write(
        CreateStagedReq(Nil, Nil, schema.toDDL,
          mustNotExist = true, mustExist = false)))
      loadTable(ident)
    } else graft.sources.IceLiteCatalog.transformSpecOf(partitions) match {
      case Some(spec) =>
        // d84 over the wire: a hidden-partition table born remotely —
        // the schema stays exactly as declared (derived names never
        // enter it)
        post(tablePath(ident) + "/create-empty", Serialization.write(
          CreateEmptyReq(schema.toDDL, Nil, partitionSpec = spec)))
        loadTable(ident)
      case None =>
        val (ordered, cols) =
          graft.sources.IceLiteCatalog.partitionedShape(schema, partitions)
        post(tablePath(ident) + "/create-empty", Serialization.write(
          CreateEmptyReq(ordered.toDDL, cols)))
        loadTable(ident)
    }
  }

  /** Remove a table's local spool (manifests, spooled segments, the
    * shared-storage mounts — links only, never targets). */
  private def wipeSpool(spool: TableRef): Unit =
    if (Files.exists(spool.dir, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      // Files.walk MUST NOT follow links (the default): the data/
      // and deletes/ mounts are symlinks into SHARED storage — only
      // the link entries themselves may be deleted, never the
      // targets' contents
      IceLite.listDir(Files.walk(spool.dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(Files.deleteIfExists(p)))

  override def dropTable(ident: Identifier): Boolean =
    try {
      delete(tablePath(ident))
      // invalidate this attachment's spool: a later re-CREATE under
      // the same name restarts the server's version counter
      wipeSpool(TableRef(spoolRoot.toString, ident.namespace.head, ident.name))
      true
    }
    catch { case e: RestCatalogException if e.code == 404 => false }

  /** Schema evolution over the wire (d79): each change posts one
    * metadata-only CAS commit to the catalog service — the same
    * alterAdd/Drop/Rename/Widen the owning catalog runs, so an
    * attached dbt run's on_schema_change flows through. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    def one(c: TableChange.ColumnChange): String = {
      require(c.fieldNames.length == 1,
        s"icelite supports top-level columns only, got " +
          c.fieldNames.mkString("."))
      c.fieldNames.head
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "add", one(add), sqlType = Some(add.dataType.catalogString))))
      case del: TableChange.DeleteColumn =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "drop", one(del))))
      case ren: TableChange.RenameColumn =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "rename", one(ren), newName = Some(ren.newName))))
      case upd: TableChange.UpdateColumnType =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "widen", one(upd), sqlType = Some(upd.newDataType.catalogString))))
      case set: TableChange.SetProperty =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "set-prop", set.property, value = Some(set.value))))
      case unset: TableChange.RemoveProperty =>
        post(tablePath(ident) + "/alter", Serialization.write(AlterReq(
          "unset-prop", unset.property)))
      case other => throw new UnsupportedOperationException(
        s"icelite ALTER TABLE supports ADD/DROP/RENAME COLUMN, " +
          s"ALTER COLUMN TYPE widening, and SET/UNSET TBLPROPERTIES, " +
          s"got $other")
    }
    loadTable(ident)
  }

  /** d83 over the wire: partition-spec evolution posts through the
    * same /alter face as every metadata-only DDL. */
  override def addPartitionField(ident: Identifier, col: String): Unit = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    post(tablePath(ident) + "/alter",
      Serialization.write(AlterReq("add-part-field", col)))
    ()
  }
  override def dropPartitionField(ident: Identifier, col: String): Unit = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    post(tablePath(ident) + "/alter",
      Serialization.write(AlterReq("drop-part-field", col)))
    ()
  }
  /** d85 over the wire: transform-spec evolution — same one-POST
    * metadata commit (col carries the SOURCE column; the transform
    * name and int arg ride the rename/value slots). */
  override def addPartitionFieldTransform(ident: Identifier,
      transform: String, sourceCol: String, param: Int): Unit = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    post(tablePath(ident) + "/alter",
      Serialization.write(AlterReq("add-part-transform", sourceCol,
        newName = Some(transform), value = Some(param.toString))))
    ()
  }
  /** d89 over the wire: sort-order DDL — one POST, metadata-only;
    * the col rides the shared slot ("" = WRITE UNORDERED). */
  override def setWriteOrder(ident: Identifier, col: Option[String]): Unit = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    post(tablePath(ident) + "/alter",
      Serialization.write(AlterReq("write-order", col.getOrElse(""))))
    ()
  }

  /** Table RENAME over the wire (d81): one POST — the rename runs
    * entirely server-side (zero-copy relocation + CAS claim,
    * IceLite.renameTable's contract), which is exactly the
    * catalog-authority op real Iceberg's REST rename is. 409 from a
    * racing commit maps to CME (retryable); an occupied target to
    * TableAlreadyExists. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    require(from.namespace.length == 1 && to.namespace.length == 1,
      "icelite namespaces are single-level")
    if (!tableExists(from)) throw new NoSuchTableException(from)
    try post(s"/namespaces/${from.namespace.head}/tables/${from.name}/rename",
      Serialization.write(ViewRenameReq(to.namespace.head, to.name)))
    catch {
      case e: RestCatalogException if e.code == 404 =>
        throw new NoSuchTableException(from)
      case e: RestCatalogException if (e.code == 400 || e.code == 409) &&
          e.getMessage != null && (e.getMessage.contains("already exists") ||
            e.getMessage.contains("is a view")) =>
        throw new TableAlreadyExistsException(to)
      case e: RestCatalogException if e.code == 409 =>
        // a commit raced the rename server-side — retryable
        throw new java.util.ConcurrentModificationException(e.getMessage)
    }
    // the old name's spool is dead; the new name resolves fresh
    wipeSpool(TableRef(spoolRoot.toString, from.namespace.head, from.name))
    ()
  }

  // ---- d80: maintenance through the attachment ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got " +
        s"${(ident.namespace :+ ident.name).mkString(".")}")
    new RestProcedures(this)(ident.name).getOrElse(
      throw new RuntimeException(s"unknown remote procedure '${ident.name}' " +
        s"(have: ${RestProcedures.names.mkString(", ")}; other maintenance " +
        "runs through the owning catalog)"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else RestProcedures.names.map(n =>
      Identifier.of(Array("system"), n)).toArray

  /** Remote compaction (d80): read snapshot S through this
    * attachment's folding scan (MoR sidecars applied — compaction is
    * the delete materializer), restage into SHARED storage via the
    * spool's data/ mount, and ask the catalog service to swap it in
    * IFF the base is still S. A 409 means the base moved — the
    * staged bytes are a function of the base, so the only correct
    * rebase is a client-side recompute (bounded retries). */
  private[rest] def remoteCompact(table: String,
      targetFiles: Int): graft.icelite.Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val (ns, t) = splitTable(table)
    val ident = Identifier.of(Array(ns), t)
    var last: Throwable = null
    (1 to 3).foreach { _ =>
      val (spool, version) = spoolManifestVersioned(ident)
      val snap = IceLiteSource.resolveSnap(spool, None)
      require(snap.partitionCols.isEmpty && snap.partitionSpec.isEmpty,
        s"$table has a partition layout — compact through the owning catalog")
      val spark = org.apache.spark.sql.SparkSession.active
      val df0 = spark.read.format("graft.sources.IceLiteSource")
        .load(spool.dir.toString)
      val df = snap.sortedBy match {
        case Some(c) =>
          // preserve the sort layout: range-partition + sort keeps the
          // non-overlapping file ranges pruning relies on (d54);
          // the marker encodes a directed key list (r13)
          val cs = graft.icelite.SortKey.exprs(c)
          df0.repartitionByRange(targetFiles, cs: _*)
            .sortWithinPartitions(cs: _*)
        case None => df0.repartition(targetFiles)
      }
      val files = IceLite.stageFor(spool, df)
      try {
        val resp = RestCommitClient.postCommit(http,
          uri + tablePath(ident) + "/commit",
          Serialization.write(CommitReq("compact", added = files,
            keepSorted = snap.sortedBy.isDefined,
            expectedVersion = Some(version))))
        // the response names the committed snapshot — report THAT,
        // not whatever is current by respool time (a concurrent
        // append may already have landed on top)
        val snapId = (parse(resp) \ "snapshotId").extract[Long]
        return IceLite.readManifest(spoolManifest(ident)).snapshots
          .find(_.id == snapId).getOrElse(
            throw new IllegalStateException(
              s"committed compaction snapshot $snapId not in respool"))
      } catch {
        case e: java.util.ConcurrentModificationException => last = e
      } // base moved: recompute against the current snapshot
    }
    throw last
  }

  // ---- atomic CTAS/RTAS (d70 over the wire): Spark writes the
  // SELECT through the staged table FIRST — files land invisibly in
  // the SHARED warehouse under data/<token>/ (the attachment writes
  // the warehouse path directly; staging is data-plane) — then ONE
  // POST publishes them as the table's only content. ----

  private def stagedTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String],
      mustNotExist: Boolean, mustExist: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    if (mustNotExist && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (mustExist && !tableExists(ident))
      throw new NoSuchTableException(ident)
    post(s"/namespaces/${ident.namespace.head}")
    val schema = StructType(columns.map(c => org.apache.spark.sql.types
      .StructField(c.name, c.dataType, c.nullable)))
    val tSpec = if (partitions.isEmpty) None
      else graft.sources.IceLiteCatalog.transformSpecOf(partitions)
    val (ordered, cols) =
      if (partitions.isEmpty || tSpec.isDefined) (schema, Seq.empty[String])
      else graft.sources.IceLiteCatalog.partitionedShape(schema, partitions)
    // stage into the shared warehouse directly: the table dir may not
    // exist yet, so there is no spool to mount through
    val spec = tSpec.getOrElse(Nil)
    val props = graft.sources.IceLiteCatalog.tableProperties(properties)
    new graft.sources.IceLiteStagedTable(
      TableRef(warehouse, ident.namespace.head, ident.name), ordered, cols,
      spec, files => {
        RestCommitClient.postCommit(http, uri + tablePath(ident) + "/create-staged",
          Serialization.write(CreateStagedReq(files, cols, ordered.toDDL,
            mustNotExist, mustExist, spec, props))); ()
      })
  }

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stagedTable(ident, columns, partitions, properties, mustNotExist = true, mustExist = false)

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stagedTable(ident, columns, partitions, properties, mustNotExist = false, mustExist = true)

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    stagedTable(ident, columns, partitions, properties, mustNotExist = false, mustExist = false)
}

private[rest] class RestCatalogException(val code: Int, msg: String)
  extends RuntimeException(msg)

/** Shared POST helpers. `post` surfaces every non-200 as a typed
  * RestCatalogException (DDL callers map 404/409 to Spark's typed
  * exceptions). `postCommit` is for COMMIT protocol calls only: a
  * 409 there is a genuine CAS race, surfaced as
  * ConcurrentModificationException so retrying statements see the
  * same exception local conflicts raise; a 400 is a permanent
  * request error and stays a RestCatalogException — retrying it
  * would loop forever. */
private[rest] object RestCommitClient {
  def post(http: HttpClient, url: String, body: String): String = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) throw new RestCatalogException(
      resp.statusCode(), s"POST $url -> ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  def postCommit(http: HttpClient, url: String, body: String): String =
    try post(http, url, body)
    catch { case e: RestCatalogException if e.code == 409 =>
      throw new java.util.ConcurrentModificationException(
        s"REST commit conflict: ${e.getMessage}") }
}

/** The face a REST attachment serves: the full IceLite scan machinery
  * (manifest pruning, columnar read, MoR delete folds, partition
  * discovery) over the spooled snapshot, plus the full batch DML
  * surface of the owning catalog's table — the same writes, stages and
  * commit requests. Executors stage parquet into the SHARED warehouse
  * (the spool's data/ mount), value-dir layouts promote client-side
  * (data-plane moves; nothing is visible until commit), and the one
  * difference is the transport: each write's [[CommitReq]] is POSTed,
  * and the catalog service CAS-commits it (Iceberg's REST-commit
  * division of labor: data never proxies through the catalog, the
  * metadata authority never leaves it). Row-level DELETE/UPDATE/MERGE
  * run the group-based copy-on-write rewrite — scan and staging
  * client-side, the removed-for-added swap server-side, concurrent-
  * rewrite races failing loudly. Streaming writes refuse: the spool
  * is a point-in-time snapshot. */
private[rest] class RestReadTable(spool: TableRef, tableSchema: StructType,
    catalogName: String, ident: Identifier, uri: String,
    http: java.net.http.HttpClient, respool: () => Unit = () => ())
  extends IceLiteTable(spool, tableSchema) {
  import org.apache.spark.sql.connector.catalog.TableCapability
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  override def name(): String = s"$catalogName.${ident.namespace.head}.${ident.name}"

  private def commitUrl: String =
    s"$uri/namespaces/${ident.namespace.head}/tables/${ident.name}/commit"

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  /** Streaming over the attachment (s24): same scan machinery, plus
    * the version-watch — `streamRefresh` re-spools from the catalog
    * service before each latestOffset/plan, so the stream follows the
    * LIVE table, not the attach-time snapshot. Offsets are snapshot
    * ids, identical to the owning catalog's stream — a checkpoint
    * survives switching between the two faces. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new graft.sources.IceLiteScanBuilder(spool, tableSchema,
      options.getInt("snapshotsPerTrigger", Int.MaxValue),
      options.getLong("targetSplitBytes", 128L * 1024 * 1024),
      None, changelog = options.getBoolean("changelog", false),
      streamRefresh = respool)

  override protected[sources] def remoteCommit: Option[CommitReq => Unit] =
    Some(req => {
      RestCommitClient.postCommit(http, commitUrl, Serialization.write(req)); ()
    })

  private def refuse(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op refused: ${name()} is a REST attachment; run this through " +
        "the warehouse's owning catalog")

  // pushed-filter DELETE declines: the row-level rewrite path covers
  // DELETE with full semantics; metadata-only partition drops stay an
  // owning-catalog operation
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = false
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    refuse("pushed-filter DELETE")
  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: JMap[String, String]): Unit = refuse("ADD PARTITION")
  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    refuse("DROP PARTITION")
}
