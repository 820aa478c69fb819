package graft.sources.rest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization
import graft.icelite.{IceLite, TableRef}

/** A REST catalog face over an IceLite warehouse — the role the
  * Iceberg REST catalog plays in the reference stack, where ONE
  * catalog service serves Spark and Trino concurrently over HTTP
  * while the engines share the storage layer
  * (docker-compose.yml:3-29 runs the REST catalog container;
  * iceberg-template.properties:8-9 points Trino at its uri; the
  * engines share MinIO). Same architecture here: this server owns
  * METADATA over HTTP — namespaces, table listings, the current
  * manifest — and any engine with access to the shared warehouse
  * path reads the data files directly. Out-of-process clients (the
  * multi-engine case) attach with nothing but the uri.
  *
  * Endpoints (JSON; {..} are validated identifiers):
  *   GET    /v1/config                                  → {warehouse}
  *   GET    /v1/namespaces                              → {namespaces}
  *   POST   /v1/namespaces/{ns}                         → create
  *   DELETE /v1/namespaces/{ns}[?cascade]               → drop (tables
  *          AND views counted before a non-cascade drop)
  *   GET    /v1/namespaces/{ns}/tables                  → {tables}
  *   GET    /v1/namespaces/{ns}/tables/{t}              → {version,
  *          manifest} (the pre-d77 single-JSON shape — the default,
  *          because an OLD client cannot know any new parameter);
  *          `?wire=sharded` → {version, pointer, segments} (d77)
  *   GET    /v1/…/tables/{t}/segments/{seg}             → raw segment
  *   POST   /v1/…/tables/{t}/commit                     → d76/d80 DML
  *          commit: append / overwrite (flat + partitioned modes) /
  *          replace (row-level swap) / compact (version-conditioned)
  *   POST   /v1/…/tables/{t}/commit-staged              → legacy append
  *   POST   /v1/…/tables/{t}/create-staged              → CTAS/RTAS
  *   POST   /v1/…/tables/{t}/create-empty               → DDL create
  *   POST   /v1/…/tables/{t}/alter                      → d79 evolution
  *   POST   /v1/…/tables/{t}/procedure                  → d80 metadata
  *          maintenance (expiry, gc, rollback, eq depth)
  *   DELETE /v1/…/tables/{t}                            → drop table
  *   GET/POST/DELETE /v1/…/views[/{v}][/rename]         → d74/d78 views
  *
  * Metadata-sized requests and responses only; data bytes never cross
  * this server — executors stage parquet into SHARED storage and the
  * commit routes carry file NAMES (Iceberg's REST-commit division of
  * labor). Errors: 404 missing, 409 CAS race (retry after rebase),
  * 400 permanent request error, 500 fault.
  *
  * Single-threaded handler (JDK HttpServer default executor) is
  * deliberate: every request is a metadata read measured in
  * microseconds-to-milliseconds; at real scale this component scales
  * the way the reference's does — by fronting the catalog service,
  * not by fanning data through it.
  */
private[rest] final case class CommitStagedReq(files: Seq[String])

/** CTAS/RTAS commit: the staged files become the table's ONLY files
  * in one CAS commit (IceLite.replaceTableStaged semantics).
  * `partitionSpec` carries a hidden-partition (d56 transform) layout —
  * mutually exclusive with identity `partitionCols`, like everywhere. */
private[rest] final case class CreateStagedReq(
    files: Seq[String], partitionCols: Seq[String], schemaDdl: String,
    mustNotExist: Boolean, mustExist: Boolean,
    partitionSpec: Seq[graft.icelite.PartitionField] = Nil,
    properties: Map[String, String] = Map.empty)

/** `CREATE TABLE … PARTITIONED BY` with no data (d68 identity /
  * d84 transform). */
private[rest] final case class CreateEmptyReq(
    schemaDdl: String, partitionCols: Seq[String],
    partitionSpec: Seq[graft.icelite.PartitionField] = Nil)

/** View DDL payload: the stored definition plus the statement shape
  * (CREATE vs CREATE OR REPLACE vs REPLACE). */
private[rest] final case class ViewPutReq(
    replace: Boolean, orCreate: Boolean, viewDef: graft.sources.ViewDef)

/** RENAME VIEW target. */
private[rest] final case class ViewRenameReq(toNs: String, toName: String)

/** Remote METADATA-ONLY maintenance call (d80): name + the one int
  * or long argument each procedure takes; results travel as a flat
  * Long vector the client reshapes per procedure. */
private[rest] final case class ProcReq(
    name: String, intArg: Option[Int] = None, longArg: Option[Long] = None)

/** Schema evolution over the wire (d79): one metadata-only CAS
  * commit per change — the same alterAddColumn/Drop/Rename/Widen the
  * owning catalog runs. */
private[rest] final case class AlterReq(
    op: String,                  // add | drop | rename | widen | set-prop | unset-prop
    col: String,                 // column name, or the property KEY
    sqlType: Option[String] = None,   // add / widen
    newName: Option[String] = None,   // rename
    value: Option[String] = None)     // set-prop

class CatalogServer(warehouse: String, port: Int = 0) {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)
  val requests = new AtomicLong(0)
  /** Total response bytes served — the d77 wire-cost witness. */
  val bytesSent = new AtomicLong(0)
  /** Segment fetches served — the O(delta) wire witness: a reload
    * after one append must fetch exactly one. */
  val segmentGets = new AtomicLong(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** The bound uri (port resolved when `port = 0`). */
  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  /** URL path segments become filesystem path components (TableRef,
    * view files) — whitelist identifier shapes so `..`, separators,
    * or hidden-file prefixes can never address outside the warehouse
    * (the 127.0.0.1 bind is not a sufficient guard: any local process
    * can reach this port). */
  private val IdentRe = "[A-Za-z0-9_][A-Za-z0-9_.-]*".r
  private def validIdent(s: String): Boolean =
    IdentRe.matches(s) && !s.contains("..")

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    bytesSent.addAndGet(bytes.length)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  server.createContext("/v1", (ex: HttpExchange) => {
    requests.incrementAndGet()
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripPrefix("/")
      val parts = path.split('/').filter(_.nonEmpty).toSeq
      // every segment that names a namespace/table/view must be a
      // plain identifier; route keywords pass trivially
      if (!parts.forall(validIdent))
        send(ex, 400, s"""{"error":"invalid identifier in path"}""")
      else (ex.getRequestMethod, parts) match {
        case ("GET", Seq("config")) =>
          send(ex, 200, Serialization.write(Map("warehouse" -> warehouse)))
        case ("GET", Seq("namespaces")) =>
          send(ex, 200, Serialization.write(
            Map("namespaces" -> IceLite.listNamespaces(warehouse))))
        case ("POST", Seq("namespaces", ns)) =>
          IceLite.createNamespace(warehouse, ns)
          send(ex, 200, "{}")
        case ("DELETE", Seq("namespaces", ns)) =>
          if (!IceLite.listNamespaces(warehouse).contains(ns))
            send(ex, 200, """{"dropped":false}""")
          else {
            val cascade = Option(ex.getRequestURI.getQuery)
              .exists(_.contains("cascade"))
            val tables = IceLite.listTables(warehouse, ns)
            val views = graft.sources.IceLiteViews.list(warehouse, ns)
            require((tables.isEmpty && views.isEmpty) || cascade,
              s"namespace $ns holds ${tables.size} tables and " +
                s"${views.size} views (use CASCADE)")
            val dir = java.nio.file.Paths.get(warehouse, ns)
            IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
              .sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
            send(ex, 200, """{"dropped":true}""")
          }
        case ("GET", Seq("namespaces", ns, "tables")) =>
          if (!IceLite.listNamespaces(warehouse).contains(ns))
            send(ex, 404, s"""{"error":"no namespace $ns"}""")
          else send(ex, 200, Serialization.write(
            Map("tables" -> IceLite.listTables(warehouse, ns))))
        // the manifest wire. DEFAULT stays the pre-d77 single-JSON
        // shape {version, manifest} so an attachment that predates the
        // sharded wire keeps decoding — version stability means the
        // OLD client, which cannot know any new parameter, must stay
        // correct. Clients that understand d77 ask `?wire=sharded`
        // and get {version, pointer, segments}: the pointer's raw
        // bytes plus the segment names it references; they then fetch
        // only segments not already spooled (immutable,
        // content-named) — O(pointer + delta) per changed table.
        case ("GET", Seq("namespaces", ns, "tables", t)) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else if (Option(ex.getRequestURI.getQuery).exists(_.contains("wire=sharded"))) {
            val (version, pointer, segments) = IceLite.currentManifestWire(ref)
            send(ex, 200, Serialization.write(Map(
              "version" -> version, "pointer" -> pointer,
              "segments" -> segments)))
          } else {
            val (version, manifest) = IceLite.currentManifestVersioned(ref)
            send(ex, 200, Serialization.write(Map(
              "version" -> version,
              "manifest" -> IceLite.manifestWireJson(manifest))))
          }
        case ("GET", Seq("namespaces", ns, "tables", t, "segments", seg)) =>
          segmentGets.incrementAndGet()
          IceLite.segmentWire(TableRef(warehouse, ns, t), seg) match {
            case Some(raw) => send(ex, 200, raw)
            case None => send(ex, 404, s"""{"error":"no segment $seg"}""")
          }
        // the WRITE protocol: a remote engine stages parquet into the
        // SHARED warehouse itself (data is never proxied), then asks
        // the catalog service to turn the staged set into one CAS
        // snapshot — the metadata authority stays here, exactly
        // Iceberg's REST-commit division of labor. Stats and row
        // counts come from the staged footers server-side.
        case ("POST", Seq("namespaces", ns, "tables", t, "commit-staged")) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else {
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            val req = Serialization.read[CommitStagedReq](body)
            require(req.files.nonEmpty, "commit-staged needs staged files")
            require(req.files.forall(f => f.startsWith("data/") &&
              !f.contains("..")), "staged paths must be table-relative data/ files")
            val snap = IceLite.commitStaged(ref, req.files, truncate = false)
            send(ex, 200, Serialization.write(Map(
              "snapshotId" -> snap.id, "rowCount" -> snap.rowCount)))
          }
        // the FULL DML commit face (d76): the client POSTs the same
        // CommitReq the owning catalog applies in-process, and this
        // service applies it with the same applier once its paths
        // check out — the metadata authority never leaves this
        // service, data bytes never cross it
        case ("POST", Seq("namespaces", ns, "tables", t, "commit")) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else {
            val req = Serialization.read[graft.icelite.CommitReq](readBody(ex))
            (req.added ++ req.removed).foreach(f => require(
              f.startsWith("data/") && !f.contains(".."),
              s"commit paths must be table-relative data/ files, got $f"))
            val snap = IceLite.applyCommit(ref, req,
              Map("committed-via" -> "rest"))
            send(ex, 200, Serialization.write(Map(
              "snapshotId" -> snap.id, "rowCount" -> snap.rowCount)))
          }
        // CTAS/RTAS: one CAS commit makes the staged files the
        // table's only content (atomic create-or-replace — d70's
        // replaceTableStaged behind the wire face)
        case ("POST", Seq("namespaces", ns, "tables", t, "create-staged")) =>
          val ref = TableRef(warehouse, ns, t)
          val req = Serialization.read[CreateStagedReq](readBody(ex))
          req.files.foreach(f => require(
            f.startsWith("data/") && !f.contains(".."),
            s"staged paths must be table-relative data/ files, got $f"))
          IceLite.createNamespace(warehouse, ns)
          val snap = IceLite.replaceTableStaged(ref, req.files,
            req.partitionCols, req.schemaDdl, req.mustNotExist, req.mustExist,
            req.partitionSpec, req.properties)
          send(ex, 200, Serialization.write(Map(
            "snapshotId" -> snap.id, "rowCount" -> snap.rowCount)))
        case ("POST", Seq("namespaces", ns, "tables", t, "create-empty")) =>
          val ref = TableRef(warehouse, ns, t)
          val req = Serialization.read[CreateEmptyReq](readBody(ex))
          IceLite.createNamespace(warehouse, ns)
          val snap =
            if (req.partitionSpec.nonEmpty) {
              require(req.partitionCols.isEmpty,
                "a table declares either an identity layout or a " +
                  "transform spec, not both")
              IceLite.createEmptyTransformed(ref, req.schemaDdl,
                req.partitionSpec)
            } else IceLite.createEmptyPartitioned(ref, req.schemaDdl,
              req.partitionCols)
          send(ex, 200, Serialization.write(Map("snapshotId" -> snap.id)))
        // d80: METADATA-ONLY maintenance procedures run server-side
        // (they are IceLite metadata commits / file sweeps — no Spark
        // job involved); data-rewriting maintenance (compact) runs
        // CLIENT-side and lands through the commit protocol above
        case ("POST", Seq("namespaces", ns, "tables", t, "procedure")) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else {
            val req = Serialization.read[ProcReq](readBody(ex))
            val values: Seq[Long] = req.name match {
              case "expire_snapshots" =>
                Seq(IceLite.expireSnapshots(ref, req.longArg.getOrElse(
                  throw new IllegalArgumentException(
                    "expire_snapshots needs older_than_ms"))).size.toLong)
              case "expire_retain_last" =>
                Seq(IceLite.expireSnapshotsRetainLast(ref,
                  req.intArg.getOrElse(throw new IllegalArgumentException(
                    "expire_retain_last needs retain_last"))).size.toLong)
              case "expire_metadata" =>
                Seq(IceLite.expireMetadata(ref,
                  req.intArg.getOrElse(10)).size.toLong)
              case "gc_orphans" =>
                Seq(IceLite.gcOrphans(ref,
                  req.longArg.getOrElse(3600000L)).size.toLong)
              case "rollback_to_snapshot" =>
                val target = req.longArg.getOrElse(
                  throw new IllegalArgumentException(
                    "rollback_to_snapshot needs snapshot_id"))
                Seq(IceLite.rollback(ref, target).id, target)
              case "eq_live_depth" =>
                val (sidecars, keys) = IceLite.eqLiveDepth(ref)
                Seq(sidecars.toLong, keys,
                  if (keys > req.intArg.getOrElse(10000).toLong) 1L else 0L)
              case other => throw new IllegalArgumentException(
                s"unknown remote procedure '$other'")
            }
            send(ex, 200, Serialization.write(Map("values" -> values)))
          }
        // schema evolution (d79): metadata-only CAS commits — the
        // free-at-100TB half of DDL, now reachable from any engine
        case ("POST", Seq("namespaces", ns, "tables", t, "alter")) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else {
            val req = Serialization.read[AlterReq](readBody(ex))
            req.op match {
              case "add" => IceLite.alterAddColumn(ref, req.col,
                req.sqlType.getOrElse(throw new IllegalArgumentException(
                  "add needs sqlType")))
              case "drop" => IceLite.alterDropColumn(ref, req.col)
              case "rename" => IceLite.alterRenameColumn(ref, req.col,
                req.newName.getOrElse(throw new IllegalArgumentException(
                  "rename needs newName")))
              case "widen" => IceLite.alterWidenColumn(ref, req.col,
                req.sqlType.getOrElse(throw new IllegalArgumentException(
                  "widen needs sqlType")))
              // d82: table properties — same metadata-only commit class
              case "set-prop" => IceLite.alterSetProperties(ref,
                Map(req.col -> req.value.getOrElse(
                  throw new IllegalArgumentException("set-prop needs value"))))
              case "unset-prop" =>
                IceLite.alterUnsetProperties(ref, Seq(req.col))
              // d83/d85: partition-spec evolution — declared-layout flips
              case "add-part-field" =>
                IceLite.alterAddPartitionField(ref, req.col)
              case "drop-part-field" =>
                IceLite.alterDropPartitionField(ref, req.col)
              case "add-part-transform" =>
                IceLite.alterAddPartitionFieldTransform(ref,
                  req.newName.getOrElse(throw new IllegalArgumentException(
                    "add-part-transform needs the transform name")),
                  req.col,
                  req.value.map(_.toInt).getOrElse(0))
              // d89: sort-order DDL — "" clears (WRITE UNORDERED)
              case "write-order" =>
                IceLite.alterWriteOrdered(ref,
                  Option(req.col).filter(_.nonEmpty))
              case other => throw new IllegalArgumentException(
                s"unknown alter op '$other'")
            }
            send(ex, 200, "{}")
          }
        case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
          val ref = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(ref))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else {
            val all = IceLite.listDir(java.nio.file.Files.walk(ref.dir))(_.toSeq)
            all.sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
            send(ex, 200, """{"dropped":true}""")
          }
        // views travel as their stored definition — SQL text + the
        // re-resolution context (d74's persistence, wire-faced)
        case ("GET", Seq("namespaces", ns, "views")) =>
          if (!IceLite.listNamespaces(warehouse).contains(ns))
            send(ex, 404, s"""{"error":"no namespace $ns"}""")
          else send(ex, 200, Serialization.write(
            Map("views" -> graft.sources.IceLiteViews.list(warehouse, ns))))
        case ("GET", Seq("namespaces", ns, "views", v)) =>
          graft.sources.IceLiteViews.load(warehouse, ns, v) match {
            case None => send(ex, 404, s"""{"error":"no view $ns.$v"}""")
            case Some(vd) => send(ex, 200, Serialization.write(vd))
          }
        // view DDL over the wire: a remote dbt run can CREATE OR
        // REPLACE its models against the shared catalog, not just
        // read them. Same guards as the owning catalog: a name is a
        // table OR a view, never both; CREATE races have one winner
        // (hard-link claim); REPLACE is one atomic rename.
        case ("POST", Seq("namespaces", ns, "views", v)) =>
          val req = Serialization.read[ViewPutReq](readBody(ex))
          if (IceLite.tableExists(TableRef(warehouse, ns, v)))
            send(ex, 409, s"""{"error":"$ns.$v is a table"}""")
          else if (req.replace && !req.orCreate &&
              !graft.sources.IceLiteViews.exists(warehouse, ns, v))
            send(ex, 404, s"""{"error":"no view $ns.$v"}""")
          else {
            IceLite.createNamespace(warehouse, ns)
            if (graft.sources.IceLiteViews.write(warehouse, ns, v,
                req.viewDef, replace = req.replace))
              send(ex, 200, "{}")
            else send(ex, 409, s"""{"error":"view $ns.$v already exists"}""")
          }
        case ("DELETE", Seq("namespaces", ns, "views", v)) =>
          send(ex, 200, Serialization.write(Map(
            "dropped" -> graft.sources.IceLiteViews.drop(warehouse, ns, v))))
        // d81 over the wire: table RENAME runs server-side, where it
        // is the catalog-authority op Iceberg models (the attachment
        // never touches storage). Zero-copy relocation + CAS claim —
        // IceLite.renameTable's contract; a commit racing the rename
        // maps to 409 (retryable), an occupied target to 400.
        case ("POST", Seq("namespaces", ns, "tables", t, "rename")) =>
          val req = Serialization.read[ViewRenameReq](readBody(ex))
          require(validIdent(req.toNs) && validIdent(req.toName),
            "invalid rename target identifier")
          val from = TableRef(warehouse, ns, t)
          if (!IceLite.tableExists(from))
            send(ex, 404, s"""{"error":"no table $ns.$t"}""")
          else if (graft.sources.IceLiteViews.exists(warehouse, req.toNs, req.toName))
            send(ex, 409, s"""{"error":"${req.toNs}.${req.toName} is a view"}""")
          else {
            IceLite.renameTable(from, TableRef(warehouse, req.toNs, req.toName))
            send(ex, 200, "{}")
          }
        case ("POST", Seq("namespaces", ns, "views", v, "rename")) =>
          val req = Serialization.read[ViewRenameReq](readBody(ex))
          require(validIdent(req.toNs) && validIdent(req.toName),
            "invalid rename target identifier")
          if (!graft.sources.IceLiteViews.exists(warehouse, ns, v))
            send(ex, 404, s"""{"error":"no view $ns.$v"}""")
          else if (graft.sources.IceLiteViews.exists(warehouse, req.toNs, req.toName))
            send(ex, 409, s"""{"error":"view ${req.toNs}.${req.toName} already exists"}""")
          else if (IceLite.tableExists(TableRef(warehouse, req.toNs, req.toName)))
            send(ex, 409, s"""{"error":"${req.toNs}.${req.toName} is a table"}""")
          else {
            graft.sources.IceLiteViews.rename(warehouse, ns, v,
              req.toNs, req.toName)
            send(ex, 200, "{}")
          }
        case (m, p) =>
          send(ex, 404, s"""{"error":"no route $m /${p.mkString("/")}"}""")
      }
    } catch {
      // a genuine commit RACE is a 409 — retryable, the client can
      // rebase and re-run. Validation/precondition failures are 400 —
      // permanent for this request; mapping them to 409 would send
      // retrying clients into a loop on a statement that can never
      // succeed. Everything else is a 500 server fault.
      case e: java.util.ConcurrentModificationException =>
        send(ex, 409, Serialization.write(Map(
          "error" -> Option(e.getMessage).getOrElse(e.getClass.getName))))
      case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
        send(ex, 400, Serialization.write(Map(
          "error" -> Option(e.getMessage).getOrElse(e.getClass.getName))))
      case e: Exception =>
        send(ex, 500, Serialization.write(Map(
          "error" -> Option(e.getMessage).getOrElse(e.getClass.getName))))
    } finally ex.close()
  })

  def start(): CatalogServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
