package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange, View, ViewInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.icelite.{IceLite, TableRef}

/** DataSource V2 TABLE CATALOG over an IceLite warehouse — the
  * SQL-addressable face of the engine (the role the REST catalog +
  * Trino play in the reference: README.md:66-77 exposes every
  * Iceberg table to plain SQL). Register once:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.IceLiteCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and every IceLite table is a SQL identifier: `SELECT ... FROM
  * graft.ns.t`, `INSERT INTO graft.ns.t ...`, `CREATE TABLE
  * graft.ns.t2 AS SELECT ...`, `DROP TABLE graft.ns.t`. Reads and
  * writes resolve through the same IceLiteTable the path-based
  * connector uses — manifest-pruned, columnar, CAS-committed — so
  * SQL and DataFrame users see one table layer.
  *
  * Catalog operations are metadata-sized: list/load walk the
  * warehouse directory and manifest heads only. CREATE TABLE AS
  * SELECT works through Spark's non-staging CTAS path (createTable,
  * then an append that commits the create snapshot; the table
  * directory appears atomically with its first CAS manifest).
  * Partitioned/sorted DDL layouts are the IceLite API's job
  * (createOrReplacePartitioned / createOrReplaceSorted) — SQL DDL
  * here creates flat tables. ALTER evolves metadata-only
  * (d51/d52/d58/d66) and `RENAME TO` relocates zero-copy (d81);
  * anything outside those contracts refuses loudly.
  */
/** A fixed row set as a read-only DSv2 table (the catalog's metadata
  * tables): one synthetic input partition, rows precomputed
  * driver-side from the manifest. */
private[sources] class StaticRowsTable(tableName: String,
    tableSchema: StructType, rows: Array[Array[Any]])
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = tableSchema
        override def toBatch: Batch = this
        override def description(): String = s"StaticRowsTable $tableName"
        override def planInputPartitions(): Array[InputPartition] =
          Array(IceLiteAggPartition(rows))
        override def createReaderFactory(): PartitionReaderFactory =
          new IceLiteAggReaderFactory
      }
    }
}

/** d83: the partition-spec-evolution DDL face (`ALTER TABLE … ADD/
  * DROP PARTITION FIELD`) both catalog impls share — stock Spark has
  * no TableChange for partition fields, so the parser intercept
  * dispatches through this instead of alterTable. */
trait SupportsPartitionFieldDdl {
  def addPartitionField(ident: Identifier, col: String): Unit
  def dropPartitionField(ident: Identifier, col: String): Unit
  /** d85: `ADD PARTITION FIELD bucket(8, id) | days(ts) |
    * truncate(4, s)` — transform-spec evolution. DROP uses the
    * derived name through [[dropPartitionField]]. */
  def addPartitionFieldTransform(ident: Identifier, transform: String,
      sourceCol: String, param: Int): Unit
  /** d89: `WRITE ORDERED BY col` / `WRITE UNORDERED` — sort-order
    * DDL (Iceberg's spark-extensions grammar). None clears. */
  def setWriteOrder(ident: Identifier, col: Option[String]): Unit
}

class IceLiteCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog
  with GraftFunctionCatalog
  with SupportsPartitionFieldDdl
  with org.apache.spark.internal.Logging {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def refOf(ident: Identifier): TableRef = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    TableRef(warehouse, ident.namespace.head, ident.name)
  }

  // ---- functions: GraftFunctionCatalog (d90's SPJ resolution) ----

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    if (!IceLite.listNamespaces(warehouse).contains(namespace.head))
      throw new NoSuchNamespaceException(namespace)
    IceLite.listTables(warehouse, namespace.head)
      .map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dollar = ident.name.lastIndexOf('$')
    if (dollar > 0) return loadMetadataTable(ident,
      ident.name.take(dollar), ident.name.drop(dollar + 1))
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    new IceLiteTable(ref, IceLiteSource.schemaOf(ref))
  }

  /** Iceberg-style METADATA TABLE identifiers: `` `t$snapshots` ``
    * (history: d20's surface), `` `t$partitions` `` (the census:
    * d34's surface) and `` `t$files` `` (the per-file inventory:
    * d27's surface) as plain SQL relations. Rows fold from the
    * manifest at load time — metadata-sized, zero data pages; shared
    * with the REST attachment via [[IceLiteMetadataTables]]. */
  private def loadMetadataTable(ident: Identifier, base: String,
      meta: String): Table = {
    val baseIdent = Identifier.of(ident.namespace, base)
    val ref = refOf(baseIdent)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(baseIdent)
    IceLiteMetadataTables.load(ref, ident.name, meta)
  }

  /** SQL time travel — `SELECT ... FROM cat.ns.t VERSION AS OF <v>`:
    * a NUMERIC version is a snapshot id; a non-numeric one is a
    * BRANCH name (d19's WAP branches — Iceberg's branch reads:
    * `VERSION AS OF 'audit'` inspects staged-but-unpublished commits
    * without touching main) or a TAG (d57 — immutable pinned refs;
    * the two namespaces are disjoint by construction). Either way
    * the returned table is pinned (read-only) to the resolved
    * snapshot's files and stats. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    val m = IceLite.readManifest(ref)
    val id = version.toLongOption
      .orElse(m.branches.get(version))
      .orElse(m.tags.get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a snapshot id, a branch, nor a tag of " +
          s"${ident.name} (branches: ${m.branches.keys.toSeq.sorted.mkString(", ")}; " +
          s"tags: ${m.tags.keys.toSeq.sorted.mkString(", ")})"))
    require(m.snapshots.exists(_.id == id),
      s"no snapshot $id in ${ident.name} (expired past retention?)")
    new IceLiteTable(ref, IceLiteSource.schemaOf(ref, Some(id)), Some(id))
  }

  /** `TIMESTAMP AS OF <t>`: Spark hands the cutoff in MICROseconds;
    * resolve the newest snapshot at-or-before it — the same
    * wall-clock semantics as IceLite.readAsOf (d14). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    val cutoffMs = timestamp / 1000
    val m = IceLite.readManifest(ref)
    val snap = m.snapshots.filter(_.timestampMs <= cutoffMs)
      .sortBy(_.id).lastOption.getOrElse(throw new IllegalArgumentException(
        s"no snapshot in ${ident.name} at or before $cutoffMs " +
          s"(first commit is ${m.snapshots.map(_.timestampMs).min})"))
    new IceLiteTable(ref, IceLiteSource.schemaOf(ref, Some(snap.id)), Some(snap.id))
  }

  override def tableExists(ident: Identifier): Boolean =
    IceLite.tableExists(refOf(ident))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val ref = refOf(ident)
    if (IceLite.tableExists(ref)) throw new TableAlreadyExistsException(ident)
    IceLite.createNamespace(warehouse, ident.namespace.head)
    val props = IceLiteCatalog.tableProperties(properties)
    if (partitions.isEmpty) {
      // an EMPTY flat table with its declared schema in the manifest
      // (one CAS create commit) — a pre-insert SELECT answers empty
      // and the REST face can spool it, same as d68's partitioned
      // DDL. CTAS never lands here (StagingTableCatalog owns it).
      IceLite.replaceTableStaged(ref, Nil, Nil, schema.toDDL,
        mustNotExist = true, mustExist = false, properties = props)
      new IceLiteTable(ref, schema)
    } else IceLiteCatalog.transformSpecOf(partitions) match {
      case Some(spec) =>
        // d84: `CREATE TABLE … PARTITIONED BY (bucket(8, id),
        // days(ts), …)` — a hidden-partition table born in SQL. The
        // schema stays exactly as declared (source columns live in
        // the data pages; the derived dirs never enter the schema)
        IceLite.createEmptyTransformed(ref, schema.toDDL, spec, props)
        new IceLiteTable(ref, schema)
      case None =>
        // d68: `CREATE TABLE … PARTITIONED BY (c, …)`
        val (ordered, cols) = partitionedShape(schema, partitions)
        IceLite.createEmptyPartitioned(ref, ordered.toDDL, cols, props)
        new IceLiteTable(ref, ordered)
    }
  }

  private def partitionedShape(schema: StructType,
      partitions: Array[Transform]): (StructType, Seq[String]) =
    IceLiteCatalog.partitionedShape(schema, partitions)

  // ---- d70: atomic CREATE [OR REPLACE] / REPLACE TABLE AS SELECT ----

  /** The staged path: Spark writes the SELECT through the returned
    * table FIRST (invisible under `data/<token>/`), then one CAS
    * commit publishes it — Iceberg's transactional replace, not the
    * non-atomic drop-then-create fallback. */
  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      mustNotExist: Boolean, mustExist: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val ref = refOf(ident)
    if (mustNotExist && IceLite.tableExists(ref))
      throw new TableAlreadyExistsException(ident)
    if (mustExist && !IceLite.tableExists(ref))
      throw new NoSuchTableException(ident)
    IceLite.createNamespace(warehouse, ident.namespace.head)
    val tSpec = if (partitions.isEmpty) None
      else IceLiteCatalog.transformSpecOf(partitions)
    val (ordered, cols) =
      if (partitions.isEmpty || tSpec.isDefined) (schema, Nil)
      else partitionedShape(schema, partitions)
    val spec = tSpec.getOrElse(Nil)
    val props = IceLiteCatalog.tableProperties(properties)
    new IceLiteStagedTable(ref, ordered, cols, spec, files => {
      IceLite.replaceTableStaged(ref, files, cols, ordered.toDDL,
        mustNotExist, mustExist, spec, props); ()
    })
  }

  private def structOf(columns: Array[org.apache.spark.sql.connector.catalog.Column]): StructType =
    StructType(columns.map(c => org.apache.spark.sql.types
      .StructField(c.name, c.dataType, c.nullable)))

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, structOf(columns), partitions, properties,
      mustNotExist = true, mustExist = false)

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, structOf(columns), partitions, properties,
      mustNotExist = false, mustExist = true)

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, structOf(columns), partitions, properties,
      mustNotExist = false, mustExist = false)

  override def dropTable(ident: Identifier): Boolean = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) return false
    val all = IceLite.listDir(java.nio.file.Files.walk(ref.dir))(_.toSeq)
    all.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    true
  }

  /** `ALTER TABLE cat.ns.t ADD COLUMN c type` (d51) and
    * `DROP COLUMN c` (d52): metadata-only CAS commits — no data file
    * is touched at any table size. An added column is nullable,
    * visible from the current snapshot onward (files that predate it
    * null-fill at read time; time travel to earlier snapshots does
    * not see it); the next INSERT may write it. A dropped column
    * keeps its bytes but is never projected again (and its name can
    * never be re-added — no field ids to disambiguate stale values);
    * time travel to a pre-drop snapshot still sees it. A RENAMED
    * column (d58) keeps its bytes under the old name in old files —
    * readers resolve the current name through the rename chain per
    * file. A WIDENED column (d66: int→bigint / float→double, the
    * lossless Iceberg promotions) keeps narrow bytes in old files —
    * readers upcast at decode. Anything else (lossy type changes,
    * nested fields) refuses loudly — those need a rewrite, not a
    * metadata flip. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"icelite supports top-level columns only, got " +
            add.fieldNames.mkString("."))
        IceLite.alterAddColumn(ref, add.fieldNames.head,
          add.dataType.catalogString)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"icelite supports top-level columns only, got " +
            del.fieldNames.mkString("."))
        IceLite.alterDropColumn(ref, del.fieldNames.head)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"icelite supports top-level columns only, got " +
            ren.fieldNames.mkString("."))
        IceLite.alterRenameColumn(ref, ren.fieldNames.head, ren.newName)
      case upd: TableChange.UpdateColumnType =>
        // d66: `ALTER COLUMN c TYPE <wider>` — metadata-only Iceberg
        // type promotion (int→bigint, float→double); IceLite validates
        require(upd.fieldNames.length == 1,
          s"icelite supports top-level columns only, got " +
            upd.fieldNames.mkString("."))
        IceLite.alterWidenColumn(ref, upd.fieldNames.head,
          upd.newDataType.catalogString)
      case set: TableChange.SetProperty =>
        // d82: metadata-only property commit; honored keys validated
        IceLite.alterSetProperties(ref, Map(set.property -> set.value))
      case unset: TableChange.RemoveProperty =>
        IceLite.alterUnsetProperties(ref, Seq(unset.property))
      case other => throw new UnsupportedOperationException(
        s"icelite ALTER TABLE supports ADD/DROP/RENAME COLUMN, " +
          s"ALTER COLUMN TYPE widening, and SET/UNSET TBLPROPERTIES, " +
          s"got $other")
    }
    loadTable(ident)
  }

  /** d83: partition-spec evolution DDL (ADD/DROP PARTITION FIELD) —
    * metadata-only flips of the declared write layout; the parser
    * intercept routes here because stock Spark has no syntax for it
    * (Iceberg's extensions add the same grammar). */
  override def addPartitionField(ident: Identifier, col: String): Unit = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    IceLite.alterAddPartitionField(ref, col)
  }
  override def dropPartitionField(ident: Identifier, col: String): Unit = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    IceLite.alterDropPartitionField(ref, col)
  }
  override def addPartitionFieldTransform(ident: Identifier,
      transform: String, sourceCol: String, param: Int): Unit = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    IceLite.alterAddPartitionFieldTransform(ref, transform, sourceCol, param)
  }
  /** d89: sort-order DDL — a metadata-only flip of the declared
    * write order (compact() materializes; see alterWriteOrdered). */
  override def setWriteOrder(ident: Identifier, col: Option[String]): Unit = {
    val ref = refOf(ident)
    if (!IceLite.tableExists(ref)) throw new NoSuchTableException(ident)
    IceLite.alterWriteOrdered(ref, col)
  }

  /** `ALTER TABLE … RENAME TO …` — Iceberg's catalog-pointer move,
    * carried out as IceLite's zero-copy relocation (data hard-linked
    * at the same relative names, manifest travels byte-identical, one
    * CAS claim on the destination pointer — see IceLite.renameTable
    * for the crash/race contract). History, refs, tags and MoR
    * sidecars all survive; views that referenced the old name break
    * at next read, the stored-SQL behavior Iceberg views share. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val f = refOf(from)
    val t = refOf(to)
    if (!IceLite.tableExists(f)) throw new NoSuchTableException(from)
    if (IceLite.tableExists(t)) throw new TableAlreadyExistsException(to)
    try IceLite.renameTable(f, t)
    catch {
      case e: IllegalStateException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        throw new TableAlreadyExistsException(to)
    }
  }

  // ---- views (d74) ----

  /** SQL views (d74) — the reference's dbt DEFAULT materialization
    * (README.md:79-98). A view is stored SQL text re-analyzed at read
    * (IceLiteViews), so underlying-table evolution flows through and
    * a view over a dropped column fails honestly at read time. */
  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    IceLiteViews.list(warehouse, ns.head)
      .map(Identifier.of(ns, _)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      IceLiteViews.exists(warehouse, ident.namespace.head, ident.name)

  override def loadView(ident: Identifier): View = {
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    IceLiteViews.load(warehouse, ident.namespace.head, ident.name)
      .map(IceLiteViews.asSparkView(ident, _))
      .getOrElse(throw new NoSuchViewException(ident))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    // a name can be a table OR a view, never both — same rule as Spark's
    // session catalog and Iceberg's view spec
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    IceLite.createNamespace(warehouse, ident.namespace.head)
    val v = IceLiteViews.defOf(info)
    if (!IceLiteViews.write(warehouse, ident.namespace.head, ident.name, v,
        replace = false))
      throw new ViewAlreadyExistsException(ident)
    IceLiteViews.asSparkView(ident, v)
  }

  /** CREATE OR REPLACE VIEW: one atomic rename — readers see either
    * the old or the new definition, never a missing view. */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    require(ident.namespace.length == 1,
      s"icelite namespaces are single-level, got ${ident.namespace.mkString(".")}")
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (!orCreate && !viewExists(ident)) throw new NoSuchViewException(ident)
    IceLite.createNamespace(warehouse, ident.namespace.head)
    val v = IceLiteViews.defOf(info)
    IceLiteViews.write(warehouse, ident.namespace.head, ident.name, v,
      replace = true)
    IceLiteViews.asSparkView(ident, v)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*): View = {
    val ns = ident.namespace.head
    val cur = IceLiteViews.load(warehouse, ns, ident.name)
      .getOrElse(throw new NoSuchViewException(ident))
    val next = changes.foldLeft(cur) { (v, ch) => ch match {
      case set: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty =>
        v.copy(properties = v.properties + (set.property -> set.value))
      case rm: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty =>
        v.copy(properties = v.properties - rm.property)
      case other => throw new UnsupportedOperationException(
        s"icelite ALTER VIEW supports SET/UNSET TBLPROPERTIES only, got $other")
    }}
    IceLiteViews.write(warehouse, ns, ident.name, next, replace = true)
    IceLiteViews.asSparkView(ident, next)
  }

  override def dropView(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      IceLiteViews.drop(warehouse, ident.namespace.head, ident.name)

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    IceLiteViews.rename(warehouse, from.namespace.head, from.name,
      to.namespace.head, to.name)
  }

  // ---- procedures (d44) ----

  /** `CALL cat.system.<proc>(...)` — the SQL maintenance loop
    * (compact / expire / rollback / gc), Iceberg's stored-procedure
    * UX over IceLite's own operations. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got " +
        s"${(ident.namespace :+ ident.name).mkString(".")}")
    IceLiteProcedures(warehouse, catalogName, ident.name).getOrElse(
      throw new RuntimeException(s"unknown procedure '${ident.name}' " +
        s"(have: ${IceLiteProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else IceLiteProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    IceLite.listNamespaces(warehouse).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      IceLite.listNamespaces(warehouse).contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    require(namespace.length == 1,
      s"icelite namespaces are single-level, got ${namespace.mkString(".")}")
    IceLite.createNamespace(warehouse, namespace.head)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("icelite namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val ns = java.nio.file.Paths.get(warehouse, namespace.head)
    val tables = IceLite.listTables(warehouse, namespace.head)
    require(tables.isEmpty || cascade,
      s"namespace ${namespace.head} holds ${tables.size} tables (use CASCADE)")
    val all = IceLite.listDir(java.nio.file.Files.walk(ns))(_.toSeq)
    all.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    true
  }
}

object IceLiteCatalog extends org.apache.spark.internal.Logging {
  /** The TBLPROPERTIES a create or CTAS/RTAS commit lands: Spark's
    * reserved keys (provider, location, …) describe the statement. */
  private[graft] def tableProperties(
      properties: JMap[String, String]): Map[String, String] =
    properties.asScala.toMap -- Seq(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION)

  /** d68/d70: identity transforms only (hidden-partition transforms
    * write through the engine). Partition values are PATH-BORNE in
    * the Hive layout, so the partition columns surface as strings and
    * sort last — the same shape every populated partitioned read has.
    * Shared by the owning catalog and the REST attachment's DDL face
    * (d76). */
  /** d84: map Spark's transform DDL (`PARTITIONED BY (bucket(8, id),
    * days(ts), truncate(4, s))`) onto the engine's PartitionField
    * spec. None for all-identity specs (the Hive-layout d68 path);
    * mixing identity and transform fields in one spec refuses — this
    * format keeps the two layouts distinct. Derived names follow
    * Iceberg's convention (`<col>_bucket` / `<col>_day` /
    * `<col>_trunc`); the int argument is positional-agnostic
    * (Iceberg's own docs write `bucket(16, id)` but
    * `truncate(col, 4)`). */
  private[graft] def transformSpecOf(
      partitions: Array[Transform]): Option[Seq[graft.icelite.PartitionField]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral}
    if (partitions.forall(_.name == "identity")) return None
    require(partitions.forall(_.name != "identity"),
      "icelite does not mix identity and transform partition fields " +
        "in one spec — declare either all-identity or all-transform")
    Some(partitions.toSeq.map { t =>
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"partition transforms apply to ONE top-level column, got ${t.describe}")
      val src = refs(0).fieldNames.head
      def intArg: Int = t.arguments.collectFirst {
        case l: VLiteral[_] if l.value.isInstanceOf[Number] =>
          l.value.asInstanceOf[Number].intValue
      }.getOrElse(throw new IllegalArgumentException(
        s"${t.describe} needs an integer argument"))
      t.name match {
        case "bucket" =>
          graft.icelite.PartitionField(s"${src}_bucket", "bucket", src, intArg)
        case "days" =>
          graft.icelite.PartitionField(s"${src}_day", "days", src, 0)
        case "years" =>
          graft.icelite.PartitionField(s"${src}_year", "years", src, 0)
        case "months" =>
          graft.icelite.PartitionField(s"${src}_month", "months", src, 0)
        case "hours" =>
          graft.icelite.PartitionField(s"${src}_hour", "hours", src, 0)
        case "truncate" =>
          graft.icelite.PartitionField(s"${src}_trunc", "truncate", src, intArg)
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform '$other' " +
            "(identity | bucket | years | months | days | hours | truncate)")
      }
    })
  }

  private[graft] def partitionedShape(schema: StructType,
      partitions: Array[Transform]): (StructType, Seq[String]) = {
    val cols = partitions.toSeq.map { t =>
      if (t.name != "identity")
        throw new UnsupportedOperationException(
          s"this path supports identity partitioning only, got " +
            s"${t.describe} — hidden-partition (transform) tables are " +
            "created through the owning catalog's SQL DDL or " +
            "IceLite.createOrReplaceTransformed")
      val fieldNames = t.references()(0).fieldNames
      require(fieldNames.length == 1,
        s"icelite partitions on top-level columns only, got ${t.describe}")
      fieldNames.head
    }
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the table schema"))
    // r15: STRING and INT/LONG partition columns keep their declared
    // type (dirs are canonical integral renderings and the readers
    // parse them back, so `WHERE year >= 2023` stays a typed column
    // predicate the scan can claim). Anything else (dates, decimals)
    // still surfaces as STRING — loud, not silent: the Hive-layout
    // convention (values live in the path) has no canonical rendering
    // contract for those types yet.
    cols.foreach { c =>
      val f = schema(schema.fieldIndex(c))
      f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other =>
          logWarning(s"partition column '$c' declared ${other.sql} " +
            "surfaces as STRING (partition values are path-borne in the " +
            "Hive layout) and partition columns sort last in the schema")
      }
    }
    def partType(c: String): org.apache.spark.sql.types.DataType =
      schema(schema.fieldIndex(c)).dataType match {
        case t @ (org.apache.spark.sql.types.IntegerType |
                  org.apache.spark.sql.types.LongType) => t
        case _ => org.apache.spark.sql.types.StringType
      }
    (StructType(
      schema.fields.filterNot(f => cols.contains(f.name)) ++
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          partType(c)))), cols)
  }
}

/** The metadata-table folds, catalog-face-agnostic (d20/d27/d34/d64/
  * d88): both the owning catalog and the REST attachment serve them —
  * the attachment folds its SPOOLED manifest (a byte-faithful copy,
  * one GET for an unchanged table), so the multi-engine audit surface
  * costs wire-metadata, never data pages. */
private[sources] object IceLiteMetadataTables {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  def load(ref: TableRef, displayName: String, meta: String): Table = {
    meta match {
      case "files" =>
        // flat projection of d27's filesDf (the map-typed stats stay
        // on the DataFrame face); collect is O(files) driver metadata
        val rows = IceLite.filesDf(
            org.apache.spark.sql.SparkSession.active, ref)
          .select("file", "size_bytes", "row_count").collect()
          .map(r => Array[Any](UTF8String.fromString(r.getString(0)),
            r.getLong(1), r.getLong(2)))
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("file", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false))), rows)
      case "snapshots" =>
        val m = IceLite.readManifest(ref)
        val rows = m.snapshots.map(s => Array[Any](s.id,
          UTF8String.fromString(s.operation), s.rowCount,
          s.files.size.toLong, s.id == m.currentSnapshotId)).toArray
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("is_current", BooleanType, nullable = false))), rows)
      case "partitions" =>
        val (partitionCols, census) = IceLite.partitionsRows(ref)
        val rows = census.map { case (vals, fc, rc, sb) =>
          (vals.map(v => if (v == null) null
            else UTF8String.fromString(v): Any) ++ Seq(fc, rc, sb)).toArray
        }.toArray
        new StaticRowsTable(displayName, StructType(
          partitionCols.map(c => StructField(c, StringType)) ++ Seq(
            StructField("file_count", LongType, nullable = false),
            StructField("row_count", LongType, nullable = false),
            StructField("size_bytes", LongType, nullable = false))), rows)
      case "refs" =>
        // d64: Iceberg's `t$refs` — every named ref (the `main`
        // branch, WAP branches, tags) with the snapshot it points at.
        // One manifest read, O(refs) rows, zero data pages.
        val m = IceLite.readManifest(ref)
        val rows = (Seq(("main", "branch", m.currentSnapshotId)) ++
          m.branches.toSeq.sortBy(_._1).map { case (n, id) => (n, "branch", id) } ++
          m.tags.toSeq.sortBy(_._1).map { case (n, id) => (n, "tag", id) })
          .map { case (n, tpe, id) => Array[Any](UTF8String.fromString(n),
            UTF8String.fromString(tpe), id) }.toArray
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false))), rows)
      case "history" =>
        // d88: Iceberg's `t$history` — commit lineage with the
        // current-ancestor flag (false for staged WAP-branch commits
        // sitting above the published pointer)
        val rows = IceLite.historyRows(ref).map { case (ts, id, parent, anc) =>
          Array[Any](ts, id, parent.map(Long.box).orNull, anc)
        }.toArray
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("made_current_at_ms", LongType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("parent_id", LongType, nullable = true),
          StructField("is_current_ancestor", BooleanType, nullable = false))), rows)
      case "manifests" =>
        // d88: `t$manifests` — the immutable metadata segments the
        // current version references (shared across snapshots by the
        // append-reuse chains, like Iceberg's shared manifest files)
        val rows = IceLite.manifestsRows(ref).map { case (p, len, snap, nf) =>
          Array[Any](UTF8String.fromString(p), len, snap, nf)
        }.toArray
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("length_bytes", LongType, nullable = false),
          StructField("added_snapshot_id", LongType, nullable = false),
          StructField("files_count", LongType, nullable = false))), rows)
      case "entries" =>
        // d88: `t$entries` — per current data file: added-by-current
        // vs existing, the first-adding snapshot, manifest record
        // count (-1 when the manifest predates per-file counts)
        val rows = IceLite.entriesRows(ref).map { case (st, snap, f, rc, sz) =>
          Array[Any](st, snap, UTF8String.fromString(f), rc, sz)
        }.toArray
        new StaticRowsTable(displayName, StructType(Seq(
          StructField("status", IntegerType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("file_path", StringType, nullable = false),
          StructField("record_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false))), rows)
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$$$other' (have: snapshots, partitions, " +
          "files, refs, history, manifests, entries)")
    }
  }
}
