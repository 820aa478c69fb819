package graft.icelite

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter => SchemaConverter}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** "IceLite" — a minimal snapshot/manifest table layer over the local
  * filesystem, replacing the role Iceberg plays in the reference
  * (catalog + snapshots + atomic writes + expiry:
  * /root/reference/scripts/extract_load.py:42-51, 94-110, 167-171).
  * See SURVEY.md §7.3.
  *
  * Layout: `warehouse/<namespace>/<table>/manifest.vNNNNNNNN.json`
  * (monotonically versioned) + staged Parquet under `data/<token>/`.
  * Commits are optimistic compare-and-swap: a writer serializes the
  * next manifest to a private tmp file and claims version V+1 with an
  * atomic hard-link (`Files.createLink` fails with EEXIST if another
  * writer got there first), then rebases on the new latest manifest
  * and retries. Data files are staged before the CAS loop, so retries
  * re-commit metadata only. This is the same optimistic-concurrency
  * protocol Iceberg runs through its catalog — multi-writer appends
  * never lose snapshots (raced in IceLiteConcurrencySpec). Readers
  * always see a complete manifest (tmp is fully written before link).
  *
  * Reads resolve the current (or a time-travelled) snapshot to a
  * concrete file list *before* plan construction, so Catalyst sees
  * ordinary Parquet relations and all pushdown/pruning machinery
  * applies unchanged. Manifest listings are O(versions) driver-side
  * metadata only.
  */
/** Per-file numeric column range, the manifest-level pruning stat
  * (Iceberg's min/max file-skipping role, SURVEY §4.2). Read from the
  * data file's parquet footer. The unit is the parquet physical value,
  * except that decimals are scaled: integers and floats as stored,
  * decimals in their SQL value, DATE in epoch days, TIMESTAMP and
  * TIMESTAMP_NTZ in epoch microseconds. Footers widen a zero bound
  * (a min of 0.0 reads back as -0.0, a max of -0.0 as +0.0). */
final case class ColStats(col: String, min: Double, max: Double)

/** d56: a HIDDEN-partitioning field (Iceberg partition transforms).
  * The directory column `name` is DERIVED from `sourceCol` by
  * `transform` at write time — "bucket" (param = bucket count,
  * Spark's Murmur3 `hash` pmod param), "days" (UTC day string of a
  * timestamp), "truncate" (param-width string prefix). Unlike
  * identity partitioning the data files KEEP the source column and
  * never store the derived value: queries keep filtering the SOURCE
  * column and pruning maps each predicate through the transform to
  * the matching directory values (Iceberg's headline UX — users
  * can't write a wrong partition filter because they never see the
  * partition column). */
final case class PartitionField(name: String, transform: String,
    sourceCol: String, param: Int = 0)

/** d89 (r13): one write-order key with direction. A whole order is an
  * ordered key LIST, encoded in the manifest's single legacy string
  * field as `"c1 DESC,c2"` — a legacy single-column marker (`"c1"`)
  * parses unchanged as one ascending key, so pre-r13 manifests read
  * without migration. Directions matter to write-steering (range
  * clustering + in-file order) and to the layout claims
  * (layout-preserving rewrites re-cluster by the SAME order); stats
  * pruning reads per-file [min,max], which is direction-agnostic. */
final case class SortKey(col: String, asc: Boolean,
    // r14: NULLS FIRST/LAST modifier (None = Spark's direction
    // default: ASC → nulls first, DESC → nulls last)
    nullsFirst: Option[Boolean] = None,
    // r14: transform key ("days(ts)", "bucket(8,id)", "truncate(4,s)")
    // — (name, param); param 0 for the time transforms. `col` is
    // always the SOURCE column (stats collection and pruning key off
    // it).
    transform: Option[(String, Int)] = None) {
  def render: String = {
    val key = transform match {
      case None => col
      case Some((t, 0)) => s"$t($col)"
      case Some((t, p)) => s"$t($p,$col)"
    }
    key + (if (asc) "" else " DESC") + (nullsFirst match {
      case None => ""
      case Some(true) => " NULLS FIRST"
      case Some(false) => " NULLS LAST"
    })
  }
}

object SortKey {
  private val timeTransforms = Set("days", "months", "years", "hours")

  /** Comma-split at paren depth 0 — transform args contain commas. */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case ch => sb += ch
    }
    out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val TokenRe =
    ("""(?i)^(?:(\w+)\s*\(\s*([^)]*)\s*\)|(`?\w+`?))""" +
      """(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$""").r

  /** Parse an encoded order ("a DESC, days(ts), bucket(8,id) NULLS
    * LAST, b") — loud on anything that is not
    * `col-or-transform [ASC|DESC] [NULLS FIRST|LAST]` per top-level
    * comma-separated token. */
  def parse(enc: String): Seq[SortKey] =
    splitTop(enc).map { t =>
      t.trim match {
        case TokenRe(tf, args, plain, dir, nulls) =>
          val asc = dir == null || dir.equalsIgnoreCase("asc")
          val nf = Option(nulls).map(_.equalsIgnoreCase("first"))
          if (tf == null) SortKey(stripTicks(plain), asc, nf, None)
          else {
            val name = tf.toLowerCase
            val parts = args.split(',').map(_.trim)
              .filter(_.nonEmpty).map(stripTicks)
            // r15 (ADVICE): canonical Iceberg argument order ONLY —
            // bucket|truncate(n, col). The old all-digits heuristic
            // also accepted (col, n) and silently reinterpreted
            // ambiguous tokens, and made a digits-named column
            // unusable as a transform sort key.
            (name, parts) match {
              case (n, Array(c)) if timeTransforms(n) =>
                SortKey(c, asc, nf, Some((n, 0)))
              case (n @ ("bucket" | "truncate"), Array(a, b))
                  if a.nonEmpty && a.forall(_.isDigit) && a.toInt >= 1 =>
                SortKey(b, asc, nf, Some((n, a.toInt)))
              case (n @ ("bucket" | "truncate"), Array(_, b))
                  if b.nonEmpty && b.forall(_.isDigit) =>
                throw new IllegalArgumentException(
                  s"sort transform '$t' has reversed arguments — the " +
                    s"grammar is $n(n, col), e.g. $n($b, ${parts(0)})")
              case _ => throw new IllegalArgumentException(
                s"unparseable sort transform '$t' (expected days|months|" +
                  "years|hours(col) or bucket|truncate(n, col))")
            }
          }
        case other => throw new IllegalArgumentException(
          s"unparseable sort key '$other' " +
            "(expected: col-or-transform [ASC|DESC] [NULLS FIRST|LAST])")
      }
    }

  private def stripTicks(c: String): String =
    c.stripPrefix("`").stripSuffix("`")

  def render(keys: Seq[SortKey]): String = keys.map(_.render).mkString(",")

  /** Canonical form — the one the manifest stores ("a DESC,b"). */
  def canon(enc: String): String = render(parse(enc))

  /** The SOURCE columns of an (optional) encoded marker, in order. */
  def cols(marker: Option[String]): Seq[String] =
    marker.toSeq.flatMap(parse).map(_.col)

  /** Directed Columns for repartitionByRange / sortWithinPartitions.
    * Transform keys evaluate the SAME expressions the hidden-
    * partition write layout derives dirs with ([[IceLite]]'s
    * transformExpr shapes), so `ORDERED BY days(ts)` clusters exactly
    * the way a days() layout would lay out. */
  def exprs(enc: String): Seq[org.apache.spark.sql.Column] =
    parse(enc).map { k =>
      import org.apache.spark.sql.functions._
      val base = k.transform match {
        case None => col(k.col)
        case Some(("bucket", n)) => pmod(hash(col(k.col)), lit(n))
        case Some(("truncate", w)) => substring(col(k.col), 1, w)
        case Some(("days", _)) => date_format(col(k.col), "yyyy-MM-dd")
        case Some(("months", _)) => date_format(col(k.col), "yyyy-MM")
        case Some(("years", _)) => date_format(col(k.col), "yyyy")
        case Some(("hours", _)) => date_format(col(k.col), "yyyy-MM-dd-HH")
        case Some((t, _)) => throw new IllegalArgumentException(
          s"unknown sort transform '$t'")
      }
      (k.asc, k.nullsFirst) match {
        case (true, None) => base.asc
        case (true, Some(true)) => base.asc_nulls_first
        case (true, Some(false)) => base.asc_nulls_last
        case (false, None) => base.desc
        case (false, Some(true)) => base.desc_nulls_first
        case (false, Some(false)) => base.desc_nulls_last
      }
    }
}

final case class Snapshot(
    id: Long,
    timestampMs: Long,
    operation: String,            // "create" | "replace" | "append"
    files: Seq[String],           // data files, relative to table dir
    rowCount: Long,
    fileStats: Map[String, Seq[ColStats]] = Map.empty,
    partitionCols: Seq[String] = Nil, // Hive-style layout when non-empty
    sortedBy: Option[String] = None,  // range-partitioned + sorted files
    // writer-supplied key/values committed ATOMICALLY with the snapshot
    // (Iceberg's snapshot summary role) — e.g. a streaming sink's
    // batch id, so data + marker can never diverge under a crash
    summary: Map[String, String] = Map.empty,
    // exact per-file row counts (Iceberg's manifest record_count):
    // lets COUNT — global or grouped by a file-constant column — be
    // answered from metadata alone. Absent in pre-upgrade manifests;
    // consumers must fall back (footer read / full scan) on a gap.
    fileRows: Map[String, Long] = Map.empty,
    // d47: MERGE-ON-READ position-delete sidecars (Iceberg v2
    // position deletes / deletion vectors): parquet files of
    // (file_path, pos) rows under deletes/, applied as an anti-join
    // at read time. Empty = pure copy-on-write snapshot. fileStats /
    // fileRows still describe the PHYSICAL files (deleted rows
    // included) — stats stay conservative-correct for pruning, but
    // metadata-only COUNT paths must refuse while deletes are live.
    deleteFiles: Seq[String] = Nil,
    // d56: hidden-partitioning spec (transform-derived directory
    // layout). Disjoint from partitionCols: identity layouts carry
    // their values in the path AND drop them from the files, while a
    // transformed layout derives the dir value and keeps the source
    // column in the data — reads are plain file reads, only pruning
    // consults the dirs.
    partitionSpec: Seq[PartitionField] = Nil,
    // d72: MERGE-ON-READ equality-delete sidecars (Iceberg v2
    // equality deletes — the CDC-friendly delete: a batch of KEY
    // tuples, no positions needed). Sequence semantics via snapshot
    // ids: a sidecar written at snapshot D deletes matching rows of
    // files ADDED STRICTLY BEFORE D — a later re-insert of the same
    // key survives, exactly Iceberg's sequence-number rule.
    eqDeletes: Seq[EqDelete] = Nil,
    // d88: REAL commit lineage (Iceberg's parent-snapshot-id). The
    // parent is the snapshot this commit was BUILT ON — the pre-commit
    // main head for ordinary commits, the branch's previous head for
    // staged WAP appends, the rollback TARGET for rollback (the undone
    // snapshots are NOT on the restored lineage). Stamped centrally at
    // commit (commitCAS → stampParents); None on the first snapshot
    // and on pre-upgrade manifests (readers fall back to
    // previous-in-sequence, the old implied lineage).
    parentId: Option[Long] = None,
    // r14: per-sidecar census of the LOGICAL rows it killed, keyed
    // sidecar rel path → (data-file rel path → dead rows), recorded
    // at MoR-commit time (the write already scans the matched rows —
    // one extra O(touched files) grouped count). Lets a PRUNED
    // MoR-live scan report exact logical rows by subtracting only
    // the tombstones whose files survive pruning. Consumers must
    // treat a live sidecar WITHOUT an entry as "unknown" and decline
    // (pre-upgrade manifests, or a commit path that did not carry
    // the map forward); stale entries for cleared sidecars are
    // ignored by construction (only live sidecars are consulted).
    sidecarDead: Map[String, Map[String, Long]] = Map.empty) {
  /** Live MoR sidecars of either kind — the guard every rewrite /
    * overwrite / metadata-count path checks before trusting the
    * physical file set. */
  def morLive: Boolean = deleteFiles.nonEmpty || eqDeletes.nonEmpty

  /** THE snapshot producer (Iceberg's `SnapshotProducer` role): the
    * snapshot a commit builds on this one. A commit states only its
    * delta — files removed and added (with their row counts and
    * stats), the logical rows it removes (files' rows or rows its
    * new sidecars kill, each commit counting its own way), sidecars
    * added, its summary, and any layout field it changes on purpose.
    * The layout (`partitionCols`, `partitionSpec`, `sortedBy`) and
    * the live sidecars (`deleteFiles`, `eqDeletes`, `sidecarDead`)
    * are inherited; fresh snapshots build on [[Snapshot.empty]].
    * A delta that adds and removes no file hands back this
    * snapshot's own `files`, `fileStats` and `fileRows` instances —
    * the segment writer's identity reuse writes no segment for them.
    * `parentId` stays None for commitCAS to stamp unless declared. */
  def next(id: Long, operation: String,
      removed: Set[String] = Set.empty, removedRows: Long = 0L,
      added: Seq[String] = Nil, addedRows: Map[String, Long] = Map.empty,
      addedStats: Map[String, Seq[ColStats]] = Map.empty,
      addedDeletes: Seq[String] = Nil, addedEqDeletes: Seq[EqDelete] = Nil,
      addedDead: Map[String, Map[String, Long]] = Map.empty,
      summary: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = this.partitionCols,
      partitionSpec: Seq[PartitionField] = this.partitionSpec,
      sortedBy: Option[String] = this.sortedBy,
      parentId: Option[Long] = None): Snapshot = {
    val same = removed.isEmpty && added.isEmpty
    copy(id = id, timestampMs = System.currentTimeMillis(),
      operation = operation,
      files = if (same) files else files.filterNot(removed) ++ added,
      rowCount = rowCount - removedRows + addedRows.values.sum,
      fileStats = if (same) fileStats else fileStats -- removed ++ addedStats,
      fileRows = if (same) fileRows else fileRows -- removed ++ addedRows,
      partitionCols = partitionCols, sortedBy = sortedBy,
      summary = summary, partitionSpec = partitionSpec,
      deleteFiles = deleteFiles ++ addedDeletes,
      eqDeletes = eqDeletes ++ addedEqDeletes,
      sidecarDead = sidecarDead ++ addedDead, parentId = parentId)
  }
}

object Snapshot {
  /** The base every fresh snapshot (create, replace, CTAS, clone,
    * compaction) builds on: no files, no layout, no sidecars. Also
    * the changelog's "before the first snapshot" sentinel. */
  val empty: Snapshot = Snapshot(-1L, 0L, "empty", Nil, 0L)
}

/** d72: one equality-delete sidecar — a parquet file of key tuples
  * under deletes/, with the key columns and the snapshot it was
  * committed at (its "sequence number"). */
final case class EqDelete(file: String, keyCols: Seq[String],
    snapshotId: Long)

/** A column added by `ALTER TABLE ADD COLUMN` (d51) that may not yet
  * exist in any data file: readers surface NULL for files written
  * before it. `sinceSnapshotId` scopes the column to snapshots from
  * that id onward — a time-travel read of an earlier snapshot does
  * not see it (Iceberg's per-snapshot schema-id semantics, manifest-
  * level instead of a full schema registry). */
final case class AddedCol(name: String, sqlType: String,
    sinceSnapshotId: Long)

/** d58: a column renamed by `ALTER TABLE RENAME COLUMN` — metadata
  * only. Files written before the rename keep the bytes under
  * `from`; readers project the CURRENT name and fall back through
  * the rename chain per file (the alias role Iceberg's field ids
  * play). Scoped like AddedCol: time travel before `sinceSnapshotId`
  * sees the old name. */
final case class RenamedCol(from: String, to: String,
    sinceSnapshotId: Long)

final case class WidenedCol(name: String, fromType: String,
    toType: String, sinceSnapshotId: Long)

/** d67: how a partitioned DSv2 write resolves against existing files. */
sealed trait PartitionedWriteMode
object PartitionedWriteMode {
  /** INSERT INTO — keep every existing file. */
  case object Append extends PartitionedWriteMode
  /** INSERT OVERWRITE (static, no PARTITION clause) — replace all. */
  case object ReplaceAll extends PartitionedWriteMode
  /** INSERT OVERWRITE PARTITION (c=v, …) — replace exactly the files
    * whose path values match every equality. */
  final case class ReplaceWhere(eq: Map[String, String])
    extends PartitionedWriteMode
  /** Dynamic partition overwrite — replace exactly the partitions the
    * incoming rows actually touch (Iceberg/Hive dynamic mode). */
  case object ReplaceDynamic extends PartitionedWriteMode
}

/** The one commit request of every connector write: the write's stage
  * has staged (and, for value-dir layouts, promoted) its files in the
  * table's storage; this names the snapshot to make of them. The owning
  * catalog applies it in-process ([[IceLite.applyCommit]]); the REST
  * attachment POSTs it as JSON, and the catalog service applies the
  * same request. `operation` selects the commit shape:
  *  - `append` / `overwrite`            flat tables (commitStaged)
  *  - `append-partitioned` /
  *    `overwrite-partitioned`           Hive-layout tables; `mode` is
  *                                      all|dynamic|static (+`eq` for
  *                                      static partition filters)
  *  - `append-transformed` /
  *    `overwrite-transformed`           hidden-partition (d56) tables:
  *                                      promoted derived-dir files,
  *                                      validated against the spec
  *  - `replace`                         row-level rewrite: swap
  *                                      `removed` for `added`
  *                                      (`opName` names the statement)
  *  - `compact`                         remote compaction, claimed
  *                                      only at `expectedVersion` + 1
  */
final case class CommitReq(
    operation: String,
    added: Seq[String] = Nil,
    removed: Seq[String] = Nil,
    mode: Option[String] = None,
    eq: Map[String, String] = Map.empty,
    opName: Option[String] = None,
    keepSorted: Boolean = false,
    expectedVersion: Option[Long] = None)

final case class Manifest(
    table: String,
    currentSnapshotId: Long,
    snapshots: Seq[Snapshot],
    // named branch → snapshot id (Iceberg refs): staged candidates
    // readers of main never see until publish fast-forwards (d19)
    branches: Map[String, Long] = Map.empty,
    // d57: named TAGS → snapshot id (Iceberg tags — immutable refs):
    // a tagged snapshot is pinned through retention ("the v1 training
    // snapshot", "the audited quarter-end") and readable forever via
    // `VERSION AS OF '<tag>'`. Unlike branches a tag never moves and
    // is never consumed by publish; dropping it is the only way to
    // let the snapshot expire.
    tags: Map[String, Long] = Map.empty,
    // ALTER TABLE ADD COLUMN ledger (d51): schema columns that exist
    // independently of the data files. Commit paths carry it forward
    // by evolving the manifest with copy() (NOTES rule 21).
    addedCols: Seq[AddedCol] = Nil,
    // ALTER TABLE DROP COLUMN ledger (d52): columns hidden from
    // snapshots at-or-after sinceSnapshotId. The data files keep the
    // bytes (the drop is metadata-only); readers stop projecting the
    // name. A dropped name can never be re-added — without Iceberg's
    // field ids, a re-add would resurface the old files' stale
    // values under the new column.
    droppedCols: Seq[AddedCol] = Nil,
    // ALTER TABLE RENAME COLUMN ledger (d58): zero bytes move; the
    // connector resolves the current name through the chain per
    // file. Names on either side of a rename are retired forever
    // (re-adding or re-targeting them would resurface stale bytes
    // — the same no-field-ids rule as droppedCols).
    renamedCols: Seq[RenamedCol] = Nil,
    // ALTER TABLE ALTER COLUMN TYPE ledger (d66): Iceberg's safe
    // type promotions (int→bigint, float→double), metadata-only.
    // Files written before the widen keep their narrow bytes;
    // readers upcast at decode time (lossless by promotion rule).
    widenedCols: Seq[WidenedCol] = Nil,
    // d68: DDL-declared schema for a table created EMPTY (SQL
    // `CREATE TABLE … PARTITIONED BY`): the schema of record until
    // the first data file lands (schema-on-read takes over after).
    declaredSchemaDdl: Option[String] = None,
    // d82: TABLE PROPERTIES (Iceberg table properties / SET
    // TBLPROPERTIES): free-form key→value carried by every commit;
    // honored keys (read.split.target-size) steer the engine, the
    // rest are user metadata (dbt/Trino config travel). Metadata-only
    // CAS commits, like every ALTER.
    properties: Map[String, String] = Map.empty,
    // d83: the DECLARED write layout (Iceberg's default partition
    // spec after `ALTER TABLE … ADD/DROP PARTITION FIELD`): future
    // appends land under THIS identity layout; existing files keep
    // their own (per-snapshot layouts, d15's read machinery). None =
    // write in the current snapshot's layout (no evolution pending).
    declaredPartitionCols: Option[Seq[String]] = None,
    // d85: the DECLARED hidden-partition spec (`ALTER TABLE … ADD/
    // DROP PARTITION FIELD bucket(8, id)` etc.): future appends
    // derive THIS spec's dirs; existing files keep theirs. Transform
    // layouts are reader-invisible (source columns stay in data
    // pages; pruning keeps dir-less files conservatively), so era
    // mixing needs no read-side rule at all. Mutually exclusive with
    // declaredPartitionCols — a table evolves within ONE layout kind.
    declaredPartitionSpec: Option[Seq[PartitionField]] = None,
    // d89: the DECLARED write order (`ALTER TABLE … WRITE ORDERED BY
    // col` — Iceberg's sort-order DDL): future writes range-cluster +
    // sort by this column; existing files keep their layout. The
    // SNAPSHOT-level `sortedBy` marker (the whole-table proof that
    // feeds pruning claims) lands only when compact() materializes
    // the declared order across every file — until then the
    // declaration steers writers without overclaiming. Flat tables
    // only (partitioned layouts order within dirs via rewrite).
    declaredSortedBy: Option[String] = None,
    // TABLE IDENTITY (Iceberg's table-uuid): minted once at creation,
    // carried by every commit, NEVER reused. Snapshot ids are
    // sequential (max+1 from 1), so a DROP + re-CREATE can reach the
    // same snapshot id with different content — any consumer that
    // checkpoints snapshot ids (streams) must pin THIS to detect the
    // new incarnation instead of silently skipping/re-reading.
    // Option: pre-upgrade manifests have none (consumers fall back to
    // id-only semantics for them).
    tableUuid: Option[String] = None) {
  def current: Snapshot = snapshots.find(_.id == currentSnapshotId).get
  /** Snapshot ids are sequential from 1. */
  def nextId: Long = snapshots.map(_.id).max + 1
  /** This manifest with `snap` committed as its current snapshot. */
  def advance(snap: Snapshot): Manifest =
    copy(currentSnapshotId = snap.id, snapshots = snapshots :+ snap)
  /** The identity layout the NEXT write must use (d83). */
  def writeLayoutCols: Seq[String] =
    declaredPartitionCols.getOrElse(current.partitionCols)
  /** The transform spec the NEXT write must derive (d85). */
  def writeLayoutSpec: Seq[PartitionField] =
    declaredPartitionSpec.getOrElse(current.partitionSpec)
}

object Manifest {
  def nextId(cur: Option[Manifest]): Long = cur.fold(1L)(_.nextId)
  /** `cur` advanced to `snap`, or a new table's first manifest. */
  def advance(cur: Option[Manifest], table: String, snap: Snapshot): Manifest =
    cur.fold(Manifest(table, snap.id, Seq(snap)))(_.advance(snap))
}

final case class TableRef(warehouse: String, namespace: String, name: String) {
  def nsDir: Path = Paths.get(warehouse, namespace)
  def dir: Path = nsDir.resolve(name)
  def dataDir: Path = dir.resolve("data")
  def deletesDir: Path = dir.resolve("deletes")
}

object IceLite {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** Drain a java.nio directory stream and CLOSE it — Files.list/walk
    * hold an open directory handle until closed (FD leak otherwise). */
  def listDir[A](stream: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(stream.iterator().asScala) finally stream.close()

  /** a08: CREATE NAMESPACE IF NOT EXISTS (extract_load.py:79). */
  def createNamespace(warehouse: String, namespace: String): Unit =
    Files.createDirectories(Paths.get(warehouse, namespace))

  def listNamespaces(warehouse: String): Seq[String] = {
    val w = Paths.get(warehouse)
    if (!Files.exists(w)) Seq.empty
    else listDir(Files.list(w))(_.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted)
  }

  private val ManifestRe = "manifest\\.v(\\d{8})\\.json".r

  /** The storage seam under the metadata layer (manifests, segments,
    * the CAS claim). Swappable for fault-injection/counting specs;
    * production code never reassigns it. Data files stay on Spark's
    * own Hadoop FS path — see FileIO's contract. */
  private[graft] var io: FileIO = LocalFileIO

  /** Highest-version manifest file, if any. */
  private def latestManifestFile(ref: TableRef): Option[(Long, Path)] =
    io.list(ref.dir).flatMap { p =>
      p.getFileName.toString match {
        case ManifestRe(v) => Some((v.toLong, p))
        case _ => None
      }
    }.sortBy(_._1).lastOption

  private def manifestPathFor(ref: TableRef, version: Long): Path =
    ref.dir.resolve(f"manifest.v$version%08d.json")

  /** a09: table-exists check (extract_load.py:84-91). */
  def tableExists(ref: TableRef): Boolean = latestManifestFile(ref).isDefined

  def listTables(warehouse: String, namespace: String): Seq[String] = {
    val ns = Paths.get(warehouse, namespace)
    if (!Files.exists(ns)) Seq.empty
    else listDir(Files.list(ns))(_
      .filter(d => latestManifestFile(TableRef(warehouse, namespace,
        d.getFileName.toString)).isDefined)
      .map(_.getFileName.toString).toSeq.sorted)
  }

  def readManifest(ref: TableRef): Manifest = {
    val (_, path) = latestManifestFile(ref).getOrElse(
      throw new IllegalStateException(s"no manifest for ${ref.name}"))
    decodeManifest(ref, path)
  }

  /** The current manifest WITH its version number — the REST catalog
    * face serves this pair so remote clients can spool-cache by
    * version (graft.sources.rest). */
  def currentManifestVersioned(ref: TableRef): (Long, Manifest) = {
    val (v, path) = latestManifestFile(ref).getOrElse(
      throw new IllegalStateException(s"no manifest for ${ref.name}"))
    (v, decodeManifest(ref, path))
  }

  /** Serialize a manifest in the LEGACY single-JSON layout — the
    * fallback WIRE format of the REST face (decodeManifest reads it
    * forever; served under ?legacy=1 for old attachments). */
  def manifestWireJson(m: Manifest): String = Serialization.write(m)

  /** The SHARDED wire pieces of the current manifest (d77): the
    * version, the pointer file's EXACT bytes, and the meta/ segment
    * basenames it references. Serving raw bytes means the wire
    * inherits the on-disk layout's O(pointer + delta) properties for
    * free: segments are immutable and content-named, so an attachment
    * fetches only the ones it has not spooled yet — an unchanged
    * 10⁶-file table costs one pointer GET, an append costs pointer +
    * one delta segment, never O(files). A LEGACY (pre-shard)
    * manifest file travels the same way: its raw bytes are the whole
    * manifest and its segment list is empty — wire compatibility is
    * structural, not special-cased. */
  def currentManifestWire(ref: TableRef): (Long, String, Seq[String]) = {
    val (v, path) = latestManifestFile(ref).getOrElse(
      throw new IllegalStateException(s"no manifest for ${ref.name}"))
    val raw = io.readString(path)
    import org.json4s.{JArray, JString, JValue}
    def segs(jv: JValue): Seq[String] = jv match {
      case JString(s) => Seq(s)
      case JArray(vs) => vs.flatMap(segs)
      case _ => Nil
    }
    val names = segs(
      org.json4s.jackson.JsonMethods.parse(raw) \ "snapshots" \ "segments")
      .map(_.stripPrefix("meta/")).distinct
    (v, raw, names)
  }

  /** One immutable meta/ segment's exact bytes for the wire; None if
    * absent (e.g. swept after the pointer was fetched — the client
    * re-resolves). The name whitelist keeps this from ever reading
    * outside meta/. */
  def segmentWire(ref: TableRef, name: String): Option[String] = {
    require(name.startsWith("seg-") && name.endsWith(".json") &&
      !name.contains("/") && !name.contains("\\") && !name.contains(".."),
      s"not a segment name: $name")
    val p = ref.dir.resolve("meta").resolve(name)
    if (io.exists(p)) Some(io.readString(p)) else None
  }

  // ---- sharded manifest layout ("seg1") ----------------------------
  //
  // A manifest version file used to carry EVERYTHING — all snapshots
  // × all files × per-file stats — so every commit re-serialized the
  // whole table history (O(files) bytes per commit) and every read
  // re-parsed it. That is the one structure in the engine that grew
  // with table size instead of the delta: at a 100 TB table's file
  // count it is exactly why Iceberg shards its metadata into a
  // manifest LIST plus immutable, shared manifest files.
  //
  // Same split here. The versioned `manifest.vNNNNNNNN.json` is now a
  // POINTER — table-level fields plus one light record per snapshot
  // (id, operation, counts, layout markers, the delta-sized MoR
  // sidecar lists) referencing a CHAIN of immutable segments under
  // `meta/seg-<id>-<uuid>.json`; a segment holds a slice of the
  // snapshot's bulk (file list + per-file stats + per-file row
  // counts), and the snapshot's content is the chain's concatenation.
  // An append's snapshot REUSES the base snapshot's whole chain and
  // adds one delta segment holding only the new files — Iceberg's
  // manifest-reuse move — so commit bytes are O(pointer + delta), not
  // O(table history). Chains cap at SegChainMax: past that, one
  // merged segment is written (Iceberg's min-count-to-merge manifest
  // compaction) — amortized O(files/SegChainMax) per commit, and the
  // pointer stays O(snapshots × SegChainMax) worst-case.
  //
  // Reads parse the pointer and assemble chains through a
  // process-wide cache (segments are immutable, so entries never
  // invalidate, and the same chain always yields the same assembled
  // instances — which is what lets the writer prove "unchanged" by
  // identity). Reuse detection is IDENTITY-based: commit paths carry
  // unchanged snapshots forward by reference (and appends build
  // `base.files ++ added`), so an identity hit plus a per-entry
  // equality check over the base's stats is a cheap structural proof;
  // any miss just re-serializes a full segment (correct, merely less
  // cheap). The legacy single-JSON layout still decodes (the `layout`
  // marker is absent), so pre-upgrade manifests load unchanged.
  // Lost CAS races delete the segments they staged; segments no
  // manifest version references are swept by expireMetadata
  // (gcOrphans never touches meta/ — it walks only data/ and
  // deletes/ for *.parquet).

  private val SegLayout = "seg1"

  /** Chain growth bound: a snapshot whose reuse base already chains
    * this many segments gets one merged segment instead. */
  private val SegChainMax = 64

  /** One immutable slice of a snapshot's bulk. */
  private final case class SnapshotSegment(
      files: Seq[String],
      fileStats: Map[String, Seq[ColStats]],
      fileRows: Map[String, Long])

  /** One snapshot's light record in the pointer file. The MoR
    * sidecar lists ride here — they are delta-sized by nature (live
    * only between CDC batch and compaction). */
  private final case class SnapshotPtr(
      id: Long, timestampMs: Long, operation: String, rowCount: Long,
      partitionCols: Seq[String], sortedBy: Option[String],
      summary: Map[String, String], partitionSpec: Seq[PartitionField],
      deleteFiles: Seq[String], eqDeletes: Seq[EqDelete],
      segments: Seq[String],
      // default keeps pre-parent-tracking pointers decodable
      parentId: Option[Long] = None,
      // default keeps pre-r14 pointers decodable (stats decline)
      sidecarDead: Map[String, Map[String, Long]] = Map.empty)

  private final case class ManifestPtr(
      layout: String,
      table: String,
      currentSnapshotId: Long,
      snapshots: Seq[SnapshotPtr],
      branches: Map[String, Long],
      tags: Map[String, Long],
      addedCols: Seq[AddedCol],
      droppedCols: Seq[AddedCol],
      renamedCols: Seq[RenamedCol],
      widenedCols: Seq[WidenedCol],
      declaredSchemaDdl: Option[String],
      // defaults keep pre-d82/d83/d85/d89 pointers decodable
      properties: Map[String, String] = Map.empty,
      declaredPartitionCols: Option[Seq[String]] = None,
      declaredPartitionSpec: Option[Seq[PartitionField]] = None,
      declaredSortedBy: Option[String] = None,
      tableUuid: Option[String] = None)

  /** An assembled chain: the exact field instances a Snapshot gets.
    * Cached per chain so repeated decodes return the SAME instances —
    * the identity the writer's reuse proof relies on. */
  private final case class SegChain(tableDir: String, chain: Seq[String],
      files: Seq[String], fileStats: Map[String, Seq[ColStats]],
      fileRows: Map[String, Long])

  /** Raw segment cache: absolute path → parsed segment (immutable). */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotSegment]()

  /** Assembled-chain cache: tableDir + chain → assembled instances. */
  private val chainCache =
    new java.util.concurrent.ConcurrentHashMap[String, SegChain]()

  /** Reuse index: IDENTITY of a snapshot's assembled `files` instance
    * → its chain. Populated on decode and on write. */
  private val segIndex = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef, SegChain]())

  /** TEST hook (crash-point fuzz): drop the in-JVM metadata caches to
    * simulate a FRESH process after a crash — a dead process's warm
    * segment cache must never mask torn on-disk state (chainLive
    * consults segCache before io.exists). */
  private[graft] def clearMetaCaches(): Unit = {
    segCache.clear()
    chainCache.clear()
    segIndex.synchronized(segIndex.clear())
  }

  private def boundSegCaches(): Unit = {
    if (segIndex.size > 65536) segIndex.clear()
    if (segCache.size > 65536) segCache.clear()
    if (chainCache.size > 65536) chainCache.clear()
  }

  private def loadSegment(ref: TableRef, rel: String): SnapshotSegment = {
    val abs = ref.dir.resolve(rel).toString
    val hit = segCache.get(abs)
    if (hit != null) hit
    else {
      val seg = Serialization.read[SnapshotSegment](
        io.readString(ref.dir.resolve(rel)))
      boundSegCaches()
      segCache.put(abs, seg)
      seg
    }
  }

  private def registerChain(sc: SegChain): SegChain = {
    boundSegCaches()
    chainCache.put(sc.tableDir + "::" + sc.chain.mkString("|"), sc)
    segIndex.put(sc.files, sc)
    sc
  }

  /** Assemble (and cache) a chain's concatenated content. */
  private def assembleChain(ref: TableRef, chain: Seq[String]): SegChain = {
    val key = ref.dir.toString + "::" + chain.mkString("|")
    val hit = chainCache.get(key)
    if (hit != null) hit
    else {
      val segs = chain.map(loadSegment(ref, _))
      registerChain(SegChain(ref.dir.toString, chain,
        segs.flatMap(_.files),
        segs.foldLeft(Map.empty[String, Seq[ColStats]])(_ ++ _.fileStats),
        segs.foldLeft(Map.empty[String, Long])(_ ++ _.fileRows)))
    }
  }

  /** Parse a manifest version file of either layout into the full
    * in-memory Manifest every caller already consumes. */
  private def decodeManifest(ref: TableRef, path: Path): Manifest = {
    import org.json4s._
    val jv = org.json4s.jackson.JsonMethods.parse(io.readString(path))
    jv \ "layout" match {
      case JString(SegLayout) =>
        val ptr = jv.extract[ManifestPtr]
        Manifest(ptr.table, ptr.currentSnapshotId,
          ptr.snapshots.map { sp =>
            val sc = assembleChain(ref, sp.segments)
            Snapshot(sp.id, sp.timestampMs, sp.operation, sc.files,
              sp.rowCount, sc.fileStats, sp.partitionCols, sp.sortedBy,
              sp.summary, sc.fileRows, sp.deleteFiles, sp.partitionSpec,
              sp.eqDeletes, sp.parentId, sp.sidecarDead)
          },
          ptr.branches, ptr.tags, ptr.addedCols, ptr.droppedCols,
          ptr.renamedCols, ptr.widenedCols, ptr.declaredSchemaDdl,
          ptr.properties, ptr.declaredPartitionCols,
          ptr.declaredPartitionSpec,
          declaredSortedBy = ptr.declaredSortedBy,
          tableUuid = ptr.tableUuid)
      case _ => jv.extract[Manifest] // legacy single-JSON layout
    }
  }

  private def chainLive(ref: TableRef, sc: SegChain): Boolean =
    sc.tableDir == ref.dir.toString &&
      sc.chain.forall(rel => segCache.containsKey(
        ref.dir.resolve(rel).toString) || io.exists(ref.dir.resolve(rel)))

  /** Does `base`'s assembled content form an exact prefix of `snap`'s
    * bulk? (files a list-prefix; every base stats/rows entry equal in
    * snap — so base-chain ++ delta-segment assembles to exactly
    * snap's content, tail entries overriding nothing.) */
  private def prefixOf(base: SegChain, snap: Snapshot): Boolean =
    base.files.length < snap.files.length &&
      snap.files.startsWith(base.files) &&
      base.fileStats.forall { case (k, v) => snap.fileStats.get(k).contains(v) } &&
      base.fileRows.forall { case (k, v) => snap.fileRows.get(k).contains(v) }

  private def writeSegment(ref: TableRef, snapId: Long,
      seg: SnapshotSegment): String = {
    val rel = s"meta/seg-$snapId-${java.util.UUID.randomUUID.toString.take(8)}.json"
    io.writeString(ref.dir.resolve(rel), Serialization.write(seg))
    boundSegCaches()
    segCache.put(ref.dir.resolve(rel).toString, seg)
    rel
  }

  /** Find-or-build the segment chain for one snapshot. Returns the
    * chain plus any segment path this call wrote. */
  private def chainFor(ref: TableRef, snap: Snapshot,
      all: Seq[Snapshot]): (Seq[String], Option[String]) = {
    // 1. unchanged snapshot: identity hit on the assembled instances
    val exact = segIndex.get(snap.files)
    if (exact != null && chainLive(ref, exact) &&
        (exact.fileStats.asInstanceOf[AnyRef] eq snap.fileStats) &&
        (exact.fileRows.asInstanceOf[AnyRef] eq snap.fileRows))
      return (exact.chain, None)
    // 2. extension: the longest sibling chain that is an exact prefix
    //    (the append shape: base.files ++ added) — reuse it, write
    //    one delta segment. Chains at the cap fall through to merge.
    val base = all.iterator.filter(_ ne snap)
      .flatMap(o => Option(segIndex.get(o.files)))
      .filter(sc => sc.chain.length < SegChainMax && chainLive(ref, sc) &&
        prefixOf(sc, snap))
      .foldLeft(Option.empty[SegChain]) { (best, sc) =>
        if (best.forall(_.files.length < sc.files.length)) Some(sc) else best
      }
    base match {
      case Some(sc) =>
        val tail = SnapshotSegment(
          snap.files.drop(sc.files.length),
          snap.fileStats.filter { case (k, v) => !sc.fileStats.get(k).contains(v) },
          snap.fileRows.filter { case (k, v) => !sc.fileRows.get(k).contains(v) })
        val rel = writeSegment(ref, snap.id, tail)
        val chain = sc.chain :+ rel
        registerChain(SegChain(ref.dir.toString, chain, snap.files,
          snap.fileStats, snap.fileRows))
        (chain, Some(rel))
      case None =>
        // 3. changed beyond extension (replace/compact/clone) or
        //    chain at cap: one merged full segment
        val rel = writeSegment(ref, snap.id,
          SnapshotSegment(snap.files, snap.fileStats, snap.fileRows))
        registerChain(SegChain(ref.dir.toString, Seq(rel), snap.files,
          snap.fileStats, snap.fileRows))
        (Seq(rel), Some(rel))
    }
  }

  /** Serialize `next` to `tmp` in the sharded layout. Returns the
    * segment paths THIS call wrote so a lost CAS race can unstage
    * them. Bytes written = O(pointer) + O(changed snapshots' delta),
    * never O(table history). */
  private def writeManifestTo(ref: TableRef, next: Manifest,
      tmp: Path): Seq[String] = {
    val wrote = Seq.newBuilder[String]
    val ptrs = next.snapshots.map { s =>
      val (chain, fresh) = chainFor(ref, s, next.snapshots)
      fresh.foreach(wrote += _)
      SnapshotPtr(s.id, s.timestampMs, s.operation, s.rowCount,
        s.partitionCols, s.sortedBy, s.summary, s.partitionSpec,
        s.deleteFiles, s.eqDeletes, chain, s.parentId, s.sidecarDead)
    }
    val ptr = ManifestPtr(SegLayout, next.table, next.currentSnapshotId,
      ptrs, next.branches, next.tags, next.addedCols, next.droppedCols,
      next.renamedCols, next.widenedCols, next.declaredSchemaDdl,
      next.properties, next.declaredPartitionCols,
      next.declaredPartitionSpec,
      declaredSortedBy = next.declaredSortedBy,
      tableUuid = next.tableUuid)
    io.writeString(tmp, Serialization.writePretty(ptr))
    wrote.result()
  }

  /** Drop segments staged for a manifest that lost its CAS race. */
  private def unstageSegments(ref: TableRef, rels: Seq[String]): Unit =
    rels.foreach { rel =>
      segCache.remove(ref.dir.resolve(rel).toString)
      scala.util.Try(io.delete(ref.dir.resolve(rel)))
    }

  /** Unreferenced-segment sweeps skip segments younger than this: a
    * concurrent committer in ANOTHER process stages its segments
    * (writeManifestTo) BEFORE claiming the pointer, so an
    * unreferenced young segment may be a commit in flight — deleting
    * it would let the claim succeed against vanished segments
    * (Iceberg's orphan-cleanup age rule, default 3 days; minutes
    * suffice here because staging→claim is one write apart). */
  private[graft] val SegSweepGraceMs: Long = 10L * 60 * 1000

  /** Delete meta/ segments no surviving manifest version references
    * (run after manifest versions are expired). */
  private def sweepSegments(ref: TableRef,
      graceMs: Long = SegSweepGraceMs): Seq[String] = {
    val metaDir = ref.dir.resolve("meta")
    import org.json4s._
    def strings(jv: JValue): Seq[String] = jv match {
      case JString(s) => Seq(s)
      case JArray(vs) => vs.flatMap(strings)
      case _ => Nil
    }
    val referenced = io.list(ref.dir)
      .filter(p => ManifestRe.matches(p.getFileName.toString))
      .flatMap(p => strings(
        org.json4s.jackson.JsonMethods.parse(io.readString(p)) \
          "snapshots" \ "segments"))
      .map(rel => ref.dir.resolve(rel).toString).toSet
    val now = System.currentTimeMillis()
    val doomed = io.list(metaDir)
      .filter(_.getFileName.toString.startsWith("seg-"))
      .filterNot(p => referenced(p.toString))
      .filter(p => scala.util.Try(io.mtimeMs(p)).toOption
        .forall(now - _ >= graceMs))
    doomed.foreach { p =>
      segCache.remove(p.toString)
      io.delete(p)
    }
    doomed.map(p => ref.dir.relativize(p).toString).sorted
  }

  /** Optimistic CAS commit: `build` maps the latest manifest (None if
    * the table doesn't exist yet) to the next one; the claim on
    * version V+1 is an atomic hard-link, and a lost race re-reads and
    * rebuilds. Returns the manifest that actually committed. */
  private def commitCAS(ref: TableRef)(build: Option[Manifest] => Manifest): Manifest = {
    io.mkdirs(ref.dir)
    while (true) {
      val latest = latestManifestFile(ref)
      val cur = latest.map { case (_, p) => decodeManifest(ref, p) }
      val next = stampParents(withIdentity(build(cur), cur), cur)
      val nextVersion = latest.map(_._1).getOrElse(0L) + 1
      val tmp = ref.dir.resolve(s".manifest.tmp.${java.util.UUID.randomUUID}")
      val staged = writeManifestTo(ref, next, tmp)
      val won = io.claim(manifestPathFor(ref, nextVersion), tmp)
      io.delete(tmp)
      if (won) return next
      unstageSegments(ref, staged) // lost the race — rebase and retry
    }
    throw new IllegalStateException("unreachable")
  }

  /** Scope a Spark write to INT64-micros parquet timestamps.
    * Iceberg's format spec FORBIDS INT96, and Spark's default
    * `outputTimestampType` is still the legacy INT96 — which the
    * connector's vectorized reader (and most non-Spark engines) will
    * not decode. Every engine write path runs through this, so an
    * icelite data file never carries an INT96 column; the DSv2
    * writers pin the same conf (`IceLiteDataWriter.writeConf`). */
  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stage the DataFrame as Parquet files under data/<token>/ and
    * return their table-relative paths. The token is commit-agnostic
    * (a UUID, not a snapshot id) because CAS retries may rebase the
    * snapshot id without restaging data. */
  private def stage(ref: TableRef, df: DataFrame): Seq[String] = {
    val token = java.util.UUID.randomUUID.toString.take(8)
    val outDir = ref.dataDir.resolve(token)
    withMicrosTimestamps(df.sparkSession) {
      df.write.mode("overwrite").parquet(outDir.toString)
    }
    listDir(Files.list(outDir))(_
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted)
      .map(n => s"data/$token/$n")
  }

  /** Staging face for the REST attachment's remote compaction (d80):
    * same layout and token rules as every local stage; the ref is the
    * attachment's SPOOL, whose data/ mount lands the files in shared
    * storage. */
  private[graft] def stageFor(ref: TableRef, df: DataFrame): Seq[String] =
    stage(ref, df)

  /** d80: the commit half of a REMOTE compaction. The attachment read
    * snapshot S through its folding scan (MoR sidecars applied),
    * staged the rewrite into shared storage, and posts
    * {added, expected = S.files}. ONE CAS attempt — the staged bytes
    * are a function of the base, so a changed base cannot be rebased
    * server-side: unstage and answer the race (409); the client
    * recomputes against the current snapshot. On success the new
    * snapshot clears both MoR sidecar kinds (compaction is the
    * delete materializer, d47/d72) and keeps the sort marker the
    * client preserved. */
  private[graft] def commitCompactStaged(ref: TableRef, added: Seq[String],
      expectedVersion: Long, keepSorted: Boolean,
      summary: Map[String, String]): Snapshot = {
    val (rowsByFile, stats) = footerRowsAndStats(ref, added)
    // local compact()'s race rule, over the wire: claim EXACTLY the
    // version after the one the client compacted against, so ANY
    // concurrent commit — another append, a metadata commit, and
    // critically an eq-delete batch that changes no data file —
    // invalidates the claim. (Comparing file sets is NOT enough: a
    // delete-eq snapshot keeps the same files and only adds a
    // sidecar; rebasing past it would clear the sidecar unread and
    // resurrect its deleted rows.) The staged bytes are a function
    // of the base, so a lost claim unstages and answers the race —
    // only the client can recompute.
    val (curVersion, curPath) = latestManifestFile(ref).getOrElse {
      unstageFiles(ref, added)
      throw new IllegalArgumentException(s"${ref.name} does not exist")
    }
    def raced(): Nothing = {
      unstageFiles(ref, added)
      throw new java.util.ConcurrentModificationException(
        s"${ref.name} changed since the remote compaction read it " +
          s"(version $expectedVersion is no longer current) — recompute " +
          "against the current snapshot")
    }
    if (curVersion != expectedVersion) raced()
    val m = decodeManifest(ref, curPath)
    val cur = m.current
    try require(cur.partitionCols.isEmpty && cur.partitionSpec.isEmpty,
      s"${ref.name} has a partition layout — compact through the " +
        "owning catalog (remote compaction restages flat/sorted only)")
    catch { case e: Throwable => unstageFiles(ref, added); throw e }
    val snap = Snapshot.empty.next(m.nextId, "replace", added = added,
      addedRows = rowsByFile, addedStats = stats,
      sortedBy = if (keepSorted) cur.sortedBy else None,
      summary = summary + ("maintenance" -> "compact"))
    if (!claimVersion(ref, expectedVersion + 1, m.advance(snap),
        added, Some(m))) raced()
    // parity with local compact(): the rewrite orphans any Bloom
    // sidecar — rebuild so point-lookup pruning survives (same
    // active-session caveat as commitReplace's refresh)
    BloomIndex.refreshAll(org.apache.spark.sql.SparkSession.active, ref)
    snap
  }

  /** The DEFAULT Hadoop conf (not the session's) every parquet-mr
    * open reads its options from, through [[openParquet]] and
    * [[groupReader]], loaded once: a fresh one costs ~4 ms, a copy
    * ~0.2 ms. Read-only; a site that sets keys copies it. Each open
    * builds its OWN options over it:
    * `ParquetFileReader.close` releases its options' codec factory,
    * so one options object shared by concurrent opens would hand a
    * live decompressor back to the pool. */
  private[graft] lazy val hadoopConf = new Configuration()

  /** A footer/row-group reader over `p`, its options built per open
    * from [[hadoopConf]] (one-argument `ParquetFileReader.open`
    * parses a fresh default conf for them). */
  private[graft] def openParquet(p: HPath): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, hadoopConf),
      HadoopReadOptions.builder(hadoopConf, p).build())

  /** A `Group` row reader over `p` decoding only the top-level columns
    * `keep` accepts, its options built per open from [[hadoopConf]]
    * (the InputFile constructor reads them from the file's conf;
    * `ParquetReader.builder` parses a fresh one). The read support
    * projects, so no conf is copied to carry a read schema. */
  private[graft] def groupReader(p: HPath, keep: String => Boolean = _ => true)
      : ParquetReader.Builder[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(p, hadoopConf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport {
          override def init(ctx: InitContext): ReadSupport.ReadContext = {
            val s = ctx.getFileSchema
            new ReadSupport.ReadContext(new MessageType(s.getName,
              s.getFields.asScala.filter(f => keep(f.getName)).asJava))
          }
        }
    }

  /** One footer open per file, PARALLEL on the driver: a commit of a
    * wide fanout write (hidden-partition INSERT: buckets × days dirs)
    * stages hundreds of files, and a sequential open-per-file loop at
    * ~10-20ms each dominates commit latency (bitten: d84's two
    * INSERTs paid ~480 sequential opens ≈ 12s). Footers are
    * metadata-sized, so a bounded thread pool makes this O(files /
    * threads). */
  private[graft] def mapFooters[A](paths: Seq[Path])(
      fn: (Path, ParquetFileReader) => A): Seq[A] =
    if (paths.isEmpty) Nil
    else {
      def one(p: Path): A = {
        val r = openParquet(new HPath(p.toUri))
        try fn(p, r) finally r.close()
      }
      if (paths.size == 1) Seq(one(paths.head))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, paths.size))
        try paths.map(p => pool.submit(
            new java.util.concurrent.Callable[A] {
              override def call(): A = one(p)
            }))
          .map(f => try f.get() catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause })
        finally pool.shutdown()
      }
    }

  /** [[mapFooters]] over a commit's files, filling the schema memo. */
  private def mapCommitFooters[A](ref: TableRef, files: Seq[String])(
      fn: ParquetFileReader => A): Seq[A] = {
    val conv = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(schemaConverter)
    mapFooters(files.map(ref.dir.resolve)) { (p, r) =>
      // a schema Spark cannot convert fails the read, not the commit
      for ((c, bits) <- conv; k <- schemaKey(p, bits);
           sch <- scala.util.Try(footerSchema(c, p, r))) rememberSchema(k, sch)
      fn(r)
    }
  }

  private def countRowsFromFooters(ref: TableRef, files: Seq[String]): Long =
    mapCommitFooters(ref, files)(_.getRecordCount).sum

  /** `spark.read.parquet(paths)` and its row count, from the footers
    * with no Spark job: the first file's schema in inference order
    * (the default `mergeSchema=false`) and the summed record counts. */
  private[icelite] def readCounted(spark: SparkSession,
      paths: Seq[Path]): (DataFrame, Long) = {
    val conv = schemaConverter(spark)._1
    val footers = mapFooters(inferenceOrder(paths))((p, r) =>
      (footerSchema(conv, p, r), r.getRecordCount))
    (readParquet(spark, paths, Some(footers.head._1)), footers.map(_._2).sum)
  }

  /** Resolve an input_file_name() URI back to its table-relative
    * staged path. Matches on the FULL table-relative path, not a
    * fixed segment suffix — with multi-level partitioning, files
    * written by the same task into different partition dirs share
    * identical filenames, so a short suffix would collide (one file
    * steals the other's stats and pruning then skips live rows).
    * URI-decoding also resolves escaped partition values (a=2024%3A01
    * on disk arrives double-encoded in the URI). */
  private[graft] def matchStagedPath(files: Seq[String],
      uri: String): Option[String] = {
    val byRelPath = files.toSet
    val depths = files.map(_.count(_ == '/') + 1).distinct
    val decoded = scala.util.Try(new java.net.URI(uri).getPath).getOrElse(uri)
    val segs = decoded.split('/')
    depths.iterator
      .map(d => segs.takeRight(d).mkString("/"))
      .collectFirst { case rel if byRelPath.contains(rel) => rel }
  }

  /** r14: dead-rows-per-data-file census of a freshly written
    * POSITION sidecar dir — one grouped count over the sidecar
    * parquet, O(touched files) result. All counts attach to the
    * first sidecar file (parts of one commit are interchangeable for
    * the stats sum); the rest get empty entries so "every live
    * sidecar has an entry" stays checkable. None when any recorded
    * path fails to suffix-match a live data file — an entry the
    * stats fold cannot trust must not exist (decline beats wrong). */

  /** Sidecar `file_path` strings and `_metadata.file_path` render the
    * same file differently across writers (a plain absolute path from
    * the connector's split readers — the r15 delta write; a `file:`
    * URI from Spark's metadata column). Normalize both sides of
    * every position anti-join to the plain-path form, the SQL twin
    * of the connector's normPath/suffix matching. */
  private def normPathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c, "^file:/+", "/")

  private def posSidecarDead(spark: SparkSession, ref: TableRef,
      sidecars: Seq[String], files: Seq[String])
      : Option[Map[String, Map[String, Long]]] = {
    import org.apache.spark.sql.functions.col
    val counts = spark.read
      .parquet(sidecars.map(f => ref.dir.resolve(f).toString): _*)
      .groupBy(col("file_path")).count().collect()
      .map(r => (matchStagedPath(files, r.getString(0)), r.getLong(1)))
    if (counts.exists(_._1.isEmpty)) None
    else Some(Map(sidecars.head -> counts.map { case (f, n) => f.get -> n }
      .toMap) ++ sidecars.tail.map(_ -> Map.empty[String, Long]))
  }

  /** The one definition of per-file row counts and min/max stats:
    * the parquet FOOTERS of the files a commit adds, opened once on
    * the driver, with no Spark job. This is how Iceberg derives a
    * `DataFile`'s metrics. Every commit needs the pair, and one open
    * serves both (two sweeps doubled the open cost on wide fanout
    * commits, the d84 class). Every commit path stores the row counts
    * in `Snapshot.fileRows`, so grouped and global COUNT pushdown
    * read them instead of re-opening footers. `statsCols` picks the
    * columns whose stats are recorded: engine commits pass their
    * `statsCols`, and staged commits record every column. A column
    * without usable stats records nothing, so pruning keeps the file:
    * BINARY and BOOLEAN stats, an all-null column, and a float column
    * holding NaN (parquet-mr drops those bounds on read). Units are
    * the [[ColStats]] units. */
  private def footerRowsAndStats(ref: TableRef, files: Seq[String],
      statsCols: String => Boolean = _ => true)
      : (Map[String, Long], Map[String, Seq[ColStats]]) = {
    val both = files.zip(mapCommitFooters(ref, files) { r =>
      val perCol: Map[String, Seq[(Double, Double)]] = {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(c => statsCols(c.getPath.toDotString)).flatMap { c =>
          val st = c.getStatistics
          // INT32/INT64-backed decimals store UNSCALED integers; stats
          // carry the scaled value the pruners compare literals against
          val scale = c.getPrimitiveType.getLogicalTypeAnnotation match {
            case d: org.apache.parquet.schema.LogicalTypeAnnotation
                .DecimalLogicalTypeAnnotation => d.getScale
            case _ => 0
          }
          def scaled(n: java.lang.Number): Double =
            if (scale == 0) n.doubleValue()
            else java.math.BigDecimal.valueOf(n.longValue(), scale).doubleValue()
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (lo: java.lang.Number, hi: java.lang.Number) =>
              Some(c.getPath.toDotString -> (scaled(lo), scaled(hi)))
            case _ => None
          }
        }.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      }
      val stats = perCol.map { case (col, ranges) =>
        ColStats(col, ranges.map(_._1).min, ranges.map(_._2).max)
      }.toSeq.sortBy(_.col)
      (r.getRecordCount, stats)
    })
    (both.map { case (f, (n, _)) => f -> n }.toMap,
      both.collect { case (f, (_, s)) if s.nonEmpty => f -> s }.toMap)
  }

  /** d42/d43: group-based copy-on-write commit (the DSv2 ReplaceData
    * contract behind SQL UPDATE / MERGE INTO): atomically swap exactly
    * the files the row-level scan planned (`removed`) for the files
    * the replace-write staged (`added`) in ONE snapshot. Concurrent
    * APPENDs rebase and survive (their files are not in `removed`);
    * a concurrent rewrite that already replaced one of `removed`
    * fails the commit LOUDLY (the staged result was computed from a
    * stale snapshot — re-running the statement is the only correct
    * retry, Iceberg's serializable-isolation validation). Stats for
    * the new files come from parquet footers; the removed files'
    * row counts leave through the manifest's own record counts. */
  private[graft] def commitReplace(ref: TableRef, removed: Set[String],
      added: Seq[String], op: String,
      summary: Map[String, String] = Map.empty): Snapshot = {
    val (rowsByFile, stats) = footerRowsAndStats(ref, added)
    while (true) {
      val (baseVersion, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalArgumentException(s"${ref.name} does not exist"))
      val base = decodeManifest(ref, basePath)
      val snap = base.current
      require(!snap.morLive,
        s"${ref.name} has live MoR delete sidecars — compact() to " +
          "materialize them before a SQL row-level rewrite")
      val gone = removed.filterNot(snap.files.contains)
      if (gone.nonEmpty) {
        unstageFiles(ref, added)
        throw new java.util.ConcurrentModificationException(
          s"${ref.name}: ${gone.size} file(s) this $op was computed " +
            s"against were rewritten concurrently (e.g. ${gone.head}) — " +
            "re-run the statement against the current snapshot")
      }
      // d56: a transform-layout rewrite must land the spec's derived
      // dirs (the replace-write's stage derives them; validate like
      // commitPromotedTransformed) and CARRY the spec forward —
      // dropping it would silently end transform pruning
      if (snap.partitionSpec.nonEmpty)
        added.foreach { f =>
          require(fileLayout(f) == snap.partitionSpec.map(_.name),
            s"row-level $op staged $f outside the hidden-partition " +
              s"layout ${snap.partitionSpec.map(_.name).mkString("/")}")
        }
      val removedRows = removed.toSeq.map(f =>
        snap.fileRows.getOrElse(f, countRowsFromFooters(ref, Seq(f)))).sum
      val next = snap.next(base.nextId, op, removed, removedRows,
        added, rowsByFile, stats, summary = summary)
      // a row-level rewrite that empties the table pins the schema,
      // like rewriteWhere/compact (this face serves the REST replace
      // protocol too — REST fuzz seeds 1028/1046/1050 reached the
      // unpinned state through it)
      val declared =
        if (next.files.nonEmpty || base.declaredSchemaDdl.nonEmpty)
          base.declaredSchemaDdl
        else scala.util.Try(read(org.apache.spark.sql.SparkSession.active,
          ref).schema.toDDL).toOption
      // staged files survive a lost CAS race (pass Nil): the loop
      // rebases and re-validates rather than recomputing the data
      if (claimVersion(ref, baseVersion + 1,
          base.advance(next).copy(declaredSchemaDdl = declared),
          Nil, Some(base))) {
        BloomIndex.refreshAll(org.apache.spark.sql.SparkSession.active, ref)
        return next
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Apply one [[CommitReq]] as ONE CAS snapshot whose summary carries
    * `summary` (the catalog service passes `committed-via=rest`, a
    * streaming sink its epoch marker). */
  private[graft] def applyCommit(ref: TableRef, req: CommitReq,
      summary: Map[String, String] = Map.empty): Snapshot = {
    import PartitionedWriteMode._
    req.operation match {
      case "append" =>
        require(req.added.nonEmpty, "append needs staged files")
        commitStaged(ref, req.added, truncate = false, summary,
          req.keepSorted)
      case "overwrite" =>
        commitStaged(ref, req.added, truncate = true, summary,
          req.keepSorted)
      case "append-partitioned" =>
        require(req.added.nonEmpty, "append needs staged files")
        commitPromotedPartitioned(ref, req.added, Append, summary)
      case "overwrite-partitioned" =>
        val mode = req.mode match {
          case Some("all") => ReplaceAll
          case Some("dynamic") => ReplaceDynamic
          case Some("static") => ReplaceWhere(req.eq)
          case other => throw new IllegalArgumentException(
            s"overwrite-partitioned mode must be all|dynamic|static, got $other")
        }
        commitPromotedPartitioned(ref, req.added, mode, summary)
      case "append-transformed" =>
        require(req.added.nonEmpty, "append needs staged files")
        commitPromotedTransformed(ref, req.added, replace = false, summary)
      case "overwrite-transformed" =>
        commitPromotedTransformed(ref, req.added, replace = true, summary)
      case "replace" =>
        commitReplace(ref, req.removed.toSet, req.added,
          req.opName.getOrElse("replace"), summary)
      // d80: remote compaction — conditioned on the exact manifest
      // VERSION the client compacted against; any concurrent commit
      // (including a files-unchanged eq-delete) is a race, and only
      // the client can recompute (the staged bytes are a function of
      // the base)
      case "compact" =>
        commitCompactStaged(ref, req.added, req.expectedVersion.getOrElse(
            throw new IllegalArgumentException("compact needs expectedVersion")),
          req.keepSorted, summary)
      case other => throw new IllegalArgumentException(
        s"unknown commit operation '$other'")
    }
  }

  /** d26: commit files an EXTERNAL writer (the DSv2 BatchWrite) has
    * already staged under data/<token>/ — one CAS snapshot, append or
    * (`truncate`) replace; create on first commit. Stats come from
    * the parquet footers (no second read pass). */
  private[graft] def commitStaged(ref: TableRef, files: Seq[String],
      truncate: Boolean, summary: Map[String, String] = Map.empty,
      keepSorted: Boolean = false): Snapshot = {
    val (rowsByFile, stats) = footerRowsAndStats(ref, files)
    commitCAS(ref) { cur =>
      // d54: the writer met the table's range-distribution + sort
      // requirement, so the new files are range-clustered and the
      // sortedBy marker (layout-preserving rewrites, pruning claims)
      // survives the commit; an unclustered write drops it honestly
      def sortKept(m: Manifest): Option[String] =
        if (keepSorted) m.current.sortedBy else None
      // a flat staged commit against a partitioned table would flip
      // the current snapshot to flat layout — path-borne partition
      // values silently vanish and pruning breaks. The local DSv2
      // path routes partitioned tables to commitPromotedPartitioned;
      // refuse here so no OTHER caller (e.g. a remote commit
      // protocol) can take that corrupting shortcut.
      cur.foreach { m =>
        require(m.current.partitionCols.isEmpty,
          s"${ref.name} is partitioned — flat staged commits would drop " +
            "the partition layout; stage through the partitioned write path")
        // d85: transform dirs are reader-invisible, so a flat commit
        // is safe EXACTLY when the DECLARED layout is flat (a
        // DROP-to-empty landed — old files keep their dirs, reads
        // never change). While a spec is still declared, refuse: the
        // dropped spec marker would silently end transform pruning.
        require(m.writeLayoutSpec.isEmpty,
          s"${ref.name} is transform-partitioned — flat staged commits " +
            "would drop the hidden-partition spec; stage through the " +
            "transformed write path")
      }
      val snap = cur match {
        case Some(m) if !truncate =>
          // lands the declared flat layout (d85: a spec DROPped to empty)
          m.current.next(m.nextId, "append", added = files,
            addedRows = rowsByFile, addedStats = stats, summary = summary,
            partitionSpec = Nil, sortedBy = sortKept(m))
        case _ =>
          Snapshot.empty.next(Manifest.nextId(cur),
            if (cur.isEmpty) "create" else "replace", added = files,
            addedRows = rowsByFile, addedStats = stats, summary = summary,
            sortedBy = cur.flatMap(sortKept))
      }
      Manifest.advance(cur, ref.name, snap)
    }.current
  }

  /** d68: SQL `CREATE TABLE … PARTITIONED BY (identity cols)` — an
    * EMPTY partitioned table whose manifest records the layout and
    * the DDL schema, so the first `INSERT INTO` routes through the
    * partitioned write path and a pre-insert SELECT answers empty
    * (instead of failing schema-on-read). One CAS commit; creating a
    * table that exists refuses via the normal claim conflict. */
  def createEmptyPartitioned(ref: TableRef, schemaDdl: String,
      partitionCols: Seq[String],
      properties: Map[String, String] = Map.empty): Snapshot = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    checkProperties(properties)
    Files.createDirectories(ref.dataDir)
    commitCAS(ref) { cur =>
      require(cur.isEmpty, s"${ref.name} already exists")
      Manifest(ref.name, 1L,
        Seq(Snapshot.empty.next(1L, "create", partitionCols = partitionCols)),
        declaredSchemaDdl = Some(schemaDdl), properties = properties)
    }.current
  }

  /** d84: an EMPTY hidden-partition table born from SQL DDL
    * (`CREATE TABLE … PARTITIONED BY (bucket(8, id), …)`) — one CAS
    * create commit carrying the transform spec and the declared
    * schema; the first INSERT stages through the spec. */
  def createEmptyTransformed(ref: TableRef, schemaDdl: String,
      spec: Seq[PartitionField],
      properties: Map[String, String] = Map.empty): Snapshot = {
    require(spec.nonEmpty, "partition spec must be non-empty")
    checkProperties(properties)
    val declared = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    spec.foreach { f =>
      require(declared.fieldNames.contains(f.sourceCol),
        s"transform source column '${f.sourceCol}' is not in the schema")
      require(!declared.fieldNames.contains(f.name),
        s"derived partition name '${f.name}' collides with a declared column")
    }
    Files.createDirectories(ref.dataDir)
    commitCAS(ref) { cur =>
      require(cur.isEmpty, s"${ref.name} already exists")
      Manifest(ref.name, 1L,
        Seq(Snapshot.empty.next(1L, "create", partitionSpec = spec)),
        declaredSchemaDdl = Some(schemaDdl), properties = properties)
    }.current
  }

  /** d70: the commit half of ATOMIC `CREATE [OR REPLACE] / REPLACE
    * TABLE … AS SELECT` (Iceberg's transactional replaceTable): the
    * staged data files become the table's ONLY files in one CAS
    * commit — readers see the old table until the instant of the
    * claim, then the new one; a failed job never leaves a dropped or
    * half-written table (contrast the non-atomic drop-then-create).
    * REPLACE starts a fresh schema era: it refuses tables with live
    * schema-evolution ledgers (added/dropped/renamed/widened) rather
    * than silently re-applying them to the new schema; history stays
    * travelable. `create`/`orReplace` gate existence exactly like
    * SQL's three statement forms. */
  private[graft] def replaceTableStaged(ref: TableRef, files: Seq[String],
      partitionCols: Seq[String], schemaDdl: String,
      mustNotExist: Boolean, mustExist: Boolean,
      partitionSpec: Seq[PartitionField] = Nil,
      properties: Map[String, String] = Map.empty): Snapshot = {
    require(partitionCols.isEmpty || partitionSpec.isEmpty,
      "a table has either an identity layout or a transform spec, not both")
    checkProperties(properties)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files)
    commitCAS(ref) { cur =>
      if (mustNotExist) require(cur.isEmpty, s"${ref.name} already exists")
      if (mustExist) require(cur.nonEmpty, s"${ref.name} does not exist")
      cur.foreach { m =>
        require(m.addedCols.isEmpty && m.droppedCols.isEmpty &&
            m.renamedCols.isEmpty && m.widenedCols.isEmpty,
          s"REPLACE TABLE on ${ref.name} is not supported while schema-" +
            "evolution ledgers are live — the old ledgers cannot apply " +
            "to the new schema; recreate the table instead")
      }
      val snap = Snapshot.empty.next(Manifest.nextId(cur),
        if (cur.isEmpty) "create" else "replace", added = files,
        addedRows = rowsByFile, addedStats = stats,
        partitionCols = partitionCols, partitionSpec = partitionSpec)
      val ddl = if (files.isEmpty) Some(schemaDdl) else None
      val m = Manifest.advance(cur, ref.name, snap)
      m.copy(declaredSchemaDdl = ddl, properties = m.properties ++ properties)
    }.current
  }

  /** d69: METADATA-ONLY partition delete (Iceberg's metadata-delete:
    * `DELETE FROM t WHERE part_col = v`). When the predicate selects
    * WHOLE partitions of an identity-partitioned table, no row needs
    * rewriting — the matching files are simply dropped from the next
    * snapshot in one CAS commit. Zero data bytes read or written at
    * any table size; dropped files stay referenced by older snapshots
    * (time travel) and are reclaimed by expiry on its normal
    * schedule. `eq` is conjunctive: partition column → accepted value
    * set (from `=` / `IN`). MoR-live tables refuse (a dropped file's
    * sidecar entries would dangle). */
  def deletePartitions(ref: TableRef,
      eq: Map[String, Set[String]]): Snapshot = {
    require(eq.nonEmpty, "deletePartitions requires at least one equality")
    def partVals(f: String): Map[String, String] =
      f.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
        val c = seg.takeWhile(_ != '=')
        c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
      }.toMap
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"no manifest for ${ref.name}"))
      val snap = m.current
      require(snap.partitionCols.nonEmpty,
        s"${ref.name} is not identity-partitioned")
      require(!snap.morLive,
        s"${ref.name} has live MoR sidecars — compact() first")
      eq.keys.foreach(c => require(snap.partitionCols.contains(c),
        s"$c is not a partition column of ${ref.name}"))
      val kept = snap.files.filterNot { f =>
        val vals = partVals(f)
        eq.forall { case (c, vs) => vals.get(c).exists(vs.contains) }
      }
      // the table keeps the recorded rows of its kept files (a
      // missing fileRows entry counts 0)
      m.advance(snap.next(m.nextId, "delete-partitions",
        removed = snap.files.toSet -- kept,
        removedRows = snap.rowCount - kept.map(snap.fileRows.getOrElse(_, 0L)).sum,
        summary = Map("deleted.partitions" -> eq.map {
          case (c, vs) => s"$c=${vs.toSeq.sorted.mkString("|")}"
        }.toSeq.sorted.mkString(","))))
    }.current
  }

  /** Promote files a partitioned DSv2 writer staged under
    * `data/<token>/<value dirs>/` into the table's `data/part/`
    * layout (a rename per file, zero bytes) and drop the emptied
    * staging skeleton. Returns the table-relative moved paths. */
  private[graft] def promoteStagedPartitioned(ref: TableRef, token: String,
      staged: Seq[String]): Seq[String] = {
    val moved: Seq[String] = staged.sorted.map { rel =>
      val src = ref.dataDir.resolve(token).resolve(rel)
      val slash = rel.lastIndexOf('/')
      require(slash > 0, s"partitioned stage path lacks value dirs: $rel")
      val (valuePath, fname) = (rel.take(slash), rel.drop(slash + 1))
      val dest = ref.dataDir.resolve("part")
        .resolve(java.nio.file.Paths.get(valuePath))
        .resolve(s"$token-$fname")
      Files.createDirectories(dest.getParent)
      Files.move(src, dest)
      ref.dir.relativize(dest).toString
    }
    val tokenDir = ref.dataDir.resolve(token)
    if (Files.exists(tokenDir))
      listDir(Files.walk(tokenDir))(_.toSeq).sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
    moved
  }

  /** SQL writes into HIDDEN-PARTITION (transform) tables: executors
    * stage files under data/<token>/<derived>=<v>/ dirs they computed
    * per row (the same Catalyst expressions `transformExpr` uses, so
    * the SQL path and the engine API land byte-compatible layouts);
    * promotion reuses the identity machinery (value paths are value
    * paths), and ONE CAS snapshot validates every file carries
    * exactly the spec's derived dirs. Append and truncate only:
    * a static PARTITION clause would name DERIVED values hidden
    * partitioning exists to hide. `moved` are table-relative paths
    * the write's stage ALREADY promoted into the derived-dir layout
    * (promotion is data-plane; visibility changes only here).
    * Mirrors commitPromotedPartitioned for hidden-partition
    * layouts. */
  private[graft] def commitPromotedTransformed(ref: TableRef,
      moved: Seq[String], replace: Boolean,
      summary: Map[String, String] = Map.empty): Snapshot = {
    val (rowsByFile, stats) = footerRowsAndStats(ref, moved)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"${ref.name} does not exist — transformed DSv2 writes target " +
          "an existing hidden-partition table (createOrReplaceTransformed)"))
      val snap = m.current
      // d85: the DECLARED spec — the first SQL INSERT after an
      // ADD PARTITION FIELD <transform> lands the evolved layout
      val spec = m.writeLayoutSpec
      require(spec.nonEmpty,
        s"${ref.name} lost its partition-transform spec concurrently")
      moved.foreach { f =>
        require(fileLayout(f) == spec.map(_.name),
          s"staged file $f does not carry the spec's derived dirs " +
            s"${spec.map(_.name).mkString("/")}")
      }
      // appends carry live sidecars (they reference surviving files)
      // and remove no rows; a replace starts from the empty snapshot
      val base = if (replace) Snapshot.empty else snap
      m.advance(base.next(m.nextId, if (replace) "overwrite" else "append",
        added = moved, addedRows = rowsByFile, addedStats = stats,
        summary = summary, partitionSpec = spec, sortedBy = None))
    }.current
  }

  /** d67: commit a partitioned DSv2 write (INSERT INTO / INSERT
    * OVERWRITE [PARTITION (…)] / dynamic overwrite through the SQL
    * connector). `moved` are table-relative `data/part/<value dirs>/`
    * paths the write's stage ALREADY promoted into the Hive layout
    * (promotion is data-plane; visibility changes only here).
    * Validates every file carries the table's partition columns,
    * then resolves survivors per `mode` in ONE CAS snapshot —
    * partition overwrite is metadata work + the new partition's
    * bytes, never a table rewrite. Stats and row counts come from the
    * new files' footers (no second scan). Identity partitions only;
    * MoR-live targets refuse replace modes (dropping a file would
    * dangle its delete sidecar entries). */
  private[graft] def commitPromotedPartitioned(ref: TableRef,
      moved: Seq[String], mode: PartitionedWriteMode,
      summary: Map[String, String] = Map.empty): Snapshot = {
    import PartitionedWriteMode._
    def partVals(f: String): Map[String, String] =
      f.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
        val c = seg.takeWhile(_ != '=')
        c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
      }.toMap
    val (rowsByFile, stats) = footerRowsAndStats(ref, moved)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException(
        s"${ref.name} does not exist — partitioned DSv2 writes target " +
          "an existing partitioned table (createOrReplacePartitioned)"))
      val snap = m.current
      // d83: a pending spec evolution writes the DECLARED layout;
      // existing files keep theirs (per-snapshot layouts)
      val writeCols = m.writeLayoutCols
      require(writeCols.nonEmpty,
        s"${ref.name} is not identity-partitioned")
      require(mode == Append || writeCols == snap.partitionCols,
        s"${ref.name} has a pending partition-spec evolution " +
          s"(${snap.partitionCols.mkString(",")} → " +
          s"${writeCols.mkString(",")}) — only appends may write until " +
          "a write lands the new layout; overwrite after that")
      moved.foreach { f =>
        require(partVals(f).keySet == writeCols.toSet,
          s"staged file $f does not carry the table's partition " +
            s"columns ${writeCols.mkString(",")}")
      }
      val survivors: Seq[String] = mode match {
        case Append => snap.files
        case ReplaceAll =>
          require(!snap.morLive,
            s"${ref.name} has live MoR sidecars — compact() before overwrite")
          Nil
        case ReplaceWhere(eq) =>
          require(!snap.morLive,
            s"${ref.name} has live MoR sidecars — compact() before overwrite")
          // d83: a targeted overwrite decides file fates by PATH
          // values; an old-era file (pre-evolution layout) hides its
          // value in data pages and would silently survive —
          // under-deleting. Materialize the layout first.
          require(snap.files.forall(f => partVals(f).keySet == writeCols.toSet),
            s"${ref.name} still holds pre-evolution files — compact() " +
              "to materialize the layout before partition overwrite")
          eq.keys.foreach(c => require(snap.partitionCols.contains(c),
            s"$c is not a partition column of ${ref.name}"))
          moved.foreach { f =>
            val vals = partVals(f)
            require(eq.forall { case (c, v) => vals.get(c).contains(v) },
              s"INSERT OVERWRITE PARTITION ${eq.mkString(",")} received a " +
                s"row for partition ${vals.mkString(",")}")
          }
          snap.files.filterNot(f =>
            eq.forall { case (c, v) => partVals(f).get(c).contains(v) })
        case ReplaceDynamic =>
          require(!snap.morLive,
            s"${ref.name} has live MoR sidecars — compact() before overwrite")
          require(snap.files.forall(f => partVals(f).keySet == writeCols.toSet),
            s"${ref.name} still holds pre-evolution files — compact() " +
              "to materialize the layout before partition overwrite")
          val touched = moved.map(f =>
            snap.partitionCols.map(partVals(f).get)).toSet
          snap.files.filterNot(f =>
            touched.contains(snap.partitionCols.map(partVals(f).get)))
      }
      // only appends can meet live sidecars; they keep them and
      // remove no rows. An overwrite keeps its survivors' recorded
      // rows (a missing fileRows entry counts 0)
      m.advance(snap.next(m.nextId, if (mode == Append) "append" else "overwrite",
        removed = snap.files.toSet -- survivors,
        removedRows = if (mode == Append) 0L
          else snap.rowCount - survivors.map(snap.fileRows.getOrElse(_, 0L)).sum,
        added = moved, addedRows = rowsByFile, addedStats = stats,
        summary = summary + ("mode" -> mode.toString),
        partitionCols = writeCols, // d83: the landed layout is the declared one
        sortedBy = None))
    }.current
  }

  /** d63: ZERO-COPY MIGRATION (Iceberg's `add_files` / `migrate`
    * procedures; Delta's CONVERT TO DELTA): register parquet files an
    * EXTERNAL writer already produced into an IceLite table without
    * rewriting a byte. Each source is registered into data/<token>/
    * through the FileIO seam's `linkOrCopy` (locally a hard link — a
    * new directory entry, zero data copied — the 100 TB onboarding
    * path; object stores map it to server-side copy),
    * then one CAS append/create snapshot picks up stats and row counts
    * from the parquet FOOTERS — migration cost is metadata-sized, not
    * data-sized, exactly like Iceberg's add_files.
    *
    * Safety gates (rule 25 — never let a commit silently break a
    * marker or a reader):
    *  - all sources and the existing table must agree on the parquet
    *    field names (Iceberg's add_files schema check) — registering a
    *    mismatched file would poison every later read;
    *  - targets with a partition/sort layout or live MoR sidecars
    *    refuse: a flat registered file can't meet those contracts.
    */
  def addFiles(ref: TableRef, sources: Seq[java.nio.file.Path]): Snapshot = {
    require(sources.nonEmpty, "addFiles: no source files given")
    def fieldNames(ps: Seq[Path]): Seq[Seq[String]] = mapFooters(ps) { (p, r) =>
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
      // Iceberg's spec forbids INT96 and this format follows it:
      // every engine write emits INT64-micros timestamps and the
      // connector's vectorized reader decodes exactly that — a
      // registered INT96 file would pass schema-name checks and
      // then fail (or misread) at scan time
      fields.foreach { f =>
        require(!f.isPrimitive ||
          f.asPrimitiveType.getPrimitiveTypeName !=
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96,
          s"addFiles: ${p.getFileName} stores ${f.getName} as INT96 — " +
            "the icelite format (like Iceberg's spec) requires " +
            "INT64-micros timestamps; rewrite the file first")
      }
      fields.map(_.getName).toSeq.sorted
    }
    val names = fieldNames(sources)
    val want = names.head
    sources.zip(names).tail.foreach { case (s, got) =>
      require(got == want,
        s"addFiles: schema mismatch — ${s.getFileName} has ${got.mkString(",")}, " +
          s"expected ${want.mkString(",")}")
    }
    latestManifestFile(ref).foreach { case (_, p) =>
      val m = decodeManifest(ref, p)
      val snap = m.current
      require(snap.partitionCols.isEmpty && snap.partitionSpec.isEmpty,
        s"${ref.name} is partitioned — a registered flat file can't carry " +
          "partition values; write through the partitioned append path")
      require(!snap.morLive,
        s"${ref.name} has live MoR delete sidecars — compact() before add_files")
      snap.files.headOption.foreach { f =>
        val got = fieldNames(Seq(ref.dir.resolve(f))).head
        require(got == want,
          s"addFiles: schema mismatch vs table — sources have ${want.mkString(",")}, " +
            s"table has ${got.mkString(",")}")
      }
    }
    val token = "add-" + java.util.UUID.randomUUID.toString.take(8)
    val outDir = ref.dataDir.resolve(token)
    Files.createDirectories(outDir)
    val rels = sources.zipWithIndex.map { case (src, i) =>
      // index prefix keeps same-named sources from distinct dirs unique
      val dst = outDir.resolve(f"$i%05d-${src.getFileName}")
      io.linkOrCopy(dst, src) // zero-copy locally; server-side copy on stores
      s"data/$token/${dst.getFileName}"
    }
    commitStaged(ref, rels, truncate = false,
      summary = Map("added-files" -> rels.size.toString, "operation-origin" -> "add_files"))
  }

  /** Table RENAME — what Iceberg performs as a catalog-pointer move
    * (HMS row update / REST rename call; the table LOCATION never
    * changes). A path-addressed layout has no pointer table, so the
    * rename is carried out as a zero-copy relocation instead:
    *
    *  1. every data/delete file any snapshot references is registered
    *     under the destination dir at its SAME relative name through
    *     the FileIO seam's `linkOrCopy` (hard link locally — no bytes
    *     move; server-side copy on an object store), so the manifest
    *     travels byte-identical — history, refs, tags, MoR sidecars
    *     and time travel all survive;
    *  2. immutable metadata segments travel through the seam's string
    *     ops (they live in the metadata STORE, which need not be the
    *     data filesystem);
    *  3. the destination pointer is CAS-CLAIMED at the source's
    *     version number — two renames (or a rename racing a CREATE)
    *     to the same name get exactly one winner;
    *  4. the source pointer is re-read: if any commit landed during
    *     staging the rename fails LOUDLY (CME) and unstages — nothing
    *     is lost, rerun picks up the new files;
    *  5. only then is the source retired. A crash between 3 and 5
    *     leaves BOTH names readable over shared immutable bytes —
    *     re-running the rename (or dropping the source) heals, and no
    *     window loses the table.
    *
    * NOT linearizable against writers that commit to the source AFTER
    * step 4's check (they would recreate the source name as a fresh
    * table): rename is an administrative operation, as in Hive. Views
    * that reference the old name break at next read — the stored-SQL
    * behavior Iceberg views have too. Bloom sidecars are carried over
    * so d17 pruning stays warm. */
  def renameTable(from: TableRef, to: TableRef): Unit = {
    require(from.warehouse == to.warehouse, "rename cannot cross warehouses")
    require(Files.exists(to.nsDir), s"namespace ${to.namespace} does not exist")
    val (fromVer, fromPath) = latestManifestFile(from).getOrElse(
      throw new IllegalStateException(s"no manifest for ${from.name}"))
    if (tableExists(to)) throw new IllegalStateException(
      s"table ${to.namespace}.${to.name} already exists")
    val pointerBytes = io.readString(fromPath)
    val man = decodeManifest(from, fromPath)
    // 1) data plane: same relative names, zero-copy registration
    val rels = (man.snapshots.flatMap(_.files) ++
      man.snapshots.flatMap(_.deleteFiles) ++
      man.snapshots.flatMap(_.eqDeletes.map(_.file))).distinct
    rels.foreach { rel =>
      // ABSOLUTE entries (d22 shallow clones reference out-of-tree
      // files) resolve to themselves on both sides — the exists check
      // short-circuits and the reference travels untouched, which is
      // exactly right: a renamed clone keeps pointing at the donor.
      val dst = to.dir.resolve(rel)
      if (!Files.exists(dst)) io.linkOrCopy(dst, from.dir.resolve(rel))
    }
    // 2) metadata segments (immutable, content-named → idempotent)
    io.list(from.dir.resolve("meta")).foreach { seg =>
      io.writeString(to.dir.resolve("meta").resolve(seg.getFileName.toString),
        io.readString(seg))
    }
    // 3) bloom sidecars: rebuildable data-plane artifacts (json file
    //    or parquet dir) — carry them so pruning stays warm
    listDir(Files.list(from.dir))(_.filter(p =>
        p.getFileName.toString.startsWith("bloom.")).toSeq)
      .foreach { p =>
        listDir(Files.walk(p))(_.filter(Files.isRegularFile(_)).toSeq)
          .foreach { f =>
            val dst = to.dir.resolve(from.dir.relativize(f).toString)
            if (!Files.exists(dst)) io.linkOrCopy(dst, f)
          }
      }
    // 4) one-winner claim of the destination pointer, same version
    io.mkdirs(to.dir)
    val tmpPtr = to.dir.resolve(s".rename-${java.util.UUID.randomUUID.toString.take(8)}")
    io.writeString(tmpPtr, pointerBytes)
    val won = io.claim(manifestPathFor(to, fromVer), tmpPtr)
    io.delete(tmpPtr)
    if (!won) {
      // the destination belongs to the race WINNER — never delete under
      // a claimed table; our staged extras are orphans its gcOrphans
      // reclaims after the grace window
      throw new IllegalStateException(
        s"table ${to.namespace}.${to.name} already exists (lost rename race)")
    }
    // 5) the source must not have moved while we staged
    val unchanged = scala.util.Try(
      latestManifestFile(from).map(_._1) == Some(fromVer) &&
        io.readString(fromPath) == pointerBytes).getOrElse(false)
    if (!unchanged) {
      // we own the destination claim — unstaging it fully is safe
      io.delete(manifestPathFor(to, fromVer))
      io.list(to.dir.resolve("meta")).foreach(io.delete)
      if (Files.exists(to.dir))
        listDir(Files.walk(to.dir))(_.toSeq).sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
      throw new java.util.ConcurrentModificationException(
        s"${from.name}: a commit landed during rename — rerun")
    }
    // 6) retire the source: pointers FIRST (the name disappears), then
    //    segments, then the linked data (bytes survive via the
    //    destination's links). Pointers delete in ASCENDING version
    //    order so the newest goes LAST: a crash mid-retire must leave
    //    the source either fully readable (newest pointer intact) or
    //    gone — never rolled back to an older version (found by the
    //    crash-point fuzz).
    io.list(from.dir).filter(_.getFileName.toString.startsWith("manifest.v"))
      .sortBy(_.getFileName.toString)
      .foreach(io.delete)
    io.list(from.dir.resolve("meta")).foreach(io.delete)
    if (Files.exists(from.dir))
      listDir(Files.walk(from.dir))(_.toSeq).sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
  }

  /** a10: atomic full refresh — new snapshot referencing only the new
    * files (extract_load.py:94-98 createOrReplace). `statsCols`
    * captures per-file min/max for manifest-level pruning. */
  def createOrReplace(ref: TableRef, df: DataFrame,
      statsCols: Seq[String] = Nil): Snapshot = {
    Files.createDirectories(ref.dataDir)
    val files = stage(ref, df)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols.toSet)
    commitCAS(ref) { cur =>
      Manifest.advance(cur, ref.name, Snapshot.empty.next(Manifest.nextId(cur),
        if (cur.isDefined) "replace" else "create", added = files,
        addedRows = rowsByFile, addedStats = stats))
    }.current
  }

  /** a11: append — new snapshot = previous files + new files; create
    * on first load (extract_load.py:100-110). Concurrent appends both
    * land: a lost CAS race rebases onto the winner's file list.
    * `summary` key/values commit atomically with the snapshot (the
    * Iceberg snapshot-summary role) — a streaming sink records its
    * batch id here so the data and its exactly-once marker can never
    * diverge (there is no window between two commits for a crash to
    * split). */
  def append(ref: TableRef, df: DataFrame,
      statsCols: Seq[String] = Nil,
      summary: Map[String, String] = Map.empty,
      keepSortedOn: Option[String] = None): Snapshot = {
    Files.createDirectories(ref.dataDir)
    // pre-stage check (the in-CAS require is authoritative; this one
    // just avoids staging files that are guaranteed to be refused)
    if (tableExists(ref))
      require(readManifest(ref).current.partitionSpec.isEmpty,
        s"${ref.name} has a hidden-partition spec — use appendTransformed")
    val newFiles = stage(ref, df)
    val (rowsByFile, stats) = footerRowsAndStats(ref, newFiles, statsCols.toSet)
    commitCAS(ref) { cur =>
      val snap = cur match {
        case None =>
          Snapshot.empty.next(1L, "create", added = newFiles,
            addedRows = rowsByFile, addedStats = stats, summary = summary)
        case Some(m) =>
          require(m.current.partitionSpec.isEmpty,
            s"${ref.name} has a hidden-partition spec — use " +
              "appendTransformed (a flat append would strand the new " +
              "files outside the transform layout and drop the spec)")
          m.current.next(m.nextId, "append", added = newFiles,
            addedRows = rowsByFile, addedStats = stats, summary = summary,
            partitionCols = Nil, // the new files are flat
            // d54's rule on the API face: the sort marker survives an
            // append only when the writer range-clustered on the
            // TABLE's own sort ORDER (appendSorted passes it); any
            // other append drops it honestly. Canonical compare —
            // "a desc, b" and "a DESC,b" are the same order.
            sortedBy = m.current.sortedBy.filter(mk =>
              keepSortedOn.exists(k =>
                SortKey.canon(k) == SortKey.canon(mk))))
      }
      Manifest.advance(cur, ref.name, snap)
    }.current
  }

  /** Drop a staged-but-uncommitted result after a lost CAS race.
    * Flat-staged files reclaim their whole per-commit token dir
    * (markers like _SUCCESS included); partition-staged files live in
    * SHARED `data/part/<col>=<v>/` dirs hosting other commits' files,
    * so those are deleted by exact path only (token-prefixed names
    * make them precisely ours) and the dirs are left standing. */
  private def unstageFiles(ref: TableRef, files: Seq[String]): Unit = {
    val (shared, tokened) = files.partition(_.startsWith("data/part/"))
    shared.foreach(f => scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
    tokened.map(_.split('/')(1)).distinct.foreach { token =>
      scala.util.Try {
        val d = ref.dataDir.resolve(token)
        listDir(Files.list(d))(_.foreach(Files.deleteIfExists(_)))
        Files.deleteIfExists(d)
      }
    }
  }

  /** Identity policy applied at the two commit choke points: a
    * CREATE (no prior manifest / claiming v1) mints the table uuid; a
    * rebase that lost it (a builder that rebuilt positionally instead
    * of copy()) re-inherits the base's — so the uuid can never churn
    * on a legacy uuid-less table and never changes within one
    * incarnation. */
  /** Stamp commit lineage (Iceberg's parent-snapshot-id) on every
    * snapshot NEW in this commit that did not declare a parent: a
    * staged branch commit chains on the branch's PREVIOUS head (or
    * the main head it branched from), everything else chains on the
    * PRE-COMMIT main head. Sites whose base is not the head declare
    * parentId themselves (rollback → its target; analyze/unorder →
    * the snapshot they copy). Central so no commit path can forget —
    * $history's is_current_ancestor walks these parents, and the old
    * implied previous-in-sequence lineage mislabeled rolled-back
    * commits as ancestors and staged WAP snapshots as parents of the
    * main-line commit that followed them. */
  private def stampParents(next: Manifest, cur: Option[Manifest]): Manifest = {
    val known = cur.map(_.snapshots.map(_.id).toSet).getOrElse(Set.empty[Long])
    if (next.snapshots.forall(s => known(s.id) || s.parentId.isDefined)) next
    else {
      // pre-commit head, only if it still resolves (a fresh table has none)
      val head = cur.map(_.currentSnapshotId)
        .filter(id => cur.exists(_.snapshots.exists(_.id == id)))
      val branchParent: Map[Long, Long] = next.branches.iterator.collect {
        case (b, id) if !known(id) =>
          id -> cur.flatMap(_.branches.get(b)).orElse(head)
      }.collect { case (id, Some(p)) => id -> p }.toMap
      next.copy(snapshots = next.snapshots.map { s =>
        if (known(s.id) || s.parentId.isDefined) s
        else s.copy(parentId = branchParent.get(s.id).orElse(head))
      })
    }
  }

  private def withIdentity(next: Manifest, cur: Option[Manifest]): Manifest =
    next.tableUuid match {
      case Some(_) => next
      case None => cur match {
        case Some(m) => next.copy(tableUuid = m.tableUuid)
        case None =>
          next.copy(tableUuid = Some(java.util.UUID.randomUUID.toString))
      }
    }

  /** One conditional commit claiming exactly `version`: succeeds only
    * if no other writer committed since the result was computed (the
    * serializable conflict-validation primitive merge / deleteWhere /
    * updateWhere retry on). */
  private def claimVersion(ref: TableRef, version: Long, next0: Manifest,
      staged: Seq[String], base: Option[Manifest] = None): Boolean = {
    // v1 claim = table creation (manifest versions only grow; expiry
    // never deletes them all) — mint identity exactly like commitCAS
    val next = stampParents(
      if (version == 1L) withIdentity(next0, None) else next0, base)
    val tmp = ref.dir.resolve(s".manifest.tmp.${java.util.UUID.randomUUID}")
    val segs = writeManifestTo(ref, next, tmp)
    val won = io.claim(manifestPathFor(ref, version), tmp)
    io.delete(tmp)
    if (!won) {
      unstageSegments(ref, segs)
      unstageFiles(ref, staged) // stale base: recompute on the winner
    }
    won
  }

  /** MERGE/upsert (the Iceberg `MERGE INTO` shape the reference's
    * users reach through Spark SQL): rows in `updates` replace
    * current rows with the same key, unmatched update rows are
    * inserted, all other current rows are preserved; the result
    * commits as one new replace snapshot (atomic, time-travelable).
    *
    * `deleteWhere` adds the `WHEN MATCHED AND cond THEN DELETE`
    * branch: update rows satisfying the predicate are tombstones —
    * matching current rows are REMOVED and the tombstone itself is
    * never inserted (the GDPR-erasure shape an LLM training pipeline
    * needs: feed the keys to erase with the predicate true). Full
    * clause mapping: MATCHED ∧ cond → DELETE; MATCHED ∧ ¬cond →
    * UPDATE; NOT MATCHED ∧ ¬cond → INSERT; NOT MATCHED ∧ cond →
    * no-op (erasing an absent key is idempotent).
    *
    * At scale this is one anti-join (shuffle on the key) + a rewrite
    * of the table — the copy-on-write MERGE strategy. The rewrite is
    * layout-preserving: a partitioned/sorted table re-stages through
    * its own partition dirs / sort clustering and the new snapshot
    * keeps `partitionCols`/`sortedBy` (updates to a partitioned table
    * must therefore carry the partition columns). Conflict
    * validation: the commit claims the exact version the merge was
    * computed against; if a concurrent writer won, the merge is
    * RECOMPUTED against the new table state and retried (Iceberg's
    * serializable-merge behavior), so no concurrent append is lost. */
  def merge(spark: SparkSession, ref: TableRef, updates: DataFrame,
      keyCols: Seq[String], statsCols: Seq[String] = Nil,
      deleteWhere: Option[String] = None,
      summary: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    Files.createDirectories(ref.dataDir)
    // rows that survive the predicate upsert; tombstones only delete
    val upserts = deleteWhere match {
      case Some(cond) => updates.filter(!org.apache.spark.sql.functions.expr(cond))
      case None => updates
    }
    def unstage(files: Seq[String]): Unit = unstageFiles(ref, files)
    def tryCommit(version: Long, next: Manifest, files: Seq[String],
        base: Option[Manifest]): Boolean =
      claimVersion(ref, version, next, files, base)
    while (true) {
      latestManifestFile(ref) match {
        case None =>
          // Create-only commit claiming version 1. Delegating to
          // createOrReplace here would be unsafe: its build closure
          // commits op="replace" with only the update rows even if a
          // concurrent writer created the table after our None check —
          // silently discarding that writer's data. A failed claim on
          // v1 instead loops back into the normal merge path against
          // the now-existing table.
          val files = stage(ref, upserts)
          val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols.toSet)
          val snap = Snapshot.empty.next(1L, "create", added = files,
            addedRows = rowsByFile, addedStats = stats, summary = summary)
          if (tryCommit(1L, Manifest(ref.name, 1L, Seq(snap)), files, None))
            return snap
        case Some((baseVersion, basePath)) =>
          val base = decodeManifest(ref, basePath)
          val cur = base.current
          require(!cur.morLive,
            s"${ref.name} has live MoR delete sidecars — compact() to " +
              "materialize them before a copy-on-write merge")
          val current =
            if (cur.partitionCols.nonEmpty)
              readPartitionedFiles(spark, ref, cur.files)
            else readFiles(spark, ref, cur.files)
          // anti-join on ALL update keys (upserts AND tombstones):
          // a tombstoned key's current row must not survive
          val survivors = current.join(
            updates.select(keyCols.map(org.apache.spark.sql.functions.col): _*),
            keyCols, "left_anti")
          // allowMissingColumns: after a schema-evolving append the
          // table may carry columns the updates lack (or vice versa) —
          // missing sides surface null, matching mergeSchema reads
          // layout-preserving: the merged table keeps the partition
          // dirs / sort clustering (and snapshot metadata) it had
          val files = restageWithLayout(ref,
            upserts.unionByName(survivors, allowMissingColumns = true),
            cur, cur.files.size)
          val keepStatsCols = (statsCols ++ cur.fileStats.values.flatten
            .map(_.col)).toSet.map(currentName(base.renamedCols, _))
          val (rowsByFile, stats) = footerRowsAndStats(ref, files, keepStatsCols)
          // restageWithLayout met the layout: the merged table keeps it
          val snap = Snapshot.empty.next(base.nextId, "replace",
            added = files, addedRows = rowsByFile, addedStats = stats,
            summary = summary, partitionCols = cur.partitionCols,
            partitionSpec = cur.partitionSpec, sortedBy = cur.sortedBy)
          if (tryCommit(baseVersion + 1, base.advance(snap),
              files, Some(base))) {
            // MERGE rewrites the table → refresh any Bloom sidecar
            // (no-op without one), same as compact()
            BloomIndex.refreshAll(spark, ref)
            return snap
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Standalone `DELETE FROM t WHERE p` (Iceberg copy-on-write
    * delete): rewrites ONLY the files that contain matching rows —
    * one scan finds the touched file set, each touched file is
    * rewritten without its matches, every other file stays
    * byte-identical in the new snapshot. At 100 TB a targeted delete
    * (one tenant, one day) touches the handful of files stats/layout
    * put those rows in, not the table; contrast merge(), which
    * rewrites everything because every current row may pair with an
    * update. A predicate matching nothing commits nothing (idempotent
    * no-op). Conflict validation as in merge: the commit claims the
    * exact base version and recomputes on loss. The rewrite is
    * LAYOUT-PRESERVING: rewritten rows re-stage through the table's
    * own partition dirs / sort clustering and the new snapshot keeps
    * `partitionCols`/`sortedBy`, so partition and stats pruning work
    * exactly as before (Iceberg likewise rewrites within the table's
    * partition spec and sort order). On partitioned tables the
    * predicate may reference partition columns — the detection scan
    * reads through partition discovery, so path-borne columns are
    * first-class predicate inputs. */
  def deleteWhere(spark: SparkSession, ref: TableRef, predicate: String,
      statsCols: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.{expr, not}
    rewriteWhere(spark, ref, predicate, "delete", statsCols,
      df => df.filter(not(expr(predicate))))
  }

  /** Standalone `UPDATE t SET c = e, ... WHERE p` (copy-on-write
    * update): same touched-files-only rewrite as deleteWhere, with
    * matching rows transformed instead of dropped. `set` maps column
    * name → SQL expression (evaluated on the matching row). */
  def updateWhere(spark: SparkSession, ref: TableRef, predicate: String,
      set: Map[String, String], statsCols: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.{col, expr, when}
    require(set.nonEmpty, "updateWhere requires at least one SET column")
    rewriteWhere(spark, ref, predicate, "update", statsCols,
      df => set.foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(c, when(expr(predicate), expr(e)).otherwise(col(c)))
      })
  }

  /** d47: MERGE-ON-READ delete (Iceberg v2 position deletes / the
    * deletion-vector role): instead of rewriting every touched file
    * (copy-on-write `deleteWhere`), write a position-delete SIDECAR —
    * parquet rows of (file_path, pos) for the matching rows — and
    * commit a snapshot that references the same data files plus the
    * sidecar. Write cost is O(matched rows), ZERO data rewrite: the
    * GDPR-erasure path a 100 TB table takes when the matches touch
    * every file and COW would rewrite the table. Reads pay an
    * anti-join against the sidecars until `compact()` materializes
    * them away — the standard MoR read-amplification trade, with
    * compaction as the amortizer.
    *
    * Positions are Spark's own `_metadata.file_path` / `_metadata
    * .row_index` (the engine's file-provenance columns), so the
    * sidecar's keys and the read-side anti-join keys come from the
    * SAME renderer by construction. Predicates are evaluated on the
    * MoR VIEW (existing sidecars applied), so stacked deletes never
    * re-tombstone a dead row. Conflict validation: the commit
    * re-checks that every data file the positions were computed
    * against is still live — a concurrent rewrite fails the delete
    * loudly (positions into rewritten files would be garbage), while
    * concurrent APPENDS rebase and survive. Flat/sorted tables only
    * (partitioned rewrites are COW's job); snapshot-level metadata
    * counts stay physical, so metadata-only COUNT surfaces refuse
    * while deletes are live. */
  def deleteWhereMoR(spark: SparkSession, ref: TableRef,
      predicate: String): Snapshot = {
    import org.apache.spark.sql.functions.{col, expr}
    while (true) {
      val (baseVersion, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalArgumentException(s"${ref.name} does not exist"))
      val base = decodeManifest(ref, basePath)
      val snap = base.current
      // identity-partitioned tables take MoR position deletes too
      // (round 12): sidecars reference files by path, so partition
      // scope rides along for free; reads fold per layout group and
      // compact() materializes within the layout — the CDC/GDPR path
      // a day-partitioned 100 TB bronze table actually needs.
      require(base.writeLayoutCols == snap.partitionCols,
        s"${ref.name} has a pending partition-spec evolution — the " +
          "partitioned era carries no sidecars; use COW deletes or " +
          "land the layout first")
      require(snap.eqDeletes.isEmpty,
        s"${ref.name} has live EQUALITY-delete sidecars — their matched " +
          "row counts are unknown without a scan, so a position delete " +
          "on top would corrupt the logical rowCount; compact() first")
      val matches = morView(spark, ref, snap).filter(expr(predicate))
        .select(col("_mor_file").as("file_path"), col("_mor_pos").as("pos"))
      val token = java.util.UUID.randomUUID.toString.take(8)
      val outDir = ref.deletesDir.resolve(token)
      withMicrosTimestamps(spark) {
        matches.write.mode("overwrite").parquet(outDir.toString)
      }
      val sidecars = listDir(Files.list(outDir))(_
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted).map(n => s"deletes/$token/$n")
      val deleted = countRowsFromFooters(ref, sidecars)
      if (deleted == 0L) { // nothing matched: reclaim the empty stage
        listDir(Files.walk(outDir))(_.toSeq).sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
        return snap
      }
      // r14: per-file dead census rides the commit so pruned scans
      // keep exact logical row stats (one grouped count, O(files))
      val deadCensus = posSidecarDead(spark, ref, sidecars, snap.files)
      val committed = commitCAS(ref) { cur =>
        val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
        val head = m.current
        val gone = snap.files.filterNot(head.files.contains)
        // a concurrent rewrite of an indexed file OR a concurrent
        // sidecar change invalidates the view this delete was
        // computed on (row counts and tombstone sets would skew)
        if (gone.nonEmpty || head.deleteFiles != snap.deleteFiles) {
          listDir(Files.walk(outDir))(_.toSeq).sortBy(-_.getNameCount)
            .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
          throw new java.util.ConcurrentModificationException(
            s"${ref.name}: the snapshot this MoR delete was computed " +
              "against changed concurrently (rewrite or sidecar) — re-run")
        }
        m.advance(head.next(m.nextId, "delete-mor", removedRows = deleted,
          addedDeletes = sidecars,
          addedDead = deadCensus.getOrElse(Map.empty)))
      }
      return committed.current
    }
    throw new IllegalStateException("unreachable")
  }

  /** d72: MERGE-ON-READ EQUALITY delete (Iceberg v2 equality deletes
    * — the CDC-friendly shape): delete every current row whose key
    * tuple appears in `keys`, WITHOUT knowing positions — the sidecar
    * stores only the key batch. Write cost is O(keys) sidecar bytes +
    * one logical-count scan; zero data files touched. Sequence rule:
    * the sidecar (committed at snapshot D) applies to files added
    * strictly before D, so a later re-insert of a deleted key
    * survives — exactly what a CDC upsert stream needs. Readers fold
    * the sidecars as broadcast anti-joins; compact() materializes and
    * clears them. The connector refuses eq-delete-live tables
    * (compact first) — the engine face is the read path. */
  def deleteByKeysMoR(spark: SparkSession, ref: TableRef,
      keys: DataFrame, keyCols: Seq[String]): Snapshot = {
    require(keyCols.nonEmpty, "deleteByKeysMoR requires key columns")
    while (true) {
      val (baseVersion, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalArgumentException(s"${ref.name} does not exist"))
      val base = decodeManifest(ref, basePath)
      val snap = base.current
      require(snap.partitionCols.intersect(keyCols).isEmpty,
        s"equality-delete keys ${keyCols.mkString(",")} overlap " +
          s"${ref.name}'s partition columns — path-borne values are " +
          "not in the data pages the read-side anti-join decodes; key " +
          "on data columns or take the COW path")
      require(base.writeLayoutCols == snap.partitionCols,
        s"${ref.name} has a pending partition-spec evolution — the " +
          "partitioned era carries no sidecars; land the layout first")
      val keyBatch = keys
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .distinct().localCheckpoint()
      // exact logical count: matched rows of the CURRENT logical view
      // (one broadcast semi-join scan — the price of keeping
      // Snapshot.rowCount truthful; Iceberg skips this and reports
      // physical counts instead). r14: counted PER FILE — the same
      // scan also yields the sidecar's dead census, so pruned scans
      // keep exact stats
      val matchedRows = readSnapWithDeletes(spark, ref, snap, snap.files,
          keepFile = true)
        .join(org.apache.spark.sql.functions.broadcast(keyBatch),
          keyCols, "left_semi")
        .groupBy(org.apache.spark.sql.functions.col("_mor_file"))
        .count().collect()
      val matched = matchedRows.map(_.getLong(1)).sum
      val matchedByFile: Option[Map[String, Long]] = {
        val m = matchedRows.map(r => (Option(r.getString(0))
          .flatMap(matchStagedPath(snap.files, _)), r.getLong(1)))
        if (m.exists(_._1.isEmpty)) None
        else Some(m.map { case (f, n) => f.get -> n }.toMap)
      }
      if (matched == 0L) return snap
      val token = java.util.UUID.randomUUID.toString.take(8)
      val outDir = ref.deletesDir.resolve(token)
      withMicrosTimestamps(spark) {
        keyBatch.coalesce(1).write.mode("overwrite").parquet(outDir.toString)
      }
      val sidecars = listDir(Files.list(outDir))(_
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted).map(n => s"deletes/$token/$n")
      try {
        val committed = commitCAS(ref) { cur =>
          val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
          val head = m.current
          val gone = snap.files.filterNot(head.files.contains)
          if (gone.nonEmpty || head.deleteFiles != snap.deleteFiles ||
              head.eqDeletes != snap.eqDeletes || head.files != snap.files) {
            throw new java.util.ConcurrentModificationException(
              s"${ref.name}: the snapshot this equality delete was " +
                "computed against changed concurrently — re-run")
          }
          val id = m.nextId
          m.advance(head.next(id, "delete-eq", removedRows = matched,
            addedEqDeletes = sidecars.map(EqDelete(_, keyCols, id)),
            addedDead = matchedByFile.map(mf =>
              Map(sidecars.head -> mf) ++
                sidecars.tail.map(_ -> Map.empty[String, Long]))
              .getOrElse(Map.empty)))
        }
        return committed.current
      } catch { case e: java.util.ConcurrentModificationException =>
        listDir(Files.walk(outDir))(_.toSeq).sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
        throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** s22: ATOMIC MoR UPSERT (the Flink→Iceberg upsert-mode commit):
    * ONE snapshot that appends the batch's rows as new data files AND
    * carries an equality-delete sidecar for their keys. The sequence
    * rule makes this correct by construction — the sidecar (sequence
    * = this snapshot) hides matching rows of OLDER files only, never
    * the rows committed with it. Write cost O(batch); zero existing
    * files touched; a reader sees the pre- or post-upsert state,
    * never a key doubled or missing. Replay converges: re-upserting
    * the same batch deletes the prior epoch's copies and re-adds
    * identical rows. */
  def upsertByKeysMoR(spark: SparkSession, ref: TableRef,
      rows: DataFrame, keyCols: Seq[String]): Snapshot = {
    require(keyCols.nonEmpty, "upsertByKeysMoR requires key columns")
    val cached = rows.localCheckpoint()
    while (true) {
      val (_, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalArgumentException(s"${ref.name} does not exist"))
      val base = decodeManifest(ref, basePath)
      val snap = base.current
      require(snap.partitionCols.intersect(keyCols).isEmpty,
        s"upsert keys ${keyCols.mkString(",")} overlap ${ref.name}'s " +
          "partition columns — path-borne values are not in the data " +
          "pages the read-side anti-join decodes; key on data columns")
      require(base.writeLayoutCols == snap.partitionCols,
        s"${ref.name} has a pending partition-spec evolution — the " +
          "partitioned era carries no sidecars; land the layout first")
      val keyBatch = cached
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .distinct().localCheckpoint()
      // r14: matched counted PER FILE (see deleteByKeysMoR) — the
      // sidecar's dead census keeps pruned-scan stats exact
      val matchedRows = readSnapWithDeletes(spark, ref, snap, snap.files,
          keepFile = true)
        .join(org.apache.spark.sql.functions.broadcast(keyBatch),
          keyCols, "left_semi")
        .groupBy(org.apache.spark.sql.functions.col("_mor_file"))
        .count().collect()
      val matched = matchedRows.map(_.getLong(1)).sum
      val matchedByFile: Option[Map[String, Long]] = {
        val m = matchedRows.map(r => (Option(r.getString(0))
          .flatMap(matchStagedPath(snap.files, _)), r.getLong(1)))
        if (m.exists(_._1.isEmpty)) None
        else Some(m.map { case (f, n) => f.get -> n }.toMap)
      }
      // batch rows land through the table's OWN layout (transform dirs
      // derived per row; sorted tables range-clustered) — same rule as
      // every other append path
      val dataFiles = restageWithLayout(ref, cached, snap, 1)
      val (newRowsByFile, newStats) = footerRowsAndStats(ref, dataFiles)
      val sidecars: Seq[String] =
        if (matched == 0L) Nil // pure insert: no old versions to hide
        else {
          val token = java.util.UUID.randomUUID.toString.take(8)
          val outDir = ref.deletesDir.resolve(token)
          withMicrosTimestamps(spark) {
            keyBatch.coalesce(1).write.mode("overwrite")
              .parquet(outDir.toString)
          }
          listDir(Files.list(outDir))(_
            .map(_.getFileName.toString)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
            .toSeq.sorted).map(n => s"deletes/$token/$n")
        }
      val committed = commitCAS(ref) { cur =>
        val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
        val head = m.current
        if (head.files != snap.files || head.deleteFiles != snap.deleteFiles ||
            head.eqDeletes != snap.eqDeletes) {
          unstageFiles(ref, dataFiles)
          sidecars.headOption.foreach { s0 =>
            val dir = ref.dir.resolve(s0).getParent
            listDir(Files.walk(dir))(_.toSeq).sortBy(-_.getNameCount)
              .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
          }
          throw new java.util.ConcurrentModificationException(
            s"${ref.name}: the snapshot this upsert was computed against " +
              "changed concurrently — re-run")
        }
        val id = m.nextId
        m.advance(head.next(id, "upsert-eq", removedRows = matched,
          added = dataFiles, addedRows = newRowsByFile, addedStats = newStats,
          addedEqDeletes = sidecars.map(EqDelete(_, keyCols, id)),
          addedDead = if (sidecars.isEmpty) Map.empty
            else matchedByFile.map(mf => Map(sidecars.head -> mf) ++
              sidecars.tail.map(_ -> Map.empty[String, Long]))
              .getOrElse(Map.empty)))
      }
      return committed.current
    }
    throw new IllegalStateException("unreachable")
  }

  /** d48: MERGE-ON-READ UPDATE — the MoR twin of `updateWhere`: the
    * matching rows' positions become a delete sidecar and their
    * TRANSFORMED copies append as new data files, both in ONE
    * snapshot (op "update-mor"), so a reader never sees the row
    * doubled or missing. Write cost is O(matches) sidecar +
    * O(matches) new rows — zero rewrite of untouched rows, the MoR
    * economics of d47 applied to UPDATE. `set` maps column name →
    * SQL expression evaluated on the matching row. Same conflict
    * rule as d47: a concurrent rewrite of an indexed file fails the
    * statement loudly; concurrent appends rebase and survive. */
  def updateWhereMoR(spark: SparkSession, ref: TableRef,
      predicate: String, set: Map[String, String]): Snapshot = {
    import org.apache.spark.sql.functions.{col, expr}
    require(set.nonEmpty, "updateWhereMoR requires at least one SET column")
    val (_, basePath) = latestManifestFile(ref).getOrElse(
      throw new IllegalArgumentException(s"${ref.name} does not exist"))
    val base = decodeManifest(ref, basePath)
    val snap = base.current
    // identity-partitioned tables take MoR updates too (round 12):
    // the transformed copies restage through the table's own dirs —
    // a SET on a partition column lands the copies in their NEW
    // value dirs, exactly what the layout means
    require(base.writeLayoutCols == snap.partitionCols,
      s"${ref.name} has a pending partition-spec evolution — the " +
        "partitioned era carries no sidecars; land the layout first")
    require(snap.eqDeletes.isEmpty,
      s"${ref.name} has live EQUALITY-delete sidecars — compact() before " +
        "a position-based MoR update")
    val matched = morView(spark, ref, snap).filter(expr(predicate))
      .localCheckpoint() // one scan feeds BOTH the sidecar and the rewrite
    val token = java.util.UUID.randomUUID.toString.take(8)
    val outDir = ref.deletesDir.resolve(token)
    withMicrosTimestamps(spark) {
      matched.select(col("_mor_file").as("file_path"), col("_mor_pos").as("pos"))
        .write.mode("overwrite").parquet(outDir.toString)
    }
    val sidecars = listDir(Files.list(outDir))(_
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted).map(n => s"deletes/$token/$n")
    val deleted = countRowsFromFooters(ref, sidecars)
    if (deleted == 0L) {
      listDir(Files.walk(outDir))(_.toSeq).sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(Files.deleteIfExists(p)))
      return snap
    }
    // r14: per-file dead census for pruned-scan stats
    val deadCensus = posSidecarDead(spark, ref, sidecars, snap.files)
    // cast each SET expression to the column's EXISTING type: UPDATE
    // never changes a column's type, and an uncast literal (-1.0 is
    // a DECIMAL(2,1)) would silently drift the appended files' schema
    val rewritten = set.foldLeft(
        matched.drop("_mor_file", "_mor_pos")) { case (d, (c, e)) =>
      d.withColumn(c, expr(e).cast(d.schema(c).dataType))
    }
    // the transformed copies land through the table's OWN layout
    // (transform dirs re-derived, sorted tables re-clustered) so the
    // MoR append keeps pruning tight instead of accreting flat files
    val newFiles = restageWithLayout(ref, rewritten, snap, 1)
    // ledger stats key STORED names; the rewrite staged era-visible
    // ones — re-collect under the chain-resolved names
    val keepStatsCols = snap.fileStats.values.flatten.map(_.col).toSet
      .map(currentName(base.renamedCols, _))
    val (rowsByFile, stats) = footerRowsAndStats(ref, newFiles, keepStatsCols)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
      val head = m.current
      val gone = snap.files.filterNot(head.files.contains)
      if (gone.nonEmpty || head.deleteFiles != snap.deleteFiles) {
        (sidecars ++ newFiles).foreach(f =>
          scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
        throw new java.util.ConcurrentModificationException(
          s"${ref.name}: the snapshot this MoR update was computed " +
            "against changed concurrently (rewrite or sidecar) — re-run")
      }
      // the copies replace the rows the sidecars kill: rowCount holds
      m.advance(head.next(m.nextId, "update-mor",
        removedRows = rowsByFile.values.sum,
        added = newFiles, addedRows = rowsByFile, addedStats = stats,
        addedDeletes = sidecars,
        addedDead = deadCensus.getOrElse(Map.empty)))
    }.current
  }

  /** r15: the write-mode routing every SQL row-level statement
    * resolves (Iceberg's `write.delete.mode` / `write.update.mode` /
    * `write.merge.mode` table properties): session conf
    * `spark.graft.icelite.<op>Mode` (operational override) > table
    * property `write.<op>.mode` > copy-on-write. Accepts Iceberg's
    * spellings plus the short forms. A bad value fails the STATEMENT
    * loudly — never silently copy-on-write. */
  def resolvedWriteMode(spark: SparkSession, ref: TableRef,
      op: String): String = {
    require(Set("delete", "update", "merge").contains(op),
      s"unknown row-level op '$op'")
    val v = spark.conf.getOption(s"spark.graft.icelite.${op}Mode")
      .orElse(readManifest(ref).properties.get(s"write.$op.mode"))
      .getOrElse("copy-on-write").trim.toLowerCase
    v match {
      case "mor" | "merge-on-read" => "merge-on-read"
      case "cow" | "copy-on-write" => "copy-on-write"
      case other => throw new IllegalArgumentException(
        s"invalid write mode '$other' for $op on ${ref.name} — " +
          "expected merge-on-read or copy-on-write")
    }
  }

  /** r15: the COMMIT half of a SQL merge-on-read row-level statement
    * (the SupportsDelta / WriteDelta path — Spark's own delta-based
    * row-level contract, Iceberg's position-delta role): ONE snapshot
    * adds the statement's position-delete sidecars and its new data
    * files, so a reader never sees a row doubled or missing. Write
    * cost is O(matched rows); zero untouched rows rewritten. Same
    * conflict rule as the engine-API MoR ops: a concurrent rewrite of
    * a scanned file (or any concurrent sidecar/eq change) fails the
    * statement loudly — positions into rewritten files would be
    * garbage; concurrent appends rebase and survive. */
  private[graft] def commitDelta(spark: SparkSession, ref: TableRef,
      scanned: Snapshot, newFiles: Seq[String], sidecars: Seq[String],
      opName: String): Snapshot = {
    val (_, basePath) = latestManifestFile(ref).getOrElse(
      throw new IllegalArgumentException(s"${ref.name} does not exist"))
    val base = decodeManifest(ref, basePath)
    val deleted = countRowsFromFooters(ref, sidecars)
    // per-file dead census rides the commit so pruned scans keep
    // exact logical row stats (one grouped count, O(sidecar rows))
    val deadCensus =
      if (sidecars.isEmpty) None
      else posSidecarDead(spark, ref, sidecars, scanned.files)
    // ledger stats key STORED names; the delta staged era-visible
    // ones — re-collect under the chain-resolved names
    val keepStatsCols = scanned.fileStats.values.flatten.map(_.col).toSet
      .map(currentName(base.renamedCols, _))
    val (rowsByFile, stats) = footerRowsAndStats(ref, newFiles, keepStatsCols)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
      val head = m.current
      val gone = scanned.files.filterNot(head.files.contains)
      if (gone.nonEmpty || head.deleteFiles != scanned.deleteFiles ||
          head.eqDeletes != scanned.eqDeletes) {
        (sidecars ++ newFiles).foreach(f =>
          scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
        throw new java.util.ConcurrentModificationException(
          s"${ref.name}: the snapshot this MoR $opName was computed " +
            "against changed concurrently (rewrite or sidecar) — re-run")
      }
      m.advance(head.next(m.nextId, opName, removedRows = deleted,
        added = newFiles, addedRows = rowsByFile, addedStats = stats,
        addedDeletes = sidecars,
        addedDead = deadCensus.getOrElse(Map.empty)))
    }.current
  }

  /** d49: CHANGELOG SCAN (Delta CDF / Iceberg changelog role) — the
    * row-level changes between two snapshots as a DataFrame with
    * `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and `_commit_snapshot_id`. Derivable WITHOUT
    * separate change files because every commit in the range is
    * either file-additive (append → inserts) or sidecar-additive
    * (delete-mor → deletes; update-mor → pre/postimages): new data
    * files carry the added rows, new sidecars NAME the removed rows
    * by position, and a semi-join against the prior files recovers
    * their values. Rewriting commits (replace/compact/COW
    * delete/update/merge/rollback) break file-diff ≡ row-diff and
    * are refused loudly — the same restriction Delta CDF has when
    * CDC files are absent. The downstream-consumer pattern at
    * 100 TB: a sync job reads O(changed rows), never O(table). */
  def changes(spark: SparkSession, ref: TableRef,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = readManifest(ref)
    require(m.renamedCols.isEmpty,
      s"${ref.name} has RENAME COLUMN history — changelog rows would mix " +
        "stored names across eras; re-baseline the consumer instead")
    def idx(id: Long): Int = {
      val i = m.snapshots.indexWhere(_.id == id)
      require(i >= 0, s"snapshot $id not found in ${ref.name} (expired?)")
      i
    }
    val fromIdx = idx(fromSnapshotId)
    val toIdx = idx(toSnapshotId)
    require(fromIdx <= toIdx,
      s"changes needs fromSnapshotId <= toSnapshotId, got " +
        s"$fromSnapshotId .. $toSnapshotId")
    // an EMPTY range (from == to) is a consumer that is already
    // caught up — zero rows, changelog schema intact (the CDC
    // poll-with-no-news case; found by the empty-state sweep)
    val range = m.snapshots.slice(fromIdx, toIdx + 1)
    val bad = range.tail.map(_.operation)
      .filterNot(Set("append", "stage-append", "delete-mor", "update-mor",
        "delete-eq", "upsert-eq"))
    require(bad.isEmpty,
      s"changelog range of ${ref.name} contains rewriting commit(s) " +
        s"${bad.distinct.mkString(", ")} — file diffs no longer equal " +
          "row diffs; re-baseline the consumer from a full read")
    val slices = range.sliding(2).collect { case Seq(prev, s) =>
      val isUpdate = s.operation == "update-mor"
      // identity-partitioned snapshots (reachable since the round-12
      // MoR lift) read through discovery so change rows CARRY their
      // path-borne partition columns — a flat read would silently
      // drop them from the changelog
      def readSlice(snap: Snapshot, files: Seq[String],
          withPositions: Boolean): DataFrame =
        if (snap.partitionCols.nonEmpty)
          readPartitionedFiles(spark, ref, files, withPositions)
        else if (withPositions)
          readFiles(spark, ref, files)
            .withColumn("_mor_file", col("_metadata.file_path"))
            .withColumn("_mor_pos", col("_metadata.row_index"))
        else readFiles(spark, ref, files)
      val newFiles = s.files.filterNot(prev.files.toSet)
      val inserts =
        if (newFiles.isEmpty) None
        else Some(readSlice(s, newFiles, withPositions = false)
          .withColumn("_change_type",
            lit(if (isUpdate) "update_postimage" else "insert"))
          .withColumn("_commit_snapshot_id", lit(s.id)))
      val newSidecars = s.deleteFiles.filterNot(prev.deleteFiles.toSet)
      val deletes =
        // prev.files empty → no row can match a position sidecar, and
        // `_metadata` would not resolve on the schema-only fallback
        if (newSidecars.isEmpty || prev.files.isEmpty) None
        else {
          val dels = readPlain(spark, ref, newSidecars)
          val prior = readSlice(prev, prev.files, withPositions = true)
          Some(prior.join(dels,
              normPathCol(prior("_mor_file")) === normPathCol(dels("file_path")) &&
              prior("_mor_pos") === dels("pos"), "left_semi")
            .drop("_mor_file", "_mor_pos")
            .withColumn("_change_type",
              lit(if (isUpdate) "update_preimage" else "delete"))
            .withColumn("_commit_snapshot_id", lit(s.id)))
        }
      // d72: equality-delete commits — the deleted rows are prev's
      // LOGICAL rows matching the new key batches (all of prev's
      // files predate the delete snapshot, so the sequence rule
      // matches every one of them)
      val newEq = s.eqDeletes.filterNot(prev.eqDeletes.toSet)
      val eqDeleted =
        if (newEq.isEmpty) None
        else {
          val prior = readSnapWithDeletes(spark, ref, prev, prev.files)
          Some(newEq.groupBy(_.keyCols).map { case (kc, dels) =>
            val keys = dels.map(d =>
              readPlain(spark, ref, Seq(d.file))
                .select(kc.map(col): _*)).reduce(_ unionByName _).distinct()
            prior.join(org.apache.spark.sql.functions.broadcast(keys),
              kc, "left_semi")
          }.reduce(_ unionByName _)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_snapshot_id", lit(s.id)))
        }
      Seq(inserts, deletes, eqDeleted).flatten
    }.flatten.toSeq
    if (slices.isEmpty)
      read(spark, ref).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_snapshot_id", lit(0L))
    else slices.reduce(_ unionByName _)
  }

  /** The MoR view of a snapshot WITH its position key columns
    * (`_mor_file`, `_mor_pos`) still attached: raw file rows, minus
    * every (file, pos) any sidecar tombstones. The anti-join's build
    * side is the sidecars — sized by deleted rows, not the table. */
  private def morView(spark: SparkSession, ref: TableRef,
      snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // an emptied snapshot reads as a schema-only LocalRelation, where
    // the `_metadata` pseudo-column does not resolve (tf fuzz seed
    // 6021 op11) — attach typed-null position keys instead so the
    // downstream filter/select still analyzes and yields zero rows
    val df =
      if (snap.files.isEmpty)
        readFiles(spark, ref, snap.files)
          .withColumn("_mor_file", lit(null).cast("string"))
          .withColumn("_mor_pos", lit(null).cast("long"))
      else if (snap.partitionCols.nonEmpty)
        // identity-partitioned: discovery read so the predicate can
        // reference path-borne partition columns; positions captured
        // per layout group (withPositions) before the union
        readPartitionedFiles(spark, ref, snap.files, withPositions = true)
      else readFiles(spark, ref, snap.files)
        .withColumn("_mor_file", col("_metadata.file_path"))
        .withColumn("_mor_pos", col("_metadata.row_index"))
    if (snap.deleteFiles.isEmpty || snap.files.isEmpty) df
    else {
      val dels = readPlain(spark, ref, snap.deleteFiles)
      df.join(dels,
        normPathCol(df("_mor_file")) === normPathCol(dels("file_path")) &&
        df("_mor_pos") === dels("pos"), "left_anti")
    }
  }

  /** Read `files` of `snap` with its position AND equality deletes
    * applied (helper columns dropped) — every read path of a MoR-live
    * snapshot funnels through here. */
  private def readFilesWithDeletes(spark: SparkSession, ref: TableRef,
      snap: Snapshot, files: Seq[String],
      widensOf: Option[Seq[WidenedCol]] = None,
      renamesOf: Option[Seq[RenamedCol]] = None,
      // r14: keep the `_mor_file` provenance column in the output —
      // the per-file matched census the eq-delete writers record
      keepFile: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // zero files → zero rows: no sidecar can change that, and the
    // `_metadata` pseudo-column would not resolve on the schema-only
    // fallback read (same empty-state class as tf fuzz seed 6021)
    if (files.isEmpty) {
      val base = readFiles(spark, ref, files, widensOf, renamesOf)
      return if (keepFile) base.withColumn("_mor_file", lit(null).cast("string"))
        else base
    }
    val positioned =
      if (snap.deleteFiles.isEmpty) {
        val base = readFiles(spark, ref, files, widensOf, renamesOf)
        if (keepFile) base.withColumn("_mor_file", col("_metadata.file_path"))
        else base
      } else {
        val df = readFiles(spark, ref, files, widensOf, renamesOf)
          .withColumn("_mor_file", col("_metadata.file_path"))
          .withColumn("_mor_pos", col("_metadata.row_index"))
        val dels = readPlain(spark, ref, snap.deleteFiles)
        val anti = df.join(dels,
            normPathCol(df("_mor_file")) === normPathCol(dels("file_path")) &&
            df("_mor_pos") === dels("pos"), "left_anti")
        if (keepFile) anti.drop("_mor_pos")
        else anti.drop("_mor_file", "_mor_pos")
      }
    applyEqDeletes(spark, ref, snap, positioned)
  }

  /** d72: fold EQUALITY-delete sidecars into a read. Sequence rule
    * (Iceberg's, with snapshot ids as sequence numbers): a sidecar
    * committed at snapshot D deletes a matching row only if the row's
    * data file was added STRICTLY BEFORE D — a post-delete re-insert
    * of the same key survives. File "added at" resolves from the
    * snapshot history (first snapshot listing the file); the lookup
    * is broadcast (O(files) rows) and each key batch is a broadcast
    * anti-join — CDC batches are small by nature, the corpus is
    * never reshuffled. */
  private def applyEqDeletes(spark: SparkSession, ref: TableRef,
      snap: Snapshot, df: DataFrame): DataFrame =
    if (snap.eqDeletes.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{broadcast, col, lit, udf}
      val m = readManifest(ref)
      val ordered = m.snapshots.sortBy(_.id)
      def addedAt(f: String): Long =
        ordered.find(_.files.contains(f)).map(_.id).getOrElse(0L)
      // file provenance: `_metadata` on single-relation frames, the
      // pre-captured `_mor_file` on layout-group unions (where the
      // pseudo-column no longer resolves)
      val provenance =
        if (df.columns.contains("_mor_file")) col("_mor_file")
        else col("_metadata.file_path")
      // `_metadata.file_path` renders ESCAPED partition dirs
      // double-encoded (an on-disk `4-NOT%20SPECIFIED` arrives as
      // `%2520`), so a lookup keyed by the manifest's raw paths
      // silently missed every file under an escaped value dir — the
      // sidecar stopped applying there and deleted rows RESURFACED
      // (found round 12 by the partitioned d72 witness over real
      // o_orderpriority values). Escaping is detectable driver-side:
      // when every path round-trips URI rendering unchanged (the
      // overwhelmingly common case — flat staged names are URI-safe
      // by construction), the raw compare is exact and the fold stays
      // a codegen'd broadcast-hash-join; only a table whose paths
      // actually escape pays the per-row decode (matchStagedPath's
      // logic with its per-call state hoisted out — the naive
      // per-row matchStagedPath rebuilt an O(files) set every row).
      // A non-match keeps the row (null added-at fails the sequence
      // test) — the conservative direction.
      def uriSafe(abs: String): Boolean = scala.util.Try(
        new java.net.URI("file", null, abs, null).getRawPath == abs)
        .getOrElse(false)
      val absAdded: Seq[(String, Long)] =
        snap.files.map(f => (ref.dir.resolve(f).toString, addedAt(f)))
      val withAdded =
        if (absAdded.forall(p => uriSafe(p._1))) {
          import spark.implicits._
          val lookup = absAdded.toDF("_eq_path", "_eq_added")
          df.withColumn("_eq_file",
              org.apache.spark.sql.functions.regexp_replace(
                provenance, "^file:/*", "/"))
            .join(broadcast(lookup), col("_eq_file") === col("_eq_path"), "left")
            .drop("_eq_path", "_eq_file")
        } else {
          val byRel = snap.files.toSet
          val depths = snap.files.map(_.count(_ == '/') + 1).distinct
          val addedByRel: Map[String, Long] =
            snap.files.iterator.map(f => f -> addedAt(f)).toMap
          val addedAtUdf = udf((uri: String) =>
            if (uri == null) None
            else {
              val decoded = scala.util.Try(
                new java.net.URI(uri).getPath).getOrElse(uri)
              val segs = decoded.split('/')
              depths.iterator
                .map(d => segs.takeRight(d).mkString("/"))
                .collectFirst { case rel if byRel(rel) => rel }
                .flatMap(addedByRel.get)
            })
          df.withColumn("_eq_added", addedAtUdf(provenance))
        }
      val folded = snap.eqDeletes.groupBy(_.keyCols).foldLeft(withAdded) {
        case (cur, (kc, dels)) =>
          val keys = dels.map { d =>
            readPlain(spark, ref, Seq(d.file))
              .select(kc.map(col): _*)
              .withColumn("_eq_dsnap", lit(d.snapshotId))
          }.reduce(_ unionByName _)
          val cond = kc.map(c => cur(c) <=> keys(c)).reduce(_ && _) &&
            keys("_eq_dsnap") > cur("_eq_added")
          cur.join(broadcast(keys), cond, "left_anti")
      }
      folded.drop("_eq_added")
    }

  /** Re-stage rewritten rows in the snapshot's OWN layout (the
    * layout-preserving half of merge/deleteWhere/updateWhere):
    * partitioned tables re-stage through the Hive dirs of the current
    * spec, sorted tables re-cluster on the sort key into `numFiles`
    * range-partitioned files (tight, non-overlapping [min,max] among
    * the rewritten files), flat tables stage as-is. Without this a
    * rewrite landed flat and the table silently lost its pruning
    * layout until the next compact(). */
  private def restageWithLayout(ref: TableRef, df: DataFrame,
      layoutOf: Snapshot, numFiles: Int): Seq[String] =
    if (layoutOf.partitionCols.nonEmpty)
      stagePartitioned(ref, df, layoutOf.partitionCols)
    else if (layoutOf.partitionSpec.nonEmpty)
      // d56: rewritten rows re-derive their transform dirs (the
      // source columns are in the data, so the layout is recomputable)
      stageTransformed(ref, df, layoutOf.partitionSpec)
    else layoutOf.sortedBy match {
      case Some(sc) =>
        val cs = SortKey.exprs(sc)
        stage(ref, df.repartitionByRange(math.max(1, numFiles), cs: _*)
          .sortWithinPartitions(cs: _*))
      case None => stage(ref, df)
    }

  private def rewriteWhere(spark: SparkSession, ref: TableRef,
      predicate: String, op: String, statsCols: Seq[String],
      transform: DataFrame => DataFrame): Snapshot = {
    import org.apache.spark.sql.functions.{expr, input_file_name}
    while (true) {
      val (baseVersion, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalArgumentException(s"${ref.name} does not exist"))
      val base = decodeManifest(ref, basePath)
      val snap = base.current
      require(!snap.morLive,
        s"${ref.name} has live MoR delete sidecars — compact() to " +
          "materialize them before a copy-on-write rewrite")
      // partition-aware read: path-borne partition columns must be
      // predicate-visible and must survive into the rewrite
      def readSlice(fs: Seq[String]): DataFrame =
        if (snap.partitionCols.nonEmpty) readPartitionedFiles(spark, ref, fs)
        else readFiles(spark, ref, fs)
      // one scan over current files: which contain matching rows?
      // (file-name set is O(files), driver-sized — the same scale
      // class as the manifest itself)
      val hitUris = readSlice(snap.files)
        .filter(expr(predicate))
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      val affected = hitUris.flatMap(matchStagedPath(snap.files, _)).toSet
      if (affected.isEmpty) return snap // nothing matches: no-op
      val rewritten = transform(readSlice(affected.toSeq))
      val staged = restageWithLayout(ref, rewritten, snap, affected.size)
      // a rewrite that empties a touched file DROPS it — never commit
      // a zero-row replacement file (Iceberg's delete semantics; a
      // delete-all otherwise leaves junk files that survive forever
      // and make `files` metadata lie at scale). Found by the
      // empty-state sweep: delete-all must yield a ZERO-FILE snapshot.
      // Keep pruning precise across the rewrite: re-collect every
      // column the current snapshot tracks, plus any caller additions
      // (ledger names chain-resolved: the restage stores era-visible
      // names). An empty file carries no stats.
      val keepStatsCols = (statsCols ++ snap.fileStats.values.flatten
        .map(_.col)).toSet.map(currentName(base.renamedCols, _))
      val (stagedRows, stats) =
        footerRowsAndStats(ref, staged, keepStatsCols)
      val (newFiles, emptyStage) =
        staged.partition(f => stagedRows.getOrElse(f, 0L) > 0L)
      emptyStage.foreach(f =>
        scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
      val newRowsByFile = stagedRows -- emptyStage
      val affectedRows = countRowsFromFooters(ref, affected.toSeq)
      // restageWithLayout met the layout the snapshot carries forward
      val next = snap.next(base.nextId, op, affected, affectedRows,
        newFiles, newRowsByFile, stats)
      // delete-all: pin the schema before the file-bearing history
      // can expire (see compact's twin comment)
      val declared =
        if (next.files.nonEmpty || base.declaredSchemaDdl.nonEmpty)
          base.declaredSchemaDdl
        else Some(rewritten.schema.toDDL)
      if (claimVersion(ref, baseVersion + 1,
          base.advance(next).copy(declaredSchemaDdl = declared),
          newFiles, Some(base))) {
        BloomIndex.refreshAll(spark, ref) // rewrite → refresh sidecars
        return next
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** a10 variant with a SORT ORDER (Iceberg sort orders): the data is
    * range-partitioned on `sortCol` into `numFiles` files and sorted
    * within each, so per-file [min,max] ranges are non-overlapping and
    * `prunedFiles`/`readPruned` resolve a point or range lookup to the
    * minimal file set — the layout that makes stats pruning precise
    * instead of best-effort. The snapshot records the order for engine
    * introspection. At 100 TB this is the write amplification you pay
    * once at ingest to make every subsequent range scan touch ~1/N of
    * the table. */
  def createOrReplaceSorted(ref: TableRef, df: DataFrame, sortCol: String,
      numFiles: Int, statsCols: Seq[String] = Nil): Snapshot = {
    require(numFiles >= 1, "numFiles must be >= 1")
    Files.createDirectories(ref.dataDir)
    // `sortCol` accepts a whole encoded order ("a DESC, b") — a bare
    // column name parses as one ascending key (r13)
    val cs = SortKey.exprs(sortCol)
    val shaped =
      df.repartitionByRange(numFiles, cs: _*).sortWithinPartitions(cs: _*)
    val files = stage(ref, shaped)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files,
      (statsCols ++ SortKey.cols(Some(sortCol))).toSet)
    commitCAS(ref) { cur =>
      Manifest.advance(cur, ref.name, Snapshot.empty.next(Manifest.nextId(cur),
        if (cur.isDefined) "replace" else "create", added = files,
        addedRows = rowsByFile, addedStats = stats,
        sortedBy = Some(SortKey.canon(sortCol))))
    }.current
  }

  /** d28: sorted APPEND — the append-side half of a sort-order
    * evolution. New data is range-partitioned on `sortCol` into
    * `numFiles` files and sorted within each (tight, non-overlapping
    * [min,max] among the NEW files), while existing files keep
    * whatever layout they were written with — no rewrite. This is how
    * a table ADOPTS a clustering key at 100 TB: new commits cluster
    * immediately, old files re-cluster lazily via compact(). The
    * snapshot-level sortOrder is intentionally NOT set: it would
    * claim the whole table is sorted, and only the new files are —
    * pruning precision comes from per-file stats, which are exact
    * either way. */
  def appendSorted(ref: TableRef, df: DataFrame, sortCol: String,
      numFiles: Int, statsCols: Seq[String] = Nil): Snapshot = {
    require(numFiles >= 1, "numFiles must be >= 1")
    // `sortCol` accepts a whole encoded order ("a DESC, b") — a bare
    // column name parses as one ascending key (r13)
    val cs = SortKey.exprs(sortCol)
    append(ref,
      df.repartitionByRange(numFiles, cs: _*).sortWithinPartitions(cs: _*),
      (statsCols ++ SortKey.cols(Some(sortCol))).distinct,
      keepSortedOn = Some(sortCol))
  }

  /** Compaction — Iceberg's `rewrite_data_files` role. Rewrites the
    * current snapshot's many small files into `targetFiles` large ones
    * as a new "replace" snapshot: content-identical, time-travelable,
    * and conflict-validated like merge (the commit claims exactly the
    * version it compacted against; a lost race recomputes on the
    * winner's file list, so no concurrent append's rows are dropped).
    * Stats columns are re-derived from the current snapshot's
    * fileStats, so min/max pruning survives compaction. Partitioned
    * tables re-stage through the partition layout (one file per value
    * per compaction). Old files stay on disk until snapshot expiry
    * reclaims them — steady-state ELT is append-small-files +
    * periodic compact + expire, the standard lakehouse maintenance
    * loop for the small-file problem at scale. */
  def compact(spark: SparkSession, ref: TableRef, targetFiles: Int = 1): Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    // exact-path unstage (safe for both layouts — merge's token-dir
    // unstage would delete the SHARED data/part dir on partitioned
    // tables)
    def unstageExact(files: Seq[String]): Unit =
      files.foreach(f => scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
    def tryCommit(version: Long, next: Manifest, files: Seq[String]): Boolean = {
      val tmp = ref.dir.resolve(s".manifest.tmp.${java.util.UUID.randomUUID}")
      val segs = writeManifestTo(ref, next, tmp)
      val won = io.claim(manifestPathFor(ref, version), tmp)
      io.delete(tmp)
      if (!won) {
        unstageSegments(ref, segs)
        unstageExact(files) // stale base: recompute on winner's state
      }
      won
    }
    while (true) {
      val (baseVersion, basePath) = latestManifestFile(ref).getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      val base = decodeManifest(ref, basePath)
      val cur = base.current
      val statsCols = cur.fileStats.values.flatten.map(_.col).toSet
        .map(currentName(base.renamedCols, _))
      // d83/d85: the layout this compaction LANDS — the declared
      // write layout (identical to the current one when no evolution
      // is pending); compaction is the EVOLUTION MATERIALIZER for
      // BOTH layout kinds: one pass lands every row in its declared
      // value dirs (identity: ends the mixed era, overwrites legal
      // again; transform: re-derives the declared spec's dirs).
      val landedSpec = base.writeLayoutSpec
      val landedCols =
        if (landedSpec.nonEmpty) Nil else base.writeLayoutCols
      val files =
        if (landedSpec.nonEmpty)
          // d56: compaction re-derives the transform layout (merges
          // the small files WITHIN each bucket/day dir — the source
          // columns are in the data, so the dirs are recomputable)
          stageTransformed(ref,
            readFilesWithDeletes(spark, ref, cur, cur.files),
            landedSpec)
        else if (landedCols.nonEmpty)
          // identity layout (current or pending). Partitioned tables
          // carry MoR sidecars too (round 12): compaction is their
          // materializer here exactly as on flat tables — the fold
          // reads per layout group, the restage re-derives the value
          // dirs, and the new snapshot below carries no sidecars.
          // (A PENDING evolution never coexists with sidecars: the
          // layout DDL refuses while they are live and the MoR writes
          // refuse while it is pending.)
          stagePartitioned(ref,
            readPartitionedWithDeletes(spark, ref, cur, cur.files),
            landedCols)
        else (base.declaredSortedBy.orElse(cur.sortedBy)) match {
          // preserve the table's sort order: a hash repartition would
          // destroy the non-overlapping file ranges sorted writes buy.
          // A DECLARED order (d89 WRITE ORDERED BY) wins — compaction
          // is the sort-order MATERIALIZER exactly as it is the
          // layout-evolution materializer above: this one pass
          // re-clusters every file and the snapshot below earns the
          // whole-table `sortedBy` marker. MoR sidecars are APPLIED
          // here and absent from the new snapshot — compaction is
          // the delete materializer (d47)
          case Some(sc) =>
            val cs = SortKey.exprs(sc)
            stage(ref, readFilesWithDeletes(spark, ref, cur, cur.files)
              .repartitionByRange(targetFiles, cs: _*)
              .sortWithinPartitions(cs: _*))
          case None =>
            stage(ref, readFilesWithDeletes(spark, ref, cur, cur.files)
              .repartition(targetFiles))
        }
      // compacting a fully-tombstoned table must land ZERO files, not
      // one empty one (empty-state sweep) — the schema survives in
      // the manifest's declared DDL, recorded below
      val (stagedRows, stats) =
        footerRowsAndStats(ref, files, statsCols)
      val (kept, emptyStage) =
        files.partition(f => stagedRows.getOrElse(f, 0L) > 0L)
      emptyStage.foreach(f =>
        scala.util.Try(Files.deleteIfExists(ref.dir.resolve(f))))
      val rowsByFile = stagedRows -- emptyStage
      val snap = Snapshot.empty.next(base.nextId, "replace", added = kept,
        addedRows = rowsByFile, addedStats = stats,
        // d83/d85: the materialized layout is the declared one
        partitionCols = landedCols, partitionSpec = landedSpec,
        // a flat→partitioned/transform materialization drops the
        // flat sort marker honestly (rule 25): the restage clusters
        // by value dirs, not the sort key. A flat restage EARNS the
        // declared order's marker (d89): every file was just
        // range-clustered on it
        sortedBy = if (landedCols.nonEmpty || landedSpec.nonEmpty) None
          else base.declaredSortedBy.orElse(cur.sortedBy))
      // a zero-file current snapshot with no declared DDL would lose
      // its schema the moment history expires or a clone strips it —
      // pin the logical schema in the manifest at emptying time
      // (Iceberg: table metadata always carries the schema)
      val declared =
        if (kept.nonEmpty || base.declaredSchemaDdl.nonEmpty)
          base.declaredSchemaDdl
        else Some(read(spark, ref).schema.toDDL)
      if (tryCommit(baseVersion + 1,
          base.advance(snap).copy(declaredSchemaDdl = declared), kept)) {
        // rewrites orphan any Bloom sidecar (d17): its entries key the
        // replaced files, so lookups stop pruning until rebuilt.
        // No-op for tables without sidecars.
        BloomIndex.refreshAll(spark, ref)
        return snap
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** d55: PARTIAL compaction — merge only the files whose [min,max]
    * stats on `col` intersect [lo,hi] (Iceberg's
    * `rewrite_data_files(where => ...)`): at 100 TB "compact the
    * table" is not an operation, "compact yesterday's ingest range"
    * is. Files outside the range stay BYTE-IDENTICAL in the new
    * snapshot; files without stats on `col` are conservatively
    * INCLUDED (merging unknown files is row-preserving, skipping
    * in-range ones would leave the small-file problem in place).
    * Sorted tables re-cluster the merged rows on their sort key, so
    * the range's files stay disjoint and prunable. Commits through
    * commitReplace: concurrent appends rebase and survive; a
    * concurrent rewrite of a selected file fails loudly. Live MoR
    * sidecars refuse (full compact() is the delete materializer);
    * partitioned tables refuse (compact per partition value instead).
    * No-op (current snapshot returned) when ≤1 file is in range. */
  def compactRange(spark: SparkSession, ref: TableRef, col: String,
      lo: Double, hi: Double, targetFiles: Int = 1): Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val snap = readManifest(ref).current
    require(!snap.morLive,
      s"${ref.name} has live MoR delete sidecars — full compact() " +
        "materializes them; range compaction cannot split a sidecar")
    require(snap.partitionSpec.isEmpty,
      "range compaction on transform layouts: full compact() merges " +
        "within transform dirs (a source-column range does not map " +
        "cleanly onto bucket/truncate dirs)")
    def statSelected(files: Seq[String]): Seq[String] = files.filter { f =>
      snap.fileStats.get(f).flatMap(_.find(_.col == col)) match {
        case Some(cs) => cs.max >= lo && cs.min <= hi
        case None => true // statless file: conservatively merged
      }
    }
    if (snap.partitionCols.nonEmpty) {
      // PER-PARTITION hot-range compaction — the actual 100 TB
      // maintenance shape: a streaming sink sprays small files into
      // the hot partitions (today's date, the active tenant) while
      // cold partitions are already compact; merging only the hot
      // range touches O(hot partitions' files), never the table. The
      // range selects by PARTITION VALUE when `col` is a partition
      // column (path-borne, so numeric-parsed; non-numeric values are
      // conservatively left alone), by file stats otherwise; files
      // merge WITHIN their own partition dir (one file per dir per
      // pass, compact()'s shape), so the Hive layout and partition
      // pruning survive untouched.
      def partVals(f: String): Map[String, String] =
        f.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
          val c = seg.takeWhile(_ != '=')
          c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
        }.toMap
      val selected =
        if (snap.partitionCols.contains(col))
          snap.files.filter(f => partVals(f).get(col)
            .flatMap(_.toDoubleOption).exists(v => v >= lo && v <= hi))
        else statSelected(snap.files)
      // only dirs holding >1 selected file have anything to merge
      val byDir = selected.groupBy(_.split('/').dropRight(1).mkString("/"))
        .filter(_._2.size > 1)
      if (byDir.isEmpty) return snap
      val toMerge = byDir.values.flatten.toSeq.sorted
      val df = readPartitionedFiles(spark, ref, toMerge)
      val staged = stagePartitioned(ref, df, snap.partitionCols)
      return commitReplace(ref, toMerge.toSet, staged, "compact-range")
    }
    val selected = statSelected(snap.files)
    if (selected.size <= 1) return snap
    val df = readFiles(spark, ref, selected)
    val staged = snap.sortedBy match {
      case Some(sc) =>
        val cs = SortKey.exprs(sc)
        stage(ref, df.repartitionByRange(targetFiles, cs: _*)
          .sortWithinPartitions(cs: _*))
      case None => stage(ref, df.repartition(targetFiles))
    }
    commitReplace(ref, selected.toSet, staged, "compact-range")
  }

  /** d59: Z-ORDER REWRITE — Iceberg's `rewrite_data_files(strategy =>
    * 'sort', sort_order => 'zorder(c1, c2)')` role: rewrite the whole
    * table clustered on the Morton interleave of two columns, so
    * per-file min/max stats become tight rectangles in BOTH
    * dimensions and `prunedFilesMulti` drops files for conjunctive
    * range predicates. This is the maintenance face of what d16 does
    * at write time: a table that accumulated hash- or arrival-ordered
    * files (every file spanning the full key space, stats useless)
    * gets its locality back in one conflict-validated rewrite.
    * Commits through commitReplace: concurrent appends rebase and
    * survive; a concurrent rewrite of a selected file fails loudly;
    * the old layout stays time-travelable until expiry. Stats for the
    * new files come from the parquet footers at commit (no second
    * scan). Flat tables only — partitioned tables cluster within
    * their dirs via compact(); live MoR sidecars refuse (compact()
    * is the delete materializer); linearly-sorted tables refuse too,
    * because the commit path would carry their `sortedBy` marker onto
    * files the z-rewrite just un-sorted (NOTES rule 25: meet the
    * layout contract or drop the marker — and the z-key is not a
    * linear sort on any data column, so no marker can be kept). */
  def rewriteZOrder(spark: SparkSession, ref: TableRef, col1: String,
      col2: String, targetFiles: Int = 8): Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val snap = readManifest(ref).current
    require(!snap.morLive,
      s"${ref.name} has live MoR delete sidecars — full compact() " +
        "materializes them before a z-order rewrite")
    require(snap.partitionCols.isEmpty && snap.partitionSpec.isEmpty,
      "z-order rewrite supports flat tables; partitioned " +
        "tables cluster within their dirs via compact()")
    require(snap.sortedBy.isEmpty,
      s"${ref.name} is sorted by ${snap.sortedBy.get} — a z-order " +
        "rewrite would keep the marker on un-sorted files; drop the " +
        "sort (compact to flat) first")
    val zc = org.apache.spark.sql.functions.col("__zkey")
    val shaped = readFiles(spark, ref, snap.files)
      .withColumn("__zkey",
        graft.functions.ZOrder.key2(
          org.apache.spark.sql.functions.col(col1),
          org.apache.spark.sql.functions.col(col2)))
      .repartitionByRange(targetFiles, zc)
      .sortWithinPartitions(zc)
      .drop("__zkey")
    val staged = stage(ref, shaped)
    commitReplace(ref, snap.files.toSet, staged, "replace")
  }

  /** Stage with Hive-style partition layout. Files land in SHARED
    * per-value dirs `data/part/<col>=<value>/<token>-part-*.parquet`
    * (token-prefixed names keep concurrent commits collision-free) —
    * the same multi-commit-per-partition-dir layout Hive/Iceberg use.
    * A single shared root matters: Spark's partition discovery rejects
    * `<col>=<v>` dirs scattered under per-commit token dirs as
    * CONFLICTING_DIRECTORY_STRUCTURES. Returns table-relative paths
    * including the partition segment. */
  private def stagePartitioned(ref: TableRef, df: DataFrame,
      partitionCols: Seq[String]): Seq[String] = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val token = java.util.UUID.randomUUID.toString.take(8)
    val tmpDir = ref.dataDir.resolve(s".stage-$token")
    // one task per partition tuple (repartition on the columns) → one
    // file per value combination instead of files × tasks small-file
    // spray; this is also the write shape that scales (each partition
    // dir is written sequentially by its owning task)
    withMicrosTimestamps(df.sparkSession) {
      df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(tmpDir.toString)
    }
    val staged = listDir(Files.walk(tmpDir))(_
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .toSeq)
      .map { p =>
        // nested <a>=<v1>/<b>=<v2>/... path below the staging root
        val valuePath = tmpDir.relativize(p.getParent)
        val dest = ref.dataDir.resolve("part").resolve(valuePath)
          .resolve(s"$token-${p.getFileName}")
        Files.createDirectories(dest.getParent)
        Files.move(p, dest)
        ref.dir.relativize(dest).toString
      }.sorted
    // drop the now-empty staging skeleton
    listDir(Files.walk(tmpDir))(_.toSeq).sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists(_))
    staged
  }

  /** a10 variant: atomic full refresh written with a Hive-style
    * (possibly multi-level) partition layout; the snapshot records the
    * partition columns so reads can prune at the manifest level
    * (Iceberg identity-partition semantics). `statsCols` must be data
    * columns (partition columns live in the path, not the files). */
  def createOrReplacePartitioned(ref: TableRef, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String]): Snapshot = {
    Files.createDirectories(ref.dataDir)
    val files = stagePartitioned(ref, df, partitionCols)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols.toSet)
    commitCAS(ref) { cur =>
      Manifest.advance(cur, ref.name, Snapshot.empty.next(Manifest.nextId(cur),
        if (cur.isDefined) "replace" else "create", added = files,
        addedRows = rowsByFile, addedStats = stats,
        partitionCols = partitionCols))
    }.current
  }

  /** Single-column sugar (the common case). */
  def createOrReplacePartitioned(ref: TableRef, df: DataFrame,
      partitionCol: String, statsCols: Seq[String] = Nil): Snapshot =
    createOrReplacePartitioned(ref, df, Seq(partitionCol), statsCols)

  /** a11 variant: partitioned append. The partition spec must match
    * the current snapshot's (Iceberg would call this a partition-spec
    * mismatch); use appendPartitionedEvolving to CHANGE the spec. */
  def appendPartitioned(ref: TableRef, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String]): Snapshot =
    appendPartitionedImpl(ref, df, partitionCols, statsCols,
      allowSpecChange = false)

  /** Partition-spec EVOLUTION (Iceberg's headline layout feature):
    * append under a NEW spec without rewriting history. Old files
    * keep their old `col=value` layout — each file's path is
    * self-describing — and the manifest's current spec becomes the
    * new one. Reads union the layout groups (the partition column is
    * path-borne in new files, data-borne in old ones, so no NULLs
    * appear); pruning on an evolved column skips new-layout files by
    * path and keeps pre-evolution files conservatively, with a
    * residual filter making the result exact. This is the only
    * evolution cost model that works at 100 TB: changing the
    * partitioning of a petabyte table must not rewrite a byte of it. */
  def appendPartitionedEvolving(ref: TableRef, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String] = Nil): Snapshot =
    appendPartitionedImpl(ref, df, partitionCols, statsCols,
      allowSpecChange = true)

  private def appendPartitionedImpl(ref: TableRef, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String],
      allowSpecChange: Boolean): Snapshot = {
    Files.createDirectories(ref.dataDir)
    val newFiles = stagePartitioned(ref, df, partitionCols)
    val (rowsByFile, stats) = footerRowsAndStats(ref, newFiles, statsCols.toSet)
    commitCAS(ref) { cur =>
      val snap = cur match {
        case None =>
          Snapshot.empty.next(1L, "create", added = newFiles,
            addedRows = rowsByFile, addedStats = stats,
            partitionCols = partitionCols)
        case Some(m) =>
          require(allowSpecChange || m.current.partitionCols == partitionCols,
            s"partition-spec mismatch: table is partitioned by " +
              s"${m.current.partitionCols}, append by $partitionCols " +
              "(use appendPartitionedEvolving to evolve the spec)")
          // the partitioned era carries no sidecars (same rule the
          // SQL ADD PARTITION FIELD path enforces): a spec evolved
          // UNDER live MoR sidecars once lost them and silently
          // resurfaced every deleted row (round-9 fuzz analysis)
          if (m.current.partitionCols != partitionCols)
            require(!m.current.morLive,
              s"${ref.name} has live MoR delete sidecars — compact() " +
                "to materialize them before evolving the partition spec")
          // live sidecars survive same-spec appends (flat append's
          // rule at its own commit); the sort marker never does
          m.current.next(m.nextId, "append", added = newFiles,
            addedRows = rowsByFile, addedStats = stats,
            partitionCols = partitionCols, partitionSpec = Nil,
            sortedBy = None)
      }
      Manifest.advance(cur, ref.name, snap)
    }.current
  }

  /** Single-column sugar (the common case). */
  def appendPartitioned(ref: TableRef, df: DataFrame,
      partitionCol: String, statsCols: Seq[String] = Nil): Snapshot =
    appendPartitioned(ref, df, Seq(partitionCol), statsCols)

  private def escapePartitionValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** The partition columns a file's own path carries (its layout at
    * write time — under spec evolution, older files carry older
    * layouts). */
  private def fileLayout(f: String): Seq[String] =
    f.split('/').dropRight(1).filter(_.contains('='))
      .map(_.takeWhile(_ != '=')).toSeq

  /** Partition pruning at the manifest level: keep only files whose
    * path matches EVERY per-column filter (a conjunction; columns
    * without a filter entry are unconstrained). Like prunedFiles, this
    * happens BEFORE plan construction — at 100 TB unmatched partitions
    * are never even listed to Spark. Under spec evolution a file whose
    * own layout LACKS a filtered column cannot be path-pruned and is
    * conservatively kept (readPartitionPruned's residual filter makes
    * the row result exact). */
  def partitionPrunedFiles(ref: TableRef,
      filters: Map[String, Set[String]]): Seq[String] = {
    val snap = readManifest(ref).current
    require(snap.partitionCols.nonEmpty, s"${ref.name} is not partitioned")
    val unknown = filters.keySet -- snap.partitionCols.toSet
    require(unknown.isEmpty, s"not partition columns: $unknown")
    val dirSets = filters.map { case (c, vs) =>
      c -> vs.map(v => s"$c=${escapePartitionValue(v)}")
    }
    snap.files.filter { f =>
      val segs = f.split('/').toSet
      val layout = fileLayout(f).toSet
      dirSets.forall { case (c, ds) =>
        !layout.contains(c) || ds.exists(segs.contains)
      }
    }
  }

  /** Single-column sugar: prune the FIRST partition column to `values`. */
  def partitionPrunedFiles(ref: TableRef, values: Set[String]): Seq[String] = {
    val pcols = readManifest(ref).current.partitionCols
    require(pcols.nonEmpty, s"${ref.name} is not partitioned")
    partitionPrunedFiles(ref, Map(pcols.head -> values))
  }

  /** Read the current snapshot of a partitioned table; partition
    * columns are reconstructed from the directory layout (basePath-
    * anchored discovery). */
  def readPartitioned(spark: SparkSession, ref: TableRef): DataFrame =
    readPartitionedFiles(spark, ref, readManifest(ref).current.files)

  /** Read only the partitions matching the per-column filters
    * (manifest-pruned). For files whose layout carries every filtered
    * column, dir-name equality on the escaped values is already
    * exact; the residual filter exists for pre-evolution files kept
    * conservatively (and folds into the scan as a no-op otherwise). */
  def readPartitionPruned(spark: SparkSession, ref: TableRef,
      filters: Map[String, Set[String]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val files = partitionPrunedFiles(ref, filters)
    val base =
      if (files.isEmpty) readPartitioned(spark, ref).limit(0)
      else readPartitionedFiles(spark, ref, files)
    filters.foldLeft(base) { case (df, (c, vs)) =>
      df.filter(col(c).cast("string").isin(vs.toSeq: _*))
    }
  }

  /** Single-column sugar over the first partition column. */
  def readPartitionPruned(spark: SparkSession, ref: TableRef,
      values: Set[String]): DataFrame = {
    val pcols = readManifest(ref).current.partitionCols
    require(pcols.nonEmpty, s"${ref.name} is not partitioned")
    readPartitionPruned(spark, ref, Map(pcols.head -> values))
  }

  /** One discovery read per LAYOUT group, unioned by name: under spec
    * evolution the file list mixes path depths, which a single
    * partition-discovery pass would reject
    * (CONFLICTING_DIRECTORY_STRUCTURES). An evolved partition column
    * is path-borne in new files and data-borne in old ones, so the
    * union is column-complete with no synthetic NULLs. Single-layout
    * tables take the one-group fast path unchanged. */
  private def readPartitionedFiles(spark: SparkSession, ref: TableRef,
      files: Seq[String], withPositions: Boolean = false,
      renamesOf: Option[Seq[RenamedCol]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // zero files: delegate to the flat empty-schema fallback (declared
    // DDL → donor snapshot → zero-column) — the group/reduce below
    // would otherwise throw on the empty collection (same empty-state
    // class as tf fuzz seed 6021)
    if (files.isEmpty) {
      val base = readFiles(spark, ref, files, renamesOf = renamesOf)
      return if (!withPositions) base
      else base.withColumn("_mor_file", lit(null).cast("string"))
        .withColumn("_mor_pos", lit(null).cast("long"))
    }
    // a FLAT-layout group (no k=v dirs — the old era of a
    // flat→partitioned evolution) reads without partition discovery:
    // its files live under data/<token>/, outside the part/ basePath,
    // and carry every column (the future partition field included) in
    // their data pages, so the by-name union stays column-complete
    def readGroup(fs: Seq[String]): DataFrame = {
      val basePath =
        if (fileLayout(fs.head).isEmpty) None
        else Some(ref.dataDir.resolve("part").toString)
      // the footers' merged DATA schema; discovery still adds the
      // path-borne partition columns with their inferred types
      val paths = fs.map(ref.dir.resolve)
      val df = readParquet(spark, paths, fileSchemas(spark,
        inferenceOrder(paths)).map(mergeSchemas(spark, _)), basePath)
      // positions must be captured BEFORE the union: `_metadata` is a
      // per-relation pseudo-column and does not survive unionByName
      if (!withPositions) df
      else df.withColumn("_mor_file", col("_metadata.file_path"))
        .withColumn("_mor_pos", col("_metadata.row_index"))
    }
    val renames = renamesOf.getOrElse(
      scala.util.Try(readManifest(ref).renamedCols).getOrElse(Nil))
    applyRenames(
      files.groupBy(fileLayout).values.toSeq
        .sortBy(_.head) // deterministic union order
        .map(readGroup)
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true)),
      renames)
  }

  // ---------------------------------------------------------------
  // d56: hidden partitioning (Iceberg partition transforms)
  // ---------------------------------------------------------------

  /** The derived directory column for one spec field, as a Spark
    * expression over the source column — evaluated ONLY at write
    * time (readers never see the derived value). */
  private def transformExpr(f: PartitionField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, date_format, hash, lit, pmod, substring}
    f.transform match {
      case "bucket" =>
        require(f.param >= 2, s"bucket(${f.param}) needs >= 2 buckets")
        pmod(hash(col(f.sourceCol)), lit(f.param))
      case "days" => date_format(col(f.sourceCol), "yyyy-MM-dd")
      // Iceberg's coarser/finer time transforms, same dir convention
      // (human-readable, lexically chronological): yyyy / yyyy-MM /
      // yyyy-MM-dd-HH
      case "years" => date_format(col(f.sourceCol), "yyyy")
      case "months" => date_format(col(f.sourceCol), "yyyy-MM")
      case "hours" => date_format(col(f.sourceCol), "yyyy-MM-dd-HH")
      case "truncate" =>
        require(f.param >= 1, s"truncate(${f.param}) needs width >= 1")
        substring(col(f.sourceCol), 1, f.param)
      case t => throw new IllegalArgumentException(
        s"unknown partition transform '$t' " +
          "(bucket | years | months | days | hours | truncate)")
    }
  }

  /** The bucket a LITERAL lands in — evaluated through the same
    * Catalyst Murmur3 expression the write path uses (`hash()` with
    * its default seed), so write-side layout and prune-side mapping
    * can never disagree. */
  private[icelite] def bucketOf(v: Any, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(Seq(Literal(v))).eval(null).asInstanceOf[Int]
    val m = h % n
    if (m < 0) m + n else m
  }

  /** The canonical "yyyy-MM-dd HH:mm:ss" rendering of a temporal
    * literal in the SESSION zone — the zone `date_format` derived the
    * dirs in at write time. `java.sql.Timestamp` (Spark's pushed shape
    * with the java8 API off) must go through `toInstant`: its own
    * toString renders in the JVM DEFAULT zone, which silently offsets
    * day/hour dirs whenever session.timeZone differs from the JVM's.
    * Date-typed literals zero-fill to midnight — exactly what
    * date_format emits for a DateType column. Strings canonicalize
    * only when they already carry the temporal shape (a 'T' separator
    * normalizes to the space the dirs use); anything else is None and
    * the caller declines to prune. */
  private def temporalCanon(v: Any, zoneId: String): Option[String] = {
    def fmt(i: java.time.Instant): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneId.of(zoneId)).format(i)
    v match {
      case i: java.time.Instant => Some(fmt(i))
      case t: java.sql.Timestamp => Some(fmt(t.toInstant))
      case d: java.time.LocalDate => Some(s"$d 00:00:00")
      case d: java.sql.Date => Some(s"${d.toLocalDate} 00:00:00")
      case s: String if s.matches("""\d{4}-\d{2}-\d{2}""") =>
        Some(s"$s 00:00:00")
      case s: String if s.matches("""\d{4}-\d{2}-\d{2}[ T]\d{2}.*""") =>
        Some(s.replace('T', ' '))
      case _ => None
    }
  }

  /** The dir SEGMENTS (`name=value`) a set of pushed literal source
    * values may land in under one spec field — the connector's
    * transform-pruning hook (Iceberg's Spark scan does the same
    * mapping for pushed predicates on hidden-partition sources).
    * Time transforms render literals through [[temporalCanon]] (the
    * session-zone canonical form the write side derived dirs from);
    * bucket hashes the NATIVE value (same Murmur3 literal path as
    * `bucketOf`), so values must arrive coerced to the column type.
    * None = some literal could not be mapped to the dir shape — the
    * caller must KEEP ALL files for this field (pruning on a
    * mis-rendered literal would silently drop matching rows; a
    * too-short rendering — e.g. a bare date against an hours dir —
    * could never match any real dir). */
  private[graft] def transformAllowedSegs(f: PartitionField, vs: Set[Any],
      zoneId: String): Option[Set[String]] = {
    def canonAll(take: Int, hourDash: Boolean): Option[Set[String]] = {
      val cs = vs.map(v => temporalCanon(v, zoneId))
      if (cs.exists(c => c.isEmpty || c.get.length < take)) None
      else Some(cs.map { c =>
        val s = c.get.take(take)
        if (hourDash) s.replace(' ', '-') else s
      })
    }
    val mapped: Option[Set[String]] = f.transform match {
      case "bucket" => Some(vs.map(v => bucketOf(v, f.param).toString))
      case "truncate" => Some(vs.map { v =>
        // temporal values render canonically (truncate over a
        // timestamp column substrings its session-zone cast); plain
        // values truncate their native string form
        temporalCanon(v, zoneId).filter(_ =>
          v.isInstanceOf[java.time.Instant] ||
            v.isInstanceOf[java.sql.Timestamp])
          .getOrElse(v.toString).take(f.param)
      })
      case "days" => canonAll(10, hourDash = false)
      case "years" => canonAll(4, hourDash = false)
      case "months" => canonAll(7, hourDash = false)
      case "hours" => canonAll(13, hourDash = true)
      case t => throw new IllegalArgumentException(s"unknown transform '$t'")
    }
    mapped.map(_.map(m => s"${f.name}=${escapePartitionValue(m)}"))
  }

  /** The derived dir value a literal source value maps to (engine-API
    * pruning — transformPrunedFiles). Time transforms canonicalize
    * through [[temporalCanon]] in the SESSION zone and REFUSE loudly
    * on a literal that cannot reach the dir shape: this path SELECTS
    * the file set, so a silently mis-mapped literal (a bare date
    * against an hours dir) would drop matching rows — the worst
    * failure a pruner can have. The connector's pushed-filter path
    * declines to prune instead (conservative keep-all); here the
    * caller named the predicate explicitly, so a loud error beats a
    * silent full scan. */
  private def transformValue(f: PartitionField, v: Any): String = {
    def canon(take: Int): String = {
      val zone = scala.util.Try(org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone).getOrElse("UTC")
      val c = temporalCanon(v, zone).filter(_.length >= take)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot map literal '$v' to a ${f.transform} dir — pass a " +
            "temporal value or a 'yyyy-MM-dd HH:mm:ss' string"))
      c.take(take)
    }
    f.transform match {
      case "bucket"   => bucketOf(v, f.param).toString
      case "truncate" =>
        // temporal literals render through the session-zone canon —
        // the write side substrings a session-zone cast, while e.g.
        // Instant.toString is UTC ISO with 'T'/'Z' (day can differ
        // for param=10; 'T' mismatches for param>=11): the same
        // silent-drop class NOTES #49 fixed for days/months/years
        val zone = scala.util.Try(org.apache.spark.sql.SparkSession.active
          .sessionState.conf.sessionLocalTimeZone).getOrElse("UTC")
        temporalCanon(v, zone).filter(_ =>
          v.isInstanceOf[java.time.Instant] ||
            v.isInstanceOf[java.sql.Timestamp])
          .getOrElse(v.toString).take(f.param)
      case "days"     => canon(10)
      case "years"    => canon(4)
      case "months"   => canon(7)
      // the dir is "yyyy-MM-dd-HH" (Iceberg's hour dir shape)
      case "hours"    => canon(13).replace(' ', '-')
      case t => throw new IllegalArgumentException(s"unknown transform '$t'")
    }
  }

  private def stageTransformed(ref: TableRef, df: DataFrame,
      spec: Seq[PartitionField]): Seq[String] = {
    require(spec.nonEmpty, "partition spec must be non-empty")
    val srcCols = df.columns.toSet
    spec.foreach { f =>
      require(srcCols.contains(f.sourceCol),
        s"transform source column '${f.sourceCol}' not in dataframe")
      require(!srcCols.contains(f.name),
        s"derived partition name '${f.name}' collides with a data column")
    }
    // derive the dir columns, write Hive-style on the DERIVED names
    // (partitionBy drops them from the file contents — the source
    // columns stay, which is exactly the hidden-partitioning layout),
    // then promote files out of staging like stagePartitioned
    val derived = spec.foldLeft(df) { (d, f) =>
      d.withColumn(f.name, transformExpr(f)) }
    val token = java.util.UUID.randomUUID.toString.take(8)
    val tmpDir = ref.dataDir.resolve(s".stage-$token")
    withMicrosTimestamps(df.sparkSession) {
      derived.repartition(spec.map(f =>
          org.apache.spark.sql.functions.col(f.name)): _*)
        .write.mode("overwrite").partitionBy(spec.map(_.name): _*)
        .parquet(tmpDir.toString)
    }
    val staged = listDir(Files.walk(tmpDir))(_
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .toSeq)
      .map { p =>
        val valuePath = tmpDir.relativize(p.getParent)
        val dest = ref.dataDir.resolve("part").resolve(valuePath)
          .resolve(s"$token-${p.getFileName}")
        Files.createDirectories(dest.getParent)
        Files.move(p, dest)
        ref.dir.relativize(dest).toString
      }.sorted
    listDir(Files.walk(tmpDir))(_.toSeq).sortBy(-_.getNameCount)
      .foreach(Files.deleteIfExists(_))
    staged
  }

  /** d56: atomic full refresh under a HIDDEN (transform-derived)
    * partition layout. Queries never mention the derived columns —
    * they filter the source columns and `transformPrunedFiles` maps
    * those predicates through the transforms. */
  def createOrReplaceTransformed(ref: TableRef, df: DataFrame,
      spec: Seq[PartitionField], statsCols: Seq[String] = Nil): Snapshot = {
    Files.createDirectories(ref.dataDir)
    val files = stageTransformed(ref, df, spec)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols.toSet)
    commitCAS(ref) { cur =>
      Manifest.advance(cur, ref.name, Snapshot.empty.next(Manifest.nextId(cur),
        if (cur.isDefined) "replace" else "create", added = files,
        addedRows = rowsByFile, addedStats = stats, partitionSpec = spec))
    }.current
  }

  /** d56/d85: append under the table's DECLARED hidden-partition spec
    * (the current snapshot's when no evolution is pending). The first
    * append after an `ADD PARTITION FIELD <transform>` lands the
    * evolved spec; old files keep their dirs — reader-invisible, so
    * the mixed era needs no special handling. */
  def appendTransformed(ref: TableRef, df: DataFrame,
      statsCols: Seq[String] = Nil): Snapshot = {
    val spec = readManifest(ref).writeLayoutSpec
    require(spec.nonEmpty, s"${ref.name} has no partition-transform spec")
    val files = stageTransformed(ref, df, spec)
    val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols.toSet)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      require(m.writeLayoutSpec == spec,
        s"partition spec changed concurrently on ${ref.name}")
      m.advance(m.current.next(m.nextId, "append", added = files,
        addedRows = rowsByFile, addedStats = stats,
        partitionSpec = spec, sortedBy = None))
    }.current
  }

  /** A SOURCE-column predicate for transform pruning: either a set of
    * literal values (mapped through bucket/truncate/time-dir equality)
    * or an inclusive day-string range `[loDay, hiDay]` that constrains
    * EVERY time transform derived from the column — days dirs
    * directly, hours dirs through their day prefix, months/years dirs
    * through the range's own prefixes (all lexically chronological by
    * construction of the dir shapes). */
  sealed trait TransformPred { def sourceCol: String }
  final case class SourceIn(sourceCol: String, values: Seq[Any])
      extends TransformPred
  final case class SourceDayRange(sourceCol: String, loDay: String,
      hiDay: String) extends TransformPred

  /** d56: manifest-level pruning through the transforms. Each
    * predicate names a SOURCE column; every spec field derived from
    * it constrains the matching dir segment (bucket/truncate/days
    * literals map to exact dir values; a day range is a lexical
    * range over yyyy-MM-dd dirs, which sort chronologically). Files
    * whose path lacks a field's dir are conservatively kept — the
    * residual filter in readTransformPruned makes results exact.
    * Like every pruning path here this runs BEFORE plan
    * construction: at 100 TB the other buckets/days are never even
    * listed to Spark. */
  def transformPrunedFiles(ref: TableRef,
      preds: Seq[TransformPred]): Seq[String] = {
    val snap = readManifest(ref).current
    require(snap.partitionSpec.nonEmpty,
      s"${ref.name} has no partition-transform spec")
    val bySource = snap.partitionSpec.groupBy(_.sourceCol)
    preds.foreach { p =>
      require(bySource.contains(p.sourceCol),
        s"no transform is derived from '${p.sourceCol}' " +
          s"(spec sources: ${bySource.keys.toSeq.sorted.mkString(", ")})")
    }
    // per spec-field allowed dir segments (None = range check on days)
    val constraints: Seq[(PartitionField, Either[Set[String], (String, String)])] =
      preds.flatMap {
        case SourceIn(c, vs) => bySource(c).map { f =>
          f -> Left(vs.map(v => s"${f.name}=${escapePartitionValue(
            transformValue(f, v))}").toSet)
        }
        case SourceDayRange(c, lo, hi) => bySource(c).collect {
          case f if f.transform == "days" => f -> Right((lo, hi))
          // hours dirs (yyyy-MM-dd-HH): the day prefix decides
          case f if f.transform == "hours" => f -> Right((lo, hi))
          // coarser dirs: the range's own prefixes bound them — a
          // month/year dir is in range iff it intersects [lo, hi],
          // which for prefix-shaped dirs is a prefix compare
          case f if f.transform == "months" =>
            f -> Right((lo.take(7), hi.take(7)))
          case f if f.transform == "years" =>
            f -> Right((lo.take(4), hi.take(4)))
        }
      }
    snap.files.filter { f =>
      val segs = f.split('/').toSeq
      constraints.forall { case (field, c) =>
        segs.find(_.startsWith(s"${field.name}=")) match {
          case None => true // pre-spec file: keep conservatively
          case Some(seg) => c match {
            case Left(allowed) => allowed.contains(seg)
            case Right((lo, hi)) =>
              // prefix-compare at each bound's own granularity: an
              // hours dir (yyyy-MM-dd-HH) is in a DAY range iff its
              // day prefix is; months/years bounds arrive already
              // truncated to their dir width
              val v = seg.drop(field.name.length + 1)
              v.take(lo.length) >= lo && v.take(hi.length) <= hi
          }
        }
      }
    }
  }

  /** d56: pruned read + the exact residual predicate the caller
    * supplies (pruning is conservative; the residual makes rows
    * exact — same contract as readPruned). Data files carry the full
    * source schema, so this is a plain file-list read. */
  def readTransformPruned(spark: SparkSession, ref: TableRef,
      preds: Seq[TransformPred],
      residual: org.apache.spark.sql.Column): DataFrame = {
    val files = transformPrunedFiles(ref, preds)
    if (files.isEmpty) read(spark, ref).where(residual).limit(0)
    else readFilesWithDeletes(spark, ref, readManifest(ref).current, files)
      .where(residual)
  }

  /** Manifest-level file pruning: resolve only the files whose
    * [min,max] range for `col` intersects [lo,hi]; files without
    * stats are conservatively kept. Pruning happens BEFORE plan
    * construction — Catalyst then adds row-group/page-level skipping
    * on what remains. At 100 TB this is the difference between
    * listing every file and touching only the matching partitions. */
  def prunedFiles(ref: TableRef, col: String, lo: Double, hi: Double): Seq[String] = {
    val snap = readManifest(ref).current
    snap.files.filter { f =>
      snap.fileStats.get(f) match {
        case Some(stats) => stats.find(_.col == col) match {
          case Some(cs) => cs.max >= lo && cs.min <= hi
          case None => true
        }
        case None => true
      }
    }
  }

  /** Read with manifest pruning + the residual filter applied. */
  def readPruned(spark: SparkSession, ref: TableRef,
      col: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val files = prunedFiles(ref, col, lo, hi)
    if (files.isEmpty) {
      // preserve schema: read current snapshot's empty slice
      read(spark, ref).where(c(col) >= lo && c(col) <= hi).limit(0)
    } else readFilesWithDeletes(spark, ref, readManifest(ref).current, files)
      .where(c(col) >= lo && c(col) <= hi)
  }

  /** Conjunctive multi-column pruning: keep a file only if EVERY
    * predicate's [lo,hi] intersects that column's stats range. The
    * payoff axis for Z-ordered layouts (d16): interleaved clustering
    * bounds every file in every clustered dimension, so each extra
    * predicate multiplies the skip rate — a single-column sort only
    * ever prunes on its leading key. */
  def prunedFilesMulti(ref: TableRef,
      preds: Seq[(String, Double, Double)]): Seq[String] =
    prunedFilesMulti(readManifest(ref).current, preds)

  /** Snapshot-targeted variant: prune any retained snapshot's file
    * list (the connector's time-travel scans pin one). */
  def prunedFilesMulti(snap: Snapshot,
      preds: Seq[(String, Double, Double)]): Seq[String] = {
    require(preds.nonEmpty, "prunedFilesMulti needs at least one predicate")
    snap.files.filter { f =>
      preds.forall { case (col, lo, hi) =>
        snap.fileStats.get(f) match {
          case Some(stats) => stats.find(_.col == col) match {
            case Some(cs) => cs.max >= lo && cs.min <= hi
            case None => true
          }
          case None => true
        }
      }
    }
  }

  /** Multi-predicate read: manifest pruning + residual conjunction. */
  def readPrunedMulti(spark: SparkSession, ref: TableRef,
      preds: Seq[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val residual = preds.map { case (col, lo, hi) => c(col) >= lo && c(col) <= hi }
      .reduce(_ && _)
    val files = prunedFilesMulti(ref, preds)
    if (files.isEmpty) read(spark, ref).where(residual).limit(0)
    else readFilesWithDeletes(spark, ref, readManifest(ref).current, files)
      .where(residual)
  }

  /** Apply a rename chain to a RAW frame: renamed columns surface
    * under their era-visible name regardless of which physical name
    * each file stores (old files keep the stored name, post-rename
    * files store the new one — Iceberg's field-id behavior, with the
    * ledger playing the id role). When BOTH names appear in the
    * union schema (mixed-era file sets), the per-row value lives in
    * exactly one of them (the other is the mergeSchema null), so a
    * coalesce is the exact chain resolution. Raw reads applying the
    * chain is what keeps REWRITES honest: compact/merge/updateWhere*
    * restage whatever the read surfaces, and a rewrite that
    * materialized BOTH era names into one file would break chain
    * resolution on every engine face (found by RestModelFuzzSpec
    * seeds 41/97 on their first run). */
  private def applyRenames(df: DataFrame,
      renames: Seq[RenamedCol]): DataFrame =
    renames.foldLeft(df) { (d, r) =>
      import org.apache.spark.sql.functions.{coalesce, col}
      val has = d.columns.toSet
      if (has(r.from) && has(r.to))
        d.withColumn(r.to, coalesce(col(r.to), col(r.from))).drop(r.from)
      else if (has(r.from)) d.withColumnRenamed(r.from, r.to)
      else d
    }

  /** The era-visible name of a STORED column name under the full
    * chain (stats ledgers key stored names; rewrites re-collect under
    * the visible ones). */
  private def currentName(renames: Seq[RenamedCol], c: String): String =
    renames.foldLeft(c)((n, r) => if (n == r.from) r.to else n)

  // -------------------------------------------------------------
  // Per-file SCHEMA MEMO. `spark.read.parquet` infers a schema with a
  // Spark job per call, even for one file. Instead each file's schema
  // is read ONCE from its footer, as that job reads it
  // (`readSchemaFromFooter` with inference's converter): by the commit
  // that adds the file, or by the first read that misses it (in
  // parallel on the driver, no Spark job). Reads visit files in
  // inference's path order (ParquetUtils.splitFiles) and pass the
  // result to `spark.read.schema`: merged reads fold with Spark's
  // `StructType.merge`, plain reads take the first file's, and
  // partitioned reads let discovery add the path-borne columns. Keys
  // are absolute path, size, nanosecond mtime and the converter's
  // confs, so a same-path rewrite (DROP + re-CREATE) or a flipped conf
  // (binaryAsString) misses, never hits stale. An unstat-able path
  // reads through plain Spark and fails as it always did. Bounded:
  // cleared when full.
  private final case class SchemaKey(path: String, size: Long,
      mtimeNanos: Long, confs: String)
  private val schemaMemo = new ConcurrentHashMap[SchemaKey, StructType]()
  // one instance per distinct schema: files mostly share theirs
  private val distinctSchemas = new ConcurrentHashMap[StructType, StructType]()
  private val SchemaMemoMax = 65536

  /** Inference's converter for `spark`'s conf (the five confs it
    * reads; the rest at their defaults), and those confs as a key. */
  private def schemaConverter(spark: SparkSession): (SchemaConverter, String) = {
    val c = Bridge.sqlConf(spark)
    val bits = Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
    (new SchemaConverter(assumeBinaryIsString = bits(0),
        assumeInt96IsTimestamp = bits(1), inferTimestampNTZ = bits(2),
        nanosAsLong = bits(3), respectUnknownTypeAnnotation = bits(4)),
      bits.map(b => if (b) '1' else '0').mkString)
  }

  private def schemaKey(p: Path, confs: String): Option[SchemaKey] =
    scala.util.Try(Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])).toOption
      .map(a => SchemaKey(p.toAbsolutePath.toString, a.size,
        a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS), confs))

  private def footerSchema(conv: SchemaConverter, p: Path,
      r: ParquetFileReader): StructType =
    ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(
      new org.apache.hadoop.fs.Path(p.toUri), r.getFooter), conv)

  private def rememberSchema(k: SchemaKey, s: StructType): Unit = {
    if (schemaMemo.size >= SchemaMemoMax) { schemaMemo.clear(); distinctSchemas.clear() }
    schemaMemo.put(k, Option(distinctSchemas.putIfAbsent(s, s)).getOrElse(s))
  }

  /** Each file's Spark schema, in order, opening only the footers the
    * memo misses. None when a path cannot be stat'ed. */
  private def fileSchemas(spark: SparkSession,
      paths: Seq[Path]): Option[Seq[StructType]] = {
    val (conv, confs) = schemaConverter(spark)
    val keys = paths.map(schemaKey(_, confs))
    if (keys.contains(None)) None
    else {
      val ks = keys.flatten
      val hits = ks.flatMap(k => Option(schemaMemo.get(k)).map(k -> _)).toMap
      val missing = ks.filterNot(hits.contains).distinct
      val opened = missing.zip(mapFooters(missing.map(k => Paths.get(k.path)))(
        footerSchema(conv, _, _))).toMap
      opened.foreach { case (k, s) => rememberSchema(k, s) }
      Some(ks.map(k => hits.getOrElse(k, opened(k))))
    }
  }

  private def inferenceOrder(paths: Seq[Path]): Seq[Path] =
    paths.sortBy(_.toString)

  private def mergeSchemas(spark: SparkSession,
      schemas: Seq[StructType]): StructType = {
    val caseSensitive = Bridge.sqlConf(spark).caseSensitiveAnalysis
    schemas.reduceLeft(Bridge.mergeSchemas(_, _, caseSensitive))
  }

  /** `spark.read.parquet(paths)` under `schema` (inference when None). */
  private def readParquet(spark: SparkSession, paths: Seq[Path],
      schema: Option[StructType], basePath: Option[String] = None): DataFrame = {
    val r = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    schema.fold(r)(r.schema).parquet(paths.map(_.toString): _*)
  }

  /** Plain (single-schema) read of sidecar/eq-key `files`: every read
    * of a MoR-live snapshot re-reads its sidecars. */
  private def readPlain(spark: SparkSession, ref: TableRef,
      files: Seq[String]): DataFrame = {
    val paths = files.map(ref.dir.resolve)
    readParquet(spark, paths, fileSchemas(spark,
      inferenceOrder(paths).take(1)).flatMap(_.headOption))
  }

  // mergeSchema: appends may evolve the schema (Iceberg v2 semantics,
  // extract_load.py inherits this through format-version=2); older
  // files surface null for later-added columns
  /** `widensOf`: the widen ledger SCOPED to the snapshot being read —
    * callers with a pinned snapshot pass `Some(...)` so time travel to
    * a pre-widen snapshot surfaces the era's own (narrow) type, same
    * as the connector's VERSION AS OF; None = current-snapshot reads,
    * which see the full ledger. `renamesOf` scopes the rename chain
    * the same way. */
  private[icelite] def readFiles(spark: SparkSession, ref: TableRef,
      files: Seq[String],
      widensOf: Option[Seq[WidenedCol]] = None,
      renamesOf: Option[Seq[RenamedCol]] = None): DataFrame = {
    val renames = renamesOf.getOrElse(
      scala.util.Try(readManifest(ref).renamedCols).getOrElse(Nil))
    applyRenames(readFilesStored(spark, ref, files, widensOf), renames)
  }

  /** The stored-name read (no rename chain): the raw mergeSchema /
    * widened-schema union over exactly `files`. */
  private def readFilesStored(spark: SparkSession, ref: TableRef,
      files: Seq[String],
      widensOf: Option[Seq[WidenedCol]] = None): DataFrame = {
    val paths = files.map(ref.dir.resolve)
    if (files.isEmpty) {
      // An EMPTY file set still needs a real schema: spark.read
      // .parquet() with zero paths throws UNABLE_TO_INFER_SCHEMA,
      // which turned every engine-API face that folds `snap.files`
      // into a read (morView → deleteWhereMoR/updateWhereMoR,
      // changes, compact) into a crash on a table a prior DELETE
      // emptied (tf fuzz seed 6021 op11). Same fallback chain as
      // `readAt`: declared DDL → newest file-bearing snapshot's
      // shape → zero-column empty.
      val m = scala.util.Try(readManifest(ref)).toOption
      return m.flatMap(_.declaredSchemaDdl) match {
        case Some(d) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(d))
        case None =>
          val donor = m.toSeq.flatMap(_.snapshots)
            .filter(_.files.nonEmpty).sortBy(_.id).lastOption
          donor match {
            // a partitioned donor must read through partition
            // discovery or the path-borne partition columns silently
            // drop out of the empty schema (empty-state sweep:
            // emptied partitioned table lost `g`)
            case Some(prev) if prev.partitionCols.nonEmpty =>
              // the donor files predate any widen, so cast the
              // widened columns explicitly — an emptied partitioned
              // table must read back with the same (post-widen) types
              // as every non-empty read and the flat-donor path below
              val w = widensOf.getOrElse(m.toSeq.flatMap(_.widenedCols))
              w.foldLeft(
                  readPartitionedFiles(spark, ref, prev.files).limit(0)) {
                (df, wc) =>
                  if (df.columns.contains(wc.name))
                    df.withColumn(wc.name, df(wc.name).cast(wc.toType))
                  else df
              }
            case Some(prev) =>
              readFilesStored(spark, ref, prev.files, widensOf).limit(0)
            case None => spark.emptyDataFrame
          }
      }
    }
    val widens = widensOf.getOrElse(
      scala.util.Try(readManifest(ref).widenedCols).getOrElse(Nil))
    // d66: narrow/wide file eras do not merge, so each file's schema
    // takes the ledger's post-widen type before the fold; Spark 4's
    // parquet readers upcast int32→long / float→double per file
    val target = widens.map(w =>
      w.name -> org.apache.spark.sql.types.DataType.fromDDL(w.toType)).toMap
    def widened(s: StructType) = StructType(s.fields.map(f =>
      target.get(f.name).fold(f)(t => f.copy(dataType = t))))
    readParquet(spark, paths, fileSchemas(spark, inferenceOrder(paths))
      .map(ss => mergeSchemas(spark, ss.map(widened))))
  }

  /** Read the current snapshot (schema-on-read from Parquet footers,
    * like extract_load.py:73). */
  def read(spark: SparkSession, ref: TableRef): DataFrame =
    readAt(spark, ref, readManifest(ref).currentSnapshotId)

  /** Time travel by wall-clock: read the table as of `asOfMs` — the
    * newest snapshot whose commit timestamp is <= the cutoff
    * (Iceberg's `FOR TIMESTAMP AS OF`; the reference's retention
    * semantics are time-based for the same reason —
    * extract_load.py:169-170's TIMESTAMP cutoff, README.md:111's
    * `retention_threshold => '7d'`). Snapshot ids are monotonic, so
    * the max-id snapshot at-or-before the cutoff is the commit a
    * reader at that instant would have seen, even when two commits
    * share a millisecond. Throws if `asOfMs` predates the first
    * snapshot — there was no table to read then. */
  def readAsOf(spark: SparkSession, ref: TableRef, asOfMs: Long): DataFrame = {
    val m = readManifest(ref)
    val snap = m.snapshots.filter(_.timestampMs <= asOfMs)
      .sortBy(_.id).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot in ${ref.name} at or before $asOfMs " +
          s"(first commit is ${m.snapshots.map(_.timestampMs).min})"))
    readAt(spark, ref, snap.id)
  }

  /** d51: `ALTER TABLE t ADD COLUMN name type` — a METADATA-ONLY
    * commit (one CAS manifest version, no snapshot, no data file
    * touched — Iceberg's add-column, which is why schema evolution
    * is free at 100 TB). The column exists from the CURRENT snapshot
    * onward: connector/SQL reads surface NULL for files that predate
    * it, time travel to earlier snapshots does not see it, and the
    * next INSERT may populate it. Primitive types only (the set the
    * connector decodes). The batch face (IceLite.read) is
    * schema-on-read from the data files and shows the column once a
    * write materializes it; the connector face shows it immediately
    * — same split as Iceberg's Spark vs raw-parquet reads. */
  def alterAddColumn(ref: TableRef, colName: String, sqlType: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = DataType.fromDDL(sqlType)
    require(Seq(LongType, IntegerType, DoubleType, BooleanType,
        StringType, TimestampType).contains(dt),
      s"ADD COLUMN supports the connector's primitive types, got $sqlType")
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      val taken = visibleColNames(ref, m) ++ m.current.partitionCols
      require(!taken.contains(colName),
        s"column $colName already exists in ${ref.name}")
      require(!m.droppedCols.exists(_.name == colName),
        s"column $colName was previously dropped from ${ref.name} and " +
          "cannot be re-added: without per-field ids the old files' " +
          "stale values would resurface under the new column")
      require(!m.renamedCols.exists(r => r.from == colName || r.to == colName),
        s"column $colName appears in ${ref.name}'s rename history and " +
          "cannot be (re)added: old files still hold bytes under that " +
          "name and alias resolution would resurface them")
      m.copy(addedCols =
        m.addedCols :+ AddedCol(colName, sqlType, m.currentSnapshotId))
    }
    ()
  }

  /** First data file's parquet field names (the connector's
    * schema-of-record; stored names, pre-rename). */
  private def firstFileCols(ref: TableRef, m: Manifest): Set[String] =
    if (m.current.files.isEmpty) Set.empty
    else firstFileMessageType(ref, m).getFields.asScala.map(_.getName).toSet

  /** The CURRENT visible column names: file schema ∪ ALTER-added,
    * minus dropped, with the rename chain applied. A still-empty
    * DDL-created table has no file to read a schema from — its
    * declared DDL plays the file-schema role until data lands. */
  private def visibleColNames(ref: TableRef, m: Manifest): Set[String] = {
    val fileCols = firstFileCols(ref, m)
    val stored =
      if (fileCols.nonEmpty) fileCols
      else m.declaredSchemaDdl.map(ddl => org.apache.spark.sql.types
        .StructType.fromDDL(ddl).fieldNames.toSet).getOrElse(Set.empty)
    val base = (stored ++ m.addedCols.map(_.name)) --
      m.droppedCols.map(_.name)
    m.renamedCols.foldLeft(base) { (names, r) =>
      if (names.contains(r.from)) names - r.from + r.to else names
    }
  }

  /** d58: `ALTER TABLE t RENAME COLUMN from TO to` — METADATA-ONLY
    * (one CAS manifest commit, zero bytes move; Iceberg's rename,
    * which its field ids make trivial — here the rename ledger plays
    * the field-id role). Readers project the NEW name across every
    * file era: files written after the rename store it directly,
    * older files resolve through the chain and read their stored
    * name. Time travel to a pre-rename snapshot sees the old name.
    * Both names retire forever: re-adding either would resurface
    * stale bytes (same rule as dropped names). Partition, sort-key
    * and transform-source columns refuse — the table layout is keyed
    * by the stored name. */
  def alterRenameColumn(ref: TableRef, from: String, to: String): Unit = {
    require(from != to, "RENAME COLUMN requires distinct names")
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      val visible = visibleColNames(ref, m)
      require(visible.contains(from),
        s"no column $from in ${ref.name} (have: ${visible.toSeq.sorted.mkString(", ")})")
      require(!visible.contains(to),
        s"column $to already exists in ${ref.name}")
      require(!m.droppedCols.exists(_.name == to) &&
          !m.renamedCols.exists(r => r.from == to || r.to == to),
        s"name $to appears in ${ref.name}'s drop/rename history and " +
          "cannot be reused: old files still hold bytes under it")
      require(!m.current.partitionCols.contains(from),
        s"$from partitions ${ref.name} — its directory layout is keyed " +
          "by the stored name")
      require(!SortKey.cols(m.current.sortedBy).contains(from),
        s"$from is ${ref.name}'s sort key — pruning stats are keyed by " +
          "the stored name")
      require(!SortKey.cols(m.declaredSortedBy).contains(from),
        s"$from is ${ref.name}'s DECLARED write order (WRITE ORDERED BY) " +
          "— renaming it would strand the declaration; WRITE UNORDERED first")
      require(!m.current.partitionSpec.exists(f =>
          f.sourceCol == from || f.name == from),
        s"$from feeds ${ref.name}'s hidden-partition spec")
      require(!m.current.eqDeletes.exists(_.keyCols.contains(from)),
        s"$from keys a live equality-delete sidecar of ${ref.name} — " +
          "compact() first")
      m.copy(renamedCols =
        m.renamedCols :+ RenamedCol(from, to, m.currentSnapshotId))
    }
    ()
  }

  /** d52: `ALTER TABLE t DROP COLUMN name` — the metadata-only twin
    * of [[alterAddColumn]] (Iceberg's drop-column): one CAS manifest
    * commit, zero data files touched. The bytes stay in the files;
    * readers simply stop projecting the name from the current
    * snapshot onward, and time travel to a pre-drop snapshot still
    * sees the column with its values. Partition and sort-key columns
    * refuse (the table's layout depends on them); so does a name not
    * in the schema. Dropped names are remembered and can never be
    * re-added (see [[Manifest.droppedCols]]). */
  def alterDropColumn(ref: TableRef, colName: String): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      require(!m.current.partitionCols.contains(colName),
        s"$colName partitions ${ref.name} — dropping it would orphan " +
          "the directory layout")
      require(!SortKey.cols(m.current.sortedBy).contains(colName),
        s"$colName is ${ref.name}'s sort key — dropping it would " +
          "invalidate the clustered layout and its pruning stats")
      require(!SortKey.cols(m.declaredSortedBy).contains(colName),
        s"$colName is ${ref.name}'s DECLARED write order (WRITE ORDERED " +
          "BY) — dropping it would break the next INSERT and compact(); " +
          "WRITE UNORDERED first")
      val visible = visibleColNames(ref, m)
      require(visible.contains(colName),
        s"no column $colName in ${ref.name} (have: ${visible.toSeq.sorted.mkString(", ")})")
      require(visible.size > 1,
        s"$colName is ${ref.name}'s only column — a table needs at least one")
      require(!m.current.eqDeletes.exists(_.keyCols.contains(colName)),
        s"$colName keys a live equality-delete sidecar of ${ref.name} — " +
          "compact() first")
      m.copy(droppedCols =
        m.droppedCols :+ AddedCol(colName, "", m.currentSnapshotId))
    }
    ()
  }

  /** d66: `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — Iceberg's
    * SAFE type promotion (int→bigint, float→double), METADATA-ONLY:
    * one CAS manifest commit, zero data files touched. Files written
    * before the widen keep their narrow bytes; every reader upcasts
    * at decode time (the promotion is lossless by construction, which
    * is exactly why Iceberg allows only these pairs). Time travel to
    * a pre-widen snapshot sees the narrow type. Partition, sort-key
    * and transform-source columns refuse (their stats/layout are
    * typed by the stored values); so do columns with rename history
    * (the ledger is keyed by one canonical name per column). */
  def alterWidenColumn(ref: TableRef, colName: String, toSqlType: String): Unit = {
    import org.apache.spark.sql.types._
    val promotions: Map[(DataType, DataType), Unit] = Map(
      (IntegerType, LongType) -> (), (FloatType, DoubleType) -> ())
    val to = DataType.fromDDL(toSqlType)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      val visible = visibleColNames(ref, m)
      require(visible.contains(colName),
        s"no column $colName in ${ref.name} (have: ${visible.toSeq.sorted.mkString(", ")})")
      require(!m.renamedCols.exists(r => r.from == colName || r.to == colName),
        s"$colName has rename history in ${ref.name} — widen before " +
          "renaming, not after (the widen ledger is keyed by one name)")
      require(!m.current.partitionCols.contains(colName) &&
          !SortKey.cols(m.current.sortedBy).contains(colName) &&
          !SortKey.cols(m.declaredSortedBy).contains(colName) &&
          !m.current.partitionSpec.exists(f =>
            f.sourceCol == colName || f.name == colName),
        s"$colName keys ${ref.name}'s layout (partition/sort/transform) " +
          "— its stats and directory values are typed by the stored form")
      require(!m.current.eqDeletes.exists(_.keyCols.contains(colName)),
        s"$colName keys a live equality-delete sidecar of ${ref.name} — " +
          "widening would change the key comparison type; compact() first")
      val from: DataType = m.widenedCols.filter(_.name == colName)
        .lastOption.map(w => DataType.fromDDL(w.toType))
        .orElse(m.addedCols.find(_.name == colName)
          .map(c => DataType.fromDDL(c.sqlType)))
        .orElse(if (m.current.files.nonEmpty) None
          else m.declaredSchemaDdl.flatMap(ddl => StructType.fromDDL(ddl)
            .fields.find(_.name == colName).map(_.dataType)))
        .getOrElse {
          val msg = firstFileMessageType(ref, m)
          val conv = new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter()
          conv.convert(msg).fields.find(_.name == colName).map(_.dataType)
            .getOrElse(throw new IllegalStateException(
              s"$colName not found in ${ref.name}'s file schema"))
        }
      require(promotions.contains((from, to)),
        s"unsupported type change ${from.simpleString} -> ${to.simpleString} " +
          s"for $colName: only int->bigint and float->double are lossless " +
          "metadata-only promotions (Iceberg's rule) — anything else " +
          "needs a rewrite")
      m.copy(widenedCols = m.widenedCols :+
        WidenedCol(colName, from.simpleString, to.simpleString,
          m.currentSnapshotId))
    }
    ()
  }

  /** d82: `ALTER TABLE … SET TBLPROPERTIES` — Iceberg table
    * properties: free-form key→value committed metadata-only (one CAS
    * manifest version, no snapshot, no data file). Honored keys steer
    * the engine (`read.split.target-size` feeds the connector's split
    * planner when the scan option is absent); everything else is user
    * metadata that travels with the table — the dbt/Trino config
    * channel. Validated eagerly so a bad value fails the DDL, not
    * some later scan. */
  def alterSetProperties(ref: TableRef, props: Map[String, String]): Unit = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    checkProperties(props)
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      m.copy(properties = m.properties ++ props)
    }
    ()
  }

  /** The honored keys' validation, shared by SET TBLPROPERTIES and
    * CREATE TABLE … TBLPROPERTIES. */
  private def checkProperties(props: Map[String, String]): Unit =
    props.get(SplitSizeProp).foreach { v =>
      require(scala.util.Try(v.trim.toLong).toOption.exists(_ > 0),
        s"$SplitSizeProp must be a positive byte count, got '$v'")
    }

  /** d82: `ALTER TABLE … UNSET TBLPROPERTIES` (IF EXISTS semantics —
    * unsetting an absent key is a no-op, Spark's default). */
  def alterUnsetProperties(ref: TableRef, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      m.copy(properties = m.properties -- keys)
    }
    ()
  }

  /** The honored split-planning property (Iceberg's
    * `read.split.target-size`): scan-level `targetSplitBytes` option
    * > this table property > the 128 MiB default. */
  val SplitSizeProp = "read.split.target-size"

  /** d83: `ALTER TABLE … ADD PARTITION FIELD col` — Iceberg's
    * partition-spec evolution as DDL: a metadata-only CAS commit that
    * changes the layout FUTURE appends use; no existing byte moves
    * (each snapshot keeps per-file layouts, d15's read machinery).
    * Works on FLAT tables too — Iceberg's canonical evolution case
    * (an unpartitioned table gains a partition field as it grows):
    * old flat files keep the column in their DATA pages, new files
    * land in value dirs, and the one mixed-era read rule (a column is
    * path-borne only while EVERY file's path carries it, else a data
    * field with a per-file path fallback) covers the union unchanged.
    * Scope (refusals are loud): transform fields still need the
    * engine API (appendTransformed); a flat table with live MoR
    * sidecars must compact() first (the partitioned-era invariant is
    * "no sidecars", kept by the pending-era MoR refusals). While an
    * evolution is pending (declared ≠ current), only appends may
    * write (overwrite modes refuse until a write lands the new
    * layout). */
  def alterAddPartitionField(ref: TableRef, col: String): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      val base = m.writeLayoutCols
      if (base.isEmpty)
        // flat → partitioned: the sidecar fold is defined for flat
        // snapshots only, and the partitioned era must start clean —
        // materialize live deletes before flipping the layout
        require(!m.current.morLive,
          s"${ref.name} has live MoR delete sidecars — compact() " +
            "before ADD PARTITION FIELD (the partitioned era carries " +
            "no sidecars)")
      require(m.writeLayoutSpec.isEmpty,
        s"${ref.name} is transform-partitioned — identity fields do " +
          "not mix with hidden layouts; evolve the spec with " +
          "ADD PARTITION FIELD <transform>(…) instead")
      require(!base.contains(col),
        s"$col is already a partition field of ${ref.name}")
      require(!m.droppedCols.exists(_.name == col),
        s"$col was dropped from ${ref.name}")
      // eager schema check: a bad field name must fail the DDL, not
      // the next INSERT's staging job. A column can live in data
      // pages OR be path-borne in some era's files (partitionBy drops
      // it from pages) — union both, like the table-schema derivation
      val pathCols = m.current.files.flatMap(fileLayout).toSet
      val visible = visibleColNames(ref, m) ++ base ++
        m.current.partitionCols ++ pathCols
      require(visible.contains(col),
        s"no column $col in ${ref.name} (have: ${visible.toSeq.sorted.mkString(", ")})")
      // STRING fields only: identity partition values are path-borne
      // strings, and during the mixed era the same column reads from
      // old files' DATA pages — one type everywhere or readers would
      // juggle per-era types (Iceberg's typed identity transforms
      // need field ids this format does not carry)
      val isString = m.current.files.headOption.forall { f =>
        val msg = firstFileMessageType(ref, m)
        val conv = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter()
        conv.convert(msg).fields.find(_.name == col)
          .forall(_.dataType == org.apache.spark.sql.types.StringType)
      }
      require(isString,
        s"$col is not a STRING column — identity partition fields are " +
          "path-borne strings; evolve through a rewrite for typed keys")
      // a flat sorted table's declared order drops honestly at the
      // flip (rule 25) — the partitioned era clusters by value dirs
      m.copy(declaredPartitionCols = Some(base :+ col),
        declaredSortedBy = None)
    }
    ()
  }

  /** d85: `ALTER TABLE … ADD PARTITION FIELD bucket(8, id) | days(ts)
    * | truncate(4, s)` — partition-spec evolution for HIDDEN layouts,
    * and the flat→transform flip. Metadata-only like d83's identity
    * variant, but with NO read-side era rule at all: transform dirs
    * are reader-invisible (source columns stay in the data pages),
    * pruning keeps dir-less files conservatively, and targeted
    * overwrites don't exist for hidden layouts — so nothing refuses
    * during the mixed era. Identity-partitioned tables refuse (one
    * layout kind per table). */
  def alterAddPartitionFieldTransform(ref: TableRef, transform: String,
      sourceCol: String, param: Int): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      require(m.writeLayoutCols.isEmpty,
        s"${ref.name} is identity-partitioned — transform fields do " +
          "not mix with identity layouts; rewrite instead")
      val field = transform match {
        case "bucket" =>
          require(param >= 2, s"bucket($param) needs >= 2 buckets")
          PartitionField(s"${sourceCol}_bucket", "bucket", sourceCol, param)
        case "days" => PartitionField(s"${sourceCol}_day", "days", sourceCol, 0)
        case "years" => PartitionField(s"${sourceCol}_year", "years", sourceCol, 0)
        case "months" => PartitionField(s"${sourceCol}_month", "months", sourceCol, 0)
        case "hours" => PartitionField(s"${sourceCol}_hour", "hours", sourceCol, 0)
        case "truncate" =>
          require(param >= 1, s"truncate($param) needs width >= 1")
          PartitionField(s"${sourceCol}_trunc", "truncate", sourceCol, param)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' " +
            "(bucket | years | months | days | hours | truncate)")
      }
      val base = m.writeLayoutSpec
      require(!base.exists(_.name == field.name),
        s"${field.name} is already a partition field of ${ref.name}")
      // eager: the source column must exist NOW, not at the next INSERT
      val visible = visibleColNames(ref, m)
      require(visible.contains(sourceCol),
        s"no column $sourceCol in ${ref.name} " +
          s"(have: ${visible.toSeq.sorted.mkString(", ")})")
      require(!visible.contains(field.name),
        s"derived partition name '${field.name}' collides with a column")
      // same honest-drop rule as the identity flip (d89 × d85)
      m.copy(declaredPartitionSpec = Some(base :+ field),
        declaredSortedBy = None)
    }
    ()
  }

  /** d83/d85: `ALTER TABLE … DROP PARTITION FIELD <name>` — the
    * inverse flip, covering both layout kinds. Identity layouts
    * refuse dropping the LAST field (old-era values live ONLY in
    * paths, which a flat snapshot would stop reading); transform
    * specs may drop to EMPTY (dirs are reader-invisible — future
    * appends simply land flat and reads never change). Transform
    * fields drop by their DERIVED name (`id_bucket`, `ts_day`,
    * `who_trunc`). */
  def alterDropPartitionField(ref: TableRef, col: String): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      val spec = m.writeLayoutSpec
      if (spec.nonEmpty) {
        require(spec.exists(_.name == col),
          s"$col is not a partition field of ${ref.name} (spec: " +
            s"${spec.map(_.name).mkString(",")})")
        m.copy(declaredPartitionSpec = Some(spec.filterNot(_.name == col)))
      } else {
        val base = m.writeLayoutCols
        require(base.contains(col),
          s"$col is not a partition field of ${ref.name} (layout: " +
            s"${base.mkString(",")})")
        require(base.size > 1,
          s"dropping ${ref.name}'s last partition field would make future " +
            "appends flat over partitioned history — rewrite instead")
        m.copy(declaredPartitionCols = Some(base.filterNot(_ == col)))
      }
    }
    ()
  }

  /** d89: `ALTER TABLE … WRITE ORDERED BY <col>` / `WRITE UNORDERED`
    * — Iceberg's sort-order DDL (spark-extensions grammar), as a
    * metadata-only CAS flip of the DECLARED write order. Future
    * writes range-cluster + sort by the column immediately; existing
    * files keep their layout; compact() is the materializer that
    * re-clusters history and earns the whole-table `sortedBy` marker
    * (until then the snapshot marker never overclaims). Refusal
    * matrix: partitioned layouts of either kind refuse (sorted
    * layouts are flat-table clustering here — partitioned tables
    * order within dirs via compact/rewrite), and live MoR sidecars
    * refuse (the sorted era starts from a physical baseline —
    * compact() first, the same rule as the flat→partitioned flip). */
  def alterWriteOrdered(ref: TableRef, col: Option[String]): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalArgumentException(
        s"${ref.name} does not exist"))
      col match {
        case None =>
          // WRITE UNORDERED clears the declaration AND retires the
          // physical whole-table marker (same files, one metadata-only
          // snapshot): the marker's only consumers are write-steering
          // and layout-preserving claims — stats pruning reads
          // fileStats and is untouched. Without this, a materialized
          // marker would keep steering writes forever and UNORDERED
          // would be a no-op.
          val base = m.copy(declaredSortedBy = None)
          if (m.current.sortedBy.isEmpty) base
          else {
            base.advance(m.current.next(m.nextId, "unorder",
              summary = m.current.summary, sortedBy = None,
              parentId = Some(m.current.id)))
          }
        case Some(enc) =>
          require(m.writeLayoutCols.isEmpty && m.writeLayoutSpec.isEmpty &&
            m.current.partitionCols.isEmpty && m.current.partitionSpec.isEmpty,
            s"${ref.name} is partitioned — WRITE ORDERED BY applies to " +
              "flat tables; partitioned tables cluster within their " +
              "dirs via compact()/rewrite")
          require(!m.current.morLive,
            s"${ref.name} has live MoR delete sidecars — compact() " +
              "before WRITE ORDERED BY (the sorted era starts from a " +
              "physical baseline)")
          // r13: the declaration is an ordered key LIST with per-key
          // direction ("a DESC, b"); parse loudly, store canonical
          val keys = SortKey.parse(enc)
          require(keys.nonEmpty, "WRITE ORDERED BY needs at least one column")
          // duplicates key on (source col, transform): `days(ts), ts`
          // is a legitimate coarse-then-fine order (r14)
          require(keys.map(k => (k.col, k.transform)).distinct.size == keys.size,
            s"duplicate sort key in '$enc'")
          // eager schema check — a bad column fails the DDL, not the
          // next INSERT's staging job (the d83 rule)
          val visible = visibleColNames(ref, m)
          keys.foreach(k => require(visible.contains(k.col),
            s"no column ${k.col} in ${ref.name} " +
              s"(have: ${visible.toSeq.sorted.mkString(", ")})"))
          m.copy(declaredSortedBy = Some(SortKey.render(keys)))
      }
    }
    ()
  }

  /** d89: the write order in effect for NEW writes — the declared
    * order (WRITE ORDERED BY) wins over the physical whole-table
    * marker; either absent falls through. */
  def effectiveSortCol(m: Manifest): Option[String] =
    m.declaredSortedBy.orElse(m.current.sortedBy)

  /** First data file's full parquet MessageType. */
  private def firstFileMessageType(ref: TableRef,
      m: Manifest): org.apache.parquet.schema.MessageType = {
    val f = m.current.files.headOption.getOrElse(
      throw new IllegalStateException(s"${ref.name} has no data files"))
    mapFooters(Seq(ref.dir.resolve(f)))((_, r) =>
      r.getFooter.getFileMetaData.getSchema).head
  }

  /** Time travel: read the table as of a specific snapshot id. */
  def readAt(spark: SparkSession, ref: TableRef, snapshotId: Long): DataFrame = {
    val m = readManifest(ref)
    val snap = m.snapshots.find(_.id == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $snapshotId in ${ref.name}"))
    // a widen/rename is visible only from its own era onward: time
    // travel to an earlier snapshot must surface the narrow type /
    // the old name (matches the connector's VERSION AS OF scoping)
    val widens = Some(m.widenedCols.filter(_.sinceSnapshotId <= snapshotId))
    val renames = Some(m.renamedCols.filter(_.sinceSnapshotId <= snapshotId))
    if (snap.files.isEmpty) {
      // an EMPTY table still has a schema — a zero-column
      // emptyDataFrame makes `WHERE k = 1` on an emptied table an
      // analysis error (tf fuzz seed 6021). DDL-born tables carry
      // their declared DDL (ALTERs keep it current); API-born ones
      // borrow the newest file-bearing snapshot's shape.
      val donor = m.snapshots
        .filter(s => s.id <= snapshotId && s.files.nonEmpty)
        .sortBy(_.id).lastOption
      (m.declaredSchemaDdl, donor) match {
        case (Some(d), _) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(d))
        case (None, Some(prev)) => readAt(spark, ref, prev.id).limit(0)
        case (None, None) => spark.emptyDataFrame
      }
    }
    else if (snap.partitionCols.nonEmpty)
      // identity-partitioned snapshots: the partition columns are
      // PATH-BORNE — a flat file read would silently lose them (found
      // by CrashPointFuzzSpec's partitioned sweep). Route through the
      // layout-grouped discovery read, then fold sidecars exactly as
      // the flat path does.
      readPartitionedWithDeletes(spark, ref, snap, snap.files, renames)
    else readFilesWithDeletes(spark, ref, snap, snap.files, widens, renames)
  }

  /** Partition-aware MoR fold: read `files` of an identity-partitioned
    * snapshot through layout-grouped discovery (positions captured per
    * layout group, BEFORE the union erases `_metadata`), then apply
    * position and equality sidecars — the partitioned twin of
    * [[readFilesWithDeletes]], shared by readAt, the MoR write ops'
    * logical counts, and compact's materializer. */
  private def readPartitionedWithDeletes(spark: SparkSession, ref: TableRef,
      snap: Snapshot, files: Seq[String],
      renamesOf: Option[Seq[RenamedCol]] = None,
      keepFile: Boolean = false): DataFrame = {
    val needPos = snap.deleteFiles.nonEmpty || snap.eqDeletes.nonEmpty
    val df0 = readPartitionedFiles(spark, ref, files,
      withPositions = needPos || keepFile, renamesOf = renamesOf)
    val df1 =
      if (snap.deleteFiles.isEmpty || files.isEmpty) df0
      else {
        val dels = readPlain(spark, ref, snap.deleteFiles)
        df0.join(dels,
          normPathCol(df0("_mor_file")) === normPathCol(dels("file_path")) &&
          df0("_mor_pos") === dels("pos"), "left_anti")
      }
    // applyEqDeletes keys file provenance off `_mor_file` when
    // present (the union erased `_metadata`)
    val df2 = applyEqDeletes(spark, ref, snap, df1)
    if (keepFile) df2.drop("_mor_pos")
    else if (needPos) df2.drop("_mor_file", "_mor_pos")
    else df2
  }

  /** Layout-routing MoR read: the partitioned or flat fold, by the
    * snapshot's own layout. */
  private def readSnapWithDeletes(spark: SparkSession, ref: TableRef,
      snap: Snapshot, files: Seq[String],
      keepFile: Boolean = false): DataFrame =
    if (snap.partitionCols.nonEmpty)
      readPartitionedWithDeletes(spark, ref, snap, files, keepFile = keepFile)
    else readFilesWithDeletes(spark, ref, snap, files, keepFile = keepFile)

  /** d23: INCREMENTAL SCAN (Iceberg's incremental read) — only the
    * files ADDED after `fromSnapshotId`, up to the current snapshot.
    * The downstream-consumer pattern: a job that ran at snapshot A
    * reads just the delta on its next run instead of the whole table
    * — O(delta), not O(table), at any scale. Append-only deltas only:
    * a replace/rollback/clone in the range means file additions no
    * longer equal row additions, and the caller must fall back to a
    * full diff (we throw rather than silently double-read). */
  def incrementalScan(spark: SparkSession, ref: TableRef,
      fromSnapshotId: Long): DataFrame = {
    val m = readManifest(ref)
    val from = m.snapshots.find(_.id == fromSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $fromSnapshotId not found in ${ref.name} (expired?)"))
    val between = m.snapshots
      .filter(s => s.id > fromSnapshotId && s.id <= m.currentSnapshotId)
    require(between.forall(s => s.operation == "append" ||
        s.operation == "stage-append"),
      s"incremental scan needs an append-only range, found " +
        s"${between.map(_.operation).distinct.filterNot(_.contains("append"))}")
    val newFiles = m.current.files.filterNot(from.files.toSet)
    if (newFiles.isEmpty) read(spark, ref).limit(0)
    else readFiles(spark, ref, newFiles)
  }

  /** d22: zero-copy SHALLOW CLONE (Delta CLONE / Iceberg
    * snapshot-ref): create a new table whose first snapshot references
    * the source's CURRENT data files by absolute path — no bytes
    * move, at any source size. Clone and source then evolve
    * independently (both copy-on-write; data files are immutable, so
    * shared files are safe). The clone's expiry/GC never deletes
    * shared files: orphan scans walk only the clone's own data/ dir,
    * and absolute out-of-tree references are left alone by
    * construction. Source expiry CAN reclaim files the clone still
    * references — same caveat as Delta shallow clones; deep-copy on
    * the clone's first compact() severs the dependency. */
  def shallowClone(src: TableRef, dst: TableRef): Snapshot = {
    val srcManifest = readManifest(src)
    val srcSnap = srcManifest.current
    require(!srcSnap.morLive,
      s"${src.name} has live MoR delete sidecars — compact() before cloning")
    require(srcSnap.partitionCols.isEmpty,
      "shallowClone supports unpartitioned sources (partition discovery " +
        "reads need the files under the clone's own basePath)")
    val absFiles = srcSnap.files.map(f => src.dir.resolve(f).toString)
    Files.createDirectories(dst.dataDir)
    commitCAS(dst) { cur =>
      require(cur.isEmpty, s"clone target ${dst.name} already exists")
      val snap = Snapshot.empty.next(1L, "clone", added = absFiles,
        addedRows = absFiles.zip(srcSnap.files).flatMap { case (abs, rel) =>
          srcSnap.fileRows.get(rel).map(abs -> _) }.toMap,
        addedStats = absFiles.zip(srcSnap.files).flatMap { case (abs, rel) =>
          srcSnap.fileStats.get(rel).map(abs -> _) }.toMap,
        partitionCols = srcSnap.partitionCols, sortedBy = srcSnap.sortedBy,
        summary = Map("clone.source" -> src.dir.toString,
          "clone.sourceSnapshot" -> srcSnap.id.toString))
        // the source's own count: its fileRows may be partial
        .copy(rowCount = srcSnap.rowCount)
      // the clone's snapshot 1 sees every column the source's current
      // snapshot saw, ALTER-added ones included
      Manifest(dst.name, 1L, Seq(snap), addedCols = srcManifest.addedCols
        .filter(_.sinceSnapshotId <= srcSnap.id)
        .map(_.copy(sinceSnapshotId = 1L)),
        widenedCols = srcManifest.widenedCols
          .filter(_.sinceSnapshotId <= srcSnap.id)
          .map(_.copy(sinceSnapshotId = 1L)),
        // cloning an EMPTIED source strips its file-bearing history —
        // the declared DDL is the only schema carrier left
        // (empty-state sweep)
        declaredSchemaDdl = srcManifest.declaredSchemaDdl)
    }.current
  }

  /** d20: the snapshot METADATA TABLE (Iceberg's `table$snapshots`) —
    * history as a queryable DataFrame. Manifests are driver-side
    * metadata (O(snapshots), not O(data)), so this is a
    * createDataFrame over the parsed manifest; at 100 TB the manifest
    * listing is still metadata-sized and the table's data files are
    * never touched. Timestamps excluded from the default projection
    * so results stay run-deterministic. */
  def snapshotsDf(spark: SparkSession, ref: TableRef): DataFrame = {
    import spark.implicits._
    val m = readManifest(ref)
    m.snapshots.map(s => (s.id, s.operation, s.rowCount,
        s.files.size.toLong, s.id == m.currentSnapshotId))
      .toDF("snapshot_id", "operation", "n_rows", "n_files", "is_current")
  }

  /** d27: the file METADATA TABLE (Iceberg's `table$files`) — the
    * CURRENT snapshot's data files as a queryable DataFrame: path,
    * size, exact row count (parquet footer, the authority Iceberg
    * itself records), partition values parsed from the Hive layout,
    * and the per-column min/max the manifest tracks. Everything is
    * driver-side metadata + footer reads — O(files), the data pages
    * are never touched; this is the table a maintenance decision
    * (compact? rebalance? expire?) reads FIRST at 100 TB, so small-
    * file pressure and partition skew are one GROUP BY away, not a
    * full scan. */
  def filesDf(spark: SparkSession, ref: TableRef): DataFrame = {
    import spark.implicits._
    val snap = readManifest(ref).current
    snap.files.map { f =>
      val p = ref.dir.resolve(f)
      val partition = f.split('/').dropRight(1).filter(_.contains('='))
        .map { seg =>
          val c = seg.takeWhile(_ != '=')
          c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
        }.toMap
      val cs = snap.fileStats.getOrElse(f, Nil)
      // manifest record count when present (every post-upgrade commit
      // writes it); footer read only for pre-upgrade snapshots
      val rows = snap.fileRows.getOrElse(f, countRowsFromFooters(ref, Seq(f)))
      (f, Files.size(p), rows, partition,
        cs.map(c => c.col -> c.min).toMap, cs.map(c => c.col -> c.max).toMap)
    }.toDF("file", "size_bytes", "row_count", "partition",
      "stats_min", "stats_max")
  }

  /** d34: the PARTITIONS metadata table (Iceberg's `table$partitions`)
    * — one row per live partition-value tuple with file count, exact
    * record count, and byte size. Everything folds from the manifest:
    * partition values parse from the Hive paths, record counts read
    * `Snapshot.fileRows` (footer fallback only for pre-upgrade
    * snapshots), sizes from file metadata — O(files) driver work, no
    * data page touched. This is the skew/balance dashboard a 100 TB
    * operator checks before choosing compaction or salting targets;
    * pairing it with d33's grouped pushdown, the manifest answers
    * both the metadata shape AND the data aggregate without a scan.
    * Under spec evolution, files whose own layout lacks a current
    * partition column report NULL for it (path-borne truth only). */
  /** Driver-side census rows backing partitionsDf AND the catalog's
    * `t$partitions` SQL identifier: (partition cols, one tuple per
    * live partition value: values, file_count, row_count,
    * size_bytes). */
  private[graft] def partitionsRows(ref: TableRef)
      : (Seq[String], Seq[(Seq[String], Long, Long, Long)]) = {
    val snap = readManifest(ref).current
    // identity layouts census their path-borne columns; HIDDEN
    // (transform) layouts census the DERIVED dir names — Iceberg's
    // $partitions shows the transform tuples the same way (a
    // bucket/day census is how an operator sizes compaction and skew
    // at 100 TB; round 12 — previously transform tables reported
    // "not partitioned"). Pre-spec files (dir-less) census as null.
    val cols: Seq[String] =
      if (snap.partitionCols.nonEmpty) snap.partitionCols
      else snap.partitionSpec.map(_.name)
    require(cols.nonEmpty, s"${ref.name} is not partitioned")
    // the census counts PHYSICAL file rows; live sidecars make those
    // overcounts (tombstoned/eq-deleted rows still sit in the files)
    // — refuse like every other metadata-only COUNT surface rather
    // than report numbers a reader would trust (newly reachable:
    // partitioned tables carry sidecars since round 12)
    require(!snap.morLive,
      s"${ref.name} has live MoR delete sidecars — physical per-file " +
        "counts would overstate the partition census; compact() first")
    val byPart = snap.files.groupBy { f =>
      val vals = f.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
        val c = seg.takeWhile(_ != '=')
        c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
      }.toMap
      cols.map(vals.get(_).orNull)
    }
    (cols, byPart.toSeq.map { case (vals, files) =>
      (vals,
        files.size.toLong,
        files.map(f => snap.fileRows.getOrElse(f,
          countRowsFromFooters(ref, Seq(f)))).sum,
        files.map(f => Files.size(ref.dir.resolve(f))).sum)
    })
  }

  def partitionsDf(spark: SparkSession, ref: TableRef): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val (partitionCols, census) = partitionsRows(ref)
    val rows = census.map { case (vals, fc, rc, sb) =>
      Row.fromSeq(vals ++ Seq(fc, rc, sb))
    }
    val schema = StructType(
      partitionCols.map(c => StructField(c, StringType)) ++
        Seq(StructField("file_count", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  // ---------------------------------------------------------------
  // d88: $history / $manifests / $entries metadata tables
  // ---------------------------------------------------------------

  /** d88: Iceberg's `$history` rows — (made_current_at_ms,
    * snapshot_id, parent_id, is_current_ancestor). Parentage is the
    * REAL commit lineage stamped at commit time ([[stampParents]]):
    * ancestry walks parent links from the current pointer, so
    * rolled-back commits (ids below current but off the restored
    * lineage) and staged WAP branch commits (above the pointer until
    * publish) both report false — exactly what Iceberg's flag exists
    * to expose. Pre-upgrade snapshots without a stamped parent fall
    * back to previous-in-sequence, the old implied lineage. One
    * manifest read, O(snapshots) rows. */
  def historyRows(ref: TableRef): Seq[(Long, Long, Option[Long], Boolean)] = {
    val m = readManifest(ref)
    val ordered = m.snapshots.sortBy(_.id)
    val byId = ordered.iterator.map(s => s.id -> s).toMap
    val implied: Map[Long, Option[Long]] = ordered.zipWithIndex.map {
      case (s, i) => s.id -> (if (i == 0) None else Some(ordered(i - 1).id))
    }.toMap
    def parentOf(s: Snapshot): Option[Long] =
      s.parentId.orElse(implied(s.id))
    val ancestors = {
      val seen = scala.collection.mutable.Set.empty[Long]
      var cur = byId.get(m.currentSnapshotId)
      while (cur.isDefined && seen.add(cur.get.id))
        cur = parentOf(cur.get).flatMap(byId.get)
      seen.toSet
    }
    ordered.map(s => (s.timestampMs, s.id, parentOf(s), ancestors(s.id)))
  }

  /** d88: Iceberg's `$manifests` — one row per immutable metadata
    * segment the CURRENT manifest version references:
    * (path, length_bytes, added_snapshot_id, files_count).
    * added_snapshot_id is the FIRST snapshot whose chain references
    * the segment (segments are shared across snapshots by the
    * append-reuse layout, exactly like Iceberg manifests are shared
    * across snapshot manifest-lists). The legacy single-JSON layout
    * has no segments: the version file itself is the one manifest,
    * charged to the current snapshot. */
  def manifestsRows(ref: TableRef): Seq[(String, Long, Long, Long)] = {
    import org.json4s._
    val (_, path) = latestManifestFile(ref).getOrElse(
      throw new IllegalStateException(s"no manifest for ${ref.name}"))
    val raw = io.readString(path)
    val jv = org.json4s.jackson.JsonMethods.parse(raw)
    jv \ "layout" match {
      case JString(SegLayout) =>
        val ptr = jv.extract[ManifestPtr]
        val firstRef = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        ptr.snapshots.sortBy(_.id).foreach(sp =>
          sp.segments.foreach(seg =>
            if (!firstRef.contains(seg)) firstRef(seg) = sp.id))
        firstRef.toSeq.map { case (seg, snapId) =>
          val content = loadSegment(ref, seg)
          // io.sizeBytes for length_bytes (through the storage seam —
          // a direct java.nio call would bypass object-store impls):
          // the second full read-and-decode of every segment was
          // O(segments × bytes) on the driver for a metadata table
          (seg, io.sizeBytes(ref.dir.resolve(seg)),
            snapId, content.files.size.toLong)
        }
      case _ =>
        val m = jv.extract[Manifest]
        Seq((ref.dir.relativize(path).toString,
          raw.getBytes("UTF-8").length.toLong,
          m.currentSnapshotId, m.current.files.size.toLong))
    }
  }

  /** d88: Iceberg's `$entries` — one row per CURRENT-snapshot data
    * file: (status 1=added-by-current / 0=existing, snapshot_id that
    * first added the file, file_path, record_count, size_bytes).
    * Record counts come from the manifest's per-file counts when
    * present (absent → -1, never a silent footer scan — this is a
    * metadata table). O(snapshots × files) driver fold. */
  def entriesRows(ref: TableRef): Seq[(Int, Long, String, Long, Long)] = {
    val m = readManifest(ref)
    val cur = m.current
    val firstAdded = scala.collection.mutable.HashMap.empty[String, Long]
    m.snapshots.sortBy(_.id).foreach(s => s.files.foreach(f =>
      if (!firstAdded.contains(f)) firstAdded(f) = s.id))
    cur.files.map { f =>
      val added = firstAdded.getOrElse(f, cur.id)
      (if (added == cur.id) 1 else 0, added, f,
        cur.fileRows.getOrElse(f, -1L),
        scala.util.Try(Files.size(ref.dir.resolve(f))).getOrElse(0L))
    }
  }

  /** Orphan-file GC (Iceberg's remove_orphan_files role): delete data
    * files referenced by NO snapshot in the manifest — the residue of
    * writers that crashed between staging and their CAS claim, which
    * expiry can never reclaim (it only deletes files referenced by
    * expired snapshots). `graceMs` protects in-flight commits: files
    * younger than the grace window are kept even if unreferenced,
    * because a concurrent writer stages BEFORE it claims a version.
    * Returns the deleted table-relative paths. */
  def gcOrphans(ref: TableRef, graceMs: Long = 3600L * 1000): Seq[String] = {
    val man = readManifest(ref)
    val referenced = (man.snapshots.flatMap(_.files) ++
      man.snapshots.flatMap(_.deleteFiles) ++
      man.snapshots.flatMap(_.eqDeletes.map(_.file))).toSet
    if (!Files.exists(ref.dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMs
    // data/ plus the MoR sidecar tree (deletes/) — sidecars follow
    // the same orphan rules as data files
    val roots = Seq(ref.dataDir) ++
      (if (Files.exists(ref.deletesDir)) Seq(ref.deletesDir) else Nil)
    // only DATA files (same rule as stage()'s listing): Spark's
    // _SUCCESS / .crc markers beside committed files are not orphans
    val orphans = roots.flatMap(root => listDir(Files.walk(root))(_
      .filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith(".") && !n.startsWith("_")
      }
      .map(p => (p, ref.dir.relativize(p).toString))
      .filter { case (p, rel) =>
        !referenced(rel) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      }
      .toSeq))
    orphans.foreach { case (p, _) => Files.deleteIfExists(p) }
    // metadata-plane residue of CRASHED commits: a staged pointer tmp
    // (.manifest.tmp.*) or rename stage (.rename-*) whose process died
    // between write and claim/delete. Dot-named, so the data rules
    // above never see them; age-gated by the same grace window (an
    // in-flight commit's tmp is younger than grace, staging→claim is
    // one write apart).
    val tmpResidue = io.list(ref.dir).filter { p =>
      val n = p.getFileName.toString
      (n.startsWith(".manifest.tmp.") || n.startsWith(".rename-")) &&
        scala.util.Try(io.mtimeMs(p)).toOption.forall(_ < cutoff)
    }
    tmpResidue.foreach(io.delete)
    // sweep now-empty dirs (staging skeletons, emptied token dirs) —
    // the grace window applies to DIRS too: a concurrent writer
    // creates its staging/token dir before any file lands in it, so an
    // empty dir younger than the cutoff is in-flight, not garbage.
    // EXCEPT dirs this very sweep emptied: deleting their orphans just
    // bumped their mtime to now, but they are OUR reclaimed residue,
    // not a writer's fresh dir — skipping them would leak each token
    // dir for one extra gc cycle (and deleteIfExists still refuses a
    // dir a racing writer re-populated: DirectoryNotEmptyException is
    // swallowed, the dir survives)
    val emptiedByUs = orphans.map(_._1.getParent).toSet
    roots.flatMap(root => listDir(Files.walk(root))(_
        .filter(p => Files.isDirectory(p) && p != root)
        .toSeq)).sortBy(-_.getNameCount)
      .foreach { d =>
        scala.util.Try {
          if ((emptiedByUs(d) ||
               Files.getLastModifiedTime(d).toMillis < cutoff) &&
              listDir(Files.list(d))(_.isEmpty)) Files.deleteIfExists(d)
        }
      }
    (orphans.map(_._2) ++
      tmpResidue.map(p => ref.dir.relativize(p).toString)).sorted
  }

  /** Roll the table back to an earlier snapshot (Iceberg
    * `rollback_to_snapshot`) — the fat-fingered-load UNDO that time
    * travel (d11/d14) only inspects. The rollback is itself a NEW
    * snapshot referencing the target's exact file list: nothing is
    * deleted, later snapshots stay time-travelable, and expiry
    * reclaims the rolled-back files on its normal schedule. CAS-
    * committed like every other metadata change; data files are
    * immutable so the target's files and stats are still valid. */
  def rollback(ref: TableRef, toSnapshotId: Long): Snapshot =
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      val target = m.snapshots.find(_.id == toSnapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $toSnapshotId not found (expired?)"))
      m.advance(target.next(m.nextId, "rollback", summary = target.summary,
        // lineage continues from the RESTORED snapshot, not the undone
        // head: the rolled-back commits are off the current ancestry
        parentId = Some(toSnapshotId)))
    }.current

  /** d62: METADATA retention — Iceberg's
    * `write.metadata.previous-versions-max` / delete-after-commit
    * role. Every commit writes a FULL manifest version file; at a
    * 100 TB table's commit cadence that is thousands of redundant
    * JSONs per table-year, each repeating the whole snapshot list.
    * Superseded version files have NO reader: every read resolves the
    * newest version, and time travel resolves snapshots INSIDE the
    * current manifest (snapshot retention is expireSnapshots' job,
    * not this one's — expiring metadata versions never shortens
    * time-travel history). Deleting old versions cannot race CAS
    * either: a claim creates a strictly newer version file and
    * latestManifestFile picks the max, so the watermark only moves
    * forward. Keeps the newest `keepLast` versions for forensic
    * recovery; returns the versions deleted. */
  def expireMetadata(ref: TableRef, keepLast: Int = 10,
      segGraceMs: Long = SegSweepGraceMs): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    latestManifestFile(ref) match {
      case None => Nil
      case Some((maxV, _)) =>
        val versions = io.list(ref.dir).flatMap { p =>
          p.getFileName.toString match {
            case ManifestRe(v) => Some(v.toLong)
            case _ => None
          }
        }
        val doomed = versions.filter(_ <= maxV - keepLast).sorted
        doomed.foreach(v => io.delete(manifestPathFor(ref, v)))
        // segments referenced only by the deleted versions are
        // unreachable now — reclaim them (O(meta files), no data
        // touch); the grace window protects another process's
        // staged-but-not-yet-claimed commit
        sweepSegments(ref, segGraceMs)
        doomed
    }
  }

  /** d73 follow-on: how deep the eq-live window is — (sidecar count,
    * total delete keys). Every reader of an eq-live table pays a
    * planning-time fold of O(these keys) (cached per sidecar set,
    * IceLiteSource.eqIndexFor); a pipeline that lets delete batches
    * accumulate without compacting grows that tax linearly — this is
    * the signal the maintenance procedure turns into a compact
    * nudge. Key counts come from the sidecar parquet FOOTERS:
    * metadata-cost, no data read. */
  def eqLiveDepth(ref: TableRef): (Int, Long) = {
    val cur = readManifest(ref).current
    (cur.eqDeletes.size,
      cur.eqDeletes.map(d => countRowsFromFooters(ref, Seq(d.file))).sum)
  }

  /** d61: table statistics collection — the ANALYZE role (Iceberg
    * computes NDV into puffin stat files; Trino's ANALYZE does the
    * same). One Spark job folds HyperLogLog sketches per column
    * (approx_count_distinct — mergeable partial aggregation, a single
    * pass however wide the table), and the per-column NDV lands in a
    * metadata-only "analyze" snapshot's summary (`ndv.<col>`), where
    * planners and the `$snapshots` metadata table can read it. The
    * snapshot references the SAME files as its base — nothing is
    * rewritten; a concurrent append rebases past it like any other
    * metadata commit. At 100 TB NDV is what join planners need beyond
    * d53's size/rows: row count says broadcast, NDV says which side
    * duplicates under the join key. */
  def analyze(spark: SparkSession, ref: TableRef, cols: Seq[String]): Snapshot = {
    require(cols.nonEmpty, "analyze requires at least one column")
    val df = read(spark, ref)
    val aggs = cols.map(c =>
      org.apache.spark.sql.functions.approx_count_distinct(
        org.apache.spark.sql.functions.col(c)).cast("long").as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val ndv = cols.zipWithIndex.map { case (c, i) =>
      s"ndv.$c" -> row.getLong(i).toString }.toMap
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      val base = m.current
      m.advance(base.next(m.nextId, "analyze", summary = base.summary ++ ndv,
        parentId = Some(base.id)))
    }.current
  }

  /** d19: WRITE-AUDIT-PUBLISH staging (Iceberg's wap.branch
    * workflow). Commit the candidate snapshot — current files + the
    * staged batch — into the manifest under a named BRANCH without
    * moving the main pointer: readers of main cannot see it, the
    * audit query reads the branch, and publish() fast-forwards main
    * to the already-committed snapshot (metadata-only, no rewrite).
    * A failed audit drops the branch and the staged snapshot expires
    * on the normal schedule. */
  def stageBranchAppend(ref: TableRef, branch: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Snapshot = {
    commitFilesToBranch(ref, branch, stage(ref, df), statsCols.toSet,
      keepSorted = false)
  }

  /** d60: the `spark.wap.branch` connector write path — commit files
    * ALREADY staged by the DSv2 writer tasks to a branch instead of
    * advancing main (Iceberg's session-conf WAP routing). Stats come
    * from the parquet footers at commit, like every connector write. */
  private[graft] def commitStagedToBranch(ref: TableRef, branch: String,
      files: Seq[String], keepSorted: Boolean): Snapshot =
    commitFilesToBranch(ref, branch, files, _ => true, keepSorted)

  /** Shared branch-commit body. A second stage onto a LIVE branch
    * chains on the BRANCH head (Iceberg wap.branch appends accumulate
    * on the candidate), while the publish gate (`wap.base`) keeps the
    * candidate's ORIGINAL staging base on main, so fast-forward still
    * refuses when main has advanced since staging began. The staged
    * snapshot drops the `sortedBy` marker unless the writer proved
    * clustering (NOTES rule 25) — publish would otherwise advance
    * main onto a layout claim the staged files break. */
  private def commitFilesToBranch(ref: TableRef, branch: String,
      files: Seq[String], statsCols: String => Boolean,
      keepSorted: Boolean): Snapshot = {
    val (rowsByFile, stats) = footerRowsAndStats(ref, files, statsCols)
    val man = commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      require(!m.tags.contains(branch),
        s"'$branch' is already a tag of ${ref.name}")
      val branchHead = m.branches.get(branch)
        .flatMap(id => m.snapshots.find(_.id == id))
      val base = branchHead.getOrElse(m.current)
      require(!base.morLive,
        s"${ref.name} has live MoR delete sidecars — compact() before " +
          "staging a WAP branch (the staged snapshot must not lose them)")
      require(base.partitionSpec.isEmpty,
        s"${ref.name} has a hidden-partition spec — WAP staging appends " +
          "flat files and would strand them outside the transform layout")
      // the base main snapshot this candidate was built on — publish
      // refuses to fast-forward if main has advanced past it
      val wapBase = branchHead.flatMap(_.summary.get("wap.base"))
        .getOrElse(m.current.id.toString)
      val snap = base.next(m.nextId, "stage-append", added = files,
        addedRows = rowsByFile, addedStats = stats,
        sortedBy = if (keepSorted) base.sortedBy else None,
        summary = Map("wap.base" -> wapBase))
      m.copy(snapshots = m.snapshots :+ snap,
        branches = m.branches + (branch -> snap.id))
    }
    man.snapshots.find(_.id == man.branches(branch)).get
  }

  /** Read a staged branch (the audit query's view). */
  def readBranch(spark: SparkSession, ref: TableRef, branch: String): DataFrame = {
    val m = readManifest(ref)
    val id = m.branches.getOrElse(branch,
      throw new IllegalArgumentException(s"no branch '$branch' on ${ref.name}"))
    readAt(spark, ref, id)
  }

  /** Fast-forward main to the branch's snapshot (audit passed).
    * Fast-forward only: if main advanced past the candidate's staging
    * base, publishing would silently DROP the concurrent commit(s) —
    * refuse instead, like Iceberg's fast_forward (re-stage on the new
    * base; cherry-pick is not supported). */
  def publish(ref: TableRef, branch: String): Snapshot =
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      val id = m.branches.getOrElse(branch,
        throw new IllegalArgumentException(s"no branch '$branch' on ${ref.name}"))
      val staged = m.snapshots.find(_.id == id).getOrElse(
        throw new IllegalStateException(s"branch '$branch' snapshot $id expired"))
      staged.summary.get("wap.base").foreach { base =>
        if (base.toLong != m.currentSnapshotId)
          throw new IllegalStateException(
            s"cannot fast-forward '$branch': staged on base $base but main " +
              s"is at ${m.currentSnapshotId} — re-stage on the current base")
      }
      m.copy(currentSnapshotId = id, branches = m.branches - branch)
    }.current

  /** d65: cherry-pick a WAP branch onto a main that ADVANCED since
    * staging — the non-fast-forward publish (Iceberg's
    * `cherrypick_snapshot`, the other half of the WAP loop next to
    * fast_forward). The branch's cumulative file DELTA vs its
    * staging base re-applies as ONE append-shaped commit on the
    * CURRENT head: concurrent commits that landed on main while the
    * audit ran are kept, not dropped — exactly the case `publish`
    * refuses. Sound because staged snapshots are append-only vs
    * their base by construction (stageBranchAppend), so the delta is
    * new files with no remove set; like Iceberg, only append deltas
    * are cherry-pickable. The staging-base snapshot must still be
    * resolvable (branches pin their snapshots through expiry, and
    * the base is an ancestor of the staged snapshot — but a
    * rewriting commit on main does not affect the delta). `sortedBy`
    * survives only if the staged snapshot proved clustering AND main
    * still claims the same key (NOTES rule 25: never advance main
    * onto a layout claim the new files break). */
  def cherrypick(ref: TableRef, branch: String): Snapshot =
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      val id = m.branches.getOrElse(branch,
        throw new IllegalArgumentException(s"no branch '$branch' on ${ref.name}"))
      val staged = m.snapshots.find(_.id == id).getOrElse(
        throw new IllegalStateException(s"branch '$branch' snapshot $id expired"))
      val baseId = staged.summary.getOrElse("wap.base",
        throw new IllegalStateException(
          s"branch '$branch' carries no wap.base — not a staged candidate")).toLong
      val base = m.snapshots.find(_.id == baseId).getOrElse(
        throw new IllegalStateException(
          s"branch '$branch' staging base $baseId expired — re-stage"))
      require(base.files.forall(staged.files.contains),
        s"branch '$branch' is not append-only vs its base — " +
          "cherry-pick supports append deltas only")
      val head = m.current
      if (head.id == baseId) {
        // main never moved: cherry-pick degenerates to fast-forward
        m.copy(currentSnapshotId = id, branches = m.branches - branch)
      } else {
        val baseFiles = base.files.toSet
        val delta = staged.files.filterNot(baseFiles)
        require(delta.forall(!head.files.contains(_)),
          s"branch '$branch' delta already present on main")
        require(head.partitionCols.isEmpty && head.partitionSpec.isEmpty,
          s"${ref.name} gained a partition layout since staging — the " +
            "flat delta files would strand outside it; re-stage")
        val deltaSet = delta.toSet
        require(delta.forall(staged.fileRows.contains),
          s"branch '$branch' staged files lack row counts — cannot " +
            "carry an exact rowCount through cherry-pick")
        m.advance(head.next(m.nextId, "cherrypick", added = delta,
          addedRows = staged.fileRows.view.filterKeys(deltaSet).toMap,
          addedStats = staged.fileStats.view.filterKeys(deltaSet).toMap,
          sortedBy =
            if (staged.sortedBy.isDefined && staged.sortedBy == head.sortedBy)
              head.sortedBy else None,
          summary = Map("cherrypick.source" -> id.toString)))
          .copy(branches = m.branches - branch)
      }
    }.current

  /** d57: tag a snapshot (Iceberg tags — immutable named refs). The
    * tagged snapshot is PINNED: expiry never drops it while the tag
    * exists, and `readTag` / SQL `VERSION AS OF '<tag>'` resolve it
    * by name forever. Tags are write-once (retagging a name is a
    * refusal, not a move — an immutable ref that silently moved
    * would be a branch with a misleading name); tag and branch names
    * share a namespace so version-string resolution is unambiguous. */
  def createTag(ref: TableRef, tag: String, snapshotId: Long): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      require(m.snapshots.exists(_.id == snapshotId),
        s"snapshot $snapshotId not found in ${ref.name} (expired?)")
      require(!m.tags.contains(tag),
        s"tag '$tag' already exists on ${ref.name} (tags are immutable " +
          "— drop it first if you really mean to move it)")
      require(!m.branches.contains(tag),
        s"'$tag' is already a branch of ${ref.name}")
      m.copy(tags = m.tags + (tag -> snapshotId))
    }
    ()
  }

  /** d57: drop a tag — the snapshot it pinned becomes expirable on
    * the normal schedule (the only way a tagged snapshot ever ages
    * out). */
  def dropTag(ref: TableRef, tag: String): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      require(m.tags.contains(tag), s"no tag '$tag' on ${ref.name}")
      m.copy(tags = m.tags - tag)
    }
    ()
  }

  /** d57: read the snapshot a tag pins. */
  def readTag(spark: SparkSession, ref: TableRef, tag: String): DataFrame = {
    val m = readManifest(ref)
    val id = m.tags.getOrElse(tag,
      throw new IllegalArgumentException(s"no tag '$tag' on ${ref.name} " +
        s"(tags: ${m.tags.keys.toSeq.sorted.mkString(", ")})"))
    readAt(spark, ref, id)
  }

  /** Abandon a staged branch (audit failed); main is untouched and
    * the staged snapshot expires on the normal schedule. */
  def dropBranch(ref: TableRef, branch: String): Unit = {
    commitCAS(ref) { cur =>
      val m = cur.getOrElse(
        throw new IllegalStateException(s"no manifest for ${ref.name}"))
      m.copy(branches = m.branches - branch)
    }
    ()
  }

  /** a12/a13: expire snapshots older than `cutoffMs`, always keeping
    * the current one AND any branch-referenced snapshot (a staged
    * audit candidate must survive retention until published or
    * dropped); delete data files referenced by no surviving snapshot
    * (extract_load.py:167-171; README.md:111 7d variant). */
  def expireSnapshots(ref: TableRef, cutoffMs: Long): Seq[Long] = {
    if (readManifest(ref).snapshots.forall(s => s.timestampMs >= cutoffMs))
      return Seq.empty
    expireWhere(ref, (s, m) => s.timestampMs < cutoffMs)
  }

  /** d35: COUNT-based retention (Iceberg's `expire_snapshots(
    * retain_last => N)`) — keep the N newest snapshots regardless of
    * age; current and branch-pinned snapshots always survive on top.
    * The operational complement to the time cutoff: a table that
    * commits every few seconds (a streaming sink) ages out its
    * time-travel window in minutes under a pure-age policy, while a
    * rarely-written table under count-only retention would keep
    * years — production Iceberg runs BOTH bounds, and so can callers
    * here (the two compose: run one, then the other). */
  def expireSnapshotsRetainLast(ref: TableRef, n: Int): Seq[Long] = {
    require(n >= 1, "retain_last must keep at least one snapshot")
    expireWhere(ref, (s, m) =>
      !m.snapshots.map(_.id).sorted.takeRight(n).contains(s.id))
  }

  /** Shared expiry core: drop snapshots matching `dead` (current and
    * branch-pinned always survive), then reclaim data files no
    * surviving snapshot references — in that order, so a reader
    * holding the old manifest never sees a missing file for a
    * snapshot the new manifest still lists. */
  private def expireWhere(ref: TableRef,
      dead: (Snapshot, Manifest) => Boolean): Seq[Long] = {
    var expired: Seq[Snapshot] = Seq.empty
    val committed = commitCAS(ref) { cur =>
      val m = cur.getOrElse(throw new IllegalStateException("table vanished"))
      // d57: tagged snapshots are pinned exactly like branch refs
      val pinned0 = m.branches.values.toSet ++ m.tags.values + m.currentSnapshotId
      // schema-donor guard: when the current snapshot is FILE-LESS
      // and no DDL is declared, the newest file-bearing snapshot is
      // the only schema carrier left — expiring it would turn the
      // table into a zero-column husk (empty-state sweep)
      val donor =
        if (m.current.files.nonEmpty || m.declaredSchemaDdl.nonEmpty) None
        else m.snapshots.filter(_.files.nonEmpty).sortBy(_.id).lastOption.map(_.id)
      val pinned = pinned0 ++ donor
      val (gone, alive) = m.snapshots.partition(s =>
        dead(s, m) && !pinned(s.id))
      expired = gone
      m.copy(snapshots = alive)
    }
    val keepFiles = committed.snapshots.flatMap(_.files).toSet
    val orphans = expired.flatMap(_.files).toSet -- keepFiles
    orphans.foreach(f => Files.deleteIfExists(ref.dir.resolve(f)))
    // position-delete sidecars follow the same liveness rule
    val keepDeletes = (committed.snapshots.flatMap(_.deleteFiles) ++
      committed.snapshots.flatMap(_.eqDeletes.map(_.file))).toSet
    ((expired.flatMap(_.deleteFiles) ++
      expired.flatMap(_.eqDeletes.map(_.file))).toSet -- keepDeletes)
      .foreach(f => Files.deleteIfExists(ref.dir.resolve(f)))
    expired.map(_.id).sorted
  }
}
