package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.icelite.{ColStats, IceLite, Snapshot, TableRef}

/** DataSource V2 connector for IceLite tables — the `sources/` rung
  * of the architecture: `spark.read.format("graft.sources.
  * IceLiteSource").load(<warehouse>/<ns>/<table>)`. The connector
  * resolves the CURRENT snapshot's file list from the manifest and
  * applies min/max stats pruning AT THE CONNECTOR BOUNDARY
  * (SupportsPushDownFilters): files whose range cannot match the
  * pushed predicates are never planned as input partitions — the
  * same skipping `IceLite.readPruned` does imperatively, surfaced
  * through Spark's own pushdown protocol so `.filter(...)` on the
  * DataFrame is all a user writes. Pushed filters stay residual
  * (Spark re-evaluates them row-level), so pruning is never a
  * correctness risk. Column pruning (SupportsPushDownRequiredColumns)
  * reaches the parquet read schema.
  *
  * The row-level reader is a simple record-materializing
  * Group-to-InternalRow decoder over the projected columns — primitive
  * types only (long/int/double/boolean/string/timestamp-micros),
  * which covers every IceLite fixture table. At 100 TB the read path
  * would swap in the vectorized parquet reader behind the same Scan;
  * the connector surface (manifest resolution, pruning, projection)
  * is the part this source demonstrates for real.
  */
class IceLiteSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = false

  private def refOf(path: String): TableRef = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath.normalize()
    require(p.getNameCount >= 3, s"expected <warehouse>/<ns>/<table>, got $path")
    TableRef(p.getParent.getParent.toString,
      p.getParent.getFileName.toString, p.getFileName.toString)
  }

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "icelite source needs a path (the table directory)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = IceLiteSource.schemaOf(refOf(pathOf(options)))
    if (options.getBoolean("changelog", false))
      StructType(base.fields ++ IceLiteSource.CdcFields)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new IceLiteTable(refOf(properties.get("path")), schema)
}

object IceLiteSource {
  private[sources] lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.icelite.source")

  /** Spec observability: the file list the most recent scan planned. */
  @volatile var lastPlannedFiles: Seq[String] = Nil

  /** d73 follow-on: the planning-time equality-key fold, CACHED by
    * (table, exact eq-sidecar set). The fold reads every live
    * sidecar parquet driver-side and broadcasts one key index —
    * O(delete keys), CDC-batch-sized — but a pipeline that runs N
    * queries over the same eq-live window would otherwise pay that
    * fold N times. Sidecar files are immutable and the SET identifies
    * the window exactly: any new delete batch, upsert, or compaction
    * changes the set and therefore the key — no invalidation
    * protocol needed. Bounded LRU; evicted broadcasts unpersist
    * (executor copies drop; an in-flight query re-fetches from the
    * driver). */
  private val EqIndexCacheMax = 8
  private type EqCacheEntry =
    (org.apache.spark.SparkContext, org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]])
  private val eqIndexCache =
    new java.util.LinkedHashMap[(String, Seq[(String, Long)]), EqCacheEntry](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[(String, Long)]), EqCacheEntry]): Boolean = {
        val evict = size() > EqIndexCacheMax
        if (evict) scala.util.Try(e.getValue._2.unpersist(blocking = false))
        evict
      }
    }
  /** Spec observability: number of times the fold actually computed
    * (cache misses). */
  val eqFoldComputes = new java.util.concurrent.atomic.AtomicLong(0)

  private[sources] def eqIndexFor(ref: graft.icelite.TableRef,
      eqDeletes: Seq[graft.icelite.EqDelete]): org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val sc = spark.sparkContext
    val key = (ref.dir.toString,
      eqDeletes.map(d => (d.file, d.snapshotId)).sortBy(identity))
    eqIndexCache.synchronized {
      val hit = eqIndexCache.get(key)
      // a hit is valid only on the LIVE context that created it — a
      // session restart in the same JVM (Bench/driver pattern) must
      // not hand out a dead broadcast handle
      if (hit != null && (hit._1 eq sc) && !sc.isStopped) return hit._2
      if (hit != null) eqIndexCache.remove(key)
    }
    // compute outside the lock (driver parquet reads)
    eqFoldComputes.incrementAndGet()
    val groups = eqDeletes.groupBy(_.keyCols).toSeq.map { case (kc, dels) =>
      val keys: Array[(Seq[Any], Long)] = dels.toArray.flatMap { d =>
        val df = spark.read.parquet(ref.dir.resolve(d.file).toString)
          .select(kc.map(org.apache.spark.sql.functions.col): _*)
        val convs = df.schema.fields.map(f => org.apache.spark.sql
          .catalyst.CatalystTypeConverters.createToCatalystConverter(f.dataType))
        df.collect().map(r => (Seq.tabulate(kc.length)(i =>
          IceLiteSource.eqKeyForm(convs(i)(r.get(i)))), d.snapshotId))
      }
      EqKeyGroup(kc, keys)
    }
    val bc = sc.broadcast(groups)
    eqIndexCache.synchronized {
      val raced = eqIndexCache.get(key)
      if (raced != null && (raced._1 eq sc) && !sc.isStopped) {
        // a racing compute won the slot — keep theirs, release ours
        scala.util.Try(bc.unpersist(blocking = false))
        raced._2
      } else {
        eqIndexCache.put(key, (sc, bc))
        bc
      }
    }
  }
  /** Spec observability: whether the most recent scan was answered
    * from the manifest alone (aggregate pushdown — zero data files). */
  @volatile var lastScanMetadataOnly: Boolean = false

  /** The two synthetic columns a changelog (CDC) relation appends
    * to the table schema (s17; Delta CDF's _change_type /
    * _commit_version shape). */
  private[sources] val CdcFields: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false))

  /** One canonical form for a file path however it was rendered —
    * plain ("/a/b"), URI ("file:/a/b", "file:///a/b") — so MoR
    * tombstone keys (from Spark's _metadata.file_path) and the
    * planner's absolute paths compare equal. */
  private[sources] def normPath(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath else s
    } catch { case _: Exception => s }

  /** Driver-side budget for the position-delete planning fold: total
    * sidecar bytes at or under this fold `(file_path, pos)` rows on
    * the driver once per scan with the parquet-mr decoder (cheap,
    * exact, no Spark job — the common CDC-sized case); above it the
    * positions NEVER visit the driver — planning runs one distinct
    * `(sidecar, file_path)` census job, once per scan (O(touched
    * files) rows, the same class Iceberg's delete-file index holds)
    * and each split's reader loads its own files' positions with a
    * parquet `file_path` pushdown. A pre-compaction GDPR erasure
    * touching 10⁸ rows stays executor-memory-shaped instead of
    * folding into the driver heap. */
  private[sources] def posFoldBytes: Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.icelite.posDeleteDriverFoldBytes").toLong)
      .getOrElse(8L * 1024 * 1024)

  /** Spec observability: position rows folded on the driver (small-
    * sidecar path) vs scans planned on the executor-side path. */
  val posDriverFoldRows = new java.util.concurrent.atomic.AtomicLong(0)
  val posExecutorPlans = new java.util.concurrent.atomic.AtomicLong(0)

  /** r14: the EQUALITY-delete twin of [[posFoldBytes]] — total eq
    * sidecar bytes at or under this fold to the broadcast key index
    * on the driver (CDC-sized batches: cheap, cached, shared by
    * every split); above it, when every key column is a plainly
    * decodable primitive, key groups load EXECUTOR-side per split
    * from the sidecar parquet — a bulk erasure keyed by 10⁸ ids
    * never lands in the driver heap or a broadcast. */
  private[sources] def eqFoldBytes: Long =
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.icelite.eqDeleteDriverFoldBytes").toLong)
      .getOrElse(8L * 1024 * 1024)

  val eqExecutorPlans = new java.util.concurrent.atomic.AtomicLong(0)

  /** Can the executor path decode every key column of these eq
    * sidecars EXACTLY as the scan's row values render (Long micros
    * for timestamps, Int days for dates, UTF8String for strings,
    * scale-faithful Decimal for int32/int64/FLBA/binary-backed
    * decimals, value-wrapped bytes for raw binary — the r15 closure
    * of the key-type gate)? Footer-only driver check, O(sidecars).
    * Anything else — nested, int96, interval — keeps the driver fold
    * regardless of size: a silently mismatched key form would
    * resurrect deleted rows. */
  private[sources] def eqDecodable(ref: TableRef,
      eqDeletes: Seq[graft.icelite.EqDelete]): Boolean =
    eqDeletes.forall { d =>
      scala.util.Try {
        val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
          new HPath(ref.dir.resolve(d.file).toString), new Configuration()))
        val schema = try fr.getFooter.getFileMetaData.getSchema
          finally fr.close()
        d.keyCols.forall { c =>
          val t = schema.getType(Array(c): _*)
          t.isPrimitive && {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val p = t.asPrimitiveType
            val ann = p.getLogicalTypeAnnotation
            p.getPrimitiveTypeName match {
              case INT64 => ann == null ||
                (ann match {
                  case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    i.getBitWidth == 64 && i.isSigned
                  case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => true
                  case _ => false
                })
              case INT32 => ann == null ||
                (ann match {
                  case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    i.getBitWidth == 32 && i.isSigned
                  case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => true
                  case _ => false
                })
              case DOUBLE | BOOLEAN | FLOAT => true
              case BINARY => ann == null ||
                ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
                ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              case FIXED_LEN_BYTE_ARRAY =>
                ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              case _ => false
            }
          }
        }
      }.getOrElse(false)
    }

  /** Wrap a raw-binary key value in a VALUE-comparable form: byte
    * arrays compare by reference in a HashSet, so both folds and the
    * row side wrap them as immutable Seq[Byte]. */
  private[sources] def eqKeyForm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** Per-JVM (per-executor) cache of above-budget eq key groups
    * (ADVICE r14): without it every SPLIT re-reads every eq sidecar —
    * a 10⁸-key erasure would multiply sidecar I/O by the number of
    * splits. Sidecar files are immutable and the ref set (path, key
    * cols, snapshot id) identifies the window exactly, so no
    * invalidation protocol is needed; bounded LRU caps executor heap
    * at a few key sets. Tasks that race the first load may compute
    * twice (benign — last write wins). */
  private val EqExecCacheMax = 4
  private val eqExecCache =
    new java.util.LinkedHashMap[Seq[(String, Seq[String], Long)], Seq[EqKeyGroup]](
        8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[(String, Seq[String], Long)], Seq[EqKeyGroup]])
          : Boolean = size() > EqExecCacheMax
    }
  /** Spec observability: executor-side key-group loads that actually
    * hit the parquet (cache misses). */
  val eqExecLoads = new java.util.concurrent.atomic.AtomicLong(0)

  private[sources] def loadEqKeyGroupsCached(
      refs: Seq[(String, Seq[String], Long)]): Seq[EqKeyGroup] =
    if (refs.isEmpty) Nil
    else {
      eqExecCache.synchronized {
        val hit = eqExecCache.get(refs)
        if (hit != null) return hit
      }
      eqExecLoads.incrementAndGet()
      val loaded = loadEqKeyGroups(refs)
      eqExecCache.synchronized { eqExecCache.put(refs, loaded) }
      loaded
    }

  /** Executor half of the above-budget eq path: load each sidecar's
    * key tuples ONCE per split, converting parquet primitives to the
    * exact catalyst forms the row readers emit (the [[eqDecodable]]
    * gate guarantees the mapping is total). */
  private[sources] def loadEqKeyGroups(
      refs: Seq[(String, Seq[String], Long)]): Seq[EqKeyGroup] =
    if (refs.isEmpty) Nil
    else refs.groupBy(_._2).toSeq.map { case (kc, rs) =>
      val keys = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Long)]
      rs.foreach { case (path, _, dsnap) =>
        val conf = new Configuration()
        val fr = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(path), conf))
        val schema = try fr.getFooter.getFileMetaData.getSchema
          finally fr.close()
        val projected = new org.apache.parquet.schema.MessageType(
          schema.getName,
          schema.getFields.asScala.filter(f => kc.contains(f.getName)).asJava)
        conf.set(ReadSupport.PARQUET_READ_SCHEMA, projected.toString)
        def value(g: Group, c: String): Any =
          if (g.getFieldRepetitionCount(c) == 0) null
          else {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val prim = projected.getType(Array(c): _*).asPrimitiveType
            val dec = prim.getLogicalTypeAnnotation match {
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => d
              case _ => null
            }
            // decimal forms build a SCALE-FAITHFUL Decimal with the
            // sidecar's declared precision/scale — the same (p, s)
            // the row readers decode, so HashSet equality holds
            def decBytes(bytes: Array[Byte]): Any =
              org.apache.spark.sql.types.Decimal(
                BigDecimal(new java.math.BigDecimal(
                  new java.math.BigInteger(bytes), dec.getScale)),
                dec.getPrecision, dec.getScale)
            prim.getPrimitiveTypeName match {
              case INT64 =>
                if (dec != null) org.apache.spark.sql.types.Decimal(
                  g.getLong(c, 0), dec.getPrecision, dec.getScale)
                else g.getLong(c, 0)
              case INT32 =>
                if (dec != null) org.apache.spark.sql.types.Decimal(
                  g.getInteger(c, 0).toLong, dec.getPrecision, dec.getScale)
                else g.getInteger(c, 0)
              case DOUBLE => g.getDouble(c, 0)
              case FLOAT => g.getFloat(c, 0)
              case BOOLEAN => g.getBoolean(c, 0)
              case FIXED_LEN_BYTE_ARRAY =>
                decBytes(g.getBinary(c, 0).getBytes)
              case BINARY =>
                if (dec != null) decBytes(g.getBinary(c, 0).getBytes)
                else if (prim.getLogicalTypeAnnotation
                    .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
                  UTF8String.fromString(g.getString(c, 0))
                else IceLiteSource.eqKeyForm(g.getBinary(c, 0).getBytes)
              case other => throw new IllegalStateException(
                s"undecodable eq key primitive $other (planning gate broken)")
            }
          }
        val reader = ParquetReader.builder(new GroupReadSupport(),
          new HPath(path)).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            keys += ((kc.map(value(g, _)), dsnap))
            g = reader.read()
          }
        } finally reader.close()
      }
      EqKeyGroup(kc, keys.toArray)
    }

  /** Driver half of the above-threshold path: which PLANNED data file
    * does each sidecar touch, and under which exact recorded string?
    * One distributed distinct over the sidecars' `file_path` column —
    * the result is (sidecar, recorded, planned-file) tuples, never
    * positions. `files` are table-relative planned paths; keys of the
    * result are the reader-anchored normalized absolute paths the
    * split planner bins. */
  private[sources] def posDeleteRefsByFile(ref: TableRef,
      deleteFiles: Seq[String], files: Seq[String])
      : Map[String, Seq[(String, String)]] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val sidecarAbs = deleteFiles.map(f => ref.dir.resolve(f).toString)
    val scByNorm = sidecarAbs.map(p => normPath(p) -> p).toMap
    org.apache.spark.sql.SparkSession.active.read
      .parquet(sidecarAbs: _*)
      .select(input_file_name().as("_sc"), col("file_path"))
      .distinct().collect()
      .flatMap { r =>
        val sc = scByNorm.getOrElse(normPath(r.getString(0)), r.getString(0))
        val recorded = r.getString(1)
        IceLite.matchStagedPath(files, recorded)
          .map(rel => (normPath(ref.dir.resolve(rel).toString), (sc, recorded)))
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
  }

  /** The one position-sidecar decoder both regimes share: parquet-mr's
    * Group reader over each sidecar's `(file_path, pos)` rows, all
    * opened with ONE Hadoop `Configuration` — no Spark job, no schema
    * inference. Each sidecar comes with the recorded `file_path`
    * strings to push down (the executor side's per-split want list:
    * row groups whose path stats or dictionaries exclude every wanted
    * file are never decoded); an empty list reads the whole sidecar.
    * `key` maps each decoded row's recorded path to the split key its
    * position lands under (None = drop). Returns each key's sorted
    * positions. */
  private[sources] def decodePosDeletes(sidecars: Seq[(String, Seq[String])])(
      key: String => Option[String]): Map[String, Array[Long]] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    val conf = new Configuration()
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    sidecars.foreach { case (sc, wanted) =>
      val filter =
        if (wanted.isEmpty) FilterCompat.NOOP
        else FilterCompat.get(wanted.map(r => FilterApi.eq(
            FilterApi.binaryColumn("file_path"), Binary.fromString(r)))
          .reduce[FilterPredicate](FilterApi.or(_, _)))
      val reader = ParquetReader.builder(new GroupReadSupport(), new HPath(sc))
        .withConf(conf).withFilter(filter).build()
      try {
        var g = reader.read()
        while (g != null) {
          key(g.getString("file_path", 0)).foreach { k =>
            acc.getOrElseUpdate(k,
              new scala.collection.mutable.ArrayBuilder.ofLong) +=
              g.getLong("pos", 0)
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    acc.map { case (k, b) => k -> b.result().sorted }.toMap
  }

  /** Driver half AT-OR-UNDER the fold budget: every position of
    * `sidecars` folded into per-file sorted tombstone indexes, keyed
    * like the executor half (suffix-matched against `files`, the
    * table-relative planned paths, and re-anchored at this reader's
    * table dir). Each distinct recorded string is matched once. */
  private[sources] def foldPosDeletes(ref: TableRef, sidecars: Seq[String],
      files: Seq[String]): Map[String, Array[Long]] = {
    val keyOf = scala.collection.mutable.HashMap.empty[String, Option[String]]
    decodePosDeletes(sidecars.map(f => ref.dir.resolve(f).toString -> Nil)) { rec =>
      posDriverFoldRows.incrementAndGet()
      keyOf.getOrElseUpdate(rec, IceLite.matchStagedPath(files, rec)
        .map(rel => normPath(ref.dir.resolve(rel).toString)))
    }
  }

  /** Executor half: load the positions for THIS split's files from
    * their matched sidecars — each distinct sidecar read ONCE per
    * split with a `file_path` pushdown of exactly the recorded
    * strings this split wants. Runs inside the partition reader; the
    * driver never sees a position. */
  private[sources] def loadPosDeletes(
      refs: Map[String, Seq[(String, String)]]): Map[String, Array[Long]] =
    if (refs.isEmpty) Map.empty
    else {
      val byRecorded: Map[String, String] = refs.toSeq.flatMap {
        case (k, rs) => rs.map { case (_, rec) => rec -> k } }.toMap
      val bySidecar: Seq[(String, Seq[String])] = refs.values.flatten.toSeq
        .groupBy(_._1).map { case (sc, rs) => sc -> rs.map(_._2).distinct }
        .toSeq
      decodePosDeletes(bySidecar)(byRecorded.get)
    }

  /** The `col=value` pairs a file's own path carries, URI-decoded
    * (partition values are escaped on disk). */
  private[sources] def pathPartValues(file: String): Map[String, String] =
    file.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
      val c = seg.takeWhile(_ != '=')
      c -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
    }.toMap

  /** r14 (verdict task #5): a STRING range over a partition column.
    * Each side is (bound, inclusive); comparisons run through
    * UTF8String so they are byte-for-byte Spark's own string
    * ordering (Scala's String.compareTo is UTF-16 code-unit order —
    * NOT the same for supplementary characters). */
  type StrRange = (Option[(String, Boolean)], Option[(String, Boolean)])

  private def strCmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private[sources] def strInRange(v: String, r: StrRange): Boolean =
    r._1.forall { case (lo, inc) =>
      val c = strCmp(v, lo); if (inc) c >= 0 else c > 0 } &&
    r._2.forall { case (hi, inc) =>
      val c = strCmp(v, hi); if (inc) c <= 0 else c < 0 }

  /** Intersect two ranges (repeated pushed predicates conjoin). */
  private[sources] def strRangeIntersect(a: StrRange, b: StrRange): StrRange = {
    def pick(x: Option[(String, Boolean)], y: Option[(String, Boolean)],
        keepGreater: Boolean): Option[(String, Boolean)] = (x, y) match {
      case (None, v) => v
      case (v, None) => v
      case (Some((xv, xi)), Some((yv, yi))) =>
        val c = strCmp(xv, yv)
        if (c == 0) Some((xv, xi && yi))
        else if ((c > 0) == keepGreater) Some((xv, xi))
        else Some((yv, yi))
    }
    (pick(a._1, b._1, keepGreater = true),
      pick(a._2, b._2, keepGreater = false))
  }

  /** r15: a pushed range over an INTEGRAL-TYPED (int/long) identity
    * partition column — dir values compare as parsed longs, never
    * lexicographically ("10" > "9"). Each side is (bound,
    * inclusive). */
  type NumRange = (Option[(Long, Boolean)], Option[(Long, Boolean)])

  private[sources] def numInRange(v: Long, r: NumRange): Boolean =
    r._1.forall { case (lo, inc) => if (inc) v >= lo else v > lo } &&
    r._2.forall { case (hi, inc) => if (inc) v <= hi else v < hi }

  private[sources] def numRangeIntersect(a: NumRange, b: NumRange): NumRange = {
    def pick(x: Option[(Long, Boolean)], y: Option[(Long, Boolean)],
        keepGreater: Boolean): Option[(Long, Boolean)] = (x, y) match {
      case (None, v) => v
      case (v, None) => v
      case (Some((xv, xi)), Some((yv, yi))) =>
        if (xv == yv) Some((xv, xi && yi))
        else if ((xv > yv) == keepGreater) Some((xv, xi))
        else Some((yv, yi))
    }
    (pick(a._1, b._1, keepGreater = true),
      pick(a._2, b._2, keepGreater = false))
  }

  /** A dir value's CANONICAL integral form: parses as Long AND
    * round-trips to the same string (a "02023" dir would equal 2023
    * numerically but not string-wise — such dirs decline typed
    * claims entirely, the conservative stance for migrated
    * layouts). */
  private[sources] def canonicalLong(v: String): Option[Long] =
    v.toLongOption.filter(_.toString == v)

  /** Dir value → SQL value: Hive's null-sentinel dir
    * (`__HIVE_DEFAULT_PARTITION__`) decodes to NULL on every
    * row-returning path (batch constant vectors, stream partVals,
    * reader path-borne fallbacks), matching the claimed-filter
    * semantics that already treat sentinel dirs as null — a null
    * partition row must round-trip as a SQL NULL, not as the literal
    * sentinel string (ADVICE r13). */
  private[sources] def dirSqlValue(v: String): String =
    if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME) null
    else v

  /** r15: a dir value as the CATALYST value of a typed partition
    * column (null already sentinel-decoded by the caller). Int/long
    * dirs are canonical renderings by the write path's construction;
    * a foreign non-canonical dir fails loudly rather than silently
    * nulling. */
  private[sources] def dirTypedValue(v: String, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case StringType => UTF8String.fromString(v)
      case IntegerType => v.toInt
      case LongType => v.toLong
      case other => throw new IllegalStateException(
        s"unsupported typed partition dir decode: $other for '$v'")
    }

  /** Resolve the scan snapshot: the pinned id (time travel) or the
    * current head. A pinned id that expired past retention fails
    * loudly, exactly like IceLite.readAt. */
  private[sources] def resolveSnap(ref: TableRef, asOf: Option[Long]): Snapshot = {
    val m = IceLite.readManifest(ref)
    asOf match {
      case None => m.current
      case Some(id) => m.snapshots.find(_.id == id).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $id in ${ref.name} (expired past retention?)"))
    }
  }

  /** Table schema as the connector exposes it: the first data file's
    * parquet schema, plus the PATH-borne partition columns as STRING
    * — Hive's untyped-partition default; IceLite.readPartitioned
    * remains the typed-discovery read. Mixed (evolved) layouts are
    * refused: an old-layout file carries the column in DATA, and a
    * path-typed scan would emit nulls for real values. */
  private[sources] def schemaOf(ref: TableRef,
      asOf: Option[Long] = None): StructType = {
    val snap = resolveSnap(ref, asOf)
    val m = IceLite.readManifest(ref)
    val withParts: StructType = if (snap.files.isEmpty) {
      // d68: a table created empty by SQL DDL reads its declared
      // schema until the first data file lands — fed through the SAME
      // alter-ledger pipeline below, so an ALTER on a still-empty DDL
      // table is visible (the early return here used to bypass it)
      m.declaredSchemaDdl match {
        case Some(ddl) => StructType.fromDDL(ddl)
        case None =>
          // TRUNCATEd (or partition-emptied) tables: schema-on-read
          // from the newest prior snapshot that still has files — the
          // bytes are retained for time travel anyway. Only the
          // FILE-BORNE base may come from the donor: recursing with
          // asOf=donor.id rebound the ALTER-LEDGER scope too, so an
          // ADD/RENAME landed AFTER the emptying delete silently
          // vanished from the schema (REST fuzz seeds 1028/1046/1050).
          // The pre-ledger donor base is era-correct because the
          // ledger pipeline below re-applies every alter visible at
          // THIS snapshot, donor-era ones included.
          m.snapshots.filter(s => s.id < snap.id && s.files.nonEmpty)
            .sortBy(_.id).lastOption match {
            case Some(donor) => preLedgerSchema(ref, m, donor)
            case None => throw new IllegalArgumentException(
              s"${ref.name} has no data files")
          }
      }
    } else preLedgerSchema(ref, m, snap)
    // d51/d52: ALTER-added columns appended, ALTER-dropped columns
    // hidden — both scoped to snapshots at-or-after their alter, so
    // time travel to an earlier snapshot sees the pre-alter schema.
    // Files that predate an added column surface NULL at read time;
    // dropped columns keep their bytes but are never projected.
    // dedupe under CHAIN-RESOLVED names: the ledger records the
    // at-add-time stored name (`c`), but a post-rename head file
    // already stores the new name (`cc`) — a stored-name compare
    // would re-append `c` and the rename below would fold it into a
    // DUPLICATE `cc` field (found by RestModelFuzzSpec seed 97)
    val renamesVisible = m.renamedCols.filter(_.sinceSnapshotId <= snap.id)
    def chainName(n: String): String =
      renamesVisible.foldLeft(n)((x, r) => if (x == r.from) r.to else x)
    val presentNames = withParts.fieldNames.map(chainName).toSet
    val added = m.addedCols
      .filter(c => c.sinceSnapshotId <= snap.id &&
        !presentNames.contains(chainName(c.name)))
    val evolved =
      if (added.isEmpty) withParts
      else StructType(withParts.fields ++ added.map(c =>
        StructField(c.name, org.apache.spark.sql.types.DataType.fromDDL(c.sqlType))))
    // d58: apply the rename chain (stored → current names) BEFORE the
    // drop filter — a drop after a rename records the current name
    val renamed = renamesVisible
      .foldLeft(evolved) { (sch, r) =>
        StructType(sch.fields.map(f =>
          if (f.name == r.from) f.copy(name = r.to) else f))
      }
    val hidden = m.droppedCols
      .filter(_.sinceSnapshotId <= snap.id).map(_.name).toSet
    val dropped =
      if (hidden.isEmpty) renamed
      else StructType(renamed.fields.filterNot(f => hidden(f.name)))
    // d66: ALTER COLUMN TYPE widening — the schema surfaces the
    // widened type from the alter's snapshot onward; time travel to
    // an earlier snapshot sees the narrow stored type. Readers upcast
    // narrow-era files at decode time.
    val widenTo = m.widenedCols.filter(_.sinceSnapshotId <= snap.id)
      .map(w => w.name ->
        org.apache.spark.sql.types.DataType.fromDDL(w.toType)).toMap
    val widened =
      if (widenTo.isEmpty) dropped
      else StructType(dropped.fields.map(f =>
        widenTo.get(f.name).fold(f)(t => f.copy(dataType = t))))
    // EVERY column is nullable — the rule spark.read.parquet itself
    // applies (asNullable). The head file's parquet nullability is a
    // property of ONE writer's input (a tuple-derived DF marks fields
    // REQUIRED), not of the table: other files can predate the column
    // or legitimately hold nulls, and a non-nullable scan schema makes
    // codegen SKIP null checks — their nulls then read as 0/""
    // (found by RestModelFuzzSpec sweep seeds 1022/1039: a CoW
    // rewrite flipped the head file to a REQUIRED-schema append and
    // every pre-ADD-COLUMN row's null read back as 0).
    // r15: a path-borne partition column KEEPS its DECLARED int/long
    // type (the d68 DDL shape `PARTITIONED BY (year)` with `year
    // INT`) instead of demoting to Hive's untyped string — the
    // readers parse dir values per type, so `WHERE year >= 2023`
    // stays a plain typed column predicate Spark can push. Other
    // declared types (and undeclared tables) keep the string default.
    val declTypes: Map[String, DataType] = m.declaredSchemaDdl
      .flatMap(d => scala.util.Try(StructType.fromDDL(d)).toOption)
      .map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    val typedParts = StructType(widened.fields.map { f =>
      if (snap.partitionCols.contains(f.name) && f.dataType == StringType)
        declTypes.get(f.name) match {
          case Some(IntegerType) => f.copy(dataType = IntegerType)
          case Some(LongType) => f.copy(dataType = LongType)
          case _ => f
        }
      else f
    })
    StructType(typedParts.fields.map(_.copy(nullable = true)))
  }

  /** The FILE-BORNE schema base of one snapshot (head file's parquet
    * fields + path-borne partition columns) — pre-alter-ledger; the
    * caller applies added/renamed/dropped/widened scoped to ITS OWN
    * snapshot, so a donor snapshot can lend its base to an emptied
    * table without rebinding the ledger scope. */
  private def preLedgerSchema(ref: TableRef, m: graft.icelite.Manifest,
      snap: graft.icelite.Snapshot): StructType = {
    val file = new HPath(ref.dir.resolve(snap.files.head).toUri)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, new Configuration()))
    val fileSchema = try {
      val msg = r.getFooter.getFileMetaData.getSchema
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter().convert(msg)
    } finally r.close()
    if (snap.partitionCols.isEmpty) fileSchema
    else {
      // d83: a mid-evolution snapshot mixes layouts. The schema is
      // the head file's fields plus EVERY path-borne column any era
      // carries (string-typed — the d83 DDL admits string fields
      // only), so a column that moved between data pages and the
      // path stays projectable across eras.
      val pathCols = snap.files.flatMap(f => pathPartValues(f).keys).distinct
      StructType(fileSchema.fields ++
        (snap.partitionCols ++
          pathCols.filterNot(snap.partitionCols.contains))
          .filterNot(fileSchema.fieldNames.contains)
          .map(c => StructField(c, StringType)))
    }
  }

  /** d58: current name → its older stored names, newest first — the
    * per-file fallback chain readers resolve a projection through
    * (`a→b→c` yields `c -> [b, a]`). Scoped to renames visible at
    * `snapId`, like the schema itself. */
  private[sources] def aliasesOf(m: graft.icelite.Manifest,
      snapId: Long): Map[String, Seq[String]] =
    m.renamedCols.filter(_.sinceSnapshotId <= snapId)
      .foldLeft(Map.empty[String, List[String]]) { (acc, r) =>
        val olds = r.from :: acc.getOrElse(r.from, Nil)
        acc - r.from + (r.to -> olds)
      }
}

/** `asOf`: a pinned snapshot id — the table as a TIME-TRAVEL read
  * (SQL `VERSION AS OF` / `TIMESTAMP AS OF` through IceLiteCatalog).
  * Pinned tables are read-only: history is immutable.
  *
  * SupportsDelete: `DELETE FROM cat.ns.t WHERE ...` delegates to
  * IceLite.deleteWhere — the layout-preserving touched-files-only
  * copy-on-write rewrite (d30/d32) behind the plain SQL statement.
  * Only filters this source can render as predicate text are
  * accepted (`canDeleteWhere`); anything else fails loudly rather
  * than deleting the wrong rows.
  *
  * SupportsRowLevelOperations (d42/d43): SQL `UPDATE` and `MERGE
  * INTO` (and non-renderable DELETEs) plan through Spark's own
  * group-based copy-on-write rewrite — Catalyst rewrites the
  * statement into a ReplaceData plan over this operation's scan,
  * runtime group filtering narrows that scan to the files that
  * actually hold matching rows (via the `_file` metadata column +
  * SupportsRuntimeV2Filtering), and the replace-write swaps exactly
  * those files for the rewritten ones in one CAS snapshot. The
  * engine-side analogue is IceLite.merge/updateWhere (d04/d31);
  * this surface lets Spark's analyzer drive the same touched-files-
  * only cost model from plain SQL.
  *
  * SupportsMetadataColumns: `_file` — the absolute path of the data
  * file a row came from (Iceberg's `_file` column), the group id
  * runtime filtering keys on, and useful on its own for debugging
  * skew or tracing a bad row to its file. */
class IceLiteTable(ref: TableRef, schema: StructType,
    asOf: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  override def name(): String =
    s"icelite.${ref.namespace}.${ref.name}" +
      asOf.map(id => s"@$id").getOrElse("")
  override def schema(): StructType = schema
  /** d67/d83/d84: declare the table's partitioning so the analyzer
    * accepts `INSERT OVERWRITE … PARTITION (col=val)` clauses and
    * DESCRIBE-style tooling sees the layout. The LIVE table reports
    * the DECLARED layout (Iceberg's rule: the evolved spec shows
    * immediately after ADD PARTITION FIELD) — reporting the snapshot's
    * instead made the analyzer mask the engine's documented
    * compact()/pending overwrite refusal as NON_PARTITION_COLUMN
    * while an evolution was pending (EvolutionModelSpec sweep seeds
    * 4007+). Transform specs surface as their Spark transform
    * expressions; derived NAMES stay unaddressable in PARTITION
    * clauses, exactly the hidden-partitioning contract. Time-travel
    * reads keep reporting their snapshot's layout. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (!IceLite.tableExists(ref))
      return Array.empty
    val (cols, spec) =
      if (asOf.isDefined) {
        val s = IceLiteSource.resolveSnap(ref, asOf)
        (s.partitionCols, s.partitionSpec)
      } else {
        val m = IceLite.readManifest(ref)
        (m.writeLayoutCols, m.writeLayoutSpec)
      }
    (cols.map(c => Expressions.identity(c):
        org.apache.spark.sql.connector.expressions.Transform) ++
      spec.map { f =>
        (f.transform match {
          case "bucket" => Expressions.bucket(f.param, f.sourceCol)
          case "days" => Expressions.days(f.sourceCol)
          case "years" => Expressions.years(f.sourceCol)
          case "months" => Expressions.months(f.sourceCol)
          case "hours" => Expressions.hours(f.sourceCol)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(f.param), Expressions.column(f.sourceCol))
          case t => throw new IllegalArgumentException(
            s"unknown partition transform '$t'")
        }): org.apache.spark.sql.connector.expressions.Transform
      }).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (asOf.isDefined) Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE).asJava

  // ---- d71: SupportsPartitionManagement — `SHOW PARTITIONS` and
  // `ALTER TABLE … DROP PARTITION` over the manifest census. Iceberg's
  // stance: partitions are DATA-IMPLIED (they materialize with their
  // first written row and vanish with their last), so ADD/metadata
  // mutations refuse loudly; DROP delegates to the d69 metadata
  // delete (one CAS commit, zero rows read). ----

  /** Census columns: identity layouts expose their path-borne
    * partition columns; HIDDEN layouts expose the DERIVED dir names
    * (round 12 — Iceberg's SHOW PARTITIONS/$partitions shows
    * transform tuples the same way; previously transform tables
    * reported an empty census). */
  private def censusPartCols: Seq[String] =
    if (!IceLite.tableExists(ref)) Nil
    else {
      val snap = IceLiteSource.resolveSnap(ref, asOf)
      if (snap.partitionCols.nonEmpty) snap.partitionCols
      else snap.partitionSpec.map(_.name)
    }

  private def identityPartCols: Seq[String] =
    if (IceLite.tableExists(ref))
      IceLiteSource.resolveSnap(ref, asOf).partitionCols
    else Nil

  override def partitionSchema(): StructType =
    StructType(censusPartCols.map(c =>
      org.apache.spark.sql.types.StructField(c, StringType)))

  /** Distinct partition-value tuples, folded from the manifest file
    * paths — O(files) driver metadata, zero data pages (d34's census
    * behind the SQL command). `names`/`ident` prefilter per contract. */
  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val cols = censusPartCols
    require(names.length == ident.numFields,
      s"filter names/ident arity mismatch: ${names.length} vs ${ident.numFields}")
    val want: Map[String, String] = names.zipWithIndex.map { case (n, i) =>
      n -> (if (ident.isNullAt(i)) null else ident.getString(i))
    }.toMap
    val snap = IceLiteSource.resolveSnap(ref, asOf)
    snap.files.map(f => cols.map(c =>
        IceLiteSource.pathPartValues(f).getOrElse(c, null)))
      .distinct
      .filter(tuple => want.forall { case (n, v) =>
        val i = cols.indexOf(n); i >= 0 && tuple(i) == v })
      .sortBy(_.mkString("/"))
      .map(tuple => InternalRow.fromSeq(tuple.map(v =>
        if (v == null) null else UTF8String.fromString(v))): InternalRow)
      .toArray
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val cols = identityPartCols
    require(cols.nonEmpty,
      s"${name()} has a hidden-partition layout — derived dirs are " +
        "not droppable identities (the source values live in the data " +
        "pages); DELETE by a source-column predicate instead")
    require(asOf.isEmpty,
      s"${name()} is a time-travel read — snapshots are immutable")
    require(ident.numFields == cols.length,
      s"DROP PARTITION needs all ${cols.length} partition values")
    val eq = cols.zipWithIndex.map { case (c, i) =>
      c -> Set(ident.getString(i)) }.toMap
    val before = IceLiteSource.resolveSnap(ref, None).files.size
    val after = IceLite.deletePartitions(ref, eq).files.size
    after < before
  }

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "icelite partitions are data-implied — they materialize with " +
        "their first written row (INSERT INTO), like Iceberg")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "icelite partitions carry no mutable metadata")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
  /** d82: table properties surface on the catalog face (SHOW
    * TBLPROPERTIES and DESCRIBE EXTENDED read this). */
  override def properties(): java.util.Map[String, String] =
    if (IceLite.tableExists(ref))
      IceLite.readManifest(ref).properties.asJava
    else java.util.Collections.emptyMap()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // d72/d73: the scan folds BOTH MoR sidecar kinds — position
    // tombstones per file (d50) and equality-delete key batches under
    // the snapshot-id sequence rule (d73) — so SQL reads an eq-live
    // CDC table mid-stream, before any compact()
    // d82: split sizing resolves option > table property > default
    val propSplitOpt = (if (IceLite.tableExists(ref))
        IceLite.readManifest(ref).properties.get(IceLite.SplitSizeProp)
      else None).map(_.trim.toLong)
    val propSplit = propSplitOpt.getOrElse(128L * 1024 * 1024)
    new IceLiteScanBuilder(ref, schema,
      options.getInt("snapshotsPerTrigger", Int.MaxValue),
      options.getLong("targetSplitBytes", propSplit),
      asOf, changelog = options.getBoolean("changelog", false),
      splitBytesExplicit =
        options.containsKey("targetSplitBytes") || propSplitOpt.isDefined)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"${name()} is a time-travel read — snapshots are immutable")
    new IceLiteWriteBuilder(ref, info)
  }

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(IceLiteTable.FileMetadataColumn, IceLiteTable.PosMetadataColumn)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"${name()} is a time-travel read — snapshots are immutable")
    // a row-level rewrite on an eq-live table would have to re-derive
    // the sidecars' logical row accounting — compact() first (reads
    // fold eq sidecars, d73; rewrites need them materialized)
    require(IceLiteSource.resolveSnap(ref, None).eqDeletes.isEmpty,
      s"${name()} has live equality-delete sidecars — compact() " +
        "before a row-level DELETE/UPDATE/MERGE")
    // r15: write-mode routing (Iceberg's write.<op>.mode properties,
    // session conf as operational override): merge-on-read plans the
    // DELTA operation — Spark's own rewrite rules turn it into a
    // WriteDelta (position sidecar + appended rows, zero rewrite of
    // untouched files); copy-on-write keeps the group-based rewrite.
    // One MoR precondition is table STATE, not capability: a pending
    // partition-spec evolution carries no sidecars (same rule as the
    // engine-API MoR ops) — those statements fall back to the CoW
    // rewrite, which is exactly the pre-r15 behavior.
    val opKind = info.command match {
      case org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE => "update"
      case org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE => "delete"
      case _ => "merge"
    }
    () => {
      val spark = org.apache.spark.sql.SparkSession.active
      val mor = IceLite.resolvedWriteMode(spark, ref, opKind) == "merge-on-read"
      val m = IceLite.readManifest(ref)
      val evolutionPending = m.writeLayoutCols != m.current.partitionCols
      if (mor && !evolutionPending)
        new IceLiteDeltaOperation(ref, schema, info.command)
      else {
        if (mor) IceLiteSource.log.warn(
          s"${name()}: $opKind requested merge-on-read but a pending " +
            "partition-spec evolution carries no sidecars — falling " +
            "back to copy-on-write for this statement")
        new IceLiteRowLevelOperation(ref, schema, info.command)
      }
    }
  }

  /** Render a pushed filter as SQL predicate text for
    * IceLite.deleteWhere (None = not renderable → decline). */
  private def render(f: Filter): Option[String] = {
    def lit(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case b: Boolean => Some(b.toString)
      case n: Number => Some(n.toString)
      case _ => None // timestamps/binary/etc: decline, don't guess
    }
    f match {
      case EqualTo(c, v) => lit(v).map(l => s"`$c` = $l")
      case GreaterThan(c, v) => lit(v).map(l => s"`$c` > $l")
      case GreaterThanOrEqual(c, v) => lit(v).map(l => s"`$c` >= $l")
      case LessThan(c, v) => lit(v).map(l => s"`$c` < $l")
      case LessThanOrEqual(c, v) => lit(v).map(l => s"`$c` <= $l")
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(lit)
        if (ls.forall(_.isDefined)) Some(s"`$c` IN (${ls.flatten.mkString(", ")})")
        else None
      case org.apache.spark.sql.sources.IsNull(c) => Some(s"`$c` IS NULL")
      case org.apache.spark.sql.sources.IsNotNull(c) => Some(s"`$c` IS NOT NULL")
      case org.apache.spark.sql.sources.Not(child) => render(child).map(p => s"NOT ($p)")
      case org.apache.spark.sql.sources.And(l, r) =>
        for (a <- render(l); b <- render(r)) yield s"($a) AND ($b)"
      case org.apache.spark.sql.sources.Or(l, r) =>
        for (a <- render(l); b <- render(r)) yield s"($a) OR ($b)"
      case org.apache.spark.sql.sources.AlwaysTrue() => Some("true")
      case org.apache.spark.sql.sources.AlwaysFalse() => Some("false")
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(render(_).isDefined)

  /** `spark.graft.icelite.deleteMode=mor` routes SQL DELETEs to the
    * merge-on-read path (position sidecars, zero rewrite — d47) when
    * the table's layout supports it; default is copy-on-write.
    * Iceberg expresses the same choice as the table property
    * `write.delete.mode=merge-on-read`. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      s"${name()} is a time-travel read — snapshots are immutable")
    // d60: same audit-session guard as the row-level write path — a
    // pushed-filter DELETE during a WAP session would mutate main
    // while the audit reads the branch
    require(org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.wap.branch").forall(_.isEmpty),
      "spark.wap.branch is set — DELETE would rewrite main during " +
        "an audit session; publish/drop the branch or unset the conf")
    val pred =
      if (filters.isEmpty) "true"
      else filters.map(f => render(f).getOrElse(throw new IllegalArgumentException(
        s"cannot render $f as a delete predicate"))).mkString("(", ") AND (", ")")
    val spark = org.apache.spark.sql.SparkSession.active
    val cur = IceLite.readManifest(ref).current
    // d69: when every filter is a partition-column equality/IN on an
    // identity-partitioned CoW table, the DELETE selects WHOLE
    // partitions — answer it as Iceberg's metadata delete (drop the
    // matching files in one CAS commit, zero rows rewritten)
    val partEq: Option[Map[String, Set[String]]] =
      if (cur.partitionCols.isEmpty || cur.deleteFiles.nonEmpty ||
          filters.isEmpty) None
      else {
        import org.apache.spark.sql.sources.{EqualTo, In}
        val sets = filters.toSeq.map {
          case EqualTo(c, v) if cur.partitionCols.contains(c) && v != null =>
            Some(c -> Set(String.valueOf(v)))
          case In(c, vs) if cur.partitionCols.contains(c) &&
              vs.forall(_ != null) =>
            Some(c -> vs.map(String.valueOf).toSet)
          case _ => None
        }
        if (sets.forall(_.isDefined))
          Some(sets.flatten.groupBy(_._1).view.mapValues(
            _.map(_._2).reduce(_ intersect _)).toMap)
        else None
      }
    partEq match {
      case Some(eq) => IceLite.deletePartitions(ref, eq)
      case None =>
        // round 12: partitioned tables take the MoR route too (the
        // engine-side flat-only guard is lifted). r15: the mode
        // resolves like Iceberg's — session conf override > the
        // table's write.delete.mode property > copy-on-write.
        val mor =
          IceLite.resolvedWriteMode(spark, ref, "delete") == "merge-on-read"
        if (mor) IceLite.deleteWhereMoR(spark, ref, pred)
        else IceLite.deleteWhere(spark, ref, pred)
    }
    ()
  }
}

object IceLiteTable {
  /** `_file` — Iceberg's file-provenance metadata column: the GROUP
    * ID of the copy-on-write row-level path (runtime group filtering
    * collects the distinct `_file` values holding matched rows and
    * narrows the rewrite scan to exactly those files) and, with
    * `_pos`, the row identity of the delta (merge-on-read) path. The
    * preserve flags are ON (r15): the delta plan's update/delete
    * projections null out any non-preserved rowId attr
    * (RewriteUpdateTable.buildWriteDeltaUpdateProjection), which
    * would erase the row identity the sidecar write needs. The CoW
    * write stays pure-table-columns either way — ReplaceData feeds
    * its write through ReplaceDataProjections' row projection, never
    * the metadata attrs. */
  val FileMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "absolute path of the data file the row came from"
      override def metadataInJSON(): String =
        """{"__preserve_on_delete": true, "__preserve_on_update": true}"""
    }

  /** `_pos` — Iceberg's in-file row-position metadata column, the
    * second half of the delta row identity `(_file, _pos)` (r15). The
    * reader tracks physical positions for MoR tombstone skipping
    * already; this surfaces them. Preserve flags off for the same
    * reason as `_file`. */
  val PosMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical position of the row within its data file"
      override def metadataInJSON(): String =
        """{"__preserve_on_delete": true, "__preserve_on_update": true}"""
    }
}

/** What the scan half of a row-level statement records for the write
  * half — shared by the group-based (copy-on-write) and delta-based
  * (merge-on-read) operations. Scan and write of one statement share
  * the operation object by construction (Spark builds both from the
  * same RowLevelOperation). */
trait IceLiteRowLevelOpBase {
  /** Manifest-relative files the (runtime-filtered) scan planned —
    * the groups a replace-write swaps out, and the set a delta
    * write's conflict validation checks are still live. Set by
    * IceLiteScan.planInputPartitions, read by commit(); both run on
    * the driver, planning strictly before commit. */
  @volatile private[sources] var scannedFiles: Option[Seq[String]] = None
  /** The snapshot the scan was BUILT on — the delta commit validates
    * against it (a concurrent rewrite or sidecar change invalidates
    * the positions this statement computed). */
  @volatile private[sources] var scannedSnap: Option[graft.icelite.Snapshot] = None
  /** Group-based ops take the `_file` runtime group filter; delta ops
    * scan like normal reads (partition/DPP filtering still applies). */
  def isGroupBased: Boolean
}

/** One SQL row-level statement (UPDATE / MERGE / rewritten DELETE) as
  * Spark's group-based operation contract (d42/d43): the scan half
  * reads the candidate file groups (runtime-filtered to matched
  * files), the write half stages the rewritten rows and commits a
  * snapshot swapping exactly the scanned files. The instance is the
  * bridge — the scan records what it planned, the write replaces it.
  * Scan and write of one statement share this object by construction
  * (Spark builds both from the same RowLevelOperation). */
class IceLiteRowLevelOperation(ref: TableRef, tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.RowLevelOperation
  with IceLiteRowLevelOpBase {
  import org.apache.spark.sql.connector.expressions.Expressions

  override def isGroupBased: Boolean = true

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"IceLiteRowLevelOperation $cmd ${ref.name}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ref, tableSchema, rowOp = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new IceLiteReplaceWrite(
        ref, info.schema(), IceLiteRowLevelOperation.this,
        cmd.toString.toLowerCase)
    }

  /** Ask the rewrite plan to project `_file`, making it available to
    * the runtime group filter. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))
}


/** r15: one SQL row-level statement as Spark's DELTA-BASED operation
  * (`SupportsDelta` — the seam Spark's own RewriteUpdateTable /
  * RewriteMergeIntoTable / RewriteDeleteFromTable plan a `WriteDelta`
  * through instead of a group-based `ReplaceData`): the MERGE-ON-READ
  * route of SQL UPDATE / MERGE / non-pushable DELETE, Iceberg's
  * position-delta role (`write.update.mode=merge-on-read` —
  * config/iceberg-template.properties:1-13 enables the connector that
  * owns this choice in the reference). Row identity is `(_file,
  * _pos)`; updates split into delete + reinsert, so the writers see
  * only deletes (→ position sidecar rows) and inserts (→ new data
  * files), and ONE snapshot commits both. At 100 TB this is the
  * difference between a one-column backfill rewriting every touched
  * file (CoW) and writing O(matched rows). */
class IceLiteDeltaOperation(ref: TableRef, tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta
  with IceLiteRowLevelOpBase {
  import org.apache.spark.sql.connector.expressions.Expressions

  override def isGroupBased: Boolean = false

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"IceLiteDeltaOperation $cmd ${ref.name}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ref, tableSchema, rowOp = Some(this))

  /** Iceberg's position-delta identity: the file a row lives in and
    * its physical position there. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** Keep UPDATE rows whole in the plan (the writer splits them into
    * a position delete + an insert itself — [[IceLiteDeltaWriter
    * .update]]): a plan-side split would route through an Expand
    * whose insert branch nulls the rowId, making the `(_file, _pos)`
    * attrs nullable and failing WriteDelta's compatibility check
    * against the non-nullable metadata columns. Iceberg's position
    * delta makes the same choice. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new IceLiteDeltaWrite(ref, info.schema(),
          IceLiteDeltaOperation.this, cmd match {
            case org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE => "update-mor"
            case org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE => "delete-mor"
            case _ => "merge-mor"
          })
    }
}

/** The write half of a delta (merge-on-read) row-level statement:
  * each task writes its position deletes to a sidecar under
  * `deletes/<token>/` and its inserts through the table's OWN layout
  * under `data/<token>/` (value dirs re-derived for identity and
  * hidden partitioning, so MoR appends keep pruning tight); the
  * driver promotes staged value dirs and commits ONE snapshot via
  * [[graft.icelite.IceLite.commitDelta]]. Inserts cluster by the
  * table's layout (RequiresDistributionAndOrdering) except for
  * DELETE statements, whose plans carry no data columns. */
class IceLiteDeltaWrite(ref: TableRef, rowSchema: StructType,
    op: IceLiteDeltaOperation, opName: String)
  extends org.apache.spark.sql.connector.write.DeltaWrite
  with org.apache.spark.sql.connector.write.DeltaBatchWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}

  private val token = java.util.UUID.randomUUID.toString.take(8)
  private val delToken = java.util.UUID.randomUUID.toString.take(8)
  private def sortedBy: Option[String] = IceLite.effectiveSortCol(ref)
  private val partCols: Seq[String] =
    IceLiteSource.resolveSnap(ref, None).partitionCols
  private val transformSpec: Seq[graft.icelite.PartitionField] =
    IceLiteSource.resolveSnap(ref, None).partitionSpec
  private val tz = org.apache.spark.sql.SparkSession.active
    .sessionState.conf.sessionLocalTimeZone
  /** DELETE plans carry only rowId/metadata attributes — there is
    * nothing to cluster and data-column layout expressions would not
    * resolve. */
  private def deleteOnly: Boolean = rowSchema.isEmpty

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = this
  override def description(): String = s"IceLiteDeltaWrite $opName ${ref.name}"

  override def requiredDistribution(): Distribution =
    if (deleteOnly) Distributions.unspecified()
    else if (transformSpec.nonEmpty)
      Distributions.clustered(transformSpec.map(_.sourceCol).distinct
        .map(c => Expressions.identity(c): org.apache.spark.sql
          .connector.expressions.Expression).toArray)
    else IceLiteWriteLayout.distributionFor(partCols, sortedBy)
  override def requiredOrdering(): Array[SortOrder] =
    if (deleteOnly || transformSpec.nonEmpty) Array.empty
    else IceLiteWriteLayout.orderingFor(partCols, sortedBy)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    require(!rowSchema.fieldNames.contains("_file") &&
        !rowSchema.fieldNames.contains("_pos"),
      s"delta $opName write schema leaked a metadata column")
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    java.nio.file.Files.createDirectories(ref.deletesDir.resolve(delToken))
    new IceLiteDeltaWriterFactory(
      ref.dataDir.resolve(token).toString,
      ref.deletesDir.resolve(delToken).toString,
      rowSchema, partCols, transformSpec, tz)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // same WAP guard as every row-level write: a delta during an
    // audit session would mutate main while the audit reads the branch
    require(org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.wap.branch").forall(_.isEmpty),
      s"spark.wap.branch is set — $opName would mutate main during " +
        "an audit session; publish/drop the branch or unset the conf")
    val scanned = op.scannedSnap.getOrElse(throw new IllegalStateException(
      s"delta $opName write committed before its scan planned"))
    val msgs = messages.collect { case m: IceLiteDeltaCommitMessage => m }
    val sidecars = msgs.flatMap(_.posFile)
      .map(n => s"deletes/$delToken/$n").toSeq.sorted
    val staged: Seq[String] =
      if (partCols.nonEmpty || transformSpec.nonEmpty)
        IceLite.promoteStagedPartitioned(ref, token,
          msgs.flatMap(_.dataFiles).toSeq)
      else msgs.flatMap(_.dataFiles).map(n => s"data/$token/$n").toSeq.sorted
    if (sidecars.isEmpty && staged.isEmpty) { cleanupStage(); return }
    IceLite.commitDelta(org.apache.spark.sql.SparkSession.active, ref,
      scanned, staged, sidecars, opName)
    cleanupStage()
  }

  private def cleanupStage(): Unit =
    Seq(ref.dataDir.resolve(token), ref.deletesDir.resolve(delToken))
      .foreach { dir =>
        if (java.nio.file.Files.exists(dir) &&
            IceLite.listDir(java.nio.file.Files.list(dir))(_.toSeq).isEmpty)
          { java.nio.file.Files.deleteIfExists(dir); () }
      }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Seq(ref.dataDir.resolve(token), ref.deletesDir.resolve(delToken))
      .foreach { dir =>
        if (java.nio.file.Files.exists(dir))
          IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
            .sortBy(-_.getNameCount)
            .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }
}

case class IceLiteDeltaCommitMessage(dataFiles: Seq[String],
    posFile: Option[String]) extends WriterCommitMessage

class IceLiteDeltaWriterFactory(dataStageDir: String, delStageDir: String,
    rowSchema: StructType, partCols: Seq[String],
    spec: Seq[graft.icelite.PartitionField], timeZoneId: String)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new IceLiteDeltaWriter(dataStageDir, delStageDir,
      f"part-$partitionId%05d-$taskId.parquet", rowSchema, partCols,
      spec, timeZoneId)
}

/** Per-task delta writer: `delete(meta, id)` appends the row's
  * `(file_path, pos)` identity to this task's position-delete
  * sidecar; `insert(row)` routes through the same layout writer an
  * ordinary append would use (flat / identity value dirs / transform
  * value dirs). Updates arrive pre-split (delete + reinsert). Both
  * writers open lazily — a task that only deletes stages no data
  * file and vice versa. */
class IceLiteDeltaWriter(dataStageDir: String, delStageDir: String,
    fileName: String, rowSchema: StructType, partCols: Seq[String],
    spec: Seq[graft.icelite.PartitionField], timeZoneId: String)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private var posWriter: IceLiteDataWriter = _
  private var insertWriter: DataWriter[InternalRow] = _
  private val delRow = new GenericInternalRow(2)

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (posWriter == null)
      posWriter = new IceLiteDataWriter(delStageDir, fileName,
        Array(("file_path", StringType), ("pos", LongType)))
    // rowId projection order is rowId(): (_file string, _pos long)
    delRow.update(0, id.getUTF8String(0))
    delRow.update(1, id.getLong(1))
    posWriter.write(delRow)
  }

  override def insert(row: InternalRow): Unit = {
    if (insertWriter == null)
      insertWriter =
        if (spec.nonEmpty)
          new IceLiteTransformedDataWriter(dataStageDir, fileName,
            rowSchema, spec, timeZoneId)
        else if (partCols.nonEmpty)
          new IceLitePartitionedDataWriter(dataStageDir, fileName,
            rowSchema, partCols)
        else
          new IceLiteDataWriter(dataStageDir, fileName,
            rowSchema.fields.map(f => (f.name, f.dataType)))
    insertWriter.write(row)
  }

  /** Unused under representUpdateAsDeleteAndInsert — kept total for
    * the interface. */
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = { delete(meta, id); insert(row) }

  override def commit(): WriterCommitMessage = {
    val pos = Option(posWriter).map(_.commit()).collect {
      case IceLiteCommitMessage(n) if n != null => n
    }
    val data: Seq[String] = Option(insertWriter).map(_.commit()) match {
      case Some(IceLiteCommitMessage(n)) if n != null => Seq(n)
      case Some(IceLitePartitionedCommitMessage(fs)) => fs
      case _ => Nil
    }
    IceLiteDeltaCommitMessage(data, pos)
  }
  override def abort(): Unit = {
    Option(posWriter).foreach(_.abort())
    Option(insertWriter).foreach(_.abort())
  }
  override def close(): Unit = {
    Option(posWriter).foreach(_.close())
    Option(insertWriter).foreach(_.close())
  }
}

/** The write-layout contract shared by every IceLite batch write
  * (local append/overwrite, row-level replace, REST variants):
  * identity-partitioned targets CLUSTER rows by partition value (one
  * file per task × partition, d67); sorted targets RANGE-partition
  * and order on the sort key so appends land range-clustered with
  * tight disjoint stats (d54); flat targets impose nothing. */
private[graft] object IceLiteWriteLayout {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  /** The declared order as V2 sort expressions — the marker string
    * encodes a whole directed key list ("days(ts) DESC,k NULLS
    * LAST"; transform keys + null ordering since r14). Transform
    * keys become V2 transform expressions, resolved through the
    * catalog's FunctionCatalog exactly like d90's SPJ keys — the
    * bound functions ARE the write layout's derivations, so Spark's
    * pre-write sort clusters the same way the marker claims. */
  private def sortOrders(enc: String): Array[SortOrder] =
    graft.icelite.SortKey.parse(enc).map { k =>
      val expr: org.apache.spark.sql.connector.expressions.Expression =
        k.transform match {
          case None => Expressions.column(k.col)
          case Some(("bucket", n)) => Expressions.bucket(n, k.col)
          case Some(("truncate", w)) =>
            Expressions.apply(s"truncate$w", Expressions.column(k.col))
          case Some(("days", _)) => Expressions.days(k.col)
          case Some(("months", _)) => Expressions.months(k.col)
          case Some(("years", _)) => Expressions.years(k.col)
          case Some(("hours", _)) => Expressions.hours(k.col)
          case Some((t, _)) => throw new IllegalArgumentException(
            s"unknown sort transform '$t'")
        }
      val dir =
        if (k.asc) SortDirection.ASCENDING else SortDirection.DESCENDING
      (k.nullsFirst match {
        case None => Expressions.sort(expr, dir)
        case Some(nf) => Expressions.sort(expr, dir,
          if (nf) org.apache.spark.sql.connector.expressions
            .NullOrdering.NULLS_FIRST
          else org.apache.spark.sql.connector.expressions
            .NullOrdering.NULLS_LAST)
      }): SortOrder
    }.toArray

  def distributionFor(partCols: Seq[String],
      sortCol: Option[String]): Distribution =
    if (partCols.nonEmpty)
      Distributions.clustered(partCols.map(c =>
        Expressions.identity(c): org.apache.spark.sql.connector
          .expressions.Expression).toArray)
    else sortCol match {
      case Some(enc) => Distributions.ordered(sortOrders(enc))
      case None => Distributions.unspecified()
    }

  def orderingFor(partCols: Seq[String],
      sortCol: Option[String]): Array[SortOrder] = sortCol match {
    case Some(enc) if partCols.isEmpty => sortOrders(enc)
    case _ => Array.empty
  }
}

/** The write half of ReplaceData: stages rewritten rows like any
  * batch write, then commits ONE snapshot that removes the scanned
  * file groups and adds the staged files (IceLite.commitReplace —
  * concurrent appends rebase and survive; a concurrent rewrite of a
  * scanned file fails the statement loudly). A SORTED table asks
  * Spark to range-partition and sort the rewritten rows on the sort
  * key (RequiresDistributionAndOrdering), so the table's clustering
  * — and with it stats-pruning precision — survives the SQL rewrite
  * without a connector-side second pass. */
class IceLiteReplaceWrite(ref: TableRef, schema: StructType,
    op: IceLiteRowLevelOperation, opName: String)
  extends Write with BatchWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  private val token = java.util.UUID.randomUUID.toString.take(8)
  // the DECLARED order (d89) steers rewrites too — rewritten rows
  // land clustered the way the table wants new data to land
  private def sortedBy: Option[String] = IceLite.effectiveSortCol(ref)
  /** d69: identity partition columns — a partitioned rewrite stages
    * through Hive value dirs (the d67 writer) so the layout, and the
    * pruning it feeds, survives SQL UPDATE/MERGE/DELETE. */
  private val partCols: Seq[String] =
    IceLiteSource.resolveSnap(ref, None).partitionCols
  /** d56×d42: HIDDEN-PARTITION rewrites restage through the CURRENT
    * snapshot's transform spec (rewriteWhere parity) — the source
    * columns live in the data pages, so executors re-derive the
    * value dirs with the same bound Catalyst ops the d84 INSERT
    * writer uses, and the layout (and its pruning) survives SQL
    * DELETE/UPDATE/MERGE on a bucket/days/truncate table. */
  private val transformSpec: Seq[graft.icelite.PartitionField] =
    IceLiteSource.resolveSnap(ref, None).partitionSpec
  // session timezone at plan time: days() dirs must match the engine
  // API's date_format staging (same rule as IceLiteTransformedBatchWrite)
  private val tz = org.apache.spark.sql.SparkSession.active
    .sessionState.conf.sessionLocalTimeZone

  override def toBatch: BatchWrite = this
  override def description(): String = s"IceLiteReplaceWrite $opName ${ref.name}"

  override def requiredDistribution(): Distribution =
    if (transformSpec.nonEmpty)
      // cluster by the SOURCE columns (same rationale as the d84
      // append path: same source value ⇒ same derived dir, bounded
      // per-task dir writers, no FunctionCatalog registration needed)
      Distributions.clustered(transformSpec.map(_.sourceCol).distinct
        .map(c => Expressions.identity(c): org.apache.spark.sql
          .connector.expressions.Expression).toArray)
    else IceLiteWriteLayout.distributionFor(partCols, sortedBy)
  override def requiredOrdering(): Array[SortOrder] =
    if (transformSpec.nonEmpty) Array.empty
    else IceLiteWriteLayout.orderingFor(partCols, sortedBy)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // the preserve flags on _file are off, so the rewrite writes pure
    // table columns — if this ever trips, the metadata-column flags
    // regressed and the rewrite would bake `_file` into the data
    require(!schema.fieldNames.contains("_file"),
      s"row-level $opName write schema leaked the _file metadata column")
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    if (transformSpec.nonEmpty)
      new IceLiteTransformedWriterFactory(
        ref.dataDir.resolve(token).toString, schema, transformSpec, tz)
    else if (partCols.nonEmpty)
      new IceLitePartitionedWriterFactory(
        ref.dataDir.resolve(token).toString, schema, partCols)
    else
      new IceLiteWriterFactory(ref.dataDir.resolve(token).toString,
        schema.fields.map(f => (f.name, f.dataType)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // d60: a row-level rewrite during a WAP session would mutate MAIN
    // while the audit looks at the branch — refuse rather than route
    // (branch-based copy-on-write is not supported; publish or unset)
    require(org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.wap.branch").forall(_.isEmpty),
      s"spark.wap.branch is set — $opName would rewrite main during " +
        "an audit session; publish/drop the branch or unset the conf")
    val removed = op.scannedFiles.getOrElse(throw new IllegalStateException(
      s"row-level $opName write committed before its scan planned files"))
    val staged: Seq[String] =
      if (partCols.nonEmpty || transformSpec.nonEmpty) {
        // identity AND transform writers stage under value dirs; the
        // same promotion moves both (value paths are value paths)
        val rels = messages.collect {
          case IceLitePartitionedCommitMessage(fs) => fs
        }.flatten.toSeq
        IceLite.promoteStagedPartitioned(ref, token, rels)
      } else messages.collect {
        case IceLiteCommitMessage(name) if name != null => s"data/$token/$name"
      }.toSeq.sorted
    if (removed.isEmpty && staged.isEmpty) ()  // nothing matched, nothing inserted
    else commitReplaced(removed.toSet, staged)
  }

  /** The single metadata commit of the rewrite — swap the scanned
    * groups for the staged files. The REST attachment overrides this
    * to route the SAME swap through the catalog service's commit
    * protocol (staging and promotion above are data-plane and stay
    * client-side). */
  protected def commitReplaced(removed: Set[String], staged: Seq[String]): Unit =
    IceLite.commitReplace(ref, removed, staged, opName)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir)) {
      IceLite.listDir(java.nio.file.Files.list(dir))(_.toSeq)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}

/** Write side of the connector (d26): `df.write.format(...)
  * .mode("append"|"overwrite").save(<table dir>)`. Append plans
  * `AppendData`; overwrite requires TRUNCATE and replaces the table
  * in the same snapshot that adds the new files. The target table
  * must exist (path-based V2 providers have no catalog to register a
  * creation in — IceLite.createOrReplace is the create path, as the
  * REST catalog is for Iceberg). */
class IceLiteWriteBuilder(ref: TableRef, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, Filter}

  private var replace = false
  // d67: static partition overwrite — conjunctive partition equalities
  private var overwriteEq: Option[Map[String, String]] = None
  private var dynamic = false
  override def truncate(): WriteBuilder = { replace = true; this }

  /** d67: `INSERT OVERWRITE t PARTITION (c=v, …)` (static mode) —
    * Spark hands the partition spec as v1 equality filters. AlwaysTrue
    * (no PARTITION clause) degrades to truncate; anything this source
    * cannot guarantee file-granular (non-equality, non-partition
    * columns — validated at commit) refuses loudly rather than
    * over- or under-deleting. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) { replace = true; this }
    else {
      val eq = filters.toSeq.map {
        case EqualTo(c, v) => c -> String.valueOf(v)
        case EqualNullSafe(c, v) if v != null => c -> String.valueOf(v)
        case other => throw new UnsupportedOperationException(
          s"icelite INSERT OVERWRITE supports partition equality " +
            s"filters only, got $other")
      }.toMap
      overwriteEq = Some(eq)
      this
    }
  }

  /** d67: dynamic partition overwrite (`spark.sql.sources.
    * partitionOverwriteMode=dynamic`) — replace exactly the
    * partitions the incoming rows touch. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  override def build(): Write = new Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    /** Identity partition columns the WRITE must use (empty = flat) —
      * the declared layout when a d83 spec evolution is pending,
      * the current snapshot's otherwise. */
    private val partCols: Seq[String] =
      if (!IceLite.tableExists(ref)) Nil
      else IceLite.readManifest(ref).writeLayoutCols

    /** d84: hidden-partition (transform, d56) layout — SQL writes
      * derive the value dirs per row with the same Catalyst ops the
      * engine API uses. The DECLARED spec when a d85 evolution is
      * pending (flat→transform included), the current snapshot's
      * otherwise. Static/dynamic PARTITION overwrites refuse: a
      * PARTITION clause names DERIVED values hidden partitioning
      * exists to hide (Iceberg's rule too — you overwrite by
      * predicate, not by derived dir). */
    private val transformSpec: Seq[graft.icelite.PartitionField] =
      if (!IceLite.tableExists(ref)) Nil
      else IceLite.readManifest(ref).writeLayoutSpec

    locally {
      if (transformSpec.nonEmpty) {
        require(overwriteEq.isEmpty && !dynamic,
          s"${ref.name} is hidden-partitioned — a PARTITION clause " +
            "names derived values the transforms exist to hide; " +
            "INSERT INTO appends, plain INSERT OVERWRITE truncates")
        transformSpec.foreach(f => require(
          !info.schema().fieldNames.contains(f.name),
          s"derived partition name '${f.name}' collides with a " +
            "written column"))
      }
      require(partCols.nonEmpty || (overwriteEq.isEmpty && !dynamic),
        s"${ref.name} is not partitioned — partition overwrite does " +
          "not apply (plain INSERT OVERWRITE truncates)")
    }

    /** d54: a SORTED table asks Spark to range-partition and sort the
      * incoming rows on its sort key, so every INSERT INTO / append
      * lands as range-clustered files with tight disjoint stats and
      * the table KEEPS its `sortedBy` layout marker (and with it
      * stats-pruning precision and layout-preserving rewrites) —
      * Iceberg's write.distribution-mode=range on the SQL write path.
      * A DECLARED order (d89 WRITE ORDERED BY) steers writes the same
      * way from the flip onward — the snapshot marker itself lands
      * only when compact() proves the whole table. */
    private val sortCol: Option[String] =
      if (IceLite.tableExists(ref)) IceLite.effectiveSortCol(ref)
      else None

    override def requiredDistribution(): Distribution =
      if (transformSpec.nonEmpty)
        // cluster by the SOURCE columns: same source value ⇒ same
        // derived dir, so each task opens a bounded set of dir
        // writers. Coarser than clustering by the derived value (a
        // bucket dir can collect files from several tasks — normal
        // maintenance compaction absorbs them), but it needs no
        // FunctionCatalog registration for Spark to resolve
        Distributions.clustered(transformSpec.map(_.sourceCol).distinct
          .map(c => Expressions.identity(c): org.apache.spark.sql
            .connector.expressions.Expression).toArray)
      else IceLiteWriteLayout.distributionFor(partCols, sortCol)
    override def requiredOrdering(): Array[SortOrder] =
      if (transformSpec.nonEmpty) Array.empty
      else IceLiteWriteLayout.orderingFor(partCols, sortCol)

    override def toBatch: BatchWrite =
      if (transformSpec.nonEmpty)
        new IceLiteTransformedBatchWrite(ref, info.schema(), transformSpec,
          replace)
      else if (partCols.nonEmpty) {
        import graft.icelite.PartitionedWriteMode._
        val mode =
          if (dynamic) ReplaceDynamic
          else overwriteEq.map(ReplaceWhere(_))
            .getOrElse(if (replace) ReplaceAll else Append)
        new IceLitePartitionedBatchWrite(ref, info.schema(), partCols, mode)
      } else
        new IceLiteBatchWrite(ref, info.schema(), replace,
          clustered = sortCol.isDefined)
    override def toStreaming: StreamingWrite = {
      require(!replace,
        "icelite streaming sink is append-only (complete/truncate modes " +
          "would replace the table every epoch)")
      require(transformSpec.isEmpty,
        s"${ref.name} is hidden-partitioned — the streaming sink does " +
          "not derive transform dirs; write through a foreachBatch " +
          "calling IceLite.appendTransformed")
      if (partCols.nonEmpty)
        // s21: streaming fanout into an identity-partitioned table —
        // each epoch's rows land in their Hive value dirs, one CAS
        // append snapshot per epoch with the exactly-once marker
        new IceLitePartitionedStreamingWrite(ref, info.schema(), partCols)
      else new IceLiteStreamingWrite(ref, info.schema())
    }
    override def description(): String =
      s"IceLiteWrite ${ref.name} " +
        (if (dynamic) "overwrite-dynamic"
         else if (overwriteEq.isDefined) s"overwrite-${overwriteEq.get}"
         else if (replace) "replace" else "append")
  }
}

/** d67: batch write for identity-partitioned tables — executors stage
  * Hive-layout files under `data/<token>/`, the driver's commit moves
  * them into `data/part/` (rename, zero bytes) and resolves the
  * overwrite mode in ONE CAS snapshot (IceLite.commitStagedPartitioned). */
class IceLitePartitionedBatchWrite(ref: TableRef, schema: StructType,
    partitionCols: Seq[String], mode: graft.icelite.PartitionedWriteMode)
  extends BatchWrite {
  private val token = java.util.UUID.randomUUID.toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    new IceLitePartitionedWriterFactory(
      ref.dataDir.resolve(token).toString, schema, partitionCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val wap = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.wap.branch").filter(_.nonEmpty)
    val files = messages.collect {
      case IceLitePartitionedCommitMessage(fs) => fs
    }.flatten.toSeq
    import graft.icelite.PartitionedWriteMode.Append
    wap match {
      case Some(branch) =>
        // d60×d67: WAP routing for partitioned APPENDS — the staged
        // files promote into their value dirs (invisible: no snapshot
        // references them until the branch commit) and the branch
        // snapshot carries the partition layout. Overwrites cannot be
        // staged (same rule as the flat sink: publish is a
        // fast-forward, a truncate-under-audit would hide the
        // destructive part until publish).
        require(mode == Append,
          "spark.wap.branch is set — INSERT OVERWRITE cannot be staged " +
            "to a WAP branch; unset the conf to overwrite")
        if (files.nonEmpty) {
          val moved = IceLite.promoteStagedPartitioned(ref, token, files)
          IceLite.commitStagedToBranch(ref, branch, moved,
            keepSorted = false); ()
        }
      case None =>
        if (files.nonEmpty || mode != Append) {
          IceLite.commitStagedPartitioned(ref, token, files, mode); ()
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir))
      IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
  }
}

case class IceLiteCommitMessage(fileName: String) extends WriterCommitMessage

/** Executors stage one parquet file per non-empty input partition
  * under data/<token>/ (the same staging layout IceLite's own writers
  * use — pre-commit files are invisible to readers and reclaimable by
  * orphan GC if the job dies); the driver's commit() turns the staged
  * set into ONE CAS manifest snapshot, so concurrent appends rebase
  * rather than clobber and a reader never sees a partial write. File
  * stats come from the parquet footers at commit (no second scan). */
class IceLiteBatchWrite(ref: TableRef, schema: StructType, replace: Boolean,
    clustered: Boolean = false)
  extends BatchWrite {
  private val token = java.util.UUID.randomUUID.toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    new IceLiteWriterFactory(ref.dataDir.resolve(token).toString,
      schema.fields.map(f => (f.name, f.dataType)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case IceLiteCommitMessage(name) if name != null => s"data/$token/$name"
    }.toSeq.sorted
    // d60: Iceberg's session-conf WAP routing — with `spark.wap.branch`
    // set, INSERT INTO stages its snapshot under the branch and main
    // does not move until `CALL system.publish_branch`. Appends only:
    // an overwrite cannot be "staged" (publish is a fast-forward of
    // main, and a truncate-under-audit would silently hide the
    // destructive part until publish) — refuse loudly instead.
    val wap = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.wap.branch").filter(_.nonEmpty)
    wap match {
      case Some(branch) =>
        require(!replace,
          "spark.wap.branch is set — INSERT OVERWRITE / truncate " +
            "cannot be staged to a WAP branch; unset the conf to overwrite")
        if (files.nonEmpty) {
          IceLite.commitStagedToBranch(ref, branch, files,
            keepSorted = clustered); ()
        }
      case None =>
        // `clustered`: Spark honored this write's range distribution +
        // sort requirement (d54), so the staged files are range-clustered
        // and the snapshot may KEEP the table's sortedBy layout marker
        if (files.nonEmpty || replace)
          IceLite.commitStaged(ref, files, replace, keepSorted = clustered)
        else ()  // empty append: no snapshot (nothing changed)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir)) {
      IceLite.listDir(java.nio.file.Files.list(dir))(_.toSeq)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}

class IceLiteWriterFactory(dir: String, fields: Array[(String, DataType)])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLiteDataWriter(dir, f"part-$partitionId%05d-$taskId.parquet", fields)
}

/** d67: files staged by one partitioned-write task, paths relative to
  * the staging token dir and carrying their Hive value dirs. */
case class IceLitePartitionedCommitMessage(files: Seq[String])
  extends WriterCommitMessage

/** d67: partitioned DSv2 writer — routes each row to the parquet file
  * of its partition-value tuple (`<token>/<a>=<v>/part-….parquet`),
  * writing DATA columns only (partition values live in the path, the
  * same contract as IceLite.stagePartitioned). The write requires a
  * CLUSTERED distribution on the partition columns, so a task
  * normally owns whole value tuples and the open-writer map stays at
  * a handful of entries — the shape that scales to thousands of
  * partitions without small-file spray. */
class IceLitePartitionedWriterFactory(stageDir: String,
    schema: StructType, partitionCols: Seq[String])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLitePartitionedDataWriter(stageDir,
      f"part-$partitionId%05d-$taskId.parquet", schema, partitionCols)
}

class IceLitePartitionedDataWriter(stageDir: String, fileName: String,
    schema: StructType, partitionCols: Seq[String])
  extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  private val partIdx: Array[Int] =
    partitionCols.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] = schema.fields.indices
    .filterNot(partIdx.contains(_)).toArray
  private val dataFields: Array[(String, DataType)] =
    dataIdx.map(i => (schema.fields(i).name, schema.fields(i).dataType))
  private val projected = new org.apache.spark.sql.catalyst
    .ProjectingInternalRow(
      StructType(dataIdx.map(schema.fields(_))), dataIdx.toIndexedSeq)

  private def dirOf(row: InternalRow): String =
    partitionCols.indices.map { j =>
      val i = partIdx(j)
      val v =
        if (row.isNullAt(i)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(
          row.get(i, schema.fields(i).dataType).toString)
      s"${partitionCols(j)}=$v"
    }.mkString("/")

  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, IceLiteDataWriter]

  override def write(row: InternalRow): Unit = {
    val dir = dirOf(row)
    val w = open.getOrElseUpdate(dir, {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(stageDir, dir))
      new IceLiteDataWriter(s"$stageDir/$dir", fileName, dataFields)
    })
    projected.project(row)
    w.write(projected)
  }

  override def commit(): WriterCommitMessage =
    IceLitePartitionedCommitMessage(open.toSeq.flatMap { case (dir, w) =>
      w.commit() match {
        case IceLiteCommitMessage(name) if name != null => Some(s"$dir/$name")
        case _ => None
      }
    })

  override def abort(): Unit = open.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** d84: batch write for HIDDEN-PARTITION (transform) tables — the
  * SQL face of d56. Executors derive each row's value dirs with the
  * same Catalyst ops `IceLite.transformExpr` declares, stage under
  * `data/<token>/<derived>=<v>/`, and the driver's commit promotes +
  * CAS-commits in one snapshot (IceLite.commitStagedTransformed). */
class IceLiteTransformedBatchWrite(ref: TableRef, schema: StructType,
    spec: Seq[graft.icelite.PartitionField], replace: Boolean)
  extends BatchWrite {
  private val token = java.util.UUID.randomUUID.toString.take(8)
  // capture the SESSION timezone at plan time: the days() dir string
  // must match what the engine API's date_format would stage
  private val tz = org.apache.spark.sql.SparkSession.active
    .sessionState.conf.sessionLocalTimeZone

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    new IceLiteTransformedWriterFactory(
      ref.dataDir.resolve(token).toString, schema, spec, tz)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    require(org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.wap.branch").forall(_.isEmpty),
      "spark.wap.branch is set — hidden-partition writes cannot be " +
        "staged to a WAP branch; unset the conf")
    val files = messages.collect {
      case IceLitePartitionedCommitMessage(fs) => fs
    }.flatten.toSeq
    if (files.nonEmpty || replace) {
      IceLite.commitStagedTransformed(ref, token, files, replace); ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir))
      IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
  }
}

class IceLiteTransformedWriterFactory(stageDir: String,
    schema: StructType, spec: Seq[graft.icelite.PartitionField],
    timeZoneId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLiteTransformedDataWriter(stageDir,
      f"part-$partitionId%05d-$taskId.parquet", schema, spec, timeZoneId)
}

/** Per-task transform writer: evaluates the spec's derived values
  * with BOUND Catalyst expressions (bucket = pmod(murmur3-seed-42, N),
  * days = session-tz yyyy-MM-dd, truncate = leading substring —
  * exactly `IceLite.transformExpr`, so SQL writes and engine-API
  * writes land byte-compatible dirs, null source ⇒ Hive default dir
  * for days/truncate and a REAL bucket for bucket, murmur3-of-null
  * semantics included). The FULL row lands in the data pages — hidden
  * partitioning keeps source columns in the file; only the derived
  * names live in the path. */
class IceLiteTransformedDataWriter(stageDir: String, fileName: String,
    schema: StructType, spec: Seq[graft.icelite.PartitionField],
    timeZoneId: String) extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions._

  private val allFields: Array[(String, DataType)] =
    schema.fields.map(f => (f.name, f.dataType))

  private val outTypes: Array[DataType] = spec.map { f =>
    f.transform match {
      case "bucket" => IntegerType: DataType
      case _ => StringType: DataType
    }
  }.toArray

  private val proj: Projection = {
    val exprs: Seq[Expression] = spec.map { f =>
      val i = schema.fieldIndex(f.sourceCol)
      val bound = BoundReference(i, schema.fields(i).dataType,
        schema.fields(i).nullable)
      // no analyzer runs over hand-bound expressions, so insert the
      // casts ImplicitCastInputTypes would have (date/string → a
      // timestamp for days; anything → string for truncate) — the
      // DataFrame path in IceLite.transformExpr gets these for free
      def tsFmt(pattern: String) = {
        val ts =
          if (bound.dataType == TimestampType) bound
          else Cast(bound, TimestampType, Some(timeZoneId))
        DateFormatClass(ts, Literal(pattern), Some(timeZoneId))
      }
      f.transform match {
        case "bucket" => Pmod(new Murmur3Hash(Seq(bound)), Literal(f.param))
        case "days" => tsFmt("yyyy-MM-dd")
        case "years" => tsFmt("yyyy")
        case "months" => tsFmt("yyyy-MM")
        case "hours" => tsFmt("yyyy-MM-dd-HH")
        case "truncate" =>
          val s =
            if (bound.dataType == StringType) bound
            else Cast(bound, StringType, Some(timeZoneId))
          Substring(s, Literal(1), Literal(f.param))
        case t => throw new IllegalArgumentException(
          s"unknown partition transform '$t' " +
            "(bucket | years | months | days | hours | truncate)")
      }
    }
    UnsafeProjection.create(exprs)
  }

  private def dirOf(row: InternalRow): String = {
    val d = proj(row)
    spec.indices.map { j =>
      val v =
        if (d.isNullAt(j)) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(
          d.get(j, outTypes(j)).toString)
      s"${spec(j).name}=$v"
    }.mkString("/")
  }

  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, IceLiteDataWriter]

  override def write(row: InternalRow): Unit = {
    val dir = dirOf(row)
    val w = open.getOrElseUpdate(dir, {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(stageDir, dir))
      new IceLiteDataWriter(s"$stageDir/$dir", fileName, allFields)
    })
    w.write(row)
  }

  override def commit(): WriterCommitMessage =
    IceLitePartitionedCommitMessage(open.toSeq.flatMap { case (dir, w) =>
      w.commit() match {
        case IceLiteCommitMessage(name) if name != null => Some(s"$dir/$name")
        case _ => None
      }
    })

  override def abort(): Unit = open.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** Streaming sink face of the connector (s15): `df.writeStream
  * .format(...)` plans each micro-batch through this write — the
  * epoch's staged files become ONE CAS append snapshot whose summary
  * records the epoch id, so data and exactly-once marker commit
  * atomically (the same contract s07 builds by hand in foreachBatch,
  * and Iceberg's own Spark streaming sink provides). A REPLAYED epoch
  * (crash between sink commit and checkpoint advance) is detected
  * from the summary and its re-staged files are dropped instead of
  * committed — at-least-once delivery from Spark, exactly-once in the
  * table. Committed epoch ids are cached per query run and reseeded
  * from the manifest on restart; single-writer per table, like every
  * streaming sink. Append-only: complete/truncate modes are refused
  * at build time. */
class IceLiteStreamingWrite(ref: TableRef, schema: StructType)
  extends StreamingWrite {
  import IceLiteStreamingWrite.EpochKey
  private val token = java.util.UUID.randomUUID.toString.take(8)

  /** Epochs already in the table, seeded lazily from the manifest
    * (the durable record) on first commit of this run. */
  private lazy val committed: java.util.Set[java.lang.Long] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    if (IceLite.tableExists(ref))
      IceLite.readManifest(ref).snapshots
        .flatMap(_.summary.get(EpochKey)).foreach(e => s.add(e.toLong))
    s
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    new IceLiteStreamingWriterFactory(ref.dataDir.resolve(token).toString,
      schema.fields.map(f => (f.name, f.dataType)))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case IceLiteCommitMessage(name) if name != null => s"data/$token/$name"
    }.toSeq.sorted
    if (committed.contains(epochId)) {
      // replayed epoch: the data already landed — drop the restage
      files.foreach(f => java.nio.file.Files.deleteIfExists(ref.dir.resolve(f)))
    } else if (files.nonEmpty) {
      IceLite.commitStaged(ref, files, truncate = false,
        summary = Map(EpochKey -> epochId.toString))
      committed.add(epochId)
    } // empty epoch: nothing to commit, replay is vacuously idempotent
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case IceLiteCommitMessage(name) if name != null =>
        java.nio.file.Files.deleteIfExists(ref.dataDir.resolve(token).resolve(name))
      case _ => ()
    }
}

object IceLiteStreamingWrite {
  /** Same summary key the foreachBatch sink (s07) uses — one uniform
    * exactly-once marker convention across both sink styles. */
  val EpochKey = "streaming.batch_id"
}

/** s21: streaming sink face for IDENTITY-PARTITIONED tables — the
  * Iceberg "fanout" streaming write. Executors route each epoch's
  * rows into Hive value dirs under `data/<token>/` (the d67 writer);
  * the driver promotes them into `data/part/` and commits ONE CAS
  * append snapshot per epoch carrying the exactly-once marker, so a
  * replayed epoch (crash between sink commit and checkpoint advance)
  * is detected and its restage dropped — the same contract as the
  * flat sink, now with the partition layout (and the pruning it
  * feeds) intact from the first micro-batch. */
class IceLitePartitionedStreamingWrite(ref: TableRef, schema: StructType,
    partitionCols: Seq[String]) extends StreamingWrite {
  import IceLiteStreamingWrite.EpochKey
  private val token = java.util.UUID.randomUUID.toString.take(8)

  private lazy val committed: java.util.Set[java.lang.Long] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    if (IceLite.tableExists(ref))
      IceLite.readManifest(ref).snapshots
        .flatMap(_.summary.get(EpochKey)).foreach(e => s.add(e.toLong))
    s
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
    new IceLitePartitionedStreamingWriterFactory(
      ref.dataDir.resolve(token).toString, schema, partitionCols)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rels = messages.collect {
      case IceLitePartitionedCommitMessage(fs) => fs
    }.flatten.toSeq
    if (committed.contains(epochId)) {
      // replayed epoch: the data already landed — drop the restage
      rels.foreach(r => java.nio.file.Files.deleteIfExists(
        ref.dataDir.resolve(token).resolve(r)))
      abort(epochId, Array.empty)
    } else if (rels.nonEmpty) {
      IceLite.commitStagedPartitioned(ref, token, rels,
        graft.icelite.PartitionedWriteMode.Append,
        summary = Map(EpochKey -> epochId.toString))
      committed.add(epochId)
    } // empty epoch: nothing to commit, replay is vacuously idempotent
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir))
      IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
  }
}

class IceLitePartitionedStreamingWriterFactory(stageDir: String,
    schema: StructType, partitionCols: Seq[String])
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stageDir))
    new IceLitePartitionedDataWriter(stageDir,
      f"part-e$epochId-$partitionId%05d-$taskId.parquet", schema, partitionCols)
  }
}

class IceLiteStreamingWriterFactory(dir: String,
    fields: Array[(String, DataType)]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // executor-side dir ensure (same machine in local mode; an object
    // store at scale, where prefixes need no creation)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    new IceLiteDataWriter(dir,
      f"part-e$epochId-$partitionId%05d-$taskId.parquet", fields)
  }
}

/** Group-materializing parquet writer over the projected primitive
  * types — the mirror of the read path's decoder. Empty partitions
  * commit no file (their would-be part file is deleted), so small
  * upstream fan-out never litters the table with 0-row files. */
class IceLiteDataWriter(dir: String, name: String,
    fields: Array[(String, DataType)]) extends DataWriter[InternalRow] {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  private val msgType: org.apache.parquet.schema.MessageType = {
    val b = Types.buildMessage()
    fields.foreach { case (n, dt) =>
      dt match {
        case LongType    => b.optional(INT64).named(n)
        case IntegerType => b.optional(INT32).named(n)
        case DoubleType  => b.optional(DOUBLE).named(n)
        case BooleanType => b.optional(BOOLEAN).named(n)
        case StringType  =>
          b.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(n)
        case TimestampType => // micros, matching Spark's internal repr
          b.optional(INT64).as(LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(n)
        case other => throw new UnsupportedOperationException(
          s"icelite sink writes primitive columns only, got $other for $n")
      }
    }
    b.named("spark_schema")
  }

  private val file = new java.io.File(dir, name)
  private val factory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(msgType)
  private val writer =
    org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new HPath(file.toString)).withType(msgType).build()
  private var rows = 0L
  private var closed = false

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < fields.length) {
      val (n, dt) = fields(i)
      if (!row.isNullAt(i)) dt match {
        case LongType      => g.append(n, row.getLong(i))
        case IntegerType   => g.append(n, row.getInt(i))
        case DoubleType    => g.append(n, row.getDouble(i))
        case BooleanType   => g.append(n, row.getBoolean(i))
        case StringType    => g.append(n, row.getUTF8String(i).toString)
        case TimestampType => g.append(n, row.getLong(i))
        case other => throw new UnsupportedOperationException(s"$other")
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  private def closeOnce(): Unit = if (!closed) { closed = true; writer.close() }

  override def commit(): WriterCommitMessage = {
    closeOnce()
    if (rows == 0L) { file.delete(); IceLiteCommitMessage(null) }
    else IceLiteCommitMessage(name)
  }
  override def abort(): Unit = { closeOnce(); file.delete(); () }
  override def close(): Unit = closeOnce()
}

/** The pushed-down shape of one aggregate a metadata-only scan can
  * answer: COUNT(*) from the snapshot row count, MIN/MAX from the
  * per-file ColStats ranges (d29 — Iceberg answers the same three
  * from its manifests without touching a data file). */
private[sources] sealed trait PushedAgg
private[sources] case object PushedCountStar extends PushedAgg
private[sources] final case class PushedMin(col: String) extends PushedAgg
private[sources] final case class PushedMax(col: String) extends PushedAgg

class IceLiteScanBuilder(ref: TableRef, schema: StructType,
    snapshotsPerTrigger: Int = Int.MaxValue,
    targetSplitBytes: Long = 128L * 1024 * 1024,
    asOf: Option[Long] = None,
    rowOp: Option[IceLiteRowLevelOpBase] = None,
    changelog: Boolean = false,
    streamRefresh: () => Unit = () => (),
    splitBytesExplicit: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = schema
  private var accepted: Array[Filter] = Array.empty
  private var bounds: Map[String, (Double, Double)] = Map.empty
  private var partFilters: Map[String, Set[String]] = Map.empty
  private var partNotNull: Set[String] = Set.empty
  /** r14: pushed STRING ranges over identity partition columns —
    * range file-pruning is row filtering on value-pure files, exactly
    * like equality (verdict task #5). */
  private var partRanges: Map[String, IceLiteSource.StrRange] = Map.empty
  /** r15: pushed ranges over INT/LONG-typed identity partition
    * columns — `year >= 2023`, the most common warehouse partition
    * predicate after equality. Dir values compare as parsed longs. */
  private var partNumRanges: Map[String, IceLiteSource.NumRange] = Map.empty
  /** Columns whose partition filters were CLAIMED fully handled —
    * consumers without a residual filter above them (the micro-batch
    * stream) must enforce these exactly or refuse. */
  private var claimedPartCols: Set[String] = Set.empty
  private var tfFilters: Map[String, Set[Any]] = Map.empty
  private var pushedAggs: Option[(Seq[String], Seq[PushedAgg])] = None

  private def num(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  private def isPartCol(c: String): Boolean =
    currentSnap.partitionCols.contains(c)

  /** Columns some HIDDEN-PARTITION transform derives from — pushed
    * equality/IN on them prunes derived dirs (Iceberg's scan does the
    * same mapping; without it a bucket(user_id) table scanned every
    * bucket for `WHERE user_id = k` through SQL while the engine-API
    * read pruned). */
  private def isTfSource(c: String): Boolean =
    currentSnap.partitionSpec.exists(_.sourceCol == c)

  /** Coerce a pushed literal to the COLUMN's native type before the
    * bucket hash (Murmur3 of an Integer ≠ of a Long — a mistyped
    * literal would silently prune the WRONG bucket). Unknown shapes
    * return None and the filter simply isn't used for pruning. */
  private def tfCoerce(c: String, v: Any): Option[Any] =
    (typeOf(c), v) match {
      case (_, null) => None
      case (Some(LongType), n: Number) => Some(n.longValue())
      case (Some(IntegerType), n: Number) => Some(n.intValue())
      case (Some(DoubleType), n: Number) => Some(n.doubleValue())
      case (Some(StringType), s) => Some(s.toString)
      case (Some(TimestampType), t) => Some(t) // Instant/Timestamp as-is
      case (Some(DateType), d) => Some(d)
      case _ => None
    }

  private def tfEq(col: String, vs: Set[Any]): Unit =
    tfFilters += col -> tfFilters.get(col).map(_.intersect(vs)).getOrElse(vs)

  /** Day-granularity ranges over TIME-transform source columns —
    * `WHERE ts >= X AND ts < Y` prunes year/month/day/hour dirs (the
    * "scan last quarter" shape; bounds are conservative to the whole
    * day, the residual filter keeps rows exact). */
  private var tfRanges: Map[String, (String, String)] = Map.empty

  private def hasTimeTransform(c: String): Boolean =
    currentSnap.partitionSpec.exists(f => f.sourceCol == c &&
      Set("years", "months", "days", "hours").contains(f.transform))

  /** The session-zone day string of a pushed temporal literal. */
  private def dayOf(v: Any): Option[String] = v match {
    case i: java.time.Instant =>
      val zone = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone
      Some(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
        .withZone(java.time.ZoneId.of(zone)).format(i))
    // java.sql.Timestamp.toString renders in the JVM DEFAULT zone; the
    // dirs were derived in the SESSION zone — go through the instant
    // (the toString shortcut offset day dirs whenever the zones differ)
    case t: java.sql.Timestamp =>
      val zone = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone
      Some(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
        .withZone(java.time.ZoneId.of(zone)).format(t.toInstant))
    case d: java.time.LocalDate => Some(d.toString)
    case d: java.sql.Date => Some(d.toString)
    case s: String if s.matches("\\d{4}-\\d{2}-\\d{2}.*") => Some(s.take(10))
    case _ => None
  }

  private def tfRange(col: String, lo: Option[String], hi: Option[String]): Unit = {
    val (l0, h0) = tfRanges.getOrElse(col, ("0000-00-00", "9999-99-99"))
    tfRanges += col -> (
      lo.filter(_ > l0).getOrElse(l0), hi.filter(_ < h0).getOrElse(h0))
  }

  /** Accept numeric range predicates (stats pruning) and string
    * equality / IN over PARTITION columns (path pruning — Iceberg's
    * identity-partition predicate pushdown); EVERYTHING stays
    * residual (we return the full array), so accepted filters only
    * ever skip whole files, never rows. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def tighten(col: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(col,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds += col -> (math.max(l0, lo), math.min(h0, hi))
    }
    def partEq(col: String, vs: Set[String]): Unit =
      partFilters += col -> partFilters.get(col).map(_.intersect(vs)).getOrElse(vs)
    def partRange(col: String, r: IceLiteSource.StrRange): Unit =
      partRanges += col -> partRanges.get(col)
        .map(IceLiteSource.strRangeIntersect(_, r)).getOrElse(r)
    def partNumRange(col: String, r: IceLiteSource.NumRange): Unit =
      partNumRanges += col -> partNumRanges.get(col)
        .map(IceLiteSource.numRangeIntersect(_, r)).getOrElse(r)
    // r15: an integral literal pushed against an INT/LONG-TYPED
    // identity partition column (the d68/DDL-created table shape —
    // string partition columns take the r13/r14 paths above). Gated
    // on every dir value being the literal's CANONICAL rendering, so
    // dir comparison IS value comparison; anything else (a migrated
    // "02023" dir) declines to the generic stats path.
    def intLit(v: Any): Option[Long] = v match {
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Long => Some(n.longValue())
      case n: java.lang.Short => Some(n.longValue())
      case n: java.lang.Byte => Some(n.longValue())
      case _ => None
    }
    def intPart(c: String): Boolean =
      isPartCol(c) && typeOf(c).exists(t =>
        t == IntegerType || t == LongType) && intDirsCanonical(c)
    accepted = filters.filter {
      // time-transform dir ranges first (GT stays day-inclusive at
      // its bound — conservative; LT likewise keeps the boundary day)
      case GreaterThan(c, v) if hasTimeTransform(c) && dayOf(v).isDefined =>
        tfRange(c, dayOf(v), None); true
      case GreaterThanOrEqual(c, v) if hasTimeTransform(c) && dayOf(v).isDefined =>
        tfRange(c, dayOf(v), None); true
      case LessThan(c, v) if hasTimeTransform(c) && dayOf(v).isDefined =>
        tfRange(c, None, dayOf(v)); true
      case LessThanOrEqual(c, v) if hasTimeTransform(c) && dayOf(v).isDefined =>
        tfRange(c, None, dayOf(v)); true
      // r14: STRING ranges on identity partition columns prune whole
      // value dirs (and compose with the metadata fold — the claim
      // logic below). Ordered before the numeric cases so a string
      // bound on a partition column is not silently dropped there.
      case GreaterThan(c, v: String) if isPartCol(c) =>
        partRange(c, (Some((v, false)), None)); true
      case GreaterThanOrEqual(c, v: String) if isPartCol(c) =>
        partRange(c, (Some((v, true)), None)); true
      case LessThan(c, v: String) if isPartCol(c) =>
        partRange(c, (None, Some((v, false)))); true
      case LessThanOrEqual(c, v: String) if isPartCol(c) =>
        partRange(c, (None, Some((v, true)))); true
      // r15: TYPED ranges/equality on int/long identity partition
      // columns prune value dirs by PARSED comparison (lexicographic
      // would order "10" < "9") and claim exact under the same
      // uniformly-path-borne rule as strings
      case GreaterThan(c, v) if intPart(c) && intLit(v).isDefined =>
        partNumRange(c, (Some((intLit(v).get, false)), None)); true
      case GreaterThanOrEqual(c, v) if intPart(c) && intLit(v).isDefined =>
        partNumRange(c, (Some((intLit(v).get, true)), None)); true
      case LessThan(c, v) if intPart(c) && intLit(v).isDefined =>
        partNumRange(c, (None, Some((intLit(v).get, false)))); true
      case LessThanOrEqual(c, v) if intPart(c) && intLit(v).isDefined =>
        partNumRange(c, (None, Some((intLit(v).get, true)))); true
      case EqualTo(c, v) if intPart(c) && intLit(v).isDefined =>
        partEq(c, Set(intLit(v).get.toString)); true
      case In(c, vs) if intPart(c) && vs.nonEmpty &&
          vs.forall(intLit(_).isDefined) =>
        partEq(c, vs.map(intLit(_).get.toString).toSet); true
      case GreaterThan(c, v) => num(v).exists { d => tighten(c, d, Double.PositiveInfinity); true }
      case GreaterThanOrEqual(c, v) => num(v).exists { d => tighten(c, d, Double.PositiveInfinity); true }
      case LessThan(c, v) => num(v).exists { d => tighten(c, Double.NegativeInfinity, d); true }
      case LessThanOrEqual(c, v) => num(v).exists { d => tighten(c, Double.NegativeInfinity, d); true }
      case EqualTo(c, v: String) if isPartCol(c) => partEq(c, Set(v)); true
      // IS NOT NULL on a partition column: null rows live in the Hive
      // null-sentinel dir, so dropping those dirs IS the filter
      case org.apache.spark.sql.sources.IsNotNull(c) if isPartCol(c) =>
        partNotNull += c; true
      // IS NULL is the dual (r14): keep ONLY the sentinel dirs —
      // every row there is null, so the pruning is the filter and it
      // claims exact on uniformly path-borne columns like equality
      case org.apache.spark.sql.sources.IsNull(c) if isPartCol(c) =>
        partEq(c, Set(org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME)); true
      case In(c, vs) if isPartCol(c) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        partEq(c, vs.map(_.asInstanceOf[String]).toSet); true
      // hidden-partition transform pruning: equality/IN on a SOURCE
      // column maps through bucket/truncate/time dirs (files whose
      // path lacks the dir are kept conservatively; the filter stays
      // residual like everything else here)
      case EqualTo(c, v) if isTfSource(c) && tfCoerce(c, v).isDefined =>
        tfEq(c, Set(tfCoerce(c, v).get))
        num(v).foreach(d => tighten(c, d, d))
        true
      case In(c, vs) if isTfSource(c) && vs.nonEmpty &&
          vs.forall(v => tfCoerce(c, v).isDefined) =>
        tfEq(c, vs.map(v => tfCoerce(c, v).get).toSet); true
      case EqualTo(c, v) => num(v).exists { d => tighten(c, d, d); true }
      case _ => false
    }
    // r13 (d37 completion): partition-column equality/IN over a
    // UNIFORMLY path-borne column is EXACT — every row of a kept file
    // carries the dir's value, so file pruning IS row filtering.
    // Returning those fully-handled (not residual) lets Spark attempt
    // aggregate pushdown under a partition predicate (the filtered
    // partition-stats read). Everything else stays residual. Scoped
    // out for changelog, row-level-operation and BOUNDED-trigger
    // streams. NOTE (ADVICE r13): a DEFAULT readStream (no
    // snapshotsPerTrigger option) passes this gate and its filters
    // ARE claimed — that is correct only because the same builder's
    // IceLiteMicroBatchStream.planInputPartitions enforces
    // claimedPartCols on every file delta (spec-pinned); keep the
    // two in lockstep.
    val plainBatch = !changelog && rowOp.isEmpty &&
      snapshotsPerTrigger == Int.MaxValue
    claimedPartCols =
      if (!plainBatch) Set.empty
      else (partFilters.keySet ++ partNotNull ++ partRanges.keySet ++
          partNumRanges.keySet)
        .filter(exactPartCol)
    filters.filterNot {
      case EqualTo(c, _: String) => plainBatch && exactPartCol(c)
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        plainBatch && exactPartCol(c)
      // r15: typed int/long partition predicates claim under the
      // same rule — the canonical-dir gate made dir comparison value
      // comparison, so pruning IS the row filter
      case EqualTo(c, v) if intPart(c) && intLit(v).isDefined =>
        plainBatch && exactPartCol(c)
      case In(c, vs) if intPart(c) && vs.nonEmpty &&
          vs.forall(intLit(_).isDefined) =>
        plainBatch && exactPartCol(c)
      case GreaterThan(c, v) if intPart(c) && intLit(v).isDefined =>
        plainBatch && exactPartCol(c)
      case GreaterThanOrEqual(c, v) if intPart(c) && intLit(v).isDefined =>
        plainBatch && exactPartCol(c)
      case LessThan(c, v) if intPart(c) && intLit(v).isDefined =>
        plainBatch && exactPartCol(c)
      case LessThanOrEqual(c, v) if intPart(c) && intLit(v).isDefined =>
        plainBatch && exactPartCol(c)
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        plainBatch && exactPartCol(c)
      case org.apache.spark.sql.sources.IsNull(c) =>
        plainBatch && exactPartCol(c)
      // r14: ranges claim exactly like equality — pruning by the
      // parsed dir value IS the row filter on value-pure files (the
      // sentinel dir is dropped by the pruning, matching SQL's
      // null-comparison semantics)
      case GreaterThan(c, _: String) => plainBatch && exactPartCol(c)
      case GreaterThanOrEqual(c, _: String) => plainBatch && exactPartCol(c)
      case LessThan(c, _: String) => plainBatch && exactPartCol(c)
      case LessThanOrEqual(c, _: String) => plainBatch && exactPartCol(c)
      case _ => false
    }
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** A partition column whose value is path-borne on EVERY current
    * file (no mid-evolution era) — the exactness precondition for
    * claiming its equality/IN filters fully handled. */
  private def exactPartCol(c: String): Boolean =
    isPartCol(c) && currentSnap.files.nonEmpty &&
      currentSnap.files.forall(f =>
        IceLiteSource.pathPartValues(f).contains(c))

  /** r15: every PRESENT dir value of `c` is a canonical integral
    * rendering (or the null sentinel) — the precondition for typed
    * int/long partition pruning and claims: only then does parsed
    * comparison agree with the values rows would carry. */
  private def intDirsCanonical(c: String): Boolean =
    currentSnap.files.nonEmpty && currentSnap.files.forall(f =>
      IceLiteSource.pathPartValues(f).get(c).forall(v =>
        v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME ||
        IceLiteSource.canonicalLong(v).isDefined))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (d29/d33): COUNT(*) / MIN / MAX with no
    * filter answer from the MANIFEST ALONE — zero data files planned.
    * Global: COUNT(*) is the snapshot row count; MIN/MAX fold the
    * per-file ColStats ranges. GROUPED (d33): a GROUP BY over
    * FILE-CONSTANT columns — every file's [min,max] stat for the
    * column collapses to a point, i.e. the files are value-pure the
    * way a partitioned/clustered ingest writes them — groups the
    * FILES by their stat values: per-group COUNT sums the manifest's
    * per-file record counts (`Snapshot.fileRows`), per-group MIN/MAX
    * folds within the group. This is Iceberg's partition-stats read:
    * `GROUP BY <partition col>` over a billion-file table from
    * driver-side metadata. Accepted columns are DOUBLE (stats are
    * stored as doubles — exact) or, for GROUP BY keys, LONG/INT
    * whose stat values are all integral below 2^53 (the double
    * round-trips exactly). Any gap — missing stat, non-pure file,
    * missing record count, other types — falls back to the normal
    * scan, so pushdown is never a correctness risk. Spark only
    * attempts aggregate pushdown when no post-scan filter remains,
    * and this source keeps every pushed filter residual — so a
    * filtered aggregate always takes the normal scan path. */
  private lazy val currentSnap = IceLiteSource.resolveSnap(ref, asOf)

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  private def typeOf(col: String): Option[DataType] =
    schema.fields.find(_.name == col).map(_.dataType)

  private def statsCovered(col: String): Boolean =
    typeOf(col).contains(DoubleType) &&
      currentSnap.files.nonEmpty &&
      currentSnap.files.forall(f =>
        currentSnap.fileStats.get(f).exists(_.exists(_.col == col)))

  /** A column every file is value-pure on: a PARTITION column (the
    * path carries one value per file by construction) or a
    * stats-pure column (stat min == max), typed so the double-stored
    * stat round-trips exactly. */
  private def groupable(col: String): Boolean =
    // d83: a mid-evolution partition col is NOT path-keyed on every
    // file — its metadata grouping would misfile the old era; decline
    // to the normal scan (which reads it via the per-file fallback).
    // A null-sentinel dir declines too (ADVICE r13): the fold's group
    // key would be the literal sentinel string while the row paths
    // decode it as SQL NULL — the real scan keeps the two faces equal
    (isPartCol(col) &&
      // r15: the fold's group key must parse to the DECLARED type —
      // string columns take the dir as-is; int/long need every dir
      // canonical-integral (previously an int-typed partition column
      // would have folded UTF8String keys into an int slot)
      (typeOf(col) match {
        case Some(StringType) => true
        case Some(IntegerType) | Some(LongType) => intDirsCanonical(col)
        case _ => false
      }) &&
      currentSnap.files.forall(f =>
      IceLiteSource.pathPartValues(f).get(col).exists(_ !=
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME))) || {
    def pointStats = currentSnap.files.forall { f =>
      currentSnap.fileStats.get(f).exists(_.exists(cs =>
        cs.col == col && cs.min == cs.max))
    }
    def integralPoints = currentSnap.files.forall { f =>
      currentSnap.fileStats.get(f).flatMap(_.find(_.col == col)).forall(cs =>
        cs.min == math.rint(cs.min) && math.abs(cs.min) <= (1L << 53).toDouble)
    }
    currentSnap.files.nonEmpty && (typeOf(col) match {
      case Some(DoubleType) => pointStats
      case Some(LongType) | Some(IntegerType) => pointStats && integralPoints
      case _ => false
    })
  }

  private def fileRowsComplete: Boolean =
    currentSnap.files.forall(currentSnap.fileRows.contains)

  private def translate(agg: Aggregation): Option[(Seq[String], Seq[PushedAgg])] =
    // MoR-live snapshots decline: manifest counts/stats describe the
    // PHYSICAL files, tombstoned/eq-deleted rows included — a
    // metadata-only answer would resurrect them (d50/d73). Pushed
    // DATA-column bounds decline too (stats select files, not rows).
    // Pushed PARTITION filters COMPOSE (r13, d37 completion): when
    // every filtered column is uniformly path-borne, the filter
    // selects exact value-pure files and the fold runs on the
    // filtered census — Iceberg's partition-stats read under a
    // partition predicate.
    if (bounds.nonEmpty || currentSnap.morLive) None
    else if ((partFilters.nonEmpty || partNotNull.nonEmpty ||
        partRanges.nonEmpty || partNumRanges.nonEmpty) &&
      !((partFilters.keys ++ partNotNull ++ partRanges.keys ++
          partNumRanges.keys)
          .forall(exactPartCol) &&
        fileRowsComplete)) None
    else {
      val groupCols: Seq[Option[String]] =
        agg.groupByExpressions.toSeq.map(colOf(_).filter(groupable))
      val grouped = groupCols.nonEmpty
      val specs: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
        // grouped or filtered COUNT needs the per-file record counts
        // in the manifest; the unfiltered global count reads the
        // snapshot total
        case _: CountStar
          if (!grouped && partFilters.isEmpty) || fileRowsComplete =>
          Some(PushedCountStar)
        case m: Min => colOf(m.column).filter(statsCovered).map(PushedMin)
        case m: Max => colOf(m.column).filter(statsCovered).map(PushedMax)
        case _ => None
      }
      if (specs.nonEmpty && specs.forall(_.isDefined) && groupCols.forall(_.isDefined))
        Some((groupCols.flatten, specs.flatten))
      else None
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete pushdown only: a partial (per-partition) answer from
    // one manifest would be no cheaper than the complete one
    pushedAggs = translate(agg)
    pushedAggs.isDefined
  }

  override def build(): Scan =
    if (changelog) new IceLiteCdcScan(ref, required, snapshotsPerTrigger, streamRefresh)
    else buildScan()

  private def buildScan(): Scan = pushedAggs match {
    case Some((groupCols, specs)) =>
      new IceLiteAggScan(ref, specs,
        groupCols.map(c => (c, typeOf(c).get, isPartCol(c))),
        // ADVICE r13: hand the scan the snapshot the CLAIMS were
        // validated on — re-resolving at execution would let a
        // concurrent commit between planning and execution slip a
        // file past the validated path-borne/fileRows preconditions
        // (silently dropped from the census, or a missing fileRows
        // entry throwing)
        currentSnap, partFilters, partNotNull, partRanges, partNumRanges)
    case None =>
      // normalize the projection to FILE-SCHEMA order (the vectorized
      // reader clips the parquet schema in file order, so readSchema
      // must line up positionally; Spark re-projects the user's
      // column order above the scan by name), with the PATH-BORNE
      // partition columns appended last — they come from the file
      // path, not the parquet pages — and the `_file` metadata
      // column (per-file constant, from the split) after those
      val emitFile = required.fieldNames.contains("_file")
      // r15: `_pos` — the physical row position within its file
      // (Iceberg's `_pos` metadata column). Projected by the delta
      // row-level path (SupportsDelta rowId = (_file, _pos)); the
      // reader already tracks physical positions for tombstone
      // skipping, so emission is a per-row slot, not a re-read.
      val emitPos = required.fieldNames.contains("_pos")
      // d73: an eq-live snapshot's readers anti-join rows on the
      // sidecars' KEY columns — those columns must be decoded even
      // when the projection dropped them, so the scan over-reads them
      // honestly (they appear in readSchema; Spark projects them away
      // above the scan). Post-compaction the over-read disappears.
      val eqKeyCols: Seq[String] =
        if (currentSnap.eqDeletes.isEmpty) Nil
        else {
          val kcs = currentSnap.eqDeletes.flatMap(_.keyCols).distinct
          kcs.foreach(c => require(schema.fieldNames.contains(c),
            s"equality-delete key column $c is no longer in " +
              s"${ref.name}'s schema — compact() before dropping or " +
              "renaming key columns"))
          kcs
        }
      val names = required.fieldNames.toSet - "_file" - "_pos" ++ eqKeyCols
      // d83: a partition column is PATH-BORNE for this scan only when
      // EVERY file's path carries it. Mid-evolution (mixed layouts),
      // the evolved column demotes to a DATA field: readers decode it
      // from old-era pages and fall back to the path value on
      // new-era files (the per-file fallback in the reader) — one
      // rule that covers both ADD and DROP eras.
      val uniformPathCols: Set[String] =
        if (currentSnap.partitionCols.isEmpty) Set.empty
        else currentSnap.partitionCols.filter(c =>
          currentSnap.files.forall(f =>
            IceLiteSource.pathPartValues(f).contains(c))).toSet
      val partProjected = currentSnap.partitionCols
        .filter(names.contains).filter(uniformPathCols.contains)
      val dataOrdered = schema.fields.filter(f =>
        names.contains(f.name) && !partProjected.contains(f.name))
      val ordered = StructType(dataOrdered ++
        partProjected.flatMap(c => schema.fields.find(_.name == c)) ++
        (if (emitFile) required.fields.filter(_.name == "_file") else Array.empty[StructField]) ++
        (if (emitPos) required.fields.filter(_.name == "_pos") else Array.empty[StructField]))
      val expected = names.size + (if (emitFile) 1 else 0) +
        (if (emitPos) 1 else 0)
      // the delta write validates its commit against the snapshot the
      // scan planned on (concurrent rewrites fail loudly)
      rowOp.foreach(_.scannedSnap = Some(currentSnap))
      new IceLiteScan(ref,
        if (ordered.length == expected) ordered else required,
        bounds, partFilters, partProjected, emitFile, emitPos, rowOp,
        currentSnap.partitionCols, currentSnap.deleteFiles,
        currentSnap.eqDeletes,
        snapshotsPerTrigger, targetSplitBytes, asOf, streamRefresh,
        tfFilters, tfRanges, splitBytesExplicit, partNotNull,
        claimedPartCols, partRanges, partNumRanges)
  }
}

/** Metadata-only scan: one synthetic input partition carrying the
  * aggregate rows resolved from the manifest — no parquet file is
  * ever opened. Global mode emits the single `count(*)/min/max` row;
  * grouped mode (d33) emits one row per distinct value tuple of the
  * file-constant GROUP BY columns, with per-group counts from the
  * manifest's per-file record counts. At 100 TB this turns `SELECT
  * part, count(*) ... GROUP BY part` over a billion-file table into
  * a driver-side manifest read, exactly Iceberg's manifest/
  * partition-stats aggregation. Spark's complete-pushdown contract
  * puts the GROUP BY columns FIRST in the scan output, aggregate
  * values after. */
class IceLiteAggScan(ref: TableRef, specs: Seq[PushedAgg],
    groupCols: Seq[(String, DataType, Boolean)] = Nil,
    // the BUILDER's resolved snapshot: the exact-claim preconditions
    // (uniformly path-borne filtered columns, complete fileRows) were
    // validated on THIS snapshot, so the fold must read this one —
    // never a re-resolve at execution time
    snap: Snapshot,
    partFilters: Map[String, Set[String]] = Map.empty,
    partNotNull: Set[String] = Set.empty,
    partRanges: Map[String, IceLiteSource.StrRange] = Map.empty,
    partNumRanges: Map[String, IceLiteSource.NumRange] = Map.empty)
  extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    groupCols.map { case (c, dt, _) => StructField(c, dt) } ++
    specs.map {
      case PushedCountStar => StructField("count_star", LongType, nullable = false)
      case PushedMin(c) => StructField(s"min_$c", DoubleType)
      case PushedMax(c) => StructField(s"max_$c", DoubleType)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"IceLiteAggScan ${ref.name} metadataOnly=${specs.mkString(",")}" +
      (if (groupCols.isEmpty) "" else s" groupBy=${groupCols.map(_._1).mkString(",")}")

  override def planInputPartitions(): Array[InputPartition] = {
    // r13: the pushed partition predicate filters the census BEFORE
    // the fold — exact, because the builder only composes filters on
    // uniformly path-borne columns (value-pure files)
    val census =
      if (partFilters.isEmpty && partNotNull.isEmpty && partRanges.isEmpty &&
          partNumRanges.isEmpty)
        snap.files
      else snap.files.filter { f =>
        val vals = IceLiteSource.pathPartValues(f)
        partFilters.forall { case (c, vs) => vals.get(c).exists(vs.contains) } &&
        partNotNull.forall(c => vals.get(c).forall(_ !=
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME)) &&
        // r14: pushed string ranges filter the census like equality
        // (null-sentinel dirs fail any range, SQL's null-comparison)
        partRanges.forall { case (c, r) => vals.get(c).exists(v =>
          v != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME && IceLiteSource.strInRange(v, r)) } &&
        // r15: typed int/long ranges compare the PARSED dir value —
        // the builder's canonical-dir gate guarantees parseability
        partNumRanges.forall { case (c, r) => vals.get(c).exists(v =>
          IceLiteSource.canonicalLong(v).exists(
            IceLiteSource.numInRange(_, r))) }
      }
    def stat(f: String, c: String): ColStats =
      snap.fileStats.get(f).flatMap(_.find(_.col == c)).getOrElse(
        throw new IllegalStateException(
          s"file $f of ${ref.name} lost its $c stats between pushdown and planning"))
    // explicit Any return: a bare match would weakly-conform the Long
    // count branch to Double alongside the min/max branches
    def value(files: Seq[String])(s: PushedAgg): Any = s match {
      case PushedCountStar =>
        // unfiltered global count reads the snapshot total (old
        // manifests: no fileRows); any filtered/grouped count sums
        // the census's per-file record counts
        if (groupCols.isEmpty && partFilters.isEmpty &&
            partNotNull.isEmpty && partRanges.isEmpty &&
            partNumRanges.isEmpty)
          snap.rowCount
        else files.map(snap.fileRows).sum
      // a filtered-to-empty GLOBAL min/max is NULL (SQL semantics);
      // grouped mode never sees an empty group (groups come from
      // the census itself)
      case PushedMin(c) =>
        if (files.isEmpty) null else files.map(stat(_, c).min).min
      case PushedMax(c) =>
        if (files.isEmpty) null else files.map(stat(_, c).max).max
    }
    def keyVal(f: String)(gc: (String, DataType, Boolean)): Any = gc match {
      case (c, dt, true) => // partition column: one value per file path
        val raw = IceLiteSource.pathPartValues(f)(c)
        dt match {
          // r15: typed partition group keys parse to the declared
          // type (the groupable gate admits int/long only when every
          // dir is canonical-integral)
          case IntegerType => raw.toInt
          case LongType => raw.toLong
          case _ => UTF8String.fromString(raw)
        }
      case (c, dt, false) =>
        val v = stat(f, c).min // min == max: file-constant by contract
        dt match {
          case LongType => v.toLong
          case IntegerType => v.toInt
          case _ => v
        }
    }
    val rows: Array[Array[Any]] =
      if (groupCols.isEmpty) Array(specs.map(value(census)).toArray)
      else census.groupBy(f => groupCols.map(keyVal(f)))
        .toArray.sortBy(_._1.mkString("\u0000"))
        .map { case (key, files) => (key ++ specs.map(value(files))).toArray }
    IceLiteSource.lastPlannedFiles = Nil
    IceLiteSource.lastScanMetadataOnly = true
    Array(IceLiteAggPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IceLiteAggReaderFactory
}

case class IceLiteAggPartition(rows: Array[Array[Any]]) extends InputPartition

class IceLiteAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[IceLiteAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow.fromSeq(rows(i).toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

class IceLiteScan(ref: TableRef, required: StructType,
    bounds: Map[String, (Double, Double)],
    partFilters: Map[String, Set[String]] = Map.empty,
    partFields: Seq[String] = Nil,
    emitFile: Boolean = false,
    emitPos: Boolean = false,
    rowOp: Option[IceLiteRowLevelOpBase] = None,
    partitionCols: Seq[String] = Nil,
    deleteFiles: Seq[String] = Nil,
    eqDeletes: Seq[graft.icelite.EqDelete] = Nil,
    snapshotsPerTrigger: Int = Int.MaxValue,
    targetSplitBytes: Long = 128L * 1024 * 1024,
    asOf: Option[Long] = None,
    streamRefresh: () => Unit = () => (),
    tfFilters: Map[String, Set[Any]] = Map.empty,
    tfRanges: Map[String, (String, String)] = Map.empty,
    splitBytesExplicit: Boolean = false,
    partNotNull: Set[String] = Set.empty,
    claimedPartCols: Set[String] = Set.empty,
    partRanges: Map[String, IceLiteSource.StrRange] = Map.empty,
    partNumRanges: Map[String, IceLiteSource.NumRange] = Map.empty)
  extends Scan with Batch
  with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  /** The columns decoded from parquet pages (partition columns come
    * from the file path; `_file` from the split). */
  private val dataFields = required.fields
    .filter(f => !partFields.contains(f.name) && f.name != "_file" &&
      f.name != "_pos")
    .map(f => (f.name, f.dataType))

  /** Runtime group filter (row-level COW path): the distinct `_file`
    * values Spark's group-filter subquery found matching rows in —
    * only those files are re-scanned and rewritten. None = no runtime
    * filter arrived (rewrite every candidate file: correct, wider). */
  private var runtimeKeep: Option[Set[String]] = None

  /** Runtime PARTITION filter (d45: dynamic partition pruning through
    * the connector): per-column value sets Spark's DPP subquery
    * collected from the filtered dim side of a join on the partition
    * column — whole partition dirs of the fact table are skipped at
    * execution time, Iceberg's runtime-filtering behavior on identity
    * partitions. Conjunctive with the statically pushed filters. */
  private var runtimePartKeep: Map[String, Set[String]] = Map.empty

  /** Runtime TRANSFORM filter: DPP values on a transformed SOURCE
    * column map through the derived dirs (Iceberg's runtime filtering
    * on hidden partitions) — a fact⋈dim join on the bucketed key
    * skips whole buckets, and a date-keyed star join on a days()/
    * months()-partitioned fact skips whole time dirs, at execution
    * time. Time-transform runtime literals arrive as epoch numbers
    * (micros / epoch-days); [[filter]] rehydrates them to instants via
    * the V2 literal's own dataType so the session-zone dir mapping in
    * transformAllowedSegs applies unchanged. At 100× this is the
    * difference between scanning one month of a date-partitioned fact
    * and scanning the whole table. */
  private lazy val tfSpecFields =
    IceLiteSource.resolveSnap(ref, asOf).partitionSpec
  private var runtimeTfKeep: Map[String, Set[Any]] = Map.empty

  /** Row-level scans filter on the `_file` group id; ordinary scans
    * of a partitioned table advertise the partition columns (the DPP
    * hook — Spark's PartitionPruning rule only considers columns
    * listed here) plus bucket/truncate transform SOURCE columns. */
  override def filterAttributes(): Array[NamedReference] =
    // only GROUP-BASED (copy-on-write) ops take the `_file` runtime
    // group filter; a delta (MoR) scan filters like a normal read
    if (rowOp.exists(_.isGroupBased)) Array(Expressions.column("_file"))
    else {
      // only columns THIS scan outputs: Spark's PartitionPruning rule
      // resolves these refs against the relation output and throws on
      // a projected-away column (bitten by d86's MERGE source scan,
      // which projects only the join key + _file)
      val out = required.fieldNames.toSet
      (partitionCols ++ tfSpecFields.map(_.sourceCol)).distinct
        .filter(out.contains).map(Expressions.column).toArray
    }

  override def filter(predicates: Array[Predicate]): Unit = {
    def colOf(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    // the NATIVE literal value (bucket hashes it — type must survive);
    // UTF8String unwraps to String, numerics stay as boxed primitives.
    // Temporal literals ride the wire as epoch numbers (micros since
    // epoch for timestamps, days for dates) — the literal's own
    // dataType disambiguates them from plain longs/ints, and the
    // rehydrated Instant/LocalDate is what the session-zone dir
    // mapping (transformAllowedSegs) understands.
    def litAny(e: V2Expression): Option[Any] = e match {
      case l: Literal[_] => Option(l.value).map { v =>
        (l.dataType(), v) match {
          case (_, u: UTF8String) => u.toString
          case (TimestampType, micros: java.lang.Long) =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .microsToInstant(micros)
          case (DateType, days: java.lang.Integer) =>
            java.time.LocalDate.ofEpochDay(days.toLong)
          case _ => v
        }
      }
      case _ => None
    }
    // (column, accepted value set) — only columns we can act on;
    // untranslatable predicates stay conservative (keep all files)
    val sets: Seq[(String, Set[Any])] = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name match {
        case "IN" if kids.nonEmpty =>
          for {
            c <- colOf(kids.head)
            vs = kids.tail.map(litAny)
            if vs.forall(_.isDefined)
          } yield c -> vs.flatten.toSet
        case "=" if kids.length == 2 =>
          for { c <- colOf(kids.head); v <- litAny(kids(1)) }
            yield c -> Set(v)
        case _ => None
      }
    }
    sets.foreach {
      case ("_file", vs) if rowOp.isDefined =>
        val strs = vs.map(_.toString)
        runtimeKeep = Some(runtimeKeep.fold(strs)(_ intersect strs))
      case (c, vs) if partitionCols.contains(c) =>
        val strs = vs.map(_.toString)
        runtimePartKeep += c ->
          runtimePartKeep.get(c).fold(strs)(_ intersect strs)
      case (c, vs) if tfSpecFields.exists(_.sourceCol == c) =>
        runtimeTfKeep += c ->
          runtimeTfKeep.get(c).fold(vs)(_ intersect vs)
      case _ => () // not a column this scan prunes on
    }
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(deleteFiles.isEmpty && eqDeletes.isEmpty,
      s"${ref.name} has live MoR delete sidecars — the streaming source's " +
        "baseline would resurrect deleted rows; compact() first")
    // s23: partitioned tables stream too — each new file's path-borne
    // partition values ride along as constant vectors, same as batch
    new IceLiteMicroBatchStream(ref, dataFields, snapshotsPerTrigger,
      partFields, streamRefresh, partFilters, partNotNull,
      claimedPartCols, partRanges, partNumRanges)
  }
  override def description(): String =
    s"IceLiteScan ${ref.name} prunedOn=${bounds.keys.toSeq.sorted.mkString(",")}" +
      (if (partFilters.isEmpty) ""
       else s" partPruned=${partFilters.keys.toSeq.sorted.mkString(",")}") +
      (if (tfFilters.isEmpty && tfRanges.isEmpty) ""
       else s" transformPruned=${(tfFilters.keySet ++ tfRanges.keySet)
         .toSeq.sorted.mkString(",")}")

  /** Statically pruned file list (manifest stats + pushed partition
    * equality) — what planning-time consumers (outputPartitioning)
    * may see; runtime filters narrow further at execution. LAZY VAL,
    * not def: planning consults it up to four times per pass
    * (transformKeyed twice, key count, statistics, split planning) —
    * each call re-read the manifest and re-filtered the whole file
    * list, and a concurrent commit between calls could make the
    * reported key count and the actual split grouping describe
    * DIFFERENT file sets. One resolution pins one snapshot per scan. */
  private lazy val staticPruned: Seq[String] = {
    val snap = IceLiteSource.resolveSnap(ref, asOf)
    val statsPruned =
      if (bounds.isEmpty) snap.files
      else IceLite.prunedFilesMulti(snap,
        bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) })
    // partition-value pruning (pushed string equality / IN): a file
    // is DROPPED only when its path carries a non-matching value —
    // the conjunction Iceberg evaluates against identity partitions.
    // A file whose path lacks the column (d83 mid-evolution old era)
    // is KEPT: its value lives in data pages and every pushed filter
    // stays residual, so rows still filter exactly.
    val identityPruned =
      if (partFilters.isEmpty && partNotNull.isEmpty && partRanges.isEmpty &&
          partNumRanges.isEmpty)
        statsPruned
      else statsPruned.filter { f =>
        val vals = IceLiteSource.pathPartValues(f)
        partFilters.forall { case (c, vs) => vals.get(c).forall(vs.contains) } &&
        // IS NOT NULL (r13): drop the Hive null-sentinel dirs — exact
        // for path-borne columns, conservative (keep) on dir-less files
        partNotNull.forall(c => vals.get(c).forall(_ !=
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME)) &&
        // r14: string ranges prune value dirs like equality; the
        // sentinel dir fails any range (SQL null-comparison), and
        // dir-less files keep conservatively (residual-backed)
        partRanges.forall { case (c, r) => vals.get(c).forall(v =>
          v != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME && IceLiteSource.strInRange(v, r)) } &&
        // r15: typed int/long ranges compare the PARSED dir value.
        // The push-time canonical-dir gate covered this snapshot's
        // files, so a present dir either parses or is the null
        // sentinel — both fail-closed here is exact (sentinel = SQL
        // null fails any range; nothing else can occur)
        partNumRanges.forall { case (c, r) => vals.get(c).forall(v =>
          IceLiteSource.canonicalLong(v)
            .exists(IceLiteSource.numInRange(_, r))) }
      }
    // hidden-partition transform pruning (pushed source-col equality
    // mapped through bucket/truncate/time dirs, day ranges through
    // each time dir's granularity prefix); dir-less files (a pre-spec
    // era) are kept conservatively — the residual filter keeps rows
    // exact either way
    if ((tfFilters.isEmpty && tfRanges.isEmpty) || snap.partitionSpec.isEmpty)
      identityPruned
    else {
      val zone = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone
      val bySource = snap.partitionSpec.groupBy(_.sourceCol)
      // an unmappable literal (None) declines pruning on that field —
      // keep-all, never a silent drop
      val eqConstraints = tfFilters.toSeq.flatMap { case (c, vs) =>
        bySource.getOrElse(c, Nil).flatMap(fld =>
          IceLite.transformAllowedSegs(fld, vs, zone).map(segs =>
            fld.name -> Left(segs)))
      }
      // ranges: prefix-compare at each dir's own granularity (the
      // engine's SourceDayRange rule)
      val rangeConstraints = tfRanges.toSeq.flatMap { case (c, (lo, hi)) =>
        bySource.getOrElse(c, Nil).collect {
          case fld if fld.transform == "days" || fld.transform == "hours" =>
            fld.name -> Right((lo, hi))
          case fld if fld.transform == "months" =>
            fld.name -> Right((lo.take(7), hi.take(7)))
          case fld if fld.transform == "years" =>
            fld.name -> Right((lo.take(4), hi.take(4)))
        }
      }
      val constraints = eqConstraints ++ rangeConstraints
      identityPruned.filter { f =>
        val segs = f.split('/').toSeq
        constraints.forall { case (name, c) =>
          segs.find(_.startsWith(s"$name=")).forall { seg =>
            c match {
              case Left(allowed) => allowed.contains(seg)
              case Right((lo, hi)) =>
                val v = seg.drop(name.length + 1)
                v.take(lo.length) >= lo && v.take(hi.length) <= hi
            }
          }
        }
      }
    }
  }

  /** d50: MoR position sidecars, resolved ONCE per scan over
    * [[staticPruned]] (the same pinning rule) — Spark calls
    * planInputPartitions two or three times per query on one scan
    * instance, and runtime filters only narrow the planned files, so
    * a fold keyed over the static set serves every call.
    * AT-OR-UNDER the driver-fold budget the sidecars fold to per-file
    * tombstone indexes on the driver with the shared parquet-mr
    * decoder: no Spark job, one Hadoop `Configuration` for the whole
    * fold (cheap and exact for CDC-sized sidecars). ABOVE it
    * positions never visit the driver: planning runs one distinct
    * (sidecar, file_path) census (O(touched files) rows) and each
    * split ships its files' matched sidecar paths + exact recorded
    * strings for the reader to load with the same decoder and a
    * parquet pushdown — the pre-compaction GDPR-erasure shape at
    * 100 TB stays executor-sized. Keys in both regimes are matched by
    * TABLE-RELATIVE suffix (matchStagedPath) and re-anchored at THIS
    * reader's table dir: the sidecar records the WRITER's absolute
    * path, and a REST attachment reads the same files under its spool
    * root — an absolute-path compare would silently drop every
    * tombstone there and deleted rows would resurface (found by
    * RestModelFuzzSpec seed 7 on its first run). */
  private lazy val posExecutorSide: Boolean =
    deleteFiles.nonEmpty && deleteFiles.map { f =>
      scala.util.Try(java.nio.file.Files.size(ref.dir.resolve(f)))
        .getOrElse(0L)
    }.sum > IceLiteSource.posFoldBytes

  private lazy val tombstonesByFile: Map[String, Array[Long]] =
    if (deleteFiles.isEmpty || posExecutorSide) Map.empty
    else IceLiteSource.foldPosDeletes(ref, deleteFiles, staticPruned)

  private lazy val posRefsByFile: Map[String, Seq[(String, String)]] =
    if (!posExecutorSide) Map.empty
    else {
      IceLiteSource.posExecutorPlans.incrementAndGet()
      IceLiteSource.posDeleteRefsByFile(ref, deleteFiles, staticPruned)
    }

  /** d53: report POST-PRUNING statistics to the planner (Iceberg's
    * SparkScan.estimateStatistics role). Without this a DSv2 relation
    * falls back to `spark.sql.defaultSizeInBytes` (effectively ∞), so
    * a 10-row IceLite dim would never auto-broadcast and every
    * connector join would shuffle both sides. Size is the byte sum of
    * the files THIS scan will actually read (manifest pruning + pushed
    * partition filters applied — a filtered fact table shrinks below
    * the broadcast threshold exactly when its surviving files do);
    * row count comes from the manifest's per-file record counts;
    * an un-pruned MoR-live scan reports the snapshot's own logical
    * rowCount (see inline note). O(pruned files) driver metadata,
    * the same class as planning itself. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val snap = IceLiteSource.resolveSnap(ref, asOf)
    val files = staticPruned
    val size = files.map { f =>
      scala.util.Try(java.nio.file.Files.size(ref.dir.resolve(f))).getOrElse(0L)
    }.sum
    val rows: Option[Long] =
      if (!files.forall(snap.fileRows.contains)) None
      else if (!snap.morLive) Some(files.map(snap.fileRows).sum)
      // r13 (d53 under MoR): an UN-pruned MoR-live scan reports the
      // snapshot's own rowCount — EXACT logical rows, because every
      // MoR commit maintains it from the matched-row count it
      // computed when writing the sidecar (head.rowCount − matched;
      // delete-mor / delete-eq / upsert-eq all do).
      else if (files.size == snap.files.size) Some(snap.rowCount)
      else {
        // r14: a PRUNED MoR-live scan is exact too when every live
        // sidecar carries its per-file dead census (recorded at MoR
        // commit) — subtract only the tombstones whose files SURVIVE
        // pruning. Any live sidecar without an entry (pre-upgrade
        // manifest, un-carried commit path) declines: absent beats
        // wrong.
        val live = snap.deleteFiles ++ snap.eqDeletes.map(_.file)
        if (!live.forall(snap.sidecarDead.contains)) None
        else {
          val surviving = files.toSet
          Some(files.map(snap.fileRows).sum -
            live.map(sc => snap.sidecarDead(sc)
              .foldLeft(0L) { case (a, (f, n)) =>
                if (surviving(f)) a + n else a }).sum)
        }
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  /** Whether splits carry their full partition-value tuple — the
    * precondition for key-grouped scheduling (d46). */
  private def fullyKeyed: Boolean =
    rowOp.isEmpty && partitionCols.nonEmpty &&
      partitionCols.forall(partFields.contains) &&
      // r15: key-grouped scheduling stays STRING-keyed — typed
      // partition columns decline (HasPartitionKey rows would need
      // typed keys matched against typed join expressions; the scan
      // stays correct, just unkeyed)
      partitionCols.forall(c => required.fields.find(_.name == c)
        .forall(_.dataType == StringType))

  /** d90: transform layouts are key-groupable too — when every spec
    * field is a KEYABLE transform (`bucket`, `truncate`, `days`,
    * `months`, `years`, `hours` — each with a FunctionCatalog twin so
    * Catalyst can resolve and match both sides), every planned file
    * carries its derived dir (no pre-spec era), and the scan outputs
    * every source column (the transform expression resolves against
    * the relation output). `truncate` is served for string, int,
    * long and decimal source columns — the types whose
    * cast-to-string rendering is zone-free, so the typed function
    * twin ([[GraftFunctions.TruncateWidthTypedBound]]) evaluates the
    * write layout's exact prefix expression; temporal truncate stays
    * unkeyed (session-zone cast, no executor-side twin). */
  private val spjTransforms =
    Set("bucket", "truncate", "days", "months", "years", "hours")

  private val truncateKeyable: DataType => Boolean = {
    case StringType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  private def transformKeyed: Boolean =
    rowOp.isEmpty && partitionCols.isEmpty && tfSpecFields.nonEmpty &&
      tfSpecFields.forall(f => spjTransforms.contains(f.transform)) &&
      tfSpecFields.forall(f => f.transform != "truncate" ||
        required.fields.find(_.name == f.sourceCol)
          .exists(fld => truncateKeyable(fld.dataType))) &&
      tfSpecFields.forall(f => required.fieldNames.contains(f.sourceCol)) && {
        val files = staticPruned
        // an EMPTIED/fully-pruned scan declines: a 0-partition
        // KeyGroupedPartitioning report has nothing to co-schedule.
        // A Hive null-sentinel dir (null source value under a time/
        // truncate transform) declines too: the dir parses to no key,
        // and the function twin would emit null on a shuffled side —
        // the two shapes must not pretend to co-locate.
        files.nonEmpty && files.forall(f => tfSpecFields.forall(fld =>
          IceLiteSource.pathPartValues(f).get(fld.name).exists(_ !=
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .DEFAULT_PARTITION_NAME)))
      }

  /** d46: report the table's OWN layout to the planner. A partitioned
    * scan projecting all its partition columns is KeyGroupedPartitioning
    * over the identity transforms — with `spark.sql.sources.v2.
    * bucketing.enabled`, two tables partitioned on the same columns
    * join with NO shuffle on either side (Iceberg's storage-partitioned
    * join). At 100 TB that deletes the dominant fact⋈fact exchange;
    * the splits carry their key (HasPartitionKey) and Spark groups
    * and co-schedules them per value. */
  override def outputPartitioning(): Partitioning =
    if (fullyKeyed) {
      val keys = staticPruned
        .map(f => partitionCols.map(IceLiteSource.pathPartValues(f).get))
        .distinct.size
      new KeyGroupedPartitioning(
        partitionCols.map(Expressions.identity).toArray, keys)
    } else if (transformKeyed) {
      // d90: two tables sharing a keyable transform layout join with
      // NO exchange below the join — Catalyst resolves each transform
      // through the catalog's functions ([[GraftFunctions]]) and
      // matches both sides by canonical name (+ bucket count). This
      // is exactly the layout d84/d85 write (bucket, days, and their
      // mix); at 100 TB it deletes the dominant fact⋈fact shuffle.
      val keys = staticPruned
        .map(f => tfSpecFields.map(fld =>
          IceLiteSource.pathPartValues(f)(fld.name)))
        .distinct.size
      new KeyGroupedPartitioning(
        tfSpecFields.map(f => (f.transform match {
          case "bucket" => Expressions.bucket(f.param, f.sourceCol)
          // width-in-the-name single-arg form ("truncate4"): Spark's
          // KeyGroupedPartitioning admits only single-reference
          // transforms (bucket alone gets its literal lifted into
          // numBucketsOpt), and the width-family name makes
          // cross-width co-location impossible by construction
          case "truncate" => Expressions.apply(s"truncate${f.param}",
            Expressions.column(f.sourceCol))
          case "days"   => Expressions.days(f.sourceCol)
          case "months" => Expressions.months(f.sourceCol)
          case "years"  => Expressions.years(f.sourceCol)
          case "hours"  => Expressions.hours(f.sourceCol)
        }): V2Expression).toArray, keys)
    } else new UnknownPartitioning(0)

  /** One input partition per ~`targetSplitBytes` of data, not per
    * file: consecutive manifest files bin-pack greedily until the
    * bin would overflow (Spark's own parquet source coalesces small
    * files per split the same way, via files.maxPartitionBytes).
    * One-file-per-task matches IceLite's sized writes, but a table
    * of many tiny files — fresh streaming appends, pre-compaction
    * ingest — would otherwise pay a task launch per file; at 100 TB
    * with millions of small files that is pure scheduler overhead.
    * Packing keeps MANIFEST ORDER, so a sorted table's consecutive
    * key ranges stay in the same task (range locality survives).
    * File sizes come from the local footer stat — O(files) driver
    * metadata, the same class as the manifest read itself. */
  override def planInputPartitions(): Array[InputPartition] = {
    val partPruned = staticPruned
    // runtime partition filter (DPP values from a join's dim side)
    val dppPruned =
      if (runtimePartKeep.isEmpty) partPruned
      else partPruned.filter { f =>
        val vals = IceLiteSource.pathPartValues(f)
        // missing path value (d83 mid-evolution) = keep, like static
        runtimePartKeep.forall { case (c, vs) => vals.get(c).forall(vs.contains) }
      }
    // runtime TRANSFORM filter: DPP join-key values mapped through
    // bucket/truncate dirs (dir-less files kept conservatively — the
    // join itself keeps rows exact)
    val tfDppPruned =
      if (runtimeTfKeep.isEmpty || tfSpecFields.isEmpty) dppPruned
      else {
        val zone = org.apache.spark.sql.SparkSession.active
          .sessionState.conf.sessionLocalTimeZone
        val bySource = tfSpecFields.groupBy(_.sourceCol)
        // None (unmappable runtime literal) = decline, keep-all
        val constraints = runtimeTfKeep.toSeq.flatMap { case (c, vs) =>
          bySource.getOrElse(c, Nil).flatMap(fld =>
            IceLite.transformAllowedSegs(fld, vs, zone).map(fld.name -> _))
        }
        dppPruned.filter { f =>
          val segs = f.split('/').toSeq
          constraints.forall { case (name, allowed) =>
            segs.find(_.startsWith(s"$name=")).forall(allowed.contains)
          }
        }
      }
    // runtime group filter last (matches on the absolute path the
    // reader emits as `_file`)
    val files = runtimeKeep match {
      case Some(keep) => tfDppPruned.filter(f =>
        keep.contains(ref.dir.resolve(f).toString))
      case None => tfDppPruned
    }
    // the row-level write replaces exactly what this scan planned
    rowOp.foreach(_.scannedFiles = Some(files))
    IceLiteSource.lastPlannedFiles = files
    IceLiteSource.lastScanMetadataOnly = false
    // d73: EQUALITY-delete sidecars fold at planning into ONE
    // broadcast key index (O(delete keys) — CDC-batch-sized by the
    // write path's construction) shared by every split, plus a
    // per-split file→added-at-snapshot map. Readers anti-join each
    // file's rows against the keys whose sidecar snapshot id is
    // STRICTLY GREATER than the file's added-at id (Iceberg's
    // sequence-number rule with snapshot ids as sequence numbers) —
    // a post-delete re-insert of a deleted key survives. Key values
    // ship as catalyst internal forms so the reader compares them
    // against decoded vectors with no per-row conversion.
    // r14: eq sidecars over the driver-fold budget (and plainly
    // decodable) skip the broadcast — splits carry sidecar refs and
    // each reader loads its own key groups (the pos-delete pattern's
    // eq twin; a bulk keyed erasure never lands in the driver heap)
    val eqSidecarBytes: Long = eqDeletes.map { d =>
      scala.util.Try(java.nio.file.Files.size(ref.dir.resolve(d.file)))
        .getOrElse(0L)
    }.sum
    val eqExecutorSide = eqDeletes.nonEmpty &&
      eqSidecarBytes > IceLiteSource.eqFoldBytes &&
      IceLiteSource.eqDecodable(ref, eqDeletes)
    if (eqExecutorSide) IceLiteSource.eqExecutorPlans.incrementAndGet()
    val eqRefsAll: Seq[(String, Seq[String], Long)] =
      if (!eqExecutorSide) Nil
      else eqDeletes.map(d =>
        (ref.dir.resolve(d.file).toString, d.keyCols, d.snapshotId))
    val eqIndex: Option[(org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]], Long)] =
      if (eqDeletes.isEmpty || eqExecutorSide) None
      else Some((IceLiteSource.eqIndexFor(ref, eqDeletes),
        eqDeletes.map(_.snapshotId).max))
    val maxEqSnap: Long =
      if (eqDeletes.isEmpty) 0L else eqDeletes.map(_.snapshotId).max
    val addedAtByAbs: Map[String, Long] =
      if (eqDeletes.isEmpty) Map.empty
      else {
        val m = IceLite.readManifest(ref)
        val b = scala.collection.mutable.HashMap.empty[String, Long]
        m.snapshots.sortBy(_.id).foreach(s => s.files.foreach { f =>
          val k = IceLiteSource.normPath(ref.dir.resolve(f).toString)
          if (!b.contains(k)) b(k) = s.id
        })
        b.toMap
      }
    // one group per projected partition-value tuple (a split never
    // mixes partition values — its readers emit them as constants),
    // bin-packed within the group. A transform-keyed scan (d90)
    // groups by the DERIVED dirs instead: splits must not mix key
    // tuples for HasPartitionKey, but the dirs are never emitted as
    // columns.
    val keyedByTransform = transformKeyed
    val groupFields: Seq[String] =
      if (keyedByTransform) tfSpecFields.map(_.name) else partFields
    files.groupBy(f =>
        groupFields.map(c => IceLiteSource.dirSqlValue(
          IceLiteSource.pathPartValues(f).getOrElse(c, null))))
      .toSeq.sortBy(_._2.head)
      .flatMap { case (partVals, groupFiles) =>
        // each file is charged max(bytes, openCostInBytes) when
        // packing — Spark's own small-file rule. Without it a
        // many-tiny-file table (fresh fanout INSERT into buckets×days
        // dirs, pre-compaction streaming ingest) packs into ONE bin
        // whose task pays every ~20ms reader open SEQUENTIALLY
        // (bitten: d84's 240-file scan ran 5s in one task; with the
        // open charge it fans out across the executors)
        val activeConf = org.apache.spark.sql.SparkSession.active
          .sessionState.conf
        val openCost = activeConf.filesOpenCostInBytes
        val sized = groupFiles.map { f =>
          val p = ref.dir.resolve(f)
          (p.toString, math.max(openCost,
            scala.util.Try(java.nio.file.Files.size(p)).getOrElse(0L)))
        }
        // Spark's FilePartition.maxSplitBytes rule: when the whole
        // group fits in fewer bins than the session has cores, shrink
        // the bin target to totalBytes/parallelism (floored at the
        // open cost) so a small-but-many-files scan fans out instead
        // of serializing its reader opens in one or two tasks. An
        // EXPLICIT split target (scan option / table property) is a
        // user override and stays exact.
        val effectiveTarget =
          if (splitBytesExplicit) targetSplitBytes
          else {
            val parallelism = org.apache.spark.sql.SparkSession.active
              .sparkContext.defaultParallelism
            math.min(targetSplitBytes, math.max(openCost,
              sized.map(_._2).sum / math.max(1, parallelism)))
          }
        val bins = Seq.newBuilder[Seq[String]]
        var bin = Vector.empty[String]
        var binBytes = 0L
        sized.foreach { case (path, bytes) =>
          if (bin.nonEmpty && binBytes + bytes > effectiveTarget) {
            bins += bin; bin = Vector.empty; binBytes = 0L
          }
          bin :+= path; binBytes += bytes
        }
        if (bin.nonEmpty) bins += bin
        bins.result().map { fs =>
          val tombs =
            if (tombstonesByFile.isEmpty) Map.empty[String, Array[Long]]
            else fs.flatMap { f =>
              val k = IceLiteSource.normPath(f)
              tombstonesByFile.get(k).map(k -> _)
            }.toMap
          // above-threshold path: this split's files' matched sidecar
          // refs — the reader loads its own positions
          val posRefs =
            if (posRefsByFile.isEmpty) Map.empty[String, Seq[(String, String)]]
            else fs.flatMap { f =>
              val k = IceLiteSource.normPath(f)
              posRefsByFile.get(k).map(k -> _)
            }.toMap
          // attach the eq index only when some file in the split
          // predates a sidecar — untouched splits keep the fully
          // columnar path
          val added = fs.map { f =>
            val k = IceLiteSource.normPath(f)
            k -> addedAtByAbs.getOrElse(k, 0L)
          }.toMap
          val eq = eqIndex.collect {
            case (bc, maxDsnap) if added.values.exists(_ < maxDsnap) => bc
          }
          // executor-side eq refs attach under the same predates-a-
          // sidecar test the broadcast uses
          val eqRefs =
            if (eqRefsAll.isEmpty || !added.values.exists(_ < maxEqSnap))
              Nil
            else eqRefsAll
          val eqAdded =
            if (eq.isEmpty && eqRefs.isEmpty) Map.empty[String, Long]
            else added
          if (fullyKeyed) IceLiteKeyedPartition(fs, partVals, tombs, eq, eqAdded, posRefs, eqRefs): InputPartition
          else if (keyedByTransform)
            // transformKeyed guarantees every file carries its dirs,
            // so the group key is never null; dir values convert to
            // the keys the transform functions produce (ints for
            // bucket/time, the prefix string itself for truncate)
            IceLiteTransformKeyedPartition(fs,
              tfSpecFields.zip(partVals).map { case (fld, v) =>
                fld.transform match {
                  case "bucket"   => v.toInt
                  case "truncate" => v
                  case t => GraftFunctions.dirTimeKey(t, v)
                }
              }, tombs, eq, eqAdded, posRefs, eqRefs): InputPartition
          else IceLiteInputPartition(fs, partVals, tombs, eq, eqAdded, posRefs, eqRefs): InputPartition
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // d58: ship the rename-chain aliases (scoped to this scan's
    // snapshot) so every split resolves projections per file
    val m = IceLite.readManifest(ref)
    // Spark requires ALL of a scan's partitions to agree on columnar
    // vs row-based (DataSourceV2ScanExecBase.supportsColumnar). With
    // live MoR sidecars only SOME splits carry tombstones/eq state,
    // so per-split columnar support mixes modes and the plan throws
    // "Cannot mix row-based and columnar input partitions" the moment
    // the open-cost packer splits a sidecar-live table into >1 bin
    // (REST model fuzz seeds 5010/5038). Sidecar-live scans read
    // row-based UNIFORMLY; compact() restores the columnar kernel —
    // the same economics as every other MoR read cost here.
    new IceLiteReaderFactory(dataFields, emitFile,
      IceLiteSource.aliasesOf(m, asOf.getOrElse(m.currentSnapshotId)),
      morLive = deleteFiles.nonEmpty || eqDeletes.nonEmpty,
      emitPos = emitPos,
      // r15: typed partition columns emit PARSED dir values
      partTypes = partFields.map(c => required.fields.find(_.name == c)
        .map(_.dataType).getOrElse(StringType)))
  }
}

/** d73: one equality-delete key group — all sidecar key tuples that
  * share a key-column list, each tagged with its sidecar's snapshot
  * id (the sequence number). Values are CATALYST-internal forms
  * (UTF8String, Long, …) so readers compare decoded row values
  * directly. Broadcast ONCE per scan and shared by every split —
  * key batches are CDC-sized, never table-sized. */
case class EqKeyGroup(keyCols: Seq[String], keys: Array[(Seq[Any], Long)])

sealed trait IceLitePartition extends InputPartition {
  def files: Seq[String]
  def partVals: Seq[String]
  /** d50: MoR position tombstones for THIS split's files, keyed by
    * normalized absolute path — the reader skips these row indexes.
    * Empty for CoW-pure snapshots (the overwhelmingly common case). */
  def tombstones: Map[String, Array[Long]]
  /** d73: the scan-wide equality-delete key index (None when no
    * sidecar applies to any of this split's files) … */
  def eqKeys: Option[org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]]]
  /** … and each file's added-at snapshot id (normalized absolute
    * path), the sequence-rule side of the anti-join. */
  def fileAddedAt: Map[String, Long]
  /** Above-threshold position deletes (d50 at scale): per data file
    * (normalized absolute path), the matched sidecar paths and the
    * EXACT recorded `file_path` strings — the reader loads its own
    * positions with a parquet pushdown; the driver never held them. */
  def posDeleteRefs: Map[String, Seq[(String, String)]]
  /** Above-threshold EQUALITY deletes (d73 at scale): (sidecar path,
    * key columns, sidecar snapshot id) — the reader loads its own
    * key groups; the driver never held or broadcast them. */
  def eqDeleteRefs: Seq[(String, Seq[String], Long)]
}

case class IceLiteInputPartition(files: Seq[String],
    partVals: Seq[String] = Nil,
    tombstones: Map[String, Array[Long]] = Map.empty,
    eqKeys: Option[org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]]] = None,
    fileAddedAt: Map[String, Long] = Map.empty,
    posDeleteRefs: Map[String, Seq[(String, String)]] = Map.empty,
    eqDeleteRefs: Seq[(String, Seq[String], Long)] = Nil)
  extends IceLitePartition

/** A split that KNOWS its partition-value tuple (d46: the
  * storage-partitioned-join contract): HasPartitionKey lets Spark
  * group splits by key and co-schedule two tables partitioned on the
  * same columns — the join runs with NO shuffle on either side. Keys
  * are the path-borne partition values as UTF8Strings, matching the
  * STRING columns the scan emits. */
case class IceLiteKeyedPartition(files: Seq[String],
    partVals: Seq[String],
    tombstones: Map[String, Array[Long]] = Map.empty,
    eqKeys: Option[org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]]] = None,
    fileAddedAt: Map[String, Long] = Map.empty,
    posDeleteRefs: Map[String, Seq[(String, String)]] = Map.empty,
    eqDeleteRefs: Seq[(String, Seq[String], Long)] = Nil)
  extends IceLitePartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow.fromSeq(partVals.map(v =>
      if (v == null) null else UTF8String.fromString(v)))
}

/** d90: a split of a keyable-transform layout that knows its derived
  * key tuple. The key row holds the transform functions' RESULT
  * values — bucket/months/years/hours IntegerType ints, days
  * DateType's int form, truncate's prefix as a plain String
  * (converted to UTF8String at key time — the split is
  * task-serialized and String travels safely; Spark orders and
  * matches key rows by the reported expressions' types);
  * `partVals` stays EMPTY because hidden-partition dirs are never
  * emitted as columns (the source columns live in the data pages). */
case class IceLiteTransformKeyedPartition(files: Seq[String],
    keyVals: Seq[Any],
    tombstones: Map[String, Array[Long]] = Map.empty,
    eqKeys: Option[org.apache.spark.broadcast.Broadcast[Seq[EqKeyGroup]]] = None,
    fileAddedAt: Map[String, Long] = Map.empty,
    posDeleteRefs: Map[String, Seq[(String, String)]] = Map.empty,
    eqDeleteRefs: Seq[(String, Seq[String], Long)] = Nil)
  extends IceLitePartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partVals: Seq[String] = Nil
  override def partitionKey(): InternalRow = InternalRow.fromSeq(keyVals.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  })
}

/** Streaming offset = the snapshot id the stream has consumed up to
  * (−1 = nothing consumed yet). Snapshot ids are the natural offset
  * axis for a table feed — exactly Iceberg's/Delta's streaming-source
  * design: the checkpoint stores a snapshot watermark, each
  * micro-batch reads the FILE DELTA between two snapshots. */
case class IceLiteOffset(snapshotId: Long,
    tableUuid: Option[String] = None) extends Offset {
  // offsets also PIN THE TABLE INCARNATION: snapshot ids are
  // sequential, so a DROP + re-CREATE can reach the checkpointed id
  // again with different content — without the uuid the stream would
  // silently treat the new table's early snapshots as consumed.
  // Absent for checkpoints written before the upgrade (id-only
  // semantics until the next offset is recorded).
  override def json(): String = tableUuid match {
    case Some(u) => s"""{"snapshotId":$snapshotId,"tableUuid":"$u"}"""
    case None => s"""{"snapshotId":$snapshotId}"""
  }
}

object IceLiteOffset {
  def fromJson(s: String): IceLiteOffset = {
    val m = org.json4s.jackson.JsonMethods.parse(s)
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    IceLiteOffset((m \ "snapshotId").extract[Long],
      (m \ "tableUuid").extractOpt[String])
  }
}

/** Micro-batch stream over an IceLite table (the `readStream` face of
  * d25's connector; Delta/Iceberg streaming-read role): each trigger
  * advances at most `snapshotsPerTrigger` snapshots past the consumed
  * offset and plans ONE input partition per NEW data file — O(delta),
  * never O(table), exactly d23's incremental-scan contract made
  * continuous. The consumed range must be append-only: a replace /
  * compaction / rollback inside it fails the batch loudly rather than
  * double-reading rewritten rows (restart from a fresh checkpoint to
  * re-baseline, as with Iceberg's streaming source). Offsets are
  * snapshot ids, durable in the checkpoint — a restarted query
  * resumes at its watermark and re-plans only unread snapshots.
  * Expired offsets (consumer lagging past retention) fail with
  * "expired" — retention must exceed consumer lag, the standard
  * table-feed operating rule. State is metadata-sized: the stream
  * holds no data, only the manifest walk per trigger. */
class IceLiteMicroBatchStream(ref: TableRef,
    fields: Array[(String, DataType)], snapshotsPerTrigger: Int,
    partFields: Seq[String] = Nil,
    refresh: () => Unit = () => (),
    partFilters: Map[String, Set[String]] = Map.empty,
    partNotNull: Set[String] = Set.empty,
    claimedPartCols: Set[String] = Set.empty,
    partRanges: Map[String, IceLiteSource.StrRange] = Map.empty,
    partNumRanges: Map[String, IceLiteSource.NumRange] = Map.empty)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** AvailableNow ceiling: snapshot id captured at query start. */
  @volatile private var availableNowTarget: Option[Long] = None

  /** The version-watch hook (s24): a REST attachment re-resolves its
    * spool against the catalog service before every manifest read, so
    * a remote commit is visible to the NEXT micro-batch — the spool
    * stops being a point-in-time lie. Local tables no-op. */
  protected def manifest = { refresh(); IceLite.readManifest(ref) }

  /** The incarnation gate: a checkpointed offset that pinned a table
    * uuid must only ever meet manifests of the SAME incarnation.
    * Sequential snapshot ids make id-only checks unsound — a
    * re-created table can reach the consumed id again and the stream
    * would silently skip its early snapshots (or re-read under a
    * different history). Either side missing a uuid (pre-upgrade
    * checkpoint / legacy manifest) falls back to id-only semantics. */
  protected def checkIncarnation(o: Offset,
      m: graft.icelite.Manifest): Unit =
    for (ou <- o.asInstanceOf[IceLiteOffset].tableUuid; mu <- m.tableUuid)
      require(ou == mu,
        s"checkpoint tracks a different incarnation of ${ref.name} " +
          s"(offset uuid $ou, table uuid $mu) — the table was dropped " +
          "and re-created; restart from a fresh checkpoint")

  protected def idxOf(m: graft.icelite.Manifest, snapshotId: Long): Int =
    if (snapshotId == -1L) -1
    else {
      val i = m.snapshots.indexWhere(_.id == snapshotId)
      require(i >= 0, s"snapshot $snapshotId of ${ref.name} not found " +
        "(expired past retention?) — restart from a fresh checkpoint")
      i
    }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(manifest.currentSnapshotId)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val m = manifest
    checkIncarnation(start, m)
    val startIdx = idxOf(m, start.asInstanceOf[IceLiteOffset].snapshotId)
    val targetIdx = idxOf(m, availableNowTarget.getOrElse(m.currentSnapshotId))
    val nextIdx = math.min(startIdx.toLong + snapshotsPerTrigger, targetIdx.toLong).toInt
    if (nextIdx <= startIdx) start
    else IceLiteOffset(m.snapshots(nextIdx).id, m.tableUuid)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = {
    val m = manifest
    IceLiteOffset(availableNowTarget.getOrElse(m.currentSnapshotId),
      m.tableUuid)
  }

  override def initialOffset(): Offset =
    IceLiteOffset(-1L, manifest.tableUuid)

  override def deserializeOffset(json: String): Offset =
    IceLiteOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val m = manifest
    checkIncarnation(start, m)
    checkIncarnation(end, m)
    val startId = start.asInstanceOf[IceLiteOffset].snapshotId
    val endId = end.asInstanceOf[IceLiteOffset].snapshotId
    val startFiles =
      if (startId == -1L) Set.empty[String]
      else m.snapshots(idxOf(m, startId)).files.toSet
    val endFiles = m.snapshots(idxOf(m, endId)).files
    val dropped = startFiles -- endFiles
    require(dropped.isEmpty,
      s"non-append change inside the consumed range of ${ref.name} " +
        s"($startId → $endId removed ${dropped.size} files — replace/" +
        "compaction/rollback); restart from a fresh checkpoint")
    endFiles.filterNot(startFiles)
      // pushed partition filters prune the stream's file delta too
      // (r13): the batch builder may CLAIM partition equality/IN/
      // IS-NOT-NULL fully handled (exact on value-pure files), and
      // the same builder serves toMicroBatchStream — so the stream
      // MUST honor them or a filtered stream would emit unfiltered
      // rows. A delta file LACKING a filtered column's dir (a layout
      // evolution slid under a running stream) refuses loudly: the
      // residual filter is gone, so a conservative keep would be
      // silently wrong.
      .filter { f =>
        val vals = IceLiteSource.pathPartValues(f)
        // a delta file LACKING a column's dir: keep conservatively
        // when the filter stayed residual (rows still filter exactly
        // above), refuse loudly when it was CLAIMED (the residual is
        // gone — a keep would be silently wrong, a drop would lose
        // rows; a layout evolution slid under the running stream)
        def check(c: String)(pass: String => Boolean): Boolean =
          vals.get(c) match {
            case Some(v) => pass(v)
            case None if claimedPartCols(c) =>
              throw new IllegalStateException(
                s"streaming file $f of ${ref.name} carries no path " +
                  s"value for claimed partition-filter column $c " +
                  "(layout changed under the stream?) — restart the " +
                  "query from a fresh plan")
            case None => true
          }
        partFilters.forall { case (c, vs) => check(c)(vs.contains) } &&
        partNotNull.forall(c => check(c)(_ !=
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME)) &&
        // r14: claimed string ranges bind the stream too (same
        // lockstep rule as equality — the residual is gone)
        partRanges.forall { case (c, r) => check(c)(v =>
          v != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME && IceLiteSource.strInRange(v, r)) } &&
        // r15: typed int/long ranges bind the file delta by PARSED
        // value; a claimed column whose NEW file carries a
        // non-canonical dir must fail loudly, not silently drop rows
        partNumRanges.forall { case (c, r) => check(c) { v =>
          IceLiteSource.canonicalLong(v) match {
            case Some(n) => IceLiteSource.numInRange(n, r)
            case None if v == org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.DEFAULT_PARTITION_NAME => false
            case None => throw new IllegalStateException(
              s"streaming file of ${ref.name} carries non-canonical " +
                s"dir value '$v' for claimed typed partition column " +
                s"$c — restart the query from a fresh plan")
          }
        } }
      }
      .map { f =>
        // s23: projected partition values come from the file path,
        // exactly like batch splits (null-sentinel dirs → SQL NULL)
        val vals = IceLiteSource.pathPartValues(f)
        IceLiteInputPartition(Seq(ref.dir.resolve(f).toString),
          partFields.map(c => IceLiteSource.dirSqlValue(
            vals.getOrElse(c, null)))): InputPartition
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // d58: streamed files may span a rename — same per-file aliasing
    // as batch scans, scoped to the live manifest
    val m = IceLite.readManifest(ref)
    new IceLiteReaderFactory(fields,
      aliases = IceLiteSource.aliasesOf(m, m.currentSnapshotId),
      // r15: the stream's projected partition columns may be typed —
      // resolve their declared types once per factory (driver-side)
      partTypes = {
        val sch = IceLiteSource.schemaOf(ref)
        partFields.map(c => sch.fields.find(_.name == c)
          .map(_.dataType).getOrElse(StringType))
      })
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String =
    s"IceLiteMicroBatchStream(${ref.namespace}.${ref.name})"
}

/** s17: the CHANGELOG STREAMING face (`readStream.option("changelog",
  * "true")` — Delta CDF's streaming read / Iceberg changelog): each
  * trigger emits the ROW-LEVEL CHANGES of the snapshots it advances
  * over — inserts from new data files, deletes recovered from new MoR
  * sidecars, update-mor commits paired as pre/postimages — with
  * `_change_type` and `_commit_snapshot_id` columns. Batch reads of a
  * changelog relation refuse (d49's `IceLite.changes` is the batch
  * face); rewriting commits in a delta fail the stream loudly, the
  * same rule as d49. */
class IceLiteCdcScan(ref: TableRef, required: StructType,
    snapshotsPerTrigger: Int,
    streamRefresh: () => Unit = () => ()) extends Scan {
  private val dataFields = required.fields
    .filter(f => !IceLiteSource.CdcFields.exists(_.name == f.name))
    .map(f => (f.name, f.dataType))
  override def readSchema(): StructType = required
  override def description(): String = s"IceLiteCdcScan ${ref.name}"
  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      "changelog relations are streaming reads — the batch face is " +
        "IceLite.changes(ref, from, to) (d49)")
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(IceLite.readManifest(ref).renamedCols.isEmpty,
      s"${ref.name} has RENAME COLUMN history — changelog rows would mix " +
        "stored names across eras; re-baseline the consumer instead")
    new IceLiteCdcMicroBatchStream(ref, dataFields,
      required.fieldNames.contains("_change_type"),
      required.fieldNames.contains("_commit_snapshot_id"),
      snapshotsPerTrigger, streamRefresh)
  }
}

/** One changelog slice: either the rows OF new files (inserts /
  * update postimages; `positions` empty) or the tombstoned rows of
  * prior files (deletes / update preimages; `emitOnly` — the reader
  * emits exactly the named positions). */
case class IceLiteCdcPartition(files: Seq[String], changeType: String,
    commitId: Long, positions: Map[String, Array[Long]],
    emitOnly: Boolean,
    // above-threshold delta: the reader loads this file's positions
    // from the matched sidecars itself (positions stays empty)
    posDeleteRefs: Map[String, Seq[(String, String)]] = Map.empty)
  extends InputPartition

class IceLiteCdcReaderFactory(fields: Array[(String, DataType)],
    emitType: Boolean, emitId: Boolean)
  extends IceLiteReaderFactory(fields) {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[IceLiteCdcPartition]
    val extra: Array[Any] =
      ((if (emitType) Seq(UTF8String.fromString(part.changeType): Any) else Nil) ++
       (if (emitId) Seq(part.commitId: Any) else Nil)).toArray
    new PartitionReader[InternalRow] {
      private lazy val loadedTombs: Map[String, Array[Long]] =
        IceLiteSource.loadPosDeletes(part.posDeleteRefs)
      private def posFor(f: String): Array[Long] = {
        val k = IceLiteSource.normPath(f)
        val a = part.positions.getOrElse(k, Array.empty[Long])
        if (part.posDeleteRefs.isEmpty) a
        else a ++ loadedTombs.getOrElse(k, Array.empty[Long])
      }
      private val fileReaders = part.files.iterator.map(f =>
        singleFileReader(f, Nil, posFor(f), part.emitOnly, extra))
      private var cur0: PartitionReader[InternalRow] =
        if (fileReaders.hasNext) fileReaders.next() else null
      override def next(): Boolean = {
        while (cur0 != null && !cur0.next()) {
          cur0.close()
          cur0 = if (fileReaders.hasNext) fileReaders.next() else null
        }
        cur0 != null
      }
      override def get(): InternalRow = cur0.get()
      override def close(): Unit = if (cur0 != null) cur0.close()
    }
  }
}

/** Offsets are snapshot ids exactly like the plain table stream; each
  * trigger's delta is rendered as CHANGE ROWS instead of file scans.
  * Deltas must be change-derivable: append / delete-mor / update-mor
  * (and the initial create) — rewriting or branch-staging commits in
  * a consumed range fail loudly; re-baseline from a full read, the
  * Delta CDF rule. */
class IceLiteCdcMicroBatchStream(ref: TableRef,
    fields: Array[(String, DataType)], emitType: Boolean, emitId: Boolean,
    snapshotsPerTrigger: Int, refresh: () => Unit = () => ())
  extends IceLiteMicroBatchStream(ref, fields, snapshotsPerTrigger,
    Nil, refresh) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val m = manifest
    checkIncarnation(start, m)
    checkIncarnation(end, m)
    val startId = start.asInstanceOf[IceLiteOffset].snapshotId
    val endId = end.asInstanceOf[IceLiteOffset].snapshotId
    val endIdx = idxOf(m, endId)
    val startIdx = if (startId == -1L) -1 else idxOf(m, startId)
    val range = m.snapshots.slice(startIdx.max(0), endIdx + 1)
    val pairs: Seq[(Snapshot, Snapshot)] = {
      val base =
        if (startIdx == -1)
          Snapshot(-1L, 0L, "empty", Nil, 0L) +: range
        else range
      base.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    }
    val bad = pairs.map(_._2.operation)
      .filterNot(Set("create", "append", "delete-mor", "update-mor"))
    require(bad.isEmpty,
      s"changelog stream of ${ref.name} hit non-derivable commit(s) " +
        s"${bad.distinct.mkString(", ")} — re-baseline from a fresh " +
          "checkpoint and full read")
    pairs.flatMap { case (prev, s) =>
      val isUpdate = s.operation == "update-mor"
      val prevFiles = prev.files.toSet
      val inserts = s.files.filterNot(prevFiles).map(f =>
        IceLiteCdcPartition(Seq(ref.dir.resolve(f).toString),
          if (isUpdate) "update_postimage" else "insert",
          s.id, Map.empty, emitOnly = false): InputPartition)
      val newSidecars = s.deleteFiles.filterNot(prev.deleteFiles.toSet)
      val deletes =
        if (newSidecars.isEmpty) Nil
        else if (newSidecars.map(f => scala.util.Try(java.nio.file.Files
            .size(ref.dir.resolve(f))).getOrElse(0L)).sum >
            IceLiteSource.posFoldBytes) {
          // above-threshold delta (the batch scan's rule applied to
          // the trigger's NEW sidecars): the driver runs only the
          // (sidecar, file_path) census; each affected file's slice
          // carries its matched refs and the reader loads its own
          // positions executor-side
          IceLiteSource.posExecutorPlans.incrementAndGet()
          val refs = IceLiteSource.posDeleteRefsByFile(
            ref, newSidecars, prev.files)
          prev.files.flatMap { f =>
            val abs = ref.dir.resolve(f).toString
            val k = IceLiteSource.normPath(abs)
            refs.get(k).map(rs =>
              IceLiteCdcPartition(Seq(abs),
                if (isUpdate) "update_preimage" else "delete",
                s.id, Map.empty, emitOnly = true,
                posDeleteRefs = Map(k -> rs)): InputPartition)
          }
        } else {
          // suffix-matched and re-anchored like the batch scan's
          // tombstone index: the sidecar stores the WRITER's absolute
          // path, this reader may sit under a spool root
          val byFile = IceLiteSource.foldPosDeletes(ref, newSidecars, prev.files)
          prev.files.flatMap { f =>
            val abs = ref.dir.resolve(f).toString
            byFile.get(IceLiteSource.normPath(abs)).map(pos =>
              IceLiteCdcPartition(Seq(abs),
                if (isUpdate) "update_preimage" else "delete",
                s.id, Map(IceLiteSource.normPath(abs) -> pos),
                emitOnly = true): InputPartition)
          }
        }
      inserts ++ deletes
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IceLiteCdcReaderFactory(fields, emitType, emitId)

  override def toString: String =
    s"IceLiteCdcMicroBatchStream(${ref.namespace}.${ref.name})"
}

class IceLiteReaderFactory(fields: Array[(String, DataType)],
    emitFile: Boolean = false,
    // d58: current name → older stored names (rename chain, newest
    // first); per file, a projected column resolves to the first
    // name the file actually stores
    aliases: Map[String, Seq[String]] = Map.empty,
    // scan-level MoR flag: sidecar-live scans read row-based
    // UNIFORMLY (Spark refuses mixed columnar/row partition sets)
    morLive: Boolean = false,
    // r15: emit each row's physical position in its file as a
    // trailing `_pos` long (the delta row-level path's row identity);
    // positions were already tracked for tombstone skipping
    emitPos: Boolean = false,
    // r15: the PROJECTED partition fields' declared types, positional
    // with each split's partVals — int/long partition columns emit
    // parsed dir values instead of strings
    partTypes: Seq[DataType] = Nil)
  extends PartitionReaderFactory {

  private def partTypeAt(j: Int): DataType =
    if (j < partTypes.length) partTypes(j) else StringType


  /** The name `file` stores column `n` under (None: predates it). */
  private def storedIn(fileCols: Seq[String], n: String): Option[String] =
    (n +: aliases.getOrElse(n, Nil)).find(fileCols.contains)

  /** Columnar read path: Spark's own vectorized parquet reader
    * decodes straight into column vectors (the engine's production
    * scan kernel — dictionary-aware, page-skipping, no per-row
    * materialization), ~the difference between this connector being a
    * demo and being usable. The projection was normalized to
    * file-schema order at build time, so the clipped parquet schema
    * lines up positionally with readSchema. The row decoder below
    * stays as the fallback for empty projections. */
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val part = p.asInstanceOf[IceLitePartition]
    fields.nonEmpty && !morLive && !emitPos &&
      part.tombstones.isEmpty && part.eqKeys.isEmpty &&
      part.posDeleteRefs.isEmpty && part.eqDeleteRefs.isEmpty
  }

  /** d73: the equality-delete anti-join for ONE file — each group's
    * key tuples still live for this file (sidecar snapshot id >
    * file's added-at id), as (key indexes into the emitted row, their
    * types, the key set). Empty for files newer than every sidecar.
    * `groups` merges the broadcast index (driver-fold regime) with
    * any split-loaded groups (the above-budget executor regime). */
  private def eqFiltersFor(groups: Seq[EqKeyGroup],
      fileAddedAt: Map[String, Long], file: String)
      : Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])] =
    if (groups.isEmpty) Nil
    else {
      val added = fileAddedAt.getOrElse(IceLiteSource.normPath(file), 0L)
      groups.flatMap { g =>
        val live = g.keys.filter(_._2 > added)
        if (live.isEmpty) None
        else {
          val idx = g.keyCols.map(c => fields.indexWhere(_._1 == c)).toArray
          require(idx.forall(_ >= 0),
            s"equality-delete key column(s) ${g.keyCols.mkString(", ")} " +
              "missing from the scan projection (over-read failed)")
          val set = new java.util.HashSet[Seq[Any]](live.length * 2)
          live.foreach(k => set.add(k._1))
          Some((idx, idx.map(i => fields(i)._2), set))
        }
      }
    }

  /** Drop rows whose key tuple appears in a live equality-delete set
    * — the reader-side half of d73's broadcast anti-join. */
  private def eqFiltered(r: PartitionReader[InternalRow],
      filters: Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])])
      : PartitionReader[InternalRow] =
    if (filters.isEmpty) r
    else new PartitionReader[InternalRow] {
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val dead = filters.exists { case (idx, dts, set) =>
            set.contains(Seq.tabulate(idx.length)(j =>
              if (row.isNullAt(idx(j))) null
              else IceLiteSource.eqKeyForm(row.get(idx(j), dts(j)))))
          }
          if (!dead) return true
        }
        false
      }
      override def get(): InternalRow = r.get()
      override def close(): Unit = r.close()
    }

  /** Reads a (possibly coalesced) file group: one vectorized reader
    * at a time, opened lazily as the previous file drains — a packed
    * partition holds at most ONE open file's decode state, so
    * coalescing never multiplies memory. Path-borne partition values
    * ride along as ConstantColumnVectors appended to each batch —
    * Spark's own vectorized scan represents partition columns the
    * same way, so partitioned reads stay fully columnar. */
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[IceLitePartition]
    val files = part.files
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val constVectors = part.partVals.zipWithIndex.map { case (v, j) =>
        val dt = partTypeAt(j)
        val cv = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(4096, dt)
        if (v == null) cv.setNull()
        else IceLiteSource.dirTypedValue(v, dt) match {
          case u: UTF8String => cv.setUtf8String(u)
          case i: java.lang.Integer => cv.setInt(i)
          case l: java.lang.Long => cv.setLong(l)
          case other => throw new IllegalStateException(s"$other")
        }
        cv
      }
      // `_file` is per-FILE constant: one vector, re-pointed at each
      // file open (a batch is consumed before the next file opens)
      private val fileVector =
        if (!emitFile) None
        else Some(new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(4096, StringType))
      private val appendedVectors = constVectors ++ fileVector
      private val remaining = files.iterator
      private var reader: org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader = _
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      // composite batch (null/constant vectors interleaved): row count
      // must be synced from the decode batch after each nextBatch()
      private var syncRows = false
      // >0: the current file decodes NOTHING (every projected column
      // was ALTER-added after it was written, d51) — emit that many
      // all-null rows in 4096-row chunks without opening a reader
      private var nullRowsLeft = 0L
      private def nullVector(dt: DataType) = {
        val cv = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(4096, dt)
        cv.setNull()
        cv
      }
      /** d83: a projected column a file neither stores nor predates
        * may be PATH-BORNE for that file (mid-evolution: the demoted
        * partition field) — surface the path value, else null. */
      private def pathConstOrNull(path: String, name: String, dt: DataType) =
        IceLiteSource.pathPartValues(path).get(name)
            .map(IceLiteSource.dirSqlValue) match {
          case Some(v) if v != null &&
              (dt == StringType || dt == IntegerType || dt == LongType) =>
            val cv = new org.apache.spark.sql.execution.vectorized
              .ConstantColumnVector(4096, dt)
            IceLiteSource.dirTypedValue(v, dt) match {
              case u: UTF8String => cv.setUtf8String(u)
              case i: java.lang.Integer => cv.setInt(i)
              case l: java.lang.Long => cv.setLong(l)
              case other => throw new IllegalStateException(s"$other")
            }
            cv
          case _ => nullVector(dt)
        }
      private def openNext(): Boolean =
        if (!remaining.hasNext) false
        else {
          val path = remaining.next()
          fileVector.foreach(_.setUtf8String(UTF8String.fromString(path)))
          // d51: decode the columns this file HAS; ALTER-added ones it
          // predates ride along as constant null vectors
          val (fileCols, fileTypes, fileRows) = {
            val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
              new HPath(path), new Configuration()))
            try {
              val msg = fr.getFooter.getFileMetaData.getSchema
              val sparkTypes = new org.apache.spark.sql.execution.datasources
                .parquet.ParquetToSparkSchemaConverter().convert(msg)
                .fields.map(f => f.name -> f.dataType).toMap
              (msg.getFields.asScala.map(_.getName).toSeq, sparkTypes,
                fr.getRecordCount)
            } finally fr.close()
          }
          // d58: resolve each projected column to the name THIS file
          // stores it under (rename chain); unresolved = predates it
          val storedByField = fields.map(f => storedIn(fileCols, f._1))
          val presentStored = storedByField.flatten
          val aliased = fields.indices.exists(i =>
            storedByField(i).exists(_ != fields(i)._1))
          // d66: file stores a NARROWER type than the projection asks
          // for (written before an ALTER COLUMN TYPE widen) — its
          // decoded vector gets an upcast adapter
          val needUpcast: Array[Boolean] =
            fields.zipWithIndex.map { case ((_, dt), i) =>
              storedByField(i).exists { s =>
                val ft = fileTypes(s)
                (ft == IntegerType && dt == LongType) ||
                  (ft == FloatType && dt == DoubleType)
              }
            }
          if (presentStored.isEmpty) {
            nullRowsLeft = fileRows
            syncRows = false
            batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
              (fields.map(f => pathConstOrNull(path, f._1, f._2)) ++
                appendedVectors).toArray)
            true
          } else {
            reader = new org.apache.spark.sql.execution.datasources.parquet
              .VectorizedParquetRecordReader(false, 4096)
            reader.initialize(path, presentStored.toList.asJava)
            val fb = reader.resultBatch() // allocates the batch nextBatch() fills
            // the fast path is positional — valid only when the
            // present subset is already in file-schema order (a d83
            // evolved column appended at schema end can sit mid-file)
            val fileOrdered =
              fileCols.filter(presentStored.contains) == presentStored.toSeq
            if (presentStored.length == fields.length && !aliased &&
                fileOrdered && !needUpcast.exists(identity)) {
              syncRows = appendedVectors.nonEmpty
              batch =
                if (appendedVectors.isEmpty) fb
                else new org.apache.spark.sql.vectorized.ColumnarBatch(
                  ((0 until fb.numCols).map(fb.column) ++ appendedVectors).toArray)
            } else {
              // fb columns follow FILE-schema order of the present
              // subset; map back to the projection via stored names
              val fbIdx = fileCols.filter(presentStored.toSet).zipWithIndex.toMap
              syncRows = true
              batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
                (fields.zipWithIndex.map { case ((n, dt), i) =>
                  storedByField(i).flatMap(fbIdx.get).map(fb.column)
                    .map(cv => if (needUpcast(i))
                      new UpcastColumnVector(cv, dt)
                        : org.apache.spark.sql.vectorized.ColumnVector
                      else cv)
                    .getOrElse(pathConstOrNull(path, n, dt))
                    : org.apache.spark.sql.vectorized.ColumnVector
                } ++ appendedVectors).toArray)
            }
            true
          }
        }
      override def next(): Boolean = {
        while (true) {
          if (nullRowsLeft > 0) {
            val n = math.min(4096L, nullRowsLeft).toInt
            batch.setNumRows(n)
            nullRowsLeft -= n
            return true
          }
          if (reader != null && reader.nextBatch()) {
            if (syncRows) batch.setNumRows(reader.resultBatch().numRows)
            return true
          }
          if (reader != null) { reader.close(); reader = null }
          if (!openNext()) return false
        }
        false // unreachable
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = if (reader != null) reader.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[IceLitePartition]
    new PartitionReader[InternalRow] {
      // above-threshold position deletes: this task loads its OWN
      // files' positions from the matched sidecars (parquet pushdown
      // on the recorded path) — executor-side, lazily at first use,
      // never on the driver
      private lazy val loadedTombs: Map[String, Array[Long]] =
        IceLiteSource.loadPosDeletes(part.posDeleteRefs)
      private def tombsFor(f: String): Array[Long] = {
        val k = IceLiteSource.normPath(f)
        val a = part.tombstones.getOrElse(k, Array.empty[Long])
        if (part.posDeleteRefs.isEmpty) a
        else a ++ loadedTombs.getOrElse(k, Array.empty[Long])
      }
      // eq key groups: the broadcast index and/or this split's own
      // above-budget load — ONE load per split, shared by its files
      private lazy val eqGroups: Seq[EqKeyGroup] =
        part.eqKeys.toSeq.flatMap(_.value) ++
          IceLiteSource.loadEqKeyGroupsCached(part.eqDeleteRefs)
      private def eqFor(f: String) =
        if (part.eqKeys.isEmpty && part.eqDeleteRefs.isEmpty) Nil
        else eqFiltersFor(eqGroups, part.fileAddedAt, f)
      private val fileReaders =
        part.files.iterator.map(f => eqFiltered(
          singleFileReader(f, part.partVals, tombsFor(f)),
          eqFor(f)))
      private var cur0: PartitionReader[InternalRow] =
        if (fileReaders.hasNext) fileReaders.next() else null
      override def next(): Boolean = {
        while (cur0 != null && !cur0.next()) {
          cur0.close()
          cur0 = if (fileReaders.hasNext) fileReaders.next() else null
        }
        cur0 != null
      }
      override def get(): InternalRow = cur0.get()
      override def close(): Unit = if (cur0 != null) cur0.close()
    }
  }

  protected def singleFileReader(file: String,
      partVals: Seq[String],
      tombstones: Array[Long] = Array.empty,
      emitOnly: Boolean = false,
      extraTail: Array[Any] = Array.empty): PartitionReader[InternalRow] = {
    // row layout: data fields ++ partVals ++ [_file] ++ [_pos] ++ extra;
    // the `_pos` slot (per-ROW physical position) is written in get()
    val posSlot: Int =
      if (!emitPos) -1
      else fields.length + partVals.length + (if (emitFile) 1 else 0)
    val partTail0: Array[Any] = ((partVals.zipWithIndex.map { case (v, j) =>
      if (v == null) null else IceLiteSource.dirTypedValue(v, partTypeAt(j))
    } ++
      (if (emitFile) Seq(UTF8String.fromString(file): Any) else Nil) ++
      (if (emitPos) Seq(0L: Any) else Nil))
      .toArray ++ extraTail)
    // d50: MoR position set for THIS file (skip-set normally; the
    // EMIT-set in changelog delete slices, s17)
    val dead: java.util.HashSet[java.lang.Long] = {
      val s = new java.util.HashSet[java.lang.Long](tombstones.length * 2)
      tombstones.foreach(s.add(_))
      s
    }
    // no data columns projected (partition-only select, a count over
    // a declined aggregate, or every projected column postdates this
    // file's write — d51): the footer's record count is the whole
    // answer — emit that many constant rows, zero pages decoded
    def countOnlyReader(): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val physTotal = {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(new HPath(file), new Configuration()))
          try r.getRecordCount finally r.close()
        }
        // tombstoned rows are not rows: the footer count is physical
        private val total =
          if (emitOnly) dead.size.toLong else physTotal - dead.size
        // data cells (null, or the PATH value for a d83-demoted
        // partition field this file carries in its dirs) then the
        // constant tail
        private val row = new GenericInternalRow(
          fields.map { case (n, dt) =>
            IceLiteSource.pathPartValues(file).get(n)
                .map(IceLiteSource.dirSqlValue) match {
              case Some(v) if v != null &&
                  (dt == StringType || dt == IntegerType || dt == LongType) =>
                IceLiteSource.dirTypedValue(v, dt)
              case _ => null
            }
          } ++ partTail0)
        private var i = 0L
        // emitPos: walk PHYSICAL positions so the `_pos` slot carries
        // each emitted row's true in-file index (live rows skip dead
        // positions; emitOnly walks exactly the dead set)
        private var phys = -1L
        override def next(): Boolean =
          if (posSlot < 0) { i += 1; i <= total }
          else {
            phys += 1
            while (phys < physTotal && dead.contains(phys) != emitOnly)
              phys += 1
            if (phys < physTotal) { row.update(posSlot, phys); true }
            else false
          }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    if (fields.isEmpty) return countOnlyReader()
    val fullFileSchema: org.apache.parquet.schema.MessageType = {
      val fr = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(file), new Configuration()))
      try fr.getFooter.getFileMetaData.getSchema finally fr.close()
    }
    val fileColsSeq: Seq[String] =
      fullFileSchema.getFields.asScala.map(_.getName).toSeq
    // d58: per-file stored name for each projected column (rename
    // chain fallback); null = the file predates the column
    val storedNames: Array[String] =
      fields.map(f => storedIn(fileColsSeq, f._1).orNull)
    // every projected column postdates this file (ALTER-added, d51):
    // nothing to decode — null cells at footer-count cardinality
    if (!storedNames.exists(_ != null)) return countOnlyReader()
    // d66: columns this file stores NARROWER than the projection
    // (written before an ALTER COLUMN TYPE widen) — decode with the
    // stored accessor and upcast per value
    val narrowStored: Array[Boolean] = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      fields.zipWithIndex.map { case ((_, dt), i) =>
        storedNames(i) != null && {
          val prim = fullFileSchema
            .getType(Array(storedNames(i)): _*)
            .asPrimitiveType.getPrimitiveTypeName
          (dt == LongType && prim == PrimitiveTypeName.INT32) ||
            (dt == DoubleType && prim == PrimitiveTypeName.FLOAT)
        }
      }
    }
    new PartitionReader[InternalRow] {
      private val conf = new Configuration()
      // d83: per-slot path value for columns this file does NOT store
      // but carries in its value dirs (the demoted partition field)
      private val pathTail: Array[Any] = {
        val pv = IceLiteSource.pathPartValues(file)
        fields.map { case (n, dt) =>
          pv.get(n).map(IceLiteSource.dirSqlValue) match {
            case Some(v) if v != null &&
                (dt == StringType || dt == IntegerType || dt == LongType) =>
              IceLiteSource.dirTypedValue(v, dt)
            case _ => null
          }
        }
      }
      // project the read schema down to the required columns so the
      // parquet reader materializes only those pages; a column ABSENT
      // from this file (written before its ALTER TABLE ADD COLUMN,
      // d51) is null-filled per row below
      private val present: Array[Boolean] = {
        val want = storedNames.filter(_ != null).toSet
        val projected = new org.apache.parquet.schema.MessageType(
          fullFileSchema.getName,
          fullFileSchema.getFields.asScala.filter(f => want(f.getName)).asJava)
        conf.set(ReadSupport.PARQUET_READ_SCHEMA, projected.toString)
        storedNames.map(_ != null)
      }
      private val reader: ParquetReader[Group] =
        ParquetReader.builder(new GroupReadSupport(), new HPath(file))
          .withConf(conf).build()
      private val partTail: Array[Any] = partTail0
      private var cur: Group = _
      private var pos = -1L
      override def next(): Boolean = {
        while ({ cur = reader.read(); pos += 1; cur != null }) {
          val hit = dead.contains(pos)
          if (if (emitOnly) hit else !hit) return true
        }
        false
      }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(fields.length + partTail.length)
        var j = 0
        while (j < partTail.length) {
          row.update(fields.length + j, partTail(j)); j += 1
        }
        if (posSlot >= 0) row.update(posSlot, pos)
        var i = 0
        while (i < fields.length) {
          val name = storedNames(i) // d58: this file's stored name
          val dt = fields(i)._2
          if (!present(i)) {
            // d83: an absent column may be path-borne for THIS file
            // (demoted partition field mid-evolution)
            pathTail(i) match {
              case null => row.setNullAt(i)
              case v => row.update(i, v)
            }
          }
          else if (cur.getFieldRepetitionCount(name) == 0) row.setNullAt(i)
          else dt match {
            case LongType =>
              row.update(i, if (narrowStored(i)) cur.getInteger(name, 0).toLong
                else cur.getLong(name, 0))
            case IntegerType => row.update(i, cur.getInteger(name, 0))
            case DoubleType =>
              row.update(i, if (narrowStored(i)) cur.getFloat(name, 0).toDouble
                else cur.getDouble(name, 0))
            case BooleanType => row.update(i, cur.getBoolean(name, 0))
            case StringType =>
              row.update(i, UTF8String.fromString(cur.getString(name, 0)))
            case TimestampType | TimestampNTZType => // parquet INT64 micros
              row.update(i, cur.getLong(name, 0))
            case FloatType => row.update(i, cur.getFloat(name, 0))
            case DateType => // parquet INT32 epoch days
              row.update(i, cur.getInteger(name, 0))
            case BinaryType => row.update(i, cur.getBinary(name, 0).getBytes)
            // r15: decimal decodes per the FILE's physical backing
            // (int32 for p<=9, int64 for p<=18, binary/FLBA beyond —
            // Spark's own writer layout), scale-faithful to the
            // projection so eq-key HashSet equality holds
            case d: org.apache.spark.sql.types.DecimalType =>
              import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
              val v = fullFileSchema.getType(Array(name): _*)
                .asPrimitiveType.getPrimitiveTypeName match {
                case INT32 => org.apache.spark.sql.types.Decimal(
                  cur.getInteger(name, 0).toLong, d.precision, d.scale)
                case INT64 => org.apache.spark.sql.types.Decimal(
                  cur.getLong(name, 0), d.precision, d.scale)
                case _ => org.apache.spark.sql.types.Decimal(
                  BigDecimal(new java.math.BigDecimal(
                    new java.math.BigInteger(cur.getBinary(name, 0).getBytes),
                    d.scale)), d.precision, d.scale)
              }
              row.update(i, v)
            case other => throw new UnsupportedOperationException(
              s"icelite source reads primitive columns only, got $other for $name")
          }
          i += 1
        }
        row
      }
      override def close(): Unit = reader.close()
    }
  }
}
