package graft.sources

import java.util.UUID
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import graft.icelite.{IceLite, TableRef}

import scala.jdk.CollectionConverters._

/** d70: the staged half of ATOMIC `CREATE [OR REPLACE] TABLE … AS
  * SELECT`. Spark writes the SELECT's rows through this table's write
  * builder FIRST (files land invisibly under `data/<token>/`, or its
  * Hive value dirs for a partitioned target), then calls
  * [[commitStagedChanges]] — which performs the single CAS manifest
  * commit that makes the new table visible. A failure at any earlier
  * point reaches [[abortStagedChanges]] and the old table was never
  * touched — the atomicity Iceberg's catalog gives REPLACE TABLE, vs
  * the non-atomic drop-then-create fallback. */
class IceLiteStagedTable(ref: TableRef, declared: StructType,
    partitionCols: Seq[String], mustNotExist: Boolean, mustExist: Boolean,
    transformSpec: Seq[graft.icelite.PartitionField] = Nil,
    properties: Map[String, String] = Map.empty)
  extends StagedTable with SupportsWrite {
  require(partitionCols.isEmpty || transformSpec.isEmpty,
    "a staged table has either an identity layout or a transform spec")

  private val token = UUID.randomUUID.toString.take(8)
  @volatile private var staged: Seq[String] = Nil

  override def name(): String = s"icelite.${ref.namespace}.${ref.name} (staged)"
  override def schema(): StructType = declared
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (transformSpec.nonEmpty)
      transformSpec.map { f =>
        f.transform match {
          case "bucket" => Expressions.bucket(f.param, f.sourceCol)
          case "days" => Expressions.days(f.sourceCol)
          case "years" => Expressions.years(f.sourceCol)
          case "months" => Expressions.months(f.sourceCol)
          case "hours" => Expressions.hours(f.sourceCol)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(f.param), Expressions.column(f.sourceCol))
        }
      }.toArray
    else partitionCols.map(Expressions.identity).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // ACCEPT_ANY_SCHEMA suppresses Spark's output-column reordering, so
    // rows arrive in the QUERY's layout — info.schema() — not in the
    // reordered `declared` (partition cols last, path-typed). Writers
    // MUST bind to the query layout; partition columns are located by
    // NAME inside it. Binding to `declared` positionally silently
    // swaps columns whenever the SELECT lists a partition column
    // anywhere but last.
    val querySchema = info.schema()
    partitionCols.foreach(c => require(querySchema.fieldNames.contains(c),
      s"CTAS query output has no partition column '$c' " +
        s"(query columns: ${querySchema.fieldNames.mkString(", ")})"))
    transformSpec.foreach { f =>
      require(querySchema.fieldNames.contains(f.sourceCol),
        s"CTAS query output has no transform source column '${f.sourceCol}' " +
          s"(query columns: ${querySchema.fieldNames.mkString(", ")})")
      require(!querySchema.fieldNames.contains(f.name),
        s"derived partition name '${f.name}' collides with a query column")
    }
    // capture the SESSION timezone at plan time for days() dirs
    val tz = org.apache.spark.sql.SparkSession.active
      .sessionState.conf.sessionLocalTimeZone
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // the staged table is empty by definition — CTAS "overwrite"
      // modes degrade to the same fresh write
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write with BatchWrite {
        override def toBatch: BatchWrite = this
        override def description(): String = s"IceLiteStagedWrite ${ref.name}"
        override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
          java.nio.file.Files.createDirectories(ref.dataDir.resolve(token))
          if (transformSpec.nonEmpty)
            // d84: hidden-partition CTAS — derive value dirs per row
            new IceLiteTransformedWriterFactory(
              ref.dataDir.resolve(token).toString, querySchema,
              transformSpec, tz)
          else if (partitionCols.nonEmpty)
            new IceLitePartitionedWriterFactory(
              ref.dataDir.resolve(token).toString, querySchema, partitionCols)
          else
            new IceLiteWriterFactory(ref.dataDir.resolve(token).toString,
              querySchema)
        }
        // records the staged set; the MANIFEST commit waits for
        // commitStagedChanges so the whole statement stays atomic
        override def commit(messages: Array[WriterCommitMessage]): Unit =
          staged =
            if (partitionCols.nonEmpty || transformSpec.nonEmpty)
              messages.collect {
                case IceLitePartitionedCommitMessage(fs) => fs
              }.flatten.toSeq
            else messages.collect {
              case IceLiteCommitMessage(n) if n != null => n
            }.toSeq.sorted
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          abortStagedChanges()
      }
    }
  }

  override def commitStagedChanges(): Unit = {
    val files =
      if (partitionCols.nonEmpty || transformSpec.nonEmpty)
        IceLite.promoteStagedPartitioned(ref, token, staged)
      else staged.map(n => s"data/$token/$n")
    commitTable(files)
  }

  /** The atomic publish of the staged table — ONE manifest commit.
    * The REST attachment overrides this to route the same commit
    * through the catalog service (staging stays data-plane). */
  protected def commitTable(files: Seq[String]): Unit = {
    IceLite.replaceTableStaged(ref, files, partitionCols,
      declared.toDDL, mustNotExist, mustExist, transformSpec, properties)
    ()
  }

  override def abortStagedChanges(): Unit = {
    val dir = ref.dataDir.resolve(token)
    if (java.nio.file.Files.exists(dir))
      IceLite.listDir(java.nio.file.Files.walk(dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
  }
}
