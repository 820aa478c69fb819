package graft.sources

import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import graft.icelite.TableRef

import scala.jdk.CollectionConverters._

/** d70: the staged half of ATOMIC `CREATE [OR REPLACE] TABLE … AS
  * SELECT`. Spark writes the SELECT's rows through this table's write
  * builder FIRST (files land invisibly under `data/<token>/`, or its
  * Hive value dirs for a partitioned target), then calls
  * [[commitStagedChanges]] — which promotes the staged files and hands
  * them to `publish`, the single commit that makes the new table
  * visible (the owning catalog's CAS `replaceTableStaged`, or the REST
  * attachment's create-staged POST). A failure at any earlier point
  * reaches [[abortStagedChanges]] and the old table was never touched
  * — the atomicity Iceberg's catalog gives REPLACE TABLE, vs the
  * non-atomic drop-then-create fallback. */
class IceLiteStagedTable(ref: TableRef, declared: StructType,
    partitionCols: Seq[String], transformSpec: Seq[graft.icelite.PartitionField],
    publish: Seq[String] => Unit)
  extends StagedTable with SupportsWrite {
  require(partitionCols.isEmpty || transformSpec.isEmpty,
    "a staged table has either an identity layout or a transform spec")

  private val stage = new IceLiteWriteStage(ref, partitionCols, transformSpec,
    sortCol = None)
  @volatile private var staged: Array[WriterCommitMessage] = Array.empty

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
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // the staged table is empty by definition — CTAS "overwrite"
      // modes degrade to the same fresh write
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write with BatchWrite {
        override def toBatch: BatchWrite = this
        override def description(): String = s"IceLiteStagedWrite ${ref.name}"
        override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
          stage.factory(querySchema)
        // records the staged set; promotion and the MANIFEST commit
        // wait for commitStagedChanges so the whole statement stays
        // atomic
        override def commit(messages: Array[WriterCommitMessage]): Unit =
          staged = messages
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          abortStagedChanges()
      }
    }
  }

  override def commitStagedChanges(): Unit = publish(stage.files(staged))

  override def abortStagedChanges(): Unit = stage.abort()
}
