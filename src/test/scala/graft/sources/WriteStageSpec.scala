package graft.sources

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.TestSpark
import graft.icelite.{IceLite, PartitionField, TableRef}

/** The write stage every connector write stages through: an aborted
  * write of any kind and layout leaves nothing behind, and committed
  * writes leave no file in the table's storage that no snapshot
  * references (no `.crc` checksum files beside staged parquet). */
class WriteStageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", DoubleType), StructField("d", StringType)))

  private def info(s: StructType): LogicalWriteInfo = new LogicalWriteInfo {
    override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    override def queryId(): String = "write-stage-spec"
    override def schema(): StructType = s
  }
  private val physical: PhysicalWriteInfo = new PhysicalWriteInfo {
    override def numPartitions(): Int = 2
  }

  private def row(k: Long): InternalRow =
    InternalRow(k, k * 0.5, UTF8String.fromString(s"p${k % 3}"))

  private def catalog(): (String, String) = {
    val wh = graft.GraftTmp.dir("stage_wh").toString
    val name = s"stagecat_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    IceLite.createNamespace(wh, "src")
    (name, wh)
  }

  private val layouts = Seq(
    "flat" -> "",
    "identity" -> "PARTITIONED BY (d)",
    "bucket" -> "PARTITIONED BY (bucket(4, k))")

  /** Every path under the table's data/ and deletes/ dirs. */
  private def tree(ref: TableRef): Set[Path] =
    Seq(ref.dataDir, ref.deletesDir).filter(Files.exists(_)).flatMap(d =>
      IceLite.listDir(Files.walk(d))(_.toSet)).toSet

  /** Two tasks' worth of rows through `create(partitionId, taskId)`. */
  private def writeTasks(create: (Int, Long) => org.apache.spark.sql
      .connector.write.DataWriter[InternalRow]): Array[WriterCommitMessage] =
    (0 until 2).map { p =>
      val w = create(p, p.toLong)
      (0L until 6L).filter(_ % 2 == p).foreach(k => w.write(row(k)))
      w.commit()
    }.toArray

  test("an aborted write of every kind and layout leaves no stage behind") {
    val (cat, wh) = catalog()
    for ((layout, ddl) <- layouts) {
      val ref = TableRef(wh, "src", s"t_$layout")
      spark.sql(s"CREATE TABLE $cat.src.t_$layout (k BIGINT, v DOUBLE, d STRING) $ddl")
      spark.sql(s"INSERT INTO $cat.src.t_$layout VALUES (100, 1.0, 'p1')")
      // the table-level deletes/ dir is not stage residue
      Files.createDirectories(ref.deletesDir)
      val before = tree(ref)
      def clean(kind: String): Unit =
        assert(tree(ref) == before,
          s"$layout $kind abort left ${(tree(ref) -- before).toSeq.sorted}")
      def fail(req: graft.icelite.CommitReq): Unit =
        throw new AssertionError(s"an aborted write committed $req")

      val batch = new IceLiteWriteBuilder(ref, info(schema), fail)
        .build().toBatch
      val bf = batch.createBatchWriterFactory(physical)
      batch.abort(writeTasks(bf.createWriter))
      clean("INSERT")

      val replace = new IceLiteRowLevelOperation(ref, schema,
        RowLevelOperation.Command.UPDATE, fail)
        .newWriteBuilder(info(schema)).build().toBatch
      val rf = replace.createBatchWriterFactory(physical)
      replace.abort(writeTasks(rf.createWriter))
      clean("copy-on-write rewrite")

      val delta = new IceLiteDeltaOperation(ref, schema,
        RowLevelOperation.Command.UPDATE).newWriteBuilder(info(schema))
        .build().toBatch
      val df = delta.createBatchWriterFactory(physical)
      val target = UTF8String.fromString(
        ref.dir.resolve(IceLite.readManifest(ref).current.files.head).toString)
      delta.abort(writeTasks { (p, t) =>
        val w = df.createWriter(p, t)
        w.delete(InternalRow.empty, InternalRow(target, p.toLong))
        new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
          override def write(r: InternalRow): Unit = w.insert(r)
          override def commit(): WriterCommitMessage = w.commit()
          override def abort(): Unit = w.abort()
          override def close(): Unit = w.close()
        }
      })
      clean("merge-on-read delta")

      val streamWrite = new IceLiteWriteBuilder(ref, info(schema), fail).build()
      // the streaming sink refuses hidden-partition layouts at build time
      if (layout == "bucket")
        intercept[IllegalArgumentException](streamWrite.toStreaming)
      else {
        val stream = streamWrite.toStreaming
        val sf = stream.createStreamingWriterFactory(physical)
        stream.abort(7L, writeTasks((p, t) => sf.createWriter(p, t, 7L)))
        clean("streaming epoch")
      }

      val (cols, spec) = layout match {
        case "flat" => (Nil, Nil)
        case "identity" => (Seq("d"), Nil)
        case _ => (Nil, Seq(PartitionField("k_bucket", "bucket", "k", 4)))
      }
      val ctas = TableRef(wh, "src", s"ctas_$layout")
      val staged = new IceLiteStagedTable(ctas, schema, cols, spec,
        files => fail(graft.icelite.CommitReq("create", files)))
      val sw = staged.newWriteBuilder(info(schema)).build().toBatch
      val cf = sw.createBatchWriterFactory(physical)
      sw.abort(writeTasks(cf.createWriter))
      assert(tree(ctas).forall(_ == ctas.dataDir),
        s"$layout CTAS abort left ${tree(ctas)}")
    }
  }

  test("committed writes leave only manifest-referenced files in the table's storage") {
    val (cat, wh) = catalog()
    for ((layout, ddl) <- layouts.take(2)) {
      val t = s"$cat.src.r_$layout"
      val ref = TableRef(wh, "src", s"r_$layout")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE, d STRING) $ddl")
      spark.sql(s"INSERT INTO $t SELECT id, id * 0.5, concat('p', id % 3) " +
        "FROM range(0, 40)")
      spark.sql(s"UPDATE $t SET v = v + 1 WHERE k % 4 = 0")
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        "('write.update.mode' = 'merge-on-read')")
      spark.sql(s"UPDATE $t SET v = v + 2 WHERE k % 5 = 0")
      val m = IceLite.readManifest(ref)
      assert(m.current.deleteFiles.nonEmpty,
        s"$layout: the UPDATE did not run merge-on-read")
      val stream = new IceLiteWriteBuilder(ref, info(schema),
        _ => throw new AssertionError("streaming commits in-process"))
        .build().toStreaming
      val sf = stream.createStreamingWriterFactory(physical)
      stream.commit(0L, writeTasks((p, task) => sf.createWriter(p, task, 0L)))

      assert(spark.table(t).count() == 46L)
      val all = IceLite.readManifest(ref)
      val referenced = all.snapshots.flatMap(s =>
        s.files ++ s.deleteFiles ++ s.eqDeletes.map(_.file)).toSet
      val stray = tree(ref).filter(Files.isRegularFile(_))
        .map(p => ref.dir.relativize(p).toString).filterNot(referenced)
      assert(stray.isEmpty, s"$layout: unreferenced files ${stray.toSeq.sorted}")
    }
  }
}
