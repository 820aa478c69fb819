package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}

/** The native streaming sink's exactly-once contract (s15): a
  * replayed epoch must not double-commit, and a restarted query must
  * resume from its checkpoint with a fresh StreamingWrite instance
  * reseeded from the manifest. */
class IceLiteStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.IceLiteSource"

  private def writeInfo(n: Int): PhysicalWriteInfo = new PhysicalWriteInfo {
    override def numPartitions(): Int = n
  }

  test("a replayed epoch commits once; its restage is dropped, not appended") {
    val wh = graft.GraftTmp.dir("v2snk_rp").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq((0L, 0.0)).toDF("k", "v"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    val sw = new IceLiteStreamingWrite(IceLiteWriteStage(ref), schema)
    val factory = sw.createStreamingWriterFactory(writeInfo(1))
    // task ids advance across attempts (Spark never reuses one within
    // a context), so a replayed epoch stages under a fresh file name
    var nextTask = 0L
    def stage(epoch: Long, rows: Seq[(Long, Double)]) = {
      val w = factory.createWriter(0, { nextTask += 1; nextTask }, epoch)
      rows.foreach { case (k, v) => w.write(InternalRow(k, v)) }
      Array(w.commit())
    }
    sw.commit(0L, stage(0L, Seq((1L, 1.0), (2L, 2.0))))
    val afterFirst = IceLite.readManifest(ref)
    assert(afterFirst.current.rowCount == 3)
    // the crash-replay: Spark re-runs epoch 0 with at-least-once
    // delivery; the sink must detect the committed marker and drop
    // the restaged files instead of appending them again
    sw.commit(0L, stage(0L, Seq((1L, 1.0), (2L, 2.0))))
    val afterReplay = IceLite.readManifest(ref)
    assert(afterReplay.current.rowCount == 3, "replayed epoch double-committed")
    assert(afterReplay.snapshots.size == afterFirst.snapshots.size,
      "replayed epoch produced a new snapshot")
    // the restage must not leak as orphan bytes either
    val dataFiles = IceLite.listDir(Files.walk(ref.dataDir))(_
      .filter(p => p.toString.endsWith(".parquet")).toSeq)
    assert(dataFiles.size == afterReplay.current.files.size,
      s"restaged files leaked: $dataFiles vs manifest ${afterReplay.current.files}")
    // a new epoch still lands
    sw.commit(1L, stage(1L, Seq((3L, 3.0))))
    assert(IceLite.readManifest(ref).current.rowCount == 4)
  }

  test("partitioned streaming sink: value dirs, epoch markers, replay-once (s21)") {
    val wh = graft.GraftTmp.dir("v2snk_part").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplacePartitioned(ref,
      Seq((0L, "z")).toDF("k", "p"), "p")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", StringType)))
    val sw = new IceLiteStreamingWrite(IceLiteWriteStage(ref), schema)
    val factory = sw.createStreamingWriterFactory(writeInfo(1))
    var nextTask = 0L
    def stage(epoch: Long, rows: Seq[(Long, String)]) = {
      val w = factory.createWriter(0, { nextTask += 1; nextTask }, epoch)
      rows.foreach { case (k, p) =>
        w.write(InternalRow(k, org.apache.spark.unsafe.types.UTF8String.fromString(p))) }
      Array(w.commit())
    }
    sw.commit(0L, stage(0L, Seq((1L, "a"), (2L, "b"))))
    val after = IceLite.readManifest(ref)
    assert(after.current.rowCount == 3)
    assert(after.current.partitionCols == Seq("p"))
    val newFiles = after.current.files.filterNot(
      after.snapshots.head.files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      f.contains("p=a") || f.contains("p=b")), s"$newFiles")
    assert(after.current.summary.get(IceLiteStreamingWrite.EpochKey)
      .contains("0"))
    // replayed epoch drops its restage
    sw.commit(0L, stage(0L, Seq((1L, "a"), (2L, "b"))))
    val replay = IceLite.readManifest(ref)
    assert(replay.current.rowCount == 3, "replayed epoch double-committed")
    val dataFiles = IceLite.listDir(Files.walk(ref.dataDir))(_
      .filter(p => p.toString.endsWith(".parquet")).toSeq)
    assert(dataFiles.size == replay.current.files.size,
      s"restaged files leaked: $dataFiles vs ${replay.current.files}")
  }

  test("restart from checkpoint: new files commit, old epochs stay single") {
    val wh = graft.GraftTmp.dir("v2snk_rs").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref,
      Seq((-1L, -1.0)).toDF("k", "v"))  // schema seed, filtered below
    val src = graft.GraftTmp.dir("v2snk_src").toString
    val ckpt = graft.GraftTmp.dir("v2snk_ck").toString
    def addFile(name: String, rows: Seq[(Long, Double)], mtime: Long): Unit = {
      val staging = graft.GraftTmp.dir("v2snk_stage")
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
        .parquet(staging.toString)
      val part = IceLite.listDir(Files.list(staging))(_
        .find(p => p.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))).get
      val dest = Paths.get(src, name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    addFile("b0.parquet", Seq((1L, 1.0), (2L, 2.0)), now - 60000)
    addFile("b1.parquet", Seq((3L, 3.0)), now - 30000)
    val sch = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format(Fmt).outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(ref.dir.toString)
      q.awaitTermination()
    }
    run()
    val firstRows = IceLite.read(spark, ref).filter($"k" > 0)
      .as[(Long, Double)].collect().toSet
    assert(firstRows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // grow the source, restart sharing the checkpoint: only the new
    // file lands; a fresh StreamingWrite reseeds committed epochs
    // from the manifest, so nothing from run 1 re-commits
    addFile("b2.parquet", Seq((4L, 4.0)), now)
    run()
    val rows = IceLite.read(spark, ref).filter($"k" > 0)
      .as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    val epochs = IceLite.readManifest(ref).snapshots
      .flatMap(_.summary.get(IceLiteStreamingWrite.EpochKey))
    assert(epochs.distinct.size == epochs.size,
      s"duplicate epoch markers: $epochs")
    assert(epochs.size == 3, s"expected 3 data epochs, got $epochs")
  }
}
