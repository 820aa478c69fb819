package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.GraftTmp
import graft.icelite.{IceLite, IngestJob, TableRef, TransformRegistry}

/** The reference's own program on a schedule. Each step makes one
  * Airbyte-style drop (one month of lineitem) visible and runs the
  * incremental load and, as the reference does after every load,
  * snapshot expiry with a three-day cutoff, one step being one day;
  * then a read-your-write check. Every fourth step also runs the dbt
  * incremental model, a SQL DELETE, and probes SQL UPDATE and MERGE;
  * every eighth step compacts. The table is merge-on-read for all
  * three row-level statements.
  *
  * The generator keeps a model of the table (live rows keyed by order
  * key and line number, and their summed row hash), and every read-back
  * must equal it. */
final class EltCycle(spark: SparkSession, seed: Long) extends Workload {
  val RowsPerDrop = 7000
  // The reference expires after every load with a three-day cutoff
  // (extract_load.py:167-171). Model, DELETE and compaction cadences
  // have no source in the reference; they are chosen.
  val RetentionSteps = 3
  val MaintainEvery = 4
  val CompactEvery = 8
  val WarmupSteps = 4
  val StageAhead = 24

  private var tables = 0
  private var dir: Path = _
  private var wh: Path = _
  private var src: Path = _
  private var cat = ""
  private def table = s"$cat.src.lineitem"
  private def ref: TableRef = IngestJob.tableRef(wh.toString, "lineitem")
  private def martRef = TableRef(wh.toString, "marts", "monthly_revenue_inc")

  // the generator's model of the table
  private val live = mutable.LongMap.empty[Gen.Line]
  private var liveHash = 0L
  private val mart = mutable.TreeMap.empty[String, (Long, BigDecimal)]
  private var rnd: SplittableRandom = _
  private var stepNo = 0
  private var merges = 0
  private var loadedBytes = 0L
  // lineitem snapshots alive, and snapshots committed in each of the
  // last RetentionSteps expiry intervals (the newest one still open)
  private var liveSnaps = 0
  private val windowCommits = mutable.Queue(0)

  // traced-run census of the warehouse, refreshed after each commit
  private val seenFiles = mutable.HashMap.empty[Path, Long]
  private var writtenMeta = 0L
  private var writtenData = 0L
  private var commits = 0
  private val manifestProbeS = mutable.ArrayBuffer.empty[Double]

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d.resolve("staging"))
    (0 until StageAhead).foreach(stage)
    freshTable()
  }

  /** Warm up with a short cycle that reaches every op kind, on a
    * throwaway warehouse, then start the measured run on a fresh one. */
  def prepare(): Unit = {
    val warm = new Ledger(spark, traced = false)
    (0 until WarmupSteps).foreach(_ => step(warm))
    compact(warm)
    freshTable()
  }

  private def freshTable(): Unit = {
    if (wh != null) Main.deleteTree(wh)
    if (src != null) Main.deleteTree(src)
    src = Files.createDirectories(dir.resolve("source"))
    wh = GraftTmp.dir("perfbench-elt-")
    tables += 1
    cat = s"elt$tables"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    Gen.registerRowHash(spark)
    live.clear(); liveHash = 0L; mart.clear()
    rnd = new SplittableRandom(seed)
    stepNo = 0; merges = 0; loadedBytes = 0L
    liveSnaps = 0; windowCommits.clear(); windowCommits += 0
    seenFiles.clear(); writtenMeta = 0L; writtenData = 0L; commits = 0
    manifestProbeS.clear()
  }

  private def staged(i: Int): Path = dir.resolve("staging").resolve(f"drop_$i%05d.parquet")

  /** Generate drop `i` as one parquet file in the staging dir. */
  private def stage(i: Int): Path = {
    val tmp = dir.resolve("staging").resolve(s"tmp-$i")
    Gen.lineDf(spark, Gen.lineBatch(seed, i, RowsPerDrop).toSeq).coalesce(1)
      .write.parquet(tmp.toString)
    val part = IceLite.listDir(Files.list(tmp))(_.find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.move(part, staged(i))
    Main.deleteTree(tmp)
    staged(i)
  }

  /** Drop `i` appears in the source dir in one rename, the way a
    * loader's drop does. Untimed. */
  private def makeVisible(i: Int): (String, Array[Gen.Line], Long) = {
    val from = if (Files.exists(staged(i))) staged(i) else stage(i)
    val name = from.getFileName.toString
    val tmp = src.resolve(s".$name.tmp")
    Files.copy(from, tmp)
    Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    (name, Gen.lineBatch(seed, i, RowsPerDrop), Files.size(from))
  }

  private def addRow(l: Gen.Line): Unit = {
    live.put(l.key, l).foreach(old => liveHash -= old.hash)
    liveHash += l.hash
  }
  private def committed(): Unit = {
    liveSnaps += 1
    windowCommits(windowCommits.size - 1) += 1
  }
  private def dropRow(key: Long): Unit = live.remove(key).foreach(old => liveHash -= old.hash)
  private def keysIn(lo: Long, hi: Long): Seq[Long] =
    (lo to hi).flatMap(ok => (1 to 7).map(ln => Gen.lineKey(ok, ln))).filter(live.contains)

  private def checkSum(rows: Array[Row]): Option[String] = {
    val (n, h) = (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1))
    if (n == live.size && h == liveHash) None
    else Some(s"table has $n rows / hash $h, model has ${live.size} / $liveHash")
  }

  /** Read-your-write check through the engine face: row count and
    * summed row hash of the whole table must equal the model. */
  private def readback(ledger: Ledger): Unit =
    ledger.op("readback") {
      val df = ledger.span("IceLite.read")(IceLite.read(spark, ref))
        .selectExpr("count(*)", s"sum(${Gen.rowHashSql})")
      val rows = df.collect()
      if (ledger.traced) ledger.planning(df)
      rows
    }(checkSum)

  /** The same check as SQL through the catalog. A probe: at HEAD the
    * connector refuses to read the TIMESTAMP_NTZ column while position
    * deletes are live. */
  private def sqlReadback(ledger: Ledger): Unit =
    ledger.op("sql_readback", probe = true) {
      ledger.sql(s"SELECT count(*), sum(${Gen.rowHashSql}) FROM $table")(_.collect())
    }(checkSum)

  /** A key range inside one earlier drop: `span` consecutive orders. */
  private def rangeInEarlierDrop(span: Int): (Long, Long) = {
    val d = rnd.nextInt(math.max(1, stepNo))
    val base = Gen.orderBase(d) + rnd.nextInt(RowsPerDrop / 8)
    (base, base + span - 1)
  }

  def step(ledger: Ledger): Unit = {
    val i = stepNo
    stepNo += 1
    val (name, lines, bytes) = makeVisible(i)
    ledger.op("load") {
      val r = ledger.span("IngestJob.run")(
        IngestJob.run(spark, wh.toString, "lineitem", src.toString, "incremental"))
      ledger.attr("rows", r.rowsLoaded.toDouble)
      r
    } { r =>
      if (r.filesLoaded == Seq(name) && r.rowsLoaded == lines.length) None
      else Some(s"loaded ${r.filesLoaded.mkString(",")} / ${r.rowsLoaded} rows, expected $name / ${lines.length}")
    }.foreach { _ =>
      lines.foreach(addRow)
      loadedBytes += bytes
      committed()
    }
    afterCommit(ledger)
    expire(ledger)
    if (i == 0) {
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
    }
    readback(ledger)

    if (i % MaintainEvery == MaintainEvery - 1) {
      runModel(ledger)

      val (dlo, dhi) = rangeInEarlierDrop(12)
      ledger.op("delete") {
        ledger.sql(s"DELETE FROM $table WHERE l_orderkey BETWEEN $dlo AND $dhi")(_.collect())
      }(_ => None).foreach { _ =>
        val gone = keysIn(dlo, dhi)
        gone.foreach(dropRow)
        if (gone.nonEmpty) committed() // a DELETE that matches nothing commits nothing
      }
      afterCommit(ledger)
      readback(ledger)
      sqlReadback(ledger)

      val (ulo, uhi) = rangeInEarlierDrop(8)
      ledger.op("update", probe = true) {
        ledger.sql(s"UPDATE $table SET l_quantity = l_quantity + 1 " +
          s"WHERE l_orderkey BETWEEN $ulo AND $uhi")(_.collect())
      }(_ => None).foreach { _ =>
        val hit = keysIn(ulo, uhi)
        hit.foreach { k => val l = live(k); addRow(l.copy(quantity = l.quantity + 1)) }
        if (hit.nonEmpty) committed()
      }
      readback(ledger)

      mergeProbe(ledger)
      readback(ledger)
    }
    if (i % CompactEvery == CompactEvery - 1) compact(ledger)
  }

  private def compact(ledger: Ledger): Unit = {
    ledger.op("compact") {
      ledger.span("IceLite.compact")(IceLite.compact(spark, ref))
    }(_ => None).foreach(_ => committed())
    afterCommit(ledger)
    readback(ledger)
  }

  /** The reference's retention after a load: expire snapshots older
    * than three days. With one step a day, the snapshots younger than
    * that are the ones committed since the expiry three steps ago, so
    * their count is the number to keep. */
  private def expire(ledger: Ledger): Unit = {
    val keep = math.max(1, windowCommits.sum)
    val want = math.max(0, liveSnaps - keep)
    ledger.op("expire") {
      ledger.span("IceLite.expireSnapshotsRetainLast")(IceLite.expireSnapshotsRetainLast(ref, keep))
    } { gone =>
      if (gone.size == want) None
      else Some(s"expired ${gone.size} snapshots, model expected $want of $liveSnaps keeping $keep")
    }.foreach(_ => liveSnaps -= want)
    windowCommits += 0
    if (windowCommits.size > RetentionSteps) windowCommits.dequeue()
    afterCommit(ledger)
  }

  /** The dbt incremental model: months past the mart's high-water mark
    * are aggregated from the rows live at run time. */
  private def runModel(ledger: Ledger): Unit = {
    val hwm = mart.lastOption.map(_._1).getOrElse("")
    val fresh = live.values.groupBy(l =>
        f"${l.shipdate.getYear}%04d-${l.shipdate.getMonthValue}%02d")
      .filter(_._1 > hwm).map { case (m, ls) =>
        m -> (ls.size.toLong, ls.foldLeft(BigDecimal(0)) { (acc, l) =>
          acc + BigDecimal(l.extendedprice * (1.0 - l.discount))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP) })
      }
    ledger.op("model") {
      ledger.span("IceLite.read")(IceLite.read(spark, ref)).createOrReplaceTempView("lineitem")
      ledger.span("TransformRegistry.runAll")(
        TransformRegistry.runAll(spark, wh.toString, TransformRegistry.incrementalModels))
    } { _ =>
      val want = mart ++ fresh
      val got = IceLite.read(spark, martRef).collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(1))).toMap
      val bad = want.filter { case (m, (n, rev)) =>
        !got.get(m).contains((n, rev.toDouble)) }
      if (got.size == want.size && bad.isEmpty) None
      else Some(s"mart has ${got.size} months, model ${want.size}; first mismatch ${bad.headOption}")
    }.foreach(_ => mart ++= fresh)
  }

  /** MERGE: new tax on a few existing lines, plus a few new lines in a
    * key space no drop uses. */
  private def mergeProbe(ledger: Ledger): Unit = {
    val (lo, hi) = rangeInEarlierDrop(4)
    val matched = keysIn(lo, hi).map(k => live(k)).map(l => l.copy(tax = (math.round(l.tax * 100) + 1) % 9 / 100.0))
    val cur = stepNo - 1
    val fresh = Gen.lineBatch(seed, cur, RowsPerDrop).take(8).map(l =>
      l.copy(orderkey = Gen.orderBase(4096 + merges) + l.orderkey - Gen.orderBase(cur)))
    merges += 1
    Gen.lineDf(spark, matched ++ fresh).createOrReplaceTempView("merge_src")
    ledger.op("merge", probe = true) {
      ledger.sql(s"MERGE INTO $table t USING merge_src s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET l_tax = s.l_tax " +
        "WHEN NOT MATCHED THEN INSERT *")(_.collect())
    }(_ => None).foreach { _ => (matched ++ fresh).foreach(addRow); committed() }
  }

  /** Traced runs: after each commit, probe one manifest read and diff
    * the listing of the whole warehouse (lineitem, the loader's state
    * table and the dbt mart) to count the bytes the commit wrote. */
  private def afterCommit(ledger: Ledger): Unit = if (ledger.traced && IceLite.tableExists(ref)) {
    commits += 1
    val s = System.nanoTime()
    IceLite.readManifest(ref)
    manifestProbeS += (System.nanoTime() - s) / 1e9
    val walk = Files.walk(wh)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      if (!seenFiles.contains(p)) {
        val sz = Files.size(p)
        seenFiles(p) = sz
        if (isData(p)) writtenData += sz else writtenMeta += sz
      }
    } finally walk.close()
  }

  /** Data and delete files sit under `<namespace>/<table>/{data,deletes}`. */
  private def isData(p: Path): Boolean = {
    val rel = wh.relativize(p)
    rel.getNameCount > 3 && Set("data", "deletes")(rel.getName(2).toString)
  }

  def opP50S(ops: Seq[OpRec]): Double =
    Stats.median(ops.filter(o => o.ok && o.kind == "load").map(_.wallS))

  def workPerS(ops: Seq[OpRec]): Double = {
    val loads = ops.filter(o => o.ok && o.kind == "load")
    if (loads.isEmpty) 0.0 else loads.map(_.attr("rows")).sum / loads.map(_.wallS).sum
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val m = IceLite.readManifest(ref)
    val cur = m.current
    val warehouseBytes = Main.dirBytes(wh)
    Map(
      "icelite.metadata_bytes_per_commit" -> (if (commits == 0) 0.0 else writtenMeta.toDouble / commits),
      "icelite.snapshots" -> m.snapshots.size.toDouble,
      "icelite.live_files" -> cur.files.size.toDouble,
      "icelite.delete_files" -> (cur.deleteFiles.size + cur.eqDeletes.size).toDouble,
      "icelite.write_amp" -> (writtenData + writtenMeta).toDouble / math.max(1L, loadedBytes),
      "icelite.space_amp" -> warehouseBytes.toDouble / math.max(1L, loadedBytes),
      "icelite.read_manifest_s" -> Stats.median(manifestProbeS.toSeq))
  }
}
