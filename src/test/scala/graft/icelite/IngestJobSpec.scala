package graft.icelite

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.TestSpark

/** Property tests for the ELT pipeline (SURVEY §5.2.4) — the core
  * correctness claim of the reference's incremental loader
  * (/root/reference/scripts/extract_load.py:154-165): loading in any
  * batching order must equal one full load of all files. */
class IngestJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Write rows [0, n) as parquet source files named f_<i>.parquet,
    * partitioned per `split` (sizes summing to file count). */
  private def makeSource(groups: Seq[Seq[Int]]): String = {
    val src = graft.GraftTmp.dir("ingest_spec_src").toString
    groups.zipWithIndex.foreach { case (rows, i) =>
      val staging = graft.GraftTmp.dir("ingest_spec_stage")
      rows.toDF("k").coalesce(1).write.mode("overwrite").parquet(staging.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(staging).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(src, f"f_$i%03d.parquet"))
    }
    src
  }

  test("incremental loading in random batch visibility orders ≡ one full load") {
    // files hold disjoint row groups; reveal them to the loader in
    // random prefixes and run incremental after each reveal
    val gen = for {
      nFiles <- Gen.choose(2, 5)
      rowsPerFile <- Gen.choose(1, 4)
      revealSteps <- Gen.choose(1, nFiles)
    } yield (nFiles, rowsPerFile, revealSteps)

    (0 until 5).foreach { trial =>
      val (nFiles, rowsPerFile, revealSteps) =
        gen.pureApply(Gen.Parameters.default, Seed(42L + trial))
      val groups = (0 until nFiles).map(i =>
        (i * rowsPerFile until (i + 1) * rowsPerFile).toSeq)
      val fullSrc = makeSource(groups)
      val wh = graft.GraftTmp.dir("ingest_spec_wh").toString

      // visible source grows over time, like an object-store prefix
      val visible = graft.GraftTmp.dir("ingest_spec_vis").toString
      val names = IngestJob.listSourceFiles(fullSrc)
      val cut = names.grouped(math.max(1, names.size / revealSteps)).toSeq
      cut.foreach { batch =>
        batch.foreach(n =>
          Files.copy(Paths.get(fullSrc, n), Paths.get(visible, n)))
        IngestJob.run(spark, wh, "t", visible, "incremental", retentionMs = -1)
      }
      // one extra run: nothing new, must be a no-op
      val last = IngestJob.run(spark, wh, "t", visible, "incremental", retentionMs = -1)
      assert(last.filesLoaded.isEmpty)

      val got = IceLite.read(spark, IngestJob.tableRef(wh, "t"))
        .as[Int].collect().sorted.toSeq
      assert(got == (0 until nFiles * rowsPerFile).toSeq,
        s"incremental(${cut.map(_.size).mkString("+")}) ≠ full")
      assert(IngestJob.loadedFiles(spark, wh, "t") == names.toSet)
    }
  }

  test("incremental model materialization in any month-split ≡ full rebuild") {
    // the a16 invariant, property-tested: reveal an append-only source
    // month by month in random split points, run the incremental model
    // after each reveal — the mart must equal a single full build over
    // everything, and the manifest must be one create + appends (no
    // rebuild ever ran)
    val model = TransformRegistry.Model("inc_mart", Nil,
      """SELECT m AS month, CAST(SUM(v) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM inc_src GROUP BY m""",
      materialization = "incremental", watermarkCol = Some("month"))
    val months = (1 to 8).map(m => f"2024-$m%02d")
    val rows = months.zipWithIndex.flatMap { case (m, i) =>
      (0 to i).map(j => (m, i * 10 + j)) }

    (0 until 4).foreach { trial =>
      val splits = Gen.someOf(1 until months.size)
        .pureApply(Gen.Parameters.default, Seed(7L + trial))
        .toSeq.sorted :+ months.size
      val wh = graft.GraftTmp.dir("inc_model_wh").toString
      var from = 0
      splits.foreach { to =>
        val visible = months.take(to).toSet
        rows.filter(r => visible(r._1)).toDF("m", "v")
          .createOrReplaceTempView("inc_src")
        TransformRegistry.runAll(spark, wh, Seq(model))
        from = to
      }
      val ref = TableRef(wh, "marts", "inc_mart")
      val got = IceLite.read(spark, ref)
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      val expected = months.zipWithIndex.map { case (m, i) =>
        (m, (0 to i).map(i * 10 + _).sum.toLong, (i + 1).toLong) }
      assert(got == expected,
        s"incremental(splits=$splits) ≠ full rebuild: $got")
      val ops = IceLite.readManifest(ref).snapshots.map(_.operation)
      assert(ops.head == "create" && ops.tail.forall(_ == "append"),
        s"incremental runs must append, got $ops")
    }
  }

  test("incremental model evolution: a delta with a new column surfaces NULLs for old months") {
    // the a16+d12 composition: the model gains a column between runs;
    // the incremental append carries it, old files stay untouched, and
    // the mergeSchema read surfaces NULL for pre-evolution months —
    // no rewrite of already-materialized history
    val v1 = TransformRegistry.Model("ev_mart", Nil,
      """SELECT m AS month, CAST(SUM(v) AS BIGINT) AS total
         FROM ev_src GROUP BY m""",
      materialization = "incremental", watermarkCol = Some("month"))
    val v2 = v1.copy(sql =
      """SELECT m AS month, CAST(SUM(v) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n FROM ev_src GROUP BY m""")
    val wh = graft.GraftTmp.dir("ev_model_wh").toString

    Seq(("2024-01", 1), ("2024-01", 2), ("2024-02", 3)).toDF("m", "v")
      .createOrReplaceTempView("ev_src")
    TransformRegistry.runAll(spark, wh, Seq(v1))
    Seq(("2024-01", 1), ("2024-01", 2), ("2024-02", 3),
      ("2024-03", 4), ("2024-03", 5)).toDF("m", "v")
      .createOrReplaceTempView("ev_src")
    TransformRegistry.runAll(spark, wh, Seq(v2))

    val got = IceLite.read(spark, TableRef(wh, "marts", "ev_mart"))
      .selectExpr("month", "total", "n")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("2024-01", 3L, -1L), ("2024-02", 3L, -1L),
      ("2024-03", 9L, 2L)),
      s"evolved incremental mart wrong: $got")
  }

  test("full load picks exactly the lexicographically-latest file") {
    val src = makeSource(Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6)))
    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    val r = IngestJob.run(spark, wh, "t", src, "full", retentionMs = -1)
    assert(r.filesLoaded == Seq("f_002.parquet"))
    val got = IceLite.read(spark, IngestJob.tableRef(wh, "t"))
      .as[Int].collect().sorted.toSeq
    assert(got == Seq(5, 6))
  }

  test("full load replaces previous content (refresh semantics)") {
    val src1 = makeSource(Seq(Seq(1)))
    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    IngestJob.run(spark, wh, "t", src1, "full", retentionMs = -1)
    val src2 = makeSource(Seq(Seq(7, 8)))
    IngestJob.run(spark, wh, "t", src2, "full", retentionMs = -1)
    val got = IceLite.read(spark, IngestJob.tableRef(wh, "t"))
      .as[Int].collect().sorted.toSeq
    assert(got == Seq(7, 8))
  }

  test("expiry runs even when a run loads zero new files") {
    // The reference expires snapshots on every invocation that lists
    // source files, including steady-state no-new-data runs
    // (extract_load.py:154-171).
    val src = makeSource(Seq(Seq(1), Seq(2), Seq(3)))
    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    IngestJob.run(spark, wh, "t", src, "incremental", retentionMs = -1)
    val ref = IngestJob.tableRef(wh, "t")
    assert(IceLite.readManifest(ref).snapshots.size == 1)
    IceLite.append(ref, Seq(9).toDF("k")) // second snapshot to expire...
    assert(IceLite.readManifest(ref).snapshots.size == 2)
    // no new source files: still expires everything but current
    val r = IngestJob.run(spark, wh, "t", src, "incremental", retentionMs = 0)
    assert(r.filesLoaded.isEmpty)
    assert(IceLite.readManifest(ref).snapshots.size == 1)
  }

  test("post-load expiry (retention 0) keeps table content intact") {
    val src = makeSource(Seq(Seq(1), Seq(2), Seq(3)))
    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    IngestJob.run(spark, wh, "t", src, "incremental", retentionMs = 0)
    val got = IceLite.read(spark, IngestJob.tableRef(wh, "t"))
      .as[Int].collect().sorted.toSeq
    assert(got == Seq(1, 2, 3))
    assert(IceLite.readManifest(IngestJob.tableRef(wh, "t")).snapshots.size == 1)
  }

  /** Spark jobs started while `body` runs (listener bus drained). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain.drain(sc); started.get() }
    finally sc.removeSparkListener(l)
  }

  test("a steady-state incremental load runs three Spark jobs: the " +
    "tracked-file lookup and the two writes") {
    val full = makeSource((0 until 4).map(i => Seq(2 * i, 2 * i + 1)))
    val visible = graft.GraftTmp.dir("ingest_spec_vis").toString
    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    val names = IngestJob.listSourceFiles(full)
    def reveal(n: String): Unit =
      Files.copy(Paths.get(full, n), Paths.get(visible, n))
    // the first two loads create the data and state tables
    names.take(2).foreach { n =>
      reveal(n)
      IngestJob.run(spark, wh, "t", visible, "incremental")
    }
    names.drop(2).foreach { n =>
      reveal(n)
      var r: IngestJob.Result = null
      val jobs = jobsDuring {
        r = IngestJob.run(spark, wh, "t", visible, "incremental")
      }
      assert(r.filesLoaded == Seq(n))
      assert(jobs == 3, s"load of $n ran $jobs Spark jobs")
    }
    assert(IceLite.read(spark, IngestJob.tableRef(wh, "t"))
      .as[Int].collect().sorted.toSeq == (0 until 8))
  }

  test("the batch read schema and row count come from the footers and " +
    "equal Spark's inference and count()") {
    val src = graft.GraftTmp.dir("ingest_spec_src").toString
    val stage = graft.GraftTmp.dir("ingest_spec_stage")
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = IceLite.listDir(Files.list(stage))(_
        .find(_.toString.endsWith(".parquet")).get)
      Files.move(part, Paths.get(src, name))
    }
    // two files whose schemas differ: a column added, one type changed
    put("a.parquet", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    put("b.parquet", Seq((3, "z", 1.5), (4, "w", 2.5), (5, "v", 3.5))
      .toDF("k", "s", "extra"))
    val batch = Seq("a.parquet", "b.parquet")
    val paths = batch.map(f => Paths.get(src, f).toString)
    val (df, rows) = IceLite.readCounted(spark, batch.map(Paths.get(src, _)))
    assert(df.schema == spark.read.parquet(paths: _*).schema)
    assert(rows == 5L && rows == spark.read.parquet(paths: _*).count())

    val wh = graft.GraftTmp.dir("ingest_spec_wh").toString
    val r = IngestJob.run(spark, wh, "t", src, "incremental", retentionMs = -1)
    assert(r.filesLoaded == batch)
    assert(r.rowsLoaded == spark.read.parquet(paths: _*).count())
    assert(IceLite.read(spark, IngestJob.tableRef(wh, "t")).count() == 5L)
  }
}
