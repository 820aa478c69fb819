package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}

/** d50 at scale (round-14 verdict task #1): ABOVE the driver-fold
  * budget, position-delete sidecars are applied EXECUTOR-SIDE — the
  * driver plans only a (sidecar, file_path) census (O(touched files)
  * rows) and each split's reader loads its own files' positions with
  * a parquet `file_path` pushdown. These tests force the executor
  * path with a zero budget and pin: (a) results identical to the
  * driver-fold regime on every face (batch flat, batch partitioned,
  * SQL, changelog stream); (b) ZERO position rows ever collected on
  * the driver while the executor path is active. */
class PosDeleteScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val FoldConf = "spark.graft.icelite.posDeleteDriverFoldBytes"
  private val EqFoldConf = "spark.graft.icelite.eqDeleteDriverFoldBytes"

  private def withZeroBudget[A](body: => A): A = {
    spark.conf.set(FoldConf, "0")
    try body finally spark.conf.unset(FoldConf)
  }

  private def withZeroEqBudget[A](body: => A): A = {
    spark.conf.set(EqFoldConf, "0")
    try body finally spark.conf.unset(EqFoldConf)
  }

  private def mk(rows: Long = 400L, files: Int = 4): TableRef = {
    val wh = graft.GraftTmp.dir("posdel_spec").toString
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until rows).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", numFiles = files, statsCols = Seq("k"))
    ref
  }

  test("executor-side positions: batch scan exact, zero driver position rows") {
    val ref = mk()
    IceLite.deleteWhereMoR(spark, ref, "k >= 100 AND k < 150")
    IceLite.deleteWhereMoR(spark, ref, "k % 7 = 3") // stacked sidecars
    val expect = (0L until 400L)
      .filterNot(k => (k >= 100 && k < 150) || k % 7 == 3)
    // driver-fold regime first (the default): the reference answer
    val viaDriver = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).as[(Long, Double)].collect().toSeq.sorted
    assert(viaDriver.map(_._1) == expect)
    withZeroBudget {
      val fold0 = IceLiteSource.posDriverFoldRows.get()
      val exec0 = IceLiteSource.posExecutorPlans.get()
      val df = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString)
      val got = df.as[(Long, Double)].collect().toSeq.sorted
      assert(got == viaDriver, "executor path must equal driver-fold path")
      // pushed filter composes with executor-side tombstones
      assert(df.filter($"k" >= 90 && $"k" < 160).as[(Long, Double)]
        .collect().map(_._1).sorted.toSeq ==
        expect.filter(k => k >= 90 && k < 160))
      // count()-shaped read (empty projection) applies them too
      assert(df.count() == expect.length.toLong)
      assert(IceLiteSource.posDriverFoldRows.get() == fold0,
        "above the budget the driver must never collect a position row")
      assert(IceLiteSource.posExecutorPlans.get() > exec0,
        "the executor-side plan path must have been taken")
    }
  }

  test("executor-side positions: partitioned table, partition filter composes") {
    val wh = graft.GraftTmp.dir("posdel_part").toString
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "p")
    IceLite.createOrReplacePartitioned(ref,
      (0L until 300L).map(k => (k, k * 2.0, s"d${k % 3}")).toDF("k", "v", "day"),
      "day", statsCols = Seq("k"))
    IceLite.deleteWhereMoR(spark, ref, "k < 60")
    val expect = (60L until 300L)
    withZeroBudget {
      val fold0 = IceLiteSource.posDriverFoldRows.get()
      val df = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString)
      assert(df.select($"k").as[Long].collect().sorted.toSeq == expect)
      // partition-dir pruning + executor-side tombstones together
      assert(df.filter($"day" === "d1").select($"k").as[Long]
        .collect().sorted.toSeq == expect.filter(_ % 3 == 1))
      assert(IceLiteSource.posDriverFoldRows.get() == fold0)
    }
  }

  test("executor-side positions: changelog stream emits the same deletes") {
    val ref = mk(rows = 100L, files = 2)
    IceLite.deleteWhereMoR(spark, ref, "k < 10")
    val ck = graft.GraftTmp.dir("posdel_ck").toString
    withZeroBudget {
      val fold0 = IceLiteSource.posDriverFoldRows.get()
      val q = spark.readStream.format("graft.sources.IceLiteSource")
        .option("changelog", "true").load(ref.dir.toString)
        .writeStream.format("memory").queryName("posdel_cdc")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("posdel_cdc")
        .as[(Long, Double, String, Long)].collect().toSeq
      assert(got.filter(_._3 == "delete").map(r => (r._1, r._2)).sorted ==
        (0L until 10L).map(k => (k, k * 2.0)))
      assert(got.count(_._3 == "insert") == 100)
      assert(IceLiteSource.posDriverFoldRows.get() == fold0,
        "changelog planning must not fold positions above the budget")
    }
  }

  private def scanRowStat(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.stats.rowCount.map(_.toLong)
    }.head

  test("pruned MoR scan stats are exact: position deletes (r14 dead census)") {
    val ref = mk() // sorted k 0..399 into 4 range files with k stats
    IceLite.deleteWhereMoR(spark, ref, "k >= 100 AND k < 150")
    val df = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString)
    // un-pruned: snapshot rowCount (the r13 rule)
    assert(scanRowStat(df).contains(350L))
    // PRUNED under k < 200: bounds keep files [0,100), [100,200) and
    // the boundary file [200,300) (min == bound, conservative keep) —
    // 300 physical − the 50 tombstones landing on SURVIVING files =
    // 250, the exact logical rows OF THE SCANNED FILE SET (the
    // residual filter above the scan then trims to 150 rows)
    val pruned = df.filter($"k" < 200L)
    assert(pruned.as[(Long, Double)].collect().length == 150)
    assert(scanRowStat(pruned).contains(250L),
      s"pruned pos-delete stats must be exact, got ${scanRowStat(pruned)}")
  }

  test("pruned MoR scan stats are exact: equality deletes and upserts") {
    val ref = mk()
    // eq-delete keys span BOTH the surviving and the pruned half
    IceLite.deleteByKeysMoR(spark, ref,
      (Seq(10L, 20L, 250L, 260L, 270L)).toDF("k"), Seq("k"))
    val df = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString)
    assert(scanRowStat(df).contains(395L))
    // scanned set under k < 200: files [0,100)/[100,200) plus the
    // conservative boundary file [200,300) — 300 physical − the 5 eq
    // kills on those files (10, 20 on file 0; 250, 260, 270 on the
    // boundary file) = 295 exact scan rows; the residual trims to 198
    val pruned = df.filter($"k" < 200L)
    assert(pruned.select($"k").as[Long].collect().length == 198)
    assert(scanRowStat(pruned).contains(295L),
      s"pruned eq-delete stats must be exact, got ${scanRowStat(pruned)}")
    // an upsert stacks a second sidecar; the censuses compose. Keys
    // kept under the prune bound so the residual filter drops no row
    // of a surviving file — collected count == pruned-scan stat
    IceLite.upsertByKeysMoR(spark, ref,
      Seq((30L, -1.0), (40L, -2.0)).toDF("k", "v"), Seq("k"))
    val df2 = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString)
    val pruned2 = df2.filter($"k" < 200L)
    // 198 − 2 old versions hidden + 2 re-inserted = 198
    assert(pruned2.select($"k").as[Long].collect().length == 198,
      "upsert view wrong")
    // scanned set: the 3 surviving originals + the upsert's new file
    // (302 physical) − (5 eq + 2 upsert kills on surviving files)
    assert(scanRowStat(pruned2).contains(295L),
      s"stacked-sidecar pruned stats must stay exact, " +
        s"got ${scanRowStat(pruned2)}")
  }

  test("executor-side EQ keys: no broadcast fold above the budget, " +
    "sequence rule intact, results equal the driver-fold regime") {
    val ref = mk()
    IceLite.deleteByKeysMoR(spark, ref,
      Seq(10L, 20L, 250L).toDF("k"), Seq("k"))
    // re-insert of a deleted key AFTER the sidecar: must survive on
    // BOTH regimes (the sequence rule is the thing executor-side
    // loading must not break)
    IceLite.append(ref, Seq((20L, -20.0)).toDF("k", "v"))
    val viaDriver = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).as[(Long, Double)].collect().toSeq.sorted
    assert(viaDriver.length == 398 && viaDriver.contains((20L, -20.0)))
    withZeroEqBudget {
      val folds0 = IceLiteSource.eqFoldComputes.get()
      val exec0 = IceLiteSource.eqExecutorPlans.get()
      val df = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString)
      val got = df.as[(Long, Double)].collect().toSeq.sorted
      assert(got == viaDriver, "executor eq path must equal the broadcast fold")
      // filter composes; the re-inserted key is visible, the dead
      // original is not
      assert(df.filter($"k" === 20L).as[(Long, Double)].collect().toSeq ==
        Seq((20L, -20.0)))
      assert(df.filter($"k" === 10L).count() == 0L)
      assert(IceLiteSource.eqFoldComputes.get() == folds0,
        "above the budget the driver must not fold/broadcast eq keys")
      assert(IceLiteSource.eqExecutorPlans.get() > exec0)
    }
  }

  test("executor-side EQ keys: timestamp-keyed sidecar decodes to the " +
    "same micros the scan emits") {
    val wh = graft.GraftTmp.dir("posdel_eqts").toString
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "ts")
    val rows = (0L until 200L).map(i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")
        .plusSeconds(i * 60)), i))
    IceLite.createOrReplace(ref, rows.toDF("ts", "n"))
    IceLite.deleteByKeysMoR(spark, ref,
      rows.take(5).map(_._1).toDF("ts"), Seq("ts"))
    val expect = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
    assert(expect == (5L until 200L))
    withZeroEqBudget {
      val folds0 = IceLiteSource.eqFoldComputes.get()
      val got = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
      assert(got == expect, "timestamp eq keys must match executor-side")
      assert(IceLiteSource.eqFoldComputes.get() == folds0)
    }
  }

  test("r15: DECIMAL-keyed eq sidecars take the executor path — both " +
    "int64-backed (precision<=18) and FLBA-backed (wide) decimals") {
    for ((p, s, tag) <- Seq((10, 2, "narrow"), (22, 4, "wide"))) {
      val wh = graft.GraftTmp.dir(s"posdel_eqdec$tag").toString
      IceLite.createNamespace(wh, "src")
      val ref = TableRef(wh, "src", "d")
      val df = (0L until 300L).map(i => (i, BigDecimal(i) / 100))
        .toDF("n", "amt")
        .select($"n", $"amt".cast(s"decimal($p,$s)").as("amt"))
      IceLite.createOrReplace(ref, df)
      IceLite.deleteByKeysMoR(spark, ref,
        (0L until 5L).map(i => BigDecimal(i) / 100).toDF("amt")
          .select($"amt".cast(s"decimal($p,$s)").as("amt")), Seq("amt"))
      val expect = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
      assert(expect == (5L until 300L), s"$tag driver-fold regime wrong")
      withZeroEqBudget {
        val folds0 = IceLiteSource.eqFoldComputes.get()
        val exec0 = IceLiteSource.eqExecutorPlans.get()
        val got = spark.read.format("graft.sources.IceLiteSource")
          .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
        assert(got == expect, s"$tag decimal eq keys must match executor-side")
        assert(IceLiteSource.eqFoldComputes.get() == folds0,
          s"$tag decimal keys still folded on the driver above budget")
        assert(IceLiteSource.eqExecutorPlans.get() > exec0,
          s"$tag decimal keys did not take the executor path")
      }
    }
  }

  test("r15: raw BINARY eq keys compare by VALUE on both regimes") {
    val wh = graft.GraftTmp.dir("posdel_eqbin").toString
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "b")
    val df = (0L until 200L).map(i => (i, s"blob_$i".getBytes("UTF-8")))
      .toDF("n", "key")
    IceLite.createOrReplace(ref, df)
    IceLite.deleteByKeysMoR(spark, ref,
      Seq("blob_0", "blob_1", "blob_2").map(_.getBytes("UTF-8")).toDF("key"),
      Seq("key"))
    val expect = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
    assert(expect == (3L until 200L),
      "binary eq keys must compare by value on the driver-fold regime")
    withZeroEqBudget {
      val folds0 = IceLiteSource.eqFoldComputes.get()
      val got = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString).select($"n").as[Long].collect().sorted.toSeq
      assert(got == expect, "binary eq keys must match executor-side")
      assert(IceLiteSource.eqFoldComputes.get() == folds0)
    }
  }

  test("r15: executor eq key groups load ONCE per JVM per sidecar set " +
    "(ADVICE — splits and repeat scans hit the cache)") {
    val ref = mk()
    IceLite.deleteByKeysMoR(spark, ref, Seq(10L, 20L).toDF("k"), Seq("k"))
    withZeroEqBudget {
      // warm: first scan loads (possibly racing loads across splits)
      spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString).count()
      val loads0 = IceLiteSource.eqExecLoads.get()
      // a SECOND full scan of the same eq window must not re-read the
      // sidecars at all
      val got = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString).count()
      assert(got == 398L)
      assert(IceLiteSource.eqExecLoads.get() == loads0,
        "repeat scan re-read eq sidecars despite the JVM cache")
    }
  }

  test("a genuinely over-budget sidecar takes the executor path under " +
    "the DEFAULT budget (no conf override)") {
    // ~300k tombstones ≈ 2–3 MiB of snappy parquet is still under
    // the 8 MiB default, so pin the regime with a REAL sidecar and a
    // budget lowered only to a size this fixture actually exceeds —
    // the point is the same code path the default takes at GDPR
    // scale, driven by SIZE, not by a zeroed test conf
    val ref = mk(rows = 300000L, files = 6)
    IceLite.deleteWhereMoR(spark, ref, "k % 3 <> 0") // 200k tombstones
    val sidecarBytes = IceLite.readManifest(ref).current.deleteFiles
      .map(f => java.nio.file.Files.size(ref.dir.resolve(f))).sum
    assert(sidecarBytes > 64L * 1024,
      s"fixture sidecar unexpectedly small: $sidecarBytes")
    spark.conf.set(FoldConf, (64L * 1024).toString)
    try {
      val fold0 = IceLiteSource.posDriverFoldRows.get()
      val exec0 = IceLiteSource.posExecutorPlans.get()
      val df = spark.read.format("graft.sources.IceLiteSource")
        .load(ref.dir.toString)
      assert(df.count() == 100000L)
      assert(df.filter($"k" < 30L).select($"k").as[Long].collect()
        .sorted.toSeq == (0L until 30L by 3L))
      assert(IceLiteSource.posDriverFoldRows.get() == fold0)
      assert(IceLiteSource.posExecutorPlans.get() > exec0)
    } finally spark.conf.unset(FoldConf)
  }

  test("default budget keeps the small-sidecar driver fold (and it still counts)") {
    val ref = mk()
    IceLite.deleteWhereMoR(spark, ref, "k >= 100 AND k < 150")
    val fold0 = IceLiteSource.posDriverFoldRows.get()
    val n = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).count()
    assert(n == 350L)
    // planInputPartitions runs more than once per query (stats / exec
    // re-plans), but the fold is memoized per scan: the 50-position
    // sidecar is decoded exactly once
    val grown = IceLiteSource.posDriverFoldRows.get() - fold0
    assert(grown == 50L,
      s"a CDC-sized sidecar under the default budget folds once on the driver ($grown)")
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

  test("the small-sidecar driver fold adds no Spark job to a MoR scan") {
    val ref = mk()
    IceLite.deleteWhereMoR(spark, ref, "k >= 100 AND k < 150")
    // the filter keeps both counts scanning: a bare count() of the
    // compacted table is answered from the manifest with fewer jobs
    def count(): Long = spark.read.format("graft.sources.IceLiteSource")
      .load(ref.dir.toString).filter($"v" >= 0.0).count()
    var n = 0L
    val morJobs = jobsDuring { n = count() }
    assert(n == 350L)
    IceLite.compact(spark, ref, targetFiles = 4)
    val compactedJobs = jobsDuring { n = count() }
    assert(n == 350L)
    assert(morJobs <= compactedJobs,
      s"MoR count() started $morJobs jobs, compacted count() $compactedJobs")
  }

  test("default budget: changelog stream folds small sidecars to the exact deletes") {
    val ref = mk(rows = 100L, files = 2)
    IceLite.deleteWhereMoR(spark, ref, "k < 10 OR k = 57")
    val ck = graft.GraftTmp.dir("posdel_ck_default").toString
    val fold0 = IceLiteSource.posDriverFoldRows.get()
    val exec0 = IceLiteSource.posExecutorPlans.get()
    val q = spark.readStream.format("graft.sources.IceLiteSource")
      .option("changelog", "true").load(ref.dir.toString)
      .writeStream.format("memory").queryName("posdel_cdc_default")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("posdel_cdc_default")
      .as[(Long, Double, String, Long)].collect().toSeq
    assert(got.filter(_._3 == "delete").map(r => (r._1, r._2)).sorted ==
      ((0L until 10L) :+ 57L).map(k => (k, k * 2.0)))
    assert(got.count(_._3 == "insert") == 100)
    assert(IceLiteSource.posDriverFoldRows.get() > fold0,
      "under the default budget the changelog folds positions on the driver")
    assert(IceLiteSource.posExecutorPlans.get() == exec0)
  }
}
