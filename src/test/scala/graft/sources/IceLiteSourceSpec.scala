package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}

class IceLiteSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.IceLiteSource"

  test("round-trips longs, doubles, strings and nulls through the connector") {
    val wh = graft.GraftTmp.dir("v2src_wh").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq(
      (1L, 1.5, "a"), (2L, -2.0, null.asInstanceOf[String]), (3L, 0.0, "c"))
      .toDF("k", "v", "s"))
    val got = spark.read.format(Fmt).load(ref.dir.toString)
      .as[(Long, Double, Option[String])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 1.5, Some("a")), (2L, -2.0, None), (3L, 0.0, Some("c"))))
  }

  test("filter pushdown prunes files at the connector; residual keeps rows exact") {
    val wh = graft.GraftTmp.dir("v2src_pr").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    // 8 sorted files with tight ranges over k — a range filter must
    // plan only the overlapping subset
    IceLite.createOrReplaceSorted(ref,
      (0L until 8000L).map(k => (k, k * 2)).toDF("k", "v"),
      "k", numFiles = 8, statsCols = Seq("k"))
    val df = spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 1000L && $"k" < 2000L)
    val rows = df.as[(Long, Long)].collect()
    assert(rows.length == 1000 && rows.forall(r => r._1 >= 1000 && r._1 < 2000))
    val planned = IceLiteSource.lastPlannedFiles.size
    val total = IceLite.readManifest(ref).current.files.size
    assert(total == 8 && planned < total,
      s"pushdown must prune files: planned $planned of $total")
  }

  test("column pruning reaches the parquet read schema (projection works)") {
    val wh = graft.GraftTmp.dir("v2src_cp").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq((1L, 10.0, "x"), (2L, 20.0, "y"))
      .toDF("k", "v", "s"))
    val got = spark.read.format(Fmt).load(ref.dir.toString)
      .select($"s", $"k").as[(String, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq(("x", 1L), ("y", 2L)))
  }

  test("connector read equals IceLite.read on a fixture-backed table") {
    val wh = graft.GraftTmp.dir("v2src_fx").toString
    val ref = TableRef(wh, "ns", "orders")
    IceLite.createNamespace(wh, "ns")
    val o = graft.Tables.load(spark, TestSpark.sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    IceLite.createOrReplace(ref, o)
    val a = spark.read.format(Fmt).load(ref.dir.toString)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val b = IceLite.read(spark, ref)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(a == b && a.nonEmpty)
  }

  // ---- write side (d26) ----

  test("connector append commits one snapshot; rows and nulls round-trip") {
    val wh = graft.GraftTmp.dir("v2snk_ap").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq((1L, Some(1.5), Some("a")))
      .toDF("k", "v", "s"))
    Seq((2L, None: Option[Double], None: Option[String]), (3L, Some(3.5), Some("c")))
      .toDF("k", "v", "s")
      .write.format(Fmt).mode("append").save(ref.dir.toString)
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "append"))
    assert(m.current.rowCount == 3)
    val got = IceLite.read(spark, ref)
      .as[(Long, Option[Double], Option[String])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, Some(1.5), Some("a")), (2L, None, None),
      (3L, Some(3.5), Some("c"))))
  }

  test("connector overwrite truncates: replace snapshot, only new rows remain") {
    val wh = graft.GraftTmp.dir("v2snk_ow").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, (0L until 100L).map(k => (k, "old")).toDF("k", "s"))
    Seq((7L, "new")).toDF("k", "s")
      .write.format(Fmt).mode("overwrite").save(ref.dir.toString)
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "replace"))
    val got = IceLite.read(spark, ref).as[(Long, String)].collect().toSeq
    assert(got == Seq((7L, "new")))
    // the old files stay time-travelable until expiry
    assert(IceLite.readAt(spark, ref, m.snapshots.head.id).count() == 100)
  }

  test("footer-derived stats make connector-written files prunable on read") {
    val wh = graft.GraftTmp.dir("v2snk_st").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq((-1L, 0L)).toDF("k", "v"))
    // 8 range-partitioned sorted partitions → 8 files with tight,
    // footer-recorded k ranges
    (0L until 8000L).map(k => (k, k * 2)).toDF("k", "v")
      .repartitionByRange(8, $"k").sortWithinPartitions($"k")
      .write.format(Fmt).mode("overwrite").save(ref.dir.toString)
    val df = spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 1000L && $"k" < 2000L)
    val rows = df.as[(Long, Long)].collect()
    assert(rows.length == 1000 && rows.forall(r => r._1 >= 1000 && r._1 < 2000))
    val planned = IceLiteSource.lastPlannedFiles.size
    val total = IceLite.readManifest(ref).current.files.size
    assert(total == 8 && planned < total,
      s"footer stats must prune connector-written files: planned $planned of $total")
  }

  test("empty input partitions stage no files") {
    val wh = graft.GraftTmp.dir("v2snk_mt").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
    // 8 partitions, 2 rows → ≥6 empty writers; none may leave a file
    Seq((2L, "b"), (3L, "c")).toDF("k", "s").repartition(8)
      .write.format(Fmt).mode("append").save(ref.dir.toString)
    val m = IceLite.readManifest(ref)
    assert(m.current.rowCount == 3)
    val newFiles = m.current.files.filterNot(m.snapshots.head.files.toSet)
    assert(newFiles.nonEmpty && newFiles.size <= 2,
      s"only non-empty partitions may stage files, got $newFiles")
  }

  test("connector reads run the vectorized columnar kernel (ColumnarToRow planned)") {
    val wh = graft.GraftTmp.dir("v2src_vc").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref,
      (1L to 500L).map(k => (k, k * 0.25, s"s$k")).toDF("k", "v", "s"))
    // AQE inserts columnar transitions per-stage at execution; plan
    // without it so the static plan shows the transition
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.read.format(Fmt).load(ref.dir.toString)
        .filter($"k" <= 100L).select($"k", $"v")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ColumnarToRow"),
        s"connector scan did not plan the columnar kernel:\n$p")
      assert(df.as[(Long, Double)].collect().toSeq.sortBy(_._1).take(3)
        == Seq((1L, 0.25), (2L, 0.5), (3L, 0.75)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("many small files coalesce into few input partitions; values unchanged") {
    val wh = graft.GraftTmp.dir("v2src_co").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    // 20 tiny files — the pre-compaction / fresh-streaming-append shape
    IceLite.createOrReplace(ref,
      (0L until 1000L).map(k => (k, k * 3)).toDF("k", "v").repartition(20))
    val total = IceLite.readManifest(ref).current.files.size
    assert(total == 20)
    // the default target packs tiny files — but fans out to at most
    // the session parallelism (Spark's bytes-per-core rule), never one
    // task launch per tiny file and never one serial task for all 20
    val df = spark.read.format(Fmt).load(ref.dir.toString)
    val parts = df.rdd.getNumPartitions
    assert(parts < total && parts <= spark.sparkContext.defaultParallelism,
      s"tiny files must pack into <= parallelism splits, got $parts/$total")
    assert(df.as[(Long, Long)].collect().toSeq.sortBy(_._1)
      == (0L until 1000L).map(k => (k, k * 3)))
    // a tiny target degenerates to the old one-file-per-partition shape
    val perFile = spark.read.format(Fmt).option("targetSplitBytes", "1")
      .load(ref.dir.toString)
    assert(perFile.rdd.getNumPartitions == total)
    assert(perFile.count() == 1000L)
  }

  test("coalesced splits compose with filter pushdown (prune first, then pack)") {
    val wh = graft.GraftTmp.dir("v2src_cp2").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplaceSorted(ref,
      (0L until 8000L).map(k => (k, k * 2)).toDF("k", "v"),
      "k", numFiles = 8, statsCols = Seq("k"))
    val df = spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 1000L && $"k" < 3000L)
    val rows = df.as[(Long, Long)].collect()
    assert(rows.length == 2000 && rows.forall(r => r._1 >= 1000 && r._1 < 3000))
    // only the overlapping files were planned, and packing never plans
    // more splits than surviving files (prune first, then pack)
    assert(IceLiteSource.lastPlannedFiles.size < 8)
    assert(df.rdd.getNumPartitions <= IceLiteSource.lastPlannedFiles.size)
  }

  // ---- d54: write-side distribution/ordering ----

  test("INSERT INTO a sorted table range-clusters new files and keeps sortedBy") {
    val wh = graft.GraftTmp.dir("v2w_sorted").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplaceSorted(ref,
      (0L until 4000L).map(k => (k, k)).toDF("k", "v"),
      "k", numFiles = 4, statsCols = Seq("k"))
    // era 2 arrives UNSORTED through the connector write path
    (4000L until 8000L).map(k => (k, k)).toDF("k", "v")
      .orderBy(rand(7)).repartition(4)
      .write.format(Fmt).mode("append").save(ref.dir.toString)
    val m = IceLite.readManifest(ref).current
    assert(m.sortedBy.contains("k"),
      "clustered connector append must keep the sortedBy marker")
    // the write's required range distribution makes era-2 files
    // non-overlapping on k, so their footer stats stay prunable
    val era2 = m.files.filter(f => !m.fileStats.isEmpty &&
      m.fileRows.contains(f)).filter(_ => true)
    val ranges = m.files.flatMap(f =>
      m.fileStats.get(f).flatMap(_.find(_.col == "k")).map(s => (s.min, s.max)))
    assert(ranges.size == m.files.size, "every file needs k stats")
    val sorted = ranges.sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"file ranges must stay disjoint after the SQL append: $sorted")
    // a range filter through the connector prunes files of BOTH eras
    val n = spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 6000L && $"k" < 6500L).count()
    assert(n == 500L)
    assert(IceLiteSource.lastPlannedFiles.size < m.files.size,
      "range filter must prune era-2 files via their footer stats")
  }

  test("connector append into a partitioned table routes to value dirs (d67)") {
    val wh = graft.GraftTmp.dir("v2w_part").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplacePartitioned(ref,
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
    Seq((3L, "c")).toDF("k", "p")
      .write.format(Fmt).mode("append").save(ref.dir.toString)
    val m = IceLite.readManifest(ref)
    assert(m.current.partitionCols == Seq("p"), "layout marker survives")
    val newFiles = m.current.files.filterNot(m.snapshots.head.files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("p=c")),
      s"appended file must land in its value dir: $newFiles")
    val got = IceLite.readPartitioned(spark, ref)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  // ---- d53: reported statistics ----

  test("scan reports exact post-pruning statistics to the planner") {
    val wh = graft.GraftTmp.dir("v2src_stats").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplaceSorted(ref,
      (0L until 8000L).map(k => (k, k * 2)).toDF("k", "v"),
      "k", numFiles = 8, statsCols = Seq("k"))
    val m = IceLite.readManifest(ref).current
    def statsOf(df: org.apache.spark.sql.DataFrame) = {
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
      rel.scan.asInstanceOf[IceLiteScan].estimateStatistics()
    }
    val full = statsOf(spark.read.format(Fmt).load(ref.dir.toString))
    val allBytes = m.files.map(f =>
      java.nio.file.Files.size(ref.dir.resolve(f))).sum
    assert(full.numRows.getAsLong == 8000L)
    assert(full.sizeInBytes.getAsLong == allBytes)
    // a pushed range filter shrinks the reported stats with the files
    val filtered = statsOf(spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 1000L && $"k" < 2000L))
    assert(filtered.numRows.getAsLong < 8000L,
      s"pruned stats must shrink: ${filtered.numRows.getAsLong}")
    assert(filtered.sizeInBytes.getAsLong < allBytes)
  }

  test("a small connector dim auto-broadcasts with no hint (stats-driven)") {
    val wh = graft.GraftTmp.dir("v2src_bhj").toString
    IceLite.createNamespace(wh, "ns")
    val fact = TableRef(wh, "ns", "fact")
    val dim = TableRef(wh, "ns", "dim")
    IceLite.createOrReplace(fact,
      (0L until 5000L).map(k => (k, k % 10)).toDF("k", "fk"))
    IceLite.createOrReplace(dim,
      (0L until 10L).map(d => (d, s"d$d")).toDF("d", "name"))
    val joined = spark.read.format(Fmt).load(fact.dir.toString)
      .join(spark.read.format(Fmt).load(dim.dir.toString), $"fk" === $"d")
    // the STATIC physical plan picks BHJ from the reported size —
    // no broadcast() hint, no AQE rescue needed
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"10-row dim must auto-broadcast, got:\n$plan")
    assert(joined.count() == 5000L)
  }

  test("stats report exact LOGICAL rows while MoR sidecars are live; " +
    "pruned MoR scans still omit") {
    val wh = graft.GraftTmp.dir("v2src_morstats").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, (0L until 100L).map(k => (k, k)).toDF("k", "v"),
      statsCols = Seq("k"))
    IceLite.deleteWhereMoR(spark, ref, "k < 10")
    IceLite.deleteByKeysMoR(spark, ref,
      (10L until 15L).toDF("k"), Seq("k"))
    def statsOf(df: org.apache.spark.sql.DataFrame) = df
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get.scan.asInstanceOf[IceLiteScan].estimateStatistics()
    // r13: the snapshot's own rowCount IS the logical count — every
    // MoR commit maintains it from the matched rows it computed when
    // writing the sidecar, so the un-pruned scan reports it exactly
    val st = statsOf(spark.read.format(Fmt).load(ref.dir.toString))
    assert(st.numRows.isPresent && st.numRows.getAsLong == 85L,
      s"un-pruned MoR-live scan must report exact logical rows, got $st")
    assert(st.sizeInBytes.getAsLong > 0L)
    // r14: a PRUNED MoR-live scan is exact too — every MoR commit
    // records the sidecar's per-file dead census, and stats subtract
    // only the tombstones whose files SURVIVE pruning. The appended
    // file [200,300) carries no dead rows; the pruned scan drops the
    // original file (and all 15 dead rows with it).
    IceLite.append(ref, (200L until 300L).map(k => (k, k)).toDF("k", "v"),
      statsCols = Seq("k"))
    val pruned = statsOf(spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"k" >= 200L))
    assert(pruned.numRows.isPresent && pruned.numRows.getAsLong == 100L,
      s"pruned MoR-live scan must subtract only surviving tombstones, got $pruned")
  }

  test("aggregate pushdown answers count/min/max from the manifest alone") {
    val wh = graft.GraftTmp.dir("v2src_ag").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref,
      (1L to 1000L).map(k => (k, k * 0.5)).toDF("k", "v").repartition(4),
      statsCols = Seq("v"))
    IceLiteSource.lastScanMetadataOnly = false
    val row = spark.read.format(Fmt).load(ref.dir.toString)
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      .collect().head
    assert((row.getLong(0), row.getDouble(1), row.getDouble(2)) == ((1000L, 0.5, 500.0)))
    assert(IceLiteSource.lastScanMetadataOnly,
      "count/min/max over a stats-covered table must be metadata-only")
  }

  test("count(*) alone pushes even without declared column stats") {
    val wh = graft.GraftTmp.dir("v2src_ac").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplace(ref, (1L to 77L).map(k => (k, s"s$k")).toDF("k", "s"))
    IceLiteSource.lastScanMetadataOnly = false
    val n = spark.read.format(Fmt).load(ref.dir.toString)
      .agg(count(lit(1))).collect().head.getLong(0)
    assert(n == 77L)
    assert(IceLiteSource.lastScanMetadataOnly)
  }

  test("connector reads a PARTITIONED table: path-borne columns, pruning, columnar") {
    val wh = graft.GraftTmp.dir("v2src_pt").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplacePartitioned(ref,
      (0L until 300L).map(k =>
        (k, if (k % 3 == 0) "a" else if (k % 3 == 1) "b" else "c")).toDF("k", "p"),
      "p", statsCols = Seq("k"))
    val df = spark.read.format(Fmt).load(ref.dir.toString)
    // the path-borne partition column appends to the file schema
    assert(df.schema.fieldNames.toSeq == Seq("k", "p"))
    val got = df.as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == (0L until 300L).map(k =>
      (k, if (k % 3 == 0) "a" else if (k % 3 == 1) "b" else "c")))
    // partition-equality pushdown prunes whole dirs at the connector
    val b = df.filter($"p" === "b").as[(Long, String)].collect()
    assert(b.length == 100 && b.forall(_._2 == "b"))
    assert(IceLiteSource.lastPlannedFiles.nonEmpty &&
      IceLiteSource.lastPlannedFiles.forall(_.contains("p=b")),
      s"partition filter must prune paths: ${IceLiteSource.lastPlannedFiles}")
    // partitioned reads stay columnar (constant vectors for part cols)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.filter($"k" < 10).queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"partitioned connector scan lost the columnar kernel:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // partition-only projection: zero parquet pages, counts exact
    assert(df.select($"p").collect().map(_.getString(0)).sorted.toSeq
      == (Seq.fill(100)("a") ++ Seq.fill(100)("b") ++ Seq.fill(100)("c")))
  }

  test("dynamic partition pruning through the connector: dim filter prunes fact dirs at runtime") {
    val wh = graft.GraftTmp.dir("v2src_dpp").toString
    val ref = TableRef(wh, "ns", "fact")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplacePartitioned(ref,
      (0L until 300L).map(k =>
        (k, if (k % 3 == 0) "a" else if (k % 3 == 1) "b" else "c")).toDF("k", "p"),
      "p", statsCols = Seq("k"))
    val fact = spark.read.format(Fmt).load(ref.dir.toString)
    // the dim's filter is on grp, NOT the join key — so no static
    // transitive filter exists; only runtime pruning can skip dirs.
    // The dim must be scan-backed (a LocalRelation constant-folds its
    // filter away and DPP sees no selective predicate to reuse).
    val dimDir = graft.GraftTmp.dir("v2src_dpp_dim").toString
    Seq(("a", "drop"), ("b", "keep"), ("c", "drop"))
      .toDF("flag", "grp").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim, fact("p") === dim("flag")).filter($"grp" === "keep")
    IceLiteSource.lastPlannedFiles = Nil
    val n = q.count()
    assert(n == 100L)
    // the runtime filter narrowed the fact scan to the one live dir
    assert(IceLiteSource.lastPlannedFiles.nonEmpty &&
      IceLiteSource.lastPlannedFiles.forall(_.contains("p=b")),
      s"DPP must prune fact dirs at runtime: ${IceLiteSource.lastPlannedFiles}")
    // and it really was dynamic: the plan carries a runtime filter
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("runtime filters"),
      s"expected a dynamic pruning filter in:\n$plan")
  }

  test("storage-partitioned join: co-partitioned tables join with no shuffle") {
    val wh = graft.GraftTmp.dir("v2src_spj").toString
    IceLite.createNamespace(wh, "ns")
    val fact = TableRef(wh, "ns", "fact")
    val dim = TableRef(wh, "ns", "dim")
    IceLite.createOrReplacePartitioned(fact,
      (0L until 300L).map(k =>
        (k, if (k % 3 == 0) "a" else if (k % 3 == 1) "b" else "c")).toDF("k", "p"),
      "p", statsCols = Seq("k"))
    IceLite.createOrReplacePartitioned(dim,
      Seq(("a", 1L), ("b", 10L), ("c", 100L)).toDF("p", "w"), "p")
    val f = spark.read.format(Fmt).load(fact.dir.toString)
    val d = spark.read.format(Fmt).load(dim.dir.toString)
      .withColumnRenamed("p", "dp")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = f.hint("merge").join(d, f("p") === d("dp"))
        .agg(sum($"k" * $"w").as("s"), count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // no exchange below the join: the scans' KeyGroupedPartitioning
      // satisfies the join's distribution on both sides
      val joinPart = plan.split("SortMergeJoin").last
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"storage-partitioned join must not shuffle its inputs:\n$plan")
      val r = q.head()
      val expect = (0L until 300L).map(k =>
        k * (if (k % 3 == 0) 1L else if (k % 3 == 1) 10L else 100L)).sum
      assert(r.getLong(0) == expect && r.getLong(1) == 300L)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("GROUP BY the partition column answers from the manifest alone") {
    val wh = graft.GraftTmp.dir("v2src_gp").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    IceLite.createOrReplacePartitioned(ref,
      (0L until 300L).map(k =>
        (k, if (k % 3 == 0) "a" else "b")).toDF("k", "p"), "p")
    IceLiteSource.lastScanMetadataOnly = false
    val got = spark.read.format(Fmt).load(ref.dir.toString)
      .groupBy($"p").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == Seq(("a", 100L), ("b", 200L)))
    assert(IceLiteSource.lastScanMetadataOnly,
      "GROUP BY the partition column must fold manifest fileRows, not scan")
    // a partition filter COMPOSES with the fold since r13 — the
    // census filters per-dir before summing, still metadata-only
    // (the filtered-partition-stats read; the decline matrix for
    // data-column filters is pinned in the partition-filtered test)
    IceLiteSource.lastScanMetadataOnly = false
    val n = spark.read.format(Fmt).load(ref.dir.toString)
      .filter($"p" === "a").agg(count(lit(1))).collect().head.getLong(0)
    assert(n == 100L)
    assert(IceLiteSource.lastScanMetadataOnly,
      "a partition-filtered aggregate must stay on the metadata fold")
  }

  test("GROUPED aggregate pushdown answers GROUP BY a file-constant column from the manifest") {
    val wh = graft.GraftTmp.dir("v2src_ga").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    // one value-pure file per group — the layout a partitioned or
    // clustered ingest produces (here: one append per group value)
    (1L to 4L).foreach { g =>
      IceLite.append(ref,
        (1L to g * 10L).map(k => (g, k * 1.0 + g)).toDF("g", "v").coalesce(1),
        statsCols = Seq("g", "v"))
    }
    IceLiteSource.lastScanMetadataOnly = false
    val got = spark.read.format(Fmt).load(ref.dir.toString)
      .groupBy($"g").agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sortBy(_._1)
    assert(got == (1L to 4L).map(g => (g, g * 10L, 1.0 + g, g * 10.0 + g)),
      s"grouped pushdown wrong: $got")
    assert(IceLiteSource.lastScanMetadataOnly,
      "GROUP BY a file-constant column over a stats+fileRows-covered " +
        "table must be metadata-only")
    // a file holding TWO group values breaks purity → falls back, exact
    IceLite.append(ref, Seq((5L, 1.0), (6L, 2.0)).toDF("g", "v").coalesce(1),
      statsCols = Seq("g", "v"))
    IceLiteSource.lastScanMetadataOnly = false
    val n = spark.read.format(Fmt).load(ref.dir.toString)
      .groupBy($"g").agg(count(lit(1))).collect().length
    assert(n == 6)
    assert(!IceLiteSource.lastScanMetadataOnly,
      "a non-value-pure file must force the scan path")
  }

  test("aggregate pushdown declines on stats gaps, filters, group-by and long columns") {
    val wh = graft.GraftTmp.dir("v2src_ad").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    // no statsCols → min/max must fall back to a real scan, exactly
    IceLite.createOrReplace(ref, (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v"))
    val src = spark.read.format(Fmt).load(ref.dir.toString)
    IceLiteSource.lastScanMetadataOnly = false
    val r1 = src.agg(count(lit(1)), min($"v"), max($"v")).collect().head
    assert((r1.getLong(0), r1.getDouble(1), r1.getDouble(2)) == ((100L, 2.0, 200.0)))
    assert(!IceLiteSource.lastScanMetadataOnly, "stats gap must fall back")
    // stats present, but a filter keeps the aggregate off the metadata path
    IceLite.createOrReplace(ref, (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v"),
      statsCols = Seq("v"))
    IceLiteSource.lastScanMetadataOnly = false
    val r2 = src.filter($"k" <= 10L).agg(count(lit(1)), max($"v")).collect().head
    assert((r2.getLong(0), r2.getDouble(1)) == ((10L, 20.0)))
    assert(!IceLiteSource.lastScanMetadataOnly, "filtered agg must scan")
    // group-by is not answerable from global manifest stats
    IceLiteSource.lastScanMetadataOnly = false
    val r3 = src.groupBy(($"k" % 2).as("g")).agg(count(lit(1)).as("n"))
      .orderBy($"g").collect()
    assert(r3.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 50L), (1L, 50L)))
    assert(!IceLiteSource.lastScanMetadataOnly, "grouped agg must scan")
    // min/max over a LONG column: double stats would be lossy → scan
    IceLiteSource.lastScanMetadataOnly = false
    val r4 = src.agg(min($"k"), max($"k")).collect().head
    assert((r4.getLong(0), r4.getLong(1)) == ((1L, 100L)))
    assert(!IceLiteSource.lastScanMetadataOnly, "long min/max must scan")
  }

  test("partition-filtered aggregate pushdown: the census filters before " +
    "the fold; nulls, empty selections and data filters stay honest") {
    val wh = graft.GraftTmp.dir("v2src_pf").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    // two partition columns incl. a NULL shard value (lands in the
    // Hive null-sentinel dir)
    val df = (1L to 120L).map { k =>
      val shard = if (k % 4 == 3) null else s"s${k % 3}"
      (k, shard, s"d${k % 2}", k * 1.5)
    }.toDF("k", "shard", "day", "v")
    IceLite.createOrReplacePartitioned(ref, df, Seq("shard", "day"),
      statsCols = Seq("v"))
    val src = spark.read.format(Fmt).load(ref.dir.toString)
    // WHERE shard = 's1' GROUP BY day — metadata-only, value-exact
    IceLiteSource.lastScanMetadataOnly = false
    val got = src.filter($"shard" === "s1").groupBy($"day")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    val expect = (1L to 120L).filter(k => k % 4 != 3 && k % 3 == 1)
      .groupBy(k => s"d${k % 2}").view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    assert(got == expect, s"filtered grouped fold wrong: $got vs $expect")
    assert(IceLiteSource.lastScanMetadataOnly,
      "a pushed partition equality must compose with the grouped fold")
    // IS NOT NULL composes too (Spark pushes it alongside equality);
    // alone it must also fold metadata-only
    IceLiteSource.lastScanMetadataOnly = false
    val nn = src.filter($"shard".isNotNull).agg(count(lit(1))).head.getLong(0)
    assert(nn == (1L to 120L).count(_ % 4 != 3).toLong)
    assert(IceLiteSource.lastScanMetadataOnly,
      "IS NOT NULL over a path-borne partition column must fold")
    // ... and null rows are NOT resurrected by the plain scan path
    // (the claimed-exact filter skips the sentinel dir)
    assert(src.filter($"shard".isNotNull).select("k").collect().length ==
      (1L to 120L).count(_ % 4 != 3))
    // r14 (verdict task #5): a STRING RANGE on a path-borne partition
    // column composes with the fold too — COUNT WHERE day >= X GROUP
    // BY day plans zero parquet reads; null shard dirs fail the range
    IceLiteSource.lastScanMetadataOnly = false
    val rg = src.filter($"day" >= "d1").groupBy($"day")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(rg == Seq(("d1", (1L to 120L).count(_ % 2 == 1).toLong)),
      s"range-filtered grouped fold wrong: $rg")
    assert(IceLiteSource.lastScanMetadataOnly,
      "a pushed partition range must compose with the grouped fold")
    // range over the NULLABLE column: sentinel dirs excluded exactly
    IceLiteSource.lastScanMetadataOnly = false
    val rn2 = src.filter($"shard" >= "s1").agg(count(lit(1))).head.getLong(0)
    assert(rn2 == (1L to 120L).count(k => k % 4 != 3 && k % 3 != 0).toLong)
    assert(IceLiteSource.lastScanMetadataOnly,
      "a range over a nullable partition column must fold (nulls fail it)")
    // ...and the row path agrees (claimed range, no residual)
    assert(src.filter($"shard" >= "s1").select("k").collect().length ==
      (1L to 120L).count(k => k % 4 != 3 && k % 3 != 0))
    // filtered-to-EMPTY: grouped → zero rows; global min/max → null
    IceLiteSource.lastScanMetadataOnly = false
    assert(src.filter($"shard" === "nope").groupBy($"day")
      .agg(count(lit(1))).collect().isEmpty)
    val empty = src.filter($"shard" === "nope")
      .agg(count(lit(1)), min($"v")).head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1),
      "empty selection must yield count 0 and null min")
    // a DATA-column filter still declines to the scan path, exact
    IceLiteSource.lastScanMetadataOnly = false
    val dv = src.filter($"v" <= 30.0).agg(count(lit(1))).head.getLong(0)
    assert(dv == (1L to 120L).count(_ * 1.5 <= 30.0).toLong)
    assert(!IceLiteSource.lastScanMetadataOnly,
      "a data-column filter must keep the aggregate on the scan path")
  }

  test("null partition rows round-trip as SQL NULLs on row paths; " +
    "grouped fold declines on a sentinel dir (ADVICE r13)") {
    val wh = graft.GraftTmp.dir("v2src_nullp").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    val df = (1L to 60L).map { k =>
      (k, if (k % 4 == 3) null else s"s${k % 3}", k * 1.5)
    }.toDF("k", "shard", "v")
    IceLite.createOrReplacePartitioned(ref, df, Seq("shard"),
      statsCols = Seq("v"))
    val src = spark.read.format(Fmt).load(ref.dir.toString)
    // projection: the sentinel dir surfaces as NULL, never the literal
    val shards = src.select("shard").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(shards == Set(None, Some("s0"), Some("s1"), Some("s2")),
      s"sentinel must decode to SQL NULL: $shards")
    // IS NULL selects exactly the null-partition rows (claimed exact:
    // pruning keeps only the sentinel dirs)
    assert(src.filter($"shard".isNull).select("k").as[Long].collect()
      .sorted.toSeq == (1L to 60L).filter(_ % 4 == 3))
    // ...and composes with the metadata fold: COUNT WHERE shard IS
    // NULL answers from the sentinel dirs' record counts alone
    IceLiteSource.lastScanMetadataOnly = false
    assert(src.filter($"shard".isNull).agg(count(lit(1))).head.getLong(0)
      == (1L to 60L).count(_ % 4 == 3).toLong)
    assert(IceLiteSource.lastScanMetadataOnly,
      "IS NULL over a path-borne partition column must fold metadata-only")
    // GROUP BY the partition column: sentinel dir present → the
    // metadata fold DECLINES and the scan-path answer carries a real
    // null group
    IceLiteSource.lastScanMetadataOnly = false
    val grouped = src.groupBy($"shard").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(!IceLiteSource.lastScanMetadataOnly,
      "grouped fold must decline when the grouped column has a sentinel dir")
    assert(grouped(None) == (1L to 60L).count(_ % 4 == 3).toLong)
    assert(grouped(Some("s1")) ==
      (1L to 60L).count(k => k % 4 != 3 && k % 3 == 1).toLong)
  }

  test("partition values with '+', space and '%' survive the claimed-exact " +
    "filter round-trip (unescapePathName, not URLDecoder)") {
    // the writer escapes dir values with escapePathName, which leaves
    // '+' raw; URLDecoder mapped it to a space, so a claimed-exact
    // equality on 'a+b' would have silently dropped the whole file
    // (pre-r13 the residual filter hid the mis-decode as a failed
    // prune; with the claim there is no residual — r13 fix)
    val wh = graft.GraftTmp.dir("v2src_esc").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    val shards = Seq("a+b", "a b", "100%", "plain")
    val df = (0L until 80L).map(k => (k, shards((k % 4).toInt))).toDF("k", "shard")
    IceLite.createOrReplacePartitioned(ref, df, "shard")
    val src = spark.read.format(Fmt).load(ref.dir.toString)
    shards.foreach { v =>
      // scan path (row-returning)
      val rows = src.filter($"shard" === v).select("k").as[Long]
        .collect().sorted.toSeq
      assert(rows == (0L until 80L).filter(k => shards((k % 4).toInt) == v),
        s"claimed-exact filter lost rows for shard '$v': $rows")
      // metadata fold path (the composed agg pushdown)
      IceLiteSource.lastScanMetadataOnly = false
      assert(src.filter($"shard" === v).agg(count(lit(1))).head.getLong(0)
        == 20L, s"fold miscounted shard '$v'")
      assert(IceLiteSource.lastScanMetadataOnly)
    }
  }

  test("a pushed partition filter prunes the STREAMING file delta too " +
    "(the claimed-exact filter has no residual — r13)") {
    val wh = graft.GraftTmp.dir("v2src_sf").toString
    val ref = TableRef(wh, "ns", "t")
    IceLite.createNamespace(wh, "ns")
    def slice(lo: Long, hi: Long) = (lo until hi).map { k =>
      (k, if (k % 2 == 0) "a" else "b")
    }.toDF("k", "shard")
    IceLite.createOrReplacePartitioned(ref, slice(0, 40), "shard")
    val sink = s"sf_sink_${java.util.UUID.randomUUID.toString.take(6)}"
    val q = spark.readStream.format(Fmt).load(ref.dir.toString)
      .filter($"shard" === "a")
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation",
        graft.GraftTmp.dir("v2src_sf_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // mid-stream append lands BOTH shards; only 'a' may arrive
      IceLite.appendPartitioned(ref, slice(40, 60), "shard")
      q.processAllAvailable()
      val got = spark.table(sink).select("k").as[Long].collect().sorted.toSeq
      assert(got == (0L until 60L by 2).toSeq,
        s"filtered stream emitted wrong rows: $got")
    } finally q.stop()
  }

  test("sidecar-live multi-split scans read row-based UNIFORMLY (no mixed-mode crash)") {
    // REST model fuzz seeds 5010/5038: a position sidecar touches only
    // SOME files; per-split columnar support then mixes modes and
    // Spark's planner throws "Cannot mix row-based and columnar input
    // partitions" the moment the open-cost packer makes >1 bin. The
    // factory now decides columnar at SCAN level.
    val dir = graft.GraftTmp.dir("src_mixmor").toString
    IceLite.createNamespace(dir, "src")
    val ref = TableRef(dir, "src", "t")
    IceLite.createOrReplace(ref, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    IceLite.append(ref, Seq((3L, "c"), (4L, "d")).toDF("k", "s"))
    IceLite.deleteWhereMoR(spark, ref, "k = 1") // tombstone on file 1 only
    // one bin per file → one split carries the tombstone, one doesn't
    val got = spark.read.format(Fmt)
      .option("targetSplitBytes", 1L).load(ref.dir.toString)
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "b"), (3L, "c"), (4L, "d")), got)
    // and a sidecar-free multi-split scan keeps the columnar kernel
    IceLite.compact(spark, ref)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = spark.read.format(Fmt)
        .option("targetSplitBytes", 1L).load(ref.dir.toString)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"compacted scan lost the columnar kernel:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("table schema is ALWAYS nullable: a REQUIRED-schema head file must not flip it") {
    // RestModelFuzzSpec sweep seeds 1022/1039: a tuple-derived DF
    // writes parquet REQUIRED fields; when that file becomes the
    // snapshot's HEAD file (a CoW rewrite reordered the list), a
    // schema derived from its nullability makes codegen skip null
    // checks — every other file's nulls then read as 0. File-based
    // tables surface every column nullable, exactly like
    // spark.read.parquet's asNullable rule.
    import org.apache.spark.sql.functions.lit
    val dir = graft.GraftTmp.dir("src_nullable").toString
    IceLite.createNamespace(dir, "src")
    val ref = TableRef(dir, "src", "t")
    // head file: tuple-derived, parquet-REQUIRED c
    IceLite.createOrReplace(ref, Seq((11L, 5.5, 4L)).toDF("k", "v", "c"))
    val schema = spark.read.format(Fmt).load(ref.dir.toString).schema
    assert(schema.fields.forall(_.nullable),
      s"non-nullable fields leaked from the head file: $schema")
    // a second file with all-null c must read null, not 0
    Seq((1L, 0.5), (2L, 1.0)).toDF("k", "v")
      .withColumn("c", lit(null).cast("bigint"))
      .write.format(Fmt).mode("append").save(ref.dir.toString)
    val got = spark.read.format(Fmt).load(ref.dir.toString)
      .select("k", "c").orderBy("k").collect()
    assert(got.filter(_.getLong(0) < 11L).forall(_.isNullAt(1)),
      s"nulls decoded as 0 under a non-nullable scan schema: ${got.mkString(", ")}")
    assert(got.find(_.getLong(0) == 11L).exists(_.getLong(1) == 4L))
  }

  test("MIN/MAX and grouped pushdown decline a zero bound, which footers " +
    "widen to the wrong sign") {
    // parquet-mr reads a min of 0.0 back as -0.0 and a max of -0.0 as
    // +0.0, so a metadata answer of zero could carry the wrong sign
    def table(name: String, files: Seq[Seq[Double]]): org.apache.spark.sql.DataFrame = {
      val wh = graft.GraftTmp.dir(s"v2src_zero_$name").toString
      val ref = TableRef(wh, "ns", "t")
      IceLite.createNamespace(wh, "ns")
      val ext = graft.GraftTmp.dir(s"v2src_zero_ext_$name")
      files.zipWithIndex.foreach { case (xs, i) =>
        xs.toDF("x").coalesce(1).write.parquet(ext.resolve(s"f$i").toString)
      }
      IceLite.addFiles(ref, IceLite.listDir(java.nio.file.Files.walk(ext))(_
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq))
      spark.read.format(Fmt).load(ref.dir.toString)
    }
    def isPositiveZero(d: Double) = java.lang.Double.compare(d, 0.0) == 0
    def isNegativeZero(d: Double) = java.lang.Double.compare(d, -0.0) == 0
    val pos = table("pos", Seq(Seq(0.0, 2.5)))
    val lo = pos.agg(min($"x")).head.getDouble(0)
    assert(isPositiveZero(lo), s"min(x) over {0.0, 2.5} answered $lo")
    // a non-zero bound still answers from the manifest
    IceLiteSource.lastScanMetadataOnly = false
    assert(pos.agg(max($"x")).head.getDouble(0) == 2.5)
    assert(IceLiteSource.lastScanMetadataOnly)
    val neg = table("neg", Seq(Seq(-2.5, -0.0)))
    val hi = neg.agg(max($"x")).head.getDouble(0)
    assert(isNegativeZero(hi), s"max(x) over {-2.5, -0.0} answered $hi")
    val grouped = table("grp", Seq(Seq(0.0, 0.0), Seq(1.5)))
      .groupBy($"x").agg(count(lit(1))).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    assert(grouped.map(_._2).toSeq == Seq(2L, 1L) && isPositiveZero(grouped.head._1),
      s"GROUP BY x answered ${grouped.mkString(", ")}")
  }
}
