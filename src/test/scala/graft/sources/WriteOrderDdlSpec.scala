package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.icelite.{IceLite, PartitionField, TableRef}
import graft.sources.rest.CatalogServer

/** d89 — sort-order DDL (`ALTER TABLE … WRITE ORDERED BY col` /
  * `WRITE UNORDERED`), Iceberg's spark-extensions grammar.
  *
  * The invariants:
  *  - the flip is metadata-only (zero bytes move) and never
  *    overclaims: the snapshot-level `sortedBy` marker stays unset
  *    until compact() proves the whole table;
  *  - the declaration steers every later write (SQL INSERT clusters
  *    its new files immediately);
  *  - compact() materializes and EARNS the marker; a later unsorted
  *    state is impossible to claim silently (unordered appends drop
  *    the marker per the existing d54 rule);
  *  - the refusal matrix: partitioned layouts of either kind, live
  *    MoR sidecars, unknown columns;
  *  - both catalog faces flip the same manifest field (REST posts
  *    one /alter op).
  */
class WriteOrderDdlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): (String, String) = {
    val wh = graft.GraftTmp.dir("wo_wh").toString
    val name = s"wocat_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    IceLite.createNamespace(wh, "src")
    (name, wh)
  }

  test("flip is metadata-only; INSERT clusters; compact earns the marker; UNORDERED clears") {
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 2000L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(3),
      statsCols = Seq("k"))
    val before = IceLite.readManifest(ref).current.files.toSet
    spark.sql(s"ALTER TABLE $cat.src.t WRITE ORDERED BY k")
    val m1 = IceLite.readManifest(ref)
    assert(m1.current.files.toSet == before, "the flip moved bytes")
    assert(m1.declaredSortedBy.contains("k"))
    assert(m1.current.sortedBy.isEmpty,
      "the whole-table marker must not land before materialization")
    // the declared order steers the next SQL INSERT: new files carry
    // pairwise-disjoint k ranges
    (2001L to 4000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .createOrReplaceTempView("wo_e2")
    spark.sql(s"INSERT INTO $cat.src.t SELECT * FROM wo_e2")
    val m2 = IceLite.readManifest(ref).current
    val era2 = m2.files.filterNot(before)
    val ranges = era2.flatMap(f => m2.fileStats.getOrElse(f, Nil)
      .find(_.col == "k").map(cs => (cs.min, cs.max))).sortBy(_._1)
    assert(era2.nonEmpty && ranges.size == era2.size)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"era-2 files overlap: $ranges")
      case _ => ()
    }
    // compact materializes: marker earned, range probes prune
    IceLite.compact(spark, ref, targetFiles = 4)
    val m3 = IceLite.readManifest(ref)
    assert(m3.current.sortedBy.contains("k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t WHERE k >= 100 AND k < 600")
      .head.getLong(0) == 500L)
    assert(IceLiteSource.lastPlannedFiles.size < m3.current.files.size,
      "materialized order must prune range probes")
    // WRITE UNORDERED clears the declaration; the next unsorted
    // append drops the physical marker honestly (d54's rule)
    spark.sql(s"ALTER TABLE $cat.src.t WRITE UNORDERED")
    assert(IceLite.readManifest(ref).declaredSortedBy.isEmpty)
    (4001L to 4100L).map(k => (k, k * 2.0)).toDF("k", "v")
      .createOrReplaceTempView("wo_e3")
    spark.sql(s"INSERT INTO $cat.src.t SELECT * FROM wo_e3")
    assert(IceLite.readManifest(ref).current.sortedBy.isEmpty,
      "an unordered append must drop the whole-table marker")
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 4100L)
  }

  test("refusal matrix: partitioned layouts, MoR-live, unknown column") {
    val (cat, wh) = freshCatalog()
    // identity-partitioned
    IceLite.createOrReplacePartitioned(TableRef(wh, "src", "p"),
      (1L to 90L).map(k => (k, (k % 3).toString)).toDF("k", "g"), "g")
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.p WRITE ORDERED BY k")
    }
    assert(e1.getMessage.contains("partitioned"))
    // transform-partitioned
    IceLite.createOrReplaceTransformed(TableRef(wh, "src", "h"),
      (1L to 90L).map(k => (k, k * 1.0)).toDF("k", "v"),
      Seq(PartitionField("k_bucket", "bucket", "k", 4)))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.h WRITE ORDERED BY k")
    }
    assert(e2.getMessage.contains("partitioned"))
    // MoR-live
    val mor = TableRef(wh, "src", "m")
    IceLite.createOrReplace(mor,
      (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
    IceLite.deleteWhereMoR(spark, mor, "k % 7 = 0")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.m WRITE ORDERED BY k")
    }
    assert(e3.getMessage.contains("MoR"))
    // unknown column fails the DDL eagerly
    val flat = TableRef(wh, "src", "f")
    IceLite.createOrReplace(flat, (1L to 10L).map(k => (k, k)).toDF("k", "v"))
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.f WRITE ORDERED BY nope")
    }
    assert(e4.getMessage.contains("no column"))
    // a later partition-field flip drops a pending declaration
    spark.sql(s"ALTER TABLE $cat.src.f WRITE ORDERED BY k")
    assert(IceLite.readManifest(flat).declaredSortedBy.contains("k"))
    spark.sql(s"ALTER TABLE $cat.src.f ADD PARTITION FIELD bucket(4, k)")
    assert(IceLite.readManifest(flat).declaredSortedBy.isEmpty,
      "the partitioned era must not inherit a flat sort declaration")
    // column lists, ASC/DESC (r13) and NULLS FIRST/LAST (r14) are
    // SUPPORTED; a genuinely unsupported shape — an expression key —
    // refuses with a capability message, not the delegate's generic
    // syntax error, and an unknown transform name is loud too
    val g = TableRef(wh, "src", "g")
    IceLite.createOrReplace(g, (1L to 10L).map(k => (k, k)).toDF("a", "b"))
    spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY a, b")
    assert(IceLite.readManifest(g).declaredSortedBy.contains("a,b"))
    spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY a DESC")
    assert(IceLite.readManifest(g).declaredSortedBy.contains("a DESC"))
    spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY a NULLS FIRST, b DESC NULLS LAST")
    assert(IceLite.readManifest(g).declaredSortedBy
      .contains("a NULLS FIRST,b DESC NULLS LAST"))
    val e5 = intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY a + b")
    }
    assert(e5.getMessage.contains("expression keys"), e5.getMessage)
    val e6 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY zorder(3, a)")
    }
    assert(e6.getMessage.contains("sort transform"), e6.getMessage)
    // r15 (ADVICE): the grammar is Iceberg's fixed bucket|truncate
    // (n, col) — the reversed form is refused LOUDLY, never silently
    // reinterpreted by an all-digits heuristic
    val e7 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY bucket(a, 8)")
    }
    assert(e7.getMessage.contains("reversed"), e7.getMessage)
    spark.sql(s"ALTER TABLE $cat.src.g WRITE ORDERED BY bucket(8, a)")
    assert(IceLite.readManifest(g).declaredSortedBy.contains("bucket(8,a)"))
    // a digits-named column works as a transform source in canonical
    // position (the heuristic used to make it unparseable)
    assert(graft.icelite.SortKey.parse("truncate(4, `123`)").head ==
      graft.icelite.SortKey("123", asc = true, None, Some(("truncate", 4))))
    assert(graft.icelite.SortKey.parse("days(`2024`)").head.col == "2024")
  }

  test("multi-column DESC order: lifecycle over (d DESC, k), leading-key " +
    "pruning, canonical keep rule, grammar refusals") {
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "mo")
    // d plays o_orderdate (yyyymmdd int), k the tiebreak key
    def rows(ks: Range) = ks.map { i =>
      (20240101L + (i % 40), i.toLong, i * 2.0)
    }.toDF("d", "k", "v")
    IceLite.createOrReplace(ref, rows(1 to 2000).repartition(3),
      statsCols = Seq("d", "k"))
    val before = IceLite.readManifest(ref).current.files.toSet
    spark.sql(s"ALTER TABLE $cat.src.mo WRITE ORDERED BY d DESC, k")
    val m1 = IceLite.readManifest(ref)
    assert(m1.current.files.toSet == before, "the flip moved bytes")
    assert(m1.declaredSortedBy.contains("d DESC,k"),
      s"canonical encoding expected, got ${m1.declaredSortedBy}")
    assert(m1.current.sortedBy.isEmpty,
      "the whole-table marker must not land before materialization")
    // the declaration steers the next INSERT: era-2 files carry
    // pairwise-disjoint LEADING-key ranges, and rows inside each file
    // honor d DESC then k ASC
    rows(2001 to 4000).createOrReplaceTempView("wo_mo_e2")
    spark.sql(s"INSERT INTO $cat.src.mo SELECT * FROM wo_mo_e2")
    val m2 = IceLite.readManifest(ref).current
    val era2 = m2.files.filterNot(before)
    val ranges = era2.flatMap(f => m2.fileStats.getOrElse(f, Nil)
      .find(_.col == "d").map(cs => (cs.min, cs.max))).sortBy(_._1)
    assert(era2.nonEmpty && ranges.size == era2.size)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"era-2 leading-key ranges overlap: $ranges")
      case _ => ()
    }
    val inFile = spark.read.parquet(
        ref.dir.resolve(era2.head).toString)
      .select("d", "k").collect().map(r => (r.getLong(0), r.getLong(1)))
    inFile.sliding(2).foreach {
      case Array((d1, k1), (d2, k2)) =>
        assert(d1 > d2 || (d1 == d2 && k1 <= k2),
          s"in-file order violates (d DESC, k): ($d1,$k1) then ($d2,$k2)")
      case _ => ()
    }
    // compact materializes the DIRECTED order and earns the marker;
    // a leading-key range probe prunes (the d10-style witness)
    IceLite.compact(spark, ref, targetFiles = 4)
    val m3 = IceLite.readManifest(ref)
    assert(m3.current.sortedBy.contains("d DESC,k"))
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.src.mo WHERE d = 20240105")
      .head.getLong(0) == 100L)
    assert(IceLiteSource.lastPlannedFiles.size < m3.current.files.size,
      "materialized multi-column order must prune leading-key probes")
    // canonical keep rule on the engine face: an appendSorted on the
    // SAME order (spelled differently) keeps the marker; a different
    // order drops it honestly
    IceLite.appendSorted(ref, rows(4001 to 4100), "d desc , k",
      numFiles = 2, statsCols = Seq("d", "k"))
    assert(IceLite.readManifest(ref).current.sortedBy.contains("d DESC,k"),
      "same order spelled differently must keep the marker")
    IceLite.appendSorted(ref, rows(4101 to 4200), "d", numFiles = 1)
    assert(IceLite.readManifest(ref).current.sortedBy.isEmpty,
      "an append clustered on a DIFFERENT order must drop the marker")
    // NULLS modifiers are supported since r14; unknown columns and
    // duplicate keys stay loud
    spark.sql(s"ALTER TABLE $cat.src.mo WRITE ORDERED BY d DESC NULLS LAST")
    assert(IceLite.readManifest(ref).declaredSortedBy
      .contains("d DESC NULLS LAST"))
    val u = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.src.mo WRITE ORDERED BY d, nope"))
    assert(u.getMessage.contains("no column nope"), u.getMessage)
    val dup = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.src.mo WRITE ORDERED BY d, d DESC"))
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
  }

  test("transform-key order (r14): lifecycle over (days(ts) DESC, k NULLS " +
    "LAST) — canonical encoding, steered INSERT, materialize, pruned probe") {
    import org.apache.spark.sql.functions.date_format
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "tso")
    def rows(ks: Range) = ks.map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds((i % 40) * 86400L + i % 7)), i.toLong, i * 2.0)
    }.toDF("ts", "k", "v")
    IceLite.createOrReplace(ref, rows(1 to 2000).repartition(3),
      statsCols = Seq("ts", "k"))
    spark.sql(
      s"ALTER TABLE $cat.src.tso WRITE ORDERED BY days(ts) DESC, k NULLS LAST")
    val m1 = IceLite.readManifest(ref)
    assert(m1.declaredSortedBy.contains("days(ts) DESC,k NULLS LAST"),
      s"canonical transform encoding expected, got ${m1.declaredSortedBy}")
    // the declaration steers the next INSERT: in-file rows honor
    // day DESC then k ASC (the transform expression IS the write
    // layout's date_format derivation)
    rows(2001 to 4000).createOrReplaceTempView("wo_tso_e2")
    spark.sql(s"INSERT INTO $cat.src.tso SELECT * FROM wo_tso_e2")
    val m2 = IceLite.readManifest(ref).current
    val era2 = m2.files.filterNot(m1.current.files.toSet)
    assert(era2.nonEmpty)
    val inFile = spark.read.parquet(ref.dir.resolve(era2.head).toString)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    inFile.sliding(2).foreach {
      case Array((d1, k1), (d2, k2)) =>
        assert(d1 > d2 || (d1 == d2 && k1 <= k2),
          s"in-file order violates (days(ts) DESC, k): ($d1,$k1) then ($d2,$k2)")
      case _ => ()
    }
    // compact materializes the transform order and earns the marker;
    // day-clustered files then SKIP on a one-day ts range probe (the
    // d10-style pruned-scan witness at the engine face — ts stats are
    // epoch-microsecond doubles, the footer unit)
    IceLite.compact(spark, ref, targetFiles = 4)
    val m3 = IceLite.readManifest(ref)
    assert(m3.current.sortedBy.contains("days(ts) DESC,k NULLS LAST"))
    val lo = java.time.Instant.parse("2024-01-05T00:00:00Z")
      .getEpochSecond * 1e6
    val hi = java.time.Instant.parse("2024-01-06T00:00:00Z")
      .getEpochSecond * 1e6
    val kept = IceLite.prunedFilesMulti(ref, Seq(("ts", lo, hi)))
    assert(kept.nonEmpty && kept.size < m3.current.files.size,
      s"day-clustered files must prune a one-day probe: kept " +
        s"${kept.size} of ${m3.current.files.size}")
    // the kept files still hold every in-range row
    val expected = (1 to 4000).count(i => i % 40 == 4)
    assert(spark.read.parquet(kept.map(f => ref.dir.resolve(f).toString): _*)
      .filter(date_format($"ts", "yyyy-MM-dd") === "2024-01-05")
      .count() == expected.toLong)
  }

  test("a pending declaration blocks rename/drop/widen of its column") {
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "decl")
    IceLite.createOrReplace(ref,
      (1 to 50).map(k => (k, k, k * 2.0)).toDF("k", "c", "v"))
    spark.sql(s"ALTER TABLE $cat.src.decl WRITE ORDERED BY c")
    assert(IceLite.readManifest(ref).current.sortedBy.isEmpty,
      "fixture needs declaration-only state (marker unearned)")
    // before compact() earns the physical marker, the DECLARATION is
    // the only record of the write order — rename/drop/widen of its
    // column would strand it and break the next INSERT/compact()
    val r = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.decl RENAME COLUMN c TO x"))
    assert(r.getMessage.contains("DECLARED write order"), r.getMessage)
    val d = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.decl DROP COLUMN c"))
    assert(d.getMessage.contains("DECLARED write order"), d.getMessage)
    val w = intercept[Exception](
      IceLite.alterWidenColumn(ref, "c", "bigint"))
    assert(w.getMessage.contains("layout"), w.getMessage)
    // WRITE UNORDERED releases the column
    spark.sql(s"ALTER TABLE $cat.src.decl WRITE UNORDERED")
    spark.sql(s"ALTER TABLE $cat.src.decl RENAME COLUMN c TO x")
    assert(spark.sql(s"SELECT sum(x) FROM $cat.src.decl")
      .head.getLong(0) == (1 to 50).map(_.toLong).sum)
  }

  test("REST face: the same DDL flips the same manifest field over one POST") {
    val wh = graft.GraftTmp.dir("wo_rest_wh").toString
    IceLite.createNamespace(wh, "src")
    val srv = new CatalogServer(wh).start()
    val cat = s"worest_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.rest.IceLiteRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.uri)
    try {
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 500L).map(k => (k, k * 2.0)).toDF("k", "v"),
        statsCols = Seq("k"))
      spark.sql(s"ALTER TABLE $cat.src.t WRITE ORDERED BY k")
      assert(IceLite.readManifest(ref).declaredSortedBy.contains("k"),
        "the REST flip must land in the owning manifest")
      // an attachment INSERT is steered by the declaration too
      (501L to 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
        .createOrReplaceTempView("wo_rest_e2")
      spark.sql(s"INSERT INTO $cat.src.t SELECT * FROM wo_rest_e2")
      val m = IceLite.readManifest(ref).current
      val era2 = m.files.filter(_.nonEmpty).filterNot(
        IceLite.readManifest(ref).snapshots.head.files.toSet)
      assert(era2.nonEmpty)
      // refusals travel the wire as loud errors
      IceLite.createOrReplacePartitioned(TableRef(wh, "src", "p"),
        (1L to 30L).map(k => (k, (k % 3).toString)).toDF("k", "g"), "g")
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.src.p WRITE ORDERED BY k")
      }
      assert(e.getMessage.toLowerCase.contains("partitioned"))
      // UNORDERED round-trips
      spark.sql(s"ALTER TABLE $cat.src.t WRITE UNORDERED")
      assert(IceLite.readManifest(ref).declaredSortedBy.isEmpty)
    } finally srv.stop()
  }
}
