package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}

/** The SQL-addressable face (IceLiteCatalog): plain `spark.sql` over
  * IceLite tables — SELECT, CTAS, INSERT INTO, DROP — resolving
  * through the same connector tables as the DataFrame path. */
class IceLiteCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Each test registers its own uniquely-named catalog: Spark caches
    * catalog instances per session by name, so reusing one name with
    * a different warehouse would silently read the first one. */
  private def freshCatalog(): (String, String) = {
    val wh = graft.GraftTmp.dir("cat_wh").toString
    val name = s"graftcat_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, wh)
  }

  test("SELECT over a catalog identifier equals the API read") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v"))
    val got = spark.sql(s"SELECT k, v FROM $cat.src.t WHERE k <= 3 ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 100L)
  }

  test("DataFrameWriterV2: the reference's exact load API (writeTo create/append/createOrReplace)") {
    // extract_load.py:95-110 — the reference's loader calls
    // df.writeTo(t).create() / .append() / .createOrReplace(), not
    // SQL. These map to the same DSv2 plans (CTAS / AppendData /
    // ReplaceTableAsSelect via the staging catalog), but a user
    // switching from the reference types THESE verbs — pin them.
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val t = s"$cat.src.loaded"
    (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s")
      .writeTo(t).option("write.format.default", "parquet").create()
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    // incremental load: append
    (11L to 15L).map(k => (k, s"r$k")).toDF("k", "s").writeTo(t).append()
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 15L)
    val ref = TableRef(wh, "src", "loaded")
    assert(IceLite.readManifest(ref).snapshots.size >= 2,
      "append must be its own snapshot (history kept)")
    // full refresh: createOrReplace — atomic, only the new rows remain
    (100L to 102L).map(k => (k, s"f$k")).toDF("k", "s")
      .writeTo(t).createOrReplace()
    assert(spark.sql(s"SELECT min(k), max(k), count(*) FROM $t")
      .head.toSeq == Seq(100L, 102L, 3L))
    // create on an existing table refuses (the loader's exists-check
    // branch relies on this failing loudly)
    assertThrows[Exception](
      Seq((1L, "x")).toDF("k", "s").writeTo(t).create())
  }

  test("SHOW namespaces and tables reflect the warehouse") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    IceLite.createOrReplace(TableRef(wh, "src", "t1"), Seq(1).toDF("k"))
    IceLite.createOrReplace(TableRef(wh, "src", "t2"), Seq(2).toDF("k"))
    val ns = spark.sql(s"SHOW NAMESPACES IN $cat").collect().map(_.getString(0))
    assert(ns.contains("src"))
    val tables = spark.sql(s"SHOW TABLES IN $cat.src")
      .collect().map(_.getString(1)).sorted
    assert(tables.toSeq == Seq("t1", "t2"))
  }

  // ---- d51: ALTER TABLE ADD COLUMN ----

  test("ALTER TABLE ADD COLUMN: metadata-only, old files null-fill, INSERT writes it") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 10L).map(k => (k, k * 2.0)).toDF("k", "v"))
    val filesBefore = IceLite.readManifest(ref).current.files
    spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN tag STRING")
    // metadata-only: same snapshot, same files, new manifest version
    val m = IceLite.readManifest(ref)
    assert(m.current.files == filesBefore, "ALTER must not touch data files")
    assert(m.addedCols.map(c => (c.name, c.sqlType)) == Seq(("tag", "string")))
    // visible immediately; pre-alter rows are NULL
    assert(spark.sql(s"SELECT * FROM $cat.src.t").columns.toSeq ==
      Seq("k", "v", "tag"))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.src.t WHERE tag IS NULL")
      .head.getLong(0) == 10L)
    // INSERT with the new column; mixed files read correctly
    spark.sql(s"INSERT INTO $cat.src.t VALUES (11, 22.0, 'new')")
    val got = spark.sql(
      s"SELECT k, v, tag FROM $cat.src.t ORDER BY k")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(got.size == 11)
    assert(got.take(10).forall(_._3.isEmpty), "pre-alter rows must be NULL")
    assert(got.last == ((11L, 22.0, Some("new"))))
    // filter on the added column (old files can't match, new ones can)
    assert(spark.sql(
      s"SELECT k FROM $cat.src.t WHERE tag = 'new'").head.getLong(0) == 11L)
  }

  test("ALTER-added column: projection of ONLY the added column spans old files") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (1L to 7L).map(k => (k, k)).toDF("k", "v"))
    spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN w BIGINT")
    spark.sql(s"INSERT INTO $cat.src.t VALUES (8, 8, 80)")
    // every projected column is missing from the old file → its rows
    // come from the footer count as all-null cells
    val ws = spark.sql(s"SELECT w FROM $cat.src.t")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(ws.length == 8)
    assert(ws.count(_.isEmpty) == 7 && ws.flatten.toSeq == Seq(80L))
  }

  test("ALTER-added column is scoped: time travel before the alter hides it") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, Seq((1L, 1.0)).toDF("k", "v"))
    val preAlterSnap = IceLite.readManifest(ref).currentSnapshotId
    IceLite.append(ref, Seq((2L, 2.0)).toDF("k", "v"))
    spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN tag STRING")
    assert(spark.sql(
      s"SELECT * FROM $cat.src.t VERSION AS OF $preAlterSnap")
      .columns.toSeq == Seq("k", "v"),
      "pre-alter snapshot must not see the added column")
    assert(spark.sql(s"SELECT * FROM $cat.src.t").columns.toSeq ==
      Seq("k", "v", "tag"))
  }

  test("ALTER-added column composes with partitioned connector reads") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplacePartitioned(ref,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "p"), "p")
    spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN score DOUBLE")
    // old partitioned files null-fill; partition pruning still works
    val got = spark.sql(
      s"SELECT k, p, score FROM $cat.src.t WHERE p = 'a' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
    assert(got.toSeq == Seq((1L, "a", true), (2L, "a", true)))
  }

  test("ALTER TABLE refuses duplicates, nested and complex types") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    IceLite.createOrReplace(TableRef(wh, "src", "t"), Seq((1L, 1.0)).toDF("k", "v"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN v DOUBLE"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN a ARRAY<INT>"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN v TO k")) // name taken
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t DROP COLUMN nope"))
    // and the ledgers stayed empty
    val m = IceLite.readManifest(TableRef(wh, "src", "t"))
    assert(m.addedCols.isEmpty && m.droppedCols.isEmpty && m.renamedCols.isEmpty)
  }

  // ---- d52: ALTER TABLE DROP COLUMN ----

  test("DROP COLUMN: metadata-only hide, time travel still sees it, no re-add") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 4L).map(k => (k, k * 2.0, s"u$k")).toDF("k", "v", "u"))
    val preDropSnap = IceLite.readManifest(ref).currentSnapshotId
    // an alter binds to the CURRENT snapshot id, so time travel
    // distinguishes it only across commits (same rule as ADD COLUMN)
    IceLite.append(ref, Seq((5L, 10.0, "u5")).toDF("k", "v", "u"))
    val filesBefore = IceLite.readManifest(ref).current.files
    spark.sql(s"ALTER TABLE $cat.src.t DROP COLUMN v")
    // metadata-only: files untouched, column hidden immediately
    assert(IceLite.readManifest(ref).current.files == filesBefore)
    assert(spark.sql(s"SELECT * FROM $cat.src.t").columns.toSeq == Seq("k", "u"))
    intercept[Exception](spark.sql(s"SELECT v FROM $cat.src.t").collect())
    // remaining columns keep their values
    assert(spark.sql(s"SELECT u FROM $cat.src.t WHERE k = 3")
      .head.getString(0) == "u3")
    // time travel BEFORE the drop sees the column and its bytes
    val tt = spark.sql(
      s"SELECT k, v FROM $cat.src.t VERSION AS OF $preDropSnap WHERE k = 3")
    assert(tt.head.getDouble(1) == 6.0)
    // INSERT against the narrowed schema, then read both eras
    spark.sql(s"INSERT INTO $cat.src.t VALUES (6, 'u6')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 6L)
    // a dropped name can never come back (stale bytes would resurface)
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN v DOUBLE"))
  }

  test("DROP COLUMN refuses partition keys, sort keys, and the last column") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val part = TableRef(wh, "src", "p")
    IceLite.createOrReplacePartitioned(part,
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.src.p DROP COLUMN p"))
    val sorted = TableRef(wh, "src", "s")
    IceLite.createOrReplaceSorted(sorted,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), "k", numFiles = 1)
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.src.s DROP COLUMN k"))
    val tiny = TableRef(wh, "src", "one")
    IceLite.createOrReplace(tiny, Seq(1L).toDF("k"))
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.src.one DROP COLUMN k"))
  }

  test("DROP of an ALTER-added column that was never written") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    IceLite.createOrReplace(TableRef(wh, "src", "t"), Seq((1L, 1.0)).toDF("k", "v"))
    spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN tag STRING")
    assert(spark.sql(s"SELECT * FROM $cat.src.t").columns.length == 3)
    spark.sql(s"ALTER TABLE $cat.src.t DROP COLUMN tag")
    assert(spark.sql(s"SELECT * FROM $cat.src.t").columns.toSeq == Seq("k", "v"))
  }

  test("CTAS creates a table whose first snapshot is the select result") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    IceLite.createOrReplace(TableRef(wh, "src", "t"),
      (1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"))
    spark.sql(
      s"CREATE TABLE $cat.src.big AS SELECT k, v FROM $cat.src.t WHERE k > 40")
    val ref = TableRef(wh, "src", "big")
    assert(IceLite.tableExists(ref))
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create"))
    assert(IceLite.read(spark, ref).as[(Long, Double)].collect()
      .map(_._1).sorted.toSeq == (41L to 50L))
    // and the new table is itself SQL-addressable
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.big").head.getLong(0) == 10L)
  }

  test("INSERT INTO appends one snapshot through the catalog") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
    spark.sql(s"INSERT INTO $cat.src.t VALUES (2, 'b'), (3, 'c')")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "append"))
    assert(IceLite.read(spark, ref).as[(Long, String)].collect().toSeq.sortBy(_._1)
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("DROP TABLE removes the table; SELECT then fails to resolve") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "gone")
    IceLite.createOrReplace(ref, Seq(1).toDF("k"))
    assert(spark.sql(s"DROP TABLE $cat.src.gone") != null)
    assert(!IceLite.tableExists(ref))
    assertThrows[Exception](spark.sql(s"SELECT * FROM $cat.src.gone").collect())
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF pin snapshots") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "tt")
    val s1 = IceLite.createOrReplace(ref,
      (1L to 10L).map(k => (k, "v1")).toDF("k", "s"))
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    IceLite.append(ref, (11L to 15L).map(k => (k, "v2")).toDF("k", "s"))
    // VERSION AS OF pins the first snapshot
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.tt VERSION AS OF ${s1.id}")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.tt").head.getLong(0) == 15L)
    // TIMESTAMP AS OF between the commits sees only the first
    val lit = java.time.Instant.ofEpochMilli(between).toString.replace("T", " ").replace("Z", "")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.src.tt TIMESTAMP AS OF '$lit'")
      .head.getLong(0) == 10L,
      "TIMESTAMP AS OF between commits must resolve the older snapshot")
    // an unknown version fails loudly
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.src.tt VERSION AS OF 999").collect())
    // a pinned table refuses writes (history is immutable)
    assertThrows[Exception](spark.sql(
      s"INSERT INTO $cat.src.tt VERSION AS OF ${s1.id} VALUES (99, 'x')"))
  }

  // ---- d58: ALTER TABLE RENAME COLUMN ----

  test("RENAME COLUMN: metadata-only; new name reads values across file eras") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    val s1 = IceLite.createOrReplace(ref,
      (1L to 4L).map(k => (k, k * 2.0)).toDF("k", "price"))
    IceLite.append(ref, (5L to 10L).map(k => (k, k * 2.0)).toDF("k", "price"))
    val filesBefore = IceLite.readManifest(ref).current.files
    spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN price TO amount")
    // metadata-only: same snapshot, same files
    val m = IceLite.readManifest(ref)
    assert(m.current.files == filesBefore)
    assert(m.renamedCols.map(r => (r.from, r.to)) == Seq(("price", "amount")))
    // old files answer under the NEW name (alias read, columnar path)
    assert(spark.sql(s"SELECT SUM(amount) FROM $cat.src.t").head.getDouble(0)
      == (1L to 10L).map(_ * 2.0).sum)
    assert(!spark.table(s"$cat.src.t").columns.contains("price"))
    // post-rename INSERT stores the new name; both eras read together
    spark.sql(s"INSERT INTO $cat.src.t VALUES (11, 100.0)")
    assert(spark.sql(
      s"SELECT CAST(COUNT(*) AS BIGINT), SUM(amount) FROM $cat.src.t")
      .head match { case r => r.getLong(0) == 11L &&
        r.getDouble(1) == (1L to 10L).map(_ * 2.0).sum + 100.0 })
    // projection of ONLY the renamed column spans old files
    assert(spark.sql(s"SELECT amount FROM $cat.src.t WHERE amount = 6.0")
      .count() == 1L)
    // time travel STRICTLY before the rename's snapshot scope sees
    // the OLD name (the rename is scoped to its commit-time snapshot
    // onward, like ALTER-added columns)
    val tt = spark.sql(s"SELECT * FROM $cat.src.t VERSION AS OF ${s1.id}")
    assert(tt.columns.toSet == Set("k", "price"))
    assert(tt.count() == 4L)
  }

  test("RENAME COLUMN chains resolve per file era; retired names refuse reuse") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, Seq((1L, 10.0)).toDF("k", "a"))
    spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN a TO b")
    spark.sql(s"INSERT INTO $cat.src.t VALUES (2, 20.0)") // stores b
    spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN b TO c")
    spark.sql(s"INSERT INTO $cat.src.t VALUES (3, 30.0)") // stores c
    val got = spark.sql(s"SELECT k, c FROM $cat.src.t ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // retired names: neither a nor b can be re-added or re-targeted
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN a DOUBLE"))
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN c TO b"))
    // renaming a missing column refuses
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN nope TO x"))
    // changelog consumers refuse renamed tables (stored names mix)
    assertThrows[Exception](IceLite.changes(spark, ref, 1L, 2L))
  }

  test("VERSION AS OF resolves a tag; tags and branches stay disjoint") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "tg")
    val s1 = IceLite.createOrReplace(ref,
      (1L to 10L).map(k => (k, "era1")).toDF("k", "s"))
    IceLite.createTag(ref, "v1", s1.id)
    IceLite.createOrReplace(ref, (1L to 5L).map(k => (k, "era2")).toDF("k", "s"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.tg VERSION AS OF 'v1'")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.tg").head.getLong(0) == 5L)
    // a tag name can't be reused as a branch, nor retagged
    assertThrows[IllegalArgumentException](
      IceLite.stageBranchAppend(ref, "v1", Seq((99L, "x")).toDF("k", "s")))
    assertThrows[IllegalArgumentException](IceLite.createTag(ref, "v1", s1.id))
    // unknown names still fail loudly (and list the tags)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.src.tg VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("tag"))
  }

  test("DELETE FROM through SQL runs the layout-preserving copy-on-write delete") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until 400L).map(k => (k, s"v$k")).toDF("k", "s"),
      "k", numFiles = 4, statsCols = Seq("k"))
    val before = IceLite.readManifest(ref).current.files.toSet
    spark.sql(s"DELETE FROM $cat.src.t WHERE k >= 100 AND k < 150")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "delete"))
    // touched-files-only: 3 of 4 files survive byte-identical
    assert(m.current.files.count(before) == 3)
    // sort layout survived the SQL statement (d32 through SQL)
    assert(m.current.sortedBy.contains("k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 350L)
    // string predicates render too (escaping included)
    spark.sql(s"DELETE FROM $cat.src.t WHERE s = 'v200'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 349L)
    // a time-travel identifier refuses deletes
    assertThrows[Exception](spark.sql(
      s"DELETE FROM $cat.src.t VERSION AS OF 1 WHERE k = 0"))
  }

  test("DELETE FROM in mor mode writes a sidecar instead of rewriting") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until 400L).map(k => (k, s"v$k")).toDF("k", "s"),
      "k", numFiles = 4, statsCols = Seq("k"))
    val before = IceLite.readManifest(ref).current.files
    spark.conf.set("spark.graft.icelite.deleteMode", "mor")
    try {
      spark.sql(s"DELETE FROM $cat.src.t WHERE k >= 100 AND k < 150")
      val m = IceLite.readManifest(ref).current
      assert(m.operation == "delete-mor")
      assert(m.files == before, "MoR delete must rewrite nothing")
      assert(m.deleteFiles.nonEmpty)
      // the SQL face reads the complement through the sidecars
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t")
        .head.getLong(0) == 350L)
    } finally spark.conf.unset("spark.graft.icelite.deleteMode")
  }

  test("_file metadata column traces every row to its data file") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until 400L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", numFiles = 4, statsCols = Seq("k"))
    val perFile = spark.sql(
      s"SELECT _file, count(*) AS n FROM $cat.src.t GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(perFile.length == 4)
    assert(perFile.map(_._2).sum == 400L)
    // values are real paths of the table's current files
    val files = IceLite.readManifest(ref).current.files
      .map(f => ref.dir.resolve(f).toString).toSet
    assert(perFile.map(_._1).toSet == files)
  }

  test("UPDATE through SQL rewrites only the files holding matches") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until 400L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", numFiles = 4, statsCols = Seq("k"))
    val before = IceLite.readManifest(ref).current.files.toSet
    spark.sql(s"UPDATE $cat.src.t SET v = v + 1000 WHERE k >= 100 AND k < 150")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "update"))
    // runtime group filtering: 3 of 4 files survive byte-identical
    assert(m.current.files.count(before) == 3)
    // the table's sort metadata survives, and row count is unchanged
    assert(m.current.sortedBy.contains("k"))
    assert(m.current.rowCount == 400L)
    val got = spark.sql(
      s"SELECT sum(v) FROM $cat.src.t").head.getDouble(0)
    assert(got == (0L until 400L).map(_ * 2.0).sum + 50 * 1000)
    // untouched rows inside the rewritten file kept their values
    assert(spark.sql(s"SELECT v FROM $cat.src.t WHERE k = 99")
      .head.getDouble(0) == 198.0)
  }

  test("MERGE INTO through SQL: matched update, not-matched insert, one snapshot") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplaceSorted(ref,
      (0L until 400L).map(k => (k, k * 2.0)).toDF("k", "v"),
      "k", numFiles = 4, statsCols = Seq("k"))
    val before = IceLite.readManifest(ref).current.files.toSet
    // updates hit only the first file's range; inserts are new keys
    Seq((10L, -1.0), (20L, -2.0), (1000L, 5.0), (1001L, 6.0))
      .toDF("k", "v").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.src.t t USING merge_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT *""")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "merge"))
    assert(m.current.files.count(before) == 3)
    assert(m.current.rowCount == 402L)
    val got = spark.sql(
      s"SELECT k, v FROM $cat.src.t WHERE k IN (10, 20, 1000, 1001, 30) ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((10L, -1.0), (20L, -2.0), (30L, 60.0),
      (1000L, 5.0), (1001L, 6.0)))
  }

  test("DELETE with a non-renderable predicate takes the row-level COW path") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (0L until 100L).map(k => (k, s"v$k")).toDF("k", "s"))
    // k % 7 = 3 cannot render as a pushed source filter → ReplaceData
    spark.sql(s"DELETE FROM $cat.src.t WHERE k % 7 = 3")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.last.operation == "delete")
    val expect = (0L until 100L).filterNot(_ % 7 == 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0)
      == expect.length.toLong)
    assert(spark.sql(s"SELECT sum(k) FROM $cat.src.t").head.getLong(0)
      == expect.sum)
  }

  test("SQL row-level writes restage partitioned tables through their layout (d69)") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "pt")
    IceLite.createOrReplacePartitioned(ref,
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
    spark.sql(s"UPDATE $cat.src.pt SET k = k + 1 WHERE p = 'a'")
    val got = spark.sql(s"SELECT k, p FROM $cat.src.pt ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "a"), (2L, "b")))
    val m = IceLite.readManifest(ref)
    assert(m.current.partitionCols == Seq("p"), "layout marker survives")
    assert(m.current.files.forall(f => f.contains("p=a") || f.contains("p=b")),
      s"rewritten files must stay in value dirs: ${m.current.files}")
  }

  test("metadata tables are SQL identifiers: t\\$snapshots and t\\$partitions") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "pt")
    IceLite.createOrReplacePartitioned(ref,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "p"), "p",
      statsCols = Seq("k"))
    IceLite.appendPartitioned(ref, Seq((4L, "a")).toDF("k", "p"), "p")
    val snaps = spark.sql(
      s"SELECT snapshot_id, operation, n_rows, is_current FROM $cat.src.`pt$$snapshots` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(snaps.toSeq == Seq((1L, "create", 3L, false), (2L, "append", 4L, true)))
    val parts = spark.sql(
      s"SELECT p, file_count, row_count FROM $cat.src.`pt$$partitions` ORDER BY p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.toSeq == Seq(("a", 2L, 3L), ("b", 1L, 1L)))
    // `t$files`: one row per live data file, counts from the manifest
    val files = spark.sql(
      s"SELECT file, row_count FROM $cat.src.`pt$$files` ORDER BY file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.length == 3 && files.map(_._2).sum == 4L)
    assert(files.map(_._1).toSeq ==
      IceLite.readManifest(ref).current.files.sorted)
    // unknown suffix fails loudly
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.src.`pt$$bogus`").collect())
  }

  // ---- d64: the `t$refs` metadata table ----

  test("t\\$refs lists main, WAP branches, and tags with their snapshots") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    val s1 = IceLite.createOrReplace(ref,
      (1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v"))
    // a bare table has exactly one ref: main at the current snapshot
    val bare = spark.sql(
      s"SELECT name, type, snapshot_id FROM $cat.src.`t$$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(bare.toSeq == Seq(("main", "branch", s1.id)))
    IceLite.append(ref, Seq((11L, 11.0)).toDF("k", "v"))
    IceLite.createTag(ref, "v1", s1.id)
    IceLite.stageBranchAppend(ref, "audit", Seq((12L, 12.0)).toDF("k", "v"))
    val refs = spark.sql(
      s"SELECT name, type, snapshot_id FROM $cat.src.`t$$refs` ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val m = IceLite.readManifest(ref)
    assert(refs.toSeq == Seq(
      ("audit", "branch", m.branches("audit")),
      ("main", "branch", m.currentSnapshotId),
      ("v1", "tag", s1.id)))
    // lifecycle reflected: publish consumes the branch, drop-tag the tag
    IceLite.publish(ref, "audit")
    IceLite.dropTag(ref, "v1")
    val after = spark.sql(
      s"SELECT name, snapshot_id FROM $cat.src.`t$$refs`")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(after.toSeq == Seq(("main", IceLite.readManifest(ref).currentSnapshotId)))
  }

  test("VERSION AS OF a branch name reads the staged WAP candidate") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"))
    IceLite.stageBranchAppend(ref, "audit",
      Seq((51L, 51.0), (52L, 52.0)).toDF("k", "v"))
    // main is untouched; the branch sees the staged rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 50L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.src.t VERSION AS OF 'audit'")
      .head.getLong(0) == 52L)
    // branch tables are read-only pins
    assertThrows[Exception](spark.sql(
      s"INSERT INTO $cat.src.t VERSION AS OF 'audit' VALUES (99, 9.9)"))
    // unknown branch fails loudly, naming the live ones
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.src.t VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("audit"))
  }

  test("spark.wap.branch routes INSERT INTO to the branch; lifecycle procedures close the loop") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"))
    try {
      spark.conf.set("spark.wap.branch", "audit")
      // two INSERTs ACCUMULATE on the branch; main never moves
      spark.sql(s"INSERT INTO $cat.src.t VALUES (51, 51.0)")
      spark.sql(s"INSERT INTO $cat.src.t VALUES (52, 52.0)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 50L,
        "main must not move while spark.wap.branch is set")
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.src.t VERSION AS OF 'audit'")
        .head.getLong(0) == 52L,
        "second INSERT must chain on the branch head, not restage")
      // an overwrite cannot be staged — loud refusal, main intact
      val e = intercept[Exception](
        spark.sql(s"INSERT OVERWRITE $cat.src.t VALUES (1, 1.0)"))
      assert(e.getMessage.contains("wap.branch") ||
        Option(e.getCause).exists(_.getMessage.contains("wap.branch")))
      // a row-level rewrite mid-audit refuses too (it would hit main)
      val e2 = intercept[Exception](
        spark.sql(s"DELETE FROM $cat.src.t WHERE k = 1"))
      assert(e2.getMessage.contains("wap.branch") ||
        Option(e2.getCause).exists(_.getMessage.contains("wap.branch")))
    } finally spark.conf.unset("spark.wap.branch")
    // audit passed: publish fast-forwards main, branch pointer clears
    val pub = spark.sql(s"""CALL $cat.system.publish_branch(
      table => 'src.t', branch => 'audit')""").collect()
    assert(pub.head.getLong(0) > 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 52L)
    assert(IceLite.readManifest(ref).branches.isEmpty)
    // reject path: stage a bad batch, drop it via the procedure
    try {
      spark.conf.set("spark.wap.branch", "audit2")
      spark.sql(s"INSERT INTO $cat.src.t VALUES (999, -1.0)")
    } finally spark.conf.unset("spark.wap.branch")
    assert(spark.sql(s"""CALL $cat.system.drop_branch(
      table => 'src.t', branch => 'audit2')""").collect().head.getBoolean(0))
    assert(IceLite.readManifest(ref).branches.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 52L,
      "rejected batch must never reach main")
  }

  test("INSERT OVERWRITE through the catalog replaces the table in one snapshot") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (1L to 100L).map(k => (k, "old")).toDF("k", "s"))
    spark.sql(s"INSERT OVERWRITE $cat.src.t VALUES (7, 'new'), (8, 'newer')")
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(_.operation) == Seq("create", "replace"))
    val got = spark.sql(s"SELECT k, s FROM $cat.src.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((7L, "new"), (8L, "newer")))
    // history stays time-travelable until expiry
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.src.t VERSION AS OF ${m.snapshots.head.id}")
      .head.getLong(0) == 100L)
  }

  test("readStream.table streams an IceLite table through the catalog identifier") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "feed")
    IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, k * 2.0)).toDF("k", "v"))
    IceLite.append(ref, Seq((11L, 22.0)).toDF("k", "v"))
    val out = graft.GraftTmp.dir("cat_stream_out").toString
    val ck = graft.GraftTmp.dir("cat_stream_ck").toString
    val q = spark.readStream.table(s"$cat.src.feed")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == (1L to 11L).map(k => (k, k * 2.0)))
  }

  test("CALL system procedures drive the maintenance loop from SQL") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v"))
    IceLite.append(ref, Seq((101L, 1.0)).toDF("k", "v"))
    IceLite.append(ref, Seq((102L, 2.0)).toDF("k", "v"))
    // compact: many small files → 1, via named-argument CALL
    val c = spark.sql(s"CALL $cat.system.compact(table => 'src.t')").collect()
    assert(c.head.getLong(1) == 1L)
    assert(IceLite.readManifest(ref).current.files.size == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 102L)
    // rollback: the time-travel undo as SQL
    val rb = spark.sql(
      s"CALL $cat.system.rollback_to_snapshot('src.t', 1)").collect()
    assert(rb.head.getLong(1) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 100L)
    // expiry: keep the last 2 snapshots
    val ex = spark.sql(
      s"CALL $cat.system.expire_retain_last('src.t', 2)").collect()
    assert(ex.head.getLong(0) >= 1L)
    assert(IceLite.readManifest(ref).snapshots.size == 2)
    // gc: reclaim a planted (backdated — mtime grace) orphan
    val orphan = ref.dataDir.resolve("deadbeef").resolve("orphan.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000))
    val gc = spark.sql(
      s"CALL $cat.system.gc_orphans('src.t', 0)").collect()
    assert(gc.head.getLong(0) >= 1L)
    assert(!java.nio.file.Files.exists(orphan))
    // the table still answers correctly after the full loop
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 100L)
    // Iceberg's canonical names alias to the same procedures — what
    // a user migrating from the reference stack types
    IceLite.append(ref, Seq((103L, 3.0)).toDF("k", "v"))
    val rw = spark.sql(
      s"CALL $cat.system.rewrite_data_files(table => 'src.t')").collect()
    assert(rw.head.getLong(1) == 1L)
    assert(spark.sql(
      s"CALL $cat.system.remove_orphan_files('src.t', 0)") != null)
    // unknown procedures fail loudly
    assertThrows[Exception](spark.sql(s"CALL $cat.system.bogus()"))
  }

  test("MERGE with all three arm classes: MATCHED, NOT MATCHED, NOT MATCHED BY SOURCE") {
    // the full-sync shape (SCD type-1 mirror): update intersection,
    // insert source-only, delete target-only — one MERGE statement
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 10L).map(k => (k, s"old$k")).toDF("k", "s"))
    (5L to 12L).map(k => (k, s"new$k")).toDF("k", "s")
      .createOrReplaceTempView("merge_src")
    spark.sql(s"""MERGE INTO $cat.src.t t USING merge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.s = s.s
      WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.s)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = spark.sql(s"SELECT k, s FROM $cat.src.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == (5L to 12L).map(k => (k, s"new$k")),
      s"full-sync MERGE diverged: $got")
  }

  test("expire_snapshots accepts Iceberg's TIMESTAMP form — the reference's verbatim call") {
    // extract_load.py:171: CALL …expire_snapshots('src.t', TIMESTAMP '…')
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, k * 2.0)).toDF("k", "v"))
    IceLite.append(ref, Seq((11L, 1.0)).toDF("k", "v"))
    IceLite.append(ref, Seq((12L, 2.0)).toDF("k", "v"))
    assert(IceLite.readManifest(ref).snapshots.size == 3)
    // a cutoff in the past expires nothing
    val none = spark.sql(s"CALL $cat.system.expire_snapshots('src.t', " +
      "TIMESTAMP '2001-01-01 00:00:00')").collect()
    assert(none.head.getLong(0) == 0L)
    // a future cutoff expires everything but the current snapshot
    val all = spark.sql(s"CALL $cat.system.expire_snapshots('src.t', " +
      "TIMESTAMP '2101-01-01 00:00:00')").collect()
    assert(all.head.getLong(0) == 2L)
    assert(IceLite.readManifest(ref).snapshots.size == 1)
    // the epoch-ms long form still binds
    IceLite.append(ref, Seq((13L, 3.0)).toDF("k", "v"))
    val ms = spark.sql(s"CALL $cat.system.expire_snapshots('src.t', " +
      s"${System.currentTimeMillis() + 3600000L}L)").collect()
    assert(ms.head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 13L)
  }

  test("catalog reads keep the connector's pruning and pushdown") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "sorted")
    IceLite.createOrReplaceSorted(ref,
      (0L until 8000L).map(k => (k, k * 2)).toDF("k", "v"),
      "k", numFiles = 8, statsCols = Seq("k"))
    val rows = spark.sql(
      s"SELECT k, v FROM $cat.src.sorted WHERE k >= 1000 AND k < 2000")
      .as[(Long, Long)].collect()
    assert(rows.length == 1000)
    assert(IceLiteSource.lastPlannedFiles.size < 8,
      s"catalog read lost manifest pruning: ${IceLiteSource.lastPlannedFiles.size} files")
    // aggregate pushdown works through the SQL identifier too
    IceLiteSource.lastScanMetadataOnly = false
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.sorted")
      .head.getLong(0) == 8000L)
    assert(IceLiteSource.lastScanMetadataOnly,
      "count(*) through the catalog must stay metadata-only")
  }

  test("$history/$manifests/$entries metadata tables (d88)") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "t")
    IceLite.createOrReplace(ref,
      (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(2))
    IceLite.append(ref,
      (101L to 150L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(1))
    IceLite.stageBranchAppend(ref, "audit",
      (151L to 160L).map(k => (k, k * 2.0)).toDF("k", "v"))

    // history: linear lineage; the staged branch commit (id 3) sits
    // ABOVE the published pointer and is not a current ancestor
    val hist = spark.sql(
      s"""SELECT snapshot_id, parent_id, is_current_ancestor
          FROM $cat.src.`t$$history` ORDER BY snapshot_id""").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(hist(0).isNullAt(1) && hist(1).getLong(1) == 1L &&
      hist(2).getLong(1) == 2L)
    assert(hist.map(_.getBoolean(2)).toSeq == Seq(true, true, false))

    // manifests: real meta/ segments with bytes + first-referencing
    // snapshot; the append REUSES the create's segment (shared chains)
    val man = spark.sql(
      s"SELECT * FROM $cat.src.`t$$manifests`").collect()
    assert(man.nonEmpty && man.forall(r =>
      r.getString(0).startsWith("meta/") && r.getLong(1) > 0 &&
        r.getLong(3) >= 1))
    assert(man.exists(_.getLong(2) == 1L),
      "the create-era segment must stay referenced (chain reuse)")

    // entries: 2 existing files from snapshot 1, 1 added by current
    val ent = spark.sql(
      s"""SELECT status, snapshot_id, record_count, size_bytes
          FROM $cat.src.`t$$entries`""").collect()
    assert(ent.length == 3)
    assert(ent.count(r => r.getInt(0) == 1 && r.getLong(1) == 2L) == 1)
    assert(ent.count(r => r.getInt(0) == 0 && r.getLong(1) == 1L) == 2)
    assert(ent.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))

    // after a rollback to snapshot 1, ancestry follows the REAL
    // lineage: the rollback commit (4) chains on its TARGET (1), so
    // the undone append (2) and the staged branch commit (3) both
    // report false — rolled-back commits are off the current lineage
    // (the exact case Iceberg's flag exists to expose)
    IceLite.rollback(ref, 1L)
    val h2 = spark.sql(
      s"""SELECT snapshot_id, parent_id, is_current_ancestor
          FROM $cat.src.`t$$history` ORDER BY snapshot_id""").collect()
    assert(h2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(h2(3).getLong(1) == 1L,
      "the rollback commit's parent is its restore target")
    assert(h2.map(_.getBoolean(2)).toSeq ==
      Seq(true, false, false, true))
    // entries now reflect the rolled-back (create-era) file set
    val e2 = spark.sql(
      s"SELECT status, snapshot_id FROM $cat.src.`t$$entries`").collect()
    assert(e2.length == 2 && e2.forall(r =>
      r.getInt(0) == 0 && r.getLong(1) == 1L))
    // unknown metadata table still refuses loudly, naming the trio
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.src.`t$$bogus`").collect()
    }
    assert(err.getMessage.contains("history"))
  }

  test("SQL reads a TIMESTAMP_NTZ column while position deletes are live") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "ntz")
    val base = java.time.LocalDateTime.parse("2024-03-01T10:15:30.123456")
    IceLite.createOrReplace(ref,
      (0L until 60L).map(k => (k, base.plusHours(k))).toDF("k", "ts"))
    IceLite.deleteWhereMoR(spark, ref, "k % 4 = 1")
    assert(IceLite.readManifest(ref).current.deleteFiles.nonEmpty)
    val got = spark.sql(s"SELECT k, ts FROM $cat.src.ntz")
      .as[(Long, java.time.LocalDateTime)].collect().sortBy(_._1).toSeq
    val expect = IceLite.read(spark, ref)
      .as[(Long, java.time.LocalDateTime)].collect().sortBy(_._1).toSeq
    assert(expect.map(_._1) == (0L until 60L).filterNot(_ % 4 == 1))
    assert(got == expect)
    val cut = java.time.LocalDateTime.parse("2024-03-01T20:00:00")
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.ntz WHERE ts < " +
      "TIMESTAMP_NTZ '2024-03-01 20:00:00'").head.getLong(0) ==
      expect.count(_._2.isBefore(cut)).toLong)
  }

  test("add_files of a DECIMAL(12,2) file records scaled stats that prune " +
    "exactly through SQL and readPruned") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "priced")
    val ext = graft.GraftTmp.dir("addfiles_decimal")
    Seq("100.00", "150.00").toDF("price")
      .selectExpr("CAST(price AS DECIMAL(12,2)) AS price")
      .coalesce(1).write.mode("overwrite").parquet(ext.toString)
    val sources = IceLite.listDir(java.nio.file.Files.list(ext))(_
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    val snap = IceLite.addFiles(ref, sources)
    assert(snap.fileStats.values.flatten.toSeq ==
      Seq(graft.icelite.ColStats("price", 100.0, 150.0)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.priced " +
      "WHERE price < 200.00").head.getLong(0) == 2L)
    assert(IceLite.readPruned(spark, ref, "price", 0, 200).count() == 2L)
  }

  test("an INSERT after a merge-on-read DELETE keeps a partitioned " +
    "table's rowCount logical") {
    Seq("g" -> "(g)", "bucket" -> "(bucket(2, k))").foreach { case (name, by) =>
      val (cat, wh) = freshCatalog()
      IceLite.createNamespace(wh, "src")
      val ref = TableRef(wh, "src", name)
      val t = s"$cat.src.$name"
      spark.sql(s"CREATE TABLE $t (k BIGINT, g STRING) PARTITIONED BY $by")
      spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'a'), (3, 'b'), (4, 'b')")
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
        "('write.delete.mode'='merge-on-read')")
      spark.sql(s"DELETE FROM $t WHERE k = 1")
      assert(IceLite.readManifest(ref).current.deleteFiles.nonEmpty, by)
      spark.sql(s"INSERT INTO $t VALUES (5, 'b')")
      val n = spark.sql(s"SELECT count(*) FROM $t").head.getLong(0)
      assert(n == 4L, by)
      assert(IceLite.readManifest(ref).current.rowCount == n, by)
    }
  }

  test("CREATE TABLE … TBLPROPERTIES lands the user properties in the " +
    "create commit") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "props")
    spark.sql(s"CREATE TABLE $cat.src.props (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val m = IceLite.readManifest(ref)
    assert(m.properties == Map("write.delete.mode" -> "merge-on-read"))
    assert(m.snapshots.size == 1)
    spark.sql(s"INSERT INTO $cat.src.props VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $cat.src.props WHERE k = 1")
    assert(IceLite.readManifest(ref).current.deleteFiles.nonEmpty,
      "the declared delete mode must route DELETE to merge-on-read")
    assert(spark.sql(s"SELECT k FROM $cat.src.props").as[Long].collect()
      .toSeq == Seq(2L))
    // partitioned and hidden-partition DDL carry them the same way
    spark.sql(s"CREATE TABLE $cat.src.pprops (k BIGINT, g STRING) " +
      "PARTITIONED BY (g) TBLPROPERTIES ('read.split.target-size'='1048576')")
    spark.sql(s"CREATE TABLE $cat.src.tprops (k BIGINT, g STRING) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('a'='b')")
    assert(IceLite.readManifest(TableRef(wh, "src", "pprops")).properties ==
      Map("read.split.target-size" -> "1048576"))
    assert(IceLite.readManifest(TableRef(wh, "src", "tprops")).properties ==
      Map("a" -> "b"))
    // an honored key is validated exactly as SET TBLPROPERTIES does
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $cat.src.bad (k BIGINT) " +
        "TBLPROPERTIES ('read.split.target-size'='-1')")
    }
    assert(!IceLite.tableExists(TableRef(wh, "src", "bad")))
  }

  test("CTAS and RTAS … TBLPROPERTIES land the user properties in the " +
    "staged commit, on the owning and the REST catalog") {
    val (cat, wh) = freshCatalog()
    IceLite.createNamespace(wh, "src")
    val ref = TableRef(wh, "src", "ctas")
    spark.sql(s"CREATE TABLE $cat.src.ctas " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read') AS " +
      "SELECT * FROM VALUES (1L, 1.0D), (2L, 2.0D) AS v(k, v)")
    assert(IceLite.readManifest(ref).properties ==
      Map("write.delete.mode" -> "merge-on-read"))
    spark.sql(s"DELETE FROM $cat.src.ctas WHERE k = 1")
    assert(IceLite.readManifest(ref).current.deleteFiles.nonEmpty,
      "the declared delete mode must route DELETE to merge-on-read")
    assert(spark.sql(s"SELECT k FROM $cat.src.ctas").as[Long].collect()
      .toSeq == Seq(2L))
    // RTAS and CREATE OR REPLACE merge theirs over the table's own
    spark.sql(s"REPLACE TABLE $cat.src.ctas TBLPROPERTIES ('a'='1') " +
      "AS SELECT 3L AS k, 3.0D AS v")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.src.ctas " +
      "TBLPROPERTIES ('b'='2') AS SELECT 4L AS k, 4.0D AS v")
    assert(IceLite.readManifest(ref).properties == Map(
      "write.delete.mode" -> "merge-on-read", "a" -> "1", "b" -> "2"))
    // the REST attachment posts them with its one create-staged commit
    val srv = new graft.sources.rest.CatalogServer(wh).start()
    try {
      val rcat = s"restcat_${java.util.UUID.randomUUID.toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$rcat",
        "graft.sources.rest.IceLiteRestCatalog")
      spark.conf.set(s"spark.sql.catalog.$rcat.uri", srv.uri)
      spark.sql(s"CREATE TABLE $rcat.src.rctas " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read') AS SELECT 1L AS k")
      assert(IceLite.readManifest(TableRef(wh, "src", "rctas")).properties ==
        Map("write.delete.mode" -> "merge-on-read"))
    } finally srv.stop()
  }
}
