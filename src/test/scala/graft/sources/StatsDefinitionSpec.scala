package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.TestSpark
import graft.icelite.{ColStats, IceLite, TableRef}

/** One stats definition across the write faces: the engine append,
  * SQL INSERT, a REST append, add_files and compact() all take
  * `fileStats` from the footers of the files they add, in the units
  * `ColStats` declares (decimals scaled, DATE in days, TIMESTAMP_NTZ
  * in micros), and the same rows prune to the same counts whichever
  * face wrote them. */
class StatsDefinitionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog(): (String, String) = {
    val wh = graft.GraftTmp.dir("stats_wh").toString
    val name = s"statscat_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    IceLite.createNamespace(wh, "src")
    (name, wh)
  }

  private val Cols = Seq("k", "x", "price", "d", "ts")

  /** Four rows in one partition, so every face writes one file. */
  private def rows(): DataFrame = spark.range(1, 5).selectExpr(
    "id AS k", "id * 2.5D AS x",
    "CAST(100 + id * 25 AS DECIMAL(12,2)) AS price",
    "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
    "TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(0, CAST(id AS INT)) AS ts")
    .coalesce(1)

  /** Register `df`'s parquet files (a plain Spark write) via add_files. */
  private def addFiles(ref: TableRef, df: DataFrame): Unit = {
    val ext = graft.GraftTmp.dir("stats_ext")
    df.coalesce(1).write.mode("overwrite").parquet(ext.toString)
    IceLite.addFiles(ref, IceLite.listDir(java.nio.file.Files.list(ext))(_
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq))
    ()
  }

  private def onlyFileStats(ref: TableRef): Seq[ColStats] = {
    val snap = IceLite.readManifest(ref).current
    assert(snap.files.size == 1, s"${ref.name}: ${snap.files}")
    snap.fileStats(snap.files.head).filter(cs => Cols.contains(cs.col))
      .sortBy(_.col)
  }

  private def micros(hour: Int): Double = java.time.LocalDateTime
    .of(2024, 1, 1, hour, 0).toEpochSecond(java.time.ZoneOffset.UTC) * 1e6
  private val day = java.time.LocalDate.of(2024, 1, 2).toEpochDay.toDouble

  /** The stats every face records for `rows()`. */
  private val expectedStats = Seq(
    ColStats("d", day, day + 3), ColStats("k", 1, 4),
    ColStats("price", 125, 200), ColStats("ts", micros(1), micros(4)),
    ColStats("x", 2.5, 10))

  private def assertPrunedCounts(cat: String, table: String): Unit =
    Seq("k >= 3" -> 2L, "x > 5" -> 2L, "price < 150.00" -> 1L,
      "d >= DATE'2024-01-04'" -> 2L,
      "ts < TIMESTAMP_NTZ'2024-01-01 02:30:00'" -> 2L, "k > 9" -> 0L)
      .foreach { case (p, n) =>
        assert(spark.sql(s"SELECT count(*) FROM $cat.src.$table WHERE $p")
          .head.getLong(0) == n, s"$cat.$table WHERE $p")
      }

  private def assertEnginePruning(ref: TableRef): Unit = {
    assert(IceLite.readPruned(spark, ref, "price", 0, 149).count() == 1L)
    assert(IceLite.readPruned(spark, ref, "k", 5, 9).count() == 0L)
  }

  test("engine append, SQL INSERT, add_files and compact record identical " +
    "footer stats and prune to identical counts") {
    val (cat, wh) = freshCatalog()
    val engine = TableRef(wh, "src", "engine")
    IceLite.append(engine, rows(), statsCols = Cols)
    val sql = TableRef(wh, "src", "sqlins")
    spark.sql(s"CREATE TABLE $cat.src.sqlins (k BIGINT, x DOUBLE, " +
      "price DECIMAL(12,2), d DATE, ts TIMESTAMP_NTZ)")
    rows().createOrReplaceTempView("stats_rows")
    spark.sql(s"INSERT INTO $cat.src.sqlins SELECT * FROM stats_rows")
    val added = TableRef(wh, "src", "added")
    addFiles(added, rows())
    val compacted = TableRef(wh, "src", "compacted")
    IceLite.append(compacted, rows().limit(2), statsCols = Cols)
    IceLite.append(compacted, rows().filter("k > 2"), statsCols = Cols)
    IceLite.compact(spark, compacted)

    Seq(engine, sql, added, compacted).foreach { ref =>
      assert(onlyFileStats(ref) == expectedStats, s"${ref.name} stats")
    }
    for (t <- Seq("engine", "sqlins", "added", "compacted"))
      assertPrunedCounts(cat, t)
    Seq(engine, sql, added, compacted).foreach(assertEnginePruning)
  }

  test("a REST append records the same footer stats and prunes to the " +
    "same counts") {
    val (cat, wh) = freshCatalog()
    val srv = new graft.sources.rest.CatalogServer(wh).start()
    try {
      val rcat = s"statsrest_${java.util.UUID.randomUUID.toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$rcat",
        "graft.sources.rest.IceLiteRestCatalog")
      spark.conf.set(s"spark.sql.catalog.$rcat.uri", srv.uri)
      spark.sql(s"CREATE TABLE $rcat.src.restins (k BIGINT, x DOUBLE, " +
        "price DECIMAL(12,2), d DATE, ts TIMESTAMP_NTZ)")
      rows().createOrReplaceTempView("stats_rest_rows")
      spark.sql(s"INSERT INTO $rcat.src.restins SELECT * FROM stats_rest_rows")
      val ref = TableRef(wh, "src", "restins")
      assert(IceLite.readManifest(ref).current.summary
        .get("committed-via").contains("rest"))
      assert(onlyFileStats(ref) == expectedStats)
      assertPrunedCounts(rcat, "restins")
      assertPrunedCounts(cat, "restins")
      assertEnginePruning(ref)
    } finally srv.stop()
  }

  test("compact() after add_files of a DATE column keeps its day stats") {
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "dated")
    addFiles(ref, rows().select("k", "d"))
    val before = onlyFileStats(ref)
    assert(before.exists(_.col == "d"))
    IceLite.compact(spark, ref)
    assert(onlyFileStats(ref) == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.dated " +
      "WHERE d < DATE'2024-01-03'").head.getLong(0) == 1L)
  }

  test("a NaN in a stats column records no bound, so pruning keeps the file") {
    val (cat, wh) = freshCatalog()
    val ref = TableRef(wh, "src", "nan")
    IceLite.append(ref, Seq(1.0, Double.NaN).toDF("x").coalesce(1),
      statsCols = Seq("x"))
    assert(IceLite.readManifest(ref).current.fileStats.values.flatten.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src.nan WHERE x > 5")
      .head.getLong(0) == 1L)
  }

  test("SQL INSERT round-trips every type Spark's parquet writer accepts") {
    val (cat, _) = freshCatalog()
    val ddl = "tiny TINYINT, small SMALLINT, i INT, b BIGINT, f FLOAT, " +
      "dbl DOUBLE, dec DECIMAL(12,2), wide DECIMAL(38,6), flag BOOLEAN, " +
      "s STRING, bin BINARY, d DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ, " +
      "arr ARRAY<INT>, m MAP<STRING, INT>, st STRUCT<a: INT, b: STRING>"
    spark.sql(s"CREATE TABLE $cat.src.types ($ddl)")
    val src = spark.sql(
      "SELECT CAST(1 AS TINYINT), CAST(2 AS SMALLINT), 3, 4L, CAST(1.5 AS FLOAT), " +
        "2.25D, CAST(12345.67 AS DECIMAL(12,2)), " +
        "CAST('12345678901234567890.123456' AS DECIMAL(38,6)), true, 'str', " +
        "X'CAFE', DATE'2024-02-29', TIMESTAMP'2024-02-29 12:34:56.789012', " +
        "TIMESTAMP_NTZ'2024-02-29 12:34:56.789012', array(1, 2), " +
        "map('a', 1), named_struct('a', 5, 'b', 'x') " +
      "UNION ALL SELECT NULL, NULL, NULL, 5L, NULL, NULL, NULL, NULL, NULL, " +
        "NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL")
      .toDF(spark.sql(s"SELECT * FROM $cat.src.types").columns: _*)
    src.createOrReplaceTempView("stats_types")
    spark.sql(s"INSERT INTO $cat.src.types SELECT * FROM stats_types")
    val got = spark.sql(s"SELECT * FROM $cat.src.types ORDER BY b").collect().toSeq
    val expect: Seq[Row] = src.orderBy("b").collect().toSeq
    assert(got == expect)
  }
}
