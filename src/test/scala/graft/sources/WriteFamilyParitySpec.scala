package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}
import graft.sources.rest.CatalogServer

/** One write family, two transports: the same statements over the same
  * rows through the owning catalog and through the REST attachment
  * land the same manifests — per-file layout dirs, row counts and
  * footer stats, and the snapshot's operation, row count, layout and
  * sort marker — on flat, identity and bucket tables. */
class WriteFamilyParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withCatalogs(f: (String, String, String) => Unit): Unit = {
    val wh = graft.GraftTmp.dir("parity_wh").toString
    IceLite.createNamespace(wh, "src")
    val id = java.util.UUID.randomUUID.toString.take(8)
    val local = s"paritylocal_$id"
    spark.conf.set(s"spark.sql.catalog.$local", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$local.warehouse", wh)
    val srv = new CatalogServer(wh).start()
    val remote = s"parityrest_$id"
    spark.conf.set(s"spark.sql.catalog.$remote",
      "graft.sources.rest.IceLiteRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$remote.uri", srv.uri)
    try f(wh, local, remote) finally srv.stop()
  }

  /** What a commit decides, with the staging token and task ids (which
    * differ run to run) taken out of the file paths. */
  private def shape(ref: TableRef) = {
    val s = IceLite.readManifest(ref).current
    val files = s.files.map { f =>
      (f.split('/').dropRight(1).filter(_.contains('=')).mkString("/"),
        s.fileRows.get(f), s.fileStats.get(f).map(_.sortBy(_.col)))
    }.sortBy(_.toString)
    (files, s.operation, s.rowCount, s.partitionCols, s.partitionSpec,
      s.sortedBy)
  }

  private val layouts = Seq(
    "flat" -> "",
    "identity" -> "PARTITIONED BY (d)",
    "bucket" -> "PARTITIONED BY (bucket(4, k))")

  private def rows(from: Int, to: Int): String =
    s"SELECT CAST(id AS BIGINT) AS k, id * 0.5 AS v, " +
      s"concat('p', CAST(id % 3 AS STRING)) AS d FROM range($from, $to)"

  test("INSERT, INSERT OVERWRITE, CTAS and a copy-on-write UPDATE land " +
    "equal manifests through the owning and the REST catalog") {
    withCatalogs { (wh, local, remote) =>
      for ((layout, ddl) <- layouts) {
        def both(label: String, t: String = s"t_$layout")(
            stmt: String => Unit): Unit = {
          stmt(s"$local.src.l$t")
          stmt(s"$remote.src.r$t")
          assert(shape(TableRef(wh, "src", s"l$t")) ==
            shape(TableRef(wh, "src", s"r$t")), s"$layout $label")
        }
        both("CREATE + INSERT INTO") { n =>
          spark.sql(s"CREATE TABLE $n (k BIGINT, v DOUBLE, d STRING) $ddl")
          spark.sql(s"INSERT INTO $n ${rows(0, 30)}")
        }
        both("INSERT INTO again")(n => spark.sql(s"INSERT INTO $n ${rows(30, 45)}"))
        both("INSERT OVERWRITE")(n =>
          spark.sql(s"INSERT OVERWRITE $n ${rows(5, 35)}"))
        if (layout == "identity") {
          both("INSERT OVERWRITE PARTITION (static)")(n => spark.sql(
            s"INSERT OVERWRITE $n PARTITION (d = 'p1') " +
              "SELECT CAST(id AS BIGINT), id * 2.0 FROM range(100, 104)"))
          spark.sql("SET spark.sql.sources.partitionOverwriteMode=dynamic")
          try both("INSERT OVERWRITE (dynamic)")(n =>
            spark.sql(s"INSERT OVERWRITE $n ${rows(200, 204)}"))
          finally spark.sql("SET spark.sql.sources.partitionOverwriteMode=static")
        }
        both("copy-on-write UPDATE")(n =>
          spark.sql(s"UPDATE $n SET v = v + 1 WHERE k % 4 = 0"))
        both("CTAS", s"c_$layout")(n =>
          spark.sql(s"CREATE TABLE $n $ddl AS ${rows(0, 25)}"))
      }
    }
  }

  test("the REST attachment declares no write class of its own") {
    val dir = Paths.get("src/main/scala/graft/sources/rest")
    val sources = IceLite.listDir(Files.list(dir))(_.toSeq)
      .filter(_.toString.endsWith(".scala"))
    assert(sources.nonEmpty, s"no sources under $dir")
    for (f <- sources; name <- Seq("BatchWrite", "WriteBuilder",
        "RowLevelOperation", "extends IceLiteStagedTable",
        "extends graft.sources.IceLiteStagedTable"))
      assert(!new String(Files.readAllBytes(f), "UTF-8").contains(name),
        s"${f.getFileName} names $name")
  }
}
