package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.ColumnIOFactory
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.TestSpark
import graft.icelite.IceLite

/** Every parquet-mr open in the program takes its read options from
  * the loaded `IceLite.hadoopConf` through `IceLite.openParquet` /
  * `IceLite.groupReader`, and builds them per open: parquet-mr's own
  * entry points parse a fresh default Hadoop conf, and a shared
  * options object would have one reader's close release the codec
  * factory another reader is still decompressing with. */
class ParquetOpenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mainSources: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

  /** The argument text of the call whose `(` sits at `open`. */
  private def callArgs(src: String, open: Int): String = {
    var depth = 0
    var i = open
    while ({ src(i) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case _ =>
    }; depth > 0 }) i += 1
    src.substring(open + 1, i)
  }

  /** Top-level argument count of an argument text. */
  private def arity(args: String): Int =
    if (args.trim.isEmpty) 0
    else 1 + args.foldLeft((0, 0)) { case ((d, n), c) => c match {
      case '(' | '[' | '{' => (d + 1, n)
      case ')' | ']' | '}' => (d - 1, n)
      case ',' if d == 0 => (d, n + 1)
      case _ => (d, n)
    } }._2

  private def starts(src: String, needle: String): Seq[Int] =
    Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).toSeq

  test("src/main opens parquet only with options over the loaded conf") {
    val srcs = mainSources
    assert(srcs.nonEmpty)
    for ((p, src) <- srcs) {
      assert(!src.contains("ParquetReader.builder("),
        s"$p: ParquetReader.builder parses a fresh Hadoop conf")
      val opens = starts(src, "ParquetFileReader.open(")
      for (i <- opens)
        assert(arity(callArgs(src, i + "ParquetFileReader.open".length)) > 1,
          s"$p: one-argument ParquetFileReader.open parses a fresh Hadoop conf")
      // read options are built inside an open's argument list, never
      // held: a close releases the options' codec factory
      for (i <- starts(src, "ReadOptions.builder(")) assert(opens.exists { o =>
        val a = o + "ParquetFileReader.open".length
        i > a && i < a + callArgs(src, a).length + 1
      }, s"$p: read options built outside an open")
      assert(!"""(val|var|def)\s+\w+\s*:\s*\w*ReadOptions""".r
        .findFirstIn(src).isDefined, s"$p: read options held in a field")
    }
    val helpers = srcs.filter(_._1.endsWith("IceLite.scala")).map(_._2).mkString
    assert(helpers.contains("def openParquet(") && helpers.contains("def groupReader("))
  }

  /** Σ pos over every row group of an open sidecar. */
  private def posSum(r: ParquetFileReader): Long = {
    val schema = r.getFooter.getFileMetaData.getSchema
    val io = new ColumnIOFactory().getColumnIO(schema)
    var sum = 0L
    var pages = r.readNextRowGroup()
    while (pages != null) {
      val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
      for (_ <- 0L until pages.getRowCount) sum += rr.read().getLong("pos", 0)
      pages = r.readNextRowGroup()
    }
    sum
  }

  test("concurrent sidecar decodes and footer opens: every position set exact") {
    val dir = graft.GraftTmp.dir("parquet_open")
    val files = (0 until 4).map(j => s"data/f$j.parquet")
    val rows = 60000L
    // sidecar i holds, for every file j, positions id*3+i with id % 4 == j;
    // small pages and row groups so each decode spans many decompressors
    val sidecars = Seq("snappy", "zstd", "snappy", "zstd").zipWithIndex.map {
      case (codec, i) =>
        val out = dir.resolve(s"sc_${i}_$codec").toString
        spark.range(rows).coalesce(1)
          .select(concat(lit("data/f"), (col("id") % 4).cast("string"),
            lit(".parquet")).as("file_path"), (col("id") * 3 + i).as("pos"))
          .write.option("compression", codec)
          .option("parquet.block.size", 64 * 1024)
          .option("parquet.page.size", 4 * 1024)
          .parquet(out)
        val part = Files.list(Paths.get(out)).iterator.asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
        assert(part.size == 1)
        part.head
    }
    def expected(wanted: Set[String]): Map[String, Seq[Long]] =
      files.filter(wanted).map { f =>
        f -> (for (i <- sidecars.indices; id <- files.indexOf(f).toLong
          until rows by 4) yield id * 3 + i).sorted
      }.toMap
    val all = expected(files.toSet)
    val pool = Executors.newFixedThreadPool(9)
    try {
      val decodes = (0 until 8).map { t =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit = (0 until 3).foreach { _ =>
            // odd threads push a one-file filter down; even ones read all
            val wanted = if (t % 2 == 1) Seq(files(t % 4)) else Nil
            val got = IceLiteSource.decodePosDeletes(
              sidecars.map(p => (p.toString, wanted)))(Some(_))
            val want = if (wanted.isEmpty) all else expected(wanted.toSet)
            assert(got.keySet == want.keySet, s"thread $t keys")
            for ((f, ps) <- want)
              assert(got(f).toSeq == ps, s"thread $t: positions of $f")
          }
        })
      }
      // mapFooters' pool decodes every sidecar's pages through
      // openParquet meanwhile: sidecar i's positions sum to
      // 3·Σid + i·rows
      val sums = sidecars.indices.map(i => 3 * rows * (rows - 1) / 2 + i * rows)
      val footers = pool.submit(new Callable[Unit] {
        override def call(): Unit = while (!decodes.forall(_.isDone))
          assert(IceLite.mapFooters(sidecars)((_, r) => posSum(r)) == sums)
      })
      decodes.foreach(_.get())
      footers.get()
    } finally pool.shutdown()
  }
}
