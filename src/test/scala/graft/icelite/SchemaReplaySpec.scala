package graft.icelite

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The per-file schema memo: every engine-face read folds per-file
  * footer schemas instead of running Spark's schema-inference job,
  * and the fold must equal what Spark infers — field order, nesting,
  * nullability, partition-column types. A file REWRITTEN at the same
  * path (the DROP + re-CREATE path-reuse hazard) and a flipped
  * inference conf must miss the memo, never serve a stale schema. */
class SchemaReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Stage `df` as exactly one parquet file at table-relative `rel`. */
  private def stageAt(ref: TableRef, rel: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = graft.GraftTmp.dir("schemareplay_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = IceLite.listDir(Files.list(tmp))(_
      .find(p => p.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith(".")).get)
    val dest = ref.dir.resolve(rel)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A raw parquet-mr file (no Spark schema in its footer, so readers
    * infer from the parquet types alone) with one group per `fill`. */
  private def rawAt(path: java.nio.file.Path, schema: String)(
      fills: (org.apache.parquet.example.data.Group => Unit)*): java.nio.file.Path = {
    Files.createDirectories(path.getParent)
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path.toUri)).withType(mt).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    try fills.foreach { fill =>
      val g = groups.newGroup(); fill(g); w.write(g)
    } finally w.close()
    path
  }

  private def mkRef(): TableRef = {
    val wh = graft.GraftTmp.dir("schemareplay_wh").toString
    IceLite.createNamespace(wh, "src")
    TableRef(wh, "src", "t")
  }

  test("repeated evolved reads return identical schema and rows") {
    val ref = mkRef()
    IceLite.append(ref, (1L to 50L).map(k => (k, k * 2)).toDF("a", "b"))
    // evolved append: extra column -> the mergeSchema union path
    IceLite.append(ref,
      (51L to 80L).map(k => (k, k * 2, s"s$k")).toDF("a", "b", "c"))
    val first = IceLite.read(spark, ref)
    val firstRows = first.orderBy("a").collect().toSeq
    // second and third reads hit the replay path (same file identity)
    (1 to 2).foreach { _ =>
      val again = IceLite.read(spark, ref)
      assert(again.schema == first.schema)
      assert(again.orderBy("a").collect().toSeq == firstRows)
    }
    // old-era rows surface null for the later-added column, replayed
    // exactly as mergeSchema inferred it on the first read
    assert(IceLite.read(spark, ref)
      .filter("a <= 50 AND c IS NULL").count() == 50L)
  }

  test("a file rewritten at the same path is never served stale") {
    val ref = mkRef()
    val rel = "data/fixed.parquet"
    stageAt(ref, rel, (1L to 10L).map(k => Tuple1(k)).toDF("a"))
    val before = IceLite.readFiles(spark, ref, Seq(rel))
    assert(before.columns.toSeq == Seq("a"))
    assert(before.count() == 10L)
    // replay read (cache warm for this identity)
    assert(IceLite.readFiles(spark, ref, Seq(rel)).count() == 10L)
    // rewrite the SAME relative path with a different schema and size
    // (DROP + re-CREATE can reuse paths; version counters restart)
    stageAt(ref, rel,
      (1L to 25L).map(k => (k, s"v$k")).toDF("a", "b"))
    val after = IceLite.readFiles(spark, ref, Seq(rel))
    assert(after.columns.toSeq.sorted == Seq("a", "b"))
    assert(after.count() == 25L)
    assert(after.filter("b IS NULL").count() == 0L)
  }

  test("the folded schema equals Spark's mergeSchema inference, " +
    "field order included") {
    val ref = mkRef()
    // a column and a nested struct field added in a later file, and
    // a TIMESTAMP_NTZ column
    stageAt(ref, "data/e1.parquet",
      spark.sql("SELECT 1L AS a, named_struct('x', 1) AS s"))
    stageAt(ref, "data/e2.parquet", spark.sql("SELECT 2L AS a, 'b' AS b, " +
      "named_struct('x', 2, 'y', 'z') AS s, " +
      "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz"))
    // REQUIRED fields next to OPTIONAL ones, and an NTZ timestamp
    // inferred from its parquet annotation alone
    rawAt(ref.dir.resolve("data/e3.parquet"), "message m { " +
      "required int64 a; optional int64 c; " +
      "required int64 ntz (TIMESTAMP(MICROS,false)); }")(
      g => g.append("a", 3L).append("c", 30L).append("ntz", 0L))
    val files = Seq("data/e1.parquet", "data/e2.parquet", "data/e3.parquet")
    files.permutations.foreach { order =>
      val inferred = spark.read.option("mergeSchema", "true")
        .parquet(order.map(f => ref.dir.resolve(f).toString): _*).schema
      (1 to 2).foreach { _ => // the second read is all memo hits
        val got = IceLite.readFiles(spark, ref, order)
        assert(got.schema == inferred, order)
        assert(got.count() == 3L)
      }
    }
  }

  test("a partitioned read keeps its discovered partition-column types") {
    val ref = mkRef()
    IceLite.createOrReplacePartitioned(ref,
      (1 to 20).map(k => (k.toLong, k % 3, s"v$k")).toDF("k", "g", "s"), "g")
    val files = IceLite.readManifest(ref).current.files
    val inferred = spark.read.option("mergeSchema", "true")
      .option("basePath", ref.dataDir.resolve("part").toString)
      .parquet(files.map(f => ref.dir.resolve(f).toString): _*).schema
    assert(inferred("g").dataType == org.apache.spark.sql.types.IntegerType)
    (1 to 2).foreach { _ =>
      val got = IceLite.read(spark, ref)
      assert(got.schema == inferred)
      assert(got.where("g = 1").count() == 7L)
    }
  }

  test("flipping binaryAsString over a raw BINARY column is never " +
    "served a stale schema") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val ref = mkRef()
    val raw = rawAt(graft.GraftTmp.dir("schemareplay_raw").resolve("raw.parquet"),
      "message m { required int64 k; optional binary payload; }")(
      g => g.append("k", 1L).append("payload", "p1"),
      g => g.append("k", 2L).append("payload", "p2"))
    IceLite.addFiles(ref, Seq(raw))
    val key = "spark.sql.parquet.binaryAsString"
    val was = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(IceLite.read(spark, ref).schema("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val flipped = IceLite.read(spark, ref)
      assert(flipped.schema("payload").dataType == StringType)
      assert(flipped.orderBy("k").select("payload").as[String].collect()
        .toSeq == Seq("p1", "p2"))
      spark.conf.set(key, "false")
      assert(IceLite.read(spark, ref).schema("payload").dataType == BinaryType)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
