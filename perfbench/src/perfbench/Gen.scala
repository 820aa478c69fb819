package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table keeps the column names and
  * types of the repo's TPC-H-ish fixture (FIXTURES.md): `l_shipdate`
  * and `o_orderdate` are TIMESTAMP_NTZ, measures are DOUBLE. The same
  * (seed, index) always yields the same rows. */
object Gen {

  final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
      linenumber: Int, quantity: Double, extendedprice: Double,
      discount: Double, tax: Double, returnflag: String,
      linestatus: String, shipdate: LocalDateTime) {
    def key: Long = Gen.lineKey(orderkey, linenumber)
    def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity,
      extendedprice, discount, tax, returnflag, linestatus, shipdate)
    def hash: Long = Gen.rowHash(orderkey, partkey, suppkey, linenumber,
      quantity, extendedprice, discount, tax, returnflag, linestatus, shipdate)
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  val lineitemCols: Seq[String] = lineitemSchema.fieldNames.toSeq

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  /** Order keys of batch `b` live in [b << 20, (b + 1) << 20), so a key
    * range never spans two batches and later batches never collide. */
  def orderBase(batch: Int): Long = batch.toLong << 20

  /** Seeded Fisher-Yates shuffle into a new array. */
  def shuffle[A: scala.reflect.ClassTag](xs: Array[A], r: SplittableRandom): Array[A] = {
    val a = xs.clone()
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def lineKey(orderkey: Long, linenumber: Int): Long = orderkey * 8 + linenumber

  val firstMonth: LocalDate = LocalDate.of(1995, 1, 1)

  private def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 32) ^ index)

  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Batch `b` of lineitem: whole orders, each of 1 to 7 lines, all
    * shipped inside calendar month `b` (counted from 1995-01), until at
    * least `rows` lines exist. */
  def lineBatch(seed: Long, b: Int, rows: Int): Array[Line] = {
    val r = rng(seed, 1, b)
    val month = firstMonth.plusMonths(b)
    val days = month.lengthOfMonth()
    val out = Array.newBuilder[Line]
    var n = 0
    var o = 0L
    while (n < rows) {
      val ok = orderBase(b) + o
      val lines = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= lines) {
        val qty = (1 + r.nextInt(50)).toDouble
        val partCents = 90000L + r.nextInt(1000000)
        val ship = month.plusDays(r.nextInt(days).toLong).atStartOfDay()
        out += Line(ok, r.nextInt(20000).toLong, r.nextInt(1000).toLong, ln, qty,
          math.round(qty * partCents / 100.0) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, if (r.nextBoolean()) "O" else "F",
          ship)
        ln += 1
        n += 1
      }
      o += 1
    }
    out.result()
  }

  /** One orders row per distinct order key of `lines`. */
  def ordersFor(seed: Long, lines: Seq[Line]): Seq[Row] =
    lines.groupBy(_.orderkey).toSeq.sortBy(_._1).map { case (ok, ls) =>
      val r = rng(seed, 2, ok)
      Row(ok, r.nextInt(15000).toLong, if (r.nextBoolean()) "O" else "F",
        ls.map(_.extendedprice).sum,
        ls.map(_.shipdate).minBy(_.toEpochSecond(ZoneOffset.UTC))
          .minusDays(1 + r.nextInt(30).toLong),
        priorities(r.nextInt(priorities.length)))
    }

  def lineDf(spark: SparkSession, lines: Seq[Line]): DataFrame =
    spark.createDataFrame(lines.map(_.toRow).asJava, lineitemSchema)

  /** Order-independent per-row checksum shared by the generator's model
    * and the `bench_rowhash` SQL function the read-back check calls, so
    * both sides hash the very same values. 31 bits, so a SUM over a
    * table never overflows. */
  def rowHash(orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
      quantity: Double, extendedprice: Double, discount: Double, tax: Double,
      returnflag: String, linestatus: String, shipdate: LocalDateTime): Long = {
    var h = 0x243F6A8885A308D3L
    def mix(v: Long): Unit = {
      h ^= v
      h *= 0xFF51AFD7ED558CCDL
      h ^= h >>> 33
    }
    mix(orderkey); mix(partkey); mix(suppkey); mix(linenumber.toLong)
    mix(java.lang.Double.doubleToLongBits(quantity))
    mix(java.lang.Double.doubleToLongBits(extendedprice))
    mix(java.lang.Double.doubleToLongBits(discount))
    mix(java.lang.Double.doubleToLongBits(tax))
    mix(if (returnflag == null) -1L else returnflag.hashCode.toLong)
    mix(if (linestatus == null) -1L else linestatus.hashCode.toLong)
    mix(if (shipdate == null) -1L else shipdate.toEpochSecond(ZoneOffset.UTC))
    h & 0x7FFFFFFFL
  }

  def registerRowHash(spark: SparkSession): Unit =
    spark.udf.register("bench_rowhash", (ok: Long, pk: Long, sk: Long, ln: Int,
        q: Double, p: Double, d: Double, t: Double, rf: String, ls: String,
        sd: LocalDateTime) => rowHash(ok, pk, sk, ln, q, p, d, t, rf, ls, sd))

  val rowHashSql: String = s"bench_rowhash(${lineitemCols.mkString(", ")})"

  // ---- LLM corpus -------------------------------------------------

  private val vocab = Array("a", "the", "batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "stream",
    "filter", "big", "merge", "group", "join", "agg", "hash", "vector",
    "query", "table", "key", "customer", "slow", "index", "file", "page",
    "row", "shuffle", "plan", "cache", "node", "task", "stage", "window",
    "count", "sum")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** `n` documents with doc_id 0..n-1: space-separated lowercase tokens
    * from a small engine vocabulary, with a share of exact (modulo case
    * and padding) and near duplicates so the dedup ids have work. */
  def documents(seed: Long, n: Int): Array[Row] = {
    val r = rng(seed, 3, 0)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val p = r.nextInt(100)
      val text =
        if (i > 10 && p < 3) "  " + texts(r.nextInt(i)).toUpperCase + " "
        else if (i > 10 && p < 12) {
          val toks = texts(r.nextInt(i)).trim.toLowerCase.split(' ')
          val j = r.nextInt(toks.length)
          toks(j) = vocab(r.nextInt(vocab.length))
          toks.mkString(" ")
        } else Array.fill(5 + r.nextInt(96))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        (20 + r.nextInt(400)).toLong)
    }.toArray
  }

  /** `n` 64-dim embeddings around 10 label centroids, with a share of
    * near copies of earlier vectors. */
  def embeddings(seed: Long, n: Int): Array[Row] = {
    val r = rng(seed, 4, 0)
    val cents = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val vecs = new Array[Array[Float]](n)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v =
        if (i > 10 && r.nextInt(100) < 5) vecs(r.nextInt(i)).map(x => x + (r.nextDouble() * 0.002 - 0.001).toFloat)
        else Array.tabulate(64)(k => (cents(label)(k) * 0.2 + r.nextGaussian() * 0.15).toFloat)
      vecs(i) = v
      Row(i.toLong, v.toSeq, label)
    }.toArray
  }
}
