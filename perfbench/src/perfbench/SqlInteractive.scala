package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.GraftTmp
import graft.icelite.{IceLite, TableRef}

/** The analyst role: a read-only mix of templates over a fixed IceLite
  * history — a many-file lineitem with live merge-on-read position
  * deletes, an orders table and an identity-partitioned copy. Every
  * round asks each template once, in a seeded order, with literals
  * drawn from a finite seeded set. Every answer must equal the same
  * query evaluated once before the loop by plain Spark over the model
  * rows. */
final class SqlInteractive(spark: SparkSession, seed: Long) extends Workload {
  import SqlInteractive.Query
  val Batches = 12
  val RowsPerBatch = 3000
  val FilesPerAppend = 4
  val LookupWidth = 40

  private var reps = 0
  private var wh: Path = _
  private var cat = ""
  private def li = TableRef(wh.toString, "src", "lineitem")
  private def ord = TableRef(wh.toString, "src", "orders")
  private def lp = TableRef(wh.toString, "src", "lineitem_part")

  private var queries: Map[String, IndexedSeq[Query]] = Map.empty
  private var expected: Map[(String, Int), String] = Map.empty
  private var rnd: SplittableRandom = _
  private var round: IndexedSeq[String] = IndexedSeq.empty

  val templates: Seq[String] = Layers.scanTemplates ++ Seq("engine_pruned", "engine_read")

  def setup(d: Path): Unit = {
    reps += 1
    if (wh != null) Main.deleteTree(wh)
    wh = GraftTmp.dir("perfbench-sql-")
    cat = s"sql$reps"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    val r = new SplittableRandom(seed ^ 0x5EEDL)

    // history: appends of several range-partitioned files each, every
    // one followed by a SQL merge-on-read DELETE in an earlier batch
    val batches = (0 until Batches).map(b => Gen.lineBatch(seed, b, RowsPerBatch))
    val hist = scala.collection.mutable.ArrayBuffer.empty[(Gen.Line, Int, Int)] // line, added, deleted
    val snapAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    batches.grouped(FilesPerAppend).zipWithIndex.foreach { case (group, g) =>
      val lines = group.flatten
      snapAt += IceLite.append(li, Gen.lineDf(spark, lines.toSeq)
        .repartitionByRange(FilesPerAppend, col("l_orderkey")), statsCols = Seq("l_orderkey")).id
      val k = snapAt.size - 1
      hist ++= lines.map(l => (l, k, Int.MaxValue))
      if (g == 0) spark.sql(s"ALTER TABLE $cat.src.lineitem SET TBLPROPERTIES " +
        "('write.delete.mode'='merge-on-read')")
      val lo = Gen.orderBase(r.nextInt((g + 1) * FilesPerAppend)) + r.nextInt(RowsPerBatch / 8)
      val hi = lo + 30
      spark.sql(s"DELETE FROM $cat.src.lineitem WHERE l_orderkey BETWEEN $lo AND $hi")
      snapAt += IceLite.readManifest(li).currentSnapshotId
      val kd = snapAt.size - 1
      hist.mapInPlace { case (l, a, del) =>
        if (del == Int.MaxValue && l.orderkey >= lo && l.orderkey <= hi) (l, a, kd) else (l, a, del) }
    }
    val allLines = batches.flatten
    IceLite.createOrReplace(ord, spark.createDataFrame(
      Gen.ordersFor(seed, allLines.toSeq).asJava, Gen.ordersSchema).coalesce(1))
    IceLite.createOrReplacePartitioned(lp, IceLite.read(spark, li), "l_returnflag")

    // the model: the same rows, as plain Spark DataFrames
    val histSchema = StructType(Gen.lineitemSchema.fields ++ Seq(
      StructField("_added", IntegerType), StructField("_deleted", IntegerType)))
    spark.createDataFrame(hist.map { case (l, a, del) =>
      Row.fromSeq(l.toRow.toSeq ++ Seq(a, del)) }.asJava, histSchema)
      .createOrReplaceTempView("m_hist")
    spark.sql(s"SELECT ${Gen.lineitemCols.mkString(", ")} FROM m_hist " +
      s"WHERE _deleted = ${Int.MaxValue}").createOrReplaceTempView("m_li")
    spark.createDataFrame(Gen.ordersFor(seed, allLines.toSeq).asJava, Gen.ordersSchema)
      .createOrReplaceTempView("m_ord")

    // literals: each is drawn inside its own stratum, so every seed asks
    // queries of the same shape and cost
    val los = IndexedSeq.tabulate(3)(k =>
      Gen.orderBase(4 * k + r.nextInt(4)) + r.nextInt(RowsPerBatch / 4))
    val dates = IndexedSeq.tabulate(2)(k =>
      Gen.firstMonth.plusMonths(3 + 5 * k + r.nextInt(2)).toString)
    val quantities = IndexedSeq.tabulate(3)(k => 8 + 15 * k + r.nextInt(5))
    val versions = IndexedSeq(1, 3, 5) // the snapshots right after each DELETE
    val t = s"$cat.src"
    def lookupSql(from: String, lo: Long) =
      s"SELECT count(*) AS n, sum(l_quantity) AS q, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS p " +
        s"FROM $from WHERE l_orderkey BETWEEN $lo AND ${lo + LookupWidth}"
    def partSql(from: String, rf: String) =
      s"SELECT l_linestatus, count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS p " +
        s"FROM $from WHERE l_returnflag = '$rf' GROUP BY l_linestatus"
    def groupSql(from: String, qty: Int) =
      "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
        "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev " +
        s"FROM $from WHERE l_quantity <= $qty GROUP BY 1, 2"
    def joinSql(l: String, o: String, date: String) =
      s"SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS q FROM $l JOIN $o " +
        s"ON l_orderkey = o_orderkey WHERE o_orderdate >= TIMESTAMP_NTZ '$date 00:00:00' " +
        "GROUP BY o_orderpriority"
    def sqlQ(text: String, model: String) = Query(ledger =>
      ledger.sql(text) { df =>
        val rows = df.collect()
        ledger.attr("result_rows", rows.length.toDouble)
        rows
      }, model)
    def engine(call: String, build: => DataFrame, agg: DataFrame => DataFrame,
        model: String) = Query(ledger => {
      val s = System.nanoTime()
      val df = ledger.span(call)(build)
      ledger.attr("read_build_s", (System.nanoTime() - s) / 1e9)
      if (ledger.traced) ledger.attr("read_files", df.inputFiles.length.toDouble)
      agg(df).collect()
    }, model)
    val sums = (df: DataFrame) => df.agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).as("p"))
    queries = Map(
      "lookup" -> los.map(lo => sqlQ(lookupSql(s"$t.lineitem", lo), lookupSql("m_li", lo))),
      "part_agg" -> IndexedSeq("A", "N", "R").map(rf =>
        sqlQ(partSql(s"$t.lineitem_part", rf), partSql("m_li", rf))),
      "groupby" -> quantities.map(q => sqlQ(groupSql(s"$t.lineitem", q), groupSql("m_li", q))),
      "join" -> dates.map(dt =>
        sqlQ(joinSql(s"$t.lineitem", s"$t.orders", dt), joinSql("m_li", "m_ord", dt))),
      "timetravel" -> versions.map(k => sqlQ(
        s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $t.lineitem VERSION AS OF ${snapAt(k)}",
        s"SELECT count(*) AS n, sum(l_quantity) AS q FROM m_hist WHERE _added <= $k AND _deleted > $k")),
      // one data file per batch; merge-on-read deletes rewrite none
      "metatable" -> IndexedSeq(sqlQ(
        s"SELECT count(*) AS files, sum(row_count) AS rows FROM $t.`lineitem$$files`",
        s"SELECT CAST($Batches AS BIGINT) AS files, count(*) AS rows FROM m_hist")),
      "engine_pruned" -> los.map(lo => engine("IceLite.readPruned",
        IceLite.readPruned(spark, li, "l_orderkey", lo.toDouble, (lo + LookupWidth).toDouble),
        sums, lookupSql("m_li", lo))),
      "engine_read" -> IndexedSeq(engine("IceLite.read", IceLite.read(spark, li),
        df => df.groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q")),
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM m_li GROUP BY 1")))
  }

  /** Evaluate every template instance over the model with plain Spark,
    * then warm up by asking each template once, checked. */
  def prepare(): Unit = {
    expected = queries.toSeq.flatMap { case (tpl, qs) =>
      qs.indices.map(i => (tpl, i) -> canon(spark.sql(qs(i).model).collect())) }.toMap
    // warm-up: each template once, checked like a timed query
    val warm = new Ledger(spark, traced = false)
    templates.foreach(tpl => ask(warm, tpl, 0))
    rnd = new SplittableRandom(seed)
    round = IndexedSeq.empty
  }

  private def canon(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString(";")

  private def ask(ledger: Ledger, tpl: String, i: Int): Unit = {
    val q = queries(tpl)(i)
    ledger.op(s"query:$tpl")(q.run(ledger)) { rows =>
      val got = canon(rows)
      val want = expected((tpl, i))
      if (got == want) None else Some(s"$tpl[$i] returned $got, model says $want")
    }
  }

  def step(ledger: Ledger): Unit = {
    if (round.isEmpty) round = Gen.shuffle(templates.toArray, rnd).toIndexedSeq
    val tpl = round.head
    round = round.tail
    ask(ledger, tpl, rnd.nextInt(queries(tpl).size))
  }

  private def queryS(ops: Seq[OpRec]): Seq[OpRec] =
    ops.filter(o => o.ok && o.kind.startsWith("query:"))

  /** Each template's p50, averaged over the templates: a p50 of the
    * pooled mix would jump between templates of different cost. */
  def opP50S(ops: Seq[OpRec]): Double = {
    val per = queryS(ops).groupBy(_.kind).values.map(os => Stats.median(os.map(_.wallS)))
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  def workPerS(ops: Seq[OpRec]): Double = {
    val qs = queryS(ops).map(_.wallS)
    if (qs.isEmpty) 0.0 else qs.size / qs.sum
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val eng = ops.filter(o => o.ok && o.kind.startsWith("query:engine"))
    Map("icelite.read_build_s" -> Stats.median(eng.map(_.attr("read_build_s"))),
      "icelite.read_files" -> Stats.median(eng.map(_.attr("read_files"))))
  }
}

object SqlInteractive {
  /** One template instance: how the program is asked, and the model
    * query that must give the same answer. */
  private final case class Query(run: Ledger => Array[Row], model: String)
}
