package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** Repeated passes of a curation pipeline of declared ids over a seeded
  * corpus whose `documents` and `embeddings` are permuted and split into
  * several files, as real corpora are. IceLite does no work here: this
  * is the bypass workload for every table-layer change. Each id's
  * output must equal its output on the same corpus written unpermuted
  * as one file per table, computed once before the loop (that pass is
  * also the warm-up). */
final class LlmCuration(spark: SparkSession, seed: Long) extends Workload {
  val Docs = 500
  val Vectors = 250
  val Splits = 4
  val ids: Seq[String] = Layers.curationIds

  private var input = ""
  private var baseDir = ""
  private var baseline: Map[String, String] = Map.empty
  private var pass = 0

  def setup(d: Path): Unit = {
    val docs = Gen.documents(seed, Docs)
    val vecs = Gen.embeddings(seed, Vectors)
    val base = d.resolve("base")
    val perm = d.resolve("perm")
    write(base.resolve("documents.parquet"), Seq(docs.toSeq), Gen.documentsSchema)
    write(base.resolve("embeddings.parquet"), Seq(vecs.toSeq), Gen.embeddingsSchema)
    val r = new SplittableRandom(seed ^ 0xD0C5L)
    write(perm.resolve("documents.parquet"), split(Gen.shuffle(docs, r)), Gen.documentsSchema)
    write(perm.resolve("embeddings.parquet"), split(Gen.shuffle(vecs, r)), Gen.embeddingsSchema)
    baseDir = base.toString
    input = perm.toString
    pass = 0
  }

  /** The warm-up pass, over the unpermuted corpus: its outputs are what
    * every timed pass must reproduce. */
  def prepare(): Unit =
    baseline = ids.map(id => id -> canon(SparkEntry.queries(id)(spark, baseDir).collect())).toMap

  private def write(p: Path, parts: Seq[Seq[Row]], schema: StructType): Unit = {
    Files.createDirectories(p.getParent)
    parts.foreach(rows => spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("append").parquet(p.toString))
  }

  private def split(xs: Array[Row]): Seq[Seq[Row]] =
    xs.grouped((xs.length + Splits - 1) / Splits).map(_.toSeq).toSeq

  private def canon(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString("\n")

  /** One pass: every id once, in declared order. */
  def step(ledger: Ledger): Unit = {
    pass += 1
    ids.foreach { id =>
      ledger.op(s"id:$id") {
        ledger.attr("pass", pass.toDouble)
        ledger.span(s"SparkEntry.queries($id)")(SparkEntry.queries(id)(spark, input).collect())
      } { rows =>
        if (canon(rows) == baseline(id)) None
        else Some(s"$id output differs from its output on the unpermuted corpus")
      }
    }
  }

  /** Wall time of each pass in which every id succeeded. */
  private def passes(ops: Seq[OpRec]): Seq[Double] =
    ops.filter(_.kind.startsWith("id:")).groupBy(_.attr("pass")).values
      .filter(os => os.size == ids.size && os.forall(_.ok)).map(_.map(_.wallS).sum).toSeq

  /** A pass at median speed: the sum of each id's p50. With a handful of
    * passes per run, this is steadier than the median of pass totals. */
  def opP50S(ops: Seq[OpRec]): Double =
    ops.filter(o => o.ok && o.kind.startsWith("id:")).groupBy(_.kind).values
      .map(os => Stats.median(os.map(_.wallS))).sum

  def workPerS(ops: Seq[OpRec]): Double = {
    val ps = passes(ops)
    if (ps.isEmpty) 0.0 else ps.size.toDouble * Docs / ps.sum
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = Map.empty
}
