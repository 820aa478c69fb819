package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: restrict to specific ids (dev iteration; the driver
    // always calls with exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failed ids are surfaced in the round artifacts (verify_errors.json,
    // empty object on a clean run) — stderr alone made round 5's 32-id
    // breakage invisible until the judge reproduced it locally.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_EXPLAIN=dir also writes each id's formatted physical
    // plan — the scale shadow-bench's evidence that a plan survived the
    // 10x fixture (broadcast stayed broadcast, pushdown still present)
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN")
    explainDir.foreach(d => new java.io.File(d).mkdirs())
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        explainDir.foreach(d => Files.writeString(Paths.get(s"$d/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
