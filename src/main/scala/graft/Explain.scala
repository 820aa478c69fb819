package graft

import org.apache.spark.sql.execution.debug._

/** Dev tool: dump the formatted physical plan of selected query ids
  * (all of them if no args) for scale auditing — broadcast vs SMJ,
  * pushed filters, WholeStageCodegen spans, TakeOrderedAndProject.
  *
  * Usage: sbt "runMain graft.Explain <sfDir> [id ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val ids = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    ids.foreach { id =>
      println(s"\n========== $id ==========")
      try println(SparkEntry.queries(id)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
