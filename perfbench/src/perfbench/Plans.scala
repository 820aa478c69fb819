package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Reads the scan shape of an executed DataFrame from its physical
  * plan: input partitions planned by each scan, and the rows the scans
  * produced (their `numOutputRows` SQL metric). */
object Plans extends AdaptiveSparkPlanHelper {
  def scanShape(df: DataFrame): (Long, Long) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val scans = collect(plan) {
      case s: BatchScanExec => s
      case s: FileSourceScanExec => s
    }
    scans.foldLeft((0L, 0L)) { case ((p, r), s) =>
      val parts = scala.util.Try(s match {
        case b: BatchScanExec => b.inputRDD.getNumPartitions.toLong
        case f: FileSourceScanExec => f.inputRDD.getNumPartitions.toLong
      }).getOrElse(0L)
      val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      (p + parts, r + rows)
    }
  }
}

/** JSON rendering for the result line and the span file: nested
  * `(key, value)` sequences become objects, in order. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def obj(kv: Seq[(String, Any)]): String =
    org.json4s.jackson.Serialization.write(toMap(kv))
  private def toMap(kv: Seq[(String, Any)]): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(kv.map {
      case (k, v: Seq[_]) if v.forall(_.isInstanceOf[(_, _)]) && v.nonEmpty =>
        k -> toMap(v.asInstanceOf[Seq[(String, Any)]])
      case other => other
    }: _*)
}
