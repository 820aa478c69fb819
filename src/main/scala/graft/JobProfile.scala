package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev micro-profiler: decompose ONE declared query's wall time into
  * its Spark jobs (guide §1 — find where the time goes before touching
  * anything). Runs the id once untimed (warm-up), once profiled, and
  * prints per-job duration + call site so multi-job lifecycle ids show
  * which internal action dominates.
  *
  * Usage: sbt "runMain graft.JobProfile <sfDir> <id> [id ...]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ids = args.drop(1)
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, desc: String, start: Long,
        var end: Long = -1L, var nTasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // @volatile: written by the main thread, read on the listener-bus
    // thread (r15 ADVICE) — a stale read could attribute jobs across
    // the collecting window
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (collecting) synchronized {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs(js.jobId) = Job(js.jobId, desc, js.time,
            nTasks = js.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (collecting) synchronized {
          jobs.get(je.jobId).foreach(_.end = je.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def exec(id: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(id)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    ids.foreach { id =>
      exec(id) // warm-up
      jobs.clear()
      collecting = true
      val t0 = System.currentTimeMillis()
      val wall = exec(id)
      collecting = false
      Thread.sleep(200) // let job-end events drain
      println(f"\n===== $id wall=$wall%.3f s, ${jobs.size} jobs =====")
      val total = jobs.values.map(j => (j.end - j.start).max(0L)).sum / 1e3
      // inter-job gaps expose DRIVER time (planning, manifest IO, fs
      // moves, commit protocol) — the biggest gap is the hotspot when
      // sum-of-jobs is far below wall
      var lastEnd = t0
      jobs.values.toSeq.sortBy(_.start).foreach { j =>
        val d = (j.end - j.start).max(0L) / 1e3
        val gap = (j.start - lastEnd).max(0L) / 1e3
        lastEnd = math.max(lastEnd, j.end)
        println(f"  +${(j.start - t0) / 1e3}%7.3f gap=$gap%6.3f  job ${j.id}%4d  $d%7.3f s  tasks=${j.nTasks}%4d  ${j.desc.take(90)}")
      }
      println(f"  [sum of job durations: $total%.3f s; gap to wall = driver/planning/fs time]")
    }
    spark.stop()
  }
}
