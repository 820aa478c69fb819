package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler._

/** One timed operation: its kind, wall time, outcome and — in a traced
  * run — the Spark work attributed to it through its job group. */
final case class OpRec(seq: Int, kind: String, probe: Boolean, wallS: Double,
    ok: Boolean, wrong: Boolean, error: Option[String], jobs: Int, jobS: Double, tasks: Long,
    taskRunS: Double, taskCpuS: Double, shuffleBytes: Long, spillBytes: Long,
    maxStageTasks: Int, attrs: Map[String, Double]) {
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
  /** Spark planning time inside the op (parse + analysis +
    * optimization + physical planning), as `QueryPlanningTracker`
    * reports it for each DataFrame the op ran. */
  def planS: Double = attr("analyze_s") + attr("optimize_s") + attr("plan_s")
  /** Wall time that is neither Spark planning nor a running Spark job. */
  def gapS: Double = math.max(0.0, wallS - planS - jobS)
}

/** A span of the traced run, in seconds from run start. */
final case class Span(op: Int, name: String, parent: Int, startS: Double,
    endS: Double)

/** Times every operation a workload runs. Untraced, it only takes
  * wall time and the correctness verdict. Traced, it also tags each op
  * with its own Spark job group, records in-memory spans for the op, the
  * module calls inside it and each Spark job, and drains the listener
  * bus before it closes the op, so late job and task events are never
  * lost. Nothing inside the program is instrumented: every number is
  * read at the boundary of a public call. */
final class Ledger(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private def nowS: Double = (System.nanoTime() - t0Ns) / 1e9

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var attrs = Map.empty[String, Double]
  private var curOp = -1

  private final class JobRec(val id: Int, val startMs: Long, var endMs: Long)
  private final class GroupAcc {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var maxStageTasks = 0
  }

  private object Listener extends SparkListener {
    val groups = mutable.HashMap.empty[String, GroupAcc]
    val stageGroup = mutable.HashMap.empty[Int, String]
    val jobGroup = mutable.HashMap.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench-")).foreach { g =>
          val acc = groups.getOrElseUpdate(g, new GroupAcc)
          acc.jobs += new JobRec(e.jobId, e.time, -1L)
          acc.maxStageTasks = e.stageInfos.foldLeft(acc.maxStageTasks)(
            (m, s) => math.max(m, s.numTasks))
          e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
          jobGroup(e.jobId) = g
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobGroup.get(e.jobId).flatMap(groups.get).foreach(
        _.jobs.filter(_.id == e.jobId).foreach(_.endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageGroup.get(e.stageId).flatMap(groups.get).foreach { acc =>
        acc.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          acc.runMs += m.executorRunTime
          acc.cpuNs += m.executorCpuTime
          acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          acc.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
    def take(g: String): Option[GroupAcc] = synchronized(groups.remove(g))
    def pending(g: String): Boolean =
      synchronized(groups.get(g).exists(_.jobs.exists(_.endMs < 0)))
  }

  if (traced) sc.addSparkListener(Listener)

  /** Run one timed op. `check` returns None for a correct result or the
    * reason it is wrong; a wrong result and a thrown error both count
    * as a failed op, and neither enters a latency. A `probe` is an op
    * kept out of the attempted/failed totals: it exercises a statement
    * the program is known to refuse, so the refusal stays visible and
    * its result is still checked. */
  def op[A](kind: String, probe: Boolean = false)(body: => A)(
      check: A => Option[String]): Option[A] = {
    val seq = ops.size
    val group = s"perfbench-$seq"
    attrs = Map.empty
    curOp = seq
    if (traced) {
      sc.setJobGroup(group, kind, interruptOnCancel = false)
      stack.push(openSpan(seq, s"op:$kind"))
    }
    val start = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val wallS = (System.nanoTime() - start) / 1e9
    if (traced) {
      closeSpan(stack.pop())
      sc.clearJobGroup()
    }
    val verdict: Option[String] = res match {
      case Left(e) => Some(firstLine(e))
      case Right(v) =>
        try check(v) catch { case e: Throwable if scala.util.control.NonFatal(e) =>
          Some("check threw: " + firstLine(e)) }
    }
    val acc = if (traced) drain(group) else None
    val jobs = acc.map(_.jobs.toSeq).getOrElse(Nil)
    jobs.foreach(j => spans += Span(seq, s"job:${j.id}", -1,
      (j.startMs - t0EpochMs) / 1e3, (math.max(j.endMs, j.startMs) - t0EpochMs) / 1e3))
    ops += OpRec(seq, kind, probe, wallS, verdict.isEmpty,
      res.isRight && verdict.nonEmpty, verdict, jobs.size,
      Stats.covered(jobs.map(j => (j.startMs / 1e3, math.max(j.endMs, j.startMs) / 1e3))),
      acc.map(_.tasks).getOrElse(0L), acc.map(_.runMs / 1e3).getOrElse(0.0),
      acc.map(_.cpuNs / 1e9).getOrElse(0.0), acc.map(_.shuffleBytes).getOrElse(0L),
      acc.map(_.spillBytes).getOrElse(0L), acc.map(_.maxStageTasks).getOrElse(0), attrs)
    curOp = -1
    if (!probe) verdict.foreach(v => System.err.println(s"[perfbench] op $seq $kind failed: $v"))
    res.toOption
  }

  /** Time a module call inside the current op as a child span. */
  def span[A](name: String)(body: => A): A =
    if (!traced || curOp < 0) body
    else {
      val i = openSpan(curOp, name)
      stack.push(i)
      try body finally closeSpan(stack.pop())
    }

  /** Attach a per-op measurement (traced runs read these). */
  def attr(k: String, v: Double): Unit =
    if (curOp >= 0) attrs = attrs.updated(k, attrs.getOrElse(k, 0.0) + v)

  /** `spark.sql` as an op calls it: the call itself is a span, and in a
    * traced run the planning phases are read from the DataFrame's
    * `QueryPlanningTracker` once `use` has executed it. */
  def sql[A](text: String)(use: DataFrame => A): A = {
    val df = span("spark.sql")(spark.sql(text))
    val out = use(df)
    if (traced) planning(df)
    out
  }

  /** Record the planning phases (as per-op measurements and as spans)
    * and the scan shape of an executed DataFrame. */
  def planning(df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    if (curOp >= 0) ph.foreach { case (p, t) => spans += Span(curOp, s"phase:$p", -1,
      (t.startTimeMs - t0EpochMs) / 1e3, (t.endTimeMs - t0EpochMs) / 1e3) }
    def s(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    attr("analyze_s", s("parsing") + s("analysis"))
    attr("optimize_s", s("optimization"))
    attr("plan_s", s("planning"))
    val (parts, rows) = Plans.scanShape(df)
    attr("scan_partitions", parts.toDouble)
    attr("scan_rows", rows.toDouble)
  }

  private def openSpan(op: Int, name: String): Int = {
    spans += Span(op, name, if (stack.isEmpty) -1 else stack.top, nowS, -1)
    spans.size - 1
  }
  private def closeSpan(i: Int): Unit = spans(i) = spans(i).copy(endS = nowS)

  private def drain(group: String): Option[GroupAcc] = {
    org.apache.spark.PerfbenchBus.drain(sc, 10000)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (Listener.pending(group) && System.nanoTime() < deadline) {
      Thread.sleep(2)
      org.apache.spark.PerfbenchBus.drain(sc, 1000)
    }
    Listener.take(group)
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .find(_.trim.nonEmpty).getOrElse(e.getClass.getName).take(240)

  /** Spans as JSON lines; `self_s` is the span minus the part of it that
    * its child spans cover.
    * Jobs and planning phases, timed from Spark's own event times, are
    * children of the innermost span that contains their start (a job
    * started during physical planning is a child of that phase). */
  def spanLines: Seq[String] = {
    def fromEvents(s: Span) = s.name.startsWith("job:") || s.name.startsWith("phase:")
    val opStart = spans.zipWithIndex.filter(_._1.parent == -1)
      .filter(_._1.name.startsWith("op:")).map(p => p._1.op -> p._2).toMap
    def innermost(j: Span): Int = {
      val cands = spans.indices.filter { i =>
        val s = spans(i)
        s.op == j.op && !s.name.startsWith("job:") &&
        !(j.name.startsWith("phase:") && s.name.startsWith("phase:")) &&
        s.startS <= j.startS + 1e-3 &&
        s.endS >= j.startS
      }
      if (cands.isEmpty) opStart.getOrElse(j.op, -1)
      else cands.maxBy(i => spans(i).startS)
    }
    val parentOf = spans.indices.map { i =>
      val s = spans(i)
      if (fromEvents(s)) innermost(s) else s.parent
    }
    val children = spans.indices.filter(parentOf(_) >= 0).groupBy(parentOf(_))
    spans.indices.map { i =>
      val s = spans(i)
      val dur = s.endS - s.startS
      val covered = Stats.covered(children.getOrElse(i, Nil).map(c =>
        (math.max(spans(c).startS, s.startS), math.min(spans(c).endS, s.endS))).filter(c => c._2 > c._1))
      val kind = if (s.op < ops.size) ops(s.op).kind else ""
      Json.obj(Seq("span" -> i, "parent" -> parentOf(i), "op" -> s.op,
        "kind" -> kind, "name" -> s.name, "start_s" -> s.startS,
        "dur_s" -> dur, "self_s" -> (dur - covered)))
    }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length covered by a set of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = 0.0; var curE = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > Double.NegativeInfinity) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > Double.NegativeInfinity) total += curE - curS
    total
  }
}
