package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A closed-loop, single-client workload. `setup` is called several
  * times, each time in a fresh directory; the last setup is the one
  * `prepare` and the measured loop run against. */
trait Workload {
  /** Generate inputs and build table history in `dir`. */
  def setup(dir: Path): Unit
  /** Once, after the last setup: warm up and compute what the checks
    * compare against. */
  def prepare(): Unit
  /** One step of timed ops. */
  def step(ledger: Ledger): Unit
  /** `op_p50_s`: the p50 latency of the workload's headline op,
    * successful ops only. */
  def opP50S(ops: Seq[OpRec]): Double
  /** Units of user work per second of successful headline-op time. */
  def workPerS(ops: Seq[OpRec]): Double
  /** Workload-specific per-layer metrics (traced run). */
  def layers(ops: Seq[OpRec]): Map[String, Double]
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, spans: Path, cores: Int)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("spans")).toAbsolutePath, need("cores").toInt)
  }

  /** Setups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val exit = try run(spark, a, sessionS) finally spark.stop()
    System.out.flush()
    sys.exit(exit)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark
  }

  def profile(spark: SparkSession, a: Args): Seq[(String, Any)] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled")
    keys.map(k => k -> spark.conf.getOption(k).getOrElse("")) ++ Seq(
      "spark.version" -> spark.version,
      "java.version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace)
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val w: Workload = a.workload match {
      case "elt_cycle" => new EltCycle(spark, a.seed)
      case "sql_interactive" => new SqlInteractive(spark, a.seed)
      case "llm_curation" => new LlmCuration(spark, a.seed)
      case other =>
        System.err.println(s"[perfbench] unknown workload $other")
        return 2
    }
    val prof = profile(spark, a)
    println("[perfbench] profile " + Json.obj(prof))
    val canaryFirst = canary(spark)

    val setupS = (1 to SetupReps).map { i =>
      val dir = a.work.resolve(s"setup-$i")
      val s = System.nanoTime()
      w.setup(dir)
      val t = (System.nanoTime() - s) / 1e9
      if (i > 1) deleteTree(a.work.resolve(s"setup-${i - 1}"))
      t
    }
    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setup = sessionS + Stats.median(setupS) + prepareS
    println(f"[perfbench] setup session=$sessionS%.3f s " +
      s"reps=${setupS.map(x => f"$x%.3f").mkString(",")} s " + f"prepare=$prepareS%.3f s")

    val ledger = new Ledger(spark, a.trace)
    val gc0 = gcSeconds()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) w.step(ledger)
    val gcS = gcSeconds() - gc0
    val canaryLast = canary(spark)

    val ops = ledger.ops.toSeq.filterNot(_.probe)
    val probes = ledger.ops.toSeq.filter(_.probe)
    val failed = ops.count(!_.ok)
    val rssMb = peakRssMb()
    val e2e = Seq(
      "setup_s" -> (setup, "s"),
      "ok_ratio" -> (if (ops.isEmpty) 0.0 else (ops.size - failed).toDouble / ops.size, "ratio"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "op_p50_s" -> (w.opP50S(ops), "s"),
      "work_per_s" -> (w.workPerS(ops), "1/s"))

    printOpTable(ops, "op")
    printOpTable(probes, "probe")
    println(f"[perfbench] host canary first=$canaryFirst%.4f s last=$canaryLast%.4f s")
    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) e2e
      else {
        val e2eMap = e2e.toMap
        val common = Layers.common(ops, probes, canaryFirst, canaryLast, gcS,
            spark.sparkContext.defaultParallelism) ++
          Map("traced.setup_s" -> e2eMap("setup_s")._1,
            "traced.op_p50_s" -> e2eMap("op_p50_s")._1,
            "traced.work_per_s" -> e2eMap("work_per_s")._1)
        val got = common ++ w.layers(ops)
        Layers.names.map { case (n, unit) => n -> (got.getOrElse(n, 0.0), unit) }
      }
    if (a.trace) {
      Files.createDirectories(a.spans.getParent)
      val header = Json.obj(Seq("profile" -> prof,
        "setup_s" -> setup, "session_s" -> sessionS, "setup_reps_s" -> setupS,
        "prepare_s" -> prepareS))
      Files.write(a.spans, (header +: ledger.spanLines).asJava)
      println(s"[perfbench] wrote ${ledger.spans.size} spans to ${a.spans}")
    }
    val correct = !ledger.ops.exists(_.wrong)
    println(Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Seq("value" -> v, "unit" -> u) })))
    0
  }

  private def printOpTable(ops: Seq[OpRec], what: String): Unit =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val ok = os.filter(_.ok).map(_.wallS)
      val errs = os.flatMap(_.error).distinct.take(2).mkString(" | ")
      println(f"[perfbench] $what $k%-22s attempted=${os.size}%4d failed=${os.count(!_.ok)}%3d " +
        f"p50=${Stats.median(ok)}%.4f s" + (if (errs.isEmpty) "" else s" errors: $errs"))
    }

  /** A fixed plain-Spark job with no graft code, timed as the median of
    * five runs: a witness of host speed, taken first and last. */
  def canary(spark: SparkSession): Double = Stats.median((1 to 5).map { _ =>
    val s = System.nanoTime()
    spark.range(0, 3000000, 1, 4).selectExpr("sum(id % 7) AS s", "count(*) AS n").collect()
    (System.nanoTime() - s) / 1e9
  })

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb(): Double = scala.util.Try {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(q => { Files.deleteIfExists(q); () })
    finally walk.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
}
