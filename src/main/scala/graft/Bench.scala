package graft
import org.apache.spark.sql.SparkSession

/** Round benchmark: one timed pass over every declared query after a
  * full untimed warm-up pass (JIT/codegen/session init), executed via
  * the noop sink so the measured physical plan is exactly the plan
  * Verify checks — `count()` would let Catalyst drop final sorts and
  * prune all columns (round-1 verdict "What's wrong" #2/#3).
  * Prints ONE JSON line for the driver.
  */
object Bench {
  /** r14 (verdict task #2): benched ids create temp warehouses and
    * prior verify/bench/test runs leave them behind — ~18k stale dirs
    * measurably inflated every r13 id ~20% (tmpfs metadata pressure).
    * Sweep STALE ones before measuring, so the recorded number can't
    * carry the host-state tax again. r15 (ADVICE): the sweep is
    * scoped to the graft-OWNED subdirectory every call site creates
    * under ([[GraftTmp.root]]) — never the shared tmpdir, where a
    * name-pattern match could destroy another process's data — and
    * liveness is judged by the NEWEST mtime in the candidate's whole
    * tree (a warehouse whose nested table dirs are still being
    * written does not bump its top dir's mtime). */
  private def sweepStaleTmp(): Unit = {
    val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
    val swept = new java.util.concurrent.atomic.AtomicLong(0)
    def newestMtime(p: java.nio.file.Path): Long = {
      val walk = java.nio.file.Files.walk(p)
      try walk.mapToLong(q => scala.util.Try(
          java.nio.file.Files.getLastModifiedTime(q).toMillis)
        .getOrElse(Long.MaxValue)).max.orElse(Long.MaxValue)
      finally walk.close()
    }
    val stream = scala.util.Try(java.nio.file.Files.list(GraftTmp.root))
    stream.foreach { s =>
      try {
        s.iterator().forEachRemaining { p =>
          if (java.nio.file.Files.isDirectory(p,
                java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
              scala.util.Try(newestMtime(p) < cutoff).getOrElse(false)) {
            scala.util.Try {
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
              finally walk.close()
              swept.incrementAndGet()
            }
          }
        }
      } finally s.close()
    }
    if (swept.get() > 0)
      System.err.println(s"[bench] swept ${swept.get()} stale temp dirs")
  }

  def main(args: Array[String]): Unit = {
    sweepStaleTmp()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("WARN")
    // r16 (verdict #2): a SCALING WITNESS the driver can read. At the
    // bench SF every fixture is one parquet file, so low-core/high-core
    // wall ratios are ≈1 everywhere and the driver's probe cannot tell
    // "honors $SPARK_GRAFT_CPUS" from "ignores it". Record, per id, the
    // widest stage (max tasks in any one stage of any job the id ran):
    // ids whose hot stage spreads to defaultParallelism show ~cores
    // here (32 vs 8 across the driver's two runs), protocol-floor ids
    // show small constants — direct, per-id parallelism evidence in
    // the one-line JSON without touching the timing methodology.
    // Attribution is exact via job groups (thread-local, set around
    // each exec; streaming ids run jobs on their own threads and
    // simply keep their floor reading).
    val maxStageTasks = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val gid = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        gid.filter(_.startsWith("graft-bench:")).foreach { g =>
          val id = g.stripPrefix("graft-bench:")
          val w = js.stageInfos.foldLeft(0)((m, si) => math.max(m, si.numTasks))
          maxStageTasks.merge(id, w, (a, b) => math.max(a, b))
        }
      }
    })
    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    def execTagged(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      spark.sparkContext.setJobGroup(s"graft-bench:$name", name,
        interruptOnCancel = false)
      try exec(fn) finally spark.sparkContext.clearJobGroup()
    }
    // SPARK_GRAFT_ONLY=id1,id2 restricts the sweep — the 10× scale
    // shadow-bench (tools/scale_bench.sh) measures the flagship
    // subset at sf1 without paying for 249 lifecycle ids per pass
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_WARMUP=0 skips the untimed warm-up pass and
    // SPARK_GRAFT_PASSES overrides the timed-pass count — the sf1
    // shadow-bench runs ONE pass per scale under one protocol (the
    // ratio is the signal there, not the absolute floor); the driver's
    // round bench keeps the default warm-up + min-of-3.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      qs.foreach { case (_, fn) => try exec(fn) catch { case _: Throwable => () } }
    // A throwing query must NOT record its (tiny) time-to-throw as a
    // measurement — round 5's loader breakage made 13 broken ids look
    // like ~0.05s speedups. Failures carry a -1 sentinel and are listed
    // by id so breakage can never masquerade as performance.
    def timedPass(): Seq[(String, Either[String, Double])] =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { execTagged(name, fn); name -> Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    // per-id MIN of three timed passes: one pass is hostage to host
    // noise (round 4 recorded 17.1s for a query that re-measures at
    // 2.6s; round 6's t09 read 1.56s in-sweep vs 0.37s re-measured —
    // same class). The min over three rejects one-off AND two-off
    // interference while staying honest about systematic cost.
    val timedPasses =
      sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption)
        .filter(_ >= 1).getOrElse(3)
    val passes = Seq.fill(timedPasses)(timedPass())
    val results = qs.indices.map { i =>
      val name = passes.head(i)._1
      val runs = passes.map(_(i)._2)
      val oks = runs.collect { case Right(v) => v }
      if (oks.nonEmpty) name -> Right(oks.min)
      else name -> runs.head
    }
    val ok = results.collect { case (n, Right(v)) => n -> v }
    val failed = results.collect { case (n, Left(e)) => n -> e }
    // per-id SPREAD (max − min over the timed passes): the noise
    // floor next to each measurement, so a cross-round delta smaller
    // than the id's spread reads as noise, not regression — without
    // re-measurement archaeology (round-7 verdict follow-up).
    val spreads: Map[String, Double] = qs.indices.flatMap { i =>
      val name = passes.head(i)._1
      val oks = passes.map(_(i)._2).collect { case Right(v) => v }
      if (oks.size >= 2) Some(name -> (oks.max - oks.min)) else None
    }.toMap
    val qjson = results.map {
      case (k, Right(v)) => s"\"" + k + "\":" + v
      case (k, Left(_))  => s"\"" + k + "\":-1"
    }.mkString("{", ",", "}")
    val sjson = results.flatMap { case (k, _) =>
      spreads.get(k).map(s => "\"" + k + "\":" + f"$s%.4f")
    }.mkString("{", ",", "}")
    // full JSON string escaping (Verify's q() rule): any control char
    // below 0x20 in an exception message would corrupt the one-line
    // JSON the driver parses
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ejson = failed.map { case (k, e) => s"\"$k\":${q(e.take(200))}" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // apples-to-apples vs BENCH_r01 (which covered only these 9 ids —
    // the full total now spans 100+ operators incl. streaming/ELT)
    val r01Ids = Set("b01_parquet_scan", "b02_scan_limit", "b05_project_rename",
      "b06_filter_comparison", "b07_filter_in_between_like",
      "b08_filter_null_handling", "b09_distinct", "b23_agg_global",
      "b24_agg_groupby")
    val r01Subset = ok.collect { case (k, v) if r01Ids(k) => v }.sum
    // b01/b05/b06 were re-scoped to bounded keyed slices in round 2, so
    // the subset measures less work than BENCH_r01 did — flag that in
    // the emitted JSON rather than implying a like-for-like speedup
    // onJobStart events may still be queued behind the last id
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    val tjson = results.flatMap { case (k, _) =>
      Option(maxStageTasks.get(k)).map(v => "\"" + k + "\":" + v)
    }.mkString("{", ",", "}")
    // cpus goes into the JSON as a number so the driver can divide;
    // a non-numeric env value falls back to the string form (quoted)
    val cpusJson = cpus.toIntOption.map(_.toString).getOrElse(q(cpus))
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"spread":$sjson,"max_stage_tasks":$tjson,"cpus":$cpusJson,"sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"errors":$ejson,"timed_passes":$timedPasses,"per_id":"min","r01_subset_total":$r01Subset,"r01_subset_note":"b01/b05/b06 re-scoped to bounded slices in r2; subset not directly comparable to BENCH_r01"}""")
    // Full per-id detail as a REPO artifact: the driver's BENCH_rN.json
    // keeps only a tail of stdout, so the spread map never reached the
    // round-8 verdict and a cross-round delta (s19/s20) could not be
    // adjudicated noise-vs-real. Every run also writes min + spread +
    // ALL pass values per id next to the sources, where the end-of-
    // round commit picks it up (round-8 verdict task #2).
    val pjson = qs.indices.map { i =>
      val name = passes.head(i)._1
      val vals = passes.map(_(i)._2.fold(_ => "-1", v => f"$v%.4f"))
      "\"" + name + "\":[" + vals.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    val detail = s"""{"sf":"$sfDir","timed_passes":$timedPasses,"per_id":"min","total":$total,"n_failed":${failed.size},"errors":$ejson,"queries":$qjson,"spread":$sjson,"max_stage_tasks":$tjson,"cpus":$cpusJson,"passes":$pjson}"""
    scala.util.Try(java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    spark.stop()
  }
}
