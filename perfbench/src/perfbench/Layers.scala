package perfbench

/** The per-layer ledger of a traced run: every name, on every workload.
  * A layer a workload does not touch reads 0 there — which is the
  * prediction for that layer on that workload. */
object Layers {
  /** SQL statements whose planning is broken out. The first six are the
    * analyst templates of sql_interactive; the last two are elt_cycle's. */
  val sqlTemplates: Seq[String] =
    Seq("lookup", "part_agg", "groupby", "join", "timetravel", "metatable", "readback", "delete")
  val scanTemplates: Seq[String] = sqlTemplates.take(6)
  val commitKinds: Seq[String] = Seq("load", "delete", "compact", "expire", "model")
  val curationIds: Seq[String] = Seq("c01_dedup_exact", "c02_dedup_near_minhash",
    "c05_sim_topk_join", "c07_text_tfidf", "c12_dedup_ngram_jaccard",
    "c13_dedup_embed_cosine", "c16_dedup_components", "c23_semantic_dedup",
    "c25_bm25_rank", "c27_substring_dedup", "t01_lang_id_ngram", "t07_bigram_lm_score")
  def shortId(id: String): String = id.takeWhile(_ != '_')

  val names: Seq[(String, String)] =
    Seq("host.canary_first_s" -> "s", "host.canary_last_s" -> "s",
      "traced.setup_s" -> "s", "traced.op_p50_s" -> "s", "traced.work_per_s" -> "1/s",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.job_s" -> "s",
      "spark.task_busy_share" -> "ratio", "spark.shuffle_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
      "op.readback_p50_s" -> "s", "op.model_p50_s" -> "s", "op.delete_p50_s" -> "s",
      "op.engine_p50_s" -> "s", "probe.refused" -> "count",
      "gap.load_s" -> "s", "gap.query_s" -> "s", "gap.curate_s" -> "s") ++
    commitKinds.flatMap(k => Seq(s"commit.$k.jobs" -> "count",
      s"commit.$k.job_s" -> "s", s"commit.$k.driver_s" -> "s")) ++
    Seq("icelite.metadata_bytes_per_commit" -> "bytes", "icelite.snapshots" -> "count",
      "icelite.live_files" -> "count", "icelite.delete_files" -> "count",
      "icelite.write_amp" -> "ratio", "icelite.space_amp" -> "ratio",
      "icelite.read_manifest_s" -> "s", "icelite.read_build_s" -> "s",
      "icelite.read_files" -> "count") ++
    sqlTemplates.flatMap(t => Seq(s"sql.$t.analyze_s" -> "s",
      s"sql.$t.optimize_s" -> "s", s"sql.$t.plan_s" -> "s")) ++
    scanTemplates.flatMap(t => Seq(s"scan.$t.partitions" -> "count",
      s"scan.$t.rows_per_row" -> "ratio")) ++
    curationIds.map(shortId).flatMap(i => Seq(s"id.$i.s" -> "s",
      s"id.$i.task_cpu_s" -> "s", s"id.$i.shuffle_bytes" -> "bytes",
      s"id.$i.max_stage_tasks" -> "count"))

  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  /** Metrics every workload derives the same way from its op records. */
  def common(ops: Seq[OpRec], probes: Seq[OpRec], canaryFirst: Double,
      canaryLast: Double, gcS: Double, slots: Int): Map[String, Double] = {
    val all = ops ++ probes
    val ok = ops.filter(_.ok)
    def kind(k: String) = ok.filter(_.kind == k)
    def tpl(t: String) = ok.filter(o => o.kind == t || o.kind == s"query:$t")
    val jobS = all.map(_.jobS).sum
    Map("host.canary_first_s" -> canaryFirst, "host.canary_last_s" -> canaryLast,
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.job_s" -> jobS,
      "spark.task_busy_share" -> (if (jobS > 0) all.map(_.taskRunS).sum / (jobS * slots) else 0.0),
      "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> gcS,
      "op.readback_p50_s" -> med(kind("readback").map(_.wallS)),
      "op.model_p50_s" -> med(kind("model").map(_.wallS)),
      "op.delete_p50_s" -> med(kind("delete").map(_.wallS)),
      "probe.refused" -> probes.count(!_.ok).toDouble,
      "op.engine_p50_s" -> med(ok.filter(_.kind.startsWith("query:engine")).map(_.wallS)),
      "gap.load_s" -> med(kind("load").map(_.gapS)),
      "gap.query_s" -> med(ok.filter(_.kind.startsWith("query:")).map(_.gapS)),
      "gap.curate_s" -> med(ok.filter(_.kind.startsWith("id:")).map(_.gapS))) ++
    commitKinds.flatMap { k =>
      val os = kind(k)
      Seq(s"commit.$k.jobs" -> med(os.map(_.jobs.toDouble)),
        s"commit.$k.job_s" -> med(os.map(_.jobS)),
        s"commit.$k.driver_s" -> med(os.map(o => math.max(0.0, o.wallS - o.jobS))))
    } ++
    sqlTemplates.flatMap { t =>
      val os = tpl(t)
      Seq(s"sql.$t.analyze_s" -> med(os.map(_.attr("analyze_s"))),
        s"sql.$t.optimize_s" -> med(os.map(_.attr("optimize_s"))),
        s"sql.$t.plan_s" -> med(os.map(_.attr("plan_s"))))
    } ++
    scanTemplates.flatMap { t =>
      val os = tpl(t)
      Seq(s"scan.$t.partitions" -> med(os.map(_.attr("scan_partitions"))),
        s"scan.$t.rows_per_row" -> med(os.map(o =>
          o.attr("scan_rows") / math.max(1.0, o.attr("result_rows")))))
    } ++
    curationIds.flatMap { id =>
      val os = kind(s"id:$id")
      val i = shortId(id)
      Seq(s"id.$i.s" -> med(os.map(_.wallS)),
        s"id.$i.task_cpu_s" -> med(os.map(_.taskCpuS)),
        s"id.$i.shuffle_bytes" -> med(os.map(_.shuffleBytes.toDouble)),
        s"id.$i.max_stage_tasks" -> os.map(_.maxStageTasks.toDouble).maxOption.getOrElse(0.0))
    }
  }
}
