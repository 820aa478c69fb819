package graft.icelite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scala re-expression of the reference's one real program —
  * `extract_load.py <table> full|incremental`
  * (/root/reference/scripts/extract_load.py:120-174) — over the
  * IceLite table layer.
  *
  * full        = a01 list → a03 latest → a02 scan → a07 count →
  *               a08/a09 ns/table → a10 createOrReplace → a12 expire
  * incremental = a01 list → a05 state read → a04 new-file diff →
  *               a02 scan → a11 append/create → a06 state append →
  *               a12 expire
  *
  * A steady-state incremental load runs three Spark jobs: the a04
  * lookup (a semi-filter pushed into the state read) and the two
  * writes. a02's schema and a07's count come from the batch footers.
  *
  * The loaded-files state is itself an IceLite table with a single
  * `file_path` string column (extract_load.py:55-66), so ingest
  * bookkeeping rides the same snapshot/commit path as data. File
  * paths are stored relative to the source dir, which keeps the state
  * portable. Exactly-once holds for a single writer, the same
  * guarantee the reference's one-driver job has; the
  * incremental≡full invariant is property-tested (IngestJobSpec).
  */
object IngestJob {

  final case class Result(
      table: String,
      loadType: String,
      filesLoaded: Seq[String],
      rowsLoaded: Long,
      snapshotId: Long)

  val dataNamespace = "src"
  val metaNamespace = "metadata"

  /** a01: enumerate raw source files under a prefix
    * (extract_load.py:136-139, MinIO listing → local dir walk). */
  def listSourceFiles(sourceDir: String): Seq[String] = {
    val d = Paths.get(sourceDir)
    if (!Files.exists(d)) Seq.empty
    else IceLite.listDir(Files.walk(d))(_
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => d.relativize(p).toString)
      .toSeq.sorted)
  }

  def tableRef(warehouse: String, table: String): TableRef =
    TableRef(warehouse, dataNamespace, table)

  def stateRef(warehouse: String, table: String): TableRef =
    TableRef(warehouse, metaNamespace, s"${table}_loaded_files")

  /** a05: read the tracking table; missing table ⇒ empty set
    * (extract_load.py:55-61). Inspection/test helper ONLY — it
    * collects the full tracked-file history to the driver, which at
    * 100 TB is millions of rows. `run` computes its new-file diff with
    * the a04 semi-filter instead (newFiles below), never materializing
    * the history driver-side. */
  def loadedFiles(spark: SparkSession, warehouse: String, table: String): Set[String] = {
    val ref = stateRef(warehouse, table)
    if (!IceLite.tableExists(ref)) Set.empty
    else IceLite.read(spark, ref).select("file_path")
      .collect().map(_.getString(0)).toSet
  }

  /** a04 as `run` uses it: listed − tracked. The reference's own a04
    * is a driver-side set difference over the whole history (SURVEY
    * §2). Here the listing, already on the driver, is pushed into the
    * state read as an `IN` filter (one narrow job, no shuffle), so
    * what comes back is bounded by the listing, never the history. */
  private def newFiles(spark: SparkSession, warehouse: String, table: String,
      listed: Seq[String]): Seq[String] = {
    val ref = stateRef(warehouse, table)
    if (listed.isEmpty || !IceLite.tableExists(ref)) listed
    else listed.filterNot(IceLite.read(spark, ref).select("file_path")
      .where(org.apache.spark.sql.functions.col("file_path").isin(listed: _*))
      .collect().map(_.getString(0)).toSet)
  }

  /** a06: append newly loaded paths to the tracking table
    * (extract_load.py:63-66). */
  def saveLoadedFiles(spark: SparkSession, warehouse: String, table: String,
      paths: Seq[String]): Unit = {
    import spark.implicits._
    IceLite.createNamespace(warehouse, metaNamespace)
    IceLite.append(stateRef(warehouse, table), paths.toDF("file_path"))
  }

  /** Run one load. `retentionMs` mirrors the reference's 3-day
    * expire-after-every-load (extract_load.py:167-171); pass a
    * negative value to disable expiry, 0 to expire everything but the
    * current snapshot. */
  def run(spark: SparkSession, warehouse: String, table: String,
      sourceDir: String, loadType: String,
      retentionMs: Long = 3L * 24 * 3600 * 1000,
      partitionCol: Option[String] = None): Result = {
    require(loadType == "full" || loadType == "incremental",
      s"load_type must be full|incremental, got $loadType")

    IceLite.createNamespace(warehouse, dataNamespace)              // a08
    val ref = tableRef(warehouse, table)
    val listed = listSourceFiles(sourceDir)                        // a01

    val toLoad: Seq[String] = loadType match {
      case "full" =>
        // a03: lexicographic-max file name ("lexicographical order
        // corresponds to timestamps", extract_load.py:145-148)
        if (listed.isEmpty) Seq.empty else Seq(listed.max)
      case "incremental" =>
        // a04: listed − already-loaded diff (extract_load.py:154-157),
        // as a pushed semi-filter — the tracked-file history never
        // lands on the driver
        newFiles(spark, warehouse, table, listed)                  // a05

    }

    if (toLoad.isEmpty) {
      // The reference exits early only when NO source file is listed;
      // a run with zero NEW files still expires old snapshots
      // (extract_load.py:154-171), so steady-state no-new-data
      // schedules keep reclaiming data files.
      if (retentionMs >= 0 && IceLite.tableExists(ref))              // a12
        IceLite.expireSnapshots(ref, System.currentTimeMillis() - retentionMs)
      return Result(table, loadType,
        Seq.empty, 0L,
        if (IceLite.tableExists(ref)) IceLite.readManifest(ref).currentSnapshotId else 0L)
    }

    // a02: one multi-file scan over the batch (extract_load.py:68-73);
    // a07: its row count, from the footers
    val (df, rows) = IceLite.readCounted(spark,
      toLoad.map(Paths.get(sourceDir).resolve))

    // partitionCol opts the target table into the Hive-style layout
    // (Iceberg identity partitioning) — same snapshot/commit semantics,
    // plus manifest-level partition pruning on reads
    val snap = (loadType, partitionCol) match {
      case ("full", None)    => IceLite.createOrReplace(ref, df)   // a10
      case ("full", Some(p)) => IceLite.createOrReplacePartitioned(ref, df, p)
      case ("incremental", pc) =>
        val s = pc match {
          case None    => IceLite.append(ref, df)                  // a11
          case Some(p) => IceLite.appendPartitioned(ref, df, p)
        }
        saveLoadedFiles(spark, warehouse, table, toLoad)           // a06
        s
      case _ => throw new IllegalStateException("unreachable")
    }

    if (retentionMs >= 0)                                          // a12
      IceLite.expireSnapshots(ref, System.currentTimeMillis() - retentionMs)

    Result(table, loadType, toLoad, rows, snap.id)
  }
}

/** a15: the dbt role — a DAG of named SQL models with explicit
  * dependencies, materialized as IceLite tables in topological order
  * (/root/reference/README.md:79-98; SURVEY §3.3). `yearly_revenue`
  * reads `monthly_revenue`'s materialized table, the model-reads-model
  * edge dbt's `ref()` provides. */
object TransformRegistry {

  /** One dbt-style model: SQL over source temp views and/or upstream
    * models (referenced by name, like dbt `ref()`).
    *
    * `materialization` mirrors dbt's config: `table` rebuilds via CTAS
    * every run; `incremental` appends only rows whose `watermarkCol`
    * is past the materialized table's high-water mark — the only
    * materialization cost model a 100 TB mart can afford (a full
    * rebuild re-reads the whole source; incremental reads the delta
    * and commits one append snapshot). The dbt contract carries over:
    * the watermark column must advance append-only in the source, and
    * a run must only ever see COMPLETE watermark units (here: the
    * boundary is a month, and loads land on month boundaries). */
  final case class Model(name: String, deps: Seq[String], sql: String,
      materialization: String = "table",
      watermarkCol: Option[String] = None) {
    require(materialization == "table" || materialization == "incremental",
      s"model $name: unknown materialization '$materialization'")
    require(materialization != "incremental" || watermarkCol.nonEmpty,
      s"incremental model $name needs a watermarkCol")
  }

  val models: Seq[Model] = Seq(
    // declared intentionally OUT of topological order — runAll must
    // sort by deps, not by position (the dbt contract)
    Model("yearly_revenue", Seq("monthly_revenue"),
      """SELECT substr(ship_month, 1, 4) AS ship_year,
         CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         CAST(SUM(n_lines) AS BIGINT) AS n_lines,
         CAST(COUNT(*) AS BIGINT) AS n_months
         FROM monthly_revenue GROUP BY 1"""),
    Model("monthly_revenue", Nil,
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem GROUP BY 1"""),
    Model("top_segments", Nil,
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment"""))

  /** Kahn topological order over the declared deps; rejects unknown
    * deps and cycles (what dbt validates at parse time). */
  def topoOrder(ms: Seq[Model] = models): Seq[Model] = {
    val byName = ms.map(m => m.name -> m).toMap
    ms.foreach(m => m.deps.foreach(d => require(byName.contains(d),
      s"model ${m.name} depends on unknown model $d")))
    val ordered = scala.collection.mutable.ArrayBuffer.empty[Model]
    val done = scala.collection.mutable.Set.empty[String]
    var remaining = ms
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done))
      require(ready.nonEmpty,
        s"dependency cycle among models: ${blocked.map(_.name).mkString(", ")}")
      ordered ++= ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    ordered.toSeq
  }

  /** Materialization in topological order: run each model's SQL,
    * write it as an IceLite table, register the result as a view so
    * downstream models read the MATERIALIZED table — a two-level
    * lineage, not a view expansion.
    *
    * `table` models rebuild atomically (CTAS replace). `incremental`
    * models do dbt's incremental dance: first run = full build;
    * later runs compute the model over the current sources, keep only
    * rows with watermarkCol > max(watermarkCol) already materialized,
    * and APPEND them as one snapshot. The high-water mark is a 1-row
    * aggregate over the mart (not the source), so the incremental run
    * reads source-delta + mart-max — never the full history twice. */
  def runAll(spark: SparkSession, warehouse: String,
      ms: Seq[Model] = models): Seq[TableRef] =
    topoOrder(ms).map { m =>
      val ref = TableRef(warehouse, "marts", m.name)
      IceLite.createNamespace(warehouse, "marts")
      m.materialization match {
        case "incremental" if IceLite.tableExists(ref) =>
          import org.apache.spark.sql.functions.{col, lit, max => fmax}
          val wcol = m.watermarkCol.get
          val hwm = IceLite.read(spark, ref).agg(fmax(col(wcol))).head.get(0)
          val fresh =
            if (hwm == null) spark.sql(m.sql)
            else spark.sql(m.sql).filter(col(wcol) > lit(hwm))
          IceLite.append(ref, fresh)
        case _ =>
          IceLite.createOrReplace(ref, spark.sql(m.sql))
      }
      IceLite.read(spark, ref).createOrReplaceTempView(m.name)
      ref
    }

  /** The incremental-mode demo DAG (a16): the monthly_revenue model in
    * incremental materialization, watermarked on its month key. */
  val incrementalModels: Seq[Model] = Seq(
    Model("monthly_revenue_inc", Nil,
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem GROUP BY 1""",
      materialization = "incremental",
      watermarkCol = Some("ship_month")))

  /** a17: the a16 × d12 composition — the same incremental model in
    * two VERSIONS. Run 1 materializes v1; run 2 runs the evolved v2
    * (one added column), whose past-the-high-water-mark delta appends
    * with the wider schema. IceLite's evolution-on-append (d12) gives
    * the already-materialized months NULL in the new column on read —
    * the only way a 100 TB mart picks up a model change without a
    * full-refresh rebuild (dbt `on_schema_change: append_new_columns`). */
  val evolveV1: Seq[Model] = Seq(
    Model("monthly_revenue_ev", Nil,
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem GROUP BY 1""",
      materialization = "incremental",
      watermarkCol = Some("ship_month")))

  val evolveV2: Seq[Model] = Seq(
    Model("monthly_revenue_ev", Nil,
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
         FROM lineitem GROUP BY 1""",
      materialization = "incremental",
      watermarkCol = Some("ship_month")))
}
