package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.icelite.{IceLite, IngestJob, TableRef, TransformRegistry}
import syntax._

/** SURVEY.md §2 Part A — the operators the reference actually codes
  * (/root/reference/scripts/extract_load.py:55-171), declared as
  * oracle-checkable queries over the IceLite layer (graft.icelite).
  *
  * Pipeline-shaped ids run a real ingest into a throwaway warehouse
  * inside the query and return the resulting table state; the oracle
  * is direct SQL over the same source parquet — so the gate checks the
  * end-to-end load semantics (incremental ≡ full is also
  * property-tested in IngestJobSpec). Source batches are staged with
  * deterministic names (batch_000.parquet…) so state-table contents
  * are stable.
  */
object PipelinePack extends Pack {

  /** Stage `orders` as n deterministic source files split by key hash
    * (the Airbyte-drop role, extract_load.py:138). */
  private def makeBatches(s: SparkSession, dir: String, n: Int): String = {
    val src = graft.GraftTmp.dir("graft_src").toString
    // ONE pass instead of n (guide §1.2 "don't compute things you
    // throw away"): the old loop scanned + filtered + wrote `orders`
    // once PER batch. A single partitioned write stages every batch
    // in one job — `repartition(n, _b)` puts each batch key in
    // exactly one task, so each `_b=<b>/` dir lands exactly one file
    // (partitionBy drops `_b` from the data pages, keeping the batch
    // files schema-identical to `orders`), then the staged files take
    // their deterministic batch names. Batch MEMBERSHIP is unchanged
    // (same pmod key); within-file row order is not part of any
    // consumer's contract (ingest outputs are aggregates/file lists).
    val staging = graft.GraftTmp.dir("graft_stage")
    Tables.load(s, dir, "orders")
      .withColumn("_b", pmod(col("o_orderkey"), lit(n)))
      .repartition(n, col("_b"))
      .write.mode("overwrite").partitionBy("_b").parquet(staging.toString)
    (0 until n).foreach { b =>
      val bdir = staging.resolve(s"_b=$b")
      // r15 ADVICE hardening: an EMPTY pmod bucket writes no dir at
      // all (dynamic partitionBy) — stage the schema-only empty file
      // the old per-batch writer produced; and a bucket split into
      // >1 files (e.g. spark.sql.files.maxRecordsPerFile set) must
      // fail LOUDLY, not silently stage a fraction of the batch.
      val fromDir =
        if (Files.isDirectory(bdir)) bdir
        else {
          val e = staging.resolve(s"_b=$b.empty")
          Tables.load(s, dir, "orders").limit(0).coalesce(1)
            .write.mode("overwrite").parquet(e.toString)
          e
        }
      val parts = IceLite.listDir(Files.list(fromDir))(_
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .toSeq)
      if (parts.size != 1) throw new IllegalStateException(
        s"batch $b staged ${parts.size} part files (expected exactly 1 " +
          "- is spark.sql.files.maxRecordsPerFile set?)")
      Files.move(parts.head, Paths.get(src, f"batch_$b%03d.parquet"))
    }
    src
  }

  private def tmpWarehouse(): String =
    graft.GraftTmp.dir("graft_wh").toString

  val decls: Seq[Decl] = Seq(

    // a01: prefix listing (extract_load.py:136-139) — emit the file
    // names of the fixture dir itself; static, sfDir-independent oracle
    Decl("a01_list_source_files",
      (s, dir) => {
        import s.implicits._
        IngestJob.listSourceFiles(dir)
          .filter(f => Tables.all.contains(f.stripSuffix(".parquet")))
          .toDF("file_name").orderBy(col("file_name"))
      },
      Some(Tables.all.map(t => s"SELECT '$t.parquet' AS file_name").sorted
        .mkString("", " UNION ALL ", " ORDER BY file_name"))),

    // a02: N files, one scan (extract_load.py:68-73): split lineitem
    // into 4 parquet files, re-read them as one multi-file relation
    Decl("a02_multi_file_parquet_scan",
      (s, dir) => {
        val out = graft.GraftTmp.dir("graft_a02").toString
        // hash, not round-robin: keyless repartition(n) pays a full
        // local sort of the payload first (sortBeforeRepartition,
        // SPARK-23207) so retried tasks reproduce their assignment;
        // hashing a dense unique key is deterministic by construction
        // and skips that sort. Up to 4 files (a hash partition that
        // draws no key writes none), same re-read aggregate.
        Tables.load(s, dir, "lineitem").repartition(4, col("l_orderkey"))
          .write.mode("overwrite").parquet(out)
        val files = IceLite.listDir(Files.list(Paths.get(out)))(_
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
        s.read.parquet(files: _*)
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(l_quantity), 2) AS sum_qty FROM lineitem""")),

    // a03: full-load policy — lexicographic max file name
    // (extract_load.py:145-148)
    Decl("a03_latest_file_select",
      (s, dir) => {
        import s.implicits._
        IngestJob.listSourceFiles(dir)
          .filter(f => Tables.all.contains(f.stripSuffix(".parquet")))
          .toDF("file_name")
          .orderBy(col("file_name").desc).limit(1)
      },
      Some(s"SELECT '${Tables.all.max}.parquet' AS file_name")),

    // a04: listed − loaded diff as a real anti-join on Dataset[String]
    // (extract_load.py:154-157)
    Decl("a04_new_file_anti_join",
      (s, dir) => {
        import s.implicits._
        val listed = Tables.all.map(t => s"$t.parquet").toDF("file_name")
        val loaded = Seq("region.parquet", "nation.parquet", "customer.parquet")
          .toDF("file_name")
        listed.join(loaded, Seq("file_name"), "left_anti").orderBy(col("file_name"))
      },
      Some(Tables.all.filterNot(Set("region", "nation", "customer"))
        .map(t => s"SELECT '$t.parquet' AS file_name").sorted
        .mkString("", " UNION ALL ", " ORDER BY file_name"))),

    // a05: tracking-table read after an incremental run over 3 batches
    // (extract_load.py:55-61)
    Decl("a05_state_read",
      (s, dir) => {
        import s.implicits._
        val (wh, src) = (tmpWarehouse(), makeBatches(s, dir, 3))
        IngestJob.run(s, wh, "orders", src, "incremental")
        IceLite.read(s, IngestJob.stateRef(wh, "orders")).orderBy(col("file_path"))
      },
      Some("""SELECT 'batch_000.parquet' AS file_path
             UNION ALL SELECT 'batch_001.parquet'
             UNION ALL SELECT 'batch_002.parquet' ORDER BY file_path""")),

    // a06: state append is incremental — a second run loads only the
    // not-yet-tracked files (exactly-once bookkeeping)
    Decl("a06_state_append",
      (s, dir) => {
        import s.implicits._
        val wh = tmpWarehouse()
        val src1 = graft.GraftTmp.dir("graft_src1").toString
        val srcAll = makeBatches(s, dir, 3)
        // phase 1: only batch_000 visible
        Files.copy(Paths.get(srcAll, "batch_000.parquet"),
          Paths.get(src1, "batch_000.parquet"))
        IngestJob.run(s, wh, "orders", src1, "incremental")
        val n1 = IngestJob.loadedFiles(s, wh, "orders").size.toLong
        // phase 2: all three visible; diff loads exactly the other two
        val r2 = IngestJob.run(s, wh, "orders", srcAll, "incremental")
        val n2 = IngestJob.loadedFiles(s, wh, "orders").size.toLong
        Seq((1L, n1, -1L), (2L, n2, r2.filesLoaded.size.toLong))
          .toDF("phase", "n_tracked", "n_newly_loaded").orderBy(col("phase"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS phase, CAST(1 AS BIGINT) AS n_tracked,
                     CAST(-1 AS BIGINT) AS n_newly_loaded
             UNION ALL SELECT 2, 3, 2 ORDER BY phase""")),

    // a07: the count action (extract_load.py:150) — a real .count(),
    // result re-lifted into a DataFrame
    Decl("a07_row_count",
      (s, dir) => {
        import s.implicits._
        Seq(Tables.load(s, dir, "lineitem").count()).toDF("n_rows")
      },
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem")),

    // a08: CREATE NAMESPACE IF NOT EXISTS, idempotent
    // (extract_load.py:79)
    Decl("a08_create_namespace",
      (s, dir) => {
        import s.implicits._
        val wh = tmpWarehouse()
        IceLite.createNamespace(wh, "src")
        IceLite.createNamespace(wh, "src") // idempotent
        IceLite.createNamespace(wh, "metadata")
        IceLite.listNamespaces(wh).toDF("namespace").orderBy(col("namespace"))
      },
      Some("""SELECT 'metadata' AS namespace UNION ALL SELECT 'src'
             ORDER BY namespace""")),

    // a09: table-exists check before/after create (extract_load.py:84-91)
    Decl("a09_table_exists",
      (s, dir) => {
        import s.implicits._
        val wh = tmpWarehouse()
        val ref = IngestJob.tableRef(wh, "orders")
        val before = IceLite.tableExists(ref)
        IceLite.createNamespace(wh, "src")
        IceLite.createOrReplace(ref, Tables.load(s, dir, "orders").limit(5))
        val after = IceLite.tableExists(ref)
        Seq((1L, before), (2L, after)).toDF("phase", "table_exists")
          .orderBy(col("phase"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS phase, FALSE AS table_exists
             UNION ALL SELECT 2, TRUE ORDER BY phase""")),

    // a10: atomic full refresh — second createOrReplace fully replaces
    // the first load's content (extract_load.py:94-98)
    Decl("a10_full_refresh_write",
      (s, dir) => {
        val wh = tmpWarehouse()
        val ref = IngestJob.tableRef(wh, "orders")
        IceLite.createNamespace(wh, "src")
        IceLite.createOrReplace(ref, Tables.load(s, dir, "orders"))
        IceLite.createOrReplace(ref,
          Tables.load(s, dir, "orders").filter(col("o_totalprice") > 200000.0))
        IceLite.read(s, ref)
          .agg(count(lit(1)).cast("long").as("n"),
            dsum(col("o_totalprice"), 3).as("sum_price"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price
             FROM orders WHERE o_totalprice > 200000.0""")),

    // a11: incremental loads over all batches ≡ one full scan of the
    // source — THE correctness claim of extract_load.py:154-165
    Decl("a11_incremental_append_write",
      (s, dir) => {
        val wh = tmpWarehouse()
        val src = makeBatches(s, dir, 3)
        // three separate runs, each picking up whatever is new
        IngestJob.run(s, wh, "orders", src, "incremental")
        IngestJob.run(s, wh, "orders", src, "incremental") // no-op: nothing new
        IceLite.read(s, IngestJob.tableRef(wh, "orders"))
          .agg(count(lit(1)).cast("long").as("n"),
            dsum(col("o_totalprice"), 3).as("sum_price"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price
             FROM orders""")),

    // a12: snapshot expiry keeps the current snapshot and its files
    // (extract_load.py:167-171; cutoff in the future = expire history)
    Decl("a12_expire_snapshots",
      (s, dir) => {
        import s.implicits._
        val wh = tmpWarehouse()
        val ref = IngestJob.tableRef(wh, "orders")
        IceLite.createNamespace(wh, "src")
        val o = Tables.load(s, dir, "orders")
        IceLite.createOrReplace(ref, o.filter(col("o_orderkey") < 100))
        IceLite.append(ref, o.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200))
        IceLite.append(ref, o.filter(col("o_orderkey") >= 200 && col("o_orderkey") < 300))
        val before = IceLite.readManifest(ref).snapshots.size.toLong
        IceLite.expireSnapshots(ref, System.currentTimeMillis() + 3600000L)
        val after = IceLite.readManifest(ref).snapshots.size.toLong
        val rows = IceLite.read(s, ref).count()
        Seq((before, after, rows)).toDF("n_before", "n_after", "n_rows")
      },
      Some("""SELECT CAST(3 AS BIGINT) AS n_before, CAST(1 AS BIGINT) AS n_after,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey < 300) AS n_rows""")),

    // a13: the Trino-path variant — retention_threshold => '7d'
    // (README.md:111): fresh snapshots survive a 7-day cutoff
    Decl("a13_trino_gc",
      (s, dir) => {
        import s.implicits._
        val wh = tmpWarehouse()
        val ref = IngestJob.tableRef(wh, "orders")
        IceLite.createNamespace(wh, "src")
        val o = Tables.load(s, dir, "orders")
        IceLite.createOrReplace(ref, o.filter(col("o_orderkey") < 100))
        IceLite.append(ref, o.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200))
        val before = IceLite.readManifest(ref).snapshots.size.toLong
        val expired = IceLite.expireSnapshots(ref,
          System.currentTimeMillis() - 7L * 24 * 3600 * 1000)
        val after = IceLite.readManifest(ref).snapshots.size.toLong
        Seq((before, expired.size.toLong, after))
          .toDF("n_before", "n_expired", "n_after")
      },
      Some("""SELECT CAST(2 AS BIGINT) AS n_before, CAST(0 AS BIGINT) AS n_expired,
             CAST(2 AS BIGINT) AS n_after""")),

    // a14: the interactive Trino session (README.md:72-75), via the
    // SQL surface (ORDER BY added for determinism)
    Decl("a14_interactive_scan_limit",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                 ORDER BY o_orderkey LIMIT 10""")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             ORDER BY o_orderkey LIMIT 10""")),

    // a15: dbt-style CTAS model DAG materialized through the table
    // layer in topological order (README.md:79-98). The verified
    // output is the SECOND-level model (yearly_revenue reads the
    // materialized monthly_revenue — dbt's ref() edge); the oracle
    // recomputes the full two-level lineage from source.
    Decl("a15_dbt_transform",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // spread the models' big input: monthly_revenue's decimal-sum
        // aggregation otherwise runs in the fixture's single scan
        // task (profiled 0.93 s; guide §2.5 — no-op at scale). The
        // sum is decimal-exact, so partitioning cannot change it.
        syntax.spread(Tables.load(s, dir, "lineitem"), col("l_orderkey"))
          .createOrReplaceTempView("lineitem")
        val wh = tmpWarehouse()
        try TransformRegistry.runAll(s, wh)
        // restore the plain view (r15 ADVICE): later same-session SQL
        // over `lineitem` must not inherit the spread's extra
        // exchange — same restore pattern as a16/a17
        finally Tables.load(s, dir, "lineitem")
          .createOrReplaceTempView("lineitem")
        IceLite.read(s, TableRef(wh, "marts", "yearly_revenue"))
          .orderBy(col("ship_year"))
      },
      Some("""WITH monthly AS (
               SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                 CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                 CAST(COUNT(*) AS BIGINT) AS n_lines
               FROM lineitem GROUP BY 1)
             SELECT substr(ship_month, 1, 4) AS ship_year,
               CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(SUM(n_lines) AS BIGINT) AS n_lines,
               CAST(COUNT(*) AS BIGINT) AS n_months
             FROM monthly GROUP BY 1 ORDER BY ship_year""")),

    // a16: dbt INCREMENTAL materialization (README.md:79-98 is the
    // reference's transform layer; incremental is the mode a 100 TB
    // mart actually runs). Run 1 sees only history before 1996 (a
    // month-boundary load); run 2 sees the full source and appends
    // ONLY months past the mart's high-water mark — the final table
    // must equal a from-scratch rebuild (the oracle), and the
    // manifest must show create+append, not two rebuilds.
    // incremental ≡ full is also property-tested in IngestJobSpec.
    Decl("a16_dbt_incremental",
      (s, dir) => {
        val wh = tmpWarehouse()
        val li = Tables.load(s, dir, "lineitem")
        li.filter(col("l_shipdate") < lit("1996-01-01"))
          .createOrReplaceTempView("lineitem")
        TransformRegistry.runAll(s, wh, TransformRegistry.incrementalModels)
        // new months arrive; the second run appends the delta only
        li.createOrReplaceTempView("lineitem")
        TransformRegistry.runAll(s, wh, TransformRegistry.incrementalModels)
        val ref = TableRef(wh, "marts", "monthly_revenue_inc")
        val ops = IceLite.readManifest(ref).snapshots.map(_.operation)
        IceLite.read(s, ref)
          .withColumn("second_run_appended",
            lit(ops == Seq("create", "append")))
          .orderBy(col("ship_month"))
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             TRUE AS second_run_appended
             FROM lineitem GROUP BY 1 ORDER BY ship_month""")),

    // a17: incremental materialization × additive schema evolution
    // (a16 + d12 composed; the ROADMAP round-5 candidate). Run 2's
    // model VERSION adds a qty_sum column; its month-boundary delta
    // appends with the wider schema and the pre-evolution months read
    // NULL in the new column — zero rewrite of already-materialized
    // history, dbt's `on_schema_change: append_new_columns` over
    // Iceberg v2 evolution. The manifest must still show
    // create+append (an evolution that forced a rebuild would show
    // two creates).
    Decl("a17_dbt_incremental_evolve",
      (s, dir) => {
        val wh = tmpWarehouse()
        val li = Tables.load(s, dir, "lineitem")
        li.filter(col("l_shipdate") < lit("1996-01-01"))
          .createOrReplaceTempView("lineitem")
        TransformRegistry.runAll(s, wh, TransformRegistry.evolveV1)
        li.createOrReplaceTempView("lineitem")
        TransformRegistry.runAll(s, wh, TransformRegistry.evolveV2)
        val ref = TableRef(wh, "marts", "monthly_revenue_ev")
        val ops = IceLite.readManifest(ref).snapshots.map(_.operation)
        IceLite.read(s, ref)
          .withColumn("evolved_on_append",
            lit(ops == Seq("create", "append")))
          .orderBy(col("ship_month"))
      },
      // oracle simulates the evolution with UNION + NULL cast (d12's
      // pattern): v1-built months carry NULL qty_sum, delta months the
      // decimal-exact quantity sum
      Some("""SELECT ship_month, revenue, n_lines, qty_sum,
             TRUE AS evolved_on_append FROM (
               SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                 CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(NULL AS DOUBLE) AS qty_sum
               FROM lineitem WHERE l_shipdate < DATE '1996-01-01' GROUP BY 1
               UNION ALL
               SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                 CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
               FROM lineitem WHERE l_shipdate >= DATE '1996-01-01' GROUP BY 1)
             ORDER BY ship_month"""))
  )
}
