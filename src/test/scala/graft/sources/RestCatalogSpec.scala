package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark
import graft.icelite.{IceLite, TableRef}
import graft.sources.rest.CatalogServer

/** The multi-engine catalog face (d75): a CatalogServer serving
  * metadata over HTTP + IceLiteRestCatalog attaching with nothing but
  * the uri — the reference's REST-catalog architecture (one catalog
  * service, engines share storage). Reads must be byte-identical to
  * the direct path, every scan feature intact; the FULL batch DML
  * surface (d76) commits through the one-POST CAS protocol. */
class RestCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withServer(f: (String, String, CatalogServer) => Unit): Unit = {
    val wh = graft.GraftTmp.dir("restspec_wh").toString
    IceLite.createNamespace(wh, "src")
    val srv = new CatalogServer(wh).start()
    val cat = s"restcat_${java.util.UUID.randomUUID.toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.rest.IceLiteRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.uri)
    try f(wh, cat, srv) finally srv.stop()
  }

  test("runtime DPP prunes bucket dirs through a REST-attached scan (d45 over the wire)") {
    // the planner-owned runtime filter must survive the attachment:
    // the spooled table plans through the SAME IceLiteScan, so a
    // fact⋈dim join on the bucketed source column skips whole buckets
    // at execution time — the wire face must not silently lose the
    // witness the local face pins (PartitionTransformSpec)
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "fact")
      IceLite.createOrReplaceTransformed(ref,
        (1L to 4000L).map(i => (i % 40, i, i * 0.5)).toDF("key", "seq", "v"),
        Seq(graft.icelite.PartitionField("key_bucket", "bucket", "key", 8)))
      val all = IceLite.readManifest(ref).current.files.size
      val dimDir = graft.GraftTmp.dir("rest_dpp_dim").toString
      spark.range(0, 40).selectExpr("id AS dkey",
        "CASE WHEN id = 7 THEN 'keep' ELSE 'drop' END AS grp")
        .write.mode("overwrite").parquet(dimDir)
      val fact = spark.table(s"$cat.src.fact")
      val dim = spark.read.parquet(dimDir).filter($"grp" === "keep")
      val n = fact.join(dim, fact("key") === dim("dkey")).count()
      assert(n == 100L, s"join rows: $n")
      val planned = IceLiteSource.lastPlannedFiles
      assert(planned.nonEmpty && planned.size < all,
        s"REST DPP planned ${planned.size}/$all files")
      // all planned files sit in ONE bucket dir — key 7's (the same
      // dir a pushed static equality selects)
      val dppDirs = planned.flatMap(_.split('/')
        .find(_.startsWith("key_bucket="))).distinct
      spark.sql(s"SELECT count(*) FROM $cat.src.fact WHERE key = 7").collect()
      val staticDirs = IceLiteSource.lastPlannedFiles.flatMap(_.split('/')
        .find(_.startsWith("key_bucket="))).distinct
      assert(dppDirs.size == 1 && dppDirs == staticDirs,
        s"dpp=$dppDirs static=$staticDirs")
    }
  }

  test("bucket SPJ works through the REST attachment (d90 over the wire)") {
    // the attachment implements FunctionCatalog too, so Catalyst can
    // resolve the reported bucket(n, col) partitioning against a
    // REST-loaded relation — two co-bucketed tables join with zero
    // exchanges exactly as on the owning catalog
    withServer { (wh, cat, _) =>
      IceLite.createOrReplaceTransformed(TableRef(wh, "src", "sa"),
        (0L until 2000L).map(k => (k, k * 2.0)).toDF("k", "va"),
        Seq(graft.icelite.PartitionField("k_bucket", "bucket", "k", 4)))
      IceLite.createOrReplaceTransformed(TableRef(wh, "src", "sb"),
        (0L until 2000L by 2).map(k => (k, k + 1.0)).toDF("bk", "vb"),
        Seq(graft.icelite.PartitionField("bk_bucket", "bucket", "bk", 4)))
      val broadcastWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = spark.sql(
          s"""SELECT COUNT(*) AS n, CAST(SUM(va * vb) AS DOUBLE) AS s
              FROM $cat.src.sa JOIN $cat.src.sb ON k = bk""")
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.split("SortMergeJoin").last
          .contains("Exchange hashpartitioning"),
          s"REST bucket SPJ must not shuffle its inputs:\n$plan")
        val r = q.head()
        val expect = (0L until 2000L by 2).map(k => k * 2.0 * (k + 1.0)).sum
        assert(r.getLong(0) == 1000L && r.getDouble(1) == expect)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastWas)
      }
    }
  }

  test("REST reads equal direct reads; metadata travels over HTTP") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v"), statsCols = Seq("k"))
      val before = srv.requests.get
      val got = spark.sql(s"SELECT k, v FROM $cat.src.t WHERE k <= 3 ORDER BY k")
        .as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)))
      assert(srv.requests.get > before, "metadata must travel over HTTP")
      // manifest stats pruning survives the wire: the spooled manifest
      // carries fileStats, so the scan prunes exactly like the direct path
      val plan = spark.sql(s"SELECT k FROM $cat.src.t WHERE k = 42")
        .queryExecution.executedPlan.toString
      assert(plan.contains("prunedOn=k"), s"stats pruning lost over REST: $plan")
      assert(spark.sql(s"SHOW TABLES IN $cat.src").collect()
        .map(_.getString(1)).toSeq == Seq("t"))
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSeq.contains("src"))
    }
  }

  test("partitioned tables and live MoR sidecars read intact over REST") {
    withServer { (wh, cat, _) =>
      IceLite.createOrReplacePartitioned(TableRef(wh, "src", "p"),
        (1L to 90L).map(k => (k, (k % 3).toString)).toDF("k", "p"), "p")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p").head.getLong(0) == 90)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p WHERE p = '1'")
        .head.getLong(0) == 30)
      // eq-delete-live CDC table: the wire manifest carries the sidecar
      // refs; the spool's deletes/ mount resolves them
      val m = TableRef(wh, "src", "m")
      IceLite.createOrReplace(m, (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s"))
      IceLite.deleteByKeysMoR(spark, m, Seq(3L, 5L).toDF("k"), Seq("k"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.m").head.getLong(0) == 8)
      assert(spark.sql(s"SELECT s FROM $cat.src.m WHERE k = 4").head.getString(0) == "r4")
    }
  }

  test("a new commit is visible on the next query (version-keyed spool)") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 1)
      IceLite.append(ref, Seq((2L, "b")).toDF("k", "s"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 2,
        "the REST face must re-resolve the current version per query")
    }
  }

  test("INSERT INTO commits through the REST protocol; both faces see it") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
      val req0 = srv.requests.get
      spark.sql(s"INSERT INTO $cat.src.t VALUES (2, 'remote')")
      assert(srv.requests.get > req0, "the commit must cross HTTP")
      // the OWNING engine sees the remote append (one shared history)
      assert(IceLite.read(spark, ref).as[(Long, String)].collect().toMap ==
        Map(1L -> "a", 2L -> "remote"))
      // and a subsequent LOCAL append is seen back through REST —
      // concurrent writers share one CAS lineage
      IceLite.append(ref, Seq((3L, "local")).toDF("k", "s"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 3)
      val m = IceLite.readManifest(ref)
      assert(m.snapshots.map(_.operation).count(_ == "append") == 2)
    }
  }

  test("the wire is sharded (d77): a changed table ships pointer + delta segment, not O(files)") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((0L, 0.0)).toDF("k", "v"))
      (1 to 30).foreach(i =>
        IceLite.append(ref, Seq((i.toLong, i * 1.0)).toDF("k", "v")))
      // first attach spools the pointer and EVERY referenced segment
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 31)
      // an unchanged table costs ONE GET and no segment fetches
      val (req0, bytes0) = (srv.requests.get, srv.bytesSent.get)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 31)
      assert(srv.requests.get - req0 <= 2,
        s"unchanged table should cost ~1 GET, got ${srv.requests.get - req0}")
      // one append → the next load ships the new pointer + exactly the
      // ONE new delta segment; the legacy single-JSON of this table
      // (31 snapshots × cumulative file lists) is far bigger
      IceLite.append(ref, Seq((100L, 1.0)).toDF("k", "v"))
      val bytes1 = srv.bytesSent.get
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 32)
      val deltaBytes = srv.bytesSent.get - bytes1
      val fullLegacy = IceLite.manifestWireJson(IceLite.readManifest(ref)).length
      assert(deltaBytes < fullLegacy / 3,
        s"changed-table wire cost $deltaBytes should be O(pointer+delta), " +
          s"legacy full manifest is $fullLegacy")
      // legacy wire stays decodable for old attachments (?legacy=1)
      val legacyBody = new String(java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${srv.uri}/namespaces/src/tables/t?legacy=1")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      assert(legacyBody.contains("\"manifest\""),
        "?legacy=1 must serve the assembled single-JSON manifest")
    }
  }

  test("INSERT OVERWRITE, DELETE, UPDATE, MERGE commit through the REST protocol (d76)") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s"))
      // row-level DELETE: rewrite client-side, swap server-side
      spark.sql(s"DELETE FROM $cat.src.t WHERE k > 8")
      assert(IceLite.read(spark, ref).count() == 8)
      assert(IceLite.readManifest(ref).current.operation == "delete")
      // UPDATE
      spark.sql(s"UPDATE $cat.src.t SET s = 'updated' WHERE k = 3")
      assert(IceLite.read(spark, ref).filter($"s" === "updated").count() == 1)
      // MERGE (update + insert arms)
      Seq((3L, "merged"), (99L, "new")).toDF("k", "s")
        .createOrReplaceTempView("rest_merge_src")
      spark.sql(
        s"""MERGE INTO $cat.src.t tgt USING rest_merge_src src ON tgt.k = src.k
            WHEN MATCHED THEN UPDATE SET s = src.s
            WHEN NOT MATCHED THEN INSERT (k, s) VALUES (src.k, src.s)""")
      val got = IceLite.read(spark, ref).as[(Long, String)].collect().toMap
      assert(got(3L) == "merged" && got(99L) == "new" && got.size == 9)
      // INSERT OVERWRITE replaces the whole flat table in one snapshot
      spark.sql(s"INSERT OVERWRITE $cat.src.t VALUES (1, 'only')")
      assert(IceLite.read(spark, ref).as[(Long, String)].collect().toSeq ==
        Seq((1L, "only")))
      assert(IceLite.readManifest(ref).current.operation == "replace")
      // every rewrite above landed in the ONE shared lineage, and the
      // snapshots the remote engine committed say so
      assert(IceLite.readManifest(ref).snapshots.map(_.operation) ==
        Seq("create", "delete", "update", "merge", "replace"))
    }
  }

  test("partitioned DML over REST keeps the Hive layout and pruning (d76)") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "p")
      IceLite.createOrReplacePartitioned(ref,
        (1L to 90L).map(k => (k, (k % 3).toString)).toDF("k", "p"), "p")
      // remote append routes through the PARTITIONED commit path —
      // value dirs, not flat files (the round-7 advice bug)
      spark.sql(s"INSERT INTO $cat.src.p VALUES (1000, '1')")
      val m = IceLite.readManifest(ref)
      assert(m.current.partitionCols == Seq("p"),
        "remote append must not flip a partitioned table to flat layout")
      assert(m.current.files.forall(_.contains("p=")),
        s"files must stay in value dirs: ${m.current.files.filterNot(_.contains("p=")).take(3)}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p WHERE p = '1'")
        .head.getLong(0) == 31)
      // static partition overwrite replaces exactly one partition
      spark.sql(s"INSERT OVERWRITE $cat.src.p PARTITION (p='2') VALUES (7L)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p WHERE p = '2'")
        .head.getLong(0) == 1)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p").head.getLong(0) == 62)
      // dynamic overwrite replaces only the touched partitions
      spark.sql("SET spark.sql.sources.partitionOverwriteMode=dynamic")
      try spark.sql(s"INSERT OVERWRITE $cat.src.p VALUES (8, '2'), (9, '2')")
      finally spark.sql("SET spark.sql.sources.partitionOverwriteMode=static")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p WHERE p = '2'")
        .head.getLong(0) == 2)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.p WHERE p = '0'")
        .head.getLong(0) == 30, "untouched partitions must survive dynamic overwrite")
      // row-level rewrite keeps the layout (restage through value dirs)
      spark.sql(s"DELETE FROM $cat.src.p WHERE k = 9")
      val m2 = IceLite.readManifest(ref)
      assert(m2.current.partitionCols == Seq("p") &&
        m2.current.files.forall(_.contains("p=")))
    }
  }

  test("hidden-partition DML over REST: INSERT + row-level rewrites land the derived layout") {
    withServer { (wh, cat, _) =>
      // owner creates a bucket(4, k) table; the remote engine then runs
      // the full DML surface against it — every commit must keep the
      // spec and land derived dirs (d84 over the wire)
      val ref = TableRef(wh, "src", "ht")
      IceLite.createOrReplaceTransformed(ref,
        (0L to 19L).map(k => (k, s"u${k % 3}", k * 1.0)).toDF("k", "who", "v"),
        Seq(graft.icelite.PartitionField("k_bucket", "bucket", "k", 4)))

      def assertLayout(label: String): Unit = {
        val snap = IceLite.readManifest(ref).current
        assert(snap.partitionSpec.map(_.name) == Seq("k_bucket"),
          s"$label: spec lost over the wire (${snap.partitionSpec})")
        assert(snap.files.forall(_.contains("k_bucket=")),
          s"$label: files escaped the derived layout: ${snap.files}")
      }

      // remote INSERT derives dirs client-side, commits transformed
      spark.sql(s"INSERT INTO $cat.src.ht VALUES (100L, 'u9', 5.0)")
      assertLayout("insert")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src.ht").head.getLong(0) == 21L)
      // the landed bucket dir agrees with the engine API's derivation
      val viaApi = IceLite.readManifest(ref).current.files
      assert(viaApi.exists(_.contains(s"k_bucket=")), viaApi)

      // remote row-level DELETE / UPDATE / MERGE (ReplaceData over the
      // wire) restage through the spec and carry it in the commit
      spark.sql(s"DELETE FROM $cat.src.ht WHERE k % 5 = 0")
      assertLayout("delete")
      spark.sql(s"UPDATE $cat.src.ht SET v = v + 100 WHERE k % 2 = 1")
      assertLayout("update")
      Seq((1L, "u7", 0.5), (200L, "u7", 2.5)).toDF("k", "who", "v")
        .createOrReplaceTempView("ht_upd")
      spark.sql(s"""MERGE INTO $cat.src.ht t USING ht_upd s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET t.v = s.v, t.who = s.who
                    WHEN NOT MATCHED THEN INSERT (k, who, v) VALUES (s.k, s.who, s.v)""")
      assertLayout("merge")
      val got = spark.sql(
          s"SELECT who, v FROM $cat.src.ht WHERE k IN (1, 200) ORDER BY k")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("u7", 0.5), ("u7", 2.5)), got)

      // both faces agree, and transform pruning stays exact
      val local = IceLite.read(spark, ref).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val remote = spark.sql(s"SELECT k, v FROM $cat.src.ht")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(local == remote, "face divergence after remote transform DML")
      import graft.icelite.IceLite.SourceIn
      val pruned = IceLite.readTransformPruned(spark, ref,
        Seq(SourceIn("k", Seq(200L))), col("k") === 200L).count()
      assert(pruned == 1L)

      // INSERT OVERWRITE truncates through the transformed commit;
      // PARTITION clauses still refuse (derived values stay hidden)
      spark.sql(s"INSERT OVERWRITE $cat.src.ht VALUES (7L, 'u0', 1.0)")
      assertLayout("overwrite")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src.ht").head.getLong(0) == 1L)
      val e = intercept[Exception](spark.sql(
        s"INSERT OVERWRITE $cat.src.ht PARTITION (k_bucket=1) VALUES (9L, 'u1', 2.0)"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("hidden-partitioned") ||
        m.contains("PARTITION")), msgs(e).mkString(" | "))

      // remote DDL-create of a hidden-partition table: the spec
      // travels the wire and the first remote INSERT lands derived dirs
      spark.sql(s"""CREATE TABLE $cat.src.ht2 (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      spark.sql(s"INSERT INTO $cat.src.ht2 VALUES (1, 1.0), (2, 2.0)")
      val m2 = IceLite.readManifest(TableRef(wh, "src", "ht2")).current
      assert(m2.partitionSpec.map(_.name) == Seq("id_bucket") &&
        m2.files.nonEmpty && m2.files.forall(_.contains("id_bucket=")),
        s"remote transform DDL lost the spec: ${m2.partitionSpec} ${m2.files}")

      // remote transform CTAS: atomic publish carries the spec
      spark.sql(s"""CREATE TABLE $cat.src.ht3 PARTITIONED BY (bucket(2, id))
                    AS SELECT id, v FROM $cat.src.ht2""")
      val m3 = IceLite.readManifest(TableRef(wh, "src", "ht3")).current
      assert(m3.partitionSpec.map(_.name) == Seq("id_bucket") &&
        m3.files.nonEmpty && m3.files.forall(_.contains("id_bucket=")),
        s"remote transform CTAS lost the spec: ${m3.partitionSpec} ${m3.files}")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src.ht3").head.getLong(0) == 2L)
    }
  }

  test("every REST commit records committed-via=rest: transformed INSERT, copy-on-write UPDATE") {
    withServer { (wh, cat, _) =>
      spark.sql(s"""CREATE TABLE $cat.src.via (k BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, k))""")
      val ref = TableRef(wh, "src", "via")
      def via(label: String): Unit =
        assert(IceLite.readManifest(ref).current.summary
          .get("committed-via").contains("rest"), label)
      spark.sql(s"INSERT INTO $cat.src.via VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      assert(IceLite.readManifest(ref).current.operation == "append")
      via("transformed INSERT")
      spark.sql(s"UPDATE $cat.src.via SET v = v * 10 WHERE k = 2")
      assert(IceLite.readManifest(ref).current.operation == "update")
      via("copy-on-write UPDATE")
    }
  }

  test("atomic CTAS / REPLACE TABLE and DROP TABLE over REST (d76)") {
    withServer { (wh, cat, _) =>
      val src = TableRef(wh, "src", "base")
      IceLite.createOrReplace(src, (1L to 50L).map(k => (k, k % 5)).toDF("k", "g"))
      // CTAS: staged into shared storage, published by one POST
      spark.sql(s"CREATE TABLE $cat.src.ct AS SELECT k, g FROM $cat.src.base WHERE k <= 10")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.ct").head.getLong(0) == 10)
      // the owning engine sees it — one shared warehouse
      assert(IceLite.read(spark, TableRef(wh, "src", "ct")).count() == 10)
      // CREATE refuses over an existing table
      intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.src.ct AS SELECT 1L AS k, 1L AS g"))
      // RTAS atomically swaps content
      spark.sql(s"CREATE OR REPLACE TABLE $cat.src.ct AS SELECT k, g FROM $cat.src.base WHERE k > 40")
      assert(spark.sql(s"SELECT min(k) FROM $cat.src.ct").head.getLong(0) == 41)
      // partitioned CTAS keeps value dirs
      spark.sql(s"CREATE TABLE $cat.src.pt PARTITIONED BY (g) AS " +
        s"SELECT k, CAST(g AS STRING) AS g FROM $cat.src.base")
      val pm = IceLite.readManifest(TableRef(wh, "src", "pt"))
      assert(pm.current.partitionCols == Seq("g") &&
        pm.current.files.forall(_.contains("g=")))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.pt WHERE g = '0'")
        .head.getLong(0) == 10)
      // DROP through the wire
      spark.sql(s"DROP TABLE $cat.src.ct")
      assert(!IceLite.tableExists(TableRef(wh, "src", "ct")))
    }
  }

  test("a concurrent local append rebases cleanly past a remote rewrite") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s"))
      // interleave: remote DELETE, local append, remote UPDATE — all
      // three land as successive snapshots of ONE lineage
      spark.sql(s"DELETE FROM $cat.src.t WHERE k <= 2")
      IceLite.append(ref, Seq((100L, "local")).toDF("k", "s"))
      spark.sql(s"UPDATE $cat.src.t SET s = 'x' WHERE k = 100")
      val m = IceLite.readManifest(ref)
      assert(m.snapshots.map(_.operation) ==
        Seq("create", "delete", "append", "update"))
      val got = IceLite.read(spark, ref).as[(Long, String)].collect().toMap
      assert(got.size == 9 && got(100L) == "x" && !got.contains(1L))
    }
  }

  test("streaming follows the live table through the version-watch (s24)") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
      val sink = s"rest_stream_${java.util.UUID.randomUUID.toString.take(8)}"
      val q = spark.readStream.table(s"$cat.src.t")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation",
          graft.GraftTmp.dir("rest_stream_ck").toString)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 2)
        // a LOCAL commit surfaces in the NEXT micro-batch: the stream
        // re-resolves the spool against the catalog service per batch
        IceLite.append(ref, Seq((3L, "c")).toDF("k", "s"))
        q.processAllAvailable()
        assert(spark.table(sink).count() == 3,
          "a mid-stream local append must reach the REST stream")
        // a REMOTE append (through the DML protocol) surfaces too
        spark.sql(s"INSERT INTO $cat.src.t VALUES (4, 'd')")
        q.processAllAvailable()
        assert(spark.table(sink).as[(Long, String)].collect().toMap ==
          Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
      } finally q.stop()
    }
  }

  test("catalog-server restart mid-stream: same incarnation resumes exactly-once (s24)") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
      val ck = graft.GraftTmp.dir("rest_restart_ck").toString
      val out = graft.GraftTmp.dir("rest_restart_out").toString
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src.t")
          .writeStream.format("parquet").option("path", out)
          .outputMode("append").option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      assert(spark.read.parquet(out).count() == 2)
      // KILL the catalog service, commit while it is down (shared
      // storage: local writers need no server), restart it on the
      // SAME port — the attachment's uri stays valid
      val port = new java.net.URI(srv.uri).getPort
      srv.stop()
      IceLite.append(ref, Seq((3L, "c")).toDF("k", "s"))
      val srv2 = restartServer(wh, port)
      try {
        drain()
        // exactly the delta landed: nothing re-read, nothing skipped
        assert(spark.read.parquet(out).as[(Long, String)].collect().toSeq
          .sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")),
          "restart must resume exactly-once")
        drain()
        assert(spark.read.parquet(out).count() == 3)
      } finally srv2.stop()
    }
  }

  test("catalog-server restart mid-stream: a re-created table fails loudly, never skips (s24)") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
      IceLite.append(ref, Seq((2L, "b")).toDF("k", "s"))
      val ck = graft.GraftTmp.dir("rest_reinc_ck").toString
      val out = graft.GraftTmp.dir("rest_reinc_out").toString
      def start() = spark.readStream.table(s"$cat.src.t")
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      start().awaitTermination() // checkpoint holds snapshotId = 2
      // server dies; the table is DROPPED and RE-CREATED past the
      // consumed id while it is down; server comes back on the same
      // port. The new incarnation's ids collide with the checkpoint —
      // resuming must fail loudly, not skip its snapshots 1-2.
      val port = new java.net.URI(srv.uri).getPort
      srv.stop()
      IceLite.listDir(Files.walk(ref.dir))(_.toSeq)
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      IceLite.createOrReplace(ref, Seq((10L, "x")).toDF("k", "s"))
      IceLite.append(ref, Seq((20L, "y")).toDF("k", "s"))
      IceLite.append(ref, Seq((30L, "z")).toDF("k", "s"))
      val srv2 = restartServer(wh, port)
      try {
        val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          start().awaitTermination()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(err).exists(_.contains("different incarnation")),
          s"expected the incarnation pin, got: ${msgs(err).mkString(" | ")}")
        assert(spark.read.parquet(out).as[(Long, String)].collect().toSeq
          .sorted == Seq((1L, "a"), (2L, "b")),
          "no new-incarnation row may leak through the old checkpoint")
      } finally srv2.stop()
    }
  }

  /** Bind-with-retry: the restarted server must claim the SAME port
    * the attachment's stored uri names; give the OS a beat to release
    * the listener. */
  private def restartServer(wh: String, port: Int): CatalogServer = {
    var last: Throwable = null
    (1 to 50).foreach { _ =>
      try return new CatalogServer(wh, port).start()
      catch { case e: java.net.BindException => last = e; Thread.sleep(100) }
    }
    throw last
  }

  test("concurrent remote appenders rebase through the server-side CAS") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((0L, "seed")).toDF("k", "s"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futures = (1 to 4).map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              (0 until 2).foreach(i => spark.sql(
                s"INSERT INTO $cat.src.t VALUES (${t * 10 + i}, 'w$t')"))
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
      // all 8 INSERTs landed as 8 append snapshots of ONE lineage —
      // losing claims rebased server-side, nothing was dropped
      assert(IceLite.read(spark, ref).count() == 9)
      val m = IceLite.readManifest(ref)
      assert(m.snapshots.count(_.operation == "append") == 8 &&
        m.current.rowCount == 9)
    }
  }

  test("a REST row-level DELETE rewrites only the matched file groups") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      // 4 separate appends -> 4 data files with disjoint key ranges
      IceLite.createOrReplace(ref,
        Seq((1L, "a"), (2L, "a")).toDF("k", "s").coalesce(1),
        statsCols = Seq("k"))
      IceLite.append(ref, Seq((10L, "b"), (11L, "b")).toDF("k", "s").coalesce(1))
      IceLite.append(ref, Seq((20L, "c"), (21L, "c")).toDF("k", "s").coalesce(1))
      IceLite.append(ref, Seq((30L, "d"), (31L, "d")).toDF("k", "s").coalesce(1))
      val before = IceLite.readManifest(ref).current.files.toSet
      assert(before.size == 4)
      // matches rows in exactly ONE file — the group-based rewrite's
      // runtime file filter must narrow the replace to that file
      spark.sql(s"DELETE FROM $cat.src.t WHERE k = 20")
      val after = IceLite.readManifest(ref).current.files.toSet
      assert((before -- after).size == 1,
        s"rewrite must swap exactly the matched file, removed ${(before -- after).size}")
      assert((before & after).size == 3,
        "untouched file groups must survive byte-identical")
      assert(IceLite.read(spark, ref).count() == 7)
    }
  }

  test("maintenance through the attachment (d80): compact, eq depth, expiry, rollback") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, s"r$k")).toDF("k", "s"))
      (1 to 4).foreach(i =>
        IceLite.append(ref, Seq((10L + i, "x")).toDF("k", "s")))
      IceLite.deleteByKeysMoR(spark, ref, Seq(3L, 14L).toDF("k"), Seq("k"))
      // eq depth over the wire sees the live sidecar
      val depth = spark.sql(
        s"CALL $cat.system.eq_live_depth(table => 'src.t', key_threshold => 1)").head()
      assert(depth.getLong(0) == 1 && depth.getLong(1) == 2 && depth.getBoolean(2))
      // REMOTE compaction: reads through the folding scan (deletes
      // materialized), restages into shared storage, server swaps
      val c = spark.sql(s"CALL $cat.system.compact(table => 'src.t')").head()
      assert(c.getLong(1) == 1, "compacted to one file")
      val m = IceLite.readManifest(ref)
      assert(m.current.operation == "replace" &&
        m.current.eqDeletes.isEmpty && m.current.deleteFiles.isEmpty,
        "remote compaction must materialize and clear the MoR sidecars")
      assert(m.current.summary.get("committed-via").contains("rest"))
      assert(IceLite.read(spark, ref).count() == 12)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 12)
      // metadata-only procedures run server-side: expiry + rollback
      val rolledTo = m.snapshots.map(_.id).max
      IceLite.append(ref, Seq((99L, "tail")).toDF("k", "s"))
      val rb = spark.sql(s"""CALL $cat.system.rollback_to_snapshot(
          table => 'src.t', snapshot_id => $rolledTo)""").head()
      assert(rb.getLong(1) == rolledTo)
      assert(IceLite.read(spark, ref).count() == 12)
      val expired = spark.sql(
        s"CALL $cat.system.expire_retain_last(table => 'src.t', retain_last => 1)")
        .head().getLong(0)
      assert(expired > 0)
      val versions = spark.sql(
        s"CALL $cat.system.expire_metadata(table => 'src.t', keep_last => 2)")
        .head().getLong(0)
      assert(versions > 0)
      assert(spark.sql(
        s"CALL $cat.system.gc_orphans(table => 'src.t', grace_ms => 0)") != null)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 12)
      // Iceberg's TIMESTAMP expire form binds over the wire too
      // (the reference's verbatim call, extract_load.py:171)
      IceLite.append(ref, Seq((100L, "ts")).toDF("k", "s"))
      val tsExp = spark.sql(s"CALL $cat.system.expire_snapshots('src.t', " +
        "TIMESTAMP '2101-01-01 00:00:00')").head().getLong(0)
      assert(tsExp >= 1L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 13)
    }
  }

  test("remote compact refuses a moved base — even a files-unchanged eq-delete") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, (1L to 6L).map(k => (k, s"r$k")).toDF("k", "s"))
      val http = java.net.http.HttpClient.newHttpClient()
      def getJson(path: String): String = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(srv.uri + path)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val version = (org.json4s.jackson.JsonMethods.parse(
        getJson("/namespaces/src/tables/t?wire=sharded")) \ "version")
        .values.toString.toLong
      // the "client" stages its rewrite of version V...
      val staged = IceLite.stageFor(ref,
        IceLite.read(spark, ref).repartition(1))
      // ...while a CDC eq-delete lands V+1: SAME data files, one new
      // sidecar. A file-set comparison would let the stale compact
      // through and silently clear the unread sidecar.
      IceLite.deleteByKeysMoR(spark, ref, Seq(2L).toDF("k"), Seq("k"))
      val body = s"""{"operation":"compact","added":[${
        staged.map("\"" + _ + "\"").mkString(",")}],"keepSorted":false,
        "expectedVersion":$version}"""
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${srv.uri}/namespaces/src/tables/t/commit"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 409,
        s"stale-base compact must be a conflict, got ${resp.statusCode()}: ${resp.body()}")
      assert(IceLite.read(spark, ref).count() == 5,
        "the eq-delete must survive the refused stale compact")
      // the real procedure's retry loop recomputes and converges
      spark.sql(s"CALL $cat.system.compact(table => 'src.t')")
      val m = IceLite.readManifest(ref)
      assert(m.current.eqDeletes.isEmpty && IceLite.read(spark, ref).count() == 5,
        "retried compaction must materialize the concurrent delete, not drop it")
    }
  }

  test("remote compact preserves sort layout; partitioned refuses toward owner") {
    withServer { (wh, cat, _) =>
      val sref = TableRef(wh, "src", "sorted")
      IceLite.createOrReplaceSorted(sref,
        (1L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", numFiles = 4)
      IceLite.appendSorted(sref, Seq((500L, 1.0)).toDF("k", "v"), "k", numFiles = 1)
      spark.sql(s"CALL $cat.system.compact(table => 'src.sorted', target_files => 2)")
      val sm = IceLiteSource.resolveSnap(sref, None)
      assert(sm.sortedBy.contains("k"),
        "remote compaction must keep the sort marker")
      assert(sm.files.size == 2)
      assert(IceLite.read(spark, sref).count() == 201)
      val pref = TableRef(wh, "src", "parted")
      IceLite.createOrReplacePartitioned(pref,
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
      val e = intercept[Exception](spark.sql(
        s"CALL $cat.system.compact(table => 'src.parted')").collect())
      assert(e.getMessage.toLowerCase.contains("owning catalog"),
        s"partitioned remote compact must refuse: ${e.getMessage.take(120)}")
    }
  }

  test("DROP + re-CREATE invalidates the spool (no stale-version resurrection)") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, Seq((1L, "old")).toDF("k", "s"))
      (1 to 5).foreach(i => IceLite.append(ref, Seq((i + 1L, "old")).toDF("k", "s")))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.t").head.getLong(0) == 6)
      // remote DROP + CTAS under the same name: the server's version
      // counter restarts at 1, below the spool's cached v6 — a
      // highest-wins spool would resurrect the dropped table
      spark.sql(s"DROP TABLE $cat.src.t")
      spark.sql(s"CREATE TABLE $cat.src.t AS SELECT 9L AS k, 'new' AS s")
      assert(spark.sql(s"SELECT k, s FROM $cat.src.t").as[(Long, String)]
        .collect().toSeq == Seq((9L, "new")))
      // drop/recreate by the OWNING engine (this attachment never
      // told): the stale-spool version check wipes and respools
      IceLite.listDir(java.nio.file.Files.walk(ref.dir))(_.toSeq)
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      IceLite.createOrReplace(ref, Seq((100L, "reborn")).toDF("k", "s"))
      assert(spark.sql(s"SELECT k, s FROM $cat.src.t").as[(Long, String)]
        .collect().toSeq == Seq((100L, "reborn")),
        "a foreign drop+recreate must not serve the stale spool")
    }
  }

  test("wire errors carry their types: view conflicts are not commit races") {
    withServer { (wh, cat, _) =>
      IceLite.createOrReplace(TableRef(wh, "src", "t"),
        Seq((1L, "a")).toDF("k", "s"))
      spark.sql(s"CREATE VIEW $cat.src.v AS SELECT k FROM $cat.src.t")
      // duplicate CREATE VIEW is a typed catalog error, NOT a
      // ConcurrentModificationException (which would invite retries)
      val e = intercept[Exception](
        spark.sql(s"CREATE VIEW $cat.src.v AS SELECT 1 AS one").collect())
      assert(!e.isInstanceOf[java.util.ConcurrentModificationException],
        s"view conflict must not masquerade as a commit race: $e")
      assert(e.getMessage.toUpperCase.contains("ALREADY_EXISTS") ||
        e.toString.contains("ViewAlreadyExists"), e.toString)
      // a permanent request error is NOT a retryable conflict
      // either: the server answers 400, not 409
      val p = TableRef(wh, "src", "p")
      IceLite.createOrReplacePartitioned(p,
        Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "p")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          spark.conf.get(s"spark.sql.catalog.$cat.uri") +
            "/namespaces/src/tables/p/commit"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"operation":"bogus"}""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 400,
        s"validation errors must be 400, got ${resp.statusCode()}: ${resp.body()}")
    }
  }

  test("table properties over the wire (d82): set on either face, visible on both") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, k * 2.0)).toDF("k", "v"))
      // attachment SETs → one POST, owner reads it from the manifest
      spark.sql(s"ALTER TABLE $cat.src.t SET TBLPROPERTIES ('pipeline.stage' = 'bronze')")
      assert(IceLite.readManifest(ref).properties
        .get("pipeline.stage").contains("bronze"))
      // owner SETs → attachment answers from the spooled pointer
      IceLite.alterSetProperties(ref, Map("table.owner" -> "etl"))
      val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.src.t")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("pipeline.stage").contains("bronze") &&
        shown.get("table.owner").contains("etl"))
      // attachment UNSETs → gone on both faces
      spark.sql(s"ALTER TABLE $cat.src.t UNSET TBLPROPERTIES ('pipeline.stage')")
      assert(!IceLite.readManifest(ref).properties.contains("pipeline.stage"))
      // the honored split key refuses garbage at DDL time, over the wire
      val e = intercept[Exception](spark.sql(
        s"ALTER TABLE $cat.src.t SET TBLPROPERTIES ('read.split.target-size' = 'nope')"))
      assert(e.getMessage.contains("positive byte count"))
    }
  }

  test("table RENAME through the attachment (d81): one POST, owner sees it, old name gone") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref, (1L to 20L).map(k => (k, k * 2.0)).toDF("k", "v"))
      IceLite.append(ref, Seq((21L, 42.0)).toDF("k", "v"))
      spark.sql(s"ALTER TABLE $cat.src.t RENAME TO src.t_renamed")
      // the rename ran SERVER-side (the catalog authority, as in real
      // Iceberg REST); the owner face sees the relocation with history
      val r2 = TableRef(wh, "src", "t_renamed")
      assert(!IceLite.tableExists(ref) && IceLite.tableExists(r2))
      assert(IceLite.readManifest(r2).snapshots.map(_.id) == Seq(1L, 2L))
      // the attachment resolves the new name; the old one is gone
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src.t_renamed")
        .head.getLong(0) == 21L)
      assertThrows[Exception](spark.sql(s"SELECT * FROM $cat.src.t").collect())
      // an occupied target maps to the typed conflict, and damages nothing
      IceLite.createOrReplace(TableRef(wh, "src", "occupied"),
        Seq((1L, 1.0)).toDF("k", "v"))
      assertThrows[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
        spark.sql(s"ALTER TABLE $cat.src.t_renamed RENAME TO src.occupied"))
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.src.t_renamed")
        .head.getLong(0) == 21L)
    }
  }

  test("flat CREATE TABLE, DROP NAMESPACE, RENAME VIEW over the wire") {
    withServer { (wh, cat, _) =>
      // flat CREATE TABLE: empty declared-schema manifest, SELECT
      // answers empty, INSERT lands the first data
      spark.sql(s"CREATE TABLE $cat.src.flat (k BIGINT, s STRING)")
      assert(spark.sql(s"SELECT * FROM $cat.src.flat").count() == 0)
      spark.sql(s"INSERT INTO $cat.src.flat VALUES (1, 'a')")
      assert(IceLite.read(spark, TableRef(wh, "src", "flat")).count() == 1)
      // RENAME VIEW through the service (link-then-delete, one
      // winner) — the ViewCatalog API face, same as the owning
      // catalog (SQL ALTER VIEW RENAME is unwired in stock Spark for
      // both faces alike)
      spark.sql(s"CREATE VIEW $cat.src.v1 AS SELECT k FROM $cat.src.flat")
      val vcat = org.apache.spark.sql.graft.Bridge.catalogPlugin(spark, cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
      import org.apache.spark.sql.connector.catalog.Identifier
      vcat.renameView(Identifier.of(Array("src"), "v1"),
        Identifier.of(Array("src"), "v2"))
      assert(!IceLiteViews.exists(wh, "src", "v1") &&
        IceLiteViews.exists(wh, "src", "v2"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.v2").head.getLong(0) == 1)
      // DROP NAMESPACE: refuses while tables live, cascades on demand
      spark.sql(s"CREATE NAMESPACE $cat.tmpns")
      spark.sql(s"CREATE TABLE $cat.tmpns.x AS SELECT 1L AS k")
      intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.tmpns").collect())
      spark.sql(s"DROP NAMESPACE $cat.tmpns CASCADE")
      assert(!IceLite.listNamespaces(wh).contains("tmpns"))
    }
  }

  test("schema evolution over the wire (d79): ADD/DROP/RENAME COLUMN, widen") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        Seq((1, "a"), (2, "b")).toDF("k", "s"))
      // ADD COLUMN: metadata-only CAS commit through the service
      spark.sql(s"ALTER TABLE $cat.src.t ADD COLUMN note STRING")
      assert(spark.sql(s"SELECT note FROM $cat.src.t").collect()
        .forall(_.isNullAt(0)), "pre-evolution files null-fill")
      // the OWNING catalog sees the same evolution (one manifest)
      val owner = s"owner_${java.util.UUID.randomUUID.toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$owner",
        classOf[IceLiteCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$owner.warehouse", wh)
      assert(spark.sql(s"SELECT * FROM $owner.src.t").columns.contains("note"))
      // widen + rename + drop through the wire
      spark.sql(s"ALTER TABLE $cat.src.t ALTER COLUMN k TYPE BIGINT")
      spark.sql(s"ALTER TABLE $cat.src.t RENAME COLUMN s TO label")
      assert(spark.sql(s"SELECT label FROM $cat.src.t WHERE k = 1")
        .head.getString(0) == "a")
      spark.sql(s"ALTER TABLE $cat.src.t DROP COLUMN note")
      assert(!spark.sql(s"SELECT * FROM $cat.src.t").columns.contains("note"))
      // a remote INSERT writes the evolved shape
      spark.sql(s"INSERT INTO $cat.src.t VALUES (3L, 'c')")
      assert(spark.sql(s"SELECT label FROM $cat.src.t WHERE k = 3")
        .head.getString(0) == "c")
    }
  }

  test("missing tables and namespaces map to the standard errors") {
    withServer { (_, cat, _) =>
      val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.src.nope"))
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
      val e2 = intercept[Exception](spark.sql(s"SHOW TABLES IN $cat.missing"))
      assert(e2.getMessage.contains("SCHEMA_NOT_FOUND") ||
        e2.getMessage.toLowerCase.contains("namespace"))
    }
  }

  test("views defined by the owning engine are queryable through REST") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 100L).map(k => (k, (k % 5).toString)).toDF("k", "g"))
      // the OWNING catalog (a different alias) defines the dbt models
      val owner = s"owner_${java.util.UUID.randomUUID.toString.take(8)}"
      spark.conf.set(s"spark.sql.catalog.$owner",
        classOf[IceLiteCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$owner.warehouse", wh)
      // body uses RELATIVE names: the attachment must re-qualify them
      // through ITS OWN alias (the stored catalog name is not
      // registered on a real second engine)
      spark.sql(s"USE $owner.src")
      try {
        spark.sql("CREATE VIEW g_stats AS SELECT g, count(*) AS n FROM t GROUP BY g")
        spark.sql("CREATE VIEW busy AS SELECT g, n FROM g_stats WHERE n >= 20")
      } finally spark.sql("USE spark_catalog.default")
      // drop the owner alias entirely — the attachment is on its own
      spark.conf.unset(s"spark.sql.catalog.$owner")
      val got = spark.sql(s"SELECT g, n FROM $cat.src.busy ORDER BY g")
        .as[(String, Long)].collect().toSeq
      assert(got == Seq(("0", 20L), ("1", 20L), ("2", 20L), ("3", 20L), ("4", 20L)))
      assert(spark.sql(s"SHOW VIEWS IN $cat.src").collect()
        .map(_.getString(1)).sorted.toSeq == Seq("busy", "g_stats"))
      // a dbt re-run (CREATE OR REPLACE via the warehouse) flows through
      IceLiteViews.write(wh, "src", "busy", IceLiteViews.load(wh, "src", "busy")
        .get.copy(sql = "SELECT g, n FROM g_stats WHERE n > 1000"), replace = true)
      assert(spark.sql(s"SELECT * FROM $cat.src.busy").count() == 0)
    }
  }

  test("view DDL through the REST attachment (d78): create, replace, drop") {
    withServer { (wh, cat, _) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 40L).map(k => (k, (k % 4).toString)).toDF("k", "g"))
      // CREATE VIEW posts the definition; the server applies the same
      // one-winner claim the owning catalog uses
      spark.sql(s"CREATE VIEW $cat.src.v AS SELECT g, count(*) AS n " +
        s"FROM $cat.src.t GROUP BY g")
      assert(spark.sql(s"SELECT sum(n) FROM $cat.src.v").head.getLong(0) == 40)
      // the OWNING engine reads the remote-created view (shared _views/)
      assert(IceLiteViews.exists(wh, "src", "v"))
      // duplicate CREATE refuses; OR REPLACE swaps atomically
      intercept[Exception](
        spark.sql(s"CREATE VIEW $cat.src.v AS SELECT 1 AS one").collect())
      spark.sql(s"CREATE OR REPLACE VIEW $cat.src.v AS SELECT g FROM $cat.src.t WHERE g = '1'")
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.v").head.getLong(0) == 10)
      // a view name cannot shadow a table
      val e = intercept[Exception](
        spark.sql(s"CREATE VIEW $cat.src.t AS SELECT 1 AS one").collect())
      assert(e.getMessage.toUpperCase.contains("ALREADY_EXISTS") ||
        e.getMessage.toLowerCase.contains("table"))
      // DROP through the wire
      spark.sql(s"DROP VIEW $cat.src.v")
      assert(!IceLiteViews.exists(wh, "src", "v"))
    }
  }

  test("MoR update after RENAME COLUMN never mixes eras (fuzz seeds 41/97 pin)") {
    // Pre-fix: updateWhereMoR restaged rows read WITHOUT the rename
    // chain, materializing BOTH era names (old as null-padded
    // mergeSchema column) into one rewritten file — the remote face
    // then resolved the chain against the doubled schema and the
    // renamed column's values vanished. Raw reads now apply the chain,
    // so every rewrite restages era-visible names only.
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      val tbl = s"$cat.src.t"
      IceLite.createOrReplace(ref, Seq((1L, 0.5)).toDF("k", "v"))
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN c BIGINT")
      spark.sql(s"INSERT INTO $tbl (k, v, c) VALUES (14, 7.0, 0)")
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN c TO cc")
      // local raw append post-rename stores the NEW name physically:
      // the file set now spans both eras
      IceLite.append(ref, Seq((20L, 1.0, 5L)).toDF("k", "v", "cc"))
      IceLite.updateWhereMoR(spark, ref, "k % 6 = 2", Map("v" -> "v + 10"))
      val got = spark.sql(s"SELECT k, v, cc FROM $tbl ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSeq
      assert(got == Seq((1L, 0.5, null), (14L, 17.0, 0L), (20L, 11.0, 5L)),
        s"era mixing: $got")
      // the local face agrees
      val loc = IceLite.read(spark, ref).selectExpr("k", "v", "cc")
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSeq.sortBy(_._1)
      assert(loc == got, s"faces disagree: local $loc vs remote $got")
    }
  }

  test("metadata tables fold from the spool (d88 over the attachment)") {
    withServer { (wh, cat, srv) =>
      val ref = TableRef(wh, "src", "t")
      IceLite.createOrReplace(ref,
        (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(2))
      IceLite.append(ref,
        (101L to 150L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(1))
      // owner-side local catalog for the parity compare
      val own = s"own_${java.util.UUID.randomUUID.toString.take(6)}"
      spark.conf.set(s"spark.sql.catalog.$own", classOf[IceLiteCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$own.warehouse", wh)
      def rows(c: String, meta: String): Seq[String] =
        spark.sql(s"SELECT * FROM $c.src.`t$$$meta`")
          .collect().map(_.toString).sorted.toSeq
      Seq("history", "entries", "snapshots", "refs").foreach { meta =>
        assert(rows(cat, meta) == rows(own, meta),
          s"$$$meta diverges between attachment and owner")
      }
      // $manifests folds the spool's own segment copies — same shape
      // and counts, paths are spool-local
      val man = spark.sql(s"SELECT * FROM $cat.src.`t$$manifests`").collect()
      assert(man.nonEmpty && man.forall(r =>
        r.getString(0).startsWith("meta/") && r.getLong(1) > 0 &&
          r.getLong(3) >= 1))
      assert(man.map(_.getLong(2)).min == 1L)
      // a post-attach remote-visible commit surfaces in the next fold
      IceLite.append(ref, (151L to 160L).map(k => (k, k * 2.0)).toDF("k", "v"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.src.`t$$history`")
        .head.getLong(0) == 3L)

      // r13 (verdict task #6): the trio folds an EQ-LIVE manifest —
      // live equality-delete sidecars (plus a position tombstone),
      // the one manifest shape the folds had not seen. Parity must
      // hold attachment ≡ owner, and the data view stays logical.
      // position tombstone FIRST (a position delete on top of live
      // eq sidecars refuses — the rowCount ordering rule), eq second
      IceLite.deleteWhereMoR(spark, ref, "k % 50 = 11")
      IceLite.deleteByKeysMoR(spark, ref,
        (1L to 10L).toDF("k"), Seq("k"))
      val cur = IceLite.readManifest(ref).current
      assert(cur.eqDeletes.nonEmpty && cur.deleteFiles.nonEmpty,
        "fixture must carry BOTH live sidecar kinds")
      Seq("history", "entries", "snapshots", "refs").foreach { meta =>
        assert(rows(cat, meta) == rows(own, meta),
          s"$$$meta diverges between attachment and owner on an " +
            "eq-live table")
      }
      assert(spark.sql(s"SELECT * FROM $cat.src.`t$$manifests`")
        .collect().nonEmpty)
      // both faces read the same LOGICAL view through the sidecars
      val remote = spark.sql(s"SELECT sum(k) FROM $cat.src.t").head.getLong(0)
      val local = spark.sql(s"SELECT sum(k) FROM $own.src.t").head.getLong(0)
      val expect = (1L to 160L)
        .filter(k => k > 10 && k % 50 != 11).sum
      assert(remote == expect && local == expect,
        s"eq-live logical view: remote=$remote local=$local expect=$expect")
    }
  }
}
