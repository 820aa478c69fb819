package graft.icelite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The sharded manifest layout: commit bytes must scale with the
  * DELTA, not the table history — the #1 "would it survive 100×"
  * property of the metadata layer. Pointer files carry no file
  * paths; appends extend a segment chain by one delta segment;
  * expireMetadata sweeps unreachable segments. */
class ManifestShardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRef(): TableRef = {
    val wh = graft.GraftTmp.dir("shard_wh").toString
    IceLite.createNamespace(wh, "src")
    TableRef(wh, "src", s"t_${java.util.UUID.randomUUID.toString.take(8)}")
  }

  private def segFiles(ref: TableRef): Seq[Path] = {
    val meta = ref.dir.resolve("meta")
    if (!Files.exists(meta)) Nil
    else IceLite.listDir(Files.list(meta))(_
      .filter(_.getFileName.toString.startsWith("seg-")).toSeq)
  }

  private def latestPointer(ref: TableRef): Path =
    IceLite.listDir(Files.list(ref.dir))(_
      .filter(_.getFileName.toString.startsWith("manifest.v"))
      .toSeq.maxBy(_.getFileName.toString))

  test("append commits write one delta segment; history segments are immutable") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, (1L to 10L).map(k => (k, k * 2.0)).toDF("k", "v"),
      statsCols = Seq("k"))
    val afterCreate = segFiles(ref).map(p => p -> Files.size(p)).toMap
    var lastCount = afterCreate.size
    (1 to 5).foreach { i =>
      IceLite.append(ref,
        Seq((100L + i, 1.0)).toDF("k", "v"), statsCols = Seq("k"))
      val now = segFiles(ref)
      assert(now.size == lastCount + 1,
        s"append $i should add exactly ONE segment, went $lastCount -> ${now.size}")
      lastCount = now.size
    }
    // every pre-existing segment is still there, byte-identical
    afterCreate.foreach { case (p, sz) =>
      assert(Files.exists(p) && Files.size(p) == sz,
        s"history segment $p was rewritten by an append")
    }
    // and the assembled view is intact
    assert(IceLite.read(spark, ref).count() == 15)
    val m = IceLite.readManifest(ref)
    assert(m.current.files.size == m.current.fileRows.size)
  }

  test("commits that leave the file set unchanged write no segment") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v"),
      statsCols = Seq("k"))
    def segmentsWritten(commit: => Snapshot): Int = {
      val before = segFiles(ref).size
      commit
      segFiles(ref).size - before
    }
    assert(segmentsWritten(IceLite.append(ref,
      (21L to 30L).map(k => (k, k * 1.0)).toDF("k", "v"), statsCols = Seq("k"))) == 1)
    // MoR deletes add a sidecar, analyze adds a summary, rollback
    // restores an earlier file set: each reuses an existing chain
    assert(segmentsWritten(IceLite.deleteWhereMoR(spark, ref, "k = 3")) == 0)
    assert(segmentsWritten(IceLite.deleteWhereMoR(spark, ref, "k = 25")) == 0)
    val beforeUpdate = IceLite.readManifest(ref).currentSnapshotId
    assert(segmentsWritten(IceLite.analyze(spark, ref, Seq("k"))) == 0)
    assert(segmentsWritten(IceLite.updateWhereMoR(spark, ref, "k = 7",
      Map("v" -> "-1.0"))) == 1)
    assert(segmentsWritten(IceLite.rollback(ref, beforeUpdate)) == 0)
    assert(IceLite.read(spark, ref).count() == 28)
    assert(segmentsWritten(IceLite.compact(spark, ref)) == 1)
    assert(IceLite.read(spark, ref).count() == 28)
  }

  test("pointer files carry no data-file paths (commit serialization is O(delta))") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, (1L to 50L).map(k => (k, s"p$k")).toDF("k", "s"))
    (1 to 3).foreach(i => IceLite.append(ref, Seq((1000L + i, "x")).toDF("k", "s")))
    val ptr = Files.readString(latestPointer(ref))
    assert(!ptr.contains("data/"),
      "the pointer must reference segments, never data files inline")
    assert(ptr.contains("\"layout\" : \"seg1\""))
    // the delta segment of the last append holds ONLY that append's files
    val m = IceLite.readManifest(ref)
    val newest = segFiles(ref).maxBy(p => Files.getLastModifiedTime(p).toMillis)
    val segJson = Files.readString(newest)
    val lastAdded = m.current.files.diff(
      m.snapshots.sortBy(_.id).dropRight(1).last.files)
    assert(lastAdded.nonEmpty && lastAdded.forall(segJson.contains),
      "delta segment must hold the appended files")
    val older = m.snapshots.sortBy(_.id).head.files
    assert(older.forall(f => !segJson.contains(f)),
      "delta segment must NOT repeat historical files")
  }

  test("pointer size stays flat as the table grows (chains share history)") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
    val sizes = (1 to 12).map { i =>
      IceLite.append(ref, Seq((i + 1L, "b")).toDF("k", "s"))
      Files.size(latestPointer(ref))
    }
    // each commit adds one snapshot (pointer grows O(snapshots)) and
    // one chain entry; it must NOT grow with total file count beyond
    // that — growth per commit is a small near-constant, not a
    // re-serialization of history
    val growth = sizes.sliding(2).map(w => w(1) - w(0)).toSeq
    assert(growth.max <= 2 * growth.min + 256,
      s"pointer growth accelerating (history re-serialized?): $growth")
  }

  test("replace/compact rewrites fall back to one merged segment; reads agree") {
    val ref = freshRef()
    IceLite.createOrReplace(ref,
      (1L to 40L).map(k => (k, k * 1.0)).toDF("k", "v"), statsCols = Seq("k"))
    (1 to 4).foreach(i =>
      IceLite.append(ref, Seq((100L + i, 0.5)).toDF("k", "v"), statsCols = Seq("k")))
    val before = IceLite.read(spark, ref).as[(Long, Double)].collect().sortBy(_._1).toSeq
    IceLite.compact(spark, ref, targetFiles = 2)
    val after = IceLite.read(spark, ref).as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(after == before)
    // compacted snapshot's chain is fresh (its content shares nothing)
    val m = IceLite.readManifest(ref)
    assert(m.current.operation == "replace")
    assert(m.current.files.size == 2)
  }

  test("expireMetadata sweeps segments no manifest version references") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
    (1 to 8).foreach(i => IceLite.append(ref, Seq((i + 1L, "b")).toDF("k", "s")))
    // a pure expire reclaims nothing: the surviving snapshot's chain
    // still references every historical delta segment (shared history
    // is the point of the layout)
    IceLite.expireSnapshotsRetainLast(ref, 1)
    IceLite.expireMetadata(ref, keepLast = 1, segGraceMs = 0L)
    assert(segFiles(ref).size == 9, "chained history must survive expiry")
    // compaction gives the current snapshot a fresh merged chain; once
    // the old snapshots AND the old manifest versions referencing the
    // old chain are expired, its segments are unreachable — swept
    IceLite.compact(spark, ref, targetFiles = 1)
    IceLite.expireSnapshotsRetainLast(ref, 1)
    val segsBefore = segFiles(ref).size
    IceLite.expireMetadata(ref, keepLast = 1, segGraceMs = 0L)
    val segsAfter = segFiles(ref).size
    assert(segsAfter < segsBefore,
      s"expireMetadata should reclaim unreachable segments ($segsBefore -> $segsAfter)")
    assert(segsAfter == 1, s"only the merged chain should survive, got $segsAfter")
    // the surviving chain still reads
    assert(IceLite.read(spark, ref).count() == 9)
    // and every surviving segment is referenced by the surviving pointer
    val ptr = Files.readString(latestPointer(ref))
    segFiles(ref).foreach(p =>
      assert(ptr.contains(s"meta/${p.getFileName}"),
        s"swept table keeps unreferenced segment $p"))
  }

  test("segment sweep honors the grace window (in-flight commits survive)") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, Seq((1L, "a")).toDF("k", "s"))
    (1 to 3).foreach(i => IceLite.append(ref, Seq((i + 1L, "b")).toDF("k", "s")))
    IceLite.compact(spark, ref, targetFiles = 1)
    IceLite.expireSnapshotsRetainLast(ref, 1)
    val segsBefore = segFiles(ref).size
    // default grace: every unreferenced segment here is seconds old —
    // a sweep must NOT reclaim it (it could be another process's
    // staged-but-not-yet-claimed commit)
    IceLite.expireMetadata(ref, keepLast = 1)
    assert(segFiles(ref).size == segsBefore,
      "young unreferenced segments must survive the graced sweep")
    // past the grace window the same sweep reclaims them
    IceLite.expireMetadata(ref, keepLast = 1, segGraceMs = 0L)
    assert(segFiles(ref).size < segsBefore)
    assert(IceLite.read(spark, ref).count() == 4)
  }

  test("long chains cap and merge instead of growing unboundedly") {
    val ref = freshRef()
    IceLite.createOrReplace(ref, Seq((0L, "a")).toDF("k", "s"))
    (1 to 70).foreach(i => IceLite.append(ref, Seq((i.toLong, "b")).toDF("k", "s")))
    val ptr = Files.readString(latestPointer(ref))
    import org.json4s._
    val jv = org.json4s.jackson.JsonMethods.parse(ptr)
    val chains = (jv \ "snapshots").asInstanceOf[JArray].arr.map { s =>
      (s \ "segments").asInstanceOf[JArray].arr.length
    }
    assert(chains.max <= 65, s"chain exceeded the merge cap: max ${chains.max}")
    assert(IceLite.read(spark, ref).count() == 71)
  }

  test("time travel and stats pruning read identically through chains") {
    val ref = freshRef()
    IceLite.createOrReplace(ref,
      (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v"), statsCols = Seq("k"))
    val s1 = IceLite.readManifest(ref).currentSnapshotId
    IceLite.append(ref, (21L to 40L).map(k => (k, k * 1.0)).toDF("k", "v"),
      statsCols = Seq("k"))
    assert(IceLite.readAt(spark, ref, s1).count() == 20)
    assert(IceLite.read(spark, ref).count() == 40)
    // per-file stats survived the chain round-trip (pruning depends on it)
    val m = IceLite.readManifest(ref)
    assert(m.current.files.forall(f => m.current.fileStats.contains(f)),
      "chain assembly dropped per-file stats")
  }
}
