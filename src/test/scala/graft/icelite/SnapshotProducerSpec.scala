package graft.icelite

import org.scalatest.funsuite.AnyFunSuite

/** The snapshot producer's carry rules ([[Snapshot.next]]), without
  * Spark: a commit states only its delta; the layout and the live
  * sidecars are inherited, fresh snapshots start from
  * [[Snapshot.empty]], and `parentId` is left for commitCAS to stamp
  * unless the commit declares it. */
class SnapshotProducerSpec extends AnyFunSuite {
  private val (a, b, c) = ("data/t/a.parquet", "data/t/b.parquet", "data/t/c.parquet")
  private val spec = Seq(PartitionField("k_bucket", "bucket", "k", 4))
  private val posDelete = "deletes/p/0.parquet"
  private val base = Snapshot(7L, 1000L, "delete-mor", Seq(a, b), 15L,
    fileStats = Map(a -> Seq(ColStats("k", 1, 5)), b -> Seq(ColStats("k", 6, 9))),
    sortedBy = Some("k"), summary = Map("wap.base" -> "3"),
    fileRows = Map(a -> 10L, b -> 6L), deleteFiles = Seq(posDelete),
    partitionSpec = spec,
    eqDeletes = Seq(EqDelete("deletes/e/0.parquet", Seq("k"), 6L)),
    parentId = Some(6L), sidecarDead = Map(posDelete -> Map(a -> 1L)))
  private val cStats = Map(c -> Seq(ColStats("k", 10, 12)))

  test("an append keeps the layout, the live sidecars and base.files as a prefix") {
    val n = base.next(8L, "append", added = Seq(c), addedRows = Map(c -> 4L),
      addedStats = cStats)
    assert(n.id == 8L && n.operation == "append")
    assert(n.files == Seq(a, b, c) && n.files.startsWith(base.files))
    assert(n.rowCount == 19L)
    assert(n.fileRows == base.fileRows + (c -> 4L))
    assert(n.fileStats == base.fileStats ++ cStats)
    assert(n.partitionCols == base.partitionCols && n.partitionSpec == spec &&
      n.sortedBy == Some("k"))
    assert(n.deleteFiles == base.deleteFiles && n.eqDeletes == base.eqDeletes &&
      n.sidecarDead == base.sidecarDead)
    assert(n.summary.isEmpty, "the summary is per commit, never inherited")
  }

  test("a rewrite drops the removed files' stats and rows, keeping the layout") {
    val n = base.next(8L, "replace", removed = Set(a), removedRows = 10L,
      added = Seq(c), addedRows = Map(c -> 4L), addedStats = cStats)
    assert(n.files == Seq(b, c))
    assert(n.rowCount == 9L)
    assert(n.fileRows == Map(b -> 6L, c -> 4L))
    assert(n.fileStats.keySet == Set(b, c))
    assert(n.partitionSpec == spec && n.sortedBy == Some("k"))
  }

  test("a delta that changes no files returns the base's own instances") {
    val sidecar = "deletes/q/0.parquet"
    val n = base.next(8L, "delete-mor", removedRows = 2L,
      addedDeletes = Seq(sidecar), addedDead = Map(sidecar -> Map(b -> 2L)))
    // the segment writer's identity reuse needs these exact instances
    assert(n.files eq base.files)
    assert(n.fileStats eq base.fileStats)
    assert(n.fileRows eq base.fileRows)
    assert(n.rowCount == 13L)
    assert(n.deleteFiles == Seq(posDelete, sidecar))
    assert(n.sidecarDead == base.sidecarDead + (sidecar -> Map(b -> 2L)))
    assert(n.eqDeletes == base.eqDeletes)
  }

  test("a fresh snapshot carries no sidecars and no sort marker unless stated") {
    val f = Snapshot.empty.next(1L, "create", added = Seq(c),
      addedRows = Map(c -> 4L), addedStats = cStats)
    assert(f.files == Seq(c) && f.rowCount == 4L && f.fileRows == Map(c -> 4L))
    assert(f.fileStats == cStats)
    assert(f.deleteFiles.isEmpty && f.eqDeletes.isEmpty && f.sidecarDead.isEmpty)
    assert(f.sortedBy.isEmpty && f.partitionCols.isEmpty && f.partitionSpec.isEmpty)
    assert(f.summary.isEmpty && f.parentId.isEmpty)
    val stated = Snapshot.empty.next(2L, "replace", added = Seq(c),
      addedRows = Map(c -> 4L), sortedBy = Some("k"), partitionSpec = spec)
    assert(stated.sortedBy == Some("k") && stated.partitionSpec == spec)
    assert(stated.deleteFiles.isEmpty && stated.eqDeletes.isEmpty)
  }

  test("parentId stays None for stampParents unless the commit declares it") {
    assert(base.parentId.contains(6L))
    assert(base.next(8L, "append", added = Seq(c)).parentId.isEmpty,
      "the base's own parent must not leak into the next snapshot")
    assert(base.next(8L, "rollback", summary = base.summary,
      parentId = Some(3L)).parentId.contains(3L))
    // end to end through commitCAS: ordinary commits are stamped with
    // the pre-commit head, a rollback keeps the target it declared
    val wh = graft.GraftTmp.dir("producer_wh").toString
    IceLite.createNamespace(wh, "ns")
    val ref = TableRef(wh, "ns", "t")
    IceLite.createEmptyPartitioned(ref, "v BIGINT, k STRING", Seq("k"))
    IceLite.deletePartitions(ref, Map("k" -> Set("a")))
    IceLite.deletePartitions(ref, Map("k" -> Set("b")))
    IceLite.rollback(ref, 2L)
    val m = IceLite.readManifest(ref)
    assert(m.snapshots.map(s => s.id -> s.parentId).toMap ==
      Map(1L -> None, 2L -> Some(1L), 3L -> Some(2L), 4L -> Some(2L)))
    assert(m.current.operation == "rollback" && m.current.partitionCols == Seq("k"))
  }
}
