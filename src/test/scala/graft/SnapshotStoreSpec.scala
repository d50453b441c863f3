package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.job.{PartitionLineage, Snapshot, SnapshotStore}

/** Pure (no-Spark) tests of the manifest codec: the committed byte
  * format, render → decode round trips, and the defaults older
  * manifests decode to.
  */
class SnapshotStoreSpec extends AnyFunSuite with TempRoots {

  private def tempRoot(): String = tempRoot("snapshot-store-spec")

  private val tricky = "q\"uote\\slash\u0001ctl"

  test("a committed manifest has the pinned byte format") {
    val root = tempRoot()
    SnapshotStore.commit(root, Snapshot(1, 0, "graft-extract-4", "/store/data/snap-1",
      Seq(PartitionLineage(0, 3, 1, 1000, 2000), PartitionLineage(1, 2, 0, 1500, 2500)),
      5, Seq("/in/a.parquet", s"/in/$tricky.parquet")))
    assert(SnapshotStore.readManifest(root, 1) ==
      """{"sequence":1,"parent":0,"extraction_version":"graft-extract-4","routing":"strict",""" +
        """"replaces":0,"data_dir":"/store/data/snap-1","row_count":5,"partitions":[""" +
        """{"partition_id":0,"row_count":3,"error_count":1,"warc_ts_min":1000,"warc_ts_max":2000},""" +
        """{"partition_id":1,"row_count":2,"error_count":0,"warc_ts_min":1500,"warc_ts_max":2500}],""" +
        "\"input_files\":[\"/in/a.parquet\",\"/in/q\\\"uote\\\\slash\\u0001ctl.parquet\"]}")
    assert(SnapshotStore.currentSequence(root) == 1)
  }

  test("render then decode round-trips escaped paths, lineage and a compaction snapshot") {
    val root = tempRoot()
    val snaps = Seq(
      Snapshot(1, 0, "graft-extract-4", s"/store/$tricky/snap-1",
        Seq(PartitionLineage(0, 7, 2, -5, 1700000000000L), PartitionLineage(3, 4, 0, 10, 20)),
        11, Seq(s"/in/$tricky-a.parquet", "/in/b.parquet"), "routed"),
      Snapshot(2, 1, "graft-extract-4", "/store/data/snap-2", Nil, 0, Nil, "routed"),
      Snapshot(3, 2, "graft-extract-4", s"/store/$tricky/snap-3",
        Seq(PartitionLineage(0, 11, 2, -5, 1700000000000L)),
        11, Seq("/in/b.parquet", s"/in/$tricky-a.parquet"), "routed", replaces = 2))
    snaps.foreach(SnapshotStore.commit(root, _))
    assert(SnapshotStore.chain(root) == snaps)
    assert(SnapshotStore.committedInputFiles(root) == Set(s"/in/$tricky-a.parquet", "/in/b.parquet"))
    assert(SnapshotStore.chainIdentity(root, snaps) == (Some("routed"), Some("graft-extract-4")))
  }

  test("a manifest without routing, replaces or input_files decodes to strict, 0 and empty") {
    val root = tempRoot()
    // field order differs from the renderer's: the partitions array,
    // with its own row_count, comes before the snapshot's row_count
    Files.createDirectories(Path.of(root, "snapshots"))
    Files.write(Path.of(root, "snapshots", "v1.json"),
      ("""{"sequence":1,"parent":0,"extraction_version":"graft-extract-1",""" +
        """"data_dir":"/store/data/snap-1","partitions":[{"partition_id":0,"row_count":2,""" +
        """"error_count":0,"warc_ts_min":1,"warc_ts_max":2}],"row_count":9}""").getBytes(UTF_8))
    Files.write(Path.of(root, "version-hint.text"), "1".getBytes(UTF_8))
    val Seq(s) = SnapshotStore.chain(root)
    assert(s == Snapshot(1, 0, "graft-extract-1", "/store/data/snap-1",
      Seq(PartitionLineage(0, 2, 0, 1, 2)), 9, Nil, "strict", 0))
    assert(SnapshotStore.chainIdentity(root, Seq(s)) == (Some("strict"), Some("graft-extract-1")))
  }
}
