package graft.perfbench

import java.nio.file.{Files, Path}
import graft.job.{ExtractJob, Snapshot, SnapshotStore}

/** Incremental commits, run once in `warc_ingest`'s traced run: the
  * pages parquet arrives as many small batch files; each is committed by
  * `ExtractJob.run` (file-level resume plus the row-level anti-join
  * against the growing committed url set). The cycle commits every batch
  * into a fresh root, then re-runs with no new input, compacts, and
  * reads the last few snapshots' changes. Fixed per-commit costs
  * dominate here; the extraction kernels do little. */
object IncrementalCommits {
  val Batches = 12
  val BatchRows = 20
  val ChangeWindow = 3

  def traceRun(ctx: Ctx, base: Path): Unit = ctx.probing {
    val seed = ctx.opts.seed
    val rows = Batches * BatchRows
    val want = Gate.expected(seed, 0, rows)
    val batches = Inputs.pagesParquet(ctx.spark, seed, rows, Batches, base.resolve("pages"))
    require(batches.size == Batches, s"expected $Batches batch files, got ${batches.size}")

    val inbox = base.resolve("in"); val root = base.resolve("out")
    Files.createDirectories(inbox)
    batches.foreach { b =>
      Files.createLink(inbox.resolve(b.getFileName), b)
      probeStore(ctx, base, root, b)
      val snap = ctx.timed("commit")(ctx.call("job.ExtractJob.run")(ExtractJob.run(ctx.spark, inbox.toString, root.toString)))
      ctx.attempted += 1
      ctx.fail(if (snap.rowCount == BatchRows) 0 else 1, s"batch commit wrote ${snap.rowCount} rows, want $BatchRows")
    }
    val noop = ctx.timed("resume_noop")(ctx.call("job.ExtractJob.run.noop")(ExtractJob.run(ctx.spark, inbox.toString, root.toString)))
    ctx.attempted += 1
    ctx.fail(noop.rowCount, s"re-run with no new input committed ${noop.rowCount} rows")
    val before = SnapshotStore.currentSequence(root.toString)
    val compacted = ctx.timed("compact")(ctx.call("job.ExtractJob.compact")(ExtractJob.compact(ctx.spark, root.toString)))
    val changed = ctx.call("job.ExtractJob.readChanges") {
      ExtractJob.readChanges(ctx.spark, root.toString, before - 1 - ChangeWindow, before - 1).count()
    }
    ctx.attempted += 2
    ctx.fail(if (changed == ChangeWindow * BatchRows) 0 else 1,
      s"readChanges over the last $ChangeWindow increments saw $changed rows, want ${ChangeWindow * BatchRows}")
    // after compaction the table reads one dir; it must hold every row, exactly
    val got = Gate.committedRows(ctx.spark, SnapshotStore.dataDirs(root.toString))
    val v = Gate.check(got, want)
    ctx.attempted += v.checked
    ctx.fail(v.failed, v.problems.mkString("; "))
    ctx.fail(if (compacted.rowCount == rows) 0 else 1, s"compaction wrote ${compacted.rowCount} rows, want $rows")
    ctx.notes(s"incremental_digest_rows_0_${WarcIngest.SharedRows}") = Gate.sharedDigest(got, WarcIngest.SharedRows)

    val commits = ctx.traced("commit")
    val L = ctx.layers
    L("commit_p50_s") = Stats.median(commits)
    Stats.tail(commits).foreach { case (p, v) =>
      L("commit_tail_s") = v
      ctx.notes("commit_tail") = s"p$p of ${commits.size} commits, 10 beyond it"
    }
    L("resume_noop_s") = ctx.tracer.total("job.ExtractJob.run.noop")
    L("compact_s") = ctx.tracer.total("job.ExtractJob.compact")
    val n = commits.size.toDouble
    val t = ctx.tracer
    L("snapshot.commit_s") = t.total("job.SnapshotStore.commit") / n
    L("snapshot.committed_inputs_s") = t.total("job.SnapshotStore.committedInputFiles") / n
    L("snapshot.manifests_read") = t.counter("snapshot.manifests_read") / n
    L("resume.antijoin_s") = t.total("resume.antijoin") / n
    L("compact.rewrite_bytes") = treeBytes(Path.of(compacted.dataDir)).toDouble
  }

  /** Before a traced commit: time the store's public calls the commit
    * makes, on the same chain. A commit walks every manifest three times
    * (chain identity, committed inputs, live data dirs), which is what
    * `snapshot.manifests_read` counts. */
  private def probeStore(ctx: Ctx, base: Path, root: Path, batch: Path): Unit = {
    val t = ctx.tracer
    val r = root.toString
    val seq = SnapshotStore.currentSequence(r)
    t.add("snapshot.manifests_read", 3.0 * seq)
    t.span("job.SnapshotStore.committedInputFiles")(SnapshotStore.committedInputFiles(r))
    val dirs = SnapshotStore.dataDirs(r)
    if (dirs.nonEmpty) {
      val spark = ctx.spark
      ctx.call("resume.antijoin") {
        spark.read.parquet(batch.toString).select("url")
          .join(spark.read.parquet(dirs: _*).select("url"), Seq("url"), "left_anti").count()
      }
    }
    // the manifest write + version flip, on a scratch store
    val scratch = base.resolve("probe-store").toString
    val next = SnapshotStore.currentSequence(scratch) + 1
    t.span("job.SnapshotStore.commit")(SnapshotStore.commit(scratch,
      Snapshot(next, next - 1, graft.core.ExtractionVersion.current, s"$scratch/data/snap-$next",
        Nil, 0L, Seq(batch.toString))))
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
}
