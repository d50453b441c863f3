package graft.perfbench

import java.nio.file.{Files, Path}
import graft.job.{ExtractJob, ScalingBench}

/** `warc_ingest`: gzip WARC segments, several per core, through
  * `ExtractJob.runWarc` into a fresh snapshot root. One op = one
  * ingest of every segment (a single commit). The traced run adds the
  * single-thread extraction-layer probe, a cycle of incremental commits
  * and the local[1] / local[cores] scaling pair. */
object WarcIngest {
  val SegmentsPerCore = 3
  val DocsPerSegment = 700
  val WarmOps = 5
  /** Rows whose digest the ingest and the incremental cycle both print. */
  val SharedRows = 240

  def run(ctx: Ctx): Unit = {
    val seed = ctx.opts.seed
    val cores = ctx.opts.cores
    val segments = SegmentsPerCore * cores
    val rows = segments * DocsPerSegment
    val want = Gate.expected(seed, 0, rows)

    var warcDir: Path = null
    val base = ctx.setup(Ctx.SetupReps) { d =>
      warcDir = d.resolve("warc")
      Inputs.warcSegments(ctx.spark, seed, rows, segments, warcDir)
    }
    // JIT warm-up: a few ingests of the same input; the engine's job
    // planning (Catalyst, codegen) runs a few times per op and needs
    // several ops before C2 has compiled it
    val w0 = System.nanoTime()
    (1 to WarmOps).foreach { _ =>
      val warm = base.resolve("warm-out")
      ExtractJob.runWarc(ctx.spark, warcDir.toString, warm.toString)
      Gate.deleteTree(warm)
    }
    ctx.report("warmup_s") = ((System.nanoTime() - w0) / 1e9, "s")

    def ingest(root: Path): Unit = {
      ctx.call("job.ExtractJob.runWarc")(ExtractJob.runWarc(ctx.spark, warcDir.toString, root.toString))
    }
    def verify(root: Path): Unit = {
      val got = Gate.committedRows(ctx.spark, graft.job.SnapshotStore.dataDirs(root.toString))
      val v = Gate.check(got, want)
      ctx.attempted += v.checked + 1
      ctx.fail(v.failed, v.problems.mkString("; "))
      ctx.notes(s"digest_rows_0_$SharedRows") = Gate.sharedDigest(got, SharedRows)
    }

    ctx.loop(3) { i =>
      val root = base.resolve(s"out-$i")
      ctx.timed("op")(ingest(root))
      verify(root)
      Gate.deleteTree(root)
    }

    val opP50 = Stats.median(ctx.untraced("op"))
    ctx.report("ingest_docs_per_s") = (rows / opP50, "docs/s")
    ctx.layers("ingest_docs_per_s") = rows / opP50

    if (ctx.opts.trace) {
      val n = ctx.tracedCycles.toDouble
      val span = "job.ExtractJob.runWarc"
      val agg = ctx.probe.agg(span)
      val site = ctx.probe.siteSeconds
      for (s <- Seq("write", "lineage", "artifacts", "events"))
        ctx.layers(s"commit.${s}_s") = site.getOrElse(s"$span|$s", 0.0) / n
      ctx.layers("commit.shuffle_write_bytes") = agg.shuffleWrite / n
      val segs = graft.sources.Warc.listSegments(ctx.spark, warcDir.toString).map(u => Path.of(java.net.URI.create(u)))
      ctx.probing(LayerProbe.run(ctx, segs))
      IncrementalCommits.traceRun(ctx, base.resolve("incremental"))
      scaling(ctx, base, warcDir)
    }
  }

  /** The same input at local[1] and local[cores], each beside a pure-CPU
    * calibration job, so platform drift shows next to the figure. */
  private def scaling(ctx: Ctx, base: Path, warcDir: Path): Unit = {
    val cores = ctx.opts.cores
    def level(n: Int): (Double, Double) = {
      val spark = ctx.session(n)
      val root = base.resolve(s"scale-$n")
      val t0 = System.nanoTime()
      ExtractJob.runWarc(spark, warcDir.toString, root.toString)
      val t = (System.nanoTime() - t0) / 1e9
      Gate.deleteTree(root)
      (t, ScalingBench.calibrateOnce(spark, cores))
    }
    val (t1, c1) = level(1)
    val (tn, cn) = level(cores)
    ctx.layers("scaling_eff") = (t1 / tn) / cores
    ctx.layers("platform_ceiling_eff") = (c1 / cn) / cores
  }
}
