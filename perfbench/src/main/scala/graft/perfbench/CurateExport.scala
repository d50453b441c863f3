package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Extract
import graft.gen.PageGen
import graft.job.{CurateJob, ExportJob, ExtractJob}
import graft.ops.{Bpe, Dedup, Packing, TextStats}

/** `curate_export`: set-up commits one snapshot; each op is
  * `CurateJob.run` followed by `ExportJob.run` over it. Extraction does
  * no work in the op; dedup, connected components, BPE and packing do.
  * There is no warm-up: like `CurateCli` and `ExportCli`, the first op
  * runs in a process that has only extracted, and a run of
  * `--seconds` rarely fits a second op. */
object CurateExport {
  val Rows = 400

  def run(ctx: Ctx): Unit = {
    val seed = ctx.opts.seed
    val want = Gate.expected(seed, 0, Rows)
    // html docs with text: what curation and export start from
    val htmlDocs = (0 until Rows).count { i =>
      val d = Extract(PageGen.genRow(seed, i.toLong).page)
      d.error == null && d.payload_kind == "html" && d.extracted_text.nonEmpty
    }.toLong

    var extractRoot: Path = null
    var pages: Path = null
    val base = ctx.setup(Ctx.SetupReps) { d =>
      pages = d.resolve("pages")
      Inputs.pagesParquet(ctx.spark, seed, Rows, ctx.opts.cores, pages)
      extractRoot = d.resolve("extract")
      ExtractJob.run(ctx.spark, pages.toString, extractRoot.toString)
    }
    val v = Gate.check(Gate.committedRows(ctx.spark, graft.job.SnapshotStore.dataDirs(extractRoot.toString)), want)
    ctx.attempted += v.checked
    ctx.fail(v.failed, v.problems.mkString("; "))

    var firstFunnel: CurateJob.Funnel = null
    var firstExport: Map[String, ExportJob.ExportStats] = null
    ctx.loop(1) { i =>
      val curated = base.resolve(s"curated-$i"); val exported = base.resolve(s"export-$i")
      val (funnel, stats) = ctx.timed("op") {
        val f = ctx.timed("curate")(ctx.call("job.CurateJob.run")(
          CurateJob.run(ctx.spark, extractRoot.toString, curated.toString)))
        val s = ctx.timed("export")(ctx.call("job.ExportJob.run")(
          ExportJob.run(ctx.spark, extractRoot.toString, exported.toString)))
        (f, s)
      }
      if (firstFunnel == null) { firstFunnel = funnel; firstExport = stats }
      ctx.attempted += 4
      ctx.fail(if (funnel == firstFunnel) 0 else 1, s"funnel $funnel differs from this run's first $firstFunnel")
      ctx.fail(if (stats == firstExport) 0 else 1, s"export totals $stats differ from this run's first $firstExport")
      ctx.fail(if (funnel.extracted == Rows && funnel.html == htmlDocs) 0 else 1,
        s"funnel counts extracted=${funnel.extracted} html=${funnel.html}, want $Rows and $htmlDocs")
      val exportedDocs = stats.values.map(_.docs).sum
      ctx.fail(if (exportedDocs == htmlDocs) 0 else 1, s"export packed $exportedDocs docs, want $htmlDocs")
      Gate.deleteTree(curated); Gate.deleteTree(exported)
    }

    val f = firstFunnel
    ctx.notes("funnel") = s"extracted=${f.extracted} html=${f.html} deduped=${f.deduped} fuzzy=${f.fuzzyDeduped} " +
      s"semantic=${f.semanticDeduped} gated=${f.gated} kept=${f.kept}"
    ctx.notes("export") = firstExport.toSeq.sortBy(_._1).map { case (s, e) =>
      s"$s:docs=${e.docs},seqs=${e.seqs},tokens=${e.tokens}" }.mkString(" ")
    ctx.report("curate_s") = (Stats.median(ctx.untraced("curate")), "s")
    ctx.report("export_s") = (Stats.median(ctx.untraced("export")), "s")
    ctx.layers("curate_s") = Stats.median(ctx.untraced("curate"))
    ctx.layers("export_s") = Stats.median(ctx.untraced("export"))

    if (ctx.opts.trace) {
      val n = ctx.tracedCycles.toDouble
      val cur = ctx.probe.agg("job.CurateJob.run")
      ctx.layers("curate.jobs") = cur.jobs / n
      ctx.layers("curate.shuffle_write_bytes") = cur.shuffleWrite / n
      def ratio(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0
      ctx.layers("funnel.exact_keep") = ratio(f.deduped, f.html)
      ctx.layers("funnel.fuzzy_keep") = ratio(f.fuzzyDeduped, f.deduped)
      ctx.layers("funnel.gate_keep") = ratio(f.gated, f.semanticDeduped)
      ctx.layers("funnel.cap_keep") = ratio(f.kept, f.gated)
      ctx.layers("export.tokens") = firstExport.values.map(_.tokens).sum.toDouble
      probe(ctx, extractRoot)
      val snapDir = Path.of(graft.job.SnapshotStore.dataDirs(extractRoot.toString).head)
      QueryMix.traceRun(ctx, pages, snapDir, base.resolve("queries"))
    }
  }

  /** The dedup rungs and the export's BPE / packing steps, each called
    * on its own through the operators' public functions over the same
    * snapshot, so their counts and times can be read one by one. */
  private def probe(ctx: Ctx, extractRoot: Path): Unit = {
    val t = ctx.tracer
    val docs = ExtractJob.readExtracted(ctx.spark, extractRoot.toString)
      .filter(col("error").isNull && col("payload_kind") === "html" && length(col("extracted_text")) > 0)
      .select(col("url"), col("extracted_text"))
      .persist()
    try ctx.probing {
      val keep = Dedup.exact(docs, idCol = "url", textCol = "extracted_text").select(col("keep_id").as("url"))
      val deduped = docs.join(keep, Seq("url"), "left_semi").persist()
      val bands = Dedup.minhashBands(deduped, "url", "extracted_text", shingleN = 2)
      val cands = ctx.call("ops.Dedup.candidatePairs")(Dedup.candidatePairs(bands).persist())
      val nCand = ctx.call("ops.Dedup.candidatePairs")(cands.count())
      val nVer = ctx.call("ops.Dedup.jaccardVerify")(Dedup.jaccardVerify(cands, deduped,
        "url", "extracted_text", shingleN = 2, threshold = 0.6).count())
      ctx.layers("dedup.candidate_pairs") = nCand.toDouble
      ctx.layers("dedup.verified_pairs") = nVer.toDouble
      ctx.layers("dedup.verify_yield") = if (nCand > 0) nVer.toDouble / nCand else 0.0
      cands.unpersist(); deduped.unpersist()

      val text = docs.select(col("url"), col("extracted_text").as("text"))
      val words = text.select(explode(TextStats.lowerToks(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val wl: DataFrame = ctx.call("ops.Bpe.train") {
        val m = Bpe.encodeWordLengthsFromCounts(words).persist(); m.count(); m
      }
      val perDoc = ctx.call("ops.Bpe.count") {
        val p = Bpe.perDocTokenCounts(text.withColumn("doc_id", xxhash64(col("url"))), Seq("url", "doc_id"), "text", wl)
          .withColumn("grp", Packing.splitShardGrp(col("doc_id"), 1)).persist()
        p.count(); p
      }
      ctx.call("ops.Packing.pack")(Packing.packCountsGrouped(perDoc, "grp", "doc_id", "n_bpe", 2048L).count())
      ctx.layers("bpe.train_s") = t.total("ops.Bpe.train")
      ctx.layers("bpe.count_s") = t.total("ops.Bpe.count")
      ctx.layers("pack.s") = t.total("ops.Packing.pack")
      perDoc.unpersist(); wl.unpersist()
    } finally docs.unpersist()
  }
}
