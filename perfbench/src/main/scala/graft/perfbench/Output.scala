package graft.perfbench

import java.nio.file.{Files, Paths}

/** Prints a run's figures: one `name = value unit` line per figure for
  * people, then the result object as the last line of stdout. */
object Output {

  /** End-to-end metrics, reported by every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "cpu_s_per_op" -> "s")

  /** Per-layer metrics, reported by every workload with tracing on; a
    * layer the workload does not reach reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "warc.inflate_s" -> "s", "warc.parse_s" -> "s", "warc.inflated_bytes" -> "bytes", "warc.records" -> "count",
    "html.tokenize_s" -> "s", "html.bytes" -> "bytes", "html.classify_s" -> "s",
    "html.fallback_tried" -> "count", "html.fallback_won" -> "count", "html.fallback_yield" -> "ratio",
    "extract.assemble_s" -> "s", "extract.alloc_bytes_per_doc" -> "bytes",
    "pdf.parse_s" -> "s", "pdf.docs" -> "count", "pdf.failed" -> "count",
    "extract.docs_html" -> "count", "extract.docs_pdf" -> "count", "extract.docs_unknown" -> "count",
    "extract.quarantined" -> "count",
    "commit.shuffle_write_bytes" -> "bytes", "commit.write_s" -> "s", "commit.lineage_s" -> "s",
    "commit.artifacts_s" -> "s", "commit.events_s" -> "s",
    "snapshot.commit_s" -> "s", "snapshot.committed_inputs_s" -> "s", "snapshot.manifests_read" -> "count",
    "resume.antijoin_s" -> "s", "compact.rewrite_bytes" -> "bytes",
    "curate.jobs" -> "count", "curate.shuffle_write_bytes" -> "bytes",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "ratio",
    "funnel.exact_keep" -> "ratio", "funnel.fuzzy_keep" -> "ratio", "funnel.gate_keep" -> "ratio",
    "funnel.cap_keep" -> "ratio",
    "bpe.train_s" -> "s", "bpe.count_s" -> "s", "pack.s" -> "s", "export.tokens" -> "count") ++
    QueryMix.Queries.map(_._1).flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count",
      s"query.$q.shuffle_bytes" -> "bytes", s"query.$q.driver_result_bytes" -> "bytes")) ++ Seq(
    "spark.task_skew" -> "ratio", "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes",
    "platform_ceiling_eff" -> "ratio", "scaling_eff" -> "ratio",
    "ingest_docs_per_s" -> "docs/s", "commit_p50_s" -> "s", "commit_tail_s" -> "s",
    "resume_noop_s" -> "s", "compact_s" -> "s", "curate_s" -> "s", "export_s" -> "s", "query_mix_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio")

  def print(ctx: Ctx, wall: Double, correct: Boolean): Unit = {
    val opts = ctx.opts
    val e2e: Map[String, Double] = {
      val ops = ctx.untraced("op")
      Map(
        "setup_s" -> (if (ctx.setupSeconds.isEmpty) 0.0 else Stats.median(ctx.setupSeconds.toSeq)),
        "op_p50_s" -> (if (ops.isEmpty) 0.0 else Stats.median(ops)),
        "cpu_s_per_op" -> ctx.cpuPerOp)
    }
    if (opts.trace) fillGeneric(ctx)

    def line(name: String, v: Double, unit: String): Unit = println(f"$name%-34s = ${Json.num(v)}%s $unit")
    println(s"# workload=${opts.workload} seed=${opts.seed} seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0} " +
      s"cores=${opts.cores} loop=closed clients=1 cycles=${ctx.cycles} ops=${ctx.untraced("op").size}+${ctx.traced("op").size}traced")
    EndToEnd.foreach { case (n, u) => line(n, e2e(n), u) }
    line("setup_first_s", ctx.setupSeconds.headOption.getOrElse(0.0), "s")
    line("peak_heap_mb", ctx.peakHeapMb, "MB")
    line("wall_s", wall, "s")
    ctx.report.foreach { case (n, (v, u)) => line(n, v, u) }
    ctx.notes.foreach { case (n, v) => println(f"$n%-34s = $v") }
    line("failed_ops", ctx.failed.toDouble, "count")
    line("attempted_ops", ctx.attempted.toDouble, "count")
    if (opts.trace) {
      PerLayer.foreach { case (n, u) => line(s"layer $n", ctx.layers.getOrElse(n, 0.0), u) }
      selfTimeTable(ctx)
      val spans = opts.work.getParent.resolve("traces")
      Files.createDirectories(spans)
      val f = spans.resolve(s"spans-${opts.workload}-s${opts.seed}.json")
      Files.writeString(f, ctx.tracer.spansJson)
      println(s"# spans written to ${Paths.get("").toAbsolutePath.relativize(f.toAbsolutePath)}")
    }

    val metrics =
      if (opts.trace) PerLayer.map { case (n, u) => (n, ctx.layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},"failed":${ctx.failed},"metrics":{$body}}""")
  }

  /** Per-layer figures every workload shares: Spark/JVM counts over the
    * traced ops, the single-thread extraction probe, tracing overhead. */
  private def fillGeneric(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val L = ctx.layers
    val n = math.max(1, ctx.tracedCycles).toDouble
    def put(k: String, v: Double): Unit = if (!L.contains(k)) L(k) = v
    put("warc.inflate_s", t.total("sources.Warc.gunzip"))
    put("warc.parse_s", t.total("sources.Warc.parseSegment"))
    val tok = t.total("html.ByteHtmlTokenizer.tokenize")
    val cls = t.total("html.DensityClassifier.classify")
    put("html.tokenize_s", tok)
    put("html.classify_s", cls)
    val whole = t.total("html.MainContentExtractor.extractBytes")
    put("extract.assemble_s", if (whole > 0) math.max(0.0, whole - tok - cls) else 0.0)
    put("pdf.parse_s", t.total("pdf.PdfParser.extract"))
    for (c <- Seq("warc.inflated_bytes", "warc.records", "html.bytes", "html.fallback_tried", "html.fallback_won",
                  "pdf.docs", "pdf.failed", "extract.docs_html", "extract.docs_pdf", "extract.docs_unknown",
                  "extract.quarantined"))
      put(c, t.counter(c))
    val tried = t.counter("html.fallback_tried")
    put("html.fallback_yield", if (tried > 0) t.counter("html.fallback_won") / tried else 0.0)
    val docs = t.counter("extract.docs_html")
    put("extract.alloc_bytes_per_doc", if (docs > 0) t.counter("extract.alloc_bytes") / docs else 0.0)
    put("spark.task_skew", ctx.probe.taskSkew)
    put("spark.gc_s", ctx.tracedGcMs / 1000.0 / n)
    put("spark.spill_bytes", ctx.probe.spans.values.map(_.spill).sum / n)
    // tracing overhead: traced ops against untraced ops of the same run,
    // leaving out the first, coldest cycle
    val on = ctx.traced("op"); val off = ctx.untraced("op").drop(ctx.firstCycleOps)
    if (on.nonEmpty && off.nonEmpty) {
      val d = Stats.median(on) - Stats.median(off)
      put("trace.overhead_s", d)
      put("trace.overhead_share", d / Stats.median(off))
    }
  }

  /** Self time per span name as a share of all span time in the run. */
  private def selfTimeTable(ctx: Ctx): Unit = {
    val self = ctx.tracer.selfTimes
    val total = self.values.sum
    if (total > 0) {
      println("# self-time share per span (traced cycles and probes):")
      self.toSeq.sortBy(-_._2).foreach { case (n, s) =>
        println(f"#   ${100 * s / total}%6.2f%%  ${s}%9.4f s  $n")
      }
    }
  }
}
