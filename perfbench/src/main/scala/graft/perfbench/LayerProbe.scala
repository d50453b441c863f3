package graft.perfbench

import java.nio.file.{Files, Path}
import graft.core.{Extract, Page}
import graft.html.{BlockBuilder, ByteHtmlTokenizer, DensityClassifier, MainContentExtractor}
import graft.pdf.PdfParser
import graft.sources.Warc

/** Single-threaded pass over the same input the job reads, with a span
  * around each call into an extraction layer's public functions:
  * inflate, WARC parse, byte tokenize, density classify, the whole
  * `extractBytes` (whose self time beyond tokenize + classify is the
  * assembly), and the PDF parser. Counts are recorded at the same
  * boundaries. All figures are for one pass. */
object LayerProbe {

  def run(ctx: Ctx, segments: Seq[Path]): Unit = {
    val t = ctx.tracer
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    t.span("probe.extraction") {
      segments.foreach { seg =>
        val raw = Files.readAllBytes(seg)
        val inflated = t.span("sources.Warc.gunzip")(Warc.gunzip(raw))
        t.add("warc.inflated_bytes", inflated.length.toDouble)
        val pages = t.span("sources.Warc.parseSegment")(Warc.parseSegment(inflated))
        t.add("warc.records", pages.size.toDouble)
        pages.foreach(p => page(ctx, p, tmx, tid))
      }
    }
  }

  private def page(ctx: Ctx, p: Page, tmx: com.sun.management.ThreadMXBean, tid: Long): Unit = {
    val t = ctx.tracer
    Extract.sniff(p.html) match {
      case "html" =>
        t.add("extract.docs_html", 1)
        t.add("html.bytes", p.html.length.toDouble)
        // the layers extractBytes runs, each timed on its own; the
        // whole call's time beyond them is the assembly
        val b = new BlockBuilder
        t.span("html.ByteHtmlTokenizer.tokenize")(ByteHtmlTokenizer.tokenize(p.html, b))
        val (blocks, _) = b.result()
        t.span("html.DensityClassifier.classify") {
          DensityClassifier.classify(blocks)
          val content = blocks.filter(_.isContent)
          val conf = if (content.isEmpty) 0.0 else content.map(_.score).sum / content.length
          if (conf < MainContentExtractor.ConfidenceThreshold) DensityClassifier.classifyRelaxed(blocks)
        }
        val a0 = tmx.getThreadAllocatedBytes(tid)
        val res = t.span("html.MainContentExtractor.extractBytes")(MainContentExtractor.extractBytes(p.html))
        t.add("extract.alloc_bytes", (tmx.getThreadAllocatedBytes(tid) - a0).toDouble)
        if (res.confidence < MainContentExtractor.ConfidenceThreshold || res.fallbackUsed)
          t.add("html.fallback_tried", 1)
        if (res.fallbackUsed) t.add("html.fallback_won", 1)
      case "pdf" =>
        t.add("pdf.docs", 1)
        t.add("extract.docs_pdf", 1)
        t.span("pdf.PdfParser.extract")(PdfParser.extract(p.html)) match {
          case Left(_) => t.add("pdf.failed", 1); t.add("extract.quarantined", 1)
          case Right(_) =>
        }
      case _ =>
        t.add("extract.docs_unknown", 1)
        t.add("extract.quarantined", 1)
    }
  }
}
