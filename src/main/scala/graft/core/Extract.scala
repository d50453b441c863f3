package graft.core

import java.nio.charset.StandardCharsets
import graft.html.MainContentExtractor
import graft.pdf.PdfParser

/** The single pure, TOTAL extraction function shared by the distributed
  * pipeline and the single-threaded golden oracle — byte-identity under
  * distribution is proven structurally by sharing this code (the
  * strategy SURVEY.md §7.3(1) pins down).
  *
  * Dispatch = payload sniffing, the analog of the reference's mimetype
  * gate (/root/reference/ocrworker/tasks.py:52-55): `%PDF-` magic →
  * PDF branch; leading '<' (after whitespace/BOM) → HTML branch;
  * anything else → quarantine row with an error column (never throws;
  * cf. catch-all fallbacks /root/reference/ocrworker/pipeline/hybrid.py:146-155).
  *
  * The HTML cascade starts strict unless `routed` is set, and then
  * from the engine [[EngineSelector.route]] picks from the page's size
  * and lang (the reference's characteristics-based ordering,
  * selector.py:89-130). The default stays strict-first: routing is an
  * explicit job option (`ExtractJob.run(..., routedSelection = true)`),
  * so the byte-identity goldens of the default path stay pinned.
  */
object Extract {

  def sniff(payload: Array[Byte]): String = {
    if (payload == null || payload.length == 0) return "unknown"
    if (payload.length >= 5 &&
        payload(0) == '%' && payload(1) == 'P' && payload(2) == 'D' &&
        payload(3) == 'F' && payload(4) == '-') return "pdf"
    // skip UTF-8 BOM + leading whitespace, then look for '<'
    var i = 0
    if (payload.length >= 3 && (payload(0) & 0xff) == 0xef &&
        (payload(1) & 0xff) == 0xbb && (payload(2) & 0xff) == 0xbf) i = 3
    while (i < payload.length && i < 64 &&
           Character.isWhitespace(payload(i).toChar)) i += 1
    if (i < payload.length && payload(i) == '<') "html" else "unknown"
  }

  /** Total per-row extraction. */
  def apply(page: Page, routed: Boolean = false): ExtractedDoc = {
    val kind = sniff(page.html)
    kind match {
      case "html" =>
        htmlDoc(page, routed)
      case "pdf" =>
        PdfParser.extract(page.html) match {
          case Right(r) =>
            val text = r.stitched
            ExtractedDoc(
              url = page.url, warc_ts = page.warc_ts,
              extracted_text = text,
              spans = pdfPageSpans(r.pageTexts),
              out_links = Array.empty, n_links_found = 0,
              payload_kind = "pdf", page_count = r.pageTexts.length,
              n_blocks = r.pageTexts.length, n_content_blocks = r.pageTexts.count(_.nonEmpty),
              confidence = if (text.isEmpty) 0.0 else 1.0, lang = page.lang,
              engine = "pdf_layout", fallback_used = false,
              error = null, extraction_version = ExtractionVersion.current)
          case Left(reason) =>
            quarantine(page, "pdf", reason)
        }
      case _ =>
        quarantine(page, "unknown", "unsupported_payload")
    }
  }

  private def htmlDoc(page: Page, routed: Boolean): ExtractedDoc = {
    val res = MainContentExtractor.extractBytes(page.html, relaxedFirst = routed &&
      EngineSelector.route("html", page.html.length, page.lang) == "density_relaxed")
    ExtractedDoc(
      url = page.url, warc_ts = page.warc_ts,
      extracted_text = res.text, spans = res.spans,
      out_links = res.outLinks, n_links_found = res.nLinksFound,
      payload_kind = "html", page_count = 1,
      n_blocks = res.nBlocks, n_content_blocks = res.nContentBlocks,
      confidence = res.confidence, lang = page.lang,
      engine = res.engine, fallback_used = res.fallbackUsed,
      error = null, extraction_version = ExtractionVersion.current)
  }

  /** Per-page char spans over the stitched text (analog of per-page
    * sidecars, /root/reference/ocrworker/tasks.py:171-182). */
  private def pdfPageSpans(pages: Array[String]): Array[Span] = {
    val out = new Array[Span](pages.length)
    var off = 0
    var i = 0
    while (i < pages.length) {
      val len = pages(i).length
      out(i) = Span(off, off + len, "page", 1.0)
      off += len + 1 // '\n' separator
      i += 1
    }
    out
  }

  private def quarantine(page: Page, kind: String, reason: String): ExtractedDoc =
    ExtractedDoc(
      url = page.url, warc_ts = page.warc_ts,
      extracted_text = "", spans = Array.empty[Span],
      out_links = Array.empty, n_links_found = 0,
      payload_kind = kind, page_count = 0, n_blocks = 0, n_content_blocks = 0,
      confidence = 0.0, lang = page.lang,
      engine = "none", fallback_used = false,
      error = reason, extraction_version = ExtractionVersion.current)

  /** Deterministic row id (replaces the reference's uuid4 at
    * /root/reference/ocrworker/tasks.py:42-43 — nondeterminism would
    * break resume + byte identity). */
  def docId(url: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(url.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }
}
