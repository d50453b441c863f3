package graft.html

import graft.core.{Block, Span}
import scala.collection.mutable.ArrayBuffer

/** Builds a flattened array of text [[Block]]s from the tokenizer's event
  * stream — the web analog of the reference's pixel-space region
  * detection (contours → candidate regions,
  * /root/reference/ocrworker/form_detector.py:322-372): here a "region"
  * is a run of text between block-level tags, and its features are word
  * count, link density, tag depth, heading level, and whether any
  * enclosing element is structural boilerplate (nav/header/footer/...).
  *
  * Whitespace contract (part of the byte-identity contract): within a
  * block all runs of whitespace (incl. NBSP) collapse to a single space;
  * blocks are trimmed; empty blocks are dropped.
  */
final class BlockBuilder extends HtmlHandler {
  private val blocks = new ArrayBuffer[Block](32)
  // ONE doc-level char store; blocks carry [start, end) spans into it
  // instead of per-block Strings
  private val buf = new java.lang.StringBuilder(1024)
  private var blockStart = 0
  private var words = 0
  private var linkedWords = 0
  private var pendingSpace = false
  private var inWord = false

  private var depth = 0
  private var anchorDepth = 0
  private var boilerDepth = 0   // nav/header/footer/aside/form nesting
  private var skipDepth = 0     // head/title/etc. — text dropped entirely
  private var headingLevel = 0
  private var titleText: String = null
  private var inTitle = false
  private val titleBuf = new java.lang.StringBuilder(64)
  // absolute out-links in document order (WAT-style surface); the
  // tokenizer fires anchorHref only for http(s) values, so this stays
  // empty for the overwhelmingly-relative navigation links
  private val outLinks = new ArrayBuffer[String](4)
  // hrefs SEEN, including ones dropped past MaxOutLinks — the
  // truncation audit counter (caps are never silent, round-4 ADVICE #2)
  private var linksSeen = 0

  import BlockBuilder._

  // Dispatch reads the precomputed TagCatalog bitmask — ONE table probe
  // per event instead of 4-5 Set probes (flag semantics and branch order
  // are value-identical to the original per-Set pattern match; the flag
  // categories a/title/boiler/skip/h1-h6 are mutually disjoint).
  override def anchorHref(href: String): Unit = {
    linksSeen += 1
    if (outLinks.length < BlockBuilder.MaxOutLinks) outLinks += href
  }

  def startTag(name: String, selfClosing: Boolean): Unit = {
    val f = TagCatalog.flags(name)
    // a <title> cannot contain elements: any tag while inTitle means the
    // close tag was missing — finalize instead of swallowing the document
    if (inTitle && (f & TagCatalog.Title) == 0) finishTitle()
    if ((f & TagCatalog.Block) != 0) flushBlock()
    if (!selfClosing && (f & TagCatalog.Void) == 0) {
      depth += 1
      if ((f & TagCatalog.Anchor) != 0) anchorDepth += 1
      else if ((f & TagCatalog.Title) != 0) inTitle = true
      else if ((f & TagCatalog.Boiler) != 0) boilerDepth += 1
      else if ((f & TagCatalog.Skip) != 0) skipDepth += 1
      else {
        val h = TagCatalog.headingLevel(f)
        if (h > 0) headingLevel = h
      }
    }
  }

  def endTag(name: String): Unit = {
    val f = TagCatalog.flags(name)
    if ((f & TagCatalog.Block) != 0) flushBlock()
    if ((f & TagCatalog.Void) == 0) {
      if (depth > 0) depth -= 1
      if ((f & TagCatalog.Anchor) != 0) { if (anchorDepth > 0) anchorDepth -= 1 }
      else if ((f & TagCatalog.Title) != 0) { if (inTitle) finishTitle() }
      else if ((f & TagCatalog.Boiler) != 0) { if (boilerDepth > 0) boilerDepth -= 1 }
      else if ((f & TagCatalog.Skip) != 0) { if (skipDepth > 0) skipDepth -= 1 }
      else if (TagCatalog.headingLevel(f) > 0) headingLevel = 0
    }
  }

  def text(s: CharSequence): Unit = {
    if (inTitle) { titleBuf.append(s); return }
    if (skipDepth > 0) return
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == '\u00a0' /* NBSP */) {
        if (inWord) { inWord = false }
        pendingSpace = buf.length() > blockStart // no leading space within the block
      } else {
        if (pendingSpace) { buf.append(' '); pendingSpace = false }
        if (!inWord) {
          inWord = true
          words += 1
          if (anchorDepth > 0) linkedWords += 1
        }
        buf.append(c)
      }
      i += 1
    }
  }

  private def flushBlock(): Unit = {
    inWord = false
    pendingSpace = false
    if (buf.length() > blockStart) {
      blocks += Block(blockStart, buf.length(), words, linkedWords, depth,
        headingLevel, boilerDepth > 0)
      blockStart = buf.length()
    }
    words = 0; linkedWords = 0
  }

  def result(): (Array[Block], String) = {
    if (inTitle) finishTitle()
    flushBlock()
    (blocks.toArray, titleText)
  }

  /** Absolute out-links in document order (no dedup — consumers and the
    * raw-bytes oracle both see every occurrence). */
  def links: Array[String] = outLinks.toArray

  /** Hrefs seen pre-cap; > links.length ⇔ MaxOutLinks truncated. */
  def linksFound: Int = linksSeen

  /** The doc-level char store the blocks' [start, end) spans index —
    * valid until [[reset]]; consumers must slice before reuse. */
  def chars: CharSequence = buf

  /** Materialize one block's text (slow path — FormDetector etc.). */
  def textOf(b: Block): String = buf.substring(b.start, b.end)

  /** Clear all per-document state, KEEPING buffer capacity — lets one
    * builder serve a whole partition (Spark runs one task per thread)
    * instead of re-allocating buffers + growth arrays per document.
    *
    * Capacity is CLAMPED, not kept unconditionally: one pathological
    * document (a 100 MB page) would otherwise grow this thread's char
    * store + block buffer for the executor's lifetime — at 32 task
    * threads that retains worst-doc x threads of heap forever. Normal
    * pages sit far below the clamp, so the steady-state fast path still
    * never reallocates. */
  def reset(): Unit = {
    if (blocks.length > BlockBuilder.MaxKeepBlocks)
      blocks.clearAndShrink(32)
    else blocks.clear()
    BlockBuilder.clampScratch(buf, BlockBuilder.MaxKeepChars)
    BlockBuilder.clampScratch(titleBuf, 1 << 14)
    buf.setLength(0)
    blockStart = 0
    words = 0; linkedWords = 0; pendingSpace = false; inWord = false
    depth = 0; anchorDepth = 0; boilerDepth = 0; skipDepth = 0
    headingLevel = 0
    titleText = null; inTitle = false
    titleBuf.setLength(0)
    if (outLinks.length > 64) outLinks.clearAndShrink(4) else outLinks.clear()
    linksSeen = 0
  }

  /** First <title> wins (the document title); later ones (e.g. inline
    * svg titles) are discarded, and the buffer always resets. */
  private def finishTitle(): Unit = {
    if (titleText == null) titleText = collapse(titleBuf.toString)
    titleBuf.setLength(0)
    inTitle = false
  }

  private def collapse(s: String): String =
    BlockBuilder.wsRun.matcher(s.trim).replaceAll(" ")
}

object BlockBuilder {
  /** Out-link cap per document — a backstop against pathological link
    * farms retaining unbounded Strings per row, NOT a tuning knob: the
    * generated corpus peaks at 3 absolute links/page, and q67's
    * raw-bytes oracle would fail loudly if a page ever crossed it. */
  val MaxOutLinks = 256

  /** Per-thread scratch retention ceilings (chars / blocks). */
  val MaxKeepChars: Int = 1 << 20
  val MaxKeepBlocks: Int = 1 << 16

  /** Shrink an over-grown scratch builder back below `cap` in place:
    * setLength(cap) pins count, trimToSize() reallocates the backing
    * array to count, setLength(0) empties it — no reference change, so
    * ThreadLocal holders stay valid. */
  private[graft] def clampScratch(sb: java.lang.StringBuilder, cap: Int): Unit =
    if (sb.capacity() > cap) {
      sb.setLength(cap)
      sb.trimToSize()
      sb.setLength(0)
    }

  /** Shared compiled pattern — String.replaceAll would recompile it per
    * document (one title collapse per doc on the extraction hot path). */
  private[html] val wsRun = java.util.regex.Pattern.compile("[\\s ]+")
  val blockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "dl", "dt", "dd", "table", "tr", "td", "th", "thead", "tbody",
    "tfoot", "caption", "blockquote", "pre", "article", "section",
    "main", "aside", "nav", "header", "footer", "form", "figure",
    "figcaption", "br", "hr", "body", "html", "head", "title",
    "fieldset", "legend", "address", "details", "summary")
  val boilerTags: Set[String] = Set("nav", "header", "footer", "aside", "form")
  val skipTags: Set[String] = Set("head")
  val voidTags: Set[String] = Set(
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr")
}

/** Block-level main-content classifier: a deterministic decision tree
  * over (link density, word counts of prev/curr/next) in the style of
  * the published Boilerpipe NumWordsRulesClassifier (Kohlschütter et al.,
  * "Boilerplate Detection using Shallow Text Features", WSDM 2010 — see
  * /root/repo/PAPERS.md), with a structural veto for nav/header/footer
  * containers and a heading-promotion pass. Plays the role of the
  * reference's geometric threshold classifiers
  * (/root/reference/ocrworker/form_detector.py:341-367,
  * /root/reference/ocrworker/signature_extractor.py:205-227).
  */
object DensityClassifier {
  val maxLinkDensity = 0.333
  val prevLinkDensityLoose = 0.555

  def classify(blocks: Array[Block]): Unit = {
    val n = blocks.length
    var i = 0
    while (i < n) {
      val curr = blocks(i)
      val prev = if (i > 0) blocks(i - 1) else null
      val next = if (i + 1 < n) blocks(i + 1) else null
      val prevWords = if (prev == null) 0 else prev.words
      val nextWords = if (next == null) 0 else next.words
      val prevLd = if (prev == null) 0.0 else prev.linkDensity

      val content =
        if (curr.inBoilerplateTag) false
        else if (curr.linkDensity > maxLinkDensity) false
        else if (prevLd <= prevLinkDensityLoose)
          curr.words > 16 || nextWords > 15 || prevWords > 4
        else
          curr.words > 40 || nextWords > 17

      curr.isContent = content
      curr.score =
        if (curr.inBoilerplateTag) 0.0
        else math.min(1.0, curr.words / 40.0) * (1.0 - curr.linkDensity)
      i += 1
    }
    // heading promotion: a short heading directly above a content block
    // belongs to the content (boilerpipe's heading handling, simplified)
    i = n - 2
    while (i >= 0) {
      val b = blocks(i)
      if (!b.isContent && b.headingLevel > 0 && !b.inBoilerplateTag &&
          b.linkDensity <= maxLinkDensity && blocks(i + 1).isContent)
        b.isContent = true
      i -= 1
    }
  }

  /** Fallback engine of the confidence cascade: relaxed acceptance that
    * trades precision for recall — the analog of the reference's
    * slower-but-stronger fallback engines
    * (/root/reference/ocrworker/pipeline/hybrid.py:123-144: try next
    * engine when confidence < threshold, keep the best result).
    *
    * Two invariants keep the cascade monotone:
    *  - SUPERSET: runs after [[classify]] and only ever ADDS blocks
    *    (`isContent ||=`), so the fallback can rescue content the
    *    neighbor rules missed but never drop what strict accepted;
    *  - SAME SCALE: per-block scores use the strict formula, so the
    *    two engines' mean confidences are comparable (a fallback that
    *    scored itself generously would always win the cascade). */
  def classifyRelaxed(blocks: Array[Block]): Unit = {
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      b.isContent = b.isContent || (!b.inBoilerplateTag && b.linkDensity <= 0.5 &&
        (b.words > 5 || b.headingLevel > 0))
      b.score =
        if (b.inBoilerplateTag) 0.0
        else math.min(1.0, b.words / 40.0) * (1.0 - b.linkDensity)
      i += 1
    }
  }
}

/** End-to-end HTML main-content extraction: tokenize → blocks →
  * classify → assemble canonical text + char spans.
  *
  * Byte contract: content blocks joined with a single '\n'; block text
  * whitespace-collapsed and trimmed; entities decoded; UTF-8 at the
  * file boundary. This is the analog of the reference's sidecar text
  * contract (exact-string page text,
  * /root/reference/tests/test_document_version.py:49-52).
  */
object MainContentExtractor {
  final case class HtmlResult(
      text: String, spans: Array[Span], title: String,
      nBlocks: Int, nContentBlocks: Int, confidence: Double,
      engine: String, fallbackUsed: Boolean,
      outLinks: Array[String],
      nLinksFound: Int) // pre-cap href count (truncation audit)

  /** Early-exit threshold of the engine cascade — the reference's
    * ocr_confidence_threshold (/root/reference/ocrworker/config.py:38,
    * applied at hybrid.py:139). */
  val ConfidenceThreshold = 0.7

  /** Per-thread scratch (builder + tokenizer text buffer) reused across
    * the documents of a partition — Spark runs one task per thread, so
    * thread confinement holds; reset() clears all per-doc state. */
  private val scratch =
    ThreadLocal.withInitial[(BlockBuilder, java.lang.StringBuilder)](() =>
      (new BlockBuilder, new java.lang.StringBuilder(256)))

  /** Extraction over the raw UTF-8 payload (the whole document is
    * never decoded — see [[ByteHtmlTokenizer]]). The cascade runs
    * strict-first by default; `relaxedFirst` starts it on the recall
    * engine (the routed start [[graft.core.EngineSelector.route]] picks
    * for complex-script or poor-quality pages) and falls back to strict
    * only below the confidence threshold. */
  def extractBytes(html: Array[Byte], relaxedFirst: Boolean = false): HtmlResult =
    cascade(tokenize(html), relaxedFirst)

  private def tokenize(html: Array[Byte]): BlockBuilder = {
    val (builder, textBuf) = scratch.get()
    builder.reset()
    // same clamp as reset(): one pathological document must not grow
    // this thread's tokenizer text buffer for the executor's lifetime
    BlockBuilder.clampScratch(textBuf, BlockBuilder.MaxKeepChars)
    ByteHtmlTokenizer.tokenize(html, builder, textBuf)
    builder
  }

  /** Mean content-block score — assemble's confidence without the
    * text/span build (pure function of the classifier flags). */
  private def confidenceOf(blocks: Array[Block]): Double = {
    var scoreSum = 0.0
    var nContent = 0
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      if (b.isContent) { scoreSum += b.score; nContent += 1 }
      i += 1
    }
    if (nContent == 0) 0.0 else scoreSum / nContent
  }

  /** Confidence cascade (hybrid.py:123-161 semantics): run the first
    * engine; below the threshold, also run the other one and keep the
    * HIGHER-confidence result (strictly greater, like the reference's
    * `result.confidence > best.confidence` — ties keep the first
    * engine). The tokenizer runs once — engines re-classify the same
    * block array, and since confidences are pure functions of the
    * block flags, the winner is decided on flag passes alone and text +
    * spans are assembled exactly once.
    *
    * Strict assigns every flag, so it is the same engine over any
    * prior state. Relaxed only ORs onto the flags it finds: after
    * strict it is the strict ∪ relaxed fallback, and over fresh blocks
    * it is the pure relaxed engine — so when relaxed-first still wins
    * after the strict fallback, its flags are re-derived from cleared
    * blocks. fallbackUsed marks that the second engine's OUTPUT was
    * used. */
  private def cascade(builder: BlockBuilder, relaxedFirst: Boolean): HtmlResult = {
    val (blocks, title) = builder.result()
    def first(): Unit =
      if (relaxedFirst) {
        blocks.foreach(_.isContent = false)
        DensityClassifier.classifyRelaxed(blocks)
      } else DensityClassifier.classify(blocks)
    def result(relaxed: Boolean, fallbackUsed: Boolean): HtmlResult =
      assemble(blocks, title, builder.chars, builder.links, builder.linksFound,
        if (relaxed) "density_relaxed" else "density", fallbackUsed)
    first()
    val firstConf = confidenceOf(blocks)
    if (firstConf >= ConfidenceThreshold) result(relaxedFirst, fallbackUsed = false)
    else {
      if (relaxedFirst) DensityClassifier.classify(blocks)
      else DensityClassifier.classifyRelaxed(blocks)
      if (confidenceOf(blocks) > firstConf) result(!relaxedFirst, fallbackUsed = true)
      else { first(); result(relaxedFirst, fallbackUsed = false) }
    }
  }

  private def assemble(blocks: Array[Block], title: String,
                       chars: CharSequence,
                       links: Array[String],
                       nLinksFound: Int,
                       engine: String,
                       fallbackUsed: Boolean): HtmlResult = {
    // presize exactly: growth-doubling on the output builder was pure
    // garbage at ~2x the text size per document
    var cap = 0
    var n = 0
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      if (b.isContent) { cap += b.length + 1; n += 1 }
      i += 1
    }
    val sb = new java.lang.StringBuilder(math.max(cap, 1))
    val spans = new Array[Span](n)
    var scoreSum = 0.0
    var nContent = 0
    i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      if (b.isContent) {
        if (sb.length() > 0) sb.append('\n')
        val start = sb.length()
        sb.append(chars, b.start, b.end)
        val kind = if (b.headingLevel > 0) "heading" else "block"
        spans(nContent) = Span(start, sb.length(), kind, b.score)
        scoreSum += b.score
        nContent += 1
      }
      i += 1
    }
    HtmlResult(
      sb.toString, spans, title,
      blocks.length, nContent,
      if (nContent == 0) 0.0 else scoreSum / nContent,
      engine, fallbackUsed, links, nLinksFound)
  }
}
