package graft.html

import scala.collection.mutable.ArrayBuffer

/** WAT-style anchor-text harvest: every ABSOLUTE http(s) out-link with
  * the visible text of its `<a>` element — the (src, href, label)
  * surface a web-scale pipeline feeds into link-text indexes, anchor
  * retrieval, and query↔doc training-pair mining. The reference's
  * worker stops at per-document extraction; this is the cross-document
  * link surface its out-link column (ContentExtractor's WAT analog)
  * implies but never materializes with labels.
  *
  * Semantics (shared contract with the q87 oracle, which re-derives
  * every row from the RAW page bytes):
  *   - only absolute http(s) hrefs capture (the tokenizer fires
  *     [[HtmlHandler.anchorHref]] for exactly those — relative
  *     navigation links never allocate);
  *   - the label is the anchor's text content, entity-decoded, with
  *     whitespace runs (incl. NBSP) collapsed to one space and
  *     trimmed — the [[BlockBuilder]] whitespace contract;
  *   - an `<a>` opening while another is open implicitly closes the
  *     open one (the HTML5 in-body insertion-mode rule: anchors never
  *     nest), and an unclosed capturing anchor at end-of-document
  *     still emits — truncated pages keep their links.
  */
final class AnchorCollector extends HtmlHandler {
  private val out = new ArrayBuffer[(String, String)](4)
  private val label = new java.lang.StringBuilder(32)
  // href fired during the attribute scan of the not-yet-started tag
  private var pending: String = null
  // absolute href of the currently-capturing anchor (null = not capturing)
  private var href: String = null
  private var pendingSpace = false

  override def anchorHref(h: String): Unit = pending = h

  def startTag(name: String, selfClosing: Boolean): Unit = {
    if ((TagCatalog.flags(name) & TagCatalog.Anchor) != 0) {
      if (href != null) emit() // implicit close: anchors never nest
      if (!selfClosing && pending != null) {
        href = pending
        label.setLength(0)
        pendingSpace = false
      }
      pending = null
    }
  }

  def endTag(name: String): Unit =
    if ((TagCatalog.flags(name) & TagCatalog.Anchor) != 0 && href != null) emit()

  def text(s: CharSequence): Unit = {
    if (href == null) return
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == '\u00a0' /* NBSP */) {
        pendingSpace = label.length() > 0
      } else {
        if (pendingSpace) { label.append(' '); pendingSpace = false }
        label.append(c)
      }
      i += 1
    }
  }

  private def emit(): Unit = {
    out += ((href, label.toString))
    href = null
    label.setLength(0)
    pendingSpace = false
  }

  /** Drain: emits a still-open anchor (truncated document), returns the
    * collected (href, label) pairs in document order. */
  def result(): ArrayBuffer[(String, String)] = {
    if (href != null) emit()
    out
  }
}

/** Map-side harvest over raw page payloads. 100 TB shape: this is a
  * pure per-document pass on the scan split (no shuffle, payload never
  * leaves the mapper); downstream anchor-text aggregation is one
  * (dst_host, label) exchange over rows that are orders of magnitude
  * smaller than the pages that produced them. */
object AnchorHarvest {
  /** Bump when harvest semantics change — keys the harvest-once dump. */
  val Version = "ah1"

  /** (href, label) pairs of the raw UTF-8 payload, in document order. */
  def anchors(html: Array[Byte]): ArrayBuffer[(String, String)] = {
    val c = new AnchorCollector
    ByteHtmlTokenizer.tokenize(html, c)
    c.result()
  }
}
