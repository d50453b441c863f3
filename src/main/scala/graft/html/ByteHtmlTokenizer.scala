package graft.html

import java.nio.charset.StandardCharsets.UTF_8

/** Event sink for the streaming tokenizer. */
trait HtmlHandler {
  def startTag(name: String, selfClosing: Boolean): Unit
  def endTag(name: String): Unit
  /** Text with entities already decoded; raw whitespace preserved.
    * The CharSequence is the tokenizer's REUSED buffer — consume it
    * before returning, never retain a reference. */
  def text(s: CharSequence): Unit
  /** href of an `<a>` start tag — fired BEFORE the corresponding
    * startTag("a"), only for ABSOLUTE http/https values (the out-link
    * surface, Common-Crawl-WAT-style; relative links are navigation
    * noise and are never materialized). Value is the raw attribute
    * text (no entity decode). First href attribute wins. Recognized
    * when the attribute name is preceded by ASCII whitespace (the
    * forgiving-tokenizer contract the golden hashes pin). */
  def anchorHref(href: String): Unit = ()
}

/** A single-pass, forgiving, allocation-light streaming HTML tokenizer
  * over the raw UTF-8 payload — the one HTML entry point.
  *
  * Hand-rolled (no HTML library is on the classpath, and a streaming
  * tokenizer is what the extraction path needs anyway). It plays the
  * role the OCR engines' low-level text emitters play in the reference
  * (e.g. the tesseract TSV walk at
  * `ocrworker/engines/tesseract.py:36-71`): turn an opaque payload into
  * an ordered stream of text fragments with structure.
  *
  * The whole document is never decoded: markup structure is pure ASCII
  * (and UTF-8 guarantees no ASCII byte ever appears inside a multibyte
  * sequence), so tags, comments, script/style bodies and attribute
  * machinery are scanned as bytes and only the *kept text runs* are
  * decoded. On the generated corpus this removed ~40% of per-document
  * extraction cost (whole-doc String decode + its 2x char[] allocation).
  *
  * Handles: comments, doctype, processing instructions, CDATA, raw-text
  * elements (script/style — content skipped; textarea is deliberately
  * NOT raw-text: its markup parses as tags), quoted attributes
  * containing '>', self-closing tags, character entities (named core
  * set + numeric dec/hex), unclosed/stray tags (forgiving: emitted
  * as-is, never throws). The event stream is pinned by the committed
  * golden hashes and the generator↔extractor agreement suite.
  */
object ByteHtmlTokenizer {

  def tokenize(b: Array[Byte], h: HtmlHandler): Unit =
    tokenize(b, h, new java.lang.StringBuilder(256))

  /** Scratch-buffer variant: `textBuf` is cleared and reused — pass a
    * per-thread buffer to amortize its allocation across a partition. */
  def tokenize(b: Array[Byte], h: HtmlHandler, textBuf: java.lang.StringBuilder): Unit = {
    val n = b.length
    var i = 0
    textBuf.setLength(0)
    var runStart = -1 // current undecoded text run [runStart, i)

    @inline def endRun(end: Int): Unit = {
      if (runStart >= 0 && end > runStart) {
        // pure-ASCII runs (the common case) append without the
        // intermediate String + char[] the UTF-8 decode would allocate
        var j = runStart
        while (j < end && b(j) >= 0) j += 1
        if (j == end) {
          var k = runStart
          while (k < end) { textBuf.append(b(k).toChar); k += 1 }
        } else {
          textBuf.append(new String(b, runStart, end - runStart, UTF_8))
        }
      }
      runStart = -1
    }
    @inline def flushText(end: Int): Unit = {
      endRun(end)
      if (textBuf.length() > 0) { h.text(textBuf); textBuf.setLength(0) }
    }

    while (i < n) {
      val c = b(i)
      if (c == '<' && i + 1 < n) {
        val c1 = b(i + 1)
        if (c1 == '!') {
          flushText(i)
          if (startsWith(b, i, "<!--")) {
            val e = indexOf(b, "-->", i + 4)
            i = if (e < 0) n else e + 3
          } else if (regionMatchesIgnoreCase(b, i, "<![CDATA[")) {
            val e = indexOf(b, "]]>", i + 9)
            val end = if (e < 0) n else e
            if (end > i + 9) textBuf.append(new String(b, i + 9, end - (i + 9), UTF_8))
            i = if (e < 0) n else e + 3
          } else {
            val e = indexOfByte(b, '>', i + 2)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          flushText(i)
          val e = indexOfByte(b, '>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/' || isNameStart(c1)) {
          flushText(i)
          i = parseTag(b, i, h)
        } else {
          if (runStart < 0) runStart = i
          i += 1
        }
      } else if (c == '&') {
        endRun(i)
        i = decodeEntity(b, i, textBuf)
      } else {
        if (runStart < 0) runStart = i
        i += 1
      }
    }
    flushText(n)
  }

  @inline private def isNameStart(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  @inline private def isNameChar(c: Byte): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  @inline private def lower(c: Byte): Byte =
    if (c >= 'A' && c <= 'Z') (c + 32).toByte else c

  @inline private def isWs(c: Byte): Boolean =
    // exactly Character.isWhitespace over the ASCII range (incl. the
    // information-separator block 0x1C-0x1F); non-ASCII spaces are
    // never seen as single bytes, so they never count
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
      c == 0x0b || (c >= 0x1c && c <= 0x1f)

  private def startsWith(b: Array[Byte], i: Int, p: String): Boolean = {
    if (i + p.length > b.length) return false
    var k = 0
    while (k < p.length) { if (b(i + k) != p.charAt(k).toByte) return false; k += 1 }
    true
  }

  private def regionMatchesIgnoreCase(b: Array[Byte], i: Int, p: String): Boolean = {
    if (i + p.length > b.length) return false
    var k = 0
    while (k < p.length) {
      if (lower(b(i + k)) != Character.toLowerCase(p.charAt(k)).toByte) return false
      k += 1
    }
    true
  }

  /** `http://` or `https://` prefix, ASCII-case-insensitive — checked
    * on the bytes BEFORE materializing the value String, so the
    * (overwhelmingly common) relative hrefs cost zero allocation. */
  @inline private def isAbsoluteHttp(b: Array[Byte], start: Int, end: Int): Boolean = {
    var i = start
    if (end - i < 7) return false
    if (lower(b(i)) != 'h' || lower(b(i + 1)) != 't' ||
        lower(b(i + 2)) != 't' || lower(b(i + 3)) != 'p') return false
    i += 4
    if (i < end && lower(b(i)) == 's') i += 1
    i + 3 <= end && b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/'
  }

  private def indexOf(b: Array[Byte], p: String, from: Int): Int = {
    val n = b.length; val m = p.length
    var i = math.max(0, from)
    while (i + m <= n) {
      if (startsWith(b, i, p)) return i
      i += 1
    }
    -1
  }

  private def indexOfByte(b: Array[Byte], c: Char, from: Int): Int = {
    var i = math.max(0, from)
    while (i < b.length) { if (b(i) == c.toByte) return i; i += 1 }
    -1
  }

  private def indexOfIgnoreCase(b: Array[Byte], p: Array[Byte], from: Int): Int = {
    val n = b.length; val m = p.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var k = 0
      var ok = true
      while (ok && k < m) { if (lower(b(i + k)) != p(k)) ok = false else k += 1 }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Parse one tag starting at b(start)=='<'. Returns index after the
    * tag. For raw-text elements, also consumes content up to the
    * matching close tag (ASCII-case-insensitive) and drops it. */
  private def parseTag(b: Array[Byte], start: Int, h: HtmlHandler): Int = {
    val n = b.length
    var i = start + 1
    val closing = i < n && b(i) == '/'
    if (closing) i += 1
    val nameStart = i
    while (i < n && isNameChar(b(i))) i += 1
    if (i == nameStart) {
      val e = indexOfByte(b, '>', i)
      return if (e < 0) n else e + 1
    }
    val nameLen = i - nameStart
    // known tags resolve to the canonical interned String (no alloc)
    val name = {
      val interned = TagCatalog.lookupBytes(b, nameStart, nameLen)
      if (interned != null) interned
      else {
        val nameChars = new Array[Char](nameLen)
        var k = 0
        while (k < nameLen) { nameChars(k) = lower(b(nameStart + k)).toChar; k += 1 }
        new String(nameChars)
      }
    }

    var selfClosing = false
    var done = false
    // <a> tags additionally watch for a whitespace-preceded href
    // attribute (quoted or bare value, absolute http/https only); the
    // href branch consumes exactly the bytes the generic quote-skipping
    // branches would, so position semantics are the same for every tag
    val wantHref = !closing && name == "a"
    var hrefSeen = false
    while (i < n && !done) {
      val c = b(i)
      if (c == '>') { done = true; i += 1 }
      else if (wantHref && !hrefSeen && (c == 'h' || c == 'H') &&
               isWs(b(i - 1)) && regionMatchesIgnoreCase(b, i, "href")) {
        var j = i + 4
        while (j < n && isWs(b(j))) j += 1
        if (j < n && b(j) == '=') {
          j += 1
          while (j < n && isWs(b(j))) j += 1
          if (j < n && (b(j) == '"' || b(j) == '\'')) {
            val q = b(j).toChar
            val e = indexOfByte(b, q, j + 1)
            val end = if (e < 0) n else e
            hrefSeen = true
            if (isAbsoluteHttp(b, j + 1, end))
              h.anchorHref(new String(b, j + 1, end - (j + 1), UTF_8))
            i = if (e < 0) n else e + 1
          } else {
            val vs = j
            while (j < n && !isWs(b(j)) && b(j) != '>' &&
                   !(b(j) == '/' && j + 1 < n && b(j + 1) == '>')) j += 1
            hrefSeen = true
            if (isAbsoluteHttp(b, vs, j))
              h.anchorHref(new String(b, vs, j - vs, UTF_8))
            i = j
          }
        } else i += 4 // bare `href` boolean attr — skip the name
      }
      else if (c == '"' || c == '\'') {
        val e = indexOfByte(b, c.toChar, i + 1)
        i = if (e < 0) n else e + 1
      } else if (c == '/' && i + 1 < n && b(i + 1) == '>') {
        selfClosing = true; i += 2; done = true
      } else i += 1
    }
    if (closing) { h.endTag(name); return i }
    h.startTag(name, selfClosing)
    if (!selfClosing && (name == "script" || name == "style")) {
      val close = ("</" + name).getBytes(UTF_8)
      var j = i
      var found = -1
      while (found < 0 && j < n) {
        val p = indexOfIgnoreCase(b, close, j)
        if (p < 0) found = n
        else {
          val after = p + close.length
          val ok = after >= n || b(after) == '>' || isWs(b(after))
          if (ok) found = p else j = p + 1
        }
      }
      if (found < 0) found = n
      if (found >= n) { h.endTag(name); return n }
      val e = indexOfByte(b, '>', found)
      h.endTag(name)
      return if (e < 0) n else e + 1
    }
    i
  }

  /** Decode the entity at b(i)=='&' appending to out; returns the next
    * index. The body must be ASCII and end in ';' within a bounded
    * window, else a literal '&' is emitted and one byte consumed. */
  private def decodeEntity(b: Array[Byte], i: Int, out: java.lang.StringBuilder): Int = {
    val n = b.length
    var j = i + 1
    val limit = math.min(n, i + 12)
    var semi = -1
    while (j < limit && semi < 0) {
      val c = b(j)
      if (c == ';') semi = j
      else if (c == '&' || isWs(c) || c < 0) j = limit // non-ASCII aborts too
      else j += 1
    }
    if (semi < 0) { out.append('&'); return i + 1 }
    val body = new String(b, i + 1, semi - (i + 1), UTF_8)
    Entities.decodeBody(body) match {
      case null => out.append('&'); i + 1
      case rep  => out.append(rep); semi + 1
    }
  }
}

/** HTML character-entity decoding: core named set + numeric dec/hex.
  * Unknown entities pass through literally (forgiving).
  */
object Entities {
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘",
    "ldquo" -> "“", "rdquo" -> "”", "copy" -> "©",
    "reg" -> "®", "trade" -> "™", "euro" -> "€",
    "pound" -> "£", "cent" -> "¢", "sect" -> "§",
    "middot" -> "·", "laquo" -> "«", "raquo" -> "»",
    "times" -> "×", "deg" -> "°", "shy" -> ""
  )

  /** Decode an entity body (between '&' and ';'): the replacement
    * string, "" for a parsed-but-invalid numeric reference (consumed,
    * nothing emitted), or null for an unrecognized entity (caller
    * emits a literal '&' and advances one char). */
  def decodeBody(body: String): String = {
    if (body.startsWith("#")) {
      val num = body.substring(1)
      try {
        val cp =
          if (num.startsWith("x") || num.startsWith("X")) Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num)
        if (cp > 0 && Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else ""
      } catch { case _: NumberFormatException => null }
    } else named.getOrElse(body, null)
  }
}
