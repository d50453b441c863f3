package graft.html

/** Canonical tag-name interning + precomputed dispatch flags.
  *
  * The tokenizer used to allocate a fresh lowercased String per tag
  * event, and [[BlockBuilder]] then probed 4–5 Sets per event. At
  * hundreds of tag events per document × millions of documents that is
  * pure allocation/GC pressure — the residual suspect for the 8→32
  * core scaling gap (BENCH/BASELINE.md). The catalog resolves a
  * lowered tag-name byte span to a shared canonical String
  * with an open-addressed, collision-verified table — zero allocation
  * for known tags — and precomputes the flag bitmask BlockBuilder
  * dispatches on, collapsing its per-event Set probes into one lookup.
  *
  * Unknown tag names fall back to allocation and zero flags; dispatch
  * is VALUE-identical either way, so the extraction byte contract
  * (golden hashes) is untouched.
  */
object TagCatalog {

  final val Block = 1
  final val Void = 2
  final val Boiler = 4
  final val Skip = 8
  final val Anchor = 16
  final val Title = 32
  /** Heading level 1–6 in bits 8..10 (0 = not a heading). */
  @inline def headingLevel(f: Int): Int = (f >>> 8) & 7

  // open-addressed table; power-of-two capacity, load factor ~0.4
  private val Cap = 256
  private val Mask = Cap - 1
  private val names = new Array[String](Cap)
  private val flagsArr = new Array[Int](Cap)

  private def put(name: String, f: Int): Unit = {
    var i = name.hashCode & Mask
    while (names(i) != null) {
      require(names(i) != name, s"duplicate tag $name")
      i = (i + 1) & Mask
    }
    names(i) = name
    flagsArr(i) = f
  }

  locally {
    def f(name: String): Int = {
      var x = 0
      if (BlockBuilder.blockTags.contains(name)) x |= Block
      if (BlockBuilder.voidTags.contains(name)) x |= Void
      if (BlockBuilder.boilerTags.contains(name)) x |= Boiler
      if (BlockBuilder.skipTags.contains(name)) x |= Skip
      if (name == "a") x |= Anchor
      if (name == "title") x |= Title
      if (name.length == 2 && name.charAt(0) == 'h' &&
          name.charAt(1) >= '1' && name.charAt(1) <= '6')
        x |= (name.charAt(1) - '0') << 8
      x
    }
    val dispatchTags =
      BlockBuilder.blockTags ++ BlockBuilder.voidTags ++
        BlockBuilder.boilerTags ++ BlockBuilder.skipTags ++ Set("a", "title")
    // flag-free tags interned purely to avoid per-event allocation
    val inlineTags = Set(
      "span", "em", "strong", "b", "i", "u", "s", "q", "code", "small",
      "sup", "sub", "abbr", "cite", "time", "mark", "var", "kbd", "samp",
      "label", "button", "select", "option", "optgroup", "textarea",
      "script", "style", "noscript", "iframe", "video", "audio",
      "canvas", "svg", "picture", "object", "del", "ins", "ruby", "bdi")
    (dispatchTags ++ inlineTags).foreach(n => put(n, f(n)))
  }

  /** Dispatch flags for a tag name (0 for unknown). One probe; String
    * hashCode is cached, equals hits the reference fast path when the
    * name came from [[lookupBytes]]. */
  def flags(name: String): Int = {
    var i = name.hashCode & Mask
    var n = names(i)
    while (n != null) {
      if (n == name) return flagsArr(i)
      i = (i + 1) & Mask
      n = names(i)
    }
    0
  }

  @inline private def lowerB(c: Byte): Int =
    if (c >= 'A' && c <= 'Z') c + 32 else c.toInt

  /** Canonical String for the LOWERED tag-name bytes `[start, start+len)`,
    * or null if unknown (caller allocates). Tag-name bytes are ASCII by
    * construction (isNameChar), so the byte hash equals the String hash. */
  def lookupBytes(b: Array[Byte], start: Int, len: Int): String = {
    var h = 0
    var k = start
    val end = start + len
    while (k < end) { h = h * 31 + lowerB(b(k)); k += 1 }
    var i = h & Mask
    var n = names(i)
    while (n != null) {
      if (n.length == len && eqBytes(n, b, start)) return n
      i = (i + 1) & Mask
      n = names(i)
    }
    null
  }

  private def eqBytes(n: String, b: Array[Byte], start: Int): Boolean = {
    var k = 0
    while (k < n.length) {
      if (n.charAt(k) != lowerB(b(start + k)).toChar) return false
      k += 1
    }
    true
  }
}
