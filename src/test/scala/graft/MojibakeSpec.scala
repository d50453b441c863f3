package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import graft.ops.Mojibake

/** Planted-truth tests for the mojibake detect/repair rung (q108):
  * roundtrip exactness per UTF-8 sequence length, the lossless guard
  * (text above U+00FF is never lossily "repaired"), clean-text
  * passthrough, and the documented adversarial false positive.
  */
class MojibakeSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  /** UTF-8-as-Latin-1 mangle (the defect under repair). */
  private def mangle(s: String): String =
    new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.ISO_8859_1)

  /** UTF-8-as-cp1252 mangle (the iconic "â€™" defect). */
  private def mangle1252(s: String): String =
    new String(s.getBytes(StandardCharsets.UTF_8),
      java.nio.charset.Charset.forName("windows-1252"))

  private def reportOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    Mojibake.report(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getBoolean(3), r.getString(4))))
      .toMap
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xFF}%02x").mkString

  test("repairs 2/3/4-byte sequences exactly, one count per original char") {
    // accents (2-byte), curly punctuation (3-byte), astral char (4-byte)
    val orig = "café — résumé… ok 😀 end"
    val m = reportOf(Seq(1L -> mangle(orig)))
    val (det, n, rep, digest) = m(1L)
    assert(det && rep, "mangled text must be detected and repaired")
    // é, —, é, é, …, astral = 6 original non-ASCII chars
    assert(n == 6L, s"one signature per original char, got $n")
    assert(digest == md5Hex(orig), "repair must recover the original bytes")
  }

  test("repairs the cp1252 decode class: the iconic curly-apostrophe case") {
    val orig = "it\u2019s caf\u00e9 \u2014 co\u00fbt \u20ac9"
    val mangled = mangle1252(orig)
    // the defect really does read "â€™" for the apostrophe
    assert(mangled.contains("\u00e2\u20ac\u2122"), mangled)
    val m = reportOf(Seq(1L -> mangled))
    val (det, n, rep, digest) = m(1L)
    assert(det && rep)
    assert(n == 5L, s"\u2019, \u00e9, \u2014, \u00fb, \u20ac = 5 chars, got $n")
    assert(digest == md5Hex(orig), "cp1252 repair must recover the original")
  }

  test("clean ASCII and clean accented text pass through undetected") {
    val accented = "système donnée página Être."
    val m = reportOf(Seq(1L -> "plain ascii only", 2L -> accented))
    assert(m(1L) == ((false, 0L, false, md5Hex("plain ascii only"))))
    assert(m(2L) == ((false, 0L, false, md5Hex(accented))),
      "genuine Latin-1 accents are not mojibake")
  }

  test("mixed-plane text is flagged but never lossily repaired") {
    // signature present, but a char above U+00FF means the Latin-1
    // encode would substitute '?' — the guard must refuse
    val mixed = mangle("café") + " Āmacron"
    val m = reportOf(Seq(1L -> mixed))
    val (det, n, rep, digest) = m(1L)
    assert(det && n == 1L, "signature still detected")
    assert(!rep, "repair must refuse when the roundtrip would be lossy")
    assert(digest == md5Hex(mixed), "text must pass through unmodified")
  }

  test("mixed genuine-Latin-1 + signature text is flagged but untouched (no crash)") {
    // the review-found crash class: a genuine accented char (its
    // Latin-1 byte is NOT valid UTF-8 alone) co-occurring with a real
    // signature. The old <=U+00FF guard would have sent this to
    // decode('UTF-8'), which RAISES on Spark 4.1 defaults; the
    // well-formed-shape guard must refuse instead.
    val mixed = "na\u00efve " + mangle("it\u2019s")  // genuine ï + mangled ’
    val copyright = "\u00a9 2026 Host " + mangle("caf\u00e9")  // genuine © + signature
    val m = reportOf(Seq(1L -> mixed, 2L -> copyright))
    assert(m(1L)._1 && !m(1L)._3, "detected but refused")
    assert(m(1L)._4 == md5Hex(mixed), "text must pass through unmodified")
    assert(m(2L)._1 && !m(2L)._3, "detected but refused")
    assert(m(2L)._4 == md5Hex(copyright))
  }

  test("overlong/surrogate byte-image shapes are never sent to the decoder") {
    // E0 80 80 (overlong NUL) and ED A0 80 (surrogate D800) are
    // signature-shaped but NOT well-formed UTF-8 — the RFC 3629 guard
    // must refuse both (a decode would raise or substitute)
    val overlong = "x " + "\u00e0\u0080\u0080" + " y"
    val surrogate = "x " + "\u00ed\u00a0\u0080" + " y"
    val m = reportOf(Seq(1L -> overlong, 2L -> surrogate))
    assert(m(1L)._1 && !m(1L)._3, "overlong: detected, refused")
    assert(m(1L)._4 == md5Hex(overlong))
    assert(m(2L)._1 && !m(2L)._3, "surrogate: detected, refused")
    assert(m(2L)._4 == md5Hex(surrogate))
  }

  test("documented adversarial false positive: lead char before guillemet") {
    // "Ê»" — an accented capital directly followed by a
    // continuation-class char; no real prose does this, and the
    // repair turns the pair into the single char the bytes spell
    val adversarial = "X Ê» Y"
    val m = reportOf(Seq(1L -> adversarial))
    val (det, _, rep, digest) = m(1L)
    assert(det && rep, "the documented FP fires (and is why CCNet " +
      "gates this rung on a mojibake-rate threshold, not per-doc)")
    val asBytes = new String(
      adversarial.getBytes(StandardCharsets.ISO_8859_1), StandardCharsets.UTF_8)
    assert(digest == md5Hex(asBytes))
  }

  test("double-encoded text repairs one level per pass (documented)") {
    val orig = "café"
    val twice = mangle(mangle(orig))
    val m1 = reportOf(Seq(1L -> twice))
    assert(m1(1L)._4 == md5Hex(mangle(orig)), "one pass peels one layer")
    val m2 = reportOf(Seq(1L -> mangle(orig)))
    assert(m2(1L)._4 == md5Hex(orig), "second pass recovers the original")
  }

  test("seeded randomized roundtrip: repair(mangle(s)) == s for any s") {
    // repair inverts the mangle exactly whenever the signature fires
    // (mangle(s) of any non-ASCII s contains one), and mangle is the
    // identity on pure-ASCII s — so recovery is universal, even for
    // originals that themselves look mojibake-shaped
    val rng = new scala.util.Random(108)
    // pool chars must avoid UTF-8 bytes 81/8D/8F/90/9D: the JVM
    // mangle1252 used below destroys those (U+FFFD), so recovery
    // would be impossible for reasons outside the operator
    val pool: IndexedSeq[String] =
      (' ' to '~').map(_.toString) ++
        "àéèêîçùûäöüßáíóúñ¿¡©«» Ã—…’€ĀΩ中😀".toCharArray
          .foldLeft((List.empty[String], Option.empty[Char])) {
            case ((acc, Some(hi)), c) => ((hi.toString + c) :: acc, None)
            case ((acc, None), c) =>
              if (c.isHighSurrogate) (acc, Some(c)) else (c.toString :: acc, None)
          }._1
    val docs = (0 until 300).map { i =>
      val n = rng.nextInt(40)
      (i.toLong, (0 until n).map(_ => pool(rng.nextInt(pool.size))).mkString)
    }
    val m = reportOf(docs.map { case (id, s) =>
      (id, if (id % 2 == 0) mangle(s) else mangle1252(s))
    })
    docs.foreach { case (id, s) =>
      assert(m(id)._4 == md5Hex(s), s"doc $id: '$s' not recovered")
    }
  }

  test("cp1252 view matches the JVM charset on every defined byte; WHATWG on the rest") {
    import spark.implicits._
    def cp1252View(s: String): String =
      Mojibake.corruptEveryThird(
          Seq((2L, s)).toDF("doc_id", "text"), "doc_id", "text")
        .collect()(0).getString(1)
    // every Latin-1 code point whose UTF-8 bytes avoid the five
    // cp1252-undefined values: engine view must equal the REAL JVM
    // windows-1252 decode byte for byte — this exhaustively verifies
    // all 27 printable translate entries against an independent table
    val undefBytes = Set(0x81, 0x8D, 0x8F, 0x90, 0x9D)
    val defined = (0 until 256)
      .filterNot(cp => undefBytes.contains(cp) ||
        (cp >= 0xC0 && undefBytes.contains(0x80 + (cp & 0x3F))))
      .map(_.toChar).mkString
    assert(cp1252View(defined) == mangle1252(defined),
      "translate-based cp1252 view must equal Charset windows-1252 decode")
    // the five undefined bytes: the JVM charset substitutes U+FFFD
    // (destroying the byte — unrepairable), so the engine follows
    // WHATWG instead and passes them through as C1 code points, which
    // the Latin-1 roundtrip then inverts exactly
    val undef = "\u0081\u008D\u008F\u0090\u009D"
    assert(cp1252View(undef) == mangle(undef),
      "undefined cp1252 bytes must pass through as C1 (WHATWG), not U+FFFD")
    val m = reportOf(Seq(9L -> cp1252View(defined), 10L -> cp1252View(undef)))
    assert(m(9L)._4 == md5Hex(defined), "full-alphabet cp1252 repair roundtrip")
    assert(m(10L)._4 == md5Hex(undef), "undefined-byte repair roundtrip")
  }

  test("corruptEveryThird: %3==1 Latin-1-mangled, %3==2 cp1252-mangled, rest clean") {
    import spark.implicits._
    val rows = Seq(0L -> "a café", 1L -> "b café", 2L -> "c plain",
      3L -> "d — dash", 4L -> "e — dash", 5L -> "f it\u2019s \u2014 ok")
    val out = Mojibake.corruptEveryThird(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "a café" && out(3L) == "d — dash",
      "non-selected docs unchanged")
    assert(out(1L) == mangle("b café") && out(4L) == mangle("e — dash"),
      "%3==1 docs carry the UTF-8-as-Latin-1 view")
    assert(out(2L) == "c plain", "ASCII corrupts to itself")
    assert(out(5L) == mangle1252("f it\u2019s \u2014 ok"),
      "%3==2 docs are byte-identical to a real windows-1252 decode")
  }
}
