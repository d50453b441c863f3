package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.AnchorHarvest
import java.nio.charset.StandardCharsets.UTF_8

/** Pure (no-Spark) tests of the WAT-style anchor-text harvest (q87's
  * map-side kernel). The corpus-level value check is the q87 DuckDB
  * oracle (labels re-derived from the raw page bytes); these pin the
  * handler semantics the oracle's equivalence argument relies on.
  */
class AnchorHarvestSpec extends AnyFunSuite {

  private def h(html: String): Seq[(String, String)] =
    AnchorHarvest.anchors(html.getBytes(UTF_8)).toSeq

  test("absolute href captures with its visible label") {
    assert(h("""<p><a href="https://x.example/">Hello</a></p>""") ==
      Seq(("https://x.example/", "Hello")))
  }

  test("relative and scheme-less hrefs never capture") {
    assert(h("""<a href="/about">About</a> <a href="mailto:x@y">m</a>
               |<a name="top">anchor-point</a>""".stripMargin).isEmpty)
  }

  test("label is entity-decoded with whitespace runs collapsed") {
    assert(h("<a href=\"https://x/\">A &amp; B \n\t  C&nbsp;&nbsp;D</a>") ==
      Seq(("https://x/", "A & B C D")))
  }

  test("nested inline markup contributes its text to the label") {
    assert(h("""<a href="https://x/">bold <b>text</b> end</a>""") ==
      Seq(("https://x/", "bold text end")))
  }

  test("a new <a> implicitly closes an open one (anchors never nest)") {
    assert(h("""<a href="https://x/">one<a href="https://y/">two</a>""") ==
      Seq(("https://x/", "one"), ("https://y/", "two")))
  }

  test("truncated document still emits the open anchor") {
    assert(h("""<a href="https://x/">tail text""") ==
      Seq(("https://x/", "tail text")))
  }

  test("single-quoted and attribute-order variants capture like q67's surface") {
    assert(h("""<a class="z" href='https://q.example/p'>q</a>""") ==
      Seq(("https://q.example/p", "q")))
  }

  test("empty labels are kept (image-only anchors exist in the wild)") {
    assert(h("""<a href="https://x/"><img src="i.png"></a>""") ==
      Seq(("https://x/", "")))
  }

  test("labels decode from raw bytes: multibyte kept, lone bad byte is U+FFFD") {
    // 0xE9 is a three-byte lead whose continuation never comes
    val html = "<a href=\"https://x/\">é漢字</a><a href=\"https://y/\">a".getBytes(UTF_8) ++
      Array(0xE9.toByte) ++ "b</a>".getBytes(UTF_8)
    assert(AnchorHarvest.anchors(html).toSeq ==
      Seq(("https://x/", "é漢字"), ("https://y/", "a\uFFFDb")))
  }
}
