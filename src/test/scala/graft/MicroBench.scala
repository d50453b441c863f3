package graft
import graft.core.Extract
import graft.gen.PageGen
object MicroBench {
  def main(args: Array[String]): Unit = {
    val gens = (0 until 4000).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong))
    val htmls = gens.filter(_.kind == "html").map(_.page)
    val pdfs = gens.filter(_.kind == "pdf").map(_.page)
    // warmup
    (0 until 3).foreach { _ => htmls.foreach(Extract(_)); pdfs.foreach(Extract(_)) }
    def time[T](label: String, n: Int, bytes: Long)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label: $n docs in $s%.3f s = ${n / s}%.0f docs/s, ${bytes / s / 1e6}%.1f MB/s")
    }
    val hb = htmls.map(_.html.length.toLong).sum
    val pb = pdfs.map(_.html.length.toLong).sum
    // allocation pressure: bytes allocated per extracted doc (the lever
    // for high-core-count scaling — see BENCH/BASELINE.md §8→32)
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    def alloc(label: String)(f: => Unit): Unit = {
      val a0 = tmx.getThreadAllocatedBytes(tid)
      f
      val a1 = tmx.getThreadAllocatedBytes(tid)
      println(f"alloc[$label]: ${(a1 - a0) / htmls.size}%d bytes/doc (input ${hb / htmls.size}%d)")
    }
    val nop = new graft.html.HtmlHandler {
      def startTag(name: String, selfClosing: Boolean): Unit = ()
      def endTag(name: String): Unit = ()
      def text(s: CharSequence): Unit = ()
    }
    alloc("tokenize-nop") { htmls.foreach(p => graft.html.ByteHtmlTokenizer.tokenize(p.html, nop)) }
    alloc("tokenize+blocks") { htmls.foreach { p =>
      val b = new graft.html.BlockBuilder; graft.html.ByteHtmlTokenizer.tokenize(p.html, b); b.result() } }
    alloc("full-extract") { htmls.foreach(Extract(_)) }
    val rs = htmls.map(p => graft.html.MainContentExtractor.extractBytes(p.html))
    println(s"cascade: lowconf=${rs.count(_.confidence < 0.7)} fallbackWon=${rs.count(_.fallbackUsed)} of ${rs.size}")
    time("html", htmls.size, hb) { htmls.foreach(Extract(_)) }
    time("pdf ", pdfs.size, pb) { pdfs.foreach(Extract(_)) }
    time("decode utf8", htmls.size, hb) { htmls.foreach(p => new String(p.html, java.nio.charset.StandardCharsets.UTF_8)) }
  }
}
