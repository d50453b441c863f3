package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import graft.sources.{Warc, Wet}
import graft.sources.Wet.WetRecord

/** Unit tests of the WET conversion-record writer/parser (q100's
  * kernel). The corpus-level value check is the q100 DuckDB oracle
  * (aggregates straight from the extraction dump); these pin the
  * record grammar edge cases the roundtrip aggregate can't isolate.
  */
class WetSpec extends AnyFunSuite with TempRoots {

  lazy val spark = graft.job.GraftSession.local("4")

  private def rec(url: String, ms: Long, lang: String, text: String) =
    WetRecord(url, new Timestamp(ms), lang, text)

  test("single record roundtrips url, millis, lang and unicode text") {
    val r = rec("https://h.example/page/7", 1735691589851L, "fra",
      "Système — données…\nligne deux\n")
    val back = Wet.parseSegment(Wet.recordBytes(r))
    assert(back == Seq(r))
  }

  test("empty text yields Content-Length 0 and roundtrips") {
    val r = rec("https://h/e", 12345L, "eng", "")
    assert(Wet.parseSegment(Wet.recordBytes(r)) == Seq(r))
  }

  test("body bytes are not scanned for record starts (text containing WARC/)") {
    val r = rec("https://h/w", 999L, "eng",
      "WARC/1.0\r\nWARC-Type: conversion\r\n\r\nnot a record")
    val two = Wet.recordBytes(r) ++ Wet.recordBytes(rec("https://h/x", 1L, "deu", "x"))
    assert(Wet.parseSegment(two).map(_.url) == Seq("https://h/w", "https://h/x"))
  }

  test("concatenated per-record gzip members parse as one segment") {
    val a = rec("https://h/a", 1L, "eng", "alpha")
    val b = rec("https://h/b", 2L, "spa", "beta")
    val seg = Warc.gzip(Wet.recordBytes(a)) ++ Warc.gzip(Wet.recordBytes(b))
    assert(Wet.parseSegment(seg) == Seq(a, b))
  }

  test("CR/LF/control characters in the url never break the header block") {
    val r = rec("https://h/bad\r\nWARC-Type: sneak", 5L, "eng", "t")
    val back = Wet.parseSegment(Wet.recordBytes(r))
    assert(back.size == 1 && back.head.url == "https://h/badWARC-Type: sneak")
    assert(back.head.text == "t")
  }

  test("a malformed record resyncs on the next WARC/ marker") {
    val good = Wet.recordBytes(rec("https://h/ok", 3L, "eng", "fine"))
    val broken = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "Content-Length: notanumber\r\n\r\n").getBytes("UTF-8")
    assert(Wet.parseSegment(broken ++ good).map(_.url) == Seq("https://h/ok"))
  }

  test("a corrupt near-2^31 Content-Length resyncs instead of crashing") {
    // bodyStart + len overflows Int: the old `bodyStart + len <= n` guard
    // wrapped negative and admitted the record, crashing the String ctor.
    val big = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://h/corrupt\r\n" +
      "Content-Length: 2147483000\r\n\r\n").getBytes("UTF-8")
    val good = Wet.recordBytes(rec("https://h/after", 6L, "eng", "survives"))
    assert(Wet.parseSegment(big ++ good).map(_.url) == Seq("https://h/after"))
    // same corrupt shape through the WARC response parser
    val bigWarc = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://h/corrupt\r\n" +
      "Content-Length: 2147483000\r\n\r\n").getBytes("UTF-8")
    val goodWarc = Warc.recordBytes(graft.core.Page(
      "https://h/after2", new Timestamp(7L), "x".getBytes("UTF-8"), "", "eng"))
    assert(Warc.parseSegment(bigWarc ++ goodWarc).map(_.url) == Seq("https://h/after2"))
  }

  test("non-conversion records are skipped, their bodies consumed exactly") {
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n" +
      "info-body\r\n\r\n").getBytes("UTF-8")
    val good = Wet.recordBytes(rec("https://h/c", 4L, "fra", "kept"))
    assert(Wet.parseSegment(info ++ good) == Seq(rec("https://h/c", 4L, "fra", "kept")))
  }

  test("segment bytes are pinned: one record (gzip member) after another, in partition order") {
    import spark.implicits._
    val dir = tempRoot("graftwetpin")
    val recs = (0 until 30).map(i => rec(s"https://h.example/page/$i", 1735689600000L + i,
      Seq("eng", "fra", "deu")(i % 3), s"text $i\nline ${i * 7}"))
    val ds = spark.sparkContext.parallelize(recs, 3).toDS()
    val parts = ds.rdd.glom().collect()
    assert(parts.length == 3 && parts.forall(_.nonEmpty))
    for ((sub, gz) <- Seq(("gz", true), ("plain", false))) {
      val ext = if (gz) ".warc.wet.gz" else ".warc.wet"
      assert(Wet.writeSegments(ds, s"$dir/$sub", compress = gz) == recs.size)
      parts.zipWithIndex.foreach { case (part, pid) =>
        val want = part.map(r => if (gz) Warc.gzip(Wet.recordBytes(r)) else Wet.recordBytes(r))
          .reduce(_ ++ _)
        val got = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, sub, f"segment-$pid%05d$ext"))
        assert(java.util.Arrays.equals(got, want), s"$sub segment $pid bytes")
      }
      assert(new java.io.File(s"$dir/$sub").list().sorted.toSeq ==
        Seq(Wet.DoneMarker) ++ (0 until 3).map(pid => f"segment-$pid%05d$ext"))
      assert(Wet.readRecords(spark, s"$dir/$sub").collect().sortBy(_.url).toSeq ==
        recs.sortBy(_.url))
    }
  }
}
