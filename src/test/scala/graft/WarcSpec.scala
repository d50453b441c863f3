package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.core.Extract
import graft.gen.PageGen
import graft.sources.Warc

/** WARC roundtrip gates: pages → segments → pages must preserve url,
  * timestamp, lang, and payload bytes exactly, and extraction over a
  * WARC-ingested table must be byte-identical to direct extraction. */
class WarcSpec extends AnyFunSuite with TempRoots {

  lazy val spark = graft.job.GraftSession.local("4")

  test("single-record roundtrip preserves every field") {
    val g = PageGen.genRow(PageGen.DefaultSeed, 7L)
    val seg = Warc.writeSegment(Seq(g.page))
    val back = Warc.parseSegment(seg)
    assert(back.length == 1)
    val p = back.head
    assert(p.url == g.page.url)
    assert(p.warc_ts.getTime == g.page.warc_ts.getTime)
    assert(p.lang == g.page.lang)
    assert(p.text == g.page.text) // rides the extension header
    assert(java.util.Arrays.equals(p.html, g.page.html))
  }

  test("multibyte target uris survive the utf-8 header roundtrip") {
    val ts = new java.sql.Timestamp(1735689600000L)
    val p = graft.core.Page("https://例え.jp/ünïcode/path", ts,
      "<p>body</p>".getBytes(UTF_8), "raw", "jpn")
    val back = Warc.parseSegment(Warc.writeSegment(Seq(p)))
    assert(back.length == 1 && back.head.url == p.url)
  }

  test("record truncated mid-body is skipped, earlier records survive") {
    val pages = (0 until 5).map(i => PageGen.genRow(PageGen.DefaultSeed, (300 + i).toLong).page)
    val seg = Warc.writeSegment(pages)
    // cut inside the LAST record's body
    val cut = java.util.Arrays.copyOfRange(seg, 0, seg.length - pages.last.html.length / 2)
    val back = Warc.parseSegment(cut)
    assert(back.length == pages.length - 1)
    assert(back.map(_.url) == pages.init.map(_.url))
  }

  test("multi-record segments with binary payloads (pdf/junk) roundtrip") {
    val pages = (0 until 60).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    val back = Warc.parseSegment(Warc.writeSegment(pages))
    assert(back.length == pages.length)
    pages.zip(back).foreach { case (a, b) =>
      assert(a.url == b.url)
      assert(java.util.Arrays.equals(a.html, b.html), s"payload bytes differ for ${a.url}")
    }
  }

  test("unparseable content-length skips the record instead of emitting an empty payload") {
    val good = PageGen.genRow(PageGen.DefaultSeed, 900L).page
    val bad = PageGen.genRow(PageGen.DefaultSeed, 901L).page
    val badSeg = new String(Warc.writeSegment(Seq(bad)), UTF_8)
    // corrupt only the WARC-level Content-Length (the one after msgtype=response)
    val corrupted = badSeg.replaceFirst(
      "(msgtype=response\r\nContent-Length: )\\d+", "$1999999999999")
    val seg = corrupted.getBytes(UTF_8) ++ Warc.writeSegment(Seq(good))
    val back = Warc.parseSegment(seg)
    // the malformed record is SKIPPED (no empty-payload ghost page), and
    // the parser resyncs on the next record's magic
    assert(back.map(_.url) == Seq(good.url))
    assert(back.forall(_.html.nonEmpty))
  }

  test("parseable-but-overrunning content-length skips that record and resyncs, later records survive") {
    val bad = PageGen.genRow(PageGen.DefaultSeed, 902L).page
    val good = PageGen.genRow(PageGen.DefaultSeed, 903L).page
    val badSeg = new String(Warc.writeSegment(Seq(bad)), UTF_8)
    // still fits in an Int, but points past the end of the segment
    val corrupted = badSeg.replaceFirst(
      "(msgtype=response\r\nContent-Length: )\\d+", "$1999999999")
    val seg = corrupted.getBytes(UTF_8) ++ Warc.writeSegment(Seq(good))
    val back = Warc.parseSegment(seg)
    assert(back.map(_.url) == Seq(good.url))
  }

  test("url/lang with CR/LF are sanitized, never corrupt record framing") {
    val ts = new java.sql.Timestamp(1735689600000L)
    val evil = graft.core.Page("https://a.example/x\r\nWARC-Type: fake", ts,
      "<p>one</p>".getBytes(UTF_8), "text one", "en\r\nX-Inject: y")
    val tail = graft.core.Page("https://b.example/y", ts,
      "<p>two</p>".getBytes(UTF_8), "text two", "en")
    val back = Warc.parseSegment(Warc.writeSegment(Seq(evil, tail)))
    assert(back.length == 2) // framing intact
    assert(back.head.url == "https://a.example/x  WARC-Type: fake")
    assert(back.head.lang == "en  X-Inject: y")
    assert(back(1).url == tail.url)
    assert(java.util.Arrays.equals(back.head.html, evil.html))
  }

  test("property: roundtrip survives adversarial urls/langs/payloads (count + payload bytes exact)") {
    val rng = new PageGen.Rng(0x5eed5eedL)
    def randStr(n: Int): String = {
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(rng.nextInt(8) match {
          case 0 => '\r'
          case 1 => '\n'
          case 2 => (rng.nextInt(26) + 'a').toChar
          case 3 => "日本語擬似".charAt(rng.nextInt(5))
          case 4 => ':'
          case 5 => (rng.nextInt(0x1f) + 1).toChar // control chars
          case _ => (rng.nextInt(94) + 33).toChar
        })
      }
      sb.toString
    }
    val ts = new java.sql.Timestamp(1735689600000L)
    val pages = (0 until 200).map { i =>
      val payload = new Array[Byte](rng.nextInt(400))
      payload.indices.foreach(k => payload(k) = (rng.nextInt(256) - 128).toByte)
      graft.core.Page(s"https://h$i.example/${randStr(12)}", ts, payload,
        randStr(20), randStr(6))
    }
    val back = Warc.parseSegment(Warc.writeSegment(pages))
    // no record lost to framing, payload bytes exact, urls sanitized-equal
    assert(back.length == pages.length)
    pages.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.html, b.html))
      // expected url: controls → spaces at write, edges trimmed at
      // header parse (header-value whitespace is not significant)
      val expected = a.url.map(c => if (c >= 0x20 || c == '\t') c else ' ').trim
      assert(b.url == expected)
      assert(!b.url.exists(c => c == '\r' || c == '\n'))
    }
  }

  test("parser is total on garbage and truncated segments") {
    assert(Warc.parseSegment(Array.emptyByteArray).isEmpty)
    assert(Warc.parseSegment("not a warc at all".getBytes(UTF_8)).isEmpty)
    val seg = Warc.writeSegment(Seq(PageGen.genRow(PageGen.DefaultSeed, 1L).page))
    val truncated = java.util.Arrays.copyOfRange(seg, 0, seg.length / 3)
    Warc.parseSegment(truncated) // must not throw
  }

  test("gzipped segments (.warc.gz) roundtrip through spark ingestion") {
    import spark.implicits._
    val dir = tempRoot("graftwarcgz")
    val pages = (200 until 260).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    Warc.writeSegments(spark.createDataset(pages).repartition(3), s"$dir/gz", compress = true)
    assert(new java.io.File(s"$dir/gz").listFiles().forall(f =>
      f.getName.endsWith(".warc.gz") || f.getName.endsWith(".cdx")))
    // per-record gzip MEMBERS (the Common-Crawl layout): whole-segment
    // gunzip still reads across member boundaries transparently
    val back = Warc.readPages(spark, s"$dir/gz").collect().map(p => p.url -> p).toMap
    assert(back.size == pages.size)
    pages.foreach(p => assert(java.util.Arrays.equals(back(p.url).html, p.html)))
    // bad gzip bytes are skipped, not fatal
    assert(Warc.gunzip("nope".getBytes(UTF_8)).isEmpty)
  }

  test("CDX random access: point-fetch by byte range == full-scan record, gz and plain") {
    import spark.implicits._
    val dir = tempRoot("graftcdx")
    val pages = (300 until 360).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    for ((sub, gz) <- Seq(("gz", true), ("plain", false))) {
      Warc.writeSegments(spark.createDataset(pages).repartition(3), s"$dir/$sub", compress = gz)
      val idx = Warc.cdxIndex(spark, s"$dir/$sub")
      assert(idx.count() == pages.size, s"$sub: cdx must index every record")
      // every record point-fetches byte-identically — and the range
      // read never touches the rest of the segment
      val rows = idx.collect()
      val byUrl = pages.map(p => p.url -> p).toMap
      rows.take(10).foreach { r =>
        val got = Warc.fetchRecord(s"$dir/$sub", r.getString(1), r.getLong(2), r.getInt(3))
        assert(got.nonEmpty, s"$sub: fetch miss at ${r.getString(0)}")
        val p = byUrl(got.get.url)
        assert(java.util.Arrays.equals(got.get.html, p.html))
        assert(got.get.warc_ts.getTime == p.warc_ts.getTime && got.get.lang == p.lang)
      }
      // batch lookup: exactly the requested urls, payloads intact
      val want = pages.take(7).map(_.url)
      val got = Warc.lookupPages(spark, s"$dir/$sub", want).collect()
      assert(got.map(_.url).sorted.toSeq == want.sorted)
      got.foreach(p => assert(java.util.Arrays.equals(p.html, byUrl(p.url).html)))
    }
    // a TAB inside a url must not corrupt the 5-field CDX framing
    // (headerSafe preserves tabs in WARC headers; the cdx escapes them)
    val tabby = graft.core.Page("http://h.example/a\tb",
      new java.sql.Timestamp(1700000000000L), "tab payload".getBytes(UTF_8), "t", "eng")
    import spark.implicits._
    Warc.writeSegments(spark.createDataset(Seq(tabby)), s"$dir/tab", compress = true)
    val idx = Warc.cdxIndex(spark, s"$dir/tab").collect()
    assert(idx.length == 1 && idx.head.getString(0) == "http://h.example/a%09b")
    val fetched = Warc.lookupPages(spark, s"$dir/tab", Seq(tabby.url)).collect()
    assert(fetched.length == 1 && fetched.head.url == tabby.url,
      "tab-url record must be fetchable through the escaped index")
    // a url carrying CONTROL chars is written SANITIZED (headerSafe) —
    // the lookup key must take the same canonicalization, or the record
    // is silently unfindable (round-4 ADVICE #4)
    val ctrl = graft.core.Page("http://h.example/a\nbc",
      new java.sql.Timestamp(1700000000001L), "ctrl payload".getBytes(UTF_8), "t", "eng")
    Warc.writeSegments(spark.createDataset(Seq(ctrl)), s"$dir/ctrl", compress = true)
    val fetchedCtrl = Warc.lookupPages(spark, s"$dir/ctrl", Seq(ctrl.url)).collect()
    assert(fetchedCtrl.length == 1, "control-char url must be findable via cdxKey")
    assert(java.util.Arrays.equals(fetchedCtrl.head.html, ctrl.html))
  }

  test("gzip is recognised by its magic bytes, not the file name") {
    val dir = tempRoot("graftwarcmagic")
    val a = (0 until 20).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    val b = (20 until 45).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    val segs = java.nio.file.Paths.get(dir, "segments")
    Files.createDirectories(segs)
    // gzip members under a plain name, plain records under a .gz name
    Files.write(segs.resolve("segment-a.warc"),
      a.map(p => Warc.gzip(Warc.recordBytes(p))).reduce(_ ++ _))
    Files.write(segs.resolve("segment-b.warc.gz"), Warc.writeSegment(b))
    val snap = graft.job.ExtractJob.runWarc(spark, segs.toString, s"$dir/out")
    assert(snap.inputFiles.size == 2)
    assert(snap.rowCount == a.size + b.size, s"committed ${snap.rowCount} rows")
    val urls = graft.job.ExtractJob.readExtracted(spark, s"$dir/out")
      .select("url").collect().map(_.getString(0)).toSet
    assert(urls == (a ++ b).map(_.url).toSet)
    // the point fetch takes the same rule: one member, one plain record
    val fetchedA = Warc.fetchRecord(segs.toString, "segment-a.warc", 0L,
      Warc.gzip(Warc.recordBytes(a.head)).length)
    val fetchedB = Warc.fetchRecord(segs.toString, "segment-b.warc.gz", 0L,
      Warc.recordBytes(b.head).length)
    assert(fetchedA.map(_.url).contains(a.head.url))
    assert(fetchedB.map(_.url).contains(b.head.url))
    assert(java.util.Arrays.equals(fetchedB.get.html, b.head.html))
  }

  test("segment bytes and CDX ranges are pinned: one record (gzip member) after another, in partition order") {
    import spark.implicits._
    val dir = tempRoot("graftwarcpin")
    val pages = (400 until 430).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    val ds = spark.sparkContext.parallelize(pages, 3).toDS()
    val parts = ds.rdd.glom().collect()
    assert(parts.length == 3 && parts.forall(_.nonEmpty))
    for ((sub, gz) <- Seq(("gz", true), ("plain", false))) {
      val ext = if (gz) ".warc.gz" else ".warc"
      Warc.writeSegments(ds, s"$dir/$sub", compress = gz)
      parts.zipWithIndex.foreach { case (part, pid) =>
        val seg = f"segment-$pid%05d$ext"
        val members = part.map(p => if (gz) Warc.gzip(Warc.recordBytes(p)) else Warc.recordBytes(p))
        val bytes = Files.readAllBytes(java.nio.file.Paths.get(dir, sub, seg))
        assert(java.util.Arrays.equals(bytes, members.reduce(_ ++ _)), s"$sub/$seg bytes")
        val cdx = new String(Files.readAllBytes(
          java.nio.file.Paths.get(dir, sub, f"segment-$pid%05d.cdx")), UTF_8).split('\n').toSeq
        assert(cdx.size == part.length)
        cdx.zip(part.zip(members)).foreach { case (line, (p, member)) =>
          val Array(url, segName, off, len, ts) = line.split('\t')
          assert(url == Warc.cdxKey(p.url) && segName == seg && ts.toLong == p.warc_ts.getTime)
          val slice = java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len.toInt)
          assert(java.util.Arrays.equals(slice, member), s"$sub/$seg cdx range of ${p.url}")
        }
      }
      assert(new java.io.File(s"$dir/$sub").list().count(_.startsWith("segment-")) == 6)
    }
  }

  test("a crashed writer's _tmp segment is invisible to ingestion and resume") {
    import spark.implicits._
    val dir = tempRoot("graftwarctmp")
    val pages = (0 until 30).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    Warc.writeSegments(spark.createDataset(pages).coalesce(1), dir)
    // plant a crashed writer's leftover: a full copy under the _tmp name
    val seg = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc")).head
    Files.copy(seg.toPath, seg.toPath.resolveSibling("_tmp-segment-99999.warc"))
    // neither the page reader nor the resume file list may see it
    assert(Warc.readPages(spark, dir).count() == 30, "tmp leftover was ingested (duplicates)")
    assert(Warc.listSegments(spark, dir).size == 1)
    // and the next writer run sweeps it (invisible ≠ leaked forever)
    Warc.writeSegments(spark.createDataset(
      (30 until 40).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)).coalesce(1), dir)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp-")),
      "stale _tmp leftover survived the next writeSegments run")
  }

  test("file-manifest resume: re-run extracts ONLY newly-arrived segments") {
    import spark.implicits._
    val dir = tempRoot("graftwarcresume")
    val first = (0 until 80).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    Warc.writeSegments(spark.createDataset(first).repartition(2), s"$dir/segments")
    val snap1 = graft.job.ExtractJob.runWarc(spark, s"$dir/segments", s"$dir/out")
    assert(snap1.rowCount == 80 && snap1.inputFiles.size == 2)
    assert(snap1.inputFiles.forall(
      graft.job.SnapshotStore.readManifest(s"$dir/out", 1).contains))

    // re-run with nothing new: a 0-row snapshot, no segment re-consumed
    val snap2 = graft.job.ExtractJob.runWarc(spark, s"$dir/segments", s"$dir/out")
    assert(snap2.rowCount == 0)

    // one NEW segment arrives (distinct filename so nothing is clobbered)
    val extra = (80 until 120).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong).page)
    val stage = tempRoot("graftwarcstage")
    Warc.writeSegments(spark.createDataset(extra).coalesce(1), stage)
    val staged = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".warc"))
    assert(staged.length == 1)
    Files.move(staged.head.toPath,
      java.nio.file.Paths.get(s"$dir/segments", "segment-late.warc"))

    // rowLevelResume OFF: only file bookkeeping protects against
    // re-extraction — if the committed segments were rescanned, the 80
    // old urls would duplicate and the total would be 160, not 120
    val snap3 = graft.job.ExtractJob.runWarc(spark, s"$dir/segments", s"$dir/out",
      rowLevelResume = false)
    assert(snap3.rowCount == 40, s"resume re-extracted: ${snap3.rowCount}")
    assert(snap3.inputFiles.size == 1 &&
      snap3.inputFiles.head.endsWith("segment-late.warc"))

    val all = graft.job.ExtractJob.readExtracted(spark, s"$dir/out")
    assert(all.count() == 120)
    assert(all.select("url").distinct().count() == 120)
  }

  test("spark ingestion: warc dir → extraction ≡ direct extraction") {
    import spark.implicits._
    val dir = tempRoot("graftwarc")
    val gens = (0 until 150).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong))
    val ds = spark.createDataset(gens.map(_.page)).repartition(5)
    Warc.writeSegments(ds, s"$dir/segments")
    assert(new java.io.File(s"$dir/segments").listFiles().count(_.getName.endsWith(".warc")) > 1)

    val ingested = Warc.readPages(spark, s"$dir/segments")
    assert(ingested.count() == 150)
    val extracted = graft.job.ExtractJob.extractDS(ingested)
      .select("url", "extracted_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    gens.foreach { g =>
      val direct = Extract(g.page).extracted_text
      assert(extracted(g.page.url) == direct, s"warc path diverges for ${g.page.url}")
    }
  }

  test("robots: RFC 9309 group selection, merging, and longest-match") {
    import graft.sources.Robots
    import graft.sources.Robots.Rule
    // exact product token beats `*`; decoy group ignored; keys
    // case-insensitive; comments stripped; empty Disallow = no rule
    val txt =
      """# preamble
        |Sitemap: https://h/sitemap.xml
        |User-agent: evilbot
        |Disallow: /
        |
        |User-agent: *
        |DISALLOW: /all/
        |
        |User-agent: graftbot # us
        |Crawl-delay: 3
        |Allow: /a/b/
        |disallow: /a/
        |Disallow:
        |
        |User-agent: graftbot
        |Disallow: /merged/
        |""".stripMargin
    val rules = Robots.parse(txt, "graftbot")
    assert(rules.toSet == Set(Rule(5, 1, "/a/b/"), Rule(3, 0, "/a/"),
      Rule(8, 0, "/merged/")), s"got $rules")
    assert(Robots.decide(rules, "/a/x") == (false, "/a/"))
    assert(Robots.decide(rules, "/a/b/x") == (true, "/a/b/")) // longest wins
    assert(Robots.decide(rules, "/merged/x") == (false, "/merged/"))
    assert(Robots.decide(rules, "/elsewhere") == (true, ""))
    // length tie between allow and disallow -> allow wins
    assert(Robots.decide(Seq(Rule(3, 0, "/t/"), Rule(3, 1, "/t/")), "/t/x")
      == (true, "/t/"))
    // no graftbot group -> `*` group applies; no group at all -> allow
    assert(Robots.parse(txt, "otherbot") == Seq(Rule(5, 0, "/all/")))
    assert(Robots.parse("User-agent: evilbot\nDisallow: /", "graftbot").isEmpty)
    // shared-agent group header: two UA lines, one rule block
    val shared = Robots.parse(
      "User-agent: a\nUser-agent: graftbot\nDisallow: /s/", "graftbot")
    assert(shared == Seq(Rule(3, 0, "/s/")))
    // generated families cover all four rule shapes deterministically
    val fams = (0 until 64).map(i => Robots.family(s"host$i.example.org")).toSet
    assert(fams == Set(0, 1, 2, 3))
  }

  test("sitemaps: protocol parse — hazards, defaults, and the generated document") {
    import graft.sources.Sitemaps
    import graft.sources.Sitemaps.Entry
    // hand-written hazards: comments anywhere, namespace decoy tags,
    // entity-escaped + whitespace-padded loc, absent lastmod/priority
    // (defaults), a loc-less <url> block (skipped), unknown tags
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<!-- head comment -->
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url>
        |    <!-- inline -->
        |    <image:loc>https://cdn/decoy.png</image:loc>
        |    <loc>
        |      https://h.example.org/a?x=1&amp;y=2
        |    </loc>
        |    <lastmod>2025-03-04</lastmod>
        |    <changefreq>daily</changefreq>
        |    <priority>0.8</priority>
        |  </url>
        |  <url><loc>https://h.example.org/b</loc></url>
        |  <url><lastmod>2025-01-01</lastmod></url>
        |  <url><video:loc>https://cdn/v.mp4</video:loc></url>
        |</urlset>
        |""".stripMargin
    val es = Sitemaps.parse(xml)
    assert(es == Seq(
      Entry("https://h.example.org/a?x=1&y=2", "2025-03-04", 800000L),
      Entry("https://h.example.org/b", "", 500000L)), s"got $es")
    // double-escape must not double-decode: &amp;lt; -> &lt; (literal)
    assert(Sitemaps.parse("<url><loc>https://h/x?a=&amp;lt;</loc></url>")
      .head.loc == "https://h/x?a=&lt;")
    // generated document: entry count and structure are md5-derivable
    val host = "site-0007.example.org"
    val gen = Sitemaps.parse(Sitemaps.sitemapXml(host))
    val nPage = 12 + Sitemaps.md5Digit(host, 2)
    val nPromo = 1 + Sitemaps.md5Digit(host, 3) % 3
    assert(gen.size == nPage + nPromo)
    val (pages, promos) = gen.partition(_.loc.contains("/page/"))
    assert(pages.size == nPage && promos.size == nPromo)
    // arithmetic index set {a + k*s}; every promo loc entity-decoded
    val a = Sitemaps.md5Digit(host, 0) % 8
    val s = 1 + Sitemaps.md5Digit(host, 1) % 4
    val idxs = pages.map(_.loc.split("/page/")(1).toLong)
    assert(idxs == (0 until nPage).map(k => a + k.toLong * s))
    assert(promos.forall(p => p.loc.contains("?src=map&v=2")
      && p.lastmod == "" && p.priorityMicros == 500000L))
    // absent-priority default on every 7th page entry; 0.x otherwise
    assert(pages.zipWithIndex.forall { case (e, k) =>
      if (k % 7 == 0) e.priorityMicros == 500000L
      else e.priorityMicros == 100000L * (1 + k % 9) })
    // absent lastmod on every 5th page entry
    assert(pages.zipWithIndex.forall { case (e, k) =>
      (k % 5 == 0) == e.lastmod.isEmpty })
  }
}
