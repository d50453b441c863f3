package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.core.{Extract, Page}
import graft.gen.PageGen
import graft.job.{ExtractJob, SnapshotStore}

/** Distributed-correctness gates (north rule):
  *  - byte-identity: distributed extraction == single-threaded oracle
  *    running the same pure function, per url, byte-for-byte
  *    (the Spark analog of the reference's exact-string assertions,
  *    /root/reference/tests/test_document_version.py:49-52);
  *  - idempotent resume: partial run + resume == clean full run;
  *  - lineage manifests: per-partition counts sum to total, error counts
  *    match quarantine rows, warc_ts ranges sane.
  */
class ExtractJobSpec extends AnyFunSuite with TempRoots {

  lazy val spark = graft.job.GraftSession.local("4")

  private def tmp(): String = tempRoot("graftspec")

  val N = 400

  test("WET sidecar emission: per-snapshot records match the snapshot, resume emits nothing") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 120, s"$dir/pages", partitions = 3)
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 3)
    val n = ExtractJob.emitWet(spark, snap, s"$dir/wet")
    val back = graft.sources.Wet.readRecords(spark, s"$dir/wet/wet-${snap.sequence}")
      .collect().sortBy(_.url)
    assert(back.length == n)
    // records must equal the snapshot's clean rows field-for-field
    val expect = spark.read.parquet(snap.dataDir)
      .filter("error IS NULL")
      .selectExpr("url", "warc_ts", "lang", "extracted_text AS text")
      .as[graft.sources.Wet.WetRecord](
        org.apache.spark.sql.Encoders.product[graft.sources.Wet.WetRecord])
      .collect().sortBy(_.url)
    assert(back.toSeq == expect.toSeq)
    // idempotent resume commits a 0-row snapshot -> emitWet is a no-op
    val snap2 = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 3)
    assert(ExtractJob.emitWet(spark, snap2, s"$dir/wet") == 0L)
    assert(!new java.io.File(s"$dir/wet/wet-${snap2.sequence}").exists())
  }

  test("WET re-emission sweeps stale segments; catch-up repairs a crashed emission") {
    import graft.sources.Wet
    val dir = tmp()
    import spark.implicits._
    def recs(n: Int, parts: Int, tag: String) =
      spark.range(0, n, 1, parts).map(i => Wet.WetRecord(
        s"https://h/$tag/$i", new java.sql.Timestamp(1000L + i), "eng", s"text-$tag-$i"))
    // first emission: 8 partitions -> segment-00000..00007 + marker
    assert(Wet.writeSegments(recs(8, 8, "old"), s"$dir/w") == 8L)
    assert(Wet.isComplete(s"$dir/w"))
    // re-emission with FEWER partitions must not leave stale segments
    // for readers to merge in
    assert(Wet.writeSegments(recs(4, 2, "new"), s"$dir/w") == 4L)
    val back = Wet.readRecords(spark, s"$dir/w").collect().map(_.url).sorted
    assert(back.toSeq == (0 until 4).map(i => s"https://h/new/$i"))

    // crash-between-commit-and-emission: snapshot committed, sidecar
    // missing (or partial: segments without the marker) -> the resume
    // re-run commits 0 rows, so only the catch-up can repair it
    ExtractJob.generatePages(spark, 60, s"$dir/pages", partitions = 3)
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 3)
    val n1 = ExtractJob.emitWetMissing(spark, s"$dir/out", s"$dir/wet")
    assert(n1 > 0L)
    // simulate the crash: marker gone, one segment gone
    val wetDir = new java.io.File(s"$dir/wet/wet-${snap.sequence}")
    assert(new java.io.File(wetDir, Wet.DoneMarker).delete())
    assert(wetDir.listFiles().filter(_.getName.startsWith("segment-")).head.delete())
    val n2 = ExtractJob.emitWetMissing(spark, s"$dir/out", s"$dir/wet")
    assert(n2 == n1) // full re-emission of the incomplete dir
    val repaired = Wet.readRecords(spark, s"$dir/wet/wet-${snap.sequence}").count()
    assert(repaired == n1)
    // and once complete, catch-up is a no-op
    assert(ExtractJob.emitWetMissing(spark, s"$dir/out", s"$dir/wet") == 0L)
  }

  test("byte-identity: distributed == single-threaded oracle, per url") {
    val dir = tmp()
    ExtractJob.generatePages(spark, N, s"$dir/pages", partitions = 7)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 5)
    val rows = ExtractJob.readExtracted(spark, s"$dir/out")
      .select("url", "extracted_text").collect()
    assert(rows.length == N)
    rows.foreach { r =>
      val url = r.getString(0)
      val idx = url.substring(url.lastIndexOf('/') + 1).toLong
      val golden = Extract(PageGen.genRow(PageGen.DefaultSeed, idx).page).extracted_text
      assert(java.util.Arrays.equals(r.getString(1).getBytes(UTF_8), golden.getBytes(UTF_8)),
        s"byte mismatch for $url")
    }
  }

  test("routedSelection job option: per-row routed oracle, full coverage, same urls") {
    import org.apache.spark.sql.functions.{col, length}
    import graft.core.EngineSelector.{routeEngineCol, routeReasonCol}
    import spark.implicits._
    val dir = tmp()
    // PageGen writes only eng/deu/fra/spa pages of 800+ bytes, so every
    // third row gets a complex-script lang and eight short pages are
    // added: each routing arm then starts some document
    val complex = Seq("ara", "chi_sim", "chi_tra", "hin", "jpn", "kor", "tha", "vie")
    val generated = (0 until 300).map { i =>
      val p = PageGen.genRow(PageGen.DefaultSeed, i.toLong).page
      if (i % 3 == 0) p.copy(lang = complex(i / 3 % complex.length)) else p
    }
    val short = complex.indices.map { i =>
      Page(s"https://short.example/page/$i", new java.sql.Timestamp(i * 1000L),
        s"<html><body><p>short note number $i</p></body></html>".getBytes(UTF_8), "",
        if (i % 2 == 0) "eng" else complex(i))
    }
    val pages = generated ++ short
    spark.sparkContext.parallelize(pages, 3).toDS().write.parquet(s"$dir/pages")
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out", routedSelection = true)
    val sizes = spark.read.parquet(s"$dir/pages")
      .select(col("url"), length(col("html")).cast("int").as("size"))
    val rows = ExtractJob.readExtracted(spark, s"$dir/out").join(sizes, "url")
      .select(col("url"), col("extracted_text"), col("engine"), col("fallback_used"),
        col("payload_kind"),
        routeEngineCol(col("payload_kind"), col("size"), col("lang")),
        routeReasonCol(col("payload_kind"), col("size"), col("lang")))
      .as[(String, String, String, Boolean, String, String, String)].collect()
    assert(rows.length == pages.length)
    val byUrl = pages.map(p => p.url -> p).toMap
    rows.foreach { case (url, text, engine, fallback, kind, start, _) =>
      val golden = Extract(byUrl(url), routed = true)
      assert(text == golden.extracted_text && engine == golden.engine &&
        fallback == golden.fallback_used, s"routed mismatch for $url")
      // an HTML cascade reports its winner; the start is the other
      // engine exactly when the fallback won
      if (kind == "html")
        assert((if (!fallback) engine else if (engine == "density") "density_relaxed" else "density")
          == start, s"start engine of $url")
    }
    // every arm, and the default, starts at least one document
    val arms = rows.map(_._7).map(r => if (r.startsWith("lang:")) "lang" else r).toSet
    assert(arms == Set("kind:pdf", "kind:unknown", "quality:poor", "lang", "default"))
  }

  test("routing-mode guard: resuming with the other engine-selection mode is refused") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 60, s"$dir/pages", partitions = 2)
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out") // strict
    assert(snap.routing == "strict")
    assert(SnapshotStore.readManifest(s"$dir/out", 1).contains("\"routing\":\"strict\""))
    // new files arrive; flipping the flag on resume must refuse, not mix
    ExtractJob.generatePages(spark, 120, s"$dir/pages", partitions = 2,
      start = 60, append = true)
    val e = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, s"$dir/pages", s"$dir/out", routedSelection = true)
    }
    assert(e.getMessage.contains("routing=strict"))
    // the refused attempt must not have committed anything or left the lock
    assert(SnapshotStore.currentSequence(s"$dir/out") == 1)
    val snap2 = ExtractJob.run(spark, s"$dir/pages", s"$dir/out") // same mode: fine
    assert(snap2.rowCount == 60 && snap2.routing == "strict")
    // appendSnapshot enforces the same invariant
    val routedRoot = s"$dir/routed"
    ExtractJob.run(spark, s"$dir/pages", routedRoot, routedSelection = true)
    val extra = ExtractJob.extractDS(ExtractJob.readPages(spark, s"$dir/pages"))
    intercept[IllegalArgumentException] {
      ExtractJob.appendSnapshot(extra, routedRoot) // strict into a routed table
    }
  }

  test("extraction-version guard: a chain committed by an older kernel refuses resume/append") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 60, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // simulate an older-kernel chain: rewrite v1's manifest version tag
    val mPath = java.nio.file.Paths.get(s"$dir/out/snapshots/v1.json")
    val rewritten = new String(java.nio.file.Files.readAllBytes(mPath), UTF_8)
      .replace(graft.core.ExtractionVersion.current, "graft-extract-0")
    java.nio.file.Files.write(mPath, rewritten.getBytes(UTF_8))
    ExtractJob.generatePages(spark, 120, s"$dir/pages", partitions = 2,
      start = 60, append = true)
    val e = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    }
    assert(e.getMessage.contains("graft-extract-0"))
    assert(SnapshotStore.currentSequence(s"$dir/out") == 1) // nothing committed
    val extra = ExtractJob.extractDS(ExtractJob.readPages(spark, s"$dir/pages"))
    intercept[IllegalArgumentException] {
      ExtractJob.appendSnapshot(extra, s"$dir/out")
    }
    // compaction is LAYOUT-only, so a newer binary may compact the old
    // chain — and must carry the chain's kernel version forward, not
    // stamp its own (which would trip the mixed-version check)
    val rowsBefore = ExtractJob.readExtracted(spark, s"$dir/out").count()
    val snap = ExtractJob.compact(spark, s"$dir/out")
    assert(snap.extractionVersion == "graft-extract-0")
    assert(SnapshotStore.chainIdentity(s"$dir/out", SnapshotStore.chain(s"$dir/out"))._2 == Some("graft-extract-0"))
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == rowsBefore)
  }

  test("compaction fills schema gaps: a genuinely pre-v3 chain (no out_links column) compacts") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    ExtractJob.generatePages(spark, 60, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // simulate a chain written by an out_links-less kernel: physically
    // rewrite the data dir WITHOUT the column (not just the version tag
    // - round-4 ADVICE #1 flagged that the old test only faked the tag
    // over v3-schema data)
    val dataDir = SnapshotStore.dataDirs(s"$dir/out").head
    val stripped = spark.read.parquet(dataDir).drop("out_links")
    val tmpDir = s"$dir/stripped"
    stripped.write.parquet(tmpDir)
    def clearDir(d: java.io.File): Unit =
      d.listFiles().filter(_.isFile).foreach(_.delete())
    clearDir(new java.io.File(dataDir))
    new java.io.File(tmpDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        Files.copy(f.toPath, java.nio.file.Paths.get(dataDir, f.getName))
      }
    val mPath = java.nio.file.Paths.get(s"$dir/out/snapshots/v1.json")
    val rewritten = new String(Files.readAllBytes(mPath), UTF_8)
      .replace(graft.core.ExtractionVersion.current, "graft-extract-2")
    Files.write(mPath, rewritten.getBytes(UTF_8))
    val snap = ExtractJob.compact(spark, s"$dir/out")
    assert(snap.rowCount == 60)
    assert(snap.extractionVersion == "graft-extract-2")
    val after = ExtractJob.readExtracted(spark, s"$dir/out")
    assert(after.count() == 60)
    // the gap column comes back as a typed EMPTY array, not null
    assert(after.filter(col("out_links").isNull).count() == 0)
    assert(after.selectExpr("max(size(out_links))").collect()(0).getInt(0) == 0)
  }

  test("compacting a root with no committed snapshot fails and creates nothing") {
    val missing = java.nio.file.Paths.get(tmp(), "never-written")
    val e = intercept[IllegalArgumentException](ExtractJob.compact(spark, missing.toString))
    assert(e.getMessage.contains("nothing to compact"))
    assert(!Files.exists(missing), "a failed compaction left the root directory behind")
  }

  test("compaction: verbatim rewrite, resume intact, time travel until expiry") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    // a growing crawl committed as three snapshots
    ExtractJob.generatePages(spark, 50, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.generatePages(spark, 100, s"$dir/pages", partitions = 2, start = 50, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.generatePages(spark, 150, s"$dir/pages", partitions = 2, start = 100, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val before = ExtractJob.readExtracted(spark, s"$dir/out")
      .drop("partition_id") // lineage metadata, re-derived by the rewrite
    val beforeRows = before.collect().toSet
    val dirsBefore = SnapshotStore.dataDirs(s"$dir/out")
    assert(dirsBefore.size == 3)

    val snap = ExtractJob.compact(spark, s"$dir/out")
    assert(snap.replaces == 3 && snap.rowCount == 150)
    // reads now scan exactly ONE dir, rows verbatim
    assert(SnapshotStore.dataDirs(s"$dir/out") == Seq(snap.dataDir))
    val after = ExtractJob.readExtracted(spark, s"$dir/out").drop("partition_id")
    assert(after.collect().toSet == beforeRows, "compaction changed the row multiset")
    // file-level resume still no-ops (the compacted manifest carries the union)
    val resumed = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(resumed.rowCount == 0L)
    // time travel below the boundary reads the retained original dirs
    assert(ExtractJob.readExtractedAsOf(spark, s"$dir/out", 2).count() == 100)
    // appends after compaction compose: new pages land in a new dir
    ExtractJob.generatePages(spark, 180, s"$dir/pages", partitions = 2, start = 150, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 180)
    assert(SnapshotStore.dataDirs(s"$dir/out").size == 2) // compacted + new
    // expiry reclaims the replaced dirs; pre-boundary time travel now an
    // explicit integrity error, reads at/above the boundary unaffected
    val expired = SnapshotStore.expireReplaced(s"$dir/out")
    assert(expired.size == 3)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 180)
    val e = intercept[IllegalStateException] {
      ExtractJob.readExtractedAsOf(spark, s"$dir/out", 2).count()
    }
    assert(e.getMessage.contains("missing"))
    // compacting a compacted chain composes too (new boundary at seq 6)
    val snap2 = ExtractJob.compact(spark, s"$dir/out")
    assert(snap2.rowCount == 180 && SnapshotStore.dataDirs(s"$dir/out") == Seq(snap2.dataDir))
    assert(ExtractJob.readExtracted(spark, s"$dir/out")
      .filter(col("error").isNull).count() ==
      ExtractJob.readExtractedAsOf(spark, s"$dir/out", snap2.sequence)
        .filter(col("error").isNull).count())
  }

  test("resume: partial run + resume == clean full run (idempotent)") {
    val dir = tmp()
    // a growing crawl: first half arrives, is committed, then the rest
    // lands as NEW files in the same table directory
    ExtractJob.generatePages(spark, N / 2, s"$dir/pages", partitions = 4)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/resumed")
    ExtractJob.generatePages(spark, N, s"$dir/pages", partitions = 4,
      start = N / 2, append = true)
    val snap2 = ExtractJob.run(spark, s"$dir/pages", s"$dir/resumed")
    assert(snap2.rowCount == N - N / 2, s"resume re-did work: ${snap2.rowCount}")

    ExtractJob.generatePages(spark, N, s"$dir/pages_clean", partitions = 4)
    ExtractJob.run(spark, s"$dir/pages_clean", s"$dir/clean")

    val a = ExtractJob.readExtracted(spark, s"$dir/resumed")
      .select("url", "extracted_text", "payload_kind", "error")
    val b = ExtractJob.readExtracted(spark, s"$dir/clean")
      .select("url", "extracted_text", "payload_kind", "error")
    assert(a.count() == N && b.count() == N)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "resumed contents differ from clean run")
  }

  test("S6 preview artifacts: per-doc preview + digest sidecar committed with each snapshot") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 80, s"$dir/pages", partitions = 2)
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val art = ExtractJob.readArtifacts(spark, s"$dir/out", snap.sequence)
    assert(art.columns.sorted.toSeq == Seq("preview", "text_sha256", "url"))
    assert(art.count() == 80)
    // previews/digests are exact derivations of the committed text
    val joined = art.join(ExtractJob.readExtracted(spark, s"$dir/out"), Seq("url"))
      .select("url", "preview", "text_sha256", "extracted_text").collect()
    assert(joined.length == 80)
    joined.foreach { r =>
      val text = Option(r.getString(3)).getOrElse("")
      assert(r.getString(1) == text.take(ExtractJob.PreviewChars), s"preview mismatch ${r.getString(0)}")
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(2) == sha, s"digest mismatch ${r.getString(0)}")
    }
    // a 0-row resume snapshot is a valid EMPTY table with the same columns
    val noop = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(noop.rowCount == 0)
    val empty = ExtractJob.readArtifacts(spark, s"$dir/out", noop.sequence)
    assert(empty.columns.toSeq == art.columns.toSeq && empty.isEmpty)
    // an unknown sequence is an error, never an index or path exception
    for (bad <- Seq(0, noop.sequence + 1)) {
      val e = intercept[IllegalArgumentException](
        ExtractJob.readArtifacts(spark, s"$dir/out", bad))
      assert(e.getMessage.contains(s"unknown snapshot seq=$bad") &&
        e.getMessage.contains(s"(committed: 1..${noop.sequence})"), e.getMessage)
    }
  }

  test("signature SVG sidecar: well-formed vector artifact per planted signed form") {
    import graft.forms.{FormDetector, SignatureCompare, SignatureSvg}
    val dir = tmp()
    ExtractJob.generatePages(spark, N, s"$dir/pages", partitions = 3)
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", signatureArtifacts = true)
    val svgs = spark.read.parquet(ExtractJob.signatureDir(s"$dir/out", snap.sequence))
      .select("url", "signer", "svg").collect()
    assert(svgs.nonEmpty, "no planted signed forms produced an SVG")
    // exactly the signed-form population the pairing pipeline (q43) sees
    val signed = SignatureCompare.signedForms(
      ExtractJob.readPages(spark, s"$dir/pages")).select("url")
      .collect().map(_.getString(0)).toSet
    assert(svgs.map(_.getString(0)).toSet == signed)
    val db = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
    svgs.foreach { r =>
      val url = r.getString(0); val svg = r.getString(2)
      // well-formed standalone XML with the svg root + xmlns
      val doc = db.parse(new java.io.ByteArrayInputStream(svg.getBytes("UTF-8")))
      assert(doc.getDocumentElement.getTagName == "svg", url)
      assert(doc.getDocumentElement.getAttribute("xmlns") == "http://www.w3.org/2000/svg", url)
      val nPaths = doc.getDocumentElement.getElementsByTagName("path").getLength
      assert(nPaths >= 1, url)
      // exact single-threaded oracle: re-derive the artifact from the
      // planted page (the byte-identity pattern of the text snapshot)
      val idx = url.substring(url.lastIndexOf('/') + 1).toLong
      val fields = FormDetector.detectHtml(
        PageGen.genRow(PageGen.DefaultSeed, idx).page.html).fields
      val golden = SignatureSvg.trace(SignatureSvg.inkText(fields).get)
      assert(svg == golden, s"svg mismatch for $url")
      // the vectorization is real: one path per connected ink component
      // (= non-whitespace chars of the capped ink text)
      val expectPaths = SignatureSvg.inkText(fields).get
        .take(SignatureSvg.MaxChars).count(!_.isWhitespace)
      assert(nPaths == expectPaths, s"path count for $url")
    }
    // default-off: the flagship job writes no signature sidecar
    val dir2 = tmp()
    ExtractJob.generatePages(spark, 60, s"$dir2/pages", partitions = 2)
    val s2 = ExtractJob.run(spark, s"$dir2/pages", s"$dir2/out")
    assert(!new java.io.File(ExtractJob.signatureDir(s"$dir2/out", s2.sequence)).exists())
  }

  test("store relocation: a moved table reads via root-relative data dirs") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 80, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val n = ExtractJob.readExtracted(spark, s"$dir/out").count()
    // move the whole store: manifests still record the OLD absolute
    // data_dir; reads must resolve <newRoot>/data/<basename> instead
    val moved = tmp() + "/relocated"
    Files.move(java.nio.file.Paths.get(s"$dir/out"),
      java.nio.file.Paths.get(moved))
    assert(ExtractJob.readExtracted(spark, moved).count() == n)
    assert(ExtractJob.readChanges(spark, moved, 0, 1).count() == n)
    assert(ExtractJob.readArtifacts(spark, moved, 1).count() == n)
    // a genuinely missing dir still fails loudly after relocation
    SnapshotStore.deleteRecursively(s"$moved/data")
    intercept[IllegalStateException] {
      ExtractJob.readExtracted(spark, moved).count()
    }
  }

  test("store relocation: expiry reclaims the relocated dirs, not the stale paths") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 80, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.compact(spark, s"$dir/out")
    val moved = tmp() + "/relocated"
    Files.move(java.nio.file.Paths.get(s"$dir/out"),
      java.nio.file.Paths.get(moved))
    val deleted = SnapshotStore.expireReplaced(moved)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith(moved)),
      s"expiry must resolve against the moved root: $deleted")
    assert(!new java.io.File(s"$moved/data/snap-1").exists())
    // the compacted dir still serves reads at/above the boundary
    assert(ExtractJob.readExtracted(spark, moved).count() == 80)
  }

  test("store copy-migration: expiry reclaims the copy's dirs, source table untouched") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 80, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.compact(spark, s"$dir/out")
    // copy-based migration: source stays live until cutover
    val copied = tmp() + "/copied"
    val src = java.nio.file.Paths.get(s"$dir/out")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = java.nio.file.Paths.get(copied).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val deleted = SnapshotStore.expireReplaced(copied)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith(copied)),
      s"expiry on the copy must never touch the source table: $deleted")
    assert(new java.io.File(s"$dir/out/data/snap-1").exists(),
      "source table's replaced dir must survive expiry of the copy")
    assert(!new java.io.File(s"$copied/data/snap-1").exists())
    assert(ExtractJob.readExtracted(spark, copied).count() == 80)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 80)
  }

  test("export job: packed shards + manifest, budget respected, doc conservation") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    ExtractJob.generatePages(spark, 300, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val stats = graft.job.ExportJob.run(spark, s"$dir/out", s"$dir/export",
      budget = 512L)
    assert(graft.job.ExportJob.isComplete(s"$dir/export"))
    val packed = spark.read.parquet(s"$dir/export/packed")
    // every eligible doc exported exactly once
    val eligible = ExtractJob.readExtracted(spark, s"$dir/out")
      .filter(col("error").isNull && col("payload_kind") === "html" &&
        length(col("extracted_text")) > 0)
      .select(explode(graft.ops.TextStats.lowerToks(col("extracted_text"))).as("w"),
        col("url"))
      .filter(col("w").rlike("^[a-z]+$"))
      .select("url").distinct().count()
    assert(packed.select("url").distinct().count() == eligible)
    assert(packed.count() == eligible)
    // manifest totals == parquet totals
    assert(stats.values.map(_.docs).sum == eligible)
    assert(stats.values.map(_.tokens).sum ==
      packed.agg(sum("n_tokens")).head.getLong(0))
    assert(stats.keySet == Set("train", "val", "test"))
    // a multi-doc sequence never exceeds the budget (an oversized doc
    // may sit alone over budget by contract)
    val over = packed.groupBy("grp", "seq_id")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
      .filter(col("t") > 512 && col("n") > 1).count()
    assert(over == 0, "multi-doc sequence over budget")
    // deterministic: re-export produces the identical assignment
    graft.job.ExportJob.run(spark, s"$dir/out", s"$dir/export2", budget = 512L)
    val a = packed.orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(s"$dir/export2/packed").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("re-run on committed table is a no-op snapshot") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 100, s"$dir/pages")
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val snap2 = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(snap2.rowCount == 0)
    assert(SnapshotStore.currentSequence(s"$dir/out") == 2)
  }

  test("lineage manifest: partition counts sum, errors == quarantine rows") {
    val dir = tmp()
    ExtractJob.generatePages(spark, N, s"$dir/pages")
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 6)
    assert(snap.partitions.map(_.rowCount).sum == N)
    val quarantined = ExtractJob.readExtracted(spark, s"$dir/out")
      .filter("error is not null").count()
    assert(snap.partitions.map(_.errorCount).sum == quarantined)
    snap.partitions.foreach { p =>
      assert(p.warcTsMin >= 1735689600000L && p.warcTsMax < 1735689600000L + 31L * 86400000)
      assert(p.warcTsMin <= p.warcTsMax)
    }
    // manifest json round-trips and names the extraction version
    val m = SnapshotStore.readManifest(s"$dir/out", snap.sequence)
    assert(m.contains("\"extraction_version\":\"" + graft.core.ExtractionVersion.current + "\""))
  }

  test("commit job budget: one ExtractJob.run commit stays within its Spark job ceiling") {
    val dir = tmp()
    ExtractJob.generatePages(spark, N, s"$dir/pages", partitions = 2)
    val (snap, counts) = SparkJobs.count(spark)(ExtractJob.run(spark, s"$dir/pages", s"$dir/out"))
    assert(snap.rowCount == N)
    info(s"ExtractJob.run launched ${counts.jobs} Spark jobs in ${counts.executions} SQL executions")
    // the commit is the snapshot write alone: lineage rides the write
    // tasks, artifacts and events are derived on read. Measured: 4 jobs
    // (two input schema reads, the shuffle map and the write) in 1 SQL
    // execution; the ceiling is that count + ~10%, rounded up
    assert(counts.executions == 1, s"ExtractJob.run ran ${counts.executions} SQL executions")
    assert(counts.jobs <= 5, s"ExtractJob.run launched ${counts.jobs} jobs")
  }

  test("lineage parity: manifest partitions equal the aggregate over the written dir") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmp()
    ExtractJob.generatePages(spark, 200, s"$dir/pages", partitions = 2)
    // more partitions than rows: some partitions are empty
    val snap = ExtractJob.run(spark, s"$dir/pages", s"$dir/out", numPartitions = 256, saltBuckets = 1)
    // a streamed batch without warc_ts: every partition records 0/0
    val undated = ExtractJob.readExtracted(spark, s"$dir/out").drop("partition_id")
      .orderBy("url").limit(12)
      .withColumn("url", concat(col("url"), lit("?undated")))
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .as[graft.core.ExtractedDoc]
    val snap2 = ExtractJob.appendSnapshot(undated, s"$dir/out", numPartitions = 8)
    for (s <- Seq(snap, snap2)) {
      // the aggregate the commit used to run over its written dir
      val expected = spark.read.parquet(s.dataDir)
        .groupBy(col("partition_id"))
        .agg(count(lit(1)).as("row_count"),
          sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("error_count"),
          min(unix_millis(col("warc_ts"))).as("ts_min"),
          max(unix_millis(col("warc_ts"))).as("ts_max"))
        .collect()
        .map(r => graft.job.PartitionLineage(r.getAs[Int]("partition_id"),
          r.getAs[Long]("row_count"), r.getAs[Long]("error_count"),
          r.getAs[Long]("ts_min"), r.getAs[Long]("ts_max")))
        .sortBy(_.partitionId).toSeq
      assert(s.partitions == expected, s"v${s.sequence}")
      assert(SnapshotStore.chain(s"$dir/out")(s.sequence - 1).partitions == expected)
    }
    assert(snap.rowCount == 200 && snap.partitions.size < 256, snap.partitions.size)
    assert(snap.partitions.map(_.errorCount).sum > 0, "expected quarantined rows")
    assert(snap2.rowCount == 12 &&
      snap2.partitions.forall(p => p.warcTsMin == 0L && p.warcTsMax == 0L))
  }

  test("salting flattens zipfian host skew in output partitions") {
    val dir = tmp()
    val rows = 20000
    ExtractJob.generatePages(spark, rows, s"$dir/pages", partitions = 8)
    // host-only clustering (saltBuckets=1): the hottest host (zipfian
    // head, ~14% of rows) melts one partition
    val unsalted = ExtractJob.run(spark, s"$dir/pages", s"$dir/unsalted",
      numPartitions = 32, saltBuckets = 1)
    // salted over 8 buckets: the head host spreads out
    val salted = ExtractJob.run(spark, s"$dir/pages", s"$dir/salted",
      numPartitions = 32, saltBuckets = 8)
    def maxShare(s: graft.job.Snapshot): Double =
      s.partitions.map(_.rowCount).max.toDouble / rows
    val u = maxShare(unsalted)
    val sa = maxShare(salted)
    info(f"max partition share: unsalted=${u * 100}%.1f%% salted=${sa * 100}%.1f%%")
    assert(u > 0.10, f"expected zipfian head to melt a partition, got $u%.3f")
    assert(sa < u / 2.0, f"salting should flatten: $sa%.3f vs $u%.3f")
  }

  test("time travel: as-of snapshot N returns exactly the rows committed then") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 100, s"$dir/pages", partitions = 3)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.generatePages(spark, 180, s"$dir/pages", partitions = 3,
      start = 100, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(ExtractJob.readExtractedAsOf(spark, s"$dir/out", 1).count() == 100)
    assert(ExtractJob.readExtractedAsOf(spark, s"$dir/out", 2).count() == 180)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 180)
    // as-of is a strict prefix: every url at seq 1 exists at seq 2
    val v1 = ExtractJob.readExtractedAsOf(spark, s"$dir/out", 1).select("url")
    val v2 = ExtractJob.readExtractedAsOf(spark, s"$dir/out", 2).select("url")
    assert(v1.exceptAll(v2).isEmpty)
    // unknown versions error (no silent clamp to latest)
    intercept[IllegalArgumentException] {
      ExtractJob.readExtractedAsOf(spark, s"$dir/out", 99)
    }
    // a committed-but-empty version is a valid empty table
    val snap3 = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(snap3.rowCount == 0)
    assert(ExtractJob.readExtractedAsOf(spark, s"$dir/out", 3).count() == 180)
  }

  test("concurrent-writer guard: second writer fails fast while lock held") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 50, s"$dir/pages")
    graft.job.SnapshotStore.acquireLock(s"$dir/out") // simulate a live writer
    val e = intercept[IllegalStateException] {
      ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    }
    assert(e.getMessage.contains("commit.lock"))
    graft.job.SnapshotStore.releaseLock(s"$dir/out")
    // after release the run proceeds and cleans its own lock
    assert(ExtractJob.run(spark, s"$dir/pages", s"$dir/out").rowCount == 50)
    assert(!new java.io.File(s"$dir/out/commit.lock").exists())
  }

  test("crash-resilience: stray uncommitted data dir is overwritten, not double-counted") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 100, s"$dir/pages")
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // simulate a crashed writer: data for snap-2 exists but was never committed
    val stray = new java.io.File(s"$dir/out/data/snap-2")
    stray.mkdirs()
    Files.writeString(stray.toPath.resolve("garbage.txt"), "crashed")
    val snap2 = ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(snap2.sequence == 2 && snap2.rowCount == 0)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 100)
  }

  test("incremental reads: change windows are exact deltas, skip no-ops and compaction, error after expiry") {
    val dir = tmp()
    // three appends -> snapshots 1..3 (50 + 50 + 50 rows), then a no-op
    ExtractJob.generatePages(spark, 50, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.generatePages(spark, 100, s"$dir/pages", partitions = 2, start = 50, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.generatePages(spark, 150, s"$dir/pages", partitions = 2, start = 100, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    val noop = ExtractJob.run(spark, s"$dir/pages", s"$dir/out") // seq 4, 0 rows
    assert(noop.rowCount == 0L)
    // delta windows are exact: (1,3] = snaps 2+3's rows, disjoint from snap 1
    val w23 = ExtractJob.readChanges(spark, s"$dir/out", 1, 3)
    assert(w23.count() == 100)
    val w1 = ExtractJob.readChanges(spark, s"$dir/out", 0, 1)
    val all = ExtractJob.readExtracted(spark, s"$dir/out")
    assert(w1.count() + w23.count() == all.count())
    assert(w1.select("url").intersect(w23.select("url")).count() == 0)
    // a window of only the no-op snapshot is a valid EMPTY table
    assert(ExtractJob.readChanges(spark, s"$dir/out", 3, 4).count() == 0)
    // compaction (seq 5) rewrites rows but ADDS none: window over it is empty
    ExtractJob.compact(spark, s"$dir/out")
    assert(ExtractJob.readChanges(spark, s"$dir/out", 4, 5).count() == 0)
    // a window before the boundary still reads (retained dirs) until expiry
    assert(ExtractJob.readChanges(spark, s"$dir/out", 1, 2).count() == 50)
    SnapshotStore.expireReplaced(s"$dir/out")
    val e = intercept[IllegalStateException] {
      ExtractJob.readChanges(spark, s"$dir/out", 1, 2).count()
    }
    assert(e.getMessage.contains("missing"))
    // out-of-range windows are errors, never clamps
    intercept[IllegalArgumentException] {
      ExtractJob.readChanges(spark, s"$dir/out", 0, 99)
    }
  }

  test("change consumer: checkpointed cycles see each row exactly once; crash replays (at-least-once)") {
    import graft.job.ChangeConsumer
    val dir = tmp()
    val ckpt = s"$dir/consumer/last_seq"
    val seen = scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]()
    def cycle(): (Int, Int) =
      ChangeConsumer.consumeOnce(spark, s"$dir/out", ckpt) { (df, from, to) =>
        seen += ((from, to, df.count()))
      }
    // cycle over a growing chain
    ExtractJob.generatePages(spark, 50, s"$dir/pages", partitions = 2)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    assert(cycle() == (0, 1) && seen.last == ((0, 1, 50L)))
    ExtractJob.generatePages(spark, 120, s"$dir/pages", partitions = 2, start = 50, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out") // no-op snap 3
    assert(cycle() == (1, 3) && seen.last == ((1, 3, 70L)))
    // nothing new: process is NOT called, checkpoint stays
    val n = seen.size
    assert(cycle() == (3, 3) && seen.size == n)
    // every row consumed exactly once across cycles
    assert(seen.map(_._3).sum == 120L)
    // crash between process and checkpoint == stale checkpoint: replay
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt), "1".getBytes)
    assert(cycle() == (1, 3) && seen.last == ((1, 3, 70L)))
    // checkpoint ahead of the chain is an explicit error
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt), "9".getBytes)
    intercept[IllegalArgumentException] { cycle() }
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt), "3".getBytes)
    // a consumer keeps working across a compaction boundary: the
    // compaction snapshot (rows verbatim, none new) yields an empty
    // cycle, and rows appended after it arrive exactly once
    ExtractJob.compact(spark, s"$dir/out") // seq 4
    assert(cycle() == (3, 4) && seen.last._3 == 0L)
    ExtractJob.generatePages(spark, 160, s"$dir/pages", partitions = 2, start = 120, append = true)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out") // seq 5
    assert(cycle() == (4, 5) && seen.last._3 == 40L)
    // a corrupted checkpoint is an explicit refusal, never a full replay
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt), "garbage".getBytes)
    val ce = intercept[IllegalStateException] { cycle() }
    assert(ce.getMessage.contains("corrupted"))
  }
}
