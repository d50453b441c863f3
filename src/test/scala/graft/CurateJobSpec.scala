package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.job.{CurateJob, ExtractJob, SnapshotStore}

/** The end-to-end curation job: every published property of the
  * composed pipeline checked on a generated corpus — dedup exactness,
  * gate monotonicity, cap enforcement, split totality, determinism. */
class CurateJobSpec extends AnyFunSuite with TempRoots {

  lazy val spark = graft.job.GraftSession.local("4")

  private def tmp(): String = tempRoot("curatespec")

  /** 600 generated pages plus planted exact dups and a same-url
    * re-crawl, extracted into `<dir>/out`; shared by the property test
    * and the job budget. */
  private lazy val corpus: String = {
    val dir = tmp()
    ExtractJob.generatePages(spark, 600, s"$dir/pages", partitions = 3)
    // plant EXACT duplicates (the generator's mirrors are near-dups, so
    // exact content dedup would otherwise be vacuous here): 20 pages
    // re-crawled under different urls with byte-identical payloads
    spark.read.parquet(s"$dir/pages").orderBy(col("url")).limit(20)
      .withColumn("url", concat(col("url"), lit("?utm=copy")))
      .write.mode("append").parquet(s"$dir/pages")
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // plant a SAME-url re-crawl with changed content directly in the
    // extraction table (possible within one ingestion batch): curation
    // must keep exactly one row per url
    ExtractJob.readExtracted(spark, s"$dir/out")
      .filter(col("error").isNull && col("payload_kind") === "html")
      .orderBy(col("url")).limit(5)
      .withColumn("extracted_text", concat(col("extracted_text"), lit(" recrawl-delta")))
      .write.mode("append").parquet(SnapshotStore.dataDirs(s"$dir/out").head)
    dir
  }

  test("curate: funnel monotone, dedup exact, host cap enforced, splits total, deterministic") {
    val dir = corpus
    val f = CurateJob.run(spark, s"$dir/out", s"$dir/curated", perHostCap = 3)

    // funnel is a monotone filter chain and the manifest records it
    assert(f.extracted >= f.html && f.html >= f.urlFiltered &&
      f.urlFiltered >= f.deduped &&
      f.deduped >= f.fuzzyDeduped && f.fuzzyDeduped >= f.gated &&
      f.gated >= f.kept && f.kept > 0, f.toString)
    // no blocklist supplied: the url rung is a pass-through
    assert(f.urlFiltered == f.html)
    // the generator plants near-dup mirrors: the fuzzy stage must bite
    assert(f.fuzzyDeduped < f.deduped, "expected near-dup mirrors to fold")
    val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/curated/funnel.json"))
    assert(manifest.contains(s""""kept":${f.kept}""") &&
      manifest.contains(""""per_host_cap":3"""), manifest)

    val out = spark.read.parquet(s"$dir/curated/data")
    assert(out.count() == f.kept)
    // url uniqueness despite the planted same-url re-crawl
    assert(out.select(col("url")).distinct().count() == f.kept)
    // dedup exactness: curated text digests are unique
    assert(out.select(md5(col("extracted_text").cast("binary"))).distinct().count() == f.kept)
    // the generator plants exact mirrors, so dedup must actually bite
    assert(f.deduped < f.html, "expected planted duplicates to be removed")
    // host cap enforced
    val maxPerHost = out.groupBy(col("host")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(maxPerHost <= 3, s"host cap violated: $maxPerHost")
    // split totality + the md5-bucket rule re-derived per row
    val bad = out.filter(
      graft.ops.Balance.splitAssign(col("url")) =!= col("split")).count()
    assert(bad == 0)
    assert(out.select(col("split")).distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    // quality gate: every curated row clears the kept-median threshold
    // (re-derive the threshold from the curated rows' own lower bound:
    // min(quality) must be >= the median of the PRE-cap gated set is
    // not re-derivable here, but the gate implies a hard floor)
    assert(out.agg(min(col("quality"))).head().getDouble(0) >= 0.0)

    // determinism: an independent run produces the identical row multiset
    val f2 = CurateJob.run(spark, s"$dir/out", s"$dir/curated2", perHostCap = 3)
    assert(f2 == f)
    val out2 = spark.read.parquet(s"$dir/curated2/data")
    assert(out.exceptAll(out2).isEmpty && out2.exceptAll(out).isEmpty,
      "curation is not deterministic")
  }

  test("curate: job budget — CurateJob.run stays within its Spark job ceiling on the spec corpus") {
    val dir = corpus
    val (f, counts) = SparkJobs.count(spark)(
      CurateJob.run(spark, s"$dir/out", s"$dir/curated-budget", perHostCap = 3))
    assert(f.kept > 0, f.toString)
    info(s"CurateJob.run launched ${counts.jobs} Spark jobs")
    // measured count (46) + ~7% headroom; it holds only while the fuzzy
    // stage reads its bands and candidates from one staged copy (lazy
    // re-reads re-run the LSH chain per reference: 114 jobs here), the
    // dedup rungs are aggregates (not self-joins), every funnel rung is
    // observed, not counted, and the LSH cap's dropped buckets are
    // counted by the cap's own aggregate (a separate count job: 50)
    assert(counts.jobs <= 49, s"CurateJob.run launched ${counts.jobs} jobs")
  }

  test("curate: one CurateJob.run reads the extraction table once") {
    val dir = corpus
    val tableRows = ExtractJob.readExtracted(spark, s"$dir/out").count()
    val (_, counts) = SparkJobs.count(spark)(
      CurateJob.run(spark, s"$dir/out", s"$dir/curated-reads", perHostCap = 3))
    info(s"CurateJob.run scanned ${counts.scannedRecords} records: table $tableRows")
    // the funnel's table counts are observed on the scan that feeds the
    // dedup rungs; a separate aggregate for them scanned the table again
    assert(counts.scannedRecords == tableRows)
  }

  test("export: job budget — ExportJob.run stays within its Spark job ceiling on the spec corpus") {
    val dir = corpus
    val (stats, counts) = SparkJobs.count(spark)(
      graft.job.ExportJob.run(spark, s"$dir/out", s"$dir/export-budget"))
    assert(stats.values.map(_.docs).sum > 0, stats.toString)
    info(s"ExportJob.run launched ${counts.jobs} Spark jobs")
    // measured count (14) + ~7% headroom; it holds only while the url
    // rung is one aggregate (its self-join read the table twice per
    // reference, and the docs are referenced twice: 19 jobs)
    assert(counts.jobs <= 15, s"ExportJob.run launched ${counts.jobs} jobs")
  }

  test("export: one ExportJob.run reads the extraction table once") {
    val dir = corpus
    val tableRows = ExtractJob.readExtracted(spark, s"$dir/out").count()
    val (_, counts) = SparkJobs.count(spark)(
      graft.job.ExportJob.run(spark, s"$dir/out", s"$dir/export-reads"))
    val packedRows = spark.read.parquet(s"$dir/export-reads/packed").count()
    info(s"ExportJob.run scanned ${counts.scannedRecords} records: table $tableRows, packed $packedRows")
    // the docs feed both the BPE word count and the packed write; read
    // lazily, each use re-ran the scan (2 x the table rows). The stats
    // pass reads the packed output back once.
    assert(counts.scannedRecords == tableRows + packedRows)
  }

  test("curate: ftfy rung folds upstream-mangled twins into their clean originals") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 300, s"$dir/pages", partitions = 3)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // plant 5 upstream-mangled twins: same content under a different
    // url, served UTF-8-as-Latin-1 mangled (the q108 defect). Exact
    // dedup can only fold them into their originals if the repair rung
    // runs first — mangled bytes hash differently. The rlike filter
    // keeps only docs with a non-ASCII char, so the mangle is never an
    // identity (an identical twin would fold with or without repair).
    val twins = ExtractJob.readExtracted(spark, s"$dir/out")
      .filter(col("error").isNull && col("payload_kind") === "html" &&
        col("extracted_text").rlike("[^\\x00-\\x7F]"))
      .orderBy(col("url")).limit(5)
      .withColumn("url", concat(col("url"), lit("?feed=mangled")))
      .withColumn("extracted_text",
        decode(encode(col("extracted_text"), "UTF-8"), "ISO-8859-1"))
    assert(twins.count() == 5, "expected 5 non-ASCII html docs to twin")
    twins.write.mode("append").parquet(SnapshotStore.dataDirs(s"$dir/out").head)

    val f = CurateJob.run(spark, s"$dir/out", s"$dir/curated", perHostCap = 1000)
    assert(f.mojibakeRepaired == 5, f.toString)
    val manifest = Files.readString(
      java.nio.file.Paths.get(s"$dir/curated/funnel.json"))
    assert(manifest.contains("\"mojibake_repaired\":5"), manifest)

    // rung disabled: the twins' digests differ from their originals, so
    // exact dedup keeps all 5 extra docs — the defect the rung exists for
    val f2 = CurateJob.run(spark, s"$dir/out", s"$dir/curated2",
      perHostCap = 1000, repairMojibake = false)
    assert(f2.mojibakeRepaired == 0L)
    assert(f2.deduped == f.deduped + 5,
      s"unrepaired mangled twins must defeat exact dedup: " +
        s"repaired-run deduped=${f.deduped}, unrepaired=${f2.deduped}")
  }

  test("curate: optional url rung drops blocklisted-host docs first, funnel records it") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 400, s"$dir/pages", partitions = 3)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // block the zipfian head host: the rung must bite, and every
    // surviving stage (and the curated output) must be free of it
    val bl = Seq("site-0000.example.org")
    val f = CurateJob.run(spark, s"$dir/out", s"$dir/curated",
      perHostCap = 1000, urlBlocklist = Some(bl))
    assert(f.urlFiltered < f.html, f.toString)
    assert(f.urlFiltered >= f.deduped && f.deduped >= f.kept && f.kept > 0, f.toString)
    val out = spark.read.parquet(s"$dir/curated/data")
    assert(out.filter(col("host") === "site-0000.example.org").count() == 0)
    val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/curated/funnel.json"))
    assert(manifest.contains(s""""url_filtered":${f.urlFiltered}"""), manifest)
    // the blocklist-free run keeps those docs (the rung, not the data)
    val f0 = CurateJob.run(spark, s"$dir/out", s"$dir/curated0", perHostCap = 1000)
    assert(f0.urlFiltered == f0.html && f0.kept > f.kept, s"$f0 vs $f")
  }

  test("curate: optional SemDeDup stage folds planted embedding-mirrors; docs without embeddings pass through") {
    import spark.implicits._
    val dir = tmp()
    ExtractJob.generatePages(spark, 300, s"$dir/pages", partitions = 3)
    ExtractJob.run(spark, s"$dir/pages", s"$dir/out")
    // baseline: no embeddings table — the stage is a structural no-op
    val f0 = CurateJob.run(spark, s"$dir/out", s"$dir/c0", perHostCap = 1000)
    assert(f0.semanticDeduped == f0.fuzzyDeduped, f0.toString)
    // plant embeddings for HALF the clean html urls, paired 2-by-2:
    // each pair shares a near-identical unit vector (cosine ≈ 1 ≥ 0.9);
    // different pairs are independent gaussian unit vectors (expected
    // cosine ≈ 0 in 64 dims). Pair members have DIFFERENT text, so
    // lexical dedup cannot fold them — only the semantic stage can.
    val urls = ExtractJob.readExtracted(spark, s"$dir/out")
      .filter(col("error").isNull && col("payload_kind") === "html" &&
        length(col("extracted_text")) > 0)
      .select("url").orderBy("url").collect().map(_.getString(0))
    val embedded = urls.take(urls.length / 2)
    val rng = new java.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val rows = embedded.grouped(2).filter(_.length == 2).flatMap { pair =>
      val base = unit()
      pair.zipWithIndex.map { case (u, i) =>
        val p = base.clone(); p(0) = p(0) + i * 1e-3f; (u, p)
      }
    }.toSeq
    val nPairs = rows.size / 2
    val emb = rows.toDF("url", "embedding")
    val f1 = CurateJob.run(spark, s"$dir/out", s"$dir/c1", perHostCap = 1000,
      embeddings = Some(emb), semThreshold = 0.9, semCells = 4)
    // lexical stages unchanged by the new rung
    assert(f1.fuzzyDeduped == f0.fuzzyDeduped && f1.deduped == f0.deduped)
    // the planted pairs fold — at most one drop per pair, at least one
    // pair survived fuzzy dedup intact and folded
    assert(f1.semanticDeduped < f1.fuzzyDeduped,
      s"expected embedding-mirrors to fold: $f1")
    assert(f1.semanticDeduped >= f1.fuzzyDeduped - nPairs, f1.toString)
    // manifest records the stage
    val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/c1/funnel.json"))
    assert(manifest.contains(s""""semantic_deduped":${f1.semanticDeduped}"""), manifest)
    // determinism with the stage on
    val f2 = CurateJob.run(spark, s"$dir/out", s"$dir/c2", perHostCap = 1000,
      embeddings = Some(emb), semThreshold = 0.9, semCells = 4)
    assert(f2 == f1)
    // an embeddings table that matches no doc leaves the stage nothing
    // to index: the funnel equals the no-embeddings one
    val stray = rows.take(4).map { case (u, v) => (u + "?no-such-doc", v) }.toDF("url", "embedding")
    val f3 = CurateJob.run(spark, s"$dir/out", s"$dir/c3", perHostCap = 1000,
      embeddings = Some(stray), semThreshold = 0.9, semCells = 4)
    assert(f3 == f0, s"$f3 vs $f0")
  }

  test("semanticDedup kernel: one canonical per component — the farthest-from-centroid member") {
    import spark.implicits._
    val docs = Seq(
      ("a1", Array(1.00f, 0.00f, 0f, 0f)),
      ("a2", Array(1.00f, 0.01f, 0f, 0f)),
      ("b1", Array(0.00f, 1.00f, 0f, 0f)),
      ("b2", Array(0.02f, 1.00f, 0f, 0f)),
      ("solo", Array(0f, 0f, 1f, 0f))).toDF("id", "vec")
    val out = graft.ops.Similarity
      .semanticDedup(docs, "id", "vec", nCells = 1, threshold = 0.9, sampleSize = 10)
      .collect()
    assert(out.length == 5)
    val byCluster = out.groupBy(_.getAs[String]("cluster_id"))
    assert(byCluster.size == 3, byCluster.keys.toSeq.sorted.mkString(","))
    byCluster.foreach { case (_, members) =>
      val canon = members.filter(_.getAs[Boolean]("is_canonical"))
      assert(canon.length == 1)
      // keep rule: max dist_micros, ties to smallest id
      val expected = members.minBy(r =>
        (-r.getAs[Long]("dist_micros"), r.getAs[String]("id")))
      assert(canon.head.getAs[String]("id") == expected.getAs[String]("id"))
    }
    // the singleton is its own canonical
    val solo = out.filter(_.getAs[String]("id") == "solo").head
    assert(solo.getAs[Boolean]("is_canonical") && solo.getAs[String]("cluster_id") == "solo")
  }

  test("curate: a corpus with nothing curatable yields an empty funnel, not a crash") {
    import spark.implicits._
    val dir = tmp()
    // a snapshot chain holding ONLY quarantined rows (no clean html)
    val junk = (0 until 8).map(i => graft.core.ExtractedDoc(
      url = s"https://junk.example/$i",
      warc_ts = new java.sql.Timestamp(1700000000000L + i),
      extracted_text = null, spans = Array.empty, out_links = Array.empty,
      n_links_found = 0,
      payload_kind = "junk", page_count = 0, n_blocks = 0, n_content_blocks = 0,
      confidence = 0.0, lang = "eng", engine = "none", fallback_used = false,
      error = "quarantined: unknown payload", extraction_version = "t"))
    ExtractJob.appendSnapshot(spark.createDataset(junk), s"$dir/out")
    val f = CurateJob.run(spark, s"$dir/out", s"$dir/curated")
    assert(f.extracted == 8 && f.html == 0 && f.kept == 0 && f.fuzzyDeduped == 0, f.toString)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/curated/funnel.json"))
    assert(manifest.contains("\"kept\":0"), manifest)
  }
}
