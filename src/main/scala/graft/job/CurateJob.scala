package graft.job

import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Balance, Dedup, Hosts, Repetition, TextStats}

/** End-to-end corpus curation as a RUNNABLE JOB — the stage a training
  * pipeline schedules after extraction, composing operators that are
  * each oracle-backed on the query surface into one dataset build:
  *
  *   extraction snapshots (ExtractJob/SnapshotStore output)
  *     → mojibake repair rung          q108 kernel (Mojibake.repair),
  *                                     on by default: the ftfy pass
  *                                     runs BEFORE dedup so a clean doc
  *                                     and its upstream-mangled twin
  *                                     share one digest (mojibake
  *                                     otherwise defeats exact dedup);
  *                                     map-side, a no-op on clean text
  *     → url blocklist/score rung      q80 kernel (UrlFilter), optional:
  *                                     the RefinedWeb FIRST stage — the
  *                                     cheapest signal drops docs before
  *                                     any content-sized work
  *     → exact content dedup           q12 rule: min-url keeper per md5
  *     → fuzzy (MinHash) dedup         q20 LSH pairs + q47 components,
  *                                     keep each cluster's canonical
  *     → semantic (SemDeDup) dedup     q77 kernel (Similarity
  *                                     .semanticDedup), optional: runs
  *                                     when an embeddings table is
  *                                     supplied — the RefinedWeb →
  *                                     SemDeDup recipe's last rung
  *     → Gopher/C4 repetition gate     q54 thresholds (Repetition.keep)
  *     → corpus-median quality gate    q50 shape: percentile aggregate
  *                                     broadcast back, never a global sort
  *     → per-host cap                  q52 shape: salted two-phase exact
  *                                     top-k (zipfian head hosts spread)
  *     → train/val/test assignment     q51 rule: md5-hex buckets, stable
  *                                     under incremental ingestion
  *     → curated parquet, partitioned by split, + a funnel manifest
  *
  * Scale notes: the extraction table is scanned once; document text
  * crosses the wire three times — the url exchange and the digest
  * exchange of the two dedup aggregates (the text rides in each min
  * struct; no join, no broadcast) and the host-cap exchange — and the
  * quality threshold is a broadcast scalar. The funnel IS the lineage
  * record a curation run must publish: each rung is observed by the
  * action that runs it — the table, url, dedup, fuzzy and feature
  * counts by the observations inside their persisted plans (each fires
  * in the action that fills its cache), the LSH bucket cap's drop by
  * its own sizing aggregate in the candidate checkpoint, the gate and
  * cap rungs by the curated write itself. */
object CurateJob {

  /** Verified MinHash jaccard at or above which two docs are near-dups. */
  private val FuzzyThreshold = 0.6

  final case class Funnel(
      extracted: Long,  // rows in the extraction table
      html: Long,       // clean html docs entering curation
      mojibakeRepaired: Long, // docs the ftfy rung transformed (0 on a
                              // clean corpus; repair never drops rows)
      urlFiltered: Long, // after the url blocklist/score rung (== html
                         // when no blocklist was supplied)
      deduped: Long,    // after exact content dedup
      fuzzyDeduped: Long, // after MinHash near-dup clustering (keep-one)
      semanticDeduped: Long, // after embedding-level SemDeDup (== fuzzyDeduped
                             // when no embeddings table was supplied)
      gated: Long,      // after repetition + quality gates
      kept: Long)       // after the per-host cap == curated rows

  /** @param embeddings optional (url, embedding ARRAY<FLOAT>) table —
    *   when present, the modern recipe's final dedup rung runs after
    *   lexical MinHash (RefinedWeb → SemDeDup, round-4 VERDICT #5):
    *   embedding-cluster-scoped cosine components, keep the member
    *   farthest from its cell centroid. Docs WITHOUT an embedding pass
    *   through untouched (dedup what you can measure — at production
    *   scale the embedding table lags the crawl by one model pass). */
  /** @param urlBlocklist optional domain blocklist — when present, the
    *   RefinedWeb FIRST rung runs before any content work: docs whose
    *   host is (a subdomain of) a listed domain, or whose url trips the
    *   word/structure score, are dropped map-side (ops.UrlFilter, the
    *   q80 kernel). None keeps the stage out of the funnel (the q57
    *   oracle mirrors the blocklist-free chain). */
  def run(spark: SparkSession, extractRoot: String, outRoot: String,
          perHostCap: Int = 1000,
          embeddings: Option[org.apache.spark.sql.DataFrame] = None,
          semThreshold: Double = 0.9, semCells: Int = 16,
          urlBlocklist: Option[Seq[String]] = None,
          repairMojibake: Boolean = true): Funnel = {
    val table = ExtractJob.readExtracted(spark, extractRoot)
    val isHtml = col("error").isNull && col("payload_kind") === "html" &&
      length(col("extracted_text")) > 0
    // the table's own funnel counts ride the one scan that feeds
    // `deduped` (repair drops no rows, so html == |baseRaw|)
    val tableObs = Observation("table")
    val baseRaw = table
      .observe(tableObs, count(lit(1)).as("extracted"), count_if(isHtml).as("html"),
        (if (repairMojibake)
           count_if(isHtml && graft.ops.Mojibake.wouldRepair(col("extracted_text")))
         else lit(0L)).as("moji"))
      .filter(isHtml).select(col("url"), col("extracted_text"))

    // ftfy rung FIRST (q108 kernel): mojibake defeats every digest
    // downstream — a mangled twin of a clean doc would survive exact
    // dedup, land in different LSH buckets, and double-count its host.
    // Map-side, no rows dropped, a no-op wherever the signature is
    // absent; the funnel records how many docs were transformed.
    val base0 =
      if (repairMojibake)
        baseRaw.withColumn("extracted_text",
          graft.ops.Mojibake.repair(col("extracted_text")))
      else baseRaw

    // url rung (first DROPPING stage, like the published recipes: the
    // cheapest signal drops payload before any content-sized work)
    val urlObs = Observation("urlFiltered")
    val base = urlBlocklist match {
      case Some(bl) =>
        graft.ops.UrlFilter.verdicts(base0, "url", bl)
          .filter(!col("blocked"))
          .select(col("url"), col("extracted_text"))
          .observe(urlObs, count(lit(1)).as("rows"))
      case None => base0
    }

    // url uniqueness first: the snapshot chain anti-joins urls ACROSS
    // snapshots, but a url re-crawled with changed content within one
    // ingestion batch would otherwise survive dedup twice (two digests,
    // same min url) and break the host cap's total order. Then exact
    // content dedup — THE q12 rule via its one home (Dedup): one keeper
    // per content digest, the lexicographic-min url. Two aggregates over
    // one scan (a url exchange, then a digest exchange), no self-join.
    // Persisted: four plans below read this table (the banding, the
    // verify's member shingling, the cluster docs, the keep semi-join);
    // unpersisted, its scan+dedup lineage would re-execute each time.
    // Its funnel count is observed inside the cached plan, so it fires
    // in the action that fills the cache (the bands checkpoint).
    val dedupedObs = Observation("deduped")
    val deduped = Dedup.onePerDigest(Dedup.onePerUrl(base, "extracted_text"),
        idCol = "url", textCol = "extracted_text")
      .observe(dedupedObs, count(lit(1)).as("rows"))
      .persist()

    // fuzzy (near-dup) dedup — the stage every modern recipe runs after
    // exact dedup (C4/RefinedWeb/Gopher all MinHash here): LSH-blocked
    // verified pairs → connected components → keep each cluster's
    // canonical member (the q20 + q47 kernels, unchanged). The LSH
    // bucket cap is AUDITED, never silent (the house rule): the cap's
    // own sizing aggregate counts the dropped buckets in the candidate
    // checkpoint, and the count goes into the funnel manifest.
    //
    // bands and candidates are each staged ONCE, eagerly (the
    // connectedComponents discipline): Spark shares no lazy subplan
    // between references, so the cap's two reads of the bands and the
    // verify's two reads of the candidates would each re-run the
    // signatures and the LSH pairing. Eager, because AQE can compute an
    // unfilled persist() cache twice. At 10^12 docs: reliable
    // checkpoints instead.
    val bands = Dedup.minhashBands(deduped, "url", "extracted_text", shingleN = 2)
      .localCheckpoint(eager = true)
    val bucketsDropped = Observation("fuzzyBucketsDropped")
    val cands = Dedup.candidatePairs(bands, dropped = bucketsDropped)
      .localCheckpoint(eager = true)
    val pairs = Dedup.jaccardVerify(cands, deduped,
      "url", "extracted_text", shingleN = 2, threshold = FuzzyThreshold)
    val canon = Dedup.dedupClusters(deduped, pairs, idCol = "url")
      .filter(col("is_canonical"))
      .select(col("doc_id").as("url"))
    val fuzzyDedupedObs = Observation("fuzzyDeduped")
    val fuzzyDeduped = deduped.join(canon, Seq("url"), "left_semi")
      .observe(fuzzyDedupedObs, count(lit(1)).as("rows"))
      .persist()

    // embedding-level dedup (SemDeDup) — the recipe's last rung, scoped
    // to docs that (a) survived lexical dedup and (b) HAVE an embedding
    val semDeduped = embeddings match {
      case Some(emb) =>
        val scoped = emb
          .select(col("url"), col("embedding"))
          .join(fuzzyDeduped.select("url"), Seq("url"), "left_semi")
        val keep = graft.ops.Similarity
          .semanticDedup(scoped, "url", "embedding",
            nCells = semCells, threshold = semThreshold)
          .filter(col("is_canonical"))
          .select(col("id").as("url"))
        val withEmb = fuzzyDeduped.join(keep, Seq("url"), "left_semi")
        val withoutEmb = fuzzyDeduped
          .join(emb.select("url"), Seq("url"), "left_anti")
        withEmb.unionByName(withoutEmb)
      case None => fuzzyDeduped
    }

    // per-doc features once; both gates read this table. The curated
    // write fills it and fires its observation (and fuzzyDeduped's,
    // unless the SemDeDup rung read that table first)
    val semDedupedObs = Observation("semanticDeduped")
    val feats = Repetition.withStats(semDeduped, textCol = "extracted_text")
      .withColumn("quality", TextStats.qualityScore(col("extracted_text")))
      .observe(semDedupedObs, count(lit(1)).as("rows"))
      .persist()
    try {
      val kept = feats.filter(col("keep"))
      // exact percentile (the oracle-proven q50 shape, and exact so the
      // job is bit-deterministic); its buffer is value-count-sized — at
      // 10^12 rows swap for a fixed-memory quantile sketch and accept
      // an approximate threshold (approx_percentile's merge order would
      // cost the determinism contract here)
      val thr = kept.agg(expr("percentile(quality, 0.5)").as("q50"))
      // the gate and cap rungs are counted by the curated write itself:
      // a separate count would re-run the percentile, the broadcast and
      // the join
      val gatedObs = Observation("gated")
      val keptObs = Observation("kept")
      val gated = kept.join(broadcast(thr))
        .filter(col("quality") >= col("q50"))
        .withColumn("host", Hosts.hostOf(col("url")))
        .observe(gatedObs, count(lit(1)).as("rows"))
      val capped = Balance.topKPerGroup(gated, col("host"), col("url"),
        Seq(col("quality").desc, col("url").asc), k = perHostCap)
        .observe(keptObs, count(lit(1)).as("rows"))
      val curated = capped
        .select(col("url"), col("host"), col("quality"),
          Balance.splitAssign(col("url")).as("split"), col("extracted_text"))
      curated.write.mode(SaveMode.Overwrite).partitionBy("split")
        .parquet(s"$outRoot/data")

      // the table and url counts fired in `deduped`'s cache fill, which
      // reads the whole scan (a table with no clean html row keeps its
      // counts: "a corpus with nothing curatable"); they are absent only
      // when the optimizer proved the table empty
      def tableCount(metric: String) = observed(tableObs, metric).getOrElse(0L)
      val funnel = Funnel(
        extracted = tableCount("extracted"),
        html = tableCount("html"),
        mojibakeRepaired = tableCount("moji"),
        urlFiltered =
          if (urlBlocklist.isDefined) observed(urlObs).getOrElse(0L)
          else tableCount("html"),
        deduped = observed(dedupedObs).getOrElse(deduped.count()),
        fuzzyDeduped = observed(fuzzyDedupedObs).getOrElse(fuzzyDeduped.count()),
        semanticDeduped = observed(semDedupedObs).getOrElse(feats.count()),
        gated = observed(gatedObs).get,
        kept = observed(keptObs).get)
      val json =
        s"""{"extracted":${funnel.extracted},"html":${funnel.html},"mojibake_repaired":${funnel.mojibakeRepaired},"url_filtered":${funnel.urlFiltered},"deduped":${funnel.deduped},"fuzzy_deduped":${funnel.fuzzyDeduped},"semantic_deduped":${funnel.semanticDeduped},"gated":${funnel.gated},"kept":${funnel.kept},"per_host_cap":$perHostCap,"fuzzy_buckets_dropped":${Dedup.droppedBuckets(bucketsDropped, bands)}}"""
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outRoot))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outRoot, "funnel.json"), json + "\n")
      funnel
    } finally {
      feats.unpersist(blocking = false)
      fuzzyDeduped.unpersist(blocking = false)
      deduped.unpersist(blocking = false): Unit
    }
  }

  /** The count `metric` (a rung's `rows` by default) an observation
    * recorded in the action that ran it.
    * None when the first action whose plan holds the observation pruned
    * that branch (an input the optimizer proved empty, or a consumer
    * that needed none of it): Spark then completes the observation with
    * no metrics, and a persisted rung is counted from its cache instead.
    * The first reader of an observed rung must read all of it (no bare
    * `limit`), or the count covers only the partitions it computed. */
  private def observed(o: Observation, metric: String = "rows"): Option[Long] =
    o.get.get(metric).map(_.asInstanceOf[Long])
}

/** Curation entry point:
  *   runMain graft.job.CurateCli <extractRoot> <curatedRoot> [perHostCap]
  */
object CurateCli extends Cli.Main(Cli(
    "usage: CurateCli <extractRoot> <curatedRoot> [perHostCap]", 2 to 3)) {
  def job(a: Cli.Args): SparkSession => Unit = {
    val cap = a.int(2, "perHostCap", 1000)
    spark => {
      val f = CurateJob.run(spark, a(0), a(1), cap)
      println(s"curated ${f.kept} docs (extracted=${f.extracted} html=${f.html} " +
        s"urlFiltered=${f.urlFiltered} deduped=${f.deduped} fuzzy=${f.fuzzyDeduped} " +
        s"semantic=${f.semanticDeduped} gated=${f.gated}) at ${a(1)}")
    }
  }
}
