package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical-plan regression gates — each pins a plan property a past
  * round fixed or a 100 TB design decision depends on. AQE caveat: the
  * executedPlan is final only after materializing THAT QueryExecution,
  * so every assertion collects the same DataFrame first. */
class PlanSpec extends AnyFunSuite with TempRoots {

  lazy val spark = {
    val s = graft.job.GraftSession.local("8")
    // the session is shared with every suite in this JVM, and any of
    // them may have changed a runtime conf — pin every runtime conf
    // these plan assertions depend on, keeping suite-order robustness
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  private val d = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q4 dimension join is a BroadcastHashJoin (never shuffles the fact side)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q4_nation_rollup")(spark, d))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q5 resume-shaped anti-join is a BroadcastHashJoin LeftAnti (not SMJ, not nested-loop)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q5_anti_join")(spark, d))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"anti-join shape regressed:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q36 brute-force theta join spreads the streamed side (round-2 fix: was 1 partition = 1 core)") {
    // gate the LAZY plan: the query itself materializes through an
    // eager localCheckpoint (so its final plan is an opaque RDD scan)
    val docs = spark.read.parquet(s"$d/documents.parquet").filter(col("doc_id") < 200)
    val (joined, sh) = graft.ops.Dedup.jaccardBruteForcePlan(docs)
    try {
      val p = executedPlan(joined)
      assert(p.contains("BroadcastNestedLoopJoin"))
      assert(p.contains("RoundRobinPartitioning"),
        s"expected an explicit round-robin repartition of the streamed side; plan:\n${p.take(2000)}")
    } finally sh.unpersist(blocking = false)
  }

  test("q52 host cap runs TWO windows with a salted shard partitioning (no single-task head host)") {
    // AQE renders BOTH "== Final Plan ==" and "== Initial Plan ==" —
    // count only the final section or every node double-counts
    val p = executedPlan(graft.queries.GraftQueries.queries("q52_host_cap")(spark, d))
      .split("== Initial Plan ==").head
    // two Window nodes: the (host, salt)-sharded partial top-k and the
    // per-host final top-k over <= k*salts survivors
    val windows = p.split("Window \\[", -1).length - 1
    assert(windows >= 2, s"expected the two-phase window plan; got $windows Window nodes:\n${p.take(1500)}")
    // the heavy (first) shard window must partition by host AND the salt
    assert(p.contains("pmod(hash("),
      s"expected a salted shard partitioning in the plan:\n${p.take(1500)}")
  }

  test("q55 decontamination broadcasts the eval grams (corpus side never sort-merge-joins)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q55_decontam")(spark, d))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"eval grams must broadcast-hash-join against the corpus grams:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      "the 100 TB-side gram stream must never sort for the overlap join")
  }

  test("q57 curation: materialized feature dump, broadcast threshold, salted two-phase cap") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q57_curation")(spark, d))
      .split("== Initial Plan ==").head
    // the scored (url, quality) projection is the materialized rep
    // dump — both consumers scan it, so the repetition kernel never
    // runs inside the query
    assert(p.contains("graft_rep_cache"),
      s"q57 must read the materialized feature dump:\n${p.take(1200)}")
    // the repetition kernel is a ScalaUDF — walk the optimized plan's
    // expressions (string checks on "UDF" are vacuous, see q45 note)
    val df57 = graft.queries.GraftQueries.queries("q57_curation")(spark, d)
    val hasUdf = df57.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    }.exists(identity)
    assert(!hasUdf, "q57 re-runs the repetition kernel in-query instead of scanning the dump")
    // the corpus-median threshold joins as a broadcast scalar (never a
    // global sort / percent_rank funnel)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quality threshold must join as a broadcast scalar:\n${p.take(1200)}")
    // the host cap keeps the q52 two-phase salted window shape
    val windows = p.split("Window \\[", -1).length - 1
    assert(windows >= 2, s"expected the two-phase salted top-k windows; got $windows")
    assert(p.contains("pmod(hash("), "expected the salted shard partitioning")
  }

  test("q45 response parse is pure codegen'd expressions (no UDF, no python)") {
    val df = graft.queries.GraftQueries.queries("q45_response_parse")(spark, d)
    // string checks are vacuous here (ScalaUDF prettyName is "UDF",
    // which codegen renders inline) — walk the optimized plan's
    // expression trees for actual UDF nodes instead
    val hasUdf = df.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    }.exists(identity)
    assert(!hasUdf, "q45 contains a ScalaUDF — the parser must stay pure built-in expressions")
    // WholeStageCodegen renders as "*(n)" in executedPlan.toString
    val p = executedPlan(df)
    assert(p.contains("*(1)"), s"project not inside WholeStageCodegen:\n${p.take(500)}")
  }

  test("q18 leaves the session's scan split size as it found it") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    graft.queries.GraftQueries.queries("q18_extract_pages")(spark, d).count()
    assert(spark.conf.getOption(key) == before)
  }

  test("q19/q44 read the materialized extraction dump, not the pages table (extract-once/read-many)") {
    for (q <- Seq("q19_extract_host_stats", "q44_engine_stats")) {
      val p = executedPlan(graft.queries.GraftQueries.queries(q)(spark, d))
      assert(p.contains("graft_extract_cache"), s"$q does not scan the dump")
      assert(!p.contains("graft_pages_cache"), s"$q re-scans raw pages")
    }
  }

  test("q28/q29 read the materialized entity dump, never re-running the engine pass") {
    for (q <- Seq("q28_entities", "q29_entity_fields")) {
      val p = executedPlan(graft.queries.GraftQueries.queries(q)(spark, d))
      assert(p.contains("graft_entities_cache"), s"$q does not scan the entity dump")
      assert(!p.contains("MapPartitions"),
        s"$q re-runs the entity engine (MapPartitions in plan) instead of scanning the dump")
    }
  }

  test("q31/q43 read the materialized forms dump, never the raw pages (detect-once/read-many)") {
    for (q <- Seq("q31_form_detect", "q43_signature_pairs")) {
      val p = executedPlan(graft.queries.GraftQueries.queries(q)(spark, d))
      assert(p.contains("graft_forms_cache"), s"$q does not scan the forms dump")
      assert(!p.contains("graft_pages_cache"),
        s"$q re-runs the tokenizer over raw pages — round-2 VERDICT #2 regression")
    }
  }

  private def hasParseUrl(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ParseUrl]))
    }.exists(identity)

  test("no interpreted ParseUrl on the flagship commit / bench / streaming hot paths (round-3 VERDICT #1)") {
    // the production clustering key itself
    assert(!org.apache.spark.sql.graftshim.ColumnBridge
      .expression(graft.job.ExtractJob.clusterKey(8)).exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ParseUrl]),
      "ExtractJob.clusterKey regressed to parse_url")
    // the measured scaling-bench plan (tiny generated pages table)
    val pagesDir = tempRoot("planspec_pages")
    graft.job.ExtractJob.generatePages(spark, 50, pagesDir, partitions = 2)
    val bench = graft.job.ScalingBench.benchDF(spark, pagesDir, 8)
    assert(!hasParseUrl(bench), "ScalingBench.benchDF contains a ParseUrl node")
    // streaming metric plans (batch DataFrame through the same builders)
    val pages = spark.read.parquet(pagesDir).select("url", "warc_ts")
    assert(!hasParseUrl(graft.streaming.StreamingExtract.hostThroughput(pages)),
      "hostThroughput contains a ParseUrl node")
    // q19 host rollup shares the same helper
    val q19 = graft.queries.GraftQueries.queries("q19_extract_host_stats")(spark, d)
    assert(!hasParseUrl(q19), "q19 regressed to parse_url")
  }

  test("q1 aggregation is partial+final HashAggregate (map-side combine)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q1_pricing_summary")(spark, d))
    // AQE's toString prints Final AND Initial sections — count only the
    // final plan, else a single HashAggregate would double to 2
    val finalSection = p.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalSection).size >= 2,
      s"expected partial+final HashAggregate:\n${finalSection.take(800)}")
  }

  test("q58 pii redaction is a zero-shuffle map-only plan") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q58_pii_redact")(spark, d))
    assert(!p.contains("Exchange"),
      s"pii scrubbing must not shuffle:\n${p.take(600)}")
  }

  test("q108 mojibake repair is a zero-shuffle map-only plan") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q108_mojibake")(spark, d))
    assert(!p.contains("Exchange"),
      s"mojibake repair must not shuffle:\n${p.take(600)}")
  }

  test("q109 winnowing fingerprint BUILD is a zero-shuffle map-only plan") {
    // the 100 TB property, gated on the BUILD (the serving query reads
    // the staged parquet dump, whose exchanges are small by
    // construction — gating only that would be vacuous): tokenizing,
    // k-gram hashing and window selection all run inside the scan
    // split, so the plan that materializes the fingerprint table must
    // contain NO Exchange at all. This is the gate that caught the
    // first-cut lead()-window form, which shuffled every token row.
    val p = executedPlan(graft.ops.Winnowing.fingerprints(
      graft.queries.GraftQueries.extractedPagesDocs(spark, d), "doc_id", "text"))
    assert(!p.contains("Exchange"),
      s"the fingerprint build must not shuffle:\n${p.take(600)}")
  }

  test("q109 winnowing serving: exchanges carry only (doc_id, fp) — never text") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q109_winnowing")(spark, d))
    val bad = p.linesIterator.filter(_.contains("Exchange"))
      .filter(l => l.contains("extracted_text#") || l.contains("toks#")).toSeq
    assert(bad.isEmpty, s"q109 serving shuffles raw text/tokens:\n${bad.mkString("\n")}")
  }

  test("q59/q60: shuffles carry digests, never the document/line text") {
    // the 100 TB property: groupBy keys are md5 digests, so no Exchange
    // in either plan may reference the raw text attribute (`line#N` /
    // `extracted_text#N`). `line_h#N` must not false-positive the check.
    for ((q, raw) <- Seq("q59_line_dedup" -> "line#",
                         "q60_domain_curation" -> "extracted_text#")) {
      val p = executedPlan(graft.queries.GraftQueries.queries(q)(spark, d))
      val bad = p.linesIterator.filter(_.contains("Exchange"))
        .filter(_.contains(raw)).toSeq
      assert(bad.isEmpty, s"$q shuffles raw text:\n${bad.mkString("\n")}")
    }
  }

  test("q62 packing's only exchange is the shard hash repartition (pack state never shuffles)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q62_seq_pack")(spark, d))
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = finalSection.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected exactly one shuffle:\n${exchanges.mkString("\n")}")
    // the shared packCountsGrouped kernel names the partition column
    // "grp" (q107 composes split×shard into it); q62's shard IS that
    // group column, so either name proves the same single-shuffle shape
    assert(exchanges.head.contains("hashpartitioning(shard") ||
      exchanges.head.contains("hashpartitioning(grp"),
      s"the one exchange must partition by the pack group:\n${exchanges.head}")
  }

  test("q63 incremental dedup broadcasts the scalar cut (no cartesian, no parse_url)") {
    val df = graft.queries.GraftQueries.queries("q63_incremental_dedup")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"),
      s"the 1-row cut must broadcast, not cartesian:\n${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "expected a broadcast join against the cut/verdict")
    assert(!hasParseUrl(df), "q63 regressed to parse_url")
  }

  test("q64 url canonicalization is a zero-shuffle, UDF-free, parse_url-free projection") {
    val df = graft.queries.GraftQueries.queries("q64_url_canon")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("Exchange"), s"canonicalization must not shuffle:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "canonicalization must stay codegen'd (no UDF)")
    assert(!hasParseUrl(df), "canonicalization must not use interpreted parse_url")
  }

  test("q81 dsir: delta model + quantile cut broadcast, no cartesian, no UDF") {
    val df = graft.queries.GraftQueries.queries("q81_dsir_select")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"scalar joins must broadcast:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "dsir must stay expression-only (no UDF)")
    assert(p.contains("BroadcastExchange"), "delta model / cut must broadcast")
  }

  test("q80 url filter is a zero-shuffle, join-free, UDF-free projection (blocklist inlined)") {
    val df = graft.queries.GraftQueries.queries("q80_url_filter")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("Exchange"), s"url filter must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), s"literal-array membership must not plan a join:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "url filter must stay codegen'd (no UDF)")
    assert(!hasParseUrl(df), "url filter must not use interpreted parse_url")
  }

  test("q103 ppl buckets: thresholds broadcast, no cartesian, no UDF") {
    val df = graft.queries.GraftQueries.queries("q103_ppl_buckets")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "bucket assignment must stay codegen'd")
    assert(p.contains("BroadcastHashJoin"), "per-lang thresholds must broadcast")
  }

  test("q105 bpe fertility: equi-join on word, no cartesian, no UDF") {
    val df = graft.queries.GraftQueries.queries("q105_bpe_fertility")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"fertility join must be an equi-join:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "tokenize + rollup must stay codegen'd")
  }

  test("q104 crawl diff: digest-only url join, no cartesian, no UDF") {
    val df = graft.queries.GraftQueries.queries("q104_crawl_diff")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"diff join must be an equi-join:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "digest + status must stay codegen'd")
  }

  test("q102 extract qa: equi-joins only, no cartesian, no UDF") {
    val df = graft.queries.GraftQueries.queries("q102_extract_qa")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"qa joins are equi-joins:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop join:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "tokenization must stay codegen'd (split builtin)")
  }

  test("q83 bloom dedup: corpus sides broadcast, no cartesian, no UDF") {
    // the 100 TB contract: the corpus collapses to the distinct
    // position set (≤ 2^20 ints) and the distinct key set, BOTH
    // broadcast — the only wide exchange is the batch's own groupBy
    val df = graft.queries.GraftQueries.queries("q83_bloom_dedup")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"bloom joins must broadcast:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"), "corpus position/key sets must broadcast")
    assert(!p.contains("SortMergeJoin"), s"no corpus-wide sort-merge join:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "bloom verdict must stay codegen'd (md5/conv builtins)")
  }

  test("q84 bm25: query workload broadcasts, corpus text never shuffles, no UDF") {
    // the 100 TB contract: the only corpus-sized work is the map-side
    // tokenize+explode that dies at the broadcast semi-join on query
    // terms — tf/df/stats joins all broadcast, no corpus sort-merge
    val df = graft.queries.GraftQueries.queries("q84_bm25")(spark, d)
    val p = executedPlan(df)
    assert(p.contains("BroadcastHashJoin"), "query-term join must broadcast")
    assert(!p.contains("CartesianProduct"), s"bm25 must not plan a cartesian:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), s"no corpus-wide sort-merge join:\n${p.take(800)}")
    assert(!p.contains("ScalaUDF"), "scoring must stay codegen'd integer arithmetic")
  }

  test("q82 vlm classify is a zero-shuffle, join-free projection over the staged ledger") {
    // the client loop runs at staging time (vlmCached); the query itself
    // must stay a scan + codegen'd parse projection — at 100 TB the
    // ledger re-read costs one map-side pass, never an exchange
    val df = graft.queries.GraftQueries.queries("q82_vlm_classify")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("Exchange"), s"vlm parse must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"), s"vlm parse must not plan a join:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "response parse must stay codegen'd (no UDF)")
  }

  test("q65 as-of join is the single-shuffle union+window form (no range theta-join)") {
    val df = graft.queries.GraftQueries.queries("q65_asof_join")(spark, d)
    val p = executedPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    // the scale property: no nested-loop/cartesian range join anywhere,
    // and the only key shuffle is the __asof_k window partitioning (each
    // input side exchanges once into the union — same bound as a groupBy)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan as a range theta-join:\n${p.take(600)}")
    val keyExchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // allowed shuffles: the ONE __asof_k window exchange, plus the
    // right-side (key,time) tie-break pre-aggregation on o_custkey
    val windowEx = keyExchanges.filter(_.contains("__asof_k"))
    val preAggEx = keyExchanges.filter(_.contains("o_custkey"))
    assert(windowEx.size == 1,
      s"expected exactly one __asof_k window exchange:\n${keyExchanges.mkString("\n")}")
    assert(keyExchanges.size == windowEx.size + preAggEx.size,
      s"unexpected extra shuffle:\n${keyExchanges.mkString("\n")}")
  }

  test("q66 vocab coverage is a zero-join map-side projection (vocab as literal IN-set)") {
    // r6: the 1000-row vocab collects to a literal IN-set (bounded,
    // model-sized), so coverage plans as a scan + array projection —
    // no join of any kind, no token explode, no exchange at all
    val p = executedPlan(graft.queries.GraftQueries.queries("q66_vocab_coverage")(spark, d))
    assert(!p.contains("Join"), s"coverage must not plan a join:\n${p.take(600)}")
    assert(!p.contains("Exchange"), s"coverage must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Generate"), "coverage must not explode tokens — counts come from size()")
  }

  test("q67 link graph is explode + codegen host projection + one aggregate (no UDF, no parse_url)") {
    val df = graft.queries.GraftQueries.queries("q67_host_links")(spark, d)
    val p = executedPlan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!p.contains("ScalaUDF"), "link-graph projection must stay codegen'd")
    assert(!hasParseUrl(df), "host keys must use the substring_index form")
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size == 1,
      s"expected exactly the count-aggregate shuffle:\n${finalSection.take(800)}")
  }

  test("q69 key-terms: map-side candidate cut — no corpus-token exchange, one window") {
    val df = graft.queries.GraftQueries.queries("q69_doc_keyterms")(spark, d)
    val p = executedPlan(df).split("== Initial Plan ==").head
    // r6 shape: the per-doc top-tf candidate selection runs INSIDE the
    // scan split (TextStats.topTfCandidatesExpr) — no checkpointed tf
    // materialization, no corpus-token tf shuffle. The only exchanges
    // carry the ~5-rows/doc candidates, the vocab-sized df aggregate
    // and the ranking window's doc_id partitioning.
    assert(!p.contains("Scan ExistingRDD") && !p.contains("RDDScanExec"),
      "the corpus tf table must NOT be materialized/checkpointed any more")
    // exchanges must never carry the raw token array — candidates are
    // cut before anything reaches a shuffle
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(exch.nonEmpty && !exch.exists(_.contains("toks")),
      s"no exchange may carry the token array:\n${exch.mkString("\n")}")
    // a doc's candidate group is ≤ ~k rows — ONE ranking window, no
    // salted shard pass (that's for unbounded groups like q52's hosts)
    val windows = p.split("Window \\[", -1).length - 1
    assert(windows == 1, s"expected exactly one ranking window; got $windows")
    assert(!p.contains("CartesianProduct"))
    assert(!hasParseUrl(df))
  }

  test("q71 stratified sample: salted per-lang top-k + broadcast strata (no corpus-wide sort)") {
    val df = graft.queries.GraftQueries.queries("q71_stratified_sample")(spark, d)
    val p = executedPlan(df).split("== Initial Plan ==").head
    // lang groups are unbounded at corpus scale — the member rank MUST
    // keep the q52 two-phase salted shape
    val windows = p.split("Window \\[", -1).length - 1
    assert(windows >= 2, s"expected the two-phase salted windows; got $windows")
    assert(p.contains("pmod(hash("), "expected the salted shard partitioning")
    // the allocation table joins as a broadcast (4 rows), never a shuffle
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the strata allocation must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q70 PMI builds bigrams map-side and broadcasts the scalar total (no cartesian)") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q70_pmi_collocations")(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total must broadcast, not cartesian:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected the scalar total as a broadcast join")
    assert(!p.contains("ScalaUDF"), "bigram construction must stay codegen'd")
  }

  test("q73 span dedup: codegen'd span digests, no cartesian, no UDF") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q73_span_dedup")(spark, d))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("ScalaUDF"), "span digest construction must stay a native expression")
    // the span table never carries span TEXT across a shuffle: the only
    // exploded column is the native 16-byte digest array
    assert(p.toLowerCase.contains("spandigests"),
      s"expected the SpanDigests expression inside the plan:\n${p.take(600)}")
  }

  test("q74 lm score: zero-exchange map-side scoring under the broadcast model") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q74_lm_score")(spark, d))
    // r6: the scoring pass is one scan-project through the native
    // LmDocScore expression — no explode, no joins, no aggregation
    // exchange; the model travels as an sc.broadcast, not a join side
    assert(!p.contains("Exchange"),
      s"scoring must not shuffle the corpus:\n${p.take(800)}")
    assert(!p.contains("Join"), s"model lookups are map-side:\n${p.take(800)}")
    assert(p.toLowerCase.contains("lmdocscore"),
      s"expected the LmDocScore expression inside the plan:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "scoring must stay a native expression")
  }

  test("q75 pq ann: codebooks + query slices broadcast, codes scan map-side") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q75_ann_pq")(spark, d))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"the corpus-code scan must join its (tiny) model tables broadcast-hash:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "expected broadcast joins against codebooks and query slices")
    assert(!p.contains("ScalaUDF"), "ADC arithmetic must stay in Catalyst expressions")
  }

  test("q77 semantic dedup: centroid table broadcast, no cartesian, no UDF") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q77_semantic_dedup")(spark, d))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "expected the centroid table as a broadcast join")
    assert(!p.contains("ScalaUDF"), "distance/cosine arithmetic must stay in Catalyst")
  }

  test("q61 mixture sample is one partial+final aggregate, decision map-side") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q61_mixture_sample")(spark, d))
    val finalSection = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size == 1,
      s"expected exactly one shuffle:\n${finalSection.take(800)}")
    assert("HashAggregate".r.findAllIn(finalSection).size >= 2)
  }

  test("q88 postings build: one exchange, join-free, no UDF (per-doc dedup map-side)") {
    // the 100 TB contract from ops/Postings.scala: array_distinct
    // before the explode keeps the per-doc dedup on the scan split, so
    // the ONLY shuffle is the (term, block) aggregate — a second
    // exchange here would mean a corpus-wide distinct crept back in
    val p = executedPlan(graft.queries.GraftQueries.queries("q88_postings")(spark, d))
    val finalSection = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size == 1,
      s"expected exactly one shuffle:\n${finalSection.take(800)}")
    assert(!p.contains("ScalaUDF"), "gap encoding must stay codegen'd builtins")
    assert(!p.contains("Join"), s"postings build must be join-free:\n${p.take(800)}")
  }

  test("q89 boolean retrieval prunes the postings scan to the query terms (pushed IN filter)") {
    // the serving contract from ops/Postings.matchAll: the read must be
    // proportional to the query's posting shards — the literal IN over
    // term has to reach the parquet scan, and the corpus text is never
    // in the plan at all
    val p = executedPlan(graft.queries.GraftQueries.queries("q89_bool_retrieval")(spark, d))
    assert(p.contains("PushedFilters: [") && p.contains("In(term"),
      s"term IN filter must push into the postings scan:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"index serving must be scan+aggregate only:\n${p.take(800)}")
  }

  test("q107 train export: equi-join on word, no cartesian, single pack exchange") {
    val df = graft.queries.GraftQueries.queries("q107_train_export")(spark, d)
    val p = executedPlan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n${p.take(800)}")
  }

  test("q106 phrase retrieval prunes the positional scan to the phrase terms") {
    val p = executedPlan(graft.queries.GraftQueries.queries("q106_phrase_retrieval")(spark, d))
    assert(p.contains("PushedFilters: [") && p.contains("In(term"),
      s"term IN filter must push into the positional scan:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"))
    assert(!p.contains("CartesianProduct"),
      s"phrase joins are doc_id equi-joins:\n${p.take(800)}")
  }

  test("q94 sitemap audit: entry table broadcasts to the one corpus scan (no url-level shuffle, no cartesian)") {
    // 100 TB shape: the parsed entry table is host-bounded (NumHosts x
    // <=30 rows); the crawled url table is the corpus. The url==loc tag
    // join must be a BroadcastHashJoin (corpus side streams), and the
    // only exchanges are the two host-key aggregates + the final
    // host-key join — never a shuffle keyed on url/loc
    val p = executedPlan(graft.queries.GraftQueries.queries("q94_sitemap")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"sitemap entries must broadcast to the url scan:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("hashpartitioning(url") && !p.contains("hashpartitioning(loc"),
      s"the corpus must never shuffle on a url-level key:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"), "coverage arithmetic must stay codegen'd")
  }

  test("q97 charset audit: one equi-join, verdict arithmetic codegen'd (no cartesian, no UDF)") {
    // the sniff/decode kernel runs in the DUMP stage (map-side,
    // payload never shuffles); the query itself must be a single
    // url equi-join between the verdict dump and the pages scan with
    // all comparison columns codegen'd — a ScalaUDF or a nested-loop
    // here would mean the kernel leaked into the per-query path
    val p = executedPlan(graft.queries.GraftQueries.queries("q97_charset")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("ScalaUDF"),
      "verdict comparisons must stay codegen'd (md5/replace/regexp are builtins)")
  }

  test("q98 head-metadata audit: one equi-join over the staged records (no cartesian, no UDF)") {
    // the HeadMeta scanner runs in the dump stage; the query is the
    // record table joined once to the pages scan for the lang
    // cross-check — projection arithmetic must stay codegen'd
    val p = executedPlan(graft.queries.GraftQueries.queries("q98_head_meta")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("ScalaUDF"), "record comparisons must stay codegen'd")
  }

  test("q99 frontier: entry table broadcasts to the one corpus scan; ranking is sitemap-bounded (no cartesian)") {
    // the corpus contributes ONE scan with the (bounded) entry table
    // broadcast; the gap anti-join, robots gate and per-host window
    // all run on sitemap-sized data — the corpus must never shuffle
    // on a url-level key
    val p = executedPlan(graft.queries.GraftQueries.queries("q99_frontier")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"sitemap entries must broadcast to the url scan:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("hashpartitioning(url"),
      s"the corpus must never shuffle on a url-level key:\n${p.take(1200)}")
  }

  test("q90 hits half-step: equi-join + partial/final aggregate, normalizer scalar broadcasts (no cartesian, no UDF)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // gate the LAZY one-round shape (scores() checkpoints each
    // half-step through Fixpoint, so its final plan is an opaque RDD
    // scan — same situation as the q36 gate)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst")
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct()
    val hub = nodes.withColumn("v", lit(graft.ops.Hits.Scale))
    // r6: the propagation (join + aggregate) and the normalizer are
    // gated separately — halfStep now materializes the propagation
    // ONCE through l1norm's checkpoint (it used to execute twice, once
    // under the broadcast build and once under the crossJoin), so the
    // half-step's own plan is the broadcast-normalized divide over
    // that RDD scan.
    val pp = executedPlan(graft.ops.Hits.propagate(edges, nodes, hub, "src", "dst"))
    assert(pp.split("HashAggregate").length - 1 >= 2,
      "edge-propagation sum must be partial+final (map-side combine)")
    assert(!pp.contains("CartesianProduct") && !pp.contains("ScalaUDF"))
    val p = executedPlan(graft.ops.Hits.halfStep(edges, nodes, hub, "src", "dst"))
    assert(!p.contains("CartesianProduct"),
      s"the 1-row L1 normalizer must broadcast, not cartesian:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected the normalizer scalar as a broadcast join")
    assert(!p.contains("ScalaUDF"), "fixed-point arithmetic must stay codegen'd")
  }

  test("q91 perceptron: feature projection is zero-shuffle and UDF-free; gradient is partial+final aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val docs = Seq(("the cat sat", "en"), ("der hund", "de")).toDF("text", "lang")
    val feat = docs.select(graft.ops.Perceptron.features(col("text"), col("lang"))
      .map { case (n, c) => c.as(n) }: _*)
    val fp = executedPlan(feat)
    assert(!fp.contains("Exchange"), "feature projection must be map-side only")
    assert(!fp.contains("ScalaUDF"), "stopword hits must stay Catalyst expressions")
    // the per-epoch gradient: ungrouped Long sums — partial+final, so
    // the training table contributes map-side partials at any scale
    val gp = executedPlan(feat.agg(sum(col("y") * col("x_bias")).as("d_bias"),
      sum(col("y") * col("x_eng")).as("d_eng")))
    assert(gp.split("HashAggregate").length - 1 >= 2,
      "gradient must be partial+final HashAggregate")
  }

  test("q87 anchor-text index is aggregate-only over the staged harvest (no UDF, no join)") {
    // the harvest runs at staging time (anchorsCached); the query is
    // the (dst_host, label) link-text aggregate with codegen'd host
    // projections — the q67 shape with a distinct-count second phase
    val p = executedPlan(graft.queries.GraftQueries.queries("q87_anchor_text")(spark, d))
    assert(!p.contains("ScalaUDF"), "host keys must stay codegen'd substring_index")
    assert(!p.contains("Join"), s"anchor index must be join-free:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("url + exact dedup rungs: one scan of the input, no join (aggregates, not self-joins)") {
    val s = spark; import s.implicits._
    val dir = tempRoot("planspec_dedup")
    (0 until 200).map(i => (s"https://h${i % 7}.example/p${i % 150}", s"body ${i % 60}"))
      .toDF("url", "text").repartition(4).write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val deduped = graft.ops.Dedup.onePerDigest(
      graft.ops.Dedup.onePerUrl(docs, "text"), idCol = "url", textCol = "text")
    deduped.collect()
    // walk the final adaptive plan node by node (stages included)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val plan = deduped.queryExecution.executedPlan
    val scans = helper.collect(plan) {
      case n: org.apache.spark.sql.execution.FileSourceScanExec => n }
    val joins = helper.collect(plan) {
      case n: org.apache.spark.sql.execution.joins.BaseJoinExec => n }
    assert(scans.size == 1, s"expected one input scan, got ${scans.size}:\n$plan")
    assert(joins.isEmpty, s"dedup rungs must be join-free:\n$plan")
  }
}
