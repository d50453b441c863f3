package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE tokenizer training (Sennrich et al. 2016, ACL — "Neural Machine
  * Translation of Rare Words with Subword Units"): learn the top-R
  * byte-pair merges from the corpus. The published algorithm trains on
  * the DISTINCT-WORD frequency table, not the corpus: each round counts
  * adjacent symbol pairs weighted by word frequency, merges the argmax
  * pair everywhere, repeats. The merge list IS the tokenizer model.
  *
  * Documented deviation (the [[Dsir]]/[[Bm25]] mirrorability precedent):
  * within a run of identical overlapping pairs (only possible when
  * left == right, e.g. "aaaa" merging (a,a)), greedy left-to-right BPE
  * merges alternate positions; that scan is inherently sequential, so
  * both the count and the merge here take only the FIRST position of
  * each chain (mark(i) = pairmatch(i) ∧ ¬pairmatch(i−1) — a pure
  * window expression, bit-identical in Spark and DuckDB; later rounds
  * pick up the remainder). Outside left==right chains this IS the
  * textbook algorithm. Scope: lowercase ASCII-alpha words (dodges
  * cross-engine unicode char-split edge cases), vocab capped at the
  * top-[[VocabCap]] words by (freq DESC, word ASC) — the standard
  * practice of training on the head vocabulary, deterministic ties.
  *
  * 100 TB shape: ONE corpus-sized exchange (the word count — map-side
  * combinable, output ≤ distinct-word cardinality) followed by R
  * training rounds over the capped vocab in LONG FORM (word, freq, pos,
  * tok) — model-sized work, never corpus-sized, the IVF-centroid
  * pattern. Each round: two window passes + one ≤|pairs| aggregate;
  * the argmax pair is a 1-row driver collect (the model, bytes). The
  * corpus text never shuffles; [[encodeTokenStatsFromCounts]] is the
  * corpus-wide application pass against that model.
  */
object Bpe {

  /** Bump when training or merge-application semantics change -- keys
    * the staged word-length dump. */
  val Version = "bpe-2"

  /** Merge rounds learned (the model size R). */
  val Rounds = 8

  /** Head-vocabulary cap for training (freq DESC, word ASC ties). */
  val VocabCap = 4000

  /** The one corpus-sized exchange: uncapped (word, freq) over every
    * in-scope corpus word — the table the *FromCounts entry points
    * (training and encode) start from. Callers with a staged
    * unigram-count dump pass its filtered projection instead. */
  def rawWordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.lowerToks(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Deterministic head-vocabulary cut (freq DESC, word ASC ties). */
  def headVocab(words: DataFrame, cap: Int = VocabCap): DataFrame =
    words.orderBy(col("freq").desc, col("word").asc).limit(cap)

  // (the per-round DataFrame long-form/mergeOnce window pipeline that
  // lived here moved into the sequential kernel shared with the native
  // expression: graft.functions.BpeEncodeWord.mergeOnce + the unrolled
  // oracle CTEs keep the window semantics pinned)

  /** Learned merges: (round, lhs, rhs, pair_count) from a (word, freq)
    * table ([[rawWordCounts]] or a staged corpus unigram dump — the
    * extract-once/read-many pattern, so reps measure the merge rounds,
    * not a re-derivation of the shared word-count exchange). Trains
    * [[Rounds]] rounds (early-stops when no adjacent pair remains).
    *
    * r6b (guide §1.2 step 1): training runs DRIVER-SIDE over the
    * collected head vocabulary. The head cut is ≤ [[VocabCap]]
    * (word, freq) rows — the standard BPE trainer input, and exactly
    * the table the old distributed form materialized anyway; every
    * published trainer (subword-nmt, HF tokenizers) runs this loop on
    * one machine because the state is model-sized by construction.
    * The old form ran R rounds of TWO corpus-cluster window passes, a
    * pair aggregate, a 1-row collect and an eager checkpoint — ~20
    * driver-blocking jobs to fold ~30k rows. Arithmetic, chain-skip
    * counting, argmax tie-break and the first-of-chain merge rule are
    * replicated exactly (differential OpsSpec + the unrolled oracle
    * CTEs value-check both training and application). */
  def trainMergesFromCounts(words: DataFrame, rounds: Int = Rounds,
                            cap: Int = VocabCap): DataFrame = {
    val spark = words.sparkSession
    val merges = trainMergesLocal(collectHeadVocab(words, cap), rounds)
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("lhs", StringType), StructField("rhs", StringType),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m => Row(m._1, m._2, m._3, m._4)), 1), schema)
  }

  /** The deterministic head cut, collected: one model-sized driver
    * pull (≤ cap rows; the KenLM-binary precedent — the same rows the
    * old plan's `limit(cap)` already pulled through the driver). */
  private def collectHeadVocab(words: DataFrame, cap: Int): Seq[(String, Long)] =
    headVocab(words, cap).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The sequential trainer over the head vocab: per round, count
    * adjacent pairs with the chain-skip rule (position i counts unless
    * prv==tok==nxt), take the (cnt DESC, l ASC, r ASC) argmax with
    * UNSIGNED-BYTE string order (UTF8String's comparator, so the
    * tie-break matches the old distributed orderBy bit-for-bit), merge
    * first-of-chain everywhere, repeat; early-stops when no countable
    * pair remains. */
  private[graft] def trainMergesLocal(vocab: Seq[(String, Long)],
                                      rounds: Int): List[(Int, String, String, Long)] = {
    import graft.functions.BpeEncodeWord.mergeOnce
    var words = vocab.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty), f)
    }.toArray
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      words.foreach { case (toks, freq) =>
        var i = 0
        val n = toks.length
        while (i + 1 < n) {
          // chain-skip: prv == tok == nxt drops the middle position
          val skip = i > 0 && toks(i - 1) == toks(i) && toks(i) == toks(i + 1)
          if (!skip) {
            val k = (toks(i), toks(i + 1))
            val c = counts.get(k)
            counts.put(k, if (c == null) freq else c.longValue + freq)
          }
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (l2, r2) = e.getKey
          val c = e.getValue.longValue
          if (c > bc ||
            (c == bc && (binaryLt(l2, bl) ||
              (l2 == bl && binaryLt(r2, br))))) {
            bl = l2; br = r2; bc = c
          }
        }
        merges += ((r, bl, br, bc))
        words = words.map { case (toks, f) =>
          (if (toks.length >= 2) mergeOnce(toks, bl, br) else toks, f)
        }
      }
      r += 1
    }
    merges.toList
  }

  /** a < b in UNSIGNED UTF-8 byte order — the comparator Spark's
    * string sort uses (identical to Java order on the ASCII scope, but
    * pinned to the engine's semantics regardless). */
  private def binaryLt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** Result rows kept by [[encodeTokenStatsFromCounts]] (deterministic ties:
    * occurrences DESC, tok ASC). */
  val EncodeTopK = 32

  /** Corpus-wide ENCODE with the trained model — the application pass
    * the training Scaladoc promises: apply the [[Rounds]] learned
    * merges, in round order, to EVERY in-scope corpus word (not just
    * the training head vocabulary), then report the top-[[EncodeTopK]]
    * BPE tokens by weighted corpus occurrences. Any divergence in
    * either training or merge application shifts these counts, so the
    * oracle (which re-derives both, end to end, in unrolled CTEs)
    * value-checks the whole tokenizer, not just the merge list.
    *
    * 100 TB shape: the model is 8 driver-side rows
    * (trainMergesFromCounts); the ONLY corpus-sized exchange here is
    * the distinct-word count (map-side combinable, ≤ distinct-word
    * cardinality out — the same exchange training already pays). Encoding runs as [[Rounds]]
    * window passes over the DISTINCT-WORD long form — heavy-tailed but
    * ≪ corpus tokens — and per-document token counts at full scale are
    * a broadcast join of word → n_tokens against this table; the
    * corpus text itself never shuffles.
    *
    * Input is a (word, freq) table, like [[trainMergesFromCounts]]:
    * [[rawWordCounts]], or a staged unigram dump, so training and
    * encode share ONE materialization of the word table instead of
    * each re-paying the corpus-sized exchange. */
  def encodeTokenStatsFromCounts(words: DataFrame, rounds: Int = Rounds,
                                 cap: Int = VocabCap,
                                 topK: Int = EncodeTopK): DataFrame =
    encodedLongForm(words, rounds, cap)
      .groupBy(col("tok"))
      .agg(sum(col("freq")).as("occurrences"),
        countDistinct(col("word")).as("n_words"))
      .orderBy(col("occurrences").desc, col("tok").asc)
      .limit(topK)

  /** Every distinct word fully tokenized under the trained merges:
    * (word, freq, pos, tok) — the shared tail of
    * [[encodeTokenStatsFromCounts]] and [[encodeWordLengthsFromCounts]].
    * `pos` is the token's 0-based position in its word (posexplode);
    * the DuckDB mirror's ef$r CTEs number positions from 1. Both
    * consumers read only the token multiset, never `pos` itself.
    *
    * r6b: application is ONE map-side pass through the native
    * [[graft.functions.BpeEncodeWord]] expression (the R merges are a
    * handful of driver-side strings baked into the expression), where
    * it used to be R window rounds over the corpus-wide long form —
    * each an exchange + sort + eager checkpoint of every
    * (word, pos, tok) row. The explode keeps the expression evaluated
    * once per word (the LmDocScore CollapseProject lesson). */
  private def encodedLongForm(words: DataFrame, rounds: Int,
                              cap: Int): DataFrame = {
    // one materialization feeds both the head-vocab training cut and
    // the full-list encode below (words may itself be a derived plan)
    val corpusWords = words.localCheckpoint(true)
    val model = trainMergesLocal(collectHeadVocab(corpusWords, cap), rounds)
      .map(m => (m._2, m._3))
    corpusWords
      .select(col("word"), col("freq"),
        posexplode(graft.functions.BpeEncodeWord(col("word"), model)))
      .select(col("word"), col("freq"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
  }

  /** (word, n_tokens): each distinct word's token count under the
    * trained merges — the word→length model a fertility audit joins
    * against per-language usage (model-sized output: one row per
    * distinct word, the same cardinality training already paid). */
  def encodeWordLengthsFromCounts(words: DataFrame, rounds: Int = Rounds,
                                  cap: Int = VocabCap): DataFrame =
    encodedLongForm(words, rounds, cap)
      .groupBy(col("word")).agg(count(lit(1)).as("n_tokens"))

  /** Per-document token counts under a trained word→length model —
    * THE one home of the q107/export token rule (keyed explode,
    * `[a-z]+` word universe, model join, weighted sum): (keyCols…,
    * n_bpe). One (doc, word) exchange joined against the model-sized
    * table; docs with no vocabulary word are absent (both engines
    * agree). Callers: q107 (keyed by doc_id) and ExportJob (keyed by
    * (url, doc_id)). */
  def perDocTokenCounts(docs: DataFrame, keyCols: Seq[String],
                        textCol: String, wordLengths: DataFrame): DataFrame =
    // r6 (guide §2.3/§2.4): the (doc, word) counts fold MAP-SIDE via
    // the sorted-array RLE (the doc's tokens all live in its row), so
    // the old groupBy(doc, word) exchange of ~9M corpus rows disappears
    // outright — the pre-counted rows go straight into the model join.
    // Bit-identical to the exploded groupBy; oracles untouched.
    docs
      .select(keyCols.map(col) :+
        TextStats.lowerToks(col(textCol)).as("toks"): _*)
      .select(keyCols.map(col) :+
        explode(expr(TextStats.rlePairsExpr)).as("p"): _*)
      .filter(col("p.term").rlike("^[a-z]+$"))
      .select(keyCols.map(col) :+ col("p.term").as("word") :+
        col("p.tf").as("freq"): _*)
      .join(wordLengths, "word")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("freq") * col("n_tokens")).as("n_bpe"))

  /** The training CTE chain shared by [[trainSql]] and [[encodeSql]]:
    * head-vocab word count (w0), its long form (lf0), and per-round
    * unrolled window CTEs p/b/m/mm/d/lf — b$r holds round r's argmax
    * merge pair. Every CTE is MATERIALIZED: DuckDB 1.0 inlines CTEs by
    * default, and with b$r referenced from several later CTEs the
    * 8-round chain re-evaluates super-linearly when inlined (minutes at
    * sf0.001 vs sub-second materialized — each round's relation is
    * vocab-long-form-sized, so materializing is the cheap direction).
    * `docsRel` must provide (text). */
  private def trainCteBlock(docsRel: String, rounds: Int,
                            cap: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT word, freq, pos, tok,
         |    lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt,
         |    lag(tok)  OVER (PARTITION BY word ORDER BY pos) AS prv
         |  FROM lf${r - 1}),
         |b$r AS MATERIALIZED (
         |  SELECT tok AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM p$r
         |  WHERE nxt IS NOT NULL
         |    AND NOT coalesce(prv = tok AND tok = nxt, FALSE)
         |  GROUP BY 1, 2
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |m$r AS MATERIALIZED (
         |  SELECT word, freq, pos, tok, nxt,
         |    coalesce(tok = (SELECT l FROM b$r)
         |         AND nxt = (SELECT r FROM b$r), FALSE) AS pm
         |  FROM p$r),
         |mm$r AS MATERIALIZED (
         |  SELECT *, pm AND NOT coalesce(
         |      lag(pm) OVER (PARTITION BY word ORDER BY pos), FALSE) AS mark
         |  FROM m$r),
         |d$r AS MATERIALIZED (
         |  SELECT *, coalesce(
         |      lag(mark) OVER (PARTITION BY word ORDER BY pos), FALSE) AS dropped
         |  FROM mm$r),
         |lf$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |    CASE WHEN mark THEN tok || nxt ELSE tok END AS tok
         |  FROM d$r WHERE NOT dropped)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
       |        FROM $docsRel)
       |  WHERE regexp_full_match(word, '[a-z]+')
       |  GROUP BY 1 ORDER BY freq DESC, word ASC LIMIT $cap),
       |lf0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(unnest(range(1, len(cs) + 1)) AS BIGINT) AS pos,
       |    unnest(cs) AS tok
       |  FROM (SELECT word, freq, string_split_regex(word, '') AS cs FROM w0)),
       |$roundCtes""".stripMargin
  }

  /** The DuckDB mirror of [[trainMergesFromCounts]] over
    * [[rawWordCounts]]: the merge list re-derived in
    * unrolled CTEs (same head-vocab cut, chain-skip counting, and
    * (cnt DESC, l, r) argmax). */
  def trainSql(docsRel: String, rounds: Int = Rounds,
               cap: Int = VocabCap): String = {
    val unions = (1 to rounds).map { r =>
      s"SELECT $r AS round, l AS lhs, r AS rhs, cnt AS pair_count FROM b$r"
    }.mkString("\nUNION ALL ")
    s"""WITH ${trainCteBlock(docsRel, rounds, cap)}
       |$unions""".stripMargin
  }

  /** The DuckDB mirror of [[encodeTokenStatsFromCounts]] over
    * [[rawWordCounts]]: re-derives the merges (the training CTEs), then
    * re-applies them to the FULL corpus word list with the identical
    * window transform — ef$r parallels lf$r but pulls round r's pair
    * from b$r instead of recomputing an argmax. An early-stopped round
    * leaves b$r empty, so its pair subqueries read NULL and the
    * coalesce makes the round a no-op in both engines. ef$r's `pos` is
    * 1-based where the engine's long form (encodedLongForm) is 0-based;
    * only the order within a word matters. */
  def encodeSql(docsRel: String, rounds: Int = Rounds,
                cap: Int = VocabCap, topK: Int = EncodeTopK): String =
    s"""WITH ${encodePrefixCtes(docsRel, rounds, cap)}
       |SELECT tok, CAST(sum(freq) AS BIGINT) AS occurrences,
       |  CAST(count(DISTINCT word) AS BIGINT) AS n_words
       |FROM ef$rounds
       |GROUP BY 1 ORDER BY occurrences DESC, tok ASC LIMIT $topK""".stripMargin

  /** The full CTE prefix shared by [[encodeSql]], [[fertilitySql]] and
    * the q107 train-export oracle: training chain + full-corpus word
    * count (cw) + per-round encode CTEs, ending with ef$rounds (every
    * word fully tokenized). Public so downstream oracles can compose
    * their own tails over the re-derived tokenizer. */
  def encodePrefixCtes(docsRel: String, rounds: Int = Rounds,
                       cap: Int = VocabCap): String = {
    val encodeCtes = (1 to rounds).map { r =>
      s"""ep$r AS MATERIALIZED (
         |  SELECT word, freq, pos, tok,
         |    lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM ef${r - 1}),
         |em$r AS MATERIALIZED (
         |  SELECT word, freq, pos, tok, nxt,
         |    coalesce(tok = (SELECT l FROM b$r)
         |         AND nxt = (SELECT r FROM b$r), FALSE) AS pm
         |  FROM ep$r),
         |emm$r AS MATERIALIZED (
         |  SELECT *, pm AND NOT coalesce(
         |      lag(pm) OVER (PARTITION BY word ORDER BY pos), FALSE) AS mark
         |  FROM em$r),
         |ed$r AS MATERIALIZED (
         |  SELECT *, coalesce(
         |      lag(mark) OVER (PARTITION BY word ORDER BY pos), FALSE) AS dropped
         |  FROM emm$r),
         |ef$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |    CASE WHEN mark THEN tok || nxt ELSE tok END AS tok
         |  FROM ed$r WHERE NOT dropped)""".stripMargin
    }.mkString(",\n")
    s"""${trainCteBlock(docsRel, rounds, cap)},
       |cw AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
       |        FROM $docsRel)
       |  WHERE regexp_full_match(word, '[a-z]+')
       |  GROUP BY 1),
       |ef0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(unnest(range(1, len(cs) + 1)) AS BIGINT) AS pos,
       |    unnest(cs) AS tok
       |  FROM (SELECT word, freq, string_split_regex(word, '') AS cs FROM cw)),
       |$encodeCtes""".stripMargin
  }

  /** DuckDB mirror of the q105 fertility audit: re-trains the merges,
    * re-tokenizes every distinct word (the [[encodeSql]] chain), then
    * re-derives the per-language usage weights and every floor
    * division. `docsRel` must provide (lang, text). */
  def fertilitySql(docsRel: String, rounds: Int = Rounds,
                   cap: Int = VocabCap): String =
    s"""WITH ${encodePrefixCtes(docsRel, rounds, cap)},
       |wl AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM ef$rounds GROUP BY 1),
       |lw AS MATERIALIZED (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lang, unnest(list_filter(
       |          string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
       |        FROM $docsRel)
       |  WHERE regexp_full_match(word, '[a-z]+')
       |  GROUP BY 1, 2)
       |SELECT lang,
       |  CAST(sum(freq) AS BIGINT) AS n_words,
       |  CAST(sum(freq * n_tokens) AS BIGINT) AS n_toks,
       |  CAST(sum(freq * len(word)) AS BIGINT) AS n_chars,
       |  CAST((1000000 * sum(freq * n_tokens)) // sum(freq) AS BIGINT)
       |    AS fertility_micros,
       |  CAST((1000000 * sum(freq * len(word))) // sum(freq * n_tokens) AS BIGINT)
       |    AS chars_per_token_micros
       |FROM lw JOIN wl USING (word) GROUP BY 1""".stripMargin
}
