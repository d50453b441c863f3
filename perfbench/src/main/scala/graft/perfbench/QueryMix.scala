package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Hits, HostRank, Hosts, LmScore, Redirects, Similarity, TextStats, Winnowing}
import graft.queries.GraftQueries

/** The query mix: nine queries of `SparkEntry.queries` over staged
  * tables, each checked once against its `oracleSql` in DuckDB, then run
  * again, each forced by an order-independent digest of its whole
  * output, which must equal the checked digest.
  *
  * The engine's registry keeps its staged tables under fixed paths
  * outside the working tree and reads its fixed test-data dir, so the
  * nine query plans are restated here over tables staged in the run's
  * own directory, calling the same operators with the same parameters.
  * Their oracle SQL is used as the engine publishes it, with only the
  * staged-table paths pointed at this run's tables. */
object QueryMix {
  val EmbeddingRows = 200

  /** Staged tables (the run's counterpart of `GraftQueries.warmCaches`). */
  final case class Staged(dir: Path, pagesDir: Path, extractedDir: Path,
                          pages: DataFrame, extracted: DataFrame, embeddings: DataFrame,
                          bigrams: DataFrame, lmScores: DataFrame, winnow: DataFrame,
                          semAssign: DataFrame, semBooks: DataFrame, semPairs: DataFrame)

  // the q77 constants of the engine's registry
  private val SemCells = 16
  private val SemThreshold = 0.35
  private def semTag(kind: String) = s"semdedup-c$SemCells-$kind"
  private val DistMicros =
    "aggregate(zip_with(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), " +
      "cm, (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  private def docIdOf(url: String) = expr(s"cast(regexp_extract($url, '/page/([0-9]+)$$', 1) as long)")

  private def htmlRows(s: Staged) = s.extracted.filter(col("error").isNull && col("payload_kind") === "html")

  private def docs(s: Staged): DataFrame =
    htmlRows(s).select(docIdOf("url").as("doc_id"), col("extracted_text").as("text"))

  private def hostEdges(s: Staged): DataFrame =
    htmlRows(s).select(Hosts.hostOf(col("url")).as("src"), explode(col("out_links")).as("link"))
      .select(col("src"), Hosts.hostOf(col("link")).as("dst"))

  val Queries: Seq[(String, Staged => DataFrame)] = Seq(
    "q39_doc_type" -> { s =>
      val (ty, cat, conf) = graft.nlp.DocType.columns(col("extracted_text"))
      htmlRows(s).select(ty.as("doc_type"), cat.as("category"), conf.as("confidence"))
        .groupBy(col("doc_type"), col("category"), col("confidence"))
        .agg(count(lit(1)).as("n"))
    },
    "q68_pagerank" -> (s => HostRank.ranks(hostEdges(s))),
    "q69_doc_keyterms" -> { s =>
      val d = docs(s)
      val cand = d
        .select(col("doc_id"), TextStats.lowerToks(col("text")).as("toks"))
        .select(col("doc_id"), explode(expr(TextStats.topTfCandidatesExpr(5))).as("p"))
        .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
      val df = d.select(explode(array_distinct(TextStats.lowerToks(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("df").asc, col("term").asc)
      cand.join(df, "term")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rk"))
    },
    "q74_lm_score" -> (s => LmScore.score(docs(s), "doc_id", "text", precomputedBi = Some(s.bigrams))),
    "q77_semantic_dedup" -> { s =>
      val e = s.embeddings.select(col("vec_id").cast("string").as("id"), col("embedding"))
      val verified = s.semPairs
        .join(e.select(col("id").as("a_id"), col("embedding").as("a_vec")), "a_id")
        .join(e.select(col("id").as("b_id"), col("embedding").as("b_vec")), "b_id")
        .filter(Similarity.cosine(col("a_vec"), col("b_vec")) >= SemThreshold)
        .select(col("a_id"), col("b_id"))
      val labels = Dedup.connectedComponents(verified)
      val dist = s.semAssign.join(e, "id").join(broadcast(s.semBooks), "cell")
        .select(col("id"), col("cell"), expr(DistMicros).as("dist_micros"))
      val w = Window.partitionBy(col("cluster_id")).orderBy(col("dist_micros").desc, col("id").asc)
      dist.join(labels.withColumnRenamed("label", "cluster_id"), Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
        .withColumn("is_canonical", row_number().over(w) === 1)
        .select(col("id").as("vec_id"), col("cell"), col("cluster_id"), col("is_canonical"), col("dist_micros"))
    },
    "q90_hits" -> (s => Hits.scores(hostEdges(s))),
    "q95_redirects" -> { s =>
      val pages = s.pages.select(col("url"), docIdOf("url").as("idx"))
      val edges = pages.filter(col("idx") % 16 >= 9).select(col("idx").as("src"), (col("idx") - 1).as("dst"))
      val resolved = Redirects.resolve(edges)
      val finals = pages.select(col("idx").as("f_idx"), col("url").as("final_url"))
      pages.join(resolved, pages("idx") === resolved("node"), "left")
        .select(col("url"), coalesce(col("final"), col("idx")).as("f_idx2"), coalesce(col("hops"), lit(0L)).as("n_hops"))
        .join(finals, col("f_idx2") === col("f_idx"))
        .select(col("url"), col("final_url"), col("n_hops"), (col("n_hops") > 0).as("redirected"))
    },
    "q103_ppl_buckets" -> { s =>
      val langs = htmlRows(s).select(docIdOf("url").as("doc_id"), col("lang"))
      LmScore.tertileBuckets(s.lmScores.join(langs, "doc_id")
        .select(col("lang"), col("avg_p_micros").as("score"), col("n_bigrams").as("weight")))
    },
    "q109_winnowing" -> (s => Winnowing.pairs(s.winnow)))

  /** Stage every table the nine queries read, as `warmCaches` does,
    * from a pages parquet and its committed extraction snapshot. */
  def stage(spark: SparkSession, seed: Long, dir: Path, pagesDir: Path, snapshotDataDir: Path): Staged = {
    def dump(name: String)(df: => DataFrame): DataFrame = {
      val p = dir.resolve(name).toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val pages = spark.read.parquet(pagesDir.toString)
    val extracted = spark.read.parquet(snapshotDataDir.toString)
    Inputs.embeddings(spark, seed, EmbeddingRows, dir.resolve("embeddings"))
    val emb = spark.read.parquet(dir.resolve("embeddings").toString)
    val base = Staged(dir, pagesDir, snapshotDataDir, pages, extracted, emb, null, null, null, null, null, null)
    val d = docs(base)
    val bigrams = dump("bigrams")(LmScore.bigramOccurrences(d, "doc_id", "text")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab")))
    val lm = dump("lm-scores")(LmScore.score(d, "doc_id", "text", precomputedBi = Some(bigrams)))
    val winnow = dump("winnow")(Winnowing.fingerprints(d, "doc_id", "text"))
    val cbs = Similarity.quantizer(emb, "vec_id", "embedding", nCells = SemCells, sampleSize = 2000)
    val assign = dump(semTag("assign"))(Similarity.cellAssignments(emb, "vec_id", "embedding", cbs))
    val books = dump(semTag("books"))(Similarity.pqCodebookTable(spark, Array(cbs)).select(col("cell"), col("cm")))
    val pairs = dump(semTag("pairs"))(assign.select(col("cell"), col("id").as("a_id"))
      .join(assign.select(col("cell"), col("id").as("b_id")), Seq("cell"))
      .filter(col("a_id") < col("b_id")))
    base.copy(bigrams = bigrams, lmScores = lm, winnow = winnow, semAssign = assign, semBooks = books, semPairs = pairs)
  }

  /** Order-independent digest of a whole query output: row count, the
    * sum of the low 32 bits and the xor of a 64-bit hash of each row. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).first()
    f"${r.getLong(0)}:${r.getLong(1)}%x:${r.getLong(2)}%016x"
  }

  /** The engine's oracle SQL for `name`, with its staged-table paths
    * pointed at this run's tables. */
  def oracleSql(name: String, s: Staged): String = {
    GraftQueries.setSf("sf0.01")
    val rows = graft.gen.PageGen.rowsForDir("sf0.01")
    val moves = Seq(
      GraftQueries.extractedDumpPath(rows) -> s.extractedDir.toString,
      GraftQueries.pagesDumpPath(rows) -> s.pagesDir.toString) ++
      Seq("assign", "books", "pairs").map(k => GraftQueries.annDumpPath(semTag(k), rows) -> s.dir.resolve(semTag(k)).toString)
    val sql = moves.foldLeft(graft.SparkEntry.oracleSql(name)) { case (q, (from, to)) => q.replace(from, to) }
    require(!sql.contains("/tmp/"), s"$name oracle reads a table this run did not stage")
    sql
  }

  /** Stage the tables from a committed snapshot, check each query
    * against its oracle once (also the JIT warm-up), then run one traced
    * pass. Part of `curate_export`'s traced run. */
  def traceRun(ctx: Ctx, pagesDir: Path, snapshotDataDir: Path, dir: Path): Unit = {
    val staged = stage(ctx.spark, ctx.opts.seed, dir, pagesDir, snapshotDataDir)
    val expected = oracleCheck(ctx, staged)
    ctx.probing {
      val t0 = System.nanoTime()
      Queries.foreach { case (name, q) =>
        val dg = ctx.call(s"query.$name")(digest(q(staged)))
        ctx.attempted += 1
        ctx.fail(if (dg == expected(name)) 0 else 1, s"$name digest $dg differs from the checked digest ${expected(name)}")
      }
      ctx.layers("query_mix_s") = (System.nanoTime() - t0) / 1e9
    }
    Queries.foreach { case (n, _) =>
      val a = ctx.probe.agg(s"query.$n")
      ctx.layers(s"query.$n.s") = ctx.tracer.total(s"query.$n")
      ctx.layers(s"query.$n.jobs") = a.jobs
      ctx.layers(s"query.$n.shuffle_bytes") = a.shuffleWrite
      ctx.layers(s"query.$n.driver_result_bytes") = a.resultBytes
    }
  }

  /** Run each query once, write its output, check it against its
    * oracle in DuckDB, and return each output's digest. */
  private def oracleCheck(ctx: Ctx, staged: Staged): Map[String, String] = {
    val checkDir = staged.dir.resolve("oracle-check")
    val expected = Queries.map { case (name, q) =>
      q(staged).write.parquet(checkDir.resolve(name).toString)
      name -> digest(ctx.spark.read.parquet(checkDir.resolve(name).toString))
    }.toMap
    val sqlFile = checkDir.resolve("oracle_sql.json")
    Files.writeString(sqlFile, Queries.map { case (n, _) =>
      s""""$n":"${Json.esc(oracleSql(n, staged))}"""" }.mkString("{", ",\n", "}"))
    val verdicts = Oracle.check(checkDir, staged.dir.resolve("embeddings"))
    Queries.foreach { case (n, _) =>
      ctx.attempted += 1
      ctx.fail(if (verdicts.get(n).exists(_.startsWith("OK"))) 0 else 1, s"$n vs its DuckDB oracle: ${verdicts.getOrElse(n, "no verdict")}")
    }
    expected
  }
}

/** Runs perfbench/oracle.py: DuckDB over the staged tables, compared
  * as sorted multisets with each query's written output. */
object Oracle {
  def check(checkDir: Path, embeddings: Path): Map[String, String] = {
    val script = Path.of("perfbench", "oracle.py").toAbsolutePath
    val pb = new ProcessBuilder("python3", script.toString, checkDir.toString, embeddings.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    p.waitFor()
    out.linesIterator.flatMap { l =>
      l.split(" ", 2) match {
        case Array(name, verdict) => Some(name -> verdict)
        case _ => None
      }
    }.toMap
  }
}
