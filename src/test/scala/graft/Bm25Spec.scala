package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Bm25

/** BM25 retrieval: the Spark pipeline must agree row-for-row with an
  * independent driver-side Long-arithmetic recomputation (different
  * code path: plain Scala maps, no Spark expressions), ranking ties
  * must break on doc_id, and query terms absent from the corpus must
  * contribute nothing rather than poison df.
  */
class Bm25Spec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def frame(rows: Seq[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 2), schema)
  }

  /** Driver-side reference: the same integer formula, plain Scala. */
  private def reference(docs: Seq[(Long, String)],
                        queries: Seq[(Int, Seq[String])],
                        topK: Int): Seq[(Int, Int, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val nDocs = docs.size.toLong
    val totalLen = toks.valuesIterator.map(_.size.toLong).sum
    queries.flatMap { case (qid, terms) =>
      val scored = docs.flatMap { case (id, _) =>
        val ts = toks(id)
        val dl = ts.size.toLong
        val hits = terms.distinct.flatMap { term =>
          val tf = ts.count(_ == term).toLong
          if (tf == 0L) None
          else {
            val df = docs.count { case (oid, _) => toks(oid).contains(term) }.toLong
            val idf = (Bm25.Micros * (2L * (nDocs - df) + 1L)) / (2L * df + 1L)
            val norm = 1000L - Bm25.BMilli + (Bm25.BMilli * dl * nDocs) / totalLen
            val sat = ((1000L + Bm25.K1Milli) * tf * Bm25.Micros) /
              (tf * 1000L + (Bm25.K1Milli * norm) / 1000L)
            Some((idf * sat) / Bm25.Micros)
          }
        }
        if (hits.isEmpty) None
        else Some((id, hits.sum, hits.size.toLong))
      }
      scored.sortBy { case (id, score, _) => (-score, id) }
        .take(topK).zipWithIndex
        .map { case ((id, score, nh), i) => (qid, i + 1, id, score, nh) }
    }
  }

  private val docs = Seq[(Long, String)](
    1L -> "data stream engine data data merge",
    2L -> "document extract document hash",
    3L -> "data engine engine stream stream stream hash join",
    4L -> "the quick brown fox",
    5L -> "merge join hash merge join hash data",
    6L -> "extract extract extract document stream")

  test("spark pipeline matches the driver-side integer reference") {
    val qs = Seq(1 -> Seq("data", "stream", "engine"),
      2 -> Seq("document", "extract"), 3 -> Seq("hash", "join", "merge"))
    val got = Bm25.retrieve(frame(docs), "doc_id", "text", qs, topK = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    val want = reference(docs, qs, topK = 4).sorted
    assert(got == want)
  }

  test("absent query terms contribute nothing; all-miss query returns no rows") {
    val qs = Seq(7 -> Seq("zzz", "data"), 8 -> Seq("qqq", "www"))
    val got = Bm25.retrieve(frame(docs), "doc_id", "text", qs, topK = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(got.forall(_._1 == 7), "query 8 (no term in corpus) must be empty")
    assert(got == reference(docs, qs, topK = 10).sorted)
    // "zzz" absent: every hit row is the "data" contribution only
    assert(got.forall(_._5 == 1L))
  }

  test("rank ties break on doc_id ascending") {
    val tied = Seq[(Long, String)](
      10L -> "alpha beta", 11L -> "alpha beta", 12L -> "alpha beta")
    val got = Bm25.retrieve(frame(tied), "doc_id", "text",
      Seq(1 -> Seq("alpha")), topK = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == Seq((1, 10L), (2, 11L), (3, 12L)))
  }
}
