package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Postings

/** Planted-truth tests of the block-sharded delta-encoded index build
  * (q88's kernel). The corpus-level value check is the q88 DuckDB
  * oracle; these pin the block cut, the per-doc dedup, the gap
  * encoding, and parallelism-independence of the digest.
  */
class PostingsSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("block cut, per-doc dedup, and gap encoding match hand-computed truth") {
    import spark.implicits._
    // "the" in docs 3, 5, 1029 (two blocks at blockDocs=1024); doc 5
    // repeats it (must dedup); "rare" only in doc 1029
    val docs = Seq(
      (3L, "the quick fox"),
      (5L, "the the slow fox"),
      (1029L, "the rare owl")).toDF("doc_id", "text")
    val out = Postings.build(docs, "doc_id", "text", blockDocs = 1024)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap

    assert(out(("the", 0L)) == ((2L, 3L, 5L, md5Hex("3,2"))))
    assert(out(("the", 1L)) == ((1L, 1029L, 1029L, md5Hex("1029"))))
    assert(out(("rare", 1L)) == ((1L, 1029L, 1029L, md5Hex("1029"))))
    assert(out(("fox", 0L)) == ((2L, 3L, 5L, md5Hex("3,2"))))
    // every (term, block) shard is bounded: no shard spans blocks
    assert(out.keySet.forall { case (_, b) => b == 0L || b == 1L })
  }

  test("matchAll answers conjunctive queries from the shards alone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "beta gamma"),
      (2000L, "alpha beta gamma gamma")).toDF("doc_id", "text")
    val shards = Postings.shards(docs, "doc_id", "text", blockDocs = 1024)
    val hits = Postings.matchAll(shards, Seq("alpha", "gamma"))
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2000L)) // cross-block AND, partial matches dropped
    assert(Postings.matchAll(shards, Seq("beta")).count() == 4)
  }

  test("digest is parallelism-independent (1 vs 8 shuffle partitions)") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i * 7L, s"tok${i % 11} tok${i % 7} shared"))
      .toDF("doc_id", "text")
    def rows(parts: String) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Postings.build(docs, "doc_id", "text", blockDocs = 128)
        .collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(rows("1") == rows("8"))
  }
}
