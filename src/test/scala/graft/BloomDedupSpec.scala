package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.BloomDedup

/** Bloom incremental dedup: the relational (oracle-checkable) form and
  * the Array[Long] bitset form must agree row-for-row; Bloom must never
  * false-negative; the digest-slice positions must equal a driver-side
  * MessageDigest recomputation; bitsets built over disjoint corpus
  * halves must OR together to the whole-corpus bitset (the
  * treeAggregate merge contract).
  */
class BloomDedupSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  import scala.jdk.CollectionConverters._

  private def frame(rows: Seq[(Long, String)]) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
      .repartition(4)
  }

  // corpus of 40 distinct texts; batch has 5 exact dups (case/whitespace
  // variants — the q37 normalization must collapse them) + 15 fresh
  val corpus = frame((0L until 40L).map(i => (i, s"corpus document number $i with shared words")))
  val batch = frame(
    (0L until 5L).map(i => (100L + i, s"Corpus   DOCUMENT number $i WITH shared words")) ++
    (0L until 15L).map(i => (200L + i, s"a genuinely fresh batch document $i")))

  private def driverPositions(text: String): Seq[Int] = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until BloomDedup.K).map(i => Integer.parseInt(hex.substring(i * 5, i * 5 + 5), 16))
  }

  test("digest-slice positions equal a driver-side MD5 recomputation") {
    val got = BloomDedup.positions(batch, "doc_id", "text")
      .groupBy("id").agg(sort_array(collect_list("pos")).as("ps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).sorted).toMap
    val rows = batch.collect().map(r => (r.getLong(0), r.getString(1)))
    rows.foreach { case (id, text) =>
      assert(got(id) == driverPositions(text).sorted, s"doc $id")
    }
  }

  test("relational form == bitset form, and no false negatives") {
    val rel = BloomDedup.maybeDup(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq.sortBy(_._1)
    val bits = BloomDedup.buildBitset(corpus, "doc_id", "text")
    val rows = batch.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    rel.foreach { case (id, maybe, exact) =>
      val expected = BloomDedup.maybeInBitset(bits, driverPositions(rows(id)))
      assert(maybe == expected, s"doc $id: relational $maybe vs bitset $expected")
      if (exact) assert(maybe, s"doc $id: false negative (exact dup but bloom said new)")
    }
    // the 5 planted variants are exact dups; all must be flagged both ways
    assert(rel.count(_._3) == 5)
    assert(rel.filter(_._1 >= 100L).filter(_._1 < 105L).forall(_._2))
  }

  test("bitsets over disjoint corpus halves OR-merge to the whole-corpus bitset") {
    val a = corpus.filter(col("doc_id") < 20)
    val b = corpus.filter(col("doc_id") >= 20)
    val whole = BloomDedup.buildBitset(corpus, "doc_id", "text")
    val ba = BloomDedup.buildBitset(a, "doc_id", "text")
    val bb = BloomDedup.buildBitset(b, "doc_id", "text")
    val merged = new BloomDedup.BitsetAgg().merge(ba, bb)
    assert(java.util.Arrays.equals(merged, whole))
  }

  test("fuzz: positions + verdict match driver recomputation on arbitrary unicode text") {
    // deterministic scalacheck corpus: arbitrary unicode strings incl.
    // multi-byte chars and exotic whitespace (md5 runs over UTF-8 bytes
    // on both sides; \s is ASCII-only in Java AND RE2, so the q37 norm
    // agrees across engines — this pins the Spark side to the JVM side)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    var seed = Seed(83L)
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '\t', '\n', ' ', 'é', '中', ' ')))
      .map(_.mkString)
    val texts = (1 to 200).flatMap { i =>
      val r = gen.apply(Gen.Parameters.default.withSize(1 + i % 64), seed)
      seed = seed.next
      r
    }.distinct
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val half = rows.size / 2
    val corpusF = frame(rows.take(half))
    val batchF = frame(rows.drop(half) ++ rows.take(3).map { case (id, t) => (id + 10000L, t) })
    val bits = BloomDedup.buildBitset(corpusF, "doc_id", "text")
    val corpusKeys = rows.take(half).map(r => driverPositions(r._2)).map(_.mkString(",")).toSet
    val got = BloomDedup.maybeDup(corpusF, batchF, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    val batchRows = batchF.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == batchRows.size)
    got.foreach { case (id, maybe, exact) =>
      val ps = driverPositions(batchRows(id))
      assert(maybe == BloomDedup.maybeInBitset(bits, ps), s"doc $id verdict")
      if (exact) assert(maybe, s"doc $id false negative")
      // exact agrees with driver-side key membership (positions are a
      // superset witness of the md5 key at 120/128 bits; the planted
      // +10000 rows are the only true exact dups by construction)
      if (id >= 10000L) assert(exact, s"planted dup $id missed")
    }
    assert(corpusKeys.nonEmpty)
  }

  test("q83 over sf0.001 documents: invariant holds and broadcast join planned") {
    val df = graft.queries.GraftQueries.queries("q83_bloom_dedup")(spark, "/root/testdata/sf0.001")
    val rows = df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, maybe, exact) =>
      if (exact) assert(maybe, s"doc $id: false negative")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "corpus position set must broadcast")
  }
}
