package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.nlp.DocType

/** Round-2 operators: all-pairs trigram-jaccard ground truth,
  * doc-type keyword classification, oversized-LSH-bucket audit. */
class Round2Spec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  test("jaccardBruteForce matches a hand-computed trigram jaccard") {
    import spark.implicits._
    // doc 2 = doc 1 with one word changed; doc 3 unrelated
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "alpha beta gamma delta epsilon omega"
    val c = "one two three four five six"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val rows = Dedup.jaccardBruteForce(df, threshold = 0.1).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // shingles: 4 each, 3 shared -> 3/5
    assert(math.abs(r.getDouble(2) - 3.0 / 5.0) < 1e-12)
  }

  test("jaccardBruteForce ignores docs under 3 tokens") {
    import spark.implicits._
    val df = Seq((1L, "only two"), (2L, "only two")).toDF("doc_id", "text")
    assert(Dedup.jaccardBruteForce(df, threshold = 0.0).count() == 0)
  }

  test("DocType classifies by priority with confidence tiers") {
    import spark.implicits._
    val df = Seq(
      (1L, "Invoice INV-123 bill to Acme total due now"), // 3 kws -> high
      (2L, "Quarterly report attached"),                  // report, 2 kws
      (3L, "please complete all required fields"),        // form
      (4L, "zxq vwp mno")                                 // unknown
    ).toDF("id", "text")
    val (ty, cat, conf) = DocType.columns(col("text"))
    val got = df.select(col("id"), ty.as("t"), cat.as("c"), conf.as("f"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(got(1L) == (("invoice", "financial", "high")))
    assert(got(2L) == (("report", "technical", "high")))
    assert(got(3L) == (("form", "administrative", "high")))
    assert(got(4L) == (("unknown", "unknown", "low")))
  }

  test("DocType SQL mirror contains every keyword family") {
    val (t, c, f) = DocType.sqlColumns("extracted_text")
    DocType.table.foreach { case (ty, cat, kws) =>
      assert(t.contains(s"'$ty'")); assert(c.contains(s"'$cat'"))
      kws.foreach(k => assert(t.contains(k.replace("'", "''"))))
    }
    assert(f.contains("'high'") && f.contains("'medium'") && f.contains("'low'"))
  }

  test("signature pairs: planted same-window twins match above 0.75") {
    import spark.implicits._
    val pages = (0L until 1200L).map(i => graft.gen.PageGen.genRow(graft.gen.PageGen.DefaultSeed, i))
      .filter(_.kind == "html").map(_.page)
    val ds = spark.createDataset(pages)
    val forms = graft.forms.SignatureCompare.signedForms(ds)
    assert(forms.count() > 20)
    val p = graft.forms.SignatureCompare.pairs(forms).collect()
    assert(p.nonEmpty)
    val matches = p.count(_.getBoolean(4))
    val nonMatches = p.length - matches
    assert(matches > 0, "planted signature twins must match")
    assert(nonMatches > 0, "distinct signatures must not match")
    // every match must be a same-signer pair with high similarity
    p.filter(_.getBoolean(4)).foreach(r => assert(r.getDouble(3) > 0.75))
  }

  test("the bucket cap counts the buckets it drops") {
    import spark.implicits._
    // 30 identical docs -> every band bucket holds 30 ids; one planted
    // twin pair keeps 16 buckets of 2, so the capped pairs are not empty
    val same = (1 to 30).map(i => (i.toLong, "same text for everyone here today"))
    val twin = "another pair of byte identical twin documents"
    val df = (same ++ Seq(100L -> twin, 101L -> twin)).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(df, "doc_id", "text")
    def capped(maxBucket: Int): (Long, org.apache.spark.sql.Observation) = {
      val o = org.apache.spark.sql.Observation()
      (Dedup.candidatePairs(bands, maxBucket, o).count(), o)
    }
    val (pairs10, dropped10) = capped(10)
    assert(pairs10 == 1)
    // counted by the cap's own aggregate inside the pair action
    assert(dropped10.get("dropped") == Dedup.Bands)
    assert(Dedup.droppedBuckets(dropped10, bands, cap = 10) == Dedup.Bands)
    val (pairs100, dropped100) = capped(100)
    assert(pairs100 == 30L * 29 / 2 + 1)
    assert(Dedup.droppedBuckets(dropped100, bands, cap = 100) == 0)
    // the standalone count runs through the same sizing aggregate
    assert(Dedup.oversizedBucketCount(bands, Seq("band", "band_hash"), "id", 10) == Dedup.Bands)
  }

}
