package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.nlp.ResponseParser

/** F12 — structured model-response parsing gates: reference semantics
  * (detector.py:201-235 classification, :262-283 metadata) on planted
  * responses, including every fallback branch. */
class ResponseParserSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def parse(resp: String): (String, String, String, Option[String]) = {
    import spark.implicits._
    val df = Seq(resp).toDF("response")
    val r = df.select(
      ResponseParser.docType(col("response")),
      ResponseParser.category(col("response")),
      ResponseParser.confidence(col("response")),
      ResponseParser.metadataField(col("response"), "DATE")).first()
    (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3)))
  }

  test("clean KEY: lines parse to mapped type/category/confidence + fields") {
    val (t, c, conf, date) = parse(
      "TYPE: invoice\nCATEGORY: financial\nCONFIDENCE: high\nDATE: 2024-03-15")
    assert((t, c, conf, date) == (("invoice", "financial", "high", Some("2024-03-15"))))
  }

  test("raw labels map through the alias tables (court_filing -> legal_filing)") {
    val (t, _, _, _) = parse("TYPE: court_filing\nCATEGORY: legal")
    assert(t == "legal_filing")
  }

  test("unknown labels and non-level confidence fall back (unknown / medium)") {
    val (t, c, conf, _) = parse("TYPE: hologram\nCATEGORY: bureaucracy\nCONFIDENCE: definitely")
    assert((t, c, conf) == (("unknown", "unknown", "medium")))
  }

  test("bare single-line answer is taken as the raw type") {
    val (t, _, conf, _) = parse("  Receipt  ")
    assert(t == "receipt" && conf == "medium")
  }

  test("single-line fallback does NOT fire on multi-line responses") {
    val (t, _, _, _) = parse("invoice\nsome trailing explanation")
    assert(t == "unknown")
  }

  test("NOT_FOUND sentinel and missing lines both yield null fields") {
    val (_, _, _, d1) = parse("TYPE: letter\nDATE: NOT_FOUND")
    val (_, _, _, d2) = parse("TYPE: letter")
    assert(d1.isEmpty && d2.isEmpty)
  }

  test("value keeps everything after the FIRST colon (times survive)") {
    import spark.implicits._
    val df = Seq("DATE: 2024-01-02 10:30:00").toDF("response")
    val v = df.select(ResponseParser.metadataField(col("response"), "DATE")).first().getString(0)
    assert(v == "2024-01-02 10:30:00")
  }

  test("indented lines parse (reference strips before prefix match); prose never throws") {
    val (t, _, _, _) = parse("   TYPE: memo\nCATEGORY: personal")
    assert(t == "correspondence")
    val (t2, c2, conf2, d) = parse("The scan is too blurry; it might be some kind of form.")
    assert((t2, c2, conf2, d) == (("unknown", "unknown", "medium", None)))
  }

  test("CRLF responses parse identically to LF (no \\r leaks into values)") {
    val (t, c, conf, date) = parse(
      "TYPE: invoice\r\nCATEGORY: financial\r\nCONFIDENCE: high\r\nDATE: 2024-03-15\r\n")
    assert((t, c, conf, date) == (("invoice", "financial", "high", Some("2024-03-15"))))
  }

  test("quality assessment: score mapping, unknown default, overall thresholds") {
    import spark.implicits._
    def overall(resp: String): String =
      Seq(resp).toDF("r").select(ResponseParser.overallQuality(col("r"))).first().getString(0)
    // all good -> 3.0 -> good
    assert(overall("READABILITY: good\nALIGNMENT: good\nCOMPLETENESS: complete\nCONTRAST: good") == "good")
    // all poor/unclear -> 1.0 -> poor
    assert(overall("READABILITY: poor\nALIGNMENT: significant_skew\nCOMPLETENESS: unclear\nCONTRAST: poor") == "poor")
    // missing lines score the unknown default 2 -> 2.0 -> fair
    assert(overall("READABILITY: good\nCONTRAST: poor") == "fair")
    // issues: NONE and missing both empty; list split + trimmed
    def iss(resp: String): Seq[String] =
      Seq(resp).toDF("r").select(ResponseParser.issues(col("r"))).first().getSeq[String](0)
    assert(iss("ISSUES: NONE").isEmpty && iss("READABILITY: good").isEmpty)
    assert(iss("ISSUES: stain, torn corner ,blur") == Seq("stain", "torn corner", "blur"))
  }

  test("multi-document detection: YES gate, count default on unparseable") {
    import spark.implicits._
    def parseMulti(resp: String): (Boolean, Int) = {
      val r = Seq(resp).toDF("r")
        .select(ResponseParser.isMultiple(col("r")), ResponseParser.docCount(col("r"))).first()
      (r.getBoolean(0), r.getInt(1))
    }
    assert(parseMulti("MULTIPLE_DOCUMENTS: yes\nCOUNT: 3") == ((true, 3)))
    assert(parseMulti("MULTIPLE_DOCUMENTS: NO\nCOUNT: not sure") == ((false, 1)))
    assert(parseMulti("free-form refusal") == ((false, 1)))
  }

  test("duplicate KEY lines: the LAST one wins (reference overwrites in its line loop)") {
    import spark.implicits._
    val (t, _, _, d) = parse("TYPE: receipt\nTYPE: invoice\nDATE: 2023-01-01\nDATE: 2024-02-02")
    assert(t == "invoice" && d == Some("2024-02-02"))
    val r = Seq("COUNT: 2\nREADABILITY: poor\nREADABILITY: good\nCOUNT: 3").toDF("r")
      .select(ResponseParser.docCount(col("r")),
        ResponseParser.qualityDim(col("r"), "READABILITY")).first()
    assert((r.getInt(0), r.getString(1)) == ((3, "good")))
  }

  test("null response is total: unknown/medium/false/1 defaults, empty issues") {
    import spark.implicits._
    val df = Seq(Option.empty[String]).toDF("r")
    val row = df.select(
      ResponseParser.docType(col("r")),
      ResponseParser.confidence(col("r")),
      ResponseParser.isMultiple(col("r")),
      ResponseParser.docCount(col("r")),
      ResponseParser.issues(col("r")),
      ResponseParser.metadataField(col("r"), "DATE")).first()
    assert(row.getString(0) == "unknown" && row.getString(1) == "medium")
    assert(!row.getBoolean(2) && row.getInt(3) == 1)
    assert(row.getSeq[String](4).isEmpty && row.isNullAt(5))
  }

  test("present-but-empty ISSUES yields one empty issue (reference ''.split(',') == [''])") {
    import spark.implicits._
    def iss2(resp: String): Seq[String] =
      Seq(resp).toDF("r").select(ResponseParser.issues(col("r"))).first().getSeq[String](0)
    assert(iss2("ISSUES:") == Seq(""))
    assert(iss2("READABILITY: good").isEmpty)
  }

  test("q46 quality parse runs end-to-end and the correction variant honors last lines") {
    val df = graft.queries.GraftQueries.queries("q46_quality_parse")(spark, "/root/testdata/sf0.001")
    val v4 = df.filter(col("doc_id") % 5 === 4).select("readability", "doc_count", "is_multiple").first()
    assert((v4.getString(0), v4.getInt(1), v4.getBoolean(2)) == (("good", 3, true)))
    assert(df.count() == 500)
  }

  test("metadata duplicate-key corner: NOT_FOUND never overwrites, empty value assigns ''") {
    import spark.implicits._
    // reference skips assignment on NOT_FOUND (detector.py:279-280), so
    // the earlier real DATE survives the later NOT_FOUND line
    val (_, _, _, d) = parse("TYPE: letter\nDATE: 2023-05-01\nDATE: NOT_FOUND")
    assert(d == Some("2023-05-01"))
    // present-but-empty value IS assigned (value '' != 'NOT_FOUND')
    val v = Seq("RECIPIENT:\nTYPE: letter").toDF("r")
      .select(ResponseParser.metadataField(col("r"), "RECIPIENT")).first()
    assert(v.getString(0) == "")
    // NOT_FOUND-only still yields null
    val (_, _, _, d2) = parse("DATE: NOT_FOUND\nDATE: not_found")
    assert(d2.isEmpty)
  }

  test("q45 runs end-to-end with all four synthesized shapes present") {
    val df = graft.queries.GraftQueries.queries("q45_response_parse")(spark, "/root/testdata/sf0.001")
    val byType = df.groupBy("doc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.keySet == Set("invoice", "tax_form", "receipt", "unknown"))
    // variants are doc_id % 4 — counts within 1 of each other
    assert(byType.values.max - byType.values.min <= 1)
  }
}
