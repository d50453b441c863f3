package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.vlm.{StubVlm, VlmPrompts, VlmStage, VlmUnavailable}

/** The VLM client analog: prompt selection/format contracts, the
  * deterministic stub's planted-fault schedule, the retry ladder, the
  * never-throw fallback, and the token/duration ledger arithmetic —
  * the detector.py:148-199 + client.py:96-260 behaviors a transport
  * swap must preserve. */
class VlmSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  /** Smallest 4-byte image whose stub digest starts with `prefix` —
    * the planted-fault schedule is digest-keyed, so tests synthesize
    * images that hit each branch deterministically. */
  private def imageWithDigestPrefix(prefix: String): Array[Byte] = {
    Iterator.from(0).map { i =>
      Array[Byte](i.toByte, (i >> 8).toByte, (i >> 16).toByte, (i >> 24).toByte)
    }.find(b => StubVlm.digestOf(b).startsWith(prefix))
      .get
  }

  private def imageAvoiding(prefixes: Seq[String]): Array[Byte] =
    Iterator.from(0).map { i =>
      Array[Byte](i.toByte, (i >> 8).toByte, (i >> 16).toByte, (i >> 24).toByte)
    }.find(b => !prefixes.exists(p => StubVlm.digestOf(b).startsWith(p))).get

  test("prompt selection: known domain picks its prompt, unknown falls back to general") {
    assert(VlmPrompts.classifyPrompt("legal")._1 == "legal")
    assert(VlmPrompts.classifyPrompt("insurance")._1 == "general")
    assert(VlmPrompts.classifyPrompt("general")._1 == "general")
    // detector.py:166 — selection is table-membership, not similarity
    assert(VlmPrompts.classifyPrompt("LEGAL")._1 == "general")
  }

  test("prompt format contracts match what ResponseParser is built against") {
    val general = VlmPrompts.classifyPrompt("general")._2
    assert(general.contains("TYPE: <document_type>"))
    assert(general.contains("CATEGORY: <category>"))
    assert(general.contains("CONFIDENCE: <level>"))
    for (dom <- Seq("financial", "legal", "medical")) {
      val p = VlmPrompts.classifyPrompt(dom)._2
      assert(p.contains("ONLY the document type"))
      // the stub answers from the enumerated choices; the oracle mirrors
      // the same list — 8 per domain, parsed from the prompt itself
      assert(StubVlm.promptChoices(p).size == 8, dom)
    }
    val fields = VlmPrompts.extractFieldsPrompt(Seq("invoice_number", "total"))
    assert(fields.contains("- invoice_number") && fields.contains("- total"))
    assert(fields.contains("FIELD_NAME: value") && fields.contains("NOT FOUND"))
    assert(VlmPrompts.multiDocPrompt.contains("MULTIPLE_DOCUMENTS: YES or NO"))
    assert(VlmPrompts.metadataPrompt.contains("NOT_FOUND"))
    assert(VlmPrompts.qualityPrompt.contains("READABILITY"))
  }

  test("stub is deterministic and answers constrained prompts from their choices") {
    val img = imageAvoiding(Seq("ff", "a"))
    val (_, legal) = VlmPrompts.classifyPrompt("legal")
    val r1 = StubVlm.generate(legal, b64(img), 0, 4096, 1)
    val r2 = StubVlm.generate(legal, b64(img), 0, 4096, 1)
    assert(r1 == r2)
    assert(StubVlm.promptChoices(legal).contains(r1.text))
    assert(!r1.text.contains("\n")) // bare one-word answer
    val (_, general) = VlmPrompts.classifyPrompt("general")
    val g = StubVlm.generate(general, b64(img), 0, 4096, 1)
    assert(g.text.startsWith("TYPE: ") && g.text.contains("\nCONFIDENCE: "))
  }

  test("token/duration ledger: prompt tokens + image charge, micros-per-token clock") {
    val img = imageAvoiding(Seq("ff", "a"))
    val (_, prompt) = VlmPrompts.classifyPrompt("medical")
    val r = StubVlm.generate(prompt, b64(img), 0, 4096, 1)
    assert(r.promptEvalCount == VlmPrompts.tokens(prompt) + VlmPrompts.ImageTokens)
    assert(r.evalCount == VlmPrompts.tokens(r.text))
    assert(r.promptEvalDurationMicros == r.promptEvalCount * StubVlm.MicrosPerPromptToken)
    assert(r.evalDurationMicros == r.evalCount * StubVlm.MicrosPerEvalToken)
    assert(r.loadDurationMicros == 0L)
  }

  test("planted faults: a-digest is transient (attempt 2 succeeds), ff-digest permanent") {
    val transient = imageWithDigestPrefix("a")
    val (_, prompt) = VlmPrompts.classifyPrompt("general")
    intercept[VlmUnavailable] { StubVlm.generate(prompt, b64(transient), 0, 4096, 1) }
    val ok = StubVlm.generate(prompt, b64(transient), 0, 4096, 2)
    assert(ok.text.nonEmpty)
    val dead = imageWithDigestPrefix("ff")
    intercept[VlmUnavailable] { StubVlm.generate(prompt, b64(dead), 0, 4096, 1) }
    intercept[VlmUnavailable] { StubVlm.generate(prompt, b64(dead), 0, 4096, 2) }
  }

  test("classifyPages: retry ladder, never-throw fallback, ledger totals") {
    import spark.implicits._
    val clean = imageAvoiding(Seq("ff", "a"))
    val transient = imageWithDigestPrefix("a")
    val dead = imageWithDigestPrefix("ff")
    val rows = Seq(
      ("u1", 0, clean, "legal"),
      ("u2", 0, transient, "insurance"), // unknown domain → general prompt
      ("u3", 0, dead, "financial"))
    val out = VlmStage.classifyPages(rows.toDS(), StubVlm)
      .collect().map(r => r.url -> r).toMap

    val r1 = out("u1")
    assert(r1.status == "ok" && r1.attempts == 1 && r1.prompt_key == "legal")
    val prompt1 = VlmPrompts.classifyPrompt("legal")._2
    assert(r1.total_duration_micros ==
      r1.prompt_eval_count * StubVlm.MicrosPerPromptToken +
        r1.eval_count * StubVlm.MicrosPerEvalToken)
    assert(r1.prompt_eval_count == VlmPrompts.tokens(prompt1) + VlmPrompts.ImageTokens)

    val r2 = out("u2")
    assert(r2.status == "ok" && r2.attempts == 2 && r2.prompt_key == "general")
    assert(r2.total_duration_micros ==
      VlmStage.AttemptPenaltyMicros +
        r2.prompt_eval_count * StubVlm.MicrosPerPromptToken +
        r2.eval_count * StubVlm.MicrosPerEvalToken)

    val r3 = out("u3") // detector.py:191-199 — a dead transport never throws
    assert(r3.status == "failed" && r3.attempts == VlmStage.MaxAttempts)
    assert(r3.response == "" && r3.prompt_eval_count == 0 && r3.eval_count == 0)
    assert(r3.total_duration_micros ==
      VlmStage.MaxAttempts * VlmStage.AttemptPenaltyMicros)
  }

  test("bare-answer responses parse through the F12 single-line fallback") {
    import spark.implicits._
    val img = imageAvoiding(Seq("ff", "a"))
    val ds = Seq(("u1", 0, img, "financial")).toDS()
    val parsed = VlmStage.classifyPages(ds, StubVlm).toDF()
      .select(graft.nlp.ResponseParser.docType(col("response")).as("t"),
        graft.nlp.ResponseParser.confidence(col("response")).as("c"))
      .collect().head
    val bare = StubVlm.responseFor(StubVlm.digestOf(img),
      VlmPrompts.classifyPrompt("financial")._2)
    // mapped bare labels map; unmapped ones → unknown; missing
    // CONFIDENCE line → parser default 'medium'
    val expected = graft.nlp.ResponseParser.typeMapping.toMap.getOrElse(bare, "unknown")
    assert(parsed.getString(0) == expected)
    assert(parsed.getString(1) == "medium")
  }
}
