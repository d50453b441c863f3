package graft.vlm

import java.util.Base64

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** VLM client analog — the re-expression of the reference's Ollama HTTP
  * VLM client and its prompt stages
  * (/root/reference/ocrworker/vlm/client.py:27-260 `OllamaClient`,
  * /root/reference/ocrworker/classification/detector.py:148-199 domain
  * prompt selection + error fallback,
  * /root/reference/ocrworker/classification/prompts.py classification
  * prompt table, /root/reference/ocrworker/segmentation/prompts.py
  * multi-document prompts) as a typed, transport-pluggable Spark stage.
  *
  * The HTTP call itself cannot exist in a zero-egress sandbox and is
  * HONESTLY ABSENT: [[VlmTransport]] is the seam where a real client
  * would sit (the same request surface as client.py's
  * generate_with_image — model, prompt, base64 image, temperature,
  * num_predict), and [[StubVlm]] is the deterministic stand-in. Its
  * responses are a pure function of the IMAGE BYTES (md5 hex), so the
  * DuckDB oracle re-derives every downstream value — prompt selection,
  * retry/fallback accounting, token and duration metrics, the parsed
  * classification — from the already-dumped raster table alone (q82).
  *
  * What IS real Spark here, and survives a transport swap unchanged:
  * the mapPartitions client loop (executor-parallel batching — the
  * analog of the reference's per-document HTTP round trips, SURVEY
  * §2.1 S8), prompt selection, the bounded retry ladder, the
  * never-throw fallback posture (detector.py:191-199), and the
  * token/duration ledger columns. At 100 TB the stage is map-side on
  * the raster scan: no shuffle, no driver round trips, image bytes
  * never leave their partition.
  */
object VlmPrompts {

  /** Flat per-image token charge the stub's accounting uses (a real
    * VLM bills image patches as prompt tokens; the constant stands in
    * for that term so the ledger has the right shape). */
  val ImageTokens = 64L

  /** Whitespace token count — the accounting unit for the stub's
    * prompt_eval_count / eval_count (the reference surfaces Ollama's
    * own counts, client.py:152-153; a deterministic stand-in needs a
    * deterministic tokenizer). Mirrored by [[sqlTokens]]. */
  def tokens(s: String): Long = s.split("\\s+").count(_.nonEmpty).toLong

  /** DuckDB mirror of [[tokens]] over any varchar expression. */
  def sqlTokens(expr: String): String =
    s"len(list_filter(string_split_regex($expr, '\\s+'), x -> x <> ''))"

  /** SQL literal for a prompt template: quotes doubled, newlines as
    * chr(10) so the literal survives JSON + driver transport intact. */
  def sqlLit(s: String): String =
    "('" + s.replace("'", "''").replace("\r", "").split("\n", -1)
      .mkString("' || chr(10) || '") + "')"

  /** Domain-keyed classification prompt table — the analog of
    * classification/prompts.py:3-127 with detector.py:166-167's
    * selection rule (unknown domain → 'general'). Wording is original;
    * the RESPONSE-FORMAT CONTRACT matches the reference exactly —
    * 'general' demands TYPE/CATEGORY/CONFIDENCE lines, the domain
    * prompts demand a bare single-word answer — because ResponseParser
    * (F12) is built against those contracts. */
  val classification: Seq[(String, String)] = Seq(
    "general" ->
      """Look at this document image and classify it.
        |
        |Report:
        |1. DOCUMENT_TYPE - the specific kind of document (invoice, receipt, contract, letter, form, report, legal_filing, medical_record, tax_form, bank_statement, insurance_claim, purchase_order, ...)
        |2. CATEGORY - the broad family (financial, legal, medical, correspondence, administrative, technical, personal, government)
        |3. CONFIDENCE - how sure you are (high, medium, low)
        |
        |Answer in exactly this format:
        |TYPE: <document_type>
        |CATEGORY: <category>
        |CONFIDENCE: <level>""".stripMargin,
    "financial" ->
      """Look at this financial document and pick its type.
        |
        |Choices:
        |- invoice: a bill for goods or services
        |- receipt: proof that a payment happened
        |- bank_statement: account activity over a period
        |- tax_form: a tax document (W-2, 1099, ...)
        |- purchase_order: an order placed for goods or services
        |- credit_note: a credit memo or refund record
        |- expense_report: employee expense documentation
        |- payslip: a salary or wage statement
        |
        |Reply with ONLY the document type, nothing else.""".stripMargin,
    "legal" ->
      """Look at this legal document and pick its type.
        |
        |Choices:
        |- contract: an agreement between parties
        |- nda: a non-disclosure agreement
        |- power_of_attorney: a legal authorization
        |- deed: a property transfer record
        |- will: a testament
        |- court_filing: a document filed with a court
        |- affidavit: a sworn statement
        |- license: a permission or authorization
        |
        |Reply with ONLY the document type, nothing else.""".stripMargin,
    "medical" ->
      """Look at this medical document and pick its type.
        |
        |Choices:
        |- medical_record: patient health information
        |- prescription: a medication order
        |- lab_result: laboratory test results
        |- imaging_report: X-ray, MRI or CT findings
        |- insurance_claim: a medical insurance claim
        |- referral: a referral to a specialist
        |- discharge_summary: a hospital discharge record
        |- consent_form: a medical consent form
        |
        |Reply with ONLY the document type, nothing else.""".stripMargin)

  private val classMap = classification.toMap

  /** Prompt selection (detector.py:166-167): the domain hint picks its
    * prompt when the table has one, otherwise 'general'. Returns
    * (prompt_key, prompt). */
  def classifyPrompt(domain: String): (String, String) = {
    val key = if (classMap.contains(domain)) domain else "general"
    (key, classMap(key))
  }

  /** Field extraction prompt (client.py:230-260 extract_fields): one
    * FIELD_NAME: value line per requested field, NOT FOUND sentinel. */
  def extractFieldsPrompt(fields: Seq[String]): String = {
    val list = fields.map(f => s"- $f").mkString("\n")
    s"""Extract these fields from the document:
       |$list
       |
       |Give the value found for each field; if a field is absent,
       |answer "NOT FOUND" for it.
       |Answer one line per field as:
       |FIELD_NAME: value""".stripMargin
  }

  /** Multi-document detection prompt (segmentation/prompts.py:5-33) —
    * the MULTIPLE_DOCUMENTS/COUNT/CONFIDENCE/REASON contract that
    * ResponseParser.isMultiple/docCount parse. */
  val multiDocPrompt: String =
    """Study this scanned image and decide whether it holds MULTIPLE
      |SEPARATE DOCUMENTS (visible gaps or edges between paper areas,
      |several letterheads, mixed orientations or paper sizes).
      |
      |Answer in this EXACT format:
      |MULTIPLE_DOCUMENTS: YES or NO
      |COUNT: <number of documents, minimum 1>
      |CONFIDENCE: <0.0 to 1.0>
      |REASON: <one-line explanation>""".stripMargin

  /** Metadata extraction prompt (detector.py:237-257 contract: the
    * DATE/NUMBER/SENDER/RECIPIENT/AMOUNT/CURRENCY lines that
    * ResponseParser.metadataField parses). */
  val metadataPrompt: String =
    """Extract these fields from the document image.
      |Answer one per line, using NOT_FOUND when a field is absent:
      |DATE: <document date>
      |NUMBER: <document number>
      |SENDER: <issuing party>
      |RECIPIENT: <receiving party>
      |AMOUNT: <total amount>
      |CURRENCY: <currency code>""".stripMargin

  /** Quality assessment prompt (detector.py:285-316 contract: the
    | READABILITY/ALIGNMENT/COMPLETENESS/CONTRAST/ISSUES lines that
    * ResponseParser.qualityDim/overallQuality/issues parse). */
  val qualityPrompt: String =
    """Assess the scan quality of this document image.
      |Answer in this EXACT format:
      |READABILITY: good, fair or poor
      |ALIGNMENT: good, slight_skew or significant_skew
      |COMPLETENESS: complete, partial or unclear
      |CONTRAST: good, fair or poor
      |ISSUES: comma-separated list, or NONE""".stripMargin
}

/** One generation result — the OllamaVLMResult surface
  * (client.py:13-24) in deterministic integer micros. */
final case class VlmResponse(
    text: String,
    model: String,
    promptEvalCount: Long,
    evalCount: Long,
    loadDurationMicros: Long,
    promptEvalDurationMicros: Long,
    evalDurationMicros: Long)

/** Transport failure — the analog of client.py's raised httpx errors. */
final class VlmUnavailable(msg: String) extends RuntimeException(msg)

/** The seam a real HTTP client would fill (client.py:96-166
  * generate_with_image): same request surface, integer-deterministic
  * response metrics. `attempt` is a retry hint a real transport
  * ignores; the deterministic stub uses it to plant transient faults. */
trait VlmTransport extends Serializable {
  def model: String
  /** @throws VlmUnavailable on transport/model failure */
  def generate(prompt: String, imageB64: String, temperatureMilli: Int,
               numPredict: Int, attempt: Int): VlmResponse
}

/** Deterministic stand-in model. Everything it emits is a pure
  * function of (the image digest [[StubVlm.digestOf]], the prompt
  * text), so q82's DuckDB oracle re-derives responses, failures and
  * the full token/duration ledger from `md5(lower(hex(img)))` over the
  * raster dump:
  *
  *  - md5 hex starts "ff"  → permanent fault: every attempt throws
  *    (1/256 of images — exercises the detector.py:191-199 fallback);
  *  - md5 hex starts "a"   → transient fault: attempt 1 throws,
  *    attempt 2 succeeds (1/16 — exercises the retry ladder);
  *  - a prompt that enumerates "- type: ..." choices gets a bare
  *    single-word answer picked from those choices (the stub "reads
  *    the prompt", like the model would — and like the model, it only
  *    ever answers from the enumerated list);
  *  - a prompt demanding the TYPE/CATEGORY/CONFIDENCE format gets
  *    KEY: lines drawn from fixed label tables (including unmapped
  *    labels and an invalid confidence, so the parser's unknown paths
  *    stay exercised);
  *  - anything else gets a one-line transcription stub.
  *
  * The duration ledger is a documented fake clock (micros per token),
  * NOT wall time — a bench-grade simulation would be dishonest, and a
  * deterministic ledger is what makes the stage oracle-checkable. */
object StubVlm extends VlmTransport {
  val Version = 2 // v2: digest = md5 over hex rendering (DuckDB-portable)
  val model = "stub-vl:deterministic"

  val MicrosPerPromptToken = 250L
  val MicrosPerEvalToken = 1000L

  /** Raw TYPE labels for the general-format response, indexed by hex
    * digit 1 of the digest: a mix of mapped labels, mapped aliases
    * (memo/email_printout/passport) and one unmapped ('scribble'). */
  val rawTypes: Vector[String] = Vector(
    "invoice", "receipt", "contract", "letter", "form", "report",
    "bank_statement", "tax_form", "insurance_claim", "purchase_order",
    "medical_record", "court_filing", "passport", "memo",
    "email_printout", "scribble")

  /** Raw CATEGORY labels by hex digit 2: the eight mapped categories
    * plus two unmapped ones, then repeats. */
  val rawCats: Vector[String] = Vector(
    "financial", "legal", "medical", "correspondence", "administrative",
    "technical", "personal", "government", "miscellaneous", "bureaucracy",
    "financial", "legal", "medical", "correspondence", "administrative",
    "technical")

  /** CONFIDENCE labels by hex digit 3 mod 4 — one invalid value so the
    * parser's medium-default path stays exercised. */
  val rawConfs: Vector[String] = Vector("high", "medium", "low", "definitely")

  def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** The stub's image digest: md5 over the LOWERCASE-HEX rendering of
    * the bytes, not the raw bytes — DuckDB 1.0's md5 is VARCHAR-only,
    * so `md5(lower(hex(img)))` is the portable form both engines can
    * compute; hashing the hex string keeps the oracle able to re-derive
    * the planted fault schedule and responses from the raster dump. */
  def digestOf(imageBytes: Array[Byte]): String =
    md5Hex(imageBytes.map(b => f"${b & 0xff}%02x").mkString
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  private val choiceRe = java.util.regex.Pattern.compile("(?m)^- ([a-z_]+):")

  /** The enumerated "- type:" choices of a constrained prompt, in
    * prompt order (empty for free-format prompts). */
  def promptChoices(prompt: String): Vector[String] = {
    val m = choiceRe.matcher(prompt)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group(1)
    out.result()
  }

  def hexDigit(d: String, i: Int): Int = Character.digit(d.charAt(i), 16)

  /** The response text for (image digest, prompt) — pure. */
  def responseFor(digest: String, prompt: String): String = {
    val choices = promptChoices(prompt)
    if (choices.nonEmpty) choices(hexDigit(digest, 1) % choices.size)
    else if (prompt.contains("TYPE: <document_type>"))
      s"TYPE: ${rawTypes(hexDigit(digest, 1))}\n" +
        s"CATEGORY: ${rawCats(hexDigit(digest, 2))}\n" +
        s"CONFIDENCE: ${rawConfs(hexDigit(digest, 3) % 4)}"
    else s"[stub transcription of image ${digest.take(8)}]"
  }

  override def generate(prompt: String, imageB64: String,
                        temperatureMilli: Int, numPredict: Int,
                        attempt: Int): VlmResponse = {
    val bytes = Base64.getDecoder.decode(imageB64)
    val digest = digestOf(bytes)
    if (digest.startsWith("ff"))
      throw new VlmUnavailable(s"planted permanent fault ($model, ff-digest)")
    if (digest.charAt(0) == 'a' && attempt <= 1)
      throw new VlmUnavailable(s"planted transient fault ($model, a-digest)")
    val text = responseFor(digest, prompt)
    val promptToks = VlmPrompts.tokens(prompt) + VlmPrompts.ImageTokens
    val evalToks = VlmPrompts.tokens(text)
    VlmResponse(text, model,
      promptEvalCount = promptToks, evalCount = evalToks,
      loadDurationMicros = 0L,
      promptEvalDurationMicros = promptToks * MicrosPerPromptToken,
      evalDurationMicros = evalToks * MicrosPerEvalToken)
  }
}

/** One classified page — the stage's output row: the client ledger
  * (status/attempts/counts/durations) plus the raw response; parsing
  * to doc_type/category/confidence happens downstream with
  * ResponseParser so a response re-read from the dump goes through the
  * exact same parse as a live one. */
final case class VlmLedgerRow(
    url: String,
    page_no: Int,
    domain: String,
    prompt_key: String,
    model: String,
    status: String,
    attempts: Int,
    response: String,
    prompt_eval_count: Long,
    eval_count: Long,
    total_duration_micros: Long)

/** The executor-side client loop: prompt selection → bounded retry →
  * fallback, with the token/duration ledger. Map-side over whatever
  * partitioning the page/raster scan already has — image bytes never
  * shuffle, there is no driver round trip, and a 1000-executor run
  * issues transport calls with exactly the parallelism of its scan
  * (the reference's asyncio batch, S8, re-expressed as executor
  * parallelism). */
object VlmStage {
  val Version = 1
  val MaxAttempts = 2

  /** Deterministic per-attempt overhead charged by the ledger for every
    * attempt after the first and for every failed attempt. */
  val AttemptPenaltyMicros = 20000L

  def classifyPages(pages: Dataset[(String, Int, Array[Byte], String)],
                    transport: VlmTransport): Dataset[VlmLedgerRow] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      it.map { case (url, pageNo, img, domain) =>
        val (key, prompt) = VlmPrompts.classifyPrompt(domain)
        val b64 = Base64.getEncoder.encodeToString(img)
        classifyOne(url, pageNo, domain, key, prompt, b64, transport)
      }
    }
  }

  private def classifyOne(url: String, pageNo: Int, domain: String,
                          key: String, prompt: String, b64: String,
                          transport: VlmTransport): VlmLedgerRow = {
    var attempt = 0
    var res: VlmResponse = null
    while (attempt < MaxAttempts && res == null) {
      attempt += 1
      try res = transport.generate(prompt, b64, temperatureMilli = 0,
        numPredict = 4096, attempt = attempt)
      catch { case _: VlmUnavailable => () }
    }
    if (res == null)
      // detector.py:191-199 — classification NEVER throws; a dead
      // transport yields the unknown/low fallback row downstream
      VlmLedgerRow(url, pageNo, domain, key, transport.model,
        status = "failed", attempts = attempt, response = "",
        prompt_eval_count = 0L, eval_count = 0L,
        total_duration_micros = attempt * AttemptPenaltyMicros)
    else
      VlmLedgerRow(url, pageNo, domain, key, res.model,
        status = "ok", attempts = attempt, response = res.text,
        prompt_eval_count = res.promptEvalCount,
        eval_count = res.evalCount,
        total_duration_micros =
          (attempt - 1) * AttemptPenaltyMicros + res.loadDurationMicros +
            res.promptEvalDurationMicros + res.evalDurationMicros)
  }
}
