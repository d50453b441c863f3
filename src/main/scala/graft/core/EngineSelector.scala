package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Characteristics-based engine routing — the re-expression of the
  * reference's EngineSelector (ocrworker/pipeline/selector.py,
  * the most_accurate branch of select_engine at :162-180 with the
  * language map of :21-35).
  *
  * The engine roster maps onto this pipeline's classifiers:
  *  - "density"          — strict text-density classifier: fast, highest
  *                         boilerplate precision (the TESSERACT slot:
  *                         fast / high printed accuracy).
  *  - "density_relaxed"  — recall-oriented classifier: keeps sparse
  *                         blocks a strict density score drops (the
  *                         stronger-but-looser PADDLEOCR/QWEN slot).
  *  - "pdf_layout"       — the PDF branch (payload-kind dispatch, not a
  *                         choice).
  *
  * Both HTML engines are in-process pure functions, so there is no
  * availability to gate on and no strategy to pick between: one rule
  * table, a pure function of (payload kind, payload size, lang), picks
  * the starting engine. It runs map-side with zero shuffle at any scale.
  * The table renders the per-row Scala form ([[route]], what the routed
  * extraction job runs) and the Spark Column and DuckDB SQL forms q49
  * value-checks, so the job and the oracle read the same arms.
  */
object EngineSelector {

  /** Payload-size floor under which a page is hinted "poor" quality:
    * a sub-800-byte page carries too few blocks for density statistics
    * to be reliable, the analog of a low-DPI scan. */
  val PoorQualityBytes = 800

  // ---- the routing rule -------------------------------------------------
  //
  //   kind=pdf     → pdf_layout        reason kind:pdf
  //   kind=unknown → none (quarantine) reason kind:unknown
  //   size < PoorQualityBytes → density_relaxed, reason quality:poor
  //   lang → recall engine             reason lang:<l>
  //   else → density                   reason default
  // ONE arm list below renders every form (engine in Scala, Column and
  // SQL; reason in Column and SQL), so the job, Spark and DuckDB cannot
  // drift: an arm added or reordered in one form is added in all.

  /** Languages whose scripts have no spaces or complex shaping (the
    * selector.py:21-35 keys mapped to the recall engine): word-count
    * density scoring under-fires on them. Sorted: q49's SQL lists them
    * in this order. */
  private val complexLangs: Seq[String] =
    Seq("ara", "chi_sim", "chi_tra", "hin", "jpn", "kor", "tha", "vie")
  private val complexLangsSql = complexLangs.map(l => s"'$l'").mkString(", ")

  private val DefaultEngine = "density"

  /** One routing arm: predicate + engine + reason, the predicate in
    * Scala, Column and SQL form and the reason in Column and SQL form,
    * over the (kind, size, lang) inputs. First match wins. */
  private final class RouteArm(
      val holds: (String, Int, String) => Boolean,
      val cond: (Column, Column, Column) => Column,
      val condSql: (String, String, String) => String,
      val engine: String,
      val reason: (Column, Column, Column) => Column,
      val reasonSql: (String, String, String) => String)

  private val routeArms: Seq[RouteArm] = Seq(
    new RouteArm((k, _, _) => k == "pdf", (k, _, _) => k === "pdf", (k, _, _) => s"$k = 'pdf'",
      "pdf_layout", (_, _, _) => lit("kind:pdf"), (_, _, _) => "'kind:pdf'"),
    new RouteArm((k, _, _) => k == "unknown", (k, _, _) => k === "unknown",
      (k, _, _) => s"$k = 'unknown'",
      "none", (_, _, _) => lit("kind:unknown"), (_, _, _) => "'kind:unknown'"),
    new RouteArm((_, s, _) => s < PoorQualityBytes, (_, s, _) => s < PoorQualityBytes,
      (_, s, _) => s"$s < $PoorQualityBytes",
      "density_relaxed", (_, _, _) => lit("quality:poor"), (_, _, _) => "'quality:poor'"),
    new RouteArm((_, _, l) => complexLangs.contains(l), (_, _, l) => l.isin(complexLangs: _*),
      (_, _, l) => s"$l IN ($complexLangsSql)",
      "density_relaxed",
      (_, _, l) => concat(lit("lang:"), l), (_, _, l) => s"'lang:' || $l"))

  /** The starting engine of one document: the first matching arm's,
    * else "density". A null `lang` matches no language, as in SQL. */
  def route(kind: String, payloadBytes: Int, lang: String): String =
    routeArms.find(_.holds(kind, payloadBytes, lang)).fold(DefaultEngine)(_.engine)

  def routeEngineCol(kind: Column, size: Column, lang: Column): Column =
    routeArms.foldRight(lit(DefaultEngine)) { (a, acc) =>
      when(a.cond(kind, size, lang), a.engine).otherwise(acc)
    }

  def routeReasonCol(kind: Column, size: Column, lang: Column): Column =
    routeArms.foldRight(lit("default")) { (a, acc) =>
      when(a.cond(kind, size, lang), a.reason(kind, size, lang)).otherwise(acc)
    }

  def sqlRouteEngine(kind: String, size: String, lang: String): String =
    routeArms.map(a => s"WHEN ${a.condSql(kind, size, lang)} THEN '${a.engine}'")
      .mkString("(CASE ", " ", s" ELSE '$DefaultEngine' END)")

  def sqlRouteReason(kind: String, size: String, lang: String): String =
    routeArms.map(a => s"WHEN ${a.condSql(kind, size, lang)} THEN ${a.reasonSql(kind, size, lang)}")
      .mkString("(CASE ", " ", " ELSE 'default' END)")
}
