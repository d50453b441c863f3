package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Extract
import graft.gen.PageGen

/** The correctness gate. Expected output is a single-threaded
  * `core.Extract` over each regenerated page; the engine's committed
  * rows must match it url for url, byte for byte. */
object Gate {

  /** Outcome of one comparison: every expected url is one check, and a
    * missing url, a text mismatch or an unexpected row is one failure. */
  final case class Verdict(checked: Long, failed: Long, digest: String, problems: Seq[String])

  def sha256Hex(s: String): String = hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** url → sha256(extracted_text) for rows [from, until) of `seed`:
    * each page regenerated and extracted on its own, outside Spark (the
    * rows are spread over a few plain threads only to save time). */
  def expected(seed: Long, from: Long, until: Long): Map[String, String] = {
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
    java.util.stream.LongStream.range(from, until).parallel().forEach { i =>
      val page = PageGen.genRow(seed, i).page
      out.put(page.url, sha256Hex(Extract(page).extracted_text))
    }
    scala.jdk.CollectionConverters.ConcurrentMapHasAsScala(out).asScala.toMap
  }

  /** (url, sha256 of extracted_text) of every row under `dirs`. */
  def committedRows(spark: SparkSession, dirs: Seq[String]): Seq[(String, String)] =
    spark.read.parquet(dirs: _*)
      .select(col("url"), sha2(coalesce(col("extracted_text"), lit("")), 256))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Order-independent digest of a set of (url, sha256(text)) pairs:
    * the count and the wrapping sum of a 64-bit hash of each pair. */
  def digest(rows: Iterable[(String, String)]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { case (u, h) =>
      val d = MessageDigest.getInstance("SHA-256").digest((u + "\u0000" + h).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    f"$n:${sum}%016x"
  }

  /** Digest of the rows with index below `rows` — the prefix two
    * workloads share, so their outputs can be compared. */
  def sharedDigest(got: Seq[(String, String)], rows: Int): String =
    digest(got.filter { case (u, _) => Inputs.indexOf(u) < rows })

  def check(rows: Seq[(String, String)], want: Map[String, String]): Verdict = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    rows.foreach { case (u, h) =>
      seen(u) = seen.getOrElse(u, 0) + 1
      want.get(u) match {
        case None => problems += s"unexpected url $u"
        case Some(w) if w != h => problems += s"text mismatch at $u"
        case _ =>
      }
    }
    seen.foreach { case (u, k) => if (k > 1) problems += s"url $u committed $k times" }
    want.keys.foreach(u => if (!seen.contains(u)) problems += s"missing url $u")
    Verdict(want.size.toLong, problems.size.toLong, digest(rows), problems.take(5).toSeq)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
