package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{Dataset, SparkSession}

/** WET sidecar — Common Crawl's extracted-text distribution format:
  * a WARC container of `WARC-Type: conversion` records whose body is
  * the plain UTF-8 extracted text of one page. With q48's raw WARC
  * segments (payload archive) and q98's WAT metadata records, this
  * completes the WARC/WAT/WET artifact triple a crawl pipeline
  * publishes (the reference's analog is the extracted-text record it
  * commits per document version, `ocrworker/tasks.py`).
  *
  * Same record codec as [[Warc]] — one framing reader, one streaming
  * segment writer and one scan, so a fix there covers both formats.
  * WET carries no CDX sidecar (matching the Common Crawl convention —
  * text consumers scan; random access goes through the WARC's index)
  * but does commit a `_WET_DONE` marker AFTER the last segment lands:
  * the marker is the emission's commit record (readers of a
  * marker-less dir may be looking at a crashed, partial emission) and
  * carries the record count for audit.
  *
  * Roundtrip contract (q100): writer → gzip → parser preserves every
  * url, language tag, timestamp millisecond and text BYTE — the DuckDB
  * oracle aggregates the same subset straight from the extraction dump
  * and the sums (including an md5-slice text key) must match exactly.
  */
object Wet {

  /** Bump to invalidate fixture dirs derived from this writer/parser. */
  val Version = 1

  /** Completion marker: present ⇔ an emission into the dir ran to the
    * end; its body is the record count written. */
  val DoneMarker = "_WET_DONE"

  final case class WetRecord(url: String, warc_ts: Timestamp,
                             lang: String, text: String)

  private val warcDate = DateTimeFormatter.ISO_INSTANT

  private def headerSafe(s: String): String = {
    val v = Option(s).getOrElse("")
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c != '\r' && c != '\n' && c >= ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** One conversion record. The body is the raw UTF-8 text (newlines
    * included verbatim — Content-Length delimits, nothing escapes). */
  def recordBytes(r: WetRecord): Array[Byte] = {
    val body = Option(r.text).getOrElse("").getBytes(UTF_8)
    val head = ("WARC/1.0\r\n" +
      "WARC-Type: conversion\r\n" +
      s"WARC-Target-URI: ${headerSafe(r.url)}\r\n" +
      s"WARC-Date: ${warcDate.format(r.warc_ts.toInstant)}\r\n" +
      s"WARC-Identified-Content-Language: ${headerSafe(r.lang)}\r\n" +
      "Content-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n" +
      "\r\n").getBytes(UTF_8)
    val out = new Array[Byte](head.length + body.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** True iff `dir` holds a COMPLETE emission (its [[DoneMarker]]
    * committed). A dir with segments but no marker is a crashed,
    * possibly partial emission — safe to re-emit over. */
  def isComplete(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, DoneMarker))

  /** Write records as WET segments, one per partition, through
    * [[Warc.writePartition]] (per-record gzip members, invisible temps,
    * atomic move, O(#partitions) driver traffic). Entry SWEEPS any
    * pre-existing segments and the marker — a re-emission with fewer
    * partitions must not leave stale higher-numbered segments for
    * readers to merge in — and exit commits the [[DoneMarker]]. Returns
    * the record count written. */
  def writeSegments(recs: Dataset[WetRecord], dir: String,
                    compress: Boolean = false): Long = {
    Warc.sweep(dir)(name => name.startsWith("_tmp-") ||
      name.startsWith("segment-") || name == DoneMarker)
    import recs.sparkSession.implicits._
    val ext = if (compress) ".warc.wet.gz" else ".warc.wet"
    val n = recs.mapPartitions { it =>
      var written = 0L
      Warc.writePartition(it, dir, ext, compress)(recordBytes)((_, _, _, _) => written += 1)
      Iterator.single(written)
    }.collect().sum
    // marker last: its presence certifies every segment above landed
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, DoneMarker), s"$n\n".getBytes(UTF_8))
    n
  }

  /** The conversion records of one segment (plain or gzip), lazily. */
  private def conversions(segment: Array[Byte]): Iterator[WetRecord] =
    Warc.records(segment, "conversion").map(r => WetRecord(
      r.header("warc-target-uri"), Warc.parseDate(r.header("warc-date")),
      r.header("warc-identified-content-language"),
      new String(r.bytes, r.bodyStart, r.bodyEnd - r.bodyStart, UTF_8)))

  /** Parse one (possibly multi-member-gzipped) WET segment. */
  def parseSegment(bytes: Array[Byte]): Seq[WetRecord] = conversions(bytes).toSeq

  /** Read a directory of .warc.wet / .warc.wet.gz segments into a typed
    * Dataset — the [[Warc.scan]] shape: one task per segment file,
    * parsed map-side, records streamed (at Common-Crawl scale each
    * ~1 GB segment is one input split; nothing shuffles). */
  def readRecords(spark: SparkSession, dir: String): Dataset[WetRecord] = {
    import spark.implicits._
    Warc.scan(spark, "*.warc.wet*", Seq(dir))(conversions)
  }
}
