package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.Locale
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.Page

/** WARC ingestion — the bridge from raw Common-Crawl segments to the
  * pages table. The reference's equivalent boundary is the S3 payload
  * fetch (/root/reference/ocrworker/s3.py:65-77): an opaque archive
  * holding each document's raw bytes, keyed by an external id. Here the
  * archive is the (public, ISO 28500) WARC format CC actually ships.
  *
  * Spark-idiomatic ingestion: the built-in `binaryFile` DataFrame
  * source reads whole .warc files (CC segments are ~1 GB, naturally
  * one task per file — 100 TB ⇒ ~100k parallel tasks), and a typed
  * flatMap splits records. No RDD, no custom FileFormat needed.
  *
  * This object also holds the record codec [[Wet]] shares: one framing
  * reader ([[records]]), one streaming segment writer
  * ([[writePartition]]) and one `binaryFile` scan ([[scan]]).
  *
  * Parser scope: WARC/1.0-1.1, `response` records with an HTTP/1.1
  * payload (status line + headers + body). Total: malformed records
  * are skipped, never thrown.
  */
object Warc {

  private val warcDate = DateTimeFormatter.ISO_INSTANT

  // ---- writer (generator side; synthesizes CC-style segments) ---------

  /** Strip CR/LF (and other C0 controls that could confuse header
    * parsing) from a value about to be written on a WARC or HTTP header
    * line — an unsanitized newline would terminate the header early and
    * corrupt record framing for every record after it. */
  private def headerSafe(s: String): String = {
    val v = Option(s).getOrElse("")
    if (v.forall(c => c >= 0x20 || c == '\t')) v
    else v.map(c => if (c >= 0x20 || c == '\t') c else ' ')
  }

  /** One complete WARC response record (headers + HTTP envelope +
    * payload + the record separator) — the unit of segment
    * concatenation, of per-record gzip membership, and of CDX-indexed
    * random access. Headers are UTF-8 per the WARC spec (multibyte
    * target URIs survive); record Content-Length counts BYTES of the
    * http head + body. The raw `text` column rides in an extension
    * header (WARC permits custom fields); header values cannot carry
    * CR/LF, so the text is NEWLINE-NORMALIZED (CR/LF → space) in the
    * header — the roundtrip is lossless only for newline-free text
    * (PageGen's corpus is; a page whose text had newlines would
    * roundtrip with them as spaces, never with broken framing). url/lang
    * are sanitized the same way before being written on header lines. */
  def recordBytes(p: Page): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(p.html.length + 512)
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    val httpHeadBytes = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: application/octet-stream\r\n" +
      s"Content-Language: ${headerSafe(p.lang)}\r\n" +
      s"Content-Length: ${p.html.length}\r\n\r\n").getBytes(UTF_8)
    val httpLen = httpHeadBytes.length + p.html.length
    val rawText = headerSafe(Option(p.text).getOrElse("").replaceAll("[\\r\\n]", " "))
    w("WARC/1.0\r\n")
    w("WARC-Type: response\r\n")
    w(s"WARC-Target-URI: ${headerSafe(p.url)}\r\n")
    w(s"WARC-Date: ${warcDate.format(Instant.ofEpochMilli(p.warc_ts.getTime))}\r\n")
    if (rawText.nonEmpty) w(s"X-Graft-Raw-Text: $rawText\r\n")
    w("Content-Type: application/http; msgtype=response\r\n")
    w(s"Content-Length: $httpLen\r\n\r\n")
    out.write(httpHeadBytes)
    out.write(p.html)
    w("\r\n\r\n")
    out.toByteArray
  }

  def writeSegment(pages: Seq[Page]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(pages.map(_.html.length + 512).sum)
    pages.foreach(p => out.write(recordBytes(p)))
    out.toByteArray
  }

  // ---- record codec: the framing reader --------------------------------

  private val RecordMagic = "WARC/".getBytes(ISO_8859_1)
  private val BlankLine = "\r\n\r\n".getBytes(ISO_8859_1)
  private val GzipMagic = Array[Byte](0x1f, 0x8b.toByte)

  /** One framed record: its headers (names lower-cased, values trimmed)
    * and its body, `bytes[bodyStart, bodyEnd)` of the inflated segment. */
  private[sources] final class Record(headers: Map[String, String],
      val bytes: Array[Byte], val bodyStart: Int, val bodyEnd: Int) {
    def header(name: String): String = headers.getOrElse(name, "")
  }

  /** The `warcType` records of one segment, framed lazily: a ~1 GB
    * segment never holds all of its records at once, only its bytes
    * and the record in flight. Gzip input (one member or many
    * concatenated) is inflated first, recognised by its magic bytes
    * whatever the file is named. Total: a record whose Content-Length
    * is missing, unparseable, negative or past the segment end is
    * skipped and the scan resyncs on the next `WARC/` after its header
    * block — a corrupt length loses that record only, and a segment
    * truncated mid-body keeps every record before the cut (the skipped
    * urls stay uncommitted, so a re-run over a repaired segment picks
    * them up). */
  private[sources] def records(segment: Array[Byte], warcType: String): Iterator[Record] = {
    val bytes = if (segment.startsWith(GzipMagic)) gunzip(segment) else segment
    Iterator.unfold(0)(frame(bytes, _)).filter(_.header("warc-type") == warcType)
  }

  /** The first well-framed record at or after `from`, with the offset
    * the scan resumes at. */
  private def frame(b: Array[Byte], from: Int): Option[(Record, Int)] = {
    var i = from
    while (i < b.length) {
      val start = findBytes(b, RecordMagic, i)
      val headEnd = if (start < 0) -1 else findBytes(b, BlankLine, start)
      if (headEnd < 0) return None
      val headers = parseHeaders(new String(b, start, headEnd - start, UTF_8))
      val bodyStart = headEnd + 4
      headers.get("content-length").flatMap(_.toIntOption) match {
        // `len <= length - bodyStart`, NOT `bodyStart + len <= length`:
        // a corrupt length near 2^31 would wrap the sum negative and
        // sneak past the bound instead of resyncing
        case Some(len) if len >= 0 && len <= b.length - bodyStart =>
          return Some((new Record(headers, b, bodyStart, bodyStart + len), bodyStart + len))
        case _ => i = bodyStart
      }
    }
    None
  }

  private def parseHeaders(s: String): Map[String, String] =
    s.linesIterator.flatMap { line =>
      val idx = line.indexOf(':')
      if (idx > 0) Some(line.substring(0, idx).toLowerCase(Locale.ROOT)
        -> line.substring(idx + 1).trim)
      else None
    }.toMap

  /** Full-precision (Timestamp.from, not toEpochMilli): the WET writer
    * emits the timestamp's complete instant, so the shared parser must
    * not truncate sub-millisecond digits on the way back. */
  private[sources] def parseDate(s: String): Timestamp =
    try Timestamp.from(Instant.parse(s))
    catch { case _: Exception => new Timestamp(0L) }

  /** First index `i >= from` where `p` occurs wholly inside `b[.., until)`. */
  private def findBytes(b: Array[Byte], p: Array[Byte], from: Int,
                        until: Int = Int.MaxValue): Int = {
    val end = math.min(until, b.length)
    var i = math.max(0, from)
    while (i + p.length <= end) {
      var k = 0
      while (k < p.length && b(i + k) == p(k)) k += 1
      if (k == p.length) return i
      i += 1
    }
    -1
  }

  // ---- parser -----------------------------------------------------------

  /** The response records of a segment (plain or gzip) as pages, lazily
    * (see [[records]]) — flatMap consumes the iterator directly. */
  def parseSegmentIterator(bytes: Array[Byte]): Iterator[Page] =
    records(bytes, "response").flatMap { r =>
      val uri = r.header("warc-target-uri")
      if (uri.isEmpty) None
      else {
        // the payload is an HTTP response: its body follows the first blank line
        val httpBodyStart = findBytes(r.bytes, BlankLine, r.bodyStart, r.bodyEnd) match {
          case x if x >= 0 => x + 4
          case _ => r.bodyStart
        }
        val lang = new String(r.bytes, r.bodyStart, httpBodyStart - r.bodyStart, UTF_8)
          .linesIterator
          .find(_.toLowerCase(Locale.ROOT).startsWith("content-language:"))
          .map(_.split(":", 2)(1).trim).getOrElse("und")
        Some(Page(uri, parseDate(r.header("warc-date")),
          java.util.Arrays.copyOfRange(r.bytes, httpBodyStart, r.bodyEnd),
          r.header("x-graft-raw-text"), lang))
      }
    }

  /** Eager form (tests / small segments). */
  def parseSegment(bytes: Array[Byte]): Seq[Page] =
    parseSegmentIterator(bytes).toSeq

  // ---- record codec: the segment writer ---------------------------------

  /** Create a segment dir and delete the entries whose names `stale`
    * accepts — each writer passes its own sweep policy. */
  private[sources] def sweep(dir: String)(stale: String => Boolean): Unit = {
    Files.createDirectories(Paths.get(dir))
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => stale(f.getName))
      .foreach(f => Files.deleteIfExists(f.toPath))
  }

  /** The one segment writer, run once per partition: streams the
    * partition's records into `dir/segment-<partition id, 5 digits><ext>`
    * under the [[atomicWriteStream]] commit. With `compress` every record
    * is its OWN gzip member (the Common-Crawl layout: concatenated
    * members are one valid gzip stream, and one member is fetchable by
    * byte range). Neither the partition nor the segment is held in
    * memory. After each record, `wrote(segment, record, offset, length)`
    * reports its byte range in the file; offsets are Longs, so a
    * segment may pass 2 GB. Returns the segment's file name, or None
    * for an empty partition (no file written). */
  private[sources] def writePartition[A](it: Iterator[A], dir: String, ext: String,
                                         compress: Boolean)(encode: A => Array[Byte])
                                        (wrote: (String, A, Long, Int) => Unit): Option[String] =
    if (!it.hasNext) None
    else {
      val tc = TaskContext.get()
      val name = f"segment-${tc.partitionId()}%05d$ext"
      var offset = 0L
      atomicWriteStream(Paths.get(dir, name), tc.taskAttemptId()) { out =>
        it.foreach { a =>
          val rec = encode(a)
          val stored = if (compress) gzip(rec) else rec
          out.write(stored)
          wrote(name, a, offset, stored.length)
          offset += stored.length
        }
      }
      Some(name)
    }

  /** The segment-commit protocol: the callback streams into an
    * underscore-prefixed, attempt-suffixed temp, then ATOMIC_MOVE puts
    * it over the target — readers only ever see absent or complete
    * files, never a torn write. The `_` prefix makes Spark's file index
    * drop the temp before `pathGlobFilter` runs (the `*.warc*` glob
    * itself WOULD match `_tmp-…`; any non-Spark listing must keep
    * skipping `_*` names). The attempt suffix keeps a speculative or
    * zombie retry of the same partition from interleaving writes into
    * a live temp; last finisher wins, safely, since both attempts carry
    * equal bytes. */
  private def atomicWriteStream(target: java.nio.file.Path, attemptTag: Long)
                               (write: java.io.OutputStream => Unit): Unit = {
    val tmp = target.resolveSibling(
      "_tmp-" + target.getFileName.toString + "." + attemptTag)
    try {
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 20)
      try write(os) finally os.close()
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  // ---- Spark surface ------------------------------------------------------

  /** Gunzip a whole segment (CC ships .warc.gz); total — a corrupt
    * stream keeps the already-decompressed prefix (the truncated final
    * record is then skipped by the parser), so one bad byte near the
    * end of a 1 GB segment doesn't drop the whole segment. Initial
    * buffer is clamped so large segments can't overflow Int sizing. */
  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val initial = math.min(bytes.length.toLong * 4, 64L << 20).toInt
    val out = new java.io.ByteArrayOutputStream(math.max(64, initial))
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes), 1 << 16)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = in.read(buf)
      }
    } catch { case _: java.io.IOException => /* keep the valid prefix */ }
    out.toByteArray
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2)
    val gz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  private val SegmentGlob = "*.warc*"

  private def binaryFiles(spark: SparkSession, glob: String, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(paths: _*)

  /** The one segment scan under every reader: the `binaryFile` source
    * over `paths` (files or dirs; names matching `glob`), one task per
    * segment file, each file's records parsed map-side by `parse`.
    * Nothing shuffles. */
  private[sources] def scan[A: Encoder](spark: SparkSession, glob: String, paths: Seq[String])
                                       (parse: Array[Byte] => Iterator[A]): Dataset[A] =
    binaryFiles(spark, glob, paths).select(col("content")).as(Encoders.BINARY).flatMap(parse)

  /** Read a directory of .warc / .warc.gz segments into the typed pages
    * Dataset (one task per segment — CC segments are ~1 GB, so 100 TB ⇒
    * ~100k parallel tasks). */
  def readPages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    scan(spark, SegmentGlob, Seq(dir))(parseSegmentIterator)
  }

  /** Read a SPECIFIC set of segment files — the file-manifest resume
    * path (ExtractJob.runWarc scans only segments no committed snapshot
    * has consumed, mirroring the parquet path's O(#files) resume). */
  def readPagesFiles(spark: SparkSession, files: Seq[String]): Dataset[Page] = {
    require(files.nonEmpty, "readPagesFiles: empty file list")
    import spark.implicits._
    scan(spark, SegmentGlob, files)(parseSegmentIterator)
  }

  /** Segment file paths under `dir` as the scan would enumerate them —
    * the unit of resume bookkeeping (manifest `input_files`). */
  def listSegments(spark: SparkSession, dir: String): Seq[String] =
    binaryFiles(spark, SegmentGlob, Seq(dir)).inputFiles.toSeq.sorted

  /** Generator-side: write pages as deterministic WARC segments, one
    * file per input partition, written FROM THE EXECUTORS through
    * [[writePartition]] (nothing rides through driver heap).
    * Local-mode executors share the local FS; a cluster deployment
    * points `dir` at the distributed FS. Each segment gets a CDX
    * sidecar of its records' (offset, length), so one record is
    * fetchable by byte range without scanning the segment. */
  def writeSegments(pages: Dataset[Page], dir: String, compress: Boolean = false): Unit = {
    // temps of a crashed run are invisible to every reader (the _
    // prefix); without this sweep they would leak a segment copy each
    sweep(dir)(_.startsWith("_tmp-"))
    import pages.sparkSession.implicits._
    val ext = if (compress) ".warc.gz" else ".warc"
    // returns only O(#partitions) names to the driver, forcing the write job
    pages.mapPartitions { it =>
      val cdx = new StringBuilder
      writePartition(it, dir, ext, compress)(recordBytes) { (seg, p, offset, length) =>
        cdx.append(cdxKey(p.url)).append('\t').append(seg).append('\t').append(offset)
          .append('\t').append(length).append('\t').append(p.warc_ts.getTime).append('\n')
      }.map { seg =>
        // the CDX sidecar commits AFTER its segment (readers treat the
        // index as advisory: segment present + cdx missing = scan path
        // still works; cdx present + segment missing cannot happen)
        atomicWriteStream(Paths.get(dir, seg.stripSuffix(ext) + ".cdx"),
          TaskContext.get().taskAttemptId())(_.write(cdx.toString.getBytes(UTF_8)))
        seg
      }.iterator
    }.collect()
    ()
  }

  // ---- CDX random access (the Common-Crawl index pattern) ---------------

  /** The CDX line format separates fields with tabs, and [[headerSafe]]
    * deliberately PRESERVES tabs in WARC headers — so the url field is
    * tab-escaped on write and lookups escape their keys the same way
    * (framing stays 5 fields for any url; fetch-by-offset never depends
    * on the url text). */
  def cdxEscape(url: String): String = url.replace("\t", "%09")

  /** The ONE canonicalization shared by index writes and lookups:
    * [[headerSafe]] first (the writer sanitizes CR/LF/C0 controls out
    * of header values, and the CDX url field rides a header), then
    * [[cdxEscape]]. A lookup that escaped but did not sanitize would
    * silently never find a url containing control chars — the index
    * stores the sanitized form (round-4 ADVICE #4). */
  def cdxKey(url: String): String = cdxEscape(headerSafe(url))

  /** The CDX index of a segment dir: (url, segment, offset, length,
    * warc_ts_ms) — one row per record (urls [[cdxEscape]]d), read from
    * the per-segment sidecars the writer commits. Vastly smaller than
    * the segments (~60 bytes/record vs the payload), so point lookups
    * join against THIS and fetch only the matching byte ranges. */
  def cdxIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read
      .schema(StructType(Seq(
        StructField("url", StringType), StructField("segment", StringType),
        StructField("offset", LongType), StructField("length", IntegerType),
        StructField("warc_ts_ms", LongType))))
      .option("sep", "\t")
      .option("pathGlobFilter", "*.cdx")
      .csv(dir)
  }

  /** The record in `length` bytes at `offset` of an open segment — one
    * gzip member or one plain record, inflated by its magic. */
  private def readRecord(ch: FileChannel, offset: Long, length: Int): Option[Page] = {
    val buf = ByteBuffer.allocate(length)
    ch.position(offset)
    while (buf.hasRemaining && ch.read(buf) >= 0) {}
    parseSegmentIterator(buf.array()).nextOption()
  }

  /** Point-fetch ONE record by CDX coordinates: reads `length` bytes at
    * `offset`, never the segment. The raw-crawl analog of the
    * reference's per-document S3 GET (ocrworker/s3.py) — S4 point
    * lookup at the segment layer. */
  def fetchRecord(dir: String, segment: String, offset: Long, length: Int): Option[Page] = {
    val ch = FileChannel.open(Paths.get(dir, segment))
    try readRecord(ch, offset, length) finally ch.close()
  }

  /** Batch point lookups: broadcast-join the url set against the CDX
    * index and fetch ONLY the matching byte ranges, executor-side (the
    * same local-FS visibility contract as [[writeSegments]]). Each
    * partition's rows are grouped by segment so one FileChannel serves
    * every record in that segment — O(#segments) opens, not
    * O(#records), on exactly the path this feature makes cheap. */
  def lookupPages(spark: SparkSession, dir: String, urls: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    cdxIndex(spark, dir)
      .join(broadcast(urls.map(cdxKey).toDF("url")), Seq("url"), "left_semi")
      .select(col("segment"), col("offset"), col("length"))
      .as[(String, Long, Int)]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (seg, rows) =>
          val ch = FileChannel.open(Paths.get(dir, seg))
          try rows.sortBy(_._2).flatMap { case (_, off, len) => readRecord(ch, off, len) }
          finally ch.close()
        }
      }
  }
}
