package graft.job

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot/manifest layer over partitioned Parquet.
  *
  * No Iceberg runtime exists in this sandbox (verified; see SURVEY.md
  * §7.0), so the checkpoint contract of the north rule — "checkpointed
  * snapshots carrying lineage (warc_ts range, partition id, row counts,
  * extraction-version hash) so the job resumes idempotently" — is
  * realized with the same mechanics Iceberg uses: immutable data files
  * + a JSON manifest per snapshot + an atomically-replaced
  * `version-hint.text` pointer. Snapshot sequence numbering mirrors the
  * reference's monotonic DocumentVersion.number
  * (/root/reference/ocrworker/db/api.py:128-137).
  *
  * Layout:
  *   <root>/data/snap-<seq>/...parquet       immutable per-snapshot data
  *   <root>/snapshots/v<seq>.json            manifest (lineage + files)
  *   <root>/version-hint.text                current sequence (atomic)
  *
  * Manifests are written by one renderer and read by one decoder:
  * [[SnapshotStore.chain]] decodes `v1..v<current>` once into
  * [[Snapshot]] values, and every chain question (live data dirs,
  * change windows, chain identity, consumed inputs, expiry) is a
  * function over that decoded sequence, never a re-read of the text.
  */
final case class PartitionLineage(
    partitionId: Int,
    rowCount: Long,
    errorCount: Long,
    warcTsMin: Long,
    warcTsMax: Long)

final case class Snapshot(
    sequence: Int,
    parent: Int,              // sequence - 1; 0 for the first
    extractionVersion: String,
    dataDir: String,
    partitions: Seq[PartitionLineage],
    rowCount: Long,
    inputFiles: Seq[String] = Nil,  // input files consumed by THIS snapshot
    routing: String = "strict",     // engine-selection mode: strict | routed
    replaces: Int = 0)              // >0: this data dir REWRITES snapshots 1..replaces
                                    // (compaction — Iceberg rewrite_data_files analog)

object SnapshotStore {

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def currentSequence(root: String): Int = {
    val hint = Paths.get(root, "version-hint.text")
    if (Files.exists(hint)) new String(Files.readAllBytes(hint), UTF_8).trim.toInt else 0
  }

  /** The committed chain: manifests `1..currentSequence` decoded once,
    * element `i` holding sequence `i + 1`. Every chain question below
    * is a function over this sequence, so a writer reads it once per
    * commit and hands the same value to each question. */
  def chain(root: String): IndexedSeq[Snapshot] =
    (1 to currentSequence(root)).map(i => decodeManifest(readManifest(root, i)))

  /** The one manifest decoder, the inverse of [[renderManifest]].
    * Fields older manifests lack read as their historical defaults:
    * `routing` as "strict", `replaces` as 0, `input_files` as empty. */
  private def decodeManifest(json: String): Snapshot = {
    val m = Json.readTree(json)
    Snapshot(
      sequence = m.path("sequence").asInt,
      parent = m.path("parent").asInt,
      extractionVersion = m.path("extraction_version").asText,
      dataDir = m.path("data_dir").asText,
      partitions = m.path("partitions").asScala.map { p =>
        PartitionLineage(p.path("partition_id").asInt, p.path("row_count").asLong,
          p.path("error_count").asLong, p.path("warc_ts_min").asLong, p.path("warc_ts_max").asLong)
      }.toSeq,
      rowCount = m.path("row_count").asLong,
      inputFiles = m.path("input_files").asScala.map(_.asText).toSeq,
      routing = Some(m.path("routing").asText).filter(_.nonEmpty).getOrElse("strict"),
      replaces = m.path("replaces").asInt)
  }

  /** Data dirs of committed snapshots with rows — read from MANIFESTS
    * (authoritative, Iceberg-style), never from directory listings: a
    * crashed writer may leave stray uncommitted dirs on disk.
    * `upTo` caps the sequence for time travel. */
  def dataDirs(root: String, upTo: Int = Int.MaxValue): Seq[String] =
    dataDirs(root, chain(root).take(upTo))

  /** Live data dirs of a decoded chain. Reads start at the latest
    * compaction snapshot (`replaces` > 0): its data dir is the verbatim
    * rewrite of every snapshot at or below its boundary, so the
    * replaced dirs are not read again (they stay on disk for time
    * travel below the boundary until [[expireReplaced]] reclaims
    * them). A committed snapshot whose data dir is MISSING is an
    * integrity error, never a silent skip — a partial union would
    * silently drop rows. */
  def dataDirs(root: String, chain: Seq[Snapshot]): Seq[String] =
    chain.drop(latestCompaction(chain).fold(0)(_.sequence - 1))
      .filter(rowBearingDir)
      .map(requireDataDir(root, _, "reads below a compaction boundary require " +
        "the replaced dirs to still exist"))

  private def rowBearingDir(s: Snapshot): Boolean = s.rowCount > 0 && s.dataDir.nonEmpty

  /** The resolved data dir of a row-bearing snapshot; a missing one is
    * an integrity error naming `hint`. */
  private[job] def requireDataDir(root: String, s: Snapshot, hint: String): String =
    resolveDataDir(root, s.dataDir).getOrElse(throw new IllegalStateException(
      s"snapshot v${s.sequence} at $root commits ${s.rowCount} rows but its data dir " +
        s"${s.dataDir} is missing — expired or externally deleted; $hint"))

  private def latestCompaction(chain: Seq[Snapshot]): Option[Snapshot] =
    chain.findLast(_.replaces > 0)

  /** Sequence and data dir the next commit on top of `chain` claims. */
  def nextDataDir(root: String, chain: Seq[Snapshot]): (Int, String) = {
    val next = chain.size + 1
    (next, s"$root/data/snap-$next")
  }

  /** Commit: write manifest JSON, then atomically flip version-hint.
    * Write-temp-then-rename gives the same crash-atomicity Iceberg's
    * catalog swap provides on a local FS. */
  def commit(root: String, snap: Snapshot): Unit = {
    writeAtomic(manifestPath(root, snap.sequence), renderManifest(snap).getBytes(UTF_8))
    writeAtomic(Paths.get(root, "version-hint.text"), snap.sequence.toString.getBytes(UTF_8))
  }

  /** Relocation-tolerant data-dir resolution, the ONE policy every
    * consumer (reads, incremental reads, expiry, sidecar catch-up)
    * shares: manifests record the data_dir as written at commit time,
    * so a store that was MOVED or COPIED wholesale (cache promotion,
    * table rename, volume migration) carries stale absolute paths. The
    * layout is canonical — <root>/data/<basename> — so the dir under
    * the CURRENT root wins whenever it exists; the recorded path is
    * only trusted as a fallback (a store that genuinely keeps data
    * outside root/data). Preferring the current root also means a
    * copy-based migration never reads from — or lets expiry DELETE —
    * the source table's dirs. None = genuinely missing everywhere. */
  def resolveDataDir(root: String, dir: String): Option[String] = {
    val relocated = Paths.get(root, "data",
      Paths.get(dir).getFileName.toString).toString
    if (Files.exists(Paths.get(relocated))) Some(relocated)
    else if (Files.exists(Paths.get(dir))) Some(dir)
    else None
  }

  def manifestPath(root: String, seq: Int): Path = Paths.get(root, "snapshots", s"v$seq.json")

  def readManifest(root: String, seq: Int): String =
    new String(Files.readAllBytes(manifestPath(root, seq)), UTF_8)

  /** The one small-file write of the store and its consumers: the
    * bytes go to `<name>.tmp`, then replace `target` by an atomic move,
    * so a reader sees the old content or the new, never a torn file. */
  private[job] def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Option(target.getParent).foreach(Files.createDirectories(_))
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def renderManifest(s: Snapshot): String = {
    val parts = s.partitions.map { p =>
      s"""{"partition_id":${p.partitionId},"row_count":${p.rowCount},"error_count":${p.errorCount},"warc_ts_min":${p.warcTsMin},"warc_ts_max":${p.warcTsMax}}"""
    }.mkString("[", ",", "]")
    val inputs = s.inputFiles.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    s"""{"sequence":${s.sequence},"parent":${s.parent},"extraction_version":"${esc(s.extractionVersion)}","routing":"${esc(s.routing)}","replaces":${s.replaces},"data_dir":"${esc(s.dataDir)}","row_count":${s.rowCount},"partitions":$parts,"input_files":$inputs}"""
  }

  /** The chain's identity — (routing mode, extraction version) — over
    * the decoded chain every commit guard already holds. A snapshot
    * pins the identity iff it committed rows OR consumed input files:
    * consumed files matter even at 0 rows, because resume skips them
    * forever — a new kernel re-running over a chain whose 0-row
    * snapshot already consumed (say) unparseable segments would
    * otherwise silently never re-extract them. Only the pure
    * bootstrap/no-op snapshot (0 rows, 0 inputs) pins nothing, so an
    * EMPTY outRoot survives kernel upgrades. Manifests older than the
    * routing field decode as "strict", the historical default. A chain
    * mixing either field across pinning snapshots is a corruption of
    * the byte-identity contract and is reported as such. */
  def chainIdentity(root: String, chain: Seq[Snapshot]): (Option[String], Option[String]) = {
    val pinning = chain.filter(s => s.rowCount > 0 || s.inputFiles.nonEmpty)
    def distinctOrThrow(vals: Seq[String], what: String): Option[String] =
      vals.distinct match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => throw new IllegalStateException(
          s"snapshot chain at $root mixes $what ${many.mkString(",")} — " +
            "the table violates the byte-identity contract; rebuild from a clean outRoot")
      }
    (distinctOrThrow(pinning.map(_.routing), "extraction routing modes"),
      distinctOrThrow(pinning.map(_.extractionVersion).filter(_.nonEmpty), "extraction versions"))
  }

  /** Union of input files consumed by all committed snapshots. */
  def committedInputFiles(root: String): Set[String] = committedInputFiles(chain(root))

  def committedInputFiles(chain: Seq[Snapshot]): Set[String] = chain.flatMap(_.inputFiles).toSet

  /** Single-writer guard: snapshot sequences are allocated by reading
    * version-hint, so two concurrent writers would both claim seq N+1
    * and the later manifest would silently orphan the earlier data.
    * A create-exclusive lock file (the local-FS stand-in for Iceberg's
    * catalog CAS) makes the race an explicit error instead. */
  def acquireLock(root: String): Unit = {
    val lock = Paths.get(root, "commit.lock")
    Files.createDirectories(lock.getParent)
    try {
      Files.write(lock,
        s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}".getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // read is racy: the holder may release between our failed create
        // and this read — report what we can without crashing on it
        val holder =
          try new String(Files.readAllBytes(lock), UTF_8)
          catch { case _: java.io.IOException => "released concurrently; retry" }
        throw new IllegalStateException(
          s"another writer holds $root/commit.lock ($holder); " +
            "if it crashed, delete the lock file to recover")
    }
  }

  def releaseLock(root: String): Unit =
    Files.deleteIfExists(Paths.get(root, "commit.lock"))

  /** Incremental (changelog) read window: data dirs of the rows ADDED
    * by snapshots `fromExclusive+1 .. to` — the Iceberg
    * incremental-scan analog a downstream consumer uses to process
    * only what arrived since its last checkpointed sequence, instead
    * of rescanning the whole table (the difference between O(batch)
    * and O(10^12) per consumption cycle).
    *
    * The store is append-only except compaction, and a compaction
    * snapshot (`replaces` > 0) REWRITES existing rows without adding
    * any — so it contributes nothing to a change window (Iceberg's
    * incremental reads skip replace/rewrite snapshots the same way).
    * Zero-row snapshots (idempotent no-op resumes) also contribute
    * nothing. An out-of-range window is an ERROR, never a clamp; a
    * window whose dirs were reclaimed by [[expireReplaced]] fails the
    * same missing-dir integrity check as [[dataDirs]]. */
  def changedDataDirs(root: String, fromExclusive: Int, to: Int): Seq[String] = {
    val c = chain(root)
    require(fromExclusive >= 0 && to <= c.size && fromExclusive <= to,
      s"invalid change window ($fromExclusive, $to] at $root (committed: 1..${c.size})")
    c.slice(fromExclusive, to).filter(s => rowBearingDir(s) && s.replaces == 0)
      .map(requireDataDir(root, _, "incremental reads over expired snapshots " +
        "must restart from a full scan at the compaction boundary"))
  }

  /** Reclaim the space of snapshots rewritten by the LATEST compaction:
    * deletes their data dirs. Manifests are KEPT — file-level resume
    * bookkeeping (input_files unions) and lineage history stay intact,
    * exactly like Iceberg's expire_snapshots dropping data files while
    * metadata history survives. After expiry, time travel BELOW the
    * compaction boundary fails the [[dataDirs]] integrity check
    * explicitly instead of returning partial data; reads at or above
    * the boundary are untouched (they never descend past it).
    * Returns the deleted dirs. */
  def expireReplaced(root: String): Seq[String] = {
    val c = chain(root)
    val dirs = c.take(latestCompaction(c).fold(0)(_.replaces)).filter(rowBearingDir)
      // current-root-first resolution: a moved store reclaims its OWN
      // dirs, and a copy-migrated store never deletes the source
      // table's data (already-gone dirs have nothing to do)
      .flatMap(s => resolveDataDir(root, s.dataDir)).distinct
    dirs.foreach(deleteRecursively)
    dirs
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }
}
