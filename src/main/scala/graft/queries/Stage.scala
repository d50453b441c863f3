package graft.queries

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A staged artifact: a table or directory fixture built once per
  * cache key and read many times, like the reference's versioned
  * document rows (one new row per producer version, never an
  * overwrite).
  *
  * The key is a human-readable template whose [[Stage.Version]] slots
  * are the producer versions the stage runs. A stage also declares the
  * stages it reads; construction fails unless its key holds every
  * version of those upstream keys, so no producer anywhere upstream
  * can change without the key changing too. A build that resolves a
  * stage outside its declared upstream fails the same way.
  *
  * This file holds the single copy of the build-once protocol: under
  * one reentrant lock, build into a pid-suffixed temp dir, write the
  * [[Stage.Marker]], and `ATOMIC_MOVE` it into place, so no reader ever
  * sees a partial dir. Of two JVMs racing on one key (Verify and Bench
  * at one sf), the loser discards its temp dir; an unmarked leftover
  * (a crashed writer's) is replaced. A build that throws commits
  * nothing, so the next call rebuilds.
  *
  * A stage has one or more parts, each committed to its own dir
  * (`<dir>/<key><part>-rows<rows>`); it is a hit only when every part
  * is marked. The first resolution of each key in a JVM reports one
  * line on stderr: name, `hit` or `built`, build seconds, path(s). */
final class Stage[A] private (
    val name: String,
    dir: String,
    val key: Stage.Key,
    deps: Seq[Stage[_]],
    parts: Seq[String],
    rowsOf: String => Int,
    build: (SparkSession, String, String => String) => Unit,
    read: (SparkSession, String => String) => A) {

  private val undeclared = deps.flatMap(_.key.versions).toSet -- key.versions
  require(undeclared.isEmpty,
    s"stage $name: key lacks upstream versions ${undeclared.map(_.name).mkString(", ")}")

  /** This stage and every stage it reads, directly or transitively. */
  lazy val upstream: Set[Stage[_]] = deps.flatMap(_.upstream).toSet + this

  /** The committed dir of `part` at `rows`; `value` renders each
    * version slot (the default is the version itself). */
  def path(rows: Int, part: String = "", value: Stage.Version => String = _.value.toString): String =
    s"$dir/${key.render(value)}$part-rows$rows"

  def paths(rows: Int): Seq[String] = parts.map(path(rows, _))

  /** Build this stage for `sfDir` unless it is already committed, then
    * read it. */
  def apply(spark: SparkSession, sfDir: String): A = {
    val rows = rowsOf(sfDir)
    Stage.lock.synchronized {
      Stage.building.headOption.foreach { b =>
        require(b.upstream(this), s"stage ${b.name} reads stage $name without declaring it")
      }
      val dests = paths(rows).map(Paths.get(_))
      val hit = dests.forall(d => Files.exists(d.resolve(Stage.Marker)))
      val t0 = System.nanoTime()
      if (!hit) {
        val tmps = dests.map(d => Paths.get(s"$d.tmp-${ProcessHandle.current().pid()}"))
        tmps.foreach(Stage.deleteRecursively)
        Stage.building ::= this
        try build(spark, sfDir, part => tmps(parts.indexOf(part)).toString)
        catch { case e: Throwable => tmps.foreach(Stage.deleteRecursively); throw e }
        finally Stage.building = Stage.building.tail
        tmps.zip(dests).foreach { case (tmp, dest) => Stage.commit(tmp, dest) }
      }
      if (Stage.reported.add(dests.head.toString))
        System.err.println(f"[stage] $name%-18s ${if (hit) "hit" else "built"}%-5s " +
          f"${(System.nanoTime() - t0) / 1e9}%8.2fs ${dests.mkString(" ")}")
    }
    read(spark, path(rows, _))
  }
}

object Stage {

  /** One producer version a staged artifact's content depends on. */
  final case class Version(name: String, value: Any)

  /** A key template: literal text interleaved with [[Version]] slots. */
  final class Key private[Stage] (private val parts: Seq[Any]) {
    val versions: Set[Version] = parts.collect { case v: Version => v }.toSet
    def render(value: Version => String): String =
      parts.map { case v: Version => value(v); case p => p.toString }.mkString
    def ++(that: Key): Key = new Key(parts ++ that.parts)
    override def toString: String = render(_.value.toString)
  }

  /** `key"g$GenV-$ExtV-uni"`: a [[Key]] whose [[Version]] arguments
    * become slots and whose other arguments become literal text. */
  implicit class KeyInterpolator(private val sc: StringContext) extends AnyVal {
    def key(args: Any*): Key =
      new Key(sc.parts.zipAll(args, "", "").flatMap { case (p, a) => Seq(p, a) })
  }

  /** The one completion marker (Spark's own parquet marker). */
  val Marker = "_SUCCESS"

  private val lock = new Object
  private var building: List[Stage[_]] = Nil
  private val reported = scala.collection.mutable.Set.empty[String]

  /** A stage with named parts, a build that writes each part into the
    * temp dir it is handed, and a read over the committed dirs. */
  def apply[A](name: String, dir: String, key: Key, deps: Seq[Stage[_]] = Nil,
               parts: Seq[String] = Seq(""),
               rowsOf: String => Int = graft.gen.PageGen.rowsForDir)(
               build: (SparkSession, String, String => String) => Unit)(
               read: (SparkSession, String => String) => A): Stage[A] =
    new Stage(name, dir, key, deps, parts, rowsOf, build, read)

  /** A single parquet table: the build's DataFrame, written as is. */
  def table(name: String, dir: String, key: Key, deps: Seq[Stage[_]] = Nil,
            rowsOf: String => Int = graft.gen.PageGen.rowsForDir)(
            build: (SparkSession, String) => DataFrame): Stage[DataFrame] =
    tableAt(name, dir, key, deps, rowsOf)((s, d, out) => build(s, d).write.parquet(out))

  /** A single parquet table the build writes into the dir it is handed
    * (for builds that also leave a sidecar beside the table). */
  def tableAt(name: String, dir: String, key: Key, deps: Seq[Stage[_]] = Nil,
              rowsOf: String => Int = graft.gen.PageGen.rowsForDir)(
              build: (SparkSession, String, String) => Unit): Stage[DataFrame] =
    apply(name, dir, key, deps, rowsOf = rowsOf)(
      (s, d, out) => build(s, d, out("")))((s, at) => s.read.parquet(at("")))

  /** A directory fixture its build writes into; resolves to its path. */
  def files(name: String, dir: String, key: Key, deps: Seq[Stage[_]] = Nil,
            rowsOf: String => Int = graft.gen.PageGen.rowsForDir)(
            build: (SparkSession, String, String) => Unit): Stage[String] =
    apply(name, dir, key, deps, rowsOf = rowsOf)(
      (s, d, out) => build(s, d, out("")))((_, at) => at(""))

  /** Mark `tmp` complete and rename it onto `dest`: keep a marked
    * `dest` another writer committed first, replace an unmarked one. */
  private def commit(tmp: Path, dest: Path): Unit = {
    Files.write(tmp.resolve(Marker), Array.emptyByteArray)
    Files.createDirectories(dest.getParent)
    try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // rename(2) onto a non-empty dir fails with ENOTEMPTY, which the
      // JDK surfaces as a plain FileSystemException, not a subclass
      case _: FileSystemException if Files.exists(dest) =>
        if (Files.exists(dest.resolve(Marker))) deleteRecursively(tmp)
        else {
          deleteRecursively(dest)
          try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: FileSystemException if Files.exists(dest) =>
            deleteRecursively(tmp) // a racing writer committed in between
          }
        }
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    val kids = p.toFile.listFiles()
    if (kids != null) kids.foreach(k => deleteRecursively(k.toPath))
    p.toFile.delete(): Unit
  }
}
