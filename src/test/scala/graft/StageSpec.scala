package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{GraftQueries, Stage}
import graft.queries.Stage.{KeyInterpolator, Version}

/** Pure (no-Spark) tests of the staged-artifact layer: the key rule
  * over the engine's real stage graph (paths only, nothing built), and
  * the build-once protocol over throwaway stages under a temp root.
  */
class StageSpec extends AnyFunSuite with TempRoots {

  private val Rows = 1000
  private val stages = GraftQueries.stages

  private def tempRoot(): Path = Paths.get(tempRoot("stage-spec"))

  test("changing any version moves its stage's key and every downstream key") {
    for (s <- stages; v <- s.key.versions) {
      val moved = (x: Version) => if (x == v) s"${x.value}'" else x.value.toString
      for (t <- stages if t.upstream(s))
        assert(t.path(Rows, value = moved) != t.path(Rows),
          s"${v.name} changed but stage ${t.name} (downstream of ${s.name}) kept its key")
    }
  }

  test("no two stages resolve to the same path") {
    val all = stages.flatMap(_.paths(Rows))
    assert(all.distinct.size == all.size, all.diff(all.distinct))
  }

  test("the LM and BPE stages are keyed by their operator versions") {
    def names(s: Stage[_]) = s.key.versions.map(_.name)
    assert(names(GraftQueries.bigramCountsCached)("LmScore"))
    assert(names(GraftQueries.lmScoresCached)("LmScore"))
    assert(names(GraftQueries.bpeWordLengthsCached)("Bpe"))
  }

  test("a key that lacks an upstream version is rejected") {
    val up = Stage.files("up", "/nonexistent", key"u${Version("Up", 1)}")((_, _, _) => ())
    assertThrows[IllegalArgumentException](
      Stage.files("down", "/nonexistent", key"d", Seq(up))((_, _, _) => ()))
  }

  /** A directory stage under a fresh temp root whose build writes one
    * file and counts its runs; `fail` makes the next build throw. */
  private final class Probe {
    val root: Path = tempRoot()
    var builds = 0
    var fail = false
    val stage: Stage[String] =
      Stage.files("probe", root.toString, key"p${Version("Probe", 1)}", rowsOf = _ => Rows) {
        (_, _, out) =>
          builds += 1
          Files.createDirectories(Paths.get(out))
          Files.writeString(Paths.get(out, "data"), "x")
          if (fail) throw new RuntimeException("build failed")
      }
    def resolve(): String = stage(null, "sf")
    def marked: Boolean = Files.exists(Paths.get(stage.path(Rows), Stage.Marker))
  }

  test("a second call is a hit and does not run the build") {
    val p = new Probe
    val path = p.resolve()
    assert(p.builds == 1 && p.marked)
    assert(Files.readString(Paths.get(path, "data")) == "x")
    assert(p.resolve() == path)
    assert(p.builds == 1)
  }

  test("a build that throws commits nothing and the next call rebuilds") {
    val p = new Probe
    p.fail = true
    assertThrows[RuntimeException](p.resolve())
    assert(!Files.exists(Paths.get(p.stage.path(Rows))))
    assert(Files.list(p.root).count() == 0, "the failed build's temp dir was left behind")
    p.fail = false
    p.resolve()
    assert(p.builds == 2 && p.marked)
  }

  test("a leftover dir without a marker is replaced") {
    val p = new Probe
    val dest = Paths.get(p.stage.path(Rows))
    Files.createDirectories(dest)
    Files.writeString(dest.resolve("partial"), "crashed writer")
    p.resolve()
    assert(p.builds == 1 && p.marked)
    assert(!Files.exists(dest.resolve("partial")))
    assert(Files.exists(dest.resolve("data")))
  }

  test("a writer that loses the commit race keeps the winner's dir") {
    val root = tempRoot()
    lazy val stage: Stage[String] = Stage.files("racer", root.toString, key"w", rowsOf = _ => Rows) {
      (_, _, out) =>
        val rival = Paths.get(stage.path(Rows))
        Files.createDirectories(rival)
        Files.writeString(rival.resolve("data"), "rival")
        Files.write(rival.resolve(Stage.Marker), Array.emptyByteArray)
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "data"), "ours")
    }
    val path = stage(null, "sf")
    assert(Files.readString(Paths.get(path, "data")) == "rival")
    assert(Files.list(root).count() == 1, "the losing temp dir was left behind")
  }

  test("a multi-part stage rebuilds unless every part is marked") {
    val root = tempRoot()
    var builds = 0
    val stage = Stage("parts", root.toString, key"m${Version("Parts", 1)}-",
      parts = Seq("a", "b"), rowsOf = _ => Rows) { (_, _, out) =>
      builds += 1
      Seq("a", "b").foreach(p => Files.createDirectories(Paths.get(out(p))))
    }((_, at) => (at("a"), at("b")))
    val (a, b) = stage(null, "sf")
    assert(a.endsWith("m1-a-rows1000") && b.endsWith("m1-b-rows1000"))
    Files.delete(Paths.get(b, Stage.Marker))
    stage(null, "sf")
    assert(builds == 2)
    assert(Files.exists(Paths.get(a, Stage.Marker)) && Files.exists(Paths.get(b, Stage.Marker)))
  }

  test("a build that reads an undeclared stage fails") {
    val other = new Probe
    val root = tempRoot()
    val reader = Stage.files("reader", root.toString, key"r", rowsOf = _ => Rows) {
      (_, _, _) => other.resolve(): Unit
    }
    assertThrows[IllegalArgumentException](reader(null, "sf"))
    val declared = Stage.files("declared", root.toString, key"r${Version("Probe", 1)}",
      Seq(other.stage), rowsOf = _ => Rows) { (_, _, out) =>
      other.resolve()
      Files.createDirectories(Paths.get(out))
    }
    declared(null, "sf")
    assert(other.builds == 1)
  }
}
