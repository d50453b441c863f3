package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.job._
import graft.streaming.StreamCli

/** Pure (no-Spark) tests of the mains' argument grammars. No case may
  * start a session: a `main` that got as far as its session would stop
  * the one the other suites share. So the accepted invocations go
  * through each main's declared `cli.parse` only; a rejected one goes
  * through the real `main` (which parses before anything else) or,
  * for a number, through `job`, which reads every argument before it
  * hands back the session body. */
class CliSpec extends AnyFunSuite {

  private def rejects(usage: String, why: String)(run: => Any): Unit = {
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(why), e.getMessage)
    assert(e.getMessage.endsWith(usage), e.getMessage)
  }

  private def rejectsMain(m: Cli.Main, why: String, args: String*): Unit =
    rejects(m.cli.usage, why)(m.main(args.toArray))

  private def rejectsJob(m: Cli.Main, why: String, args: String*): Unit =
    rejects(m.cli.usage, why)(m.job(m.cli.parse(args.toArray)))

  test("CompactCli: --expire before or after the root") {
    for (args <- Seq(Array("--expire", "/t/out"), Array("/t/out", "--expire"))) {
      val a = CompactCli.cli.parse(args)
      assert(a.positional == Seq("/t/out") && a.switches("--expire"))
    }
    assert(!CompactCli.cli.parse(Array("/t/out")).switches("--expire"))
  }

  test("StreamCli: --available-now first") {
    val a = StreamCli.cli.parse(Array("--available-now", "/p", "/o", "/c"))
    assert(a.positional == Seq("/p", "/o", "/c") && a.switches("--available-now"))
  }

  test("GenCli: --warc-gz first or last; an unknown flag is refused") {
    for (args <- Seq(Array("--warc-gz", "100", "/segs"), Array("100", "/segs", "--warc-gz"))) {
      val a = GenCli.cli.parse(args)
      assert(a.positional == Seq("100", "/segs") && a.switches("--warc-gz") && !a.switches("--warc"))
      assert(a.long(0, "rows", 0L) == 100L)
    }
    rejectsMain(GenCli, "unknown flag --wrac", "100", "/segs", "--wrac")
  }

  test("ExtractCli: --wet first, in the middle or last") {
    for (args <- Seq(Array("--wet", "/w", "/p", "/o"), Array("/p", "--wet", "/w", "/o"),
                     Array("/p", "/o", "--wet", "/w"), Array("/p", "/o", "4", "--wet", "/w"))) {
      val a = ExtractCli.cli.parse(args)
      assert(a.positional.take(2) == Seq("/p", "/o") && a.values.get("--wet").contains("/w"))
    }
    val a = ExtractCli.cli.parse(Array("/p", "/o", "4"))
    assert(a.values.get("--wet").isEmpty && a.int(2, "numPartitions", 0) == 4)
    assert(ExtractCli.cli.parse(Array("/p", "/o")).int(2, "numPartitions", 0) == 0)
  }

  test("ExtractCli: --wet without a value is refused") {
    rejectsMain(ExtractCli, "--wet requires a value", "/p", "/o", "--wet")
    rejectsMain(ExtractCli, "--wet requires a value", "/p", "--wet", "--wet", "/o")
  }

  test("a positional count outside the grammar is refused") {
    rejectsMain(WarcExtractCli, "got 3 positional arguments", "a", "b", "c")
    rejectsMain(ConsumeCli, "got 3 positional arguments", "a", "b", "c")
    rejectsMain(CompactCli, "got 2 positional arguments", "a", "b", "--expire")
    rejectsMain(CompactCli, "got 0 positional arguments", "--expire")
    rejectsMain(StreamCli, "got 2 positional arguments", "--available-now", "/p", "/o")
    rejectsMain(DumpOne, "got 2 positional arguments", "q1_pricing_summary", "/sf")
    rejectsMain(BenchExtra, "got 0 positional arguments")
    rejectsMain(CurateCli, "got 4 positional arguments", "a", "b", "3", "d")
    rejectsMain(ExportCli, "got 1 positional arguments", "a")
    rejects("usage: ScalingDiag [rows] [n] [reps]", "got 4 positional arguments")(
      ScalingDiag.main(Array("1", "2", "3", "4")))
  }

  test("a number argument that does not parse is named before any session") {
    rejectsJob(ExtractCli, "numPartitions is not a number: 'four'", "/p", "/o", "four")
    rejectsJob(CurateCli, "perHostCap is not a number: 'lots'", "/e", "/c", "lots")
    rejectsJob(ExportCli, "budget is not a number: '2k'", "/e", "/x", "2k")
    rejectsJob(GenCli, "rows is not a number: 'x'", "x", "/segs", "--warc-gz")
    rejectsJob(BenchExtra, "reps is not a number: 'three'", "q1_pricing_summary", "three")
    rejects("usage: ScalingBench [rows] [n] [reps]", "rows is not a number: '1e6'")(
      ScalingBench.main(Array("1e6")))
    rejects("usage: CalibProbe [n] [reps]", "reps is not a number: 'two'")(
      CalibProbe.main(Array("4", "two")))
  }

  test("the dev mains accept their documented invocations") {
    val b = BenchExtra.cli.parse(Array("q1,q2", "1", "/plans"))
    assert(b(0) == "q1,q2" && b.int(1, "reps", 3) == 1 && b.positional.lift(2).contains("/plans"))
    assert(DumpOne.cli.parse(Array("q1", "/sf", "/out")).positional == Seq("q1", "/sf", "/out"))
    assert(ConsumeCli.cli.parse(Array("/o", "/c")).positional == Seq("/o", "/c"))
  }
}
