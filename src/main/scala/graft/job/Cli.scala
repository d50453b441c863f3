package graft.job

import org.apache.spark.sql.SparkSession

/** The one argument grammar of the job and dev mains: a usage line, the
  * allowed count of positionals, the switches (`--expire`) and the flags
  * that take a value (`--wet <dir>`); flags may stand anywhere among the
  * positionals. A malformed invocation, a number that does not parse
  * included, fails with an `IllegalArgumentException` whose message
  * ends with the usage line.
  */
final case class Cli(usage: String, positionals: Range,
                     switches: Set[String] = Set.empty, valued: Set[String] = Set.empty) {

  def parse(args: Array[String]): Cli.Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Cli.Args): Cli.Args = rest match {
      case Nil if positionals.contains(a.positional.size) => a
      case Nil => fail(s"got ${a.positional.size} positional arguments")
      case f :: tail if switches(f) => go(tail, a.copy(switches = a.switches + f))
      case f :: v :: tail if valued(f) && !v.startsWith("--") => go(tail, a.copy(values = a.values + (f -> v)))
      case f :: _ if f.startsWith("--") => fail(if (valued(f)) s"$f requires a value" else s"unknown flag $f")
      case p :: tail => go(tail, a.copy(positional = a.positional :+ p))
    }
    go(args.toList, Cli.Args(this, Vector.empty, Set.empty, Map.empty))
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg\n$usage")
}

object Cli {

  /** One parsed invocation. `int` and `long` read the optional
    * positional `i`, or `default` when it is absent. */
  final case class Args(cli: Cli, positional: Vector[String],
                        switches: Set[String], values: Map[String, String]) {
    def apply(i: Int): String = positional(i)
    def int(i: Int, name: String, default: Int): Int = number(i, name, default)(_.toInt)
    def long(i: Int, name: String, default: Long): Long = number(i, name, default)(_.toLong)

    private def number[A](i: Int, name: String, default: A)(read: String => A): A =
      positional.lift(i).fold(default) { s =>
        try read(s) catch { case _: NumberFormatException => cli.fail(s"$name is not a number: '$s'") }
      }
  }

  /** A main that runs one job in one local session. `job` reads every
    * argument and returns the session body, so a bad argument fails
    * before any session exists; every exit stops the session. */
  abstract class Main(val cli: Cli) {
    def job(a: Args): SparkSession => Unit

    final def main(args: Array[String]): Unit = {
      val body = job(cli.parse(args))
      val spark = GraftSession.local()
      try body(spark) finally spark.stop()
    }
  }
}
