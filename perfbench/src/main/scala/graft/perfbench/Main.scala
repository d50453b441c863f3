package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.job.GraftSession

/** Command line of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                      cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.get("cores").map(_.toInt).getOrElse(4))
  }
}

/** Shared state of one run: the Spark session, the tracer and probe,
  * and the measurement accumulators every workload reports through. */
final class Ctx(val opts: Opts) {
  val tracer = new Tracer(s"${opts.workload}-s${opts.seed}-${ProcessHandle.current().pid()}", enabled = false)
  val probe = new SparkProbe
  private var current: SparkSession = _

  def spark: SparkSession = current

  /** (Re)start the session at `cores` task slots with the engine's own
    * session settings, and register the probe from outside. */
  def session(cores: Int): SparkSession = {
    if (current != null) current.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    current = GraftSession.local(cores.toString)
    current.sparkContext.addSparkListener(probe)
    current
  }

  def dir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }

  /** A span around a call into one layer; Spark jobs started inside are
    * tagged with its name. */
  def call[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else tracer.span(name) {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SparkProbe.SpanKey)
      sc.setLocalProperty(SparkProbe.SpanKey, name)
      try body finally sc.setLocalProperty(SparkProbe.SpanKey, prev)
    }

  // ---- measurement -------------------------------------------------------
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** (seconds, traced) of every timed operation, per kind. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  private var untracedCpuNs = 0L
  private var untracedOps = 0
  var attempted = 0L
  var failed = 0L
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Named figures the workload prints for people (name → (value, unit)). */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Named strings the workload prints for people (digests). */
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Per-layer figures of the traced operations. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Time one operation of `kind`; "op" is the workload's unit of work. */
  def timed[T](kind: String)(body: => T): T = {
    val c0 = osBean.getProcessCpuTime
    val g0 = gcMillis
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((s, tracer.enabled))
    System.err.println(f"[perfbench] $kind%s ${s}%.3f s${if (tracer.enabled) " (traced)" else ""}")
    if (kind == "op" && !tracer.enabled) {
      untracedCpuNs += osBean.getProcessCpuTime - c0
      untracedOps += 1
    }
    if (kind == "op" && tracer.enabled) tracedGcMs += gcMillis - g0
    r
  }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMillis: Long = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }
  /** JVM-wide GC time spent inside traced operations. */
  var tracedGcMs = 0L

  def untraced(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).collect { case (s, false) => s }.toSeq
  def traced(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).collect { case (s, true) => s }.toSeq
  def cpuPerOp: Double = if (untracedOps == 0) 0.0 else untracedCpuNs / 1e9 / untracedOps

  /** Run `cycle` until the run's seconds are spent and at least
    * `minCycles` ran. In a traced run, cycles alternate untraced and
    * traced (the first untraced), so both sides see the same window of
    * the machine. */
  def loop(minCycles: Int)(cycle: Int => Unit): Unit = {
    val need = if (opts.trace) math.max(minCycles, 3) else minCycles
    if (!sampler.isAlive) startHeapSampler()
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    var i = 0
    while (i < need || System.nanoTime() < deadline) {
      val on = opts.trace && i % 2 == 1
      tracer.enabled = on; probe.active = on
      try cycle(i) finally { tracer.enabled = false; probe.active = false }
      if (i == 0) firstCycleOps = untraced("op").size
      i += 1
    }
    cycles = i
  }

  /** Run a post-measurement probe with tracing on. */
  def probing[T](body: => T): T = {
    tracer.enabled = true; probe.active = true
    try body finally { tracer.enabled = false; probe.active = false }
  }

  /** Cycles the last [[loop]] ran, how many of them were traced, and
    * how many ops the first (coldest) cycle timed. */
  var cycles = 0
  var firstCycleOps = 0
  def tracedCycles: Int = if (opts.trace) cycles / 2 else 0

  /** Stage the inputs `reps` times into fresh directories, timing each;
    * the last one is what the run uses. */
  def setup(reps: Int)(stage: Path => Unit): Path = {
    var last: Path = null
    (0 until reps).foreach { r =>
      val d = dir(s"setup-$r")
      Gate.deleteTree(d)
      val t0 = System.nanoTime()
      stage(d)
      setupSeconds += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up ${r + 1}/$reps took ${setupSeconds.last}%.2f s")
      if (last != null) Gate.deleteTree(last)
      last = d
    }
    last
  }

  def fail(n: Long, why: => String): Unit = if (n > 0) {
    failed += n
    System.err.println(s"[perfbench] FAILED x$n: $why")
  }

  /** Peak heap in use across the measured window, sampled. */
  @volatile private var peakHeap = 0L
  private val sampler = new Thread(() => {
    val rt = Runtime.getRuntime
    while (!Thread.currentThread().isInterrupted) {
      val used = rt.totalMemory() - rt.freeMemory()
      if (used > peakHeap) peakHeap = used
      try Thread.sleep(20) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    }
  }, "perfbench-heap")
  sampler.setDaemon(true)
  def startHeapSampler(): Unit = { peakHeap = 0L; sampler.start() }
  def peakHeapMb: Double = peakHeap / 1048576.0

  def stop(): Unit = {
    sampler.interrupt()
    if (current != null) current.stop()
  }
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "warc_ingest" -> WarcIngest.run,
    "curate_export" -> CurateExport.run)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val body = Workloads.getOrElse(opts.workload, {
      System.err.println(s"unknown workload ${opts.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    Files.createDirectories(opts.work)
    val ctx = new Ctx(opts)
    val t0 = System.nanoTime()
    try {
      ctx.session(opts.cores)
      body(ctx)
    } catch {
      case e: Throwable =>
        // a thrown job is a failed op; the run still reports
        e.printStackTrace()
        ctx.attempted += 1
        ctx.fail(1, s"workload threw: $e")
    } finally ctx.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val correct = ctx.failed == 0 && ctx.attempted > 0
    Output.print(ctx, wall, correct)
    sys.exit(if (correct) 0 else 1)
  }
}
