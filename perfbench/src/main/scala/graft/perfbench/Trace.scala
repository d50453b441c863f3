package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One recorded span: a call from the harness into one layer. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters of one run, kept in memory and written at exit.
  * When `enabled` is false, [[span]] only runs its body: the untraced
  * run pays nothing for the instrument. */
final class Tracer(val runId: String, @volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Wall-clock origin so spans can be written as epoch-relative times. */
  private val originNs = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      spans += Span(id, name, parent, System.nanoTime(), 0L)
      stack = id :: stack
      (id, parent)
    }
    try body
    finally synchronized {
      val i = spans.lastIndexWhere(_.id == id)
      spans(i) = spans(i).copy(endNs = System.nanoTime())
      stack = stack.tail
      require(spans(i).parent == parent)
    }
  }

  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def counter(name: String): Double = synchronized { counters.getOrElse(name, 0.0) }

  def closed: Seq[Span] = synchronized { spans.filter(_.endNs > 0).toSeq }

  /** Summed duration of every span with this name. */
  def total(name: String): Double = closed.filter(_.name == name).map(_.seconds).sum

  /** Self time per span name: its duration minus the part its child
    * spans cover (children are sequential, so their sum). */
  def selfTimes: Map[String, Double] = {
    val all = closed
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0.0, s.seconds - childSum.getOrElse(s.id, 0.0))).sum
    }
  }

  def spansJson: String = {
    val rows = closed.map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - originNs) / 1e9}%.6f,"end_s":${(s.endNs - originNs) / 1e9}%.6f}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark-side counts per harness span, gathered by a listener the
  * harness registers from outside the engine. Every job is tagged with
  * the span that was open when it started (a local property), so the
  * figures land on the call that caused them. */
final class SparkProbe extends SparkListener {
  @volatile var active = false

  final class Agg {
    var jobs = 0
    var shuffleWrite = 0L; var spill = 0L; var resultBytes = 0L
  }
  private val bySpan = new ConcurrentHashMap[String, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** Task durations per stage, for the skew figure. */
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** SQL execution wall time per (span, call-site category). */
  private val siteWall = new ConcurrentHashMap[String, java.lang.Long]()

  def agg(span: String): Agg = bySpan.computeIfAbsent(span, _ => new Agg)

  def spans: Map[String, Agg] = bySpan.asScala.toMap

  def siteSeconds: Map[String, Double] =
    siteWall.asScala.map { case (k, v) => k -> v.toLong / 1000.0 }.toMap

  /** Σ max task time / Σ median task time over stages of ≥ 4 tasks:
    * how much longer stages run because of their slowest task. */
  def taskSkew: Double = {
    val per = stageTasks.asScala.values.map(b => b.synchronized(b.toArray.sorted)).filter(_.length >= 4)
    val mx = per.map(_.last).sum.toDouble
    val md = per.map(a => a(a.length / 2)).sum.toDouble
    if (md > 0) mx / md else 0.0
  }

  /** SQL executions: id → (call-site category, start ms); the span
    * comes from the first job of the execution. */
  private val execSite = new ConcurrentHashMap[Long, (String, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if active =>
      execSite.put(s.executionId, (SparkProbe.callSite(s.details), s.time))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(execSite.remove(s.executionId)).foreach { case (site, t0) =>
        val span = Option(execSpan.remove(s.executionId)).getOrElse("untagged")
        siteWall.merge(s"$span|$site", s.time - t0, (x, y) => x + y)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.SpanKey))).getOrElse("untagged")
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.putIfAbsent(id.toLong, span))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val a = agg(span); a.synchronized { a.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageSpan.get(e.stageId)).foreach { span =>
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(span)
      a.synchronized {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.resultBytes += m.resultSize
      }
      val b = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      b.synchronized { b += e.taskInfo.duration }
    }
  }
}

object SparkProbe {
  val SpanKey = "perfbench.span"

  /** Classify a SQL execution by the engine function that started it,
    * read from the call site Spark records (a stack trace whose first
    * line is the action). Function names, not line numbers, so edits
    * elsewhere in a file keep the mapping. */
  def callSite(details: String): String = {
    def has(s: String) = details.contains(s)
    val action = details.linesIterator.nextOption().getOrElse("")
    if (has("ExtractJob$.writeArtifacts")) "artifacts"
    else if (has("ExtractJob$.emitEvents")) "events"
    else if (has("ExtractJob$.commitSnapshot"))
      if (action.contains("DataFrameWriter")) "write" else "lineage"
    else "other"
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it
    * (nearest-rank), as (percentile, value); None when there are too
    * few samples for any. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.length
    if (n <= beyond) None
    else {
      // largest p such that the rank-⌈p·n/100⌉ sample has ≥ `beyond` after it
      val p = (99 to 1 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= beyond)
      p.map(p => (p, s(math.max(0, math.ceil(p * n / 100.0).toInt - 1))))
    }
  }
}
