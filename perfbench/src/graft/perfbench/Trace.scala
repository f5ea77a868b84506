package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer, recorded by the benchmark around its own call
  * site. Counters are filled by [[Trace.Listener]] from the jobs that
  * ran while this span was the innermost one on its thread. */
final class Span(
    val id: Long, val parent: Long, val layer: String, val name: String,
    val op: Long, val start: Long) {
  @volatile var end: Long = -1L
  @volatile var failed: Boolean = false
  val children = mutable.ArrayBuffer.empty[Span]
  // guarded by `this`
  val jobSpans = mutable.Map.empty[Int, (Long, Long)] // job -> (start, end) ns
  var tasks = 0L
  var taskNs = 0L
  var waitNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L

  def durNs: Long = end - start

  /** Span time not covered by a child span. */
  def selfNs: Long = durNs - children.map(_.durNs).sum

  /** Self time during which none of this span's jobs was running. */
  def driverNs: Long = synchronized {
    val covered = (children.map(c => (c.start, c.end)) ++ jobSpans.values)
      .map { case (a, b) => (a.max(start), b.min(end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    covered.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    durNs - total
  }
}

/** In-memory span recorder. Disabled (the default) it only runs the
  * body, so the untraced run times the same calls without bookkeeping.
  *
  * Job attribution: entering a span sets the Spark local property
  * [[Trace.SpanKey]] on the calling thread; the listener maps every job
  * (and its stages and tasks) started under that property to the span.
  * Threads spawned inside a span inherit the property, as Spark's local
  * properties are inheritable. */
object Trace {
  val SpanKey = "perfbench.span"
  val Layers: Seq[String] =
    Seq("ingest", "security", "queries", "operators", "lake", "streaming",
      "pipeline")

  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val nextOp = new AtomicLong(0)
  private val currentOp = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private var sc: SparkContext = _

  def install(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(new Listener)
  }

  /** Add `v` to the layer-specific counter `name` (traced run only). */
  def add(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a, b) => a + b)

  /** Run `body` as one benchmark operation: the spans it opens, on this
    * thread and on threads it starts, share a fresh op id. */
  def op[T](body: => T): T = {
    val prev = currentOp.get()
    currentOp.set(nextOp.incrementAndGet())
    try body finally currentOp.set(prev)
  }

  /** Run `body` as one call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val parents = stack.get()
    val s = new Span(nextId.incrementAndGet(),
      parents.headOption.fold(0L)(_.id), layer, name, currentOp.get(),
      System.nanoTime())
    spans.put(s.id, s)
    val prevProp = sc.getLocalProperty(SpanKey)
    stack.set(s :: parents)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.end = System.nanoTime()
      sc.setLocalProperty(SpanKey, prevProp)
      stack.set(parents)
      parents.headOption.foreach(p => p.synchronized(p.children += s))
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(spans.get(id.toLong)))

  final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()
    private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobSpan = new ConcurrentHashMap[Int, Span]()
    private def nowNs(ms: Long): Long =
      // listener times are wall-clock ms; spans use nanoTime
      System.nanoTime() - (System.currentTimeMillis() - ms) * 1000000L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, s)
        val t = nowNs(e.time)
        s.synchronized(s.jobSpans(e.jobId) = (t, t))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.synchronized {
          s.jobSpans.get(e.jobId).foreach { case (a, _) =>
            s.jobSpans(e.jobId) = (a, nowNs(e.time).max(a))
          }
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        e.stageInfo.submissionTime.foreach(t =>
          stageSubmit.put(e.stageInfo.stageId, t))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val submit = Option(stageSubmit.get(e.stageId))
          .map(_.longValue).getOrElse(e.taskInfo.launchTime)
        s.synchronized {
          s.tasks += 1
          s.waitNs += (e.taskInfo.launchTime - submit).max(0L) * 1000000L
          if (m != null) {
            s.taskNs += m.executorRunTime * 1000000L
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.diskBytesSpilled
            s.inputBytes += m.inputMetrics.bytesRead
            s.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Rows examined per row returned by the spans named `name`. */
  def rowsReadPerHit(layer: String, names: Set[String], hits: Double): Double = {
    val read = allSpans
      .filter(s => s.layer == layer && names.contains(s.name))
      .map(s => s.synchronized(s.recordsRead)).sum
    if (hits > 0) read / hits else 0.0
  }

  /** The 11 per-layer metrics' names for every layer. */
  val PerLayer: Seq[String] = Seq("calls", "busy_s", "driver_s", "jobs",
    "tasks", "task_s", "wait_s", "shuffle_bytes", "spill_bytes",
    "input_bytes", "failed")

  def summaryNames: Seq[String] =
    for (l <- Layers; m <- PerLayer) yield s"$l.$m"

  /** The 11 per-layer metrics for every layer plus the layer-specific
    * counters. */
  def summary(): Map[String, Double] = {
    drain()
    val all = allSpans.filter(_.end >= 0)
    val perLayer = Layers.flatMap { layer =>
      val ss = all.filter(_.layer == layer)
      def sum(f: Span => Double) = ss.map(s => s.synchronized(f(s))).sum
      Seq(
        "calls" -> ss.size.toDouble,
        "busy_s" -> sum(_.selfNs / 1e9),
        "driver_s" -> sum(_.driverNs / 1e9),
        "jobs" -> sum(_.jobSpans.size.toDouble),
        "tasks" -> sum(_.tasks.toDouble),
        "task_s" -> sum(_.taskNs / 1e9),
        "wait_s" -> sum(_.waitNs / 1e9),
        "shuffle_bytes" -> sum(_.shuffleBytes.toDouble),
        "spill_bytes" -> sum(_.spillBytes.toDouble),
        "input_bytes" -> sum(_.inputBytes.toDouble),
        "failed" -> ss.count(_.failed).toDouble
      ).map { case (k, v) => s"$layer.$k" -> v }
    }
    perLayer.toMap ++ counters.asScala.map { case (k, v) => k -> v.doubleValue }
  }

  /** One JSON object per span, in start order. */
  def spansJsonl(): String = {
    drain()
    allSpans.filter(_.end >= 0).map { s =>
      s.synchronized {
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
          s""""layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
          s""""start_ns":${s.start},"end_ns":${s.end},""" +
          s""""self_s":${s.selfNs / 1e9},"driver_s":${s.driverNs / 1e9},""" +
          s""""jobs":${s.jobSpans.size},"tasks":${s.tasks},""" +
          s""""failed":${s.failed}}"""
      }
    }.mkString("", "\n", "\n")
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
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
