package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Epoch-anchored monotonic clock: nanoTime deltas on a wall-clock base,
  * so bench spans line up with Spark's epoch-ms job and progress times.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNanos)
  def nowMs: Long = nowNs / 1000000L
}

/** One traced interval. `parent` 0 = a root; `layer` is one of queue,
  * stream, ops, sinks, spark (or "bench" for the harness's own spans,
  * which carry no layer time).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. When disabled every call just runs its body,
  * so the untraced run pays nothing but a branch.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var sc: SparkContext = _

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }
  def clear(): Unit = synchronized { spans.clear() }
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` as one span. Every Spark job `body` submits (and every job
    * of a streaming query it starts: the query thread inherits local
    * properties) carries the span id, so the job listener can parent it.
    */
  def span[T](layer: String, name: String)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId()
    val parent = current
    val ctx = sc
    val prev = if (ctx != null) ctx.getLocalProperty(Tracer.SpanProp) else null
    if (ctx != null) ctx.setLocalProperty(Tracer.SpanProp, id.toString)
    stack.set(id :: stack.get)
    val t0 = Clock.nowNs
    try body(id)
    finally {
      add(Span(id, parent, layer, name, t0, Clock.nowNs))
      stack.set(stack.get.tail)
      if (ctx != null) ctx.setLocalProperty(Tracer.SpanProp, prev)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Span name of a job: its description, or what kind of job it is. */
  def jobName(label: String): String =
    if (label.isEmpty) "job"
    else if (label.startsWith("\nid = ")) "micro-batch job" // Spark's streaming description
    else label

  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer self time (seconds) and span count: a span's duration minus
    * the part of it its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, (Double, Int)] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.layer != "bench").groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs) - covered(ch, s.startNs, s.endNs)
      }.sum
      layer -> (self / 1e9, ss.size)
    }
  }
}

/** Scheduler-level record of one Spark job. */
final class JobRec(val jobId: Int, val span: Long, val label: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var deserMs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes every job and task to the bench span that submitted it. */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, span, label, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(t.stageId)
    if (rec == null) return
    rec.synchronized {
      rec.tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.deserMs += m.executorDeserializeTime
        rec.gcMs += m.jvmGCTime
        rec.inRecords += m.inputMetrics.recordsRead
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def finished: Seq[JobRec] = jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.jobId)
  def clear(): Unit = { jobs.clear(); stageJob.clear() }
}

/** Streaming progress events, handed to a callback (trace mode only). */
final class ProgressListener(onProgress: StreamingQueryProgress => Unit)
    extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    onProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
