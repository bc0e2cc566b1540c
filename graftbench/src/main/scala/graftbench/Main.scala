package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command-line options; `run.py` fills them in. */
final case class Opts(
    workload: String,
    inputs: String,
    work: String,
    out: String,
    trace: Boolean,
    cores: Int,
    maxSteps: Int,
    corrupt: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      inputs = m("inputs"),
      work = m("work"),
      out = m("out"),
      trace = m.getOrElse("trace", "0") == "1",
      cores = m.getOrElse("cores", "4").toInt,
      maxSteps = m.getOrElse("max-steps", "0").toInt,
      corrupt = m.getOrElse("corrupt", ""))
  }
}

/** One timed operation. `kind` groups samples (the format, or format ×
  * operation); `result` is what the output checks compare.
  */
final case class Sample(kind: String, fmt: String, op: String, step: Int,
    startMs: Long, ms: Double, ok: Boolean, err: String,
    result: Map[String, Any], span: Long) {
  /** A latency that never ended (+inf) is written as null. */
  def json: Map[String, Any] = Map("kind" -> kind, "fmt" -> fmt, "op" -> op,
    "step" -> step, "ms" -> Some(ms).filter(_.isFinite), "ok" -> ok, "err" -> err,
    "result" -> result)
}

/** Session, tracer and listeners shared by the workloads. */
final class Ctx(val opts: Opts) {
  var spark: SparkSession = _
  val tracer = new Tracer(opts.trace, s"${opts.workload}-${ProcessHandle.current().pid()}")
  val jobs: Option[JobListener] = if (opts.trace) Some(new JobListener) else None
  val samples = ArrayBuffer.empty[Sample]
  @volatile var onProgress: org.apache.spark.sql.streaming.StreamingQueryProgress => Unit = _ => ()

  def startSession(): Unit = {
    val local = s"${opts.work}/spark-local"
    Files.createDirectories(Paths.get(local))
    spark = graft.GraftSession.tuned(
        SparkSession.builder().master(s"local[${opts.cores}]").appName("graftbench"),
        opts.cores)
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.sql.catalog.graft.warehouse", s"${opts.work}/warehouse/graft-catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    jobs.foreach(spark.sparkContext.addSparkListener)
    if (opts.trace) spark.streams.addListener(new ProgressListener(p => onProgress(p)))
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Wait until every listener event posted so far has been handled. */
  def drainListeners(): Unit =
    if (spark != null) org.apache.spark.GraftSparkShim.waitListenerBusEmpty(spark.sparkContext)

  /** Time one operation; a throw is a failed sample, never a fast one. */
  def timed(kind: String, fmt: String, op: String, step: Int, layer: String,
      record: Boolean = true)(body: => Map[String, Any]): Sample = {
    val startMs = Clock.nowMs
    val t0 = System.nanoTime()
    var spanId = 0L
    val (ok, err, res) =
      try {
        val r = tracer.span(layer, kind) { id => spanId = id; body }
        (true, "", r)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[graftbench] $kind step $step failed: $msg")
          (false, msg.take(300), Map.empty[String, Any])
      }
    val s = Sample(kind, fmt, op, step, startMs, (System.nanoTime() - t0) / 1e6,
      ok, err, res, spanId)
    if (record) samples += s
    s
  }

  /** Scheduler counts per operation (trace mode): with one client and a
    * fixed seed these repeat exactly, run to run.
    */
  def opCounts(bySpan: Map[Long, Seq[JobRec]]): Seq[Map[String, Any]] =
    if (!opts.trace) Nil
    else samples.toList.map { s =>
      val js = bySpan.getOrElse(s.span, Nil)
      Map("kind" -> s.kind, "step" -> s.step, "jobs" -> js.size,
        "tasks" -> js.map(_.tasks).sum, "shuffle_bytes" -> js.map(_.shuffleBytes).sum)
    }

  /** Job spans under their op spans, for the per-layer self times. */
  def addJobSpans(samples: Seq[Sample], bySpan: Map[Long, Seq[JobRec]]): Unit =
    samples.foreach { s =>
      bySpan.getOrElse(s.span, Nil).foreach { j =>
        tracer.add(Span(tracer.nextId(), s.span, "spark",
          Tracer.jobName(j.label), j.startMs * 1000000L, j.endMs * 1000000L))
      }
    }

  /** Jobs per bench span (trace mode). */
  def jobsBySpan(): Map[Long, Seq[JobRec]] = {
    drainListeners()
    jobs.map(_.finished.groupBy(_.span)).getOrElse(Map.empty)
  }
}

/** A benchmark workload: set-up, one warm-up, the measured run and the
  * untimed output checks.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def run(): Unit
  /** Untimed checks and details; returns (checks, details, per-layer). */
  def finish(): (Seq[Map[String, Any]], Map[String, Any], Map[String, Double])
}

object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = Opts.parse(args)
    Files.createDirectories(Paths.get(opts.work))
    val ctx = new Ctx(opts)
    val wl: Workload = opts.workload match {
      case "ingest" => new Ingest(ctx)
      case "table_dml" => new TableDml(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var exit = 0
    try {
      val ts = System.nanoTime()
      ctx.startSession()
      wl.setup()
      val setupS = (System.nanoTime() - ts) / 1e9
      val tw = System.nanoTime()
      wl.warmup()
      val warmupS = (System.nanoTime() - tw) / 1e9
      val probe = hostProbe(ctx.spark)
      ctx.drainListeners()
      ctx.jobs.foreach(_.clear())
      ctx.tracer.clear()
      ctx.samples.clear()
      val cpu0 = processCpuNs()
      val tm = System.nanoTime()
      wl.run()
      val measureS = (System.nanoTime() - tm) / 1e9
      val measureCpuS = (processCpuNs() - cpu0) / 1e9
      val (checks, details, layers) = wl.finish()
      val counts = ctx.opCounts(ctx.jobsBySpan())
      val spans = ctx.tracer.all
      val selfT = Tracer.selfTimes(spans)
      val layerMetrics = layers ++
        Seq("queue", "stream", "ops", "sinks", "spark").flatMap { l =>
          val (s, n) = selfT.getOrElse(l, (0.0, 0))
          Seq(s"self.${l}_s" -> s, s"spans.$l" -> n.toDouble)
        }
      if (opts.trace) writeSpans(s"${opts.work}/spans.jsonl", ctx.tracer.runId, spans)
      val result = Map(
        "workload" -> opts.workload,
        "trace" -> opts.trace,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "main_ms" -> mainMs,
        "setup_s" -> setupS,
        "warmup_s" -> warmupS,
        "measure_s" -> measureS,
        "measure_cpu_s" -> measureCpuS,
        "host_probe" -> probe,
        "peak_rss_mb" -> peakRssMb(),
        "samples" -> ctx.samples.map(_.json),
        "checks" -> checks,
        "details" -> details,
        "counts" -> counts,
        "layers" -> (if (opts.trace) layerMetrics else Map.empty))
      Files.writeString(Paths.get(opts.out), Json.write(result))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally {
      try ctx.stopSession() catch { case _: Throwable => () }
    }
    sys.exit(exit)
  }

  /** Host-calibration probe: the same fixed costs FixedCostProbe measures
    * (a same-plan count, a tiny shuffle), issued from the bench side.
    * Recorded only: it tells a stalled host from a slow program.
    */
  def hostProbe(spark: SparkSession): Map[String, Any] = {
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def time(n: Int)(body: Int => Unit): Double = {
      body(0)
      median((1 to n).map { i =>
        val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e6
      })
    }
    Map(
      "same_plan_count_ms" -> time(5)(_ => { spark.range(1).count(); () }),
      "tiny_shuffle_ms" -> time(3)(i =>
        spark.range(1000).withColumn("k", pmod(col("id") + i, lit(50)))
          .groupBy("k").agg(sum("id")).write.mode("overwrite").format("noop").save()))
  }

  /** CPU time of the whole process (driver, executor threads, GC, JIT). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.write(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(Paths.get(path), lines.asJava)
  }

  /** Sum of regular-file sizes under `dir` (0 when absent). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Regular files under `dir` with their sizes. */
  def listFiles(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Map.empty
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map((f: Path) => f.toString -> Files.size(f)).toMap
    finally st.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }

  /** Executor GC and task-deserialization seconds over the given jobs. */
  def sparkTotals(jobs: Seq[JobRec]): Map[String, Double] = Map(
    "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
    "spark.deser_s" -> jobs.map(_.deserMs).sum / 1e3)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
