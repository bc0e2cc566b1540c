package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sinks.{DeltaInterop, HudiInterop, HudiMor, IcebergInterop, TableSink, VersionedTable}
import graft.streaming.IngestPipeline

/** Open loop: one generator thread lands seeded event-feed files and one
  * `graft-queue` notification per landing on a fixed schedule (plus
  * re-delivered notifications and re-landed files); the files stream
  * through `graft-queue` → `IngestPipeline.transform` → a partitioned
  * sink, one format after another. Each format's segment ends with a
  * catch-up phase: stop, land a backlog, restart from the checkpoint,
  * drain.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._

  private val m = Json.read(s"${ctx.opts.inputs}/manifest.json")
  private val formats = Json.elems(m.get("formats")).map(_.asText)
  private val files = Json.elems(m.get("files")).map(_.get("name").asText).toIndexedSeq
  private def acts(key: String) = Json.elems(m.get(key)).map(a =>
    Act(a.get(0).asLong, a.get(1).asText, a.get(2).asInt))
  private val paced = acts("paced")
  private val backlog = acts("backlog")
  private val segs = mutable.ArrayBuffer.empty[Seg]
  private var root = ""
  @volatile private var watchedQueue: String = null
  @volatile private var backlogMax = 0
  private def spark = ctx.spark

  private def feedPath(i: Int) = s"${ctx.opts.inputs}/feed/${files(i)}"
  private def generator(d: Dirs, acts: Seq[Act], t0: Long) =
    Generator(d, acts, t0, s"${ctx.opts.inputs}/feed", files)

  def setup(): Unit = {
    root = s"${ctx.opts.work}/ingest"
    Main.deleteTree(root)
    Files.createDirectories(Paths.get(root))
  }

  def warmup(): Unit = {
    val d = Dirs(s"$root/warm")
    val q = start("parquet", d)
    generator(d, Seq(Act(0, "land", 0), Act(0, "land", 1)), Clock.nowMs).run()
    q.processAllAvailable()
    q.stop()
  }

  def run(): Unit = formats.foreach(f => segs += segment(f))

  private def start(fmt: String, d: Dirs): StreamingQuery = {
    val raw = spark.readStream.format("graft-queue")
      .schema(IngestPipeline.rawEventSchema)
      .option("queue.dir", d.queue)
      .option("fileFormat", "parquet")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .load()
    val enriched = IngestPipeline.transform(raw)
    def lakehouse(format: String) = enriched.writeStream.format(format)
      .option("path", d.table).partitionBy("event_date")
      .option("checkpointLocation", d.ckpt)
    val writer = fmt match {
      case "parquet" =>
        // IngestPipeline's own parquet sink shape: one writer task per
        // event_date directory
        TableSink.streamWriter(enriched.repartition(col("event_date")).writeStream,
          TableSink.SinkConfig(format = "parquet", path = d.table,
            partitionBy = Seq("event_date"), mode = "append"), d.ckpt)
      case "table" => lakehouse("graft-table")
      case "delta" => lakehouse("graft-delta")
      case "iceberg" => lakehouse("graft-iceberg")
      case "hudi" => lakehouse("graft-hudi")
          .option("recordKey", "event_id").option("precombine", "event_id")
      case "hudi_mor" =>
        val path = d.table
        enriched.writeStream.option("checkpointLocation", d.ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.GraftSession.withMicroBatchDml(batch) {
              val b = batch.persist()
              try {
                HudiMor.upsert(b, path, recordKey = "event_id",
                  precombine = "event_id", partitionBy = Seq("event_date"))
                ()
              } finally { b.unpersist(); () }
            }
          }
    }
    writer.trigger(Trigger.ProcessingTime(0L)).start()
  }

  private def segment(fmt: String): Seg = ctx.tracer.span("bench", s"ingest $fmt") { segSpan =>
    val d = Dirs(s"$root/$fmt")
    watchedQueue = d.queue
    backlogMax = 0
    ctx.onProgress = (_: StreamingQueryProgress) => {
      val q = watchedQueue
      if (q != null) backlogMax = math.max(backlogMax, queueDepth(q))
    }
    val q1 = start(fmt, d)
    awaitIdle(q1)
    val t0 = Clock.nowMs + LeadMs
    val gen = generator(d, paced, t0)
    val thread = new Thread(() => gen.run(), s"graftbench-generator-$fmt")
    thread.start()
    thread.join()
    q1.processAllAvailable()
    val prog1 = progressOf(q1)
    q1.stop()
    // catch-up: a backlog lands while the query is down
    val gen2 = generator(d, backlog, Clock.nowMs)
    gen2.run()
    val restartMs = Clock.nowMs
    val q2 = start(fmt, d)
    q2.processAllAvailable()
    val prog2 = progressOf(q2)
    q2.stop()
    ctx.drainListeners()
    watchedQueue = null
    Seg(fmt, d, t0, gen.delivered + gen2.delivered,
      gen.lateness.toList ++ gen2.lateness, prog1, prog2, restartMs,
      sourceLog(d.ckpt), segSpan, backlogMax)
  }

  def finish(): (Seq[Map[String, Any]], Map[String, Any], Map[String, Double]) = {
    // self-test hook: a sink that lost one data file must fail its check
    segs.filter(_.fmt == ctx.opts.corrupt).foreach { s =>
      Main.listFiles(s.dirs.table).keys.filter(_.endsWith(".parquet")).toSeq.sorted.headOption
        .foreach(f => Files.delete(Paths.get(f)))
    }
    // the expected answer: the whole feed, enriched once in batch
    val expected = digest(IngestPipeline.transform(spark.read
      .schema(IngestPipeline.rawEventSchema).parquet(files.indices.map(feedPath): _*)))
    val checks = segs.toList.map { s =>
      val got = try digest(reader(s.fmt, s.dirs.table)) catch {
        case e: Throwable => Seq("error: " + e.getMessage)
      }
      Map("name" -> s"readback.${s.fmt}", "fmt" -> s.fmt, "ok" -> (got == expected),
        "got" -> got.map(_.toString), "expected" -> expected.map(_.toString))
    }
    // freshness: scheduled landing → end of the micro-batch that committed it
    segs.foreach { s =>
      val ends = (s.prog1 ++ s.prog2).map(p => p.batchId -> p.endMs).toMap
      paced.filter(_.what == "land").foreach { a =>
        val landed = s"${s.dirs.land}/${files(a.file)}"
        val due = s.t0 + a.tMs
        val end = s.fileBatch.get(landed).flatMap(ends.get)
        ctx.samples += Sample(s.fmt, s.fmt, "freshness", a.file, due,
          end.map(e => (e - due).toDouble).getOrElse(Double.PositiveInfinity),
          end.isDefined, if (end.isDefined) "" else "file never committed", Map.empty, s.span)
      }
    }
    val catchup = segs.toList.map { s =>
      val rows = s.prog2.map(_.rows).sum
      val lastEnd = if (s.prog2.isEmpty) s.restartMs else s.prog2.map(_.endMs).max
      s.fmt -> Map("rows" -> rows, "ms" -> (lastEnd - s.restartMs),
        "restart_ms" -> s.prog2.headOption.map(_.startMs - s.restartMs).getOrElse(0L),
        "batches" -> (s.prog1.size + s.prog2.size))
    }.toMap
    val lateness = segs.flatMap(_.lateness).map(_.toDouble)
    val details = Map("catchup" -> catchup, "space_amp" -> spaceAmp(checks),
      "generator_late_ms" -> Map("p50" -> Main.median(lateness.toSeq),
        "max" -> (if (lateness.isEmpty) 0.0 else lateness.max)),
      "delivered" -> segs.map(s => s.fmt -> s.delivered).toMap,
      // per micro-batch that carried rows: (rows, triggerExecution ms)
      "batches" -> segs.map(s => s.fmt -> (s.prog1 ++ s.prog2).filter(_.rows > 0)
        .map(p => Seq(p.rows, p.durs.getOrElse("triggerExecution", 0L)))).toMap,
      "accepted" -> segs.map(s => s.fmt -> s.fileBatch.size).toMap)
    val layers = if (ctx.opts.trace) perLayer(catchup) ++ opsProbe() else Map.empty[String, Double]
    (checks, details, layers)
  }

  private def perLayer(catchup: Map[String, Map[String, Any]]): Map[String, Double] = {
    val bySpan = ctx.jobsBySpan()
    val all = segs.toList.flatMap(s => s.prog1 ++ s.prog2)
    def med(k: String, ps: Seq[Prog]) = Main.median(ps.map(_.durs.getOrElse(k, 0L).toDouble))
    // the queue and log phases take a few ms: a mean keeps their resolution
    def mean(k: String, ps: Seq[Prog]) =
      if (ps.isEmpty) 0.0 else ps.map(_.durs.getOrElse(k, 0L)).sum.toDouble / ps.size
    val out = mutable.Map[String, Double](
      "queue.latest_offset_ms" -> mean("latestOffset", all),
      "queue.get_batch_ms" -> mean("getBatch", all),
      "queue.backlog_files_max" -> segs.map(_.backlogMax).maxOption.getOrElse(0).toDouble,
      "queue.accepted_per_delivered" ->
        segs.map(_.fileBatch.size).sum.toDouble / segs.map(_.delivered).sum.max(1),
      "stream.add_batch_ms" -> med("addBatch", all),
      "stream.wal_commit_ms" -> mean("walCommit", all),
      "stream.commit_offsets_ms" -> mean("commitOffsets", all),
      "stream.trigger_ms" -> med("triggerExecution", all),
      "stream.restart_ms" -> Main.median(catchup.values.map(
        _("restart_ms").asInstanceOf[Long].toDouble).toSeq))
    segs.foreach { s =>
      val ps = s.prog1 ++ s.prog2
      val jobs = bySpan.getOrElse(s.span, Nil)
      val n = ps.size.max(1).toDouble
      out(s"sinks.${s.fmt}.append_ms") = med("addBatch", ps)
      out(s"sinks.${s.fmt}.jobs_per_commit") = jobs.size / n
      out(s"sinks.${s.fmt}.tasks_per_commit") = jobs.map(_.tasks).sum / n
      addSpans(s, jobs)
    }
    out.toMap ++ Main.sparkTotals(bySpan.filter(kv => segs.exists(_.span == kv._1))
      .values.flatten.toSeq)
  }

  /** Bytes on disk of each lakehouse sink's table directory (data files
    * plus the table's own log and metadata; not the stream checkpoint)
    * over the same rows written once as plain parquet, one file per
    * `event_date` — from the parquet sink's rows, when its check passed.
    * The parquet sink is the plain layout itself and has no term.
    */
  private def spaceAmp(checks: Seq[Map[String, Any]]): Map[String, Double] = {
    val parquetOk = checks.exists(c => c("fmt") == "parquet" && c("ok") == true)
    val plainBytes = segs.find(_.fmt == "parquet").filter(_ => parquetOk).map { s =>
      val plain = s"${ctx.opts.work}/plain"
      spark.read.parquet(s.dirs.table).repartition(col("event_date"))
        .write.mode("overwrite").partitionBy("event_date").parquet(plain)
      Main.du(plain)
    }.getOrElse(0L)
    segs.filter(_.fmt != "parquet")
      .map(s => s.fmt -> (if (plainBytes > 0) Main.du(s.dirs.table).toDouble / plainBytes else 0.0))
      .toMap
  }

  /** The `ops` layer alone (traced runs, after the measured window): the
    * pipeline's transform (`IngestPipeline.transform` = ts normalization
    * + `Enrich`) over micro-batch-sized inputs, one feed file at a time,
    * forced through the `noop` sink.
    */
  private def opsProbe(): Map[String, Double] = {
    val runs = files.indices.take(OpsProbeFiles).map { i =>
      ctx.timed("enrich", "", "enrich", i, "ops", record = false) {
        IngestPipeline.transform(spark.read.schema(IngestPipeline.rawEventSchema)
          .parquet(feedPath(i))).write.mode("overwrite").format("noop").save()
        Map.empty
      }
    }
    val bySpan = ctx.jobsBySpan()
    ctx.addJobSpans(runs, bySpan)
    val jobs = runs.flatMap(r => bySpan.getOrElse(r.span, Nil))
    val n = runs.size.toDouble
    Map(
      "ops.enrich_ms" -> Main.median(runs.map(_.ms)),
      "ops.jobs" -> jobs.size / n,
      "ops.tasks" -> jobs.map(_.tasks).sum / n,
      "ops.task_s" -> jobs.map(_.runMs).sum / 1e3 / n,
      "ops.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6 / n,
      "ops.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6 / n,
      "ops.driver_ms" -> Main.median(runs.map { r =>
        r.ms - Tracer.covered(bySpan.getOrElse(r.span, Nil).map(j => (j.startMs, j.endMs)),
          r.startMs, r.startMs + r.ms.toLong + 1)
      }))
  }

  /** Micro-batch phase spans from `durationMs` (laid out in execution
    * order inside each trigger), the restart span, and one span per job
    * under the phase it ran in.
    */
  private def addSpans(s: Seg, jobs: Seq[JobRec]): Unit = {
    val tr = ctx.tracer
    val ms = 1000000L
    val phases = mutable.ArrayBuffer.empty[Span]
    (s.prog1 ++ s.prog2).foreach { p =>
      val trig = Span(tr.nextId(), s.span, "stream", s"trigger ${p.batchId}",
        p.startMs * ms, p.endMs * ms)
      tr.add(trig)
      var at = p.startMs
      PhaseLayers.foreach { case (phase, layer) =>
        val dur = p.durs.getOrElse(phase, 0L)
        if (dur > 0) {
          val sp = Span(tr.nextId(), trig.id, layer, phase, at * ms, (at + dur) * ms)
          tr.add(sp)
          phases += sp
          at += dur
        }
      }
    }
    s.prog2.headOption.foreach(p =>
      tr.add(Span(tr.nextId(), s.span, "stream", "restart", s.restartMs * ms, p.startMs * ms)))
    jobs.foreach { j =>
      val parent = phases.find(p => p.name == "addBatch" && p.startNs <= j.startMs * ms &&
        j.startMs * ms <= p.endNs).map(_.id).getOrElse(s.span)
      tr.add(Span(tr.nextId(), parent, "spark", Tracer.jobName(j.label),
        j.startMs * ms, j.endMs * ms))
    }
  }

  private def reader(fmt: String, path: String): DataFrame = fmt match {
    case "parquet" => spark.read.parquet(path)
    case "table" => VersionedTable.read(spark, path)
    case "delta" => DeltaInterop.read(spark, path)
    case "iceberg" => IcebergInterop.read(spark, path)
    case _ => HudiInterop.read(spark, path)
  }

  /** Row count, distinct ingest ids, and an order-independent id hash. */
  private def digest(df: DataFrame): Seq[Any] = {
    val r = df.agg(count(lit(1)), countDistinct(col("ingest_id")),
      sum(xxhash64(col("ingest_id")).cast("decimal(38,0)"))).head()
    Seq(r.getLong(0), r.getLong(1), r.getDecimal(2).toString)
  }

  /** Block until the query polls an empty queue, so the schedule's first
    * landing does not wait on query start-up.
    */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val until = System.nanoTime() + 60L * 1000000000L
    while (q.isActive && !q.status.message.startsWith("Waiting for data") &&
        System.nanoTime() < until) Thread.sleep(5)
  }

  private def progressOf(q: StreamingQuery): Seq[Prog] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
      Prog(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
    }.sortBy(_.batchId)
}

object Ingest {
  val LeadMs = 100L
  val MaxFilesPerTrigger = 8
  val OpsProbeFiles = 6
  /** durationMs phases in execution order, with the layer each belongs to. */
  val PhaseLayers: Seq[(String, String)] = Seq(
    "latestOffset" -> "queue", "walCommit" -> "stream", "getBatch" -> "queue",
    "queryPlanning" -> "stream", "addBatch" -> "sinks", "commitOffsets" -> "stream")

  final case class Act(tMs: Long, what: String, file: Int)

  final case class Prog(batchId: Long, startMs: Long, durs: Map[String, Long], rows: Long) {
    def endMs: Long = startMs + durs.getOrElse("triggerExecution", 0L)
  }

  final case class Dirs(base: String) {
    val land = s"$base/land"
    val queue = s"$base/queue"
    val ckpt = s"$base/ckpt"
    val table = s"$base/table"
    Seq(land, queue).foreach(p => Files.createDirectories(Paths.get(p)))
  }

  final case class Seg(fmt: String, dirs: Dirs, t0: Long, delivered: Int,
      lateness: Seq[Long], prog1: Seq[Prog], prog2: Seq[Prog], restartMs: Long,
      fileBatch: Map[String, Long], span: Long, backlogMax: Int)

  /** Lands files and notifications at `t0 + act.tMs`; records how late it
    * ran. Files land by atomic rename, so the source never sees a partial
    * file; a re-landed file replaces its earlier copy byte for byte.
    */
  final case class Generator(d: Dirs, acts: Seq[Act], t0: Long,
      feedDir: String, names: IndexedSeq[String]) {
    val lateness = mutable.ArrayBuffer.empty[Long]
    var delivered = 0
    private var seq = 0

    def run(): Unit = acts.foreach { a =>
      val due = t0 + a.tMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait)
      lateness += math.max(0L, Clock.nowMs - due)
      val name = names(a.file)
      val target = Paths.get(s"${d.land}/$name")
      if (a.what != "notify") {
        val tmp = Paths.get(s"${d.land}/.$name.tmp")
        Files.copy(Paths.get(s"$feedDir/$name"), tmp,
          StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
      seq += 1
      val msg = f"${d.queue}/m$due%015d-$seq%04d.json"
      val tmpMsg = Paths.get(msg + ".tmp")
      Files.write(tmpMsg, s"""{"path": "$target", "timestamp": $due}"""
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmpMsg, Paths.get(msg), StandardCopyOption.ATOMIC_MOVE)
      delivered += 1
    }
  }

  def queueDepth(dir: String): Int = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.count(_.getFileName.toString.endsWith(".json"))
    finally st.close()
  }

  /** file path → batch id, from the checkpoint's source log (the
    * `FileStreamSourceLog` the queue source writes: a version line, then
    * one JSON entry per file; compacted batches repeat earlier entries).
    */
  def sourceLog(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val st = Files.list(dir)
    val paths = try st.iterator().asScala.toList finally st.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    paths.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map { l =>
        val n = mapper.readTree(l)
        n.get("path").asText -> n.get("batchId").asLong
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }
}
