package graftbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sinks.{DeltaInterop, HudiInterop, HudiMor, IcebergInterop, VersionedTable => VT}

/** Closed loop, one client: a seeded sequence of steps against one table
  * per format, preloaded in set-up. Each step applies one write (keyed
  * upsert, MERGE with update/delete/insert, or predicate DELETE) and then
  * one read (pruned range count, point lookup, time travel) to every
  * format that has the operation (the manifest's `supports` table).
  * Three steps make a round (each write and read kind once) that ends
  * with a compaction; the run executes every step the manifest lists,
  * however long they take, then a vacuum with a fixed retention.
  * Read results and final snapshots go to `model.py`, which replays the
  * same sequence in memory.
  */
final class TableDml(ctx: Ctx) extends Workload {
  import TableDml._

  private val m = Json.read(s"${ctx.opts.inputs}/manifest.json")
  private val formats = Json.elems(m.get("formats")).map(_.asText)
  private val steps = Json.elems(m.get("steps"))
  private val ops = formats.map(f => f -> Json.elems(m.get("supports").get(f)).map(_.asText).toSet).toMap
  private var root = ""
  private var executed = 0
  private val tokens = mutable.Map[(String, Int), String]()
  private val io = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def spark = ctx.spark
  private def path(fmt: String) = s"$root/$fmt"

  def setup(): Unit = {
    root = s"${ctx.opts.work}/dml"
    Main.deleteTree(root)
    val pre = spark.read.parquet(s"${ctx.opts.inputs}/preload.parquet")
    // the five tables preload concurrently: set-up, not a measured op
    val pool = java.util.concurrent.Executors.newFixedThreadPool(formats.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val done = Future.sequence(formats.map(f => Future { preload(f, pre); f -> token(f) }))
      Await.result(done, Duration.Inf).foreach { case (f, t) => tokens((f, -1)) = t }
    } finally pool.shutdown()
  }

  private def preload(f: String, pre: DataFrame): Unit = {
    val p = path(f)
    f match {
      case "table" => VT.write(spark, p, pre, Seq("date"))
      case "delta" => DeltaInterop.write(pre, p, Seq("date"))
      case "iceberg" => IcebergInterop.write(pre, p, partitionBy = Seq("date"))
      case "hudi" => HudiInterop.insert(pre, p, "id", "ver", Seq("date"))
      case "hudi_mor" => HudiMor.upsert(pre, p, "id", "ver", Seq("date"))
    }
  }

  def warmup(): Unit =
    formats.foreach(f => read(f, col("date") === "2024-01-30" && col("amount") > 500.0).count())

  private def token(f: String): String = f match {
    case "table" => VT.latestVersion(spark, path(f)).toString
    case "delta" => DeltaInterop.latestVersion(spark, path(f)).toString
    case "iceberg" => IcebergInterop.snapshotChain(spark, path(f)).get.last.toString
    case _ => HudiInterop.completedInstants(spark, path(f)).last
  }

  private def readAll(f: String, asOf: Option[String] = None): DataFrame = f match {
    case "table" => VT.read(spark, path(f), asOfVersion = asOf.map(_.toLong))
    case "delta" => DeltaInterop.read(spark, path(f), asOf.map(_.toLong))
    case "iceberg" => IcebergInterop.read(spark, path(f), asOf.map(_.toLong))
    case _ => HudiInterop.read(spark, path(f), asOf)
  }

  /** The format's own pruned read where it has one. */
  private def read(f: String, pred: Column): DataFrame = f match {
    case "table" => VT.readPruned(spark, path(f), pred)._1
    case "delta" => DeltaInterop.readWhere(spark, path(f), Some(pred))
    case "iceberg" => IcebergInterop.readWhere(spark, path(f), Some(pred))
    case _ => HudiInterop.read(spark, path(f)).filter(pred)
  }

  private def upsert(f: String, batch: DataFrame): Unit = f match {
    case "table" => VT.upsert(spark, path(f), batch, "id", "ver", Seq("date"))
    case "delta" => DeltaInterop.merge(spark, path(f), batch, Seq("date", "id"), UpsertClauses)
    case "iceberg" => IcebergInterop.merge(spark, path(f), batch, Seq("date", "id"), UpsertClauses)
    case "hudi" => HudiInterop.upsert(batch, path(f), "id", "ver", Seq("date"))
    case "hudi_mor" => HudiMor.upsert(batch, path(f), "id", "ver", Seq("date"))
  }

  private def merge(f: String, src: DataFrame): Unit = f match {
    case "table" => VT.merge(spark, path(f), src, "id", Seq("date"), MergeClauses)
    case "delta" => DeltaInterop.merge(spark, path(f), src, Seq("date", "id"), MergeClauses)
    case "iceberg" => IcebergInterop.merge(spark, path(f), src, Seq("date", "id"), MergeClauses)
  }

  private def delete(f: String, pred: Column): Unit = f match {
    case "table" => VT.delete(spark, path(f), pred, Seq("date"))
    case "delta" => DeltaInterop.delete(spark, path(f), pred)
    case "iceberg" => IcebergInterop.deletePositions(spark, path(f), pred)
    case "hudi_mor" =>
      // Hudi deletes are (key, partition) pairs: resolve the predicate first
      val keys = HudiInterop.read(spark, path(f)).filter(pred).select("id", "date").collect()
      HudiMor.delete(spark.createDataFrame(
        java.util.Arrays.asList(keys: _*), KeySchema), path(f), "id", Seq("date"))
  }

  private def compact(f: String): Unit = f match {
    case "table" => VT.optimize(spark, path(f))
    case "delta" => DeltaInterop.compact(spark, path(f))
    case "iceberg" => IcebergInterop.collapseDeletes(spark, path(f))
    case "hudi_mor" => HudiMor.compact(spark, path(f), Seq("date"))
  }

  private def vacuum(f: String): Unit = f match {
    case "table" => VT.vacuum(spark, path(f), retainVersions = 1, orphanMinAgeMs = 0L)
    case "delta" => DeltaInterop.vacuum(spark, path(f), retentionMs = 0L)
    case "iceberg" =>
      IcebergInterop.expireSnapshots(spark, path(f), keepLast = 1)
      IcebergInterop.removeOrphanFiles(spark, path(f), olderThanMs = 0L)
    case "hudi" => HudiInterop.clean(spark, path(f), retainCommits = 1)
  }

  /** Time one write; in trace mode also record the files and bytes it
    * added to the table directory (data files vs. log/metadata files).
    */
  private def write(f: String, op: String, step: Int, userBytes: Long)(body: => Unit): Unit = {
    val before = if (ctx.opts.trace) Main.listFiles(path(f)) else Map.empty[String, Long]
    val s = ctx.timed(s"$f.$op", f, op, step, "sinks") { body; Map.empty }
    if (s.ok && op != "vacuum") tokens((f, step)) = token(f)
    if (ctx.opts.trace) {
      val added = Main.listFiles(path(f)).filter { case (p, _) => !before.contains(p) }
      val (log, data) = added.partition { case (p, _) => LogDirs.exists(p.contains) }
      io += Map("kind" -> s.kind, "step" -> step, "fmt" -> f, "op" -> op,
        "data_files" -> data.size, "data_bytes" -> data.values.sum,
        "log_bytes" -> log.values.sum, "user_bytes" -> userBytes)
    }
  }

  private def supports(f: String, op: String): Boolean = ops(f).contains(op)

  def run(): Unit = {
    // a fixed number of steps, never a deadline: every run of a seed ends
    // in the same table state (`--max-steps` shortens it for self-tests)
    val n = if (ctx.opts.maxSteps > 0) ctx.opts.maxSteps.min(steps.size) else steps.size
    var s = 0
    while (s < n) {
      val st = steps(s)
      val w = st.get("write")
      val kind = w.get("kind").asText
      val batchFile = Option(w.get("batch")).map(b => s"${ctx.opts.inputs}/${b.asText}")
      val batch = batchFile.map(spark.read.parquet(_))
      val userBytes = batchFile.map(b => java.nio.file.Files.size(java.nio.file.Paths.get(b))).getOrElse(0L)
      formats.filter(supports(_, kind)).foreach { f =>
        write(f, kind, s, userBytes) {
          kind match {
            case "upsert" => upsert(f, batch.get)
            case "merge" => merge(f, batch.get)
            case "delete" =>
              delete(f, col("date") === w.get("date").asText &&
                col("qty") < w.get("qty_below").asInt)
          }
        }
      }
      val r = st.get("read")
      val rk = r.get("kind").asText
      formats.foreach { f =>
        ctx.timed(s"$f.$rk", f, rk, s, "sinks") {
          rk match {
            case "range" =>
              val pred = col("date").between(r.get("date_from").asText, r.get("date_to").asText) &&
                col("amount") > r.get("amount_above").asDouble
              Map("count" -> read(f, pred).count())
            case "point" =>
              val rows = read(f, col("id") === r.get("id").asLong)
                .select("amount", "qty", "ver").collect()
                .map(x => Seq(x.getDouble(0), x.getInt(1), x.getLong(2))).toSeq
              Map("rows" -> rows)
            case "time_travel" =>
              val ref = r.get("as_of_step").asInt
              // the newest state at or before the referenced step
              val tok = (ref to -1 by -1).flatMap(k => tokens.get((f, k))).head
              val row = readAll(f, Some(tok)).agg(count(lit(1)), sum("ver")).head()
              Map("count" -> row.getLong(0), "sum_ver" -> (if (row.isNullAt(1)) 0L else row.getLong(1)))
          }
        }
      }
      if (st.get("compact").asBoolean)
        formats.filter(supports(_, "compact")).foreach(f => write(f, "compact", s, 0L)(compact(f)))
      s += 1
    }
    executed = s
    formats.filter(supports(_, "vacuum")).foreach(f => write(f, "vacuum", s, 0L)(vacuum(f)))
  }

  def finish(): (Seq[Map[String, Any]], Map[String, Any], Map[String, Double]) = {
    val finals = formats.map { f =>
      try {
        val row = readAll(f).agg(count(lit(1)), sum("id"), sum("ver"), sum("qty"),
          sum(round(col("amount") * 100).cast("long"))).head()
        def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
        f -> Map("count" -> l(0), "sum_id" -> l(1), "sum_ver" -> l(2),
          "sum_qty" -> l(3), "sum_cents" -> l(4))
      } catch { case e: Throwable => f -> Map("error" -> String.valueOf(e.getMessage)) }
    }.toMap
    // bytes on disk after compaction + vacuum over the same live rows
    // written once as plain parquet (formats holding the same rows share
    // one plain copy)
    val plainBytes = mutable.Map[Any, Long]()
    val space = formats.map { f =>
      val amp = try {
        val bytes = plainBytes.getOrElseUpdate(finals(f), {
          val plain = s"${ctx.opts.work}/plain/$f"
          readAll(f).select("id", "date", "amount", "qty", "ver").repartition(col("date"))
            .write.mode("overwrite").partitionBy("date").parquet(plain)
          Main.du(plain)
        })
        if (bytes > 0) Main.du(path(f)).toDouble / bytes else 0.0
      } catch { case _: Throwable => 0.0 }
      f -> amp
    }.toMap
    val layers = if (ctx.opts.trace) perLayer() else Map.empty[String, Double]
    (Nil, Map("executed_steps" -> executed, "final" -> finals, "space_amp" -> space,
      "io" -> io.toList), layers)
  }

  private def perLayer(): Map[String, Double] = {
    val samples = ctx.samples.toList
    val bySpan = ctx.jobsBySpan()
    ctx.addJobSpans(samples, bySpan)
    def jobsOf(s: Sample) = bySpan.getOrElse(s.span, Nil)
    val out = mutable.Map[String, Double]()
    formats.foreach { f =>
      val fs = samples.filter(_.fmt == f)
      WriteOps.filter(supports(f, _)).foreach { op =>
        out(s"sinks.$f.${op}_ms") = Main.median(fs.filter(_.op == op).map(_.ms))
      }
      val writes = fs.filter(s => Seq("upsert", "merge", "delete").contains(s.op))
      out(s"sinks.$f.driver_ms") = Main.median(writes.map { s =>
        s.ms - Tracer.covered(jobsOf(s).map(j => (j.startMs, j.endMs)), s.startMs,
          s.startMs + s.ms.toLong + 1)
      })
      Seq("probe", "stage", "other").foreach { b =>
        val ms = writes.map(s => jobsOf(s).filter(j => bucket(j.label) == b)
          .map(j => (j.endMs - j.startMs).toDouble).sum)
        out(s"sinks.$f.label.${b}_ms") = if (ms.isEmpty) 0.0 else ms.sum / ms.size
      }
      val wio = io.filter(r => r("fmt") == f &&
        Seq("upsert", "merge", "delete").contains(r("op")))
      def tot(k: String) = wio.map(_(k).asInstanceOf[Number].doubleValue).sum
      val n = wio.size.max(1).toDouble
      out(s"sinks.$f.bytes_written_per_user_byte") =
        if (tot("user_bytes") > 0) tot("data_bytes") / tot("user_bytes") else 0.0
      out(s"sinks.$f.files_per_commit") = tot("data_files") / n
      out(s"sinks.$f.log_bytes_per_commit") = tot("log_bytes") / n
      val reads = fs.filter(s => ReadOps.contains(s.op))
      out(s"sinks.$f.read_ms") = Main.median(reads.map(_.ms))
      val returned = reads.map { s =>
        s.result.get("count").map(_.asInstanceOf[Long].toDouble)
          .orElse(s.result.get("rows").map(_.asInstanceOf[Seq[_]].size.toDouble))
          .getOrElse(0.0).max(1.0)
      }.sum
      out(s"sinks.$f.rows_read_per_row_returned") =
        reads.flatMap(jobsOf).map(_.inRecords).sum / returned.max(1.0)
    }
    out.toMap ++ Main.sparkTotals(samples.flatMap(jobsOf))
  }
}

object TableDml {
  val WriteOps = Seq("upsert", "merge", "delete", "compact")
  val ReadOps = Seq("range", "point", "time_travel")
  val LogDirs = Seq("/_graft_log/", "/_delta_log/", "/metadata/", "/.hoodie/")

  val KeySchema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, date STRING")

  private val setCols = Map("amount" -> col("s.amount"), "qty" -> col("s.qty"), "ver" -> col("s.ver"))

  val UpsertClauses: Seq[VT.MergeClause] = Seq(VT.MatchedUpdate(setCols), VT.NotMatchedInsert())

  val MergeClauses: Seq[VT.MergeClause] = Seq(
    VT.MatchedDelete(Some(col("s.op") === "D")),
    VT.MatchedUpdate(setCols),
    VT.NotMatchedInsert(
      Some(Map("id" -> col("s.id"), "date" -> col("s.date")) ++ setCols),
      Some(col("s.op") =!= "D")))

  /** Job-description label → bucket (the sinks' JobLabel scopes). */
  def bucket(label: String): String =
    if (label.contains("probe") || label.contains("envelope")) "probe"
    else if (label.contains("stage")) "stage"
    else "other"
}
