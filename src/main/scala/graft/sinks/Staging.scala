package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** How a Spark write becomes table files — the one staging routine under
  * every lakehouse writer ([[VersionedTable]], [[DeltaInterop]],
  * [[IcebergInterop]], [[HudiInterop]]).
  *
  * The frame is written under a fresh stage dir, its parquet files are
  * renamed into the table tree at the names the format chooses, and each
  * file's footer is read exactly once. The moved files stay UNREFERENCED
  * until the format publishes a commit naming them (its log is the
  * source of truth), so a crash anywhere in here leaves only debris that
  * the format's vacuum / orphan removal reclaims — never a half-visible
  * commit. Naming, the stage-dir location, empty-write rules and
  * publishing stay with each format.
  */
object Staging {

  /** One file moved into the table: `src` is its path relative to the
    * stage dir (hive `k=v` segments intact), `dest` its table-relative
    * destination, `stat` its footer row count and column stats over the
    * caller's schema.
    */
  final case class Staged(src: String, dest: String, bytes: Long,
      stat: FileStats.FileStat)

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` under `path/<stagePrefix><uuid>` (one Spark job, labeled
    * `label`), move every staged parquet file to
    * `path/<dest(rel, i)>` — `rel` is the file's stage-relative path, `i`
    * its index among its stage dir's files in name order — and return
    * the moved files. Directory creation, renames and footer reads run
    * concurrently on a bounded driver pool: each is ms-scale per-op
    * latency (worse on an object store), and a wide hive layout stages
    * hundreds of files. A `stagePrefix` ending in '/' names a stage root
    * shared by concurrent writers; it is removed once empty, never
    * recursively. A failed rename raises and leaves the rest of the
    * stage dir behind for the format's vacuum.
    */
  def write(df: DataFrame, path: String, stagePrefix: String, label: String,
      statsSchema: StructType, partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L)(dest: (String, Int) => String): Seq[Staged] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val stageDir = new Path(s"$path/$stagePrefix${java.util.UUID.randomUUID}")
    graft.JobLabel(spark, label) {
      val w = df.write.mode("overwrite").partitionBy(partitionBy: _*)
      (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
        .parquet(stageDir.toString)
    }
    val found = scala.collection.mutable.ArrayBuffer[(FileStatus, String)]()
    walkParquet(fs, stageDir)((st, rel) => found += st -> rel)
    val moves = found.toSeq.groupBy(f => dirOf(f._2)).values.toSeq.flatMap(
      _.sortBy(_._2).zipWithIndex.map { case ((st, rel), i) => (st, rel, dest(rel, i)) })
    val conf = spark.sparkContext.hadoopConfiguration
    val statCols = statsSchema.fields.filter(f => FileStats.boundEligible(f.dataType)).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, moves.size)))
    val staged = try {
      moves.map(m => new Path(s"$path/${m._3}").getParent).distinct.map(d =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { fs.mkdirs(d); () }
        })).foreach(_.get())
      moves.map { case (st, rel, to) =>
        pool.submit(new java.util.concurrent.Callable[Staged] {
          def call(): Staged = {
            val dst = new Path(s"$path/$to")
            require(fs.rename(st.getPath, dst), s"stage: failed to move ${st.getPath} -> $dst")
            Staged(rel, to, st.getLen, FileStats.readFooterStats(conf, dst.toString, statCols))
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
    fs.delete(stageDir, true)
    if (stagePrefix.endsWith("/")) {
      val root = stageDir.getParent
      // a concurrent writer may have just created its dir under the root
      try if (fs.listStatus(root).isEmpty) fs.delete(root, false)
      catch { case _: java.io.IOException => }
    }
    staged
  }

  /** Recursive parquet-file walk via plain listStatus — NOT
    * listFiles(recursive), which materializes block locations per file
    * (measured 3+ s over ~500 dirs). Directories whose root-relative
    * path satisfies `skip` are not entered. Yields (status,
    * root-relative path).
    */
  private[sinks] def walkParquet(fs: FileSystem, root: Path,
      skip: String => Boolean = _ => false)(f: (FileStatus, String) => Unit): Unit = {
    val rootQ = fs.makeQualified(root).toString
    def go(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val rel = fs.makeQualified(st.getPath).toString.stripPrefix(rootQ + "/")
      if (st.isDirectory) { if (!skip(rel)) go(st.getPath) }
      else if (rel.endsWith(".parquet")) f(st, rel)
    }
    go(root)
  }

  private def dirOf(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i => rel.substring(0, i)
  }
}
