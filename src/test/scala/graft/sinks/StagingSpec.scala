package graft.sinks

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The shared staging routine: files land where the format names them,
  * each footer is read once, and nothing of the stage dir survives a
  * successful write — while a failed one leaves only debris the
  * format's vacuum reclaims.
  */
class StagingSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-staging-$tag").toFile.getAbsolutePath + "/t"

  private def frame = (0L until 200L).map(i => (i, if (i % 3 == 0) "x" else "y", i * 0.5))
    .toDF("id", "p", "v")

  private def parquetUnder(dir: String): Seq[File] = {
    def go(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(go)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    go(new File(dir))
  }

  test("partitioned and unpartitioned frames land at the caller's destinations") {
    for (partitionBy <- Seq(Seq("p"), Nil)) {
      val path = tmp("dest")
      val df = frame.repartition(3)
      val schema = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
      val staged = Staging.write(df, path, "_stage/", "test: stage files", schema,
        partitionBy)((rel, i) => s"data/$i-${rel.replace('/', '_')}")
      assert(staged.nonEmpty)
      staged.foreach { s =>
        assert(s.dest.startsWith("data/"), s.dest)
        val f = new File(s"$path/${s.dest}")
        assert(f.isFile, s"missing ${s.dest}")
        assert(f.length == s.bytes)
        if (partitionBy.nonEmpty) assert(s.src.startsWith("p="), s.src)
        // footer stats over the caller's schema
        assert(s.stat.cols.keySet == schema.fieldNames.toSet)
      }
      assert(parquetUnder(path).map(_.getAbsolutePath).sorted ==
        staged.map(s => new File(s"$path/${s.dest}").getAbsolutePath).sorted)
      assert(staged.flatMap(_.stat.numRecords).sum == 200L)
      assert(staged.map(_.stat.cols("id").min.get.asInstanceOf[Long]).min == 0L)
      assert(!new File(s"$path/_stage").exists(), "shared stage root must go once empty")
    }
  }

  test("an empty frame leaves no stage dir behind") {
    val path = tmp("empty")
    val staged = Staging.write(frame.filter(lit(false)), path, "meta/stage-",
      "test: stage files", StructType(Nil), Seq("p"))((rel, _) => rel)
    assert(staged.isEmpty)
    val left = Option(new File(s"$path/meta").listFiles()).toSeq.flatten
    assert(left.isEmpty, s"stage debris: ${left.map(_.getName)}")
  }

  test("maxRecordsPerFile splits files at the bound") {
    val path = tmp("maxrec")
    val staged = Staging.write(frame.coalesce(1), path, "_stage/", "test: stage files",
      StructType(Nil), maxRecordsPerFile = 64L)((rel, _) => rel)
    assert(staged.map(_.stat.numRecords.get).sorted == Seq(8L, 64L, 64L, 64L))
  }

  test("a failed rename raises, leaves the log unchanged, and vacuum reclaims the debris") {
    val path = tmp("fail")
    VersionedTable.write(spark, path, frame, Seq("p"))
    val version = VersionedTable.latestVersion(spark, path)
    val live = parquetUnder(path).map(f =>
      f.getAbsolutePath.stripPrefix(new File(path).getAbsolutePath + "/")).sorted
    val taken = live.head
    // every file of partition y collides with a live file; x lands elsewhere
    val e = intercept[Exception] {
      Staging.write(frame.repartition(1), path, "_graft_stage/", "test: stage files",
        StructType(Nil), Seq("p")) { (rel, _) =>
        if (rel.startsWith("p=y/")) taken else rel
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("failed to move"))), e)
    assert(VersionedTable.latestVersion(spark, path) == version)
    assert(VersionedTable.read(spark, path).count() == 200L)
    Thread.sleep(5) // the orphan gate compares modification times strictly
    val reclaimed = VersionedTable.vacuum(spark, path, orphanMinAgeMs = 0L)
    assert(reclaimed.exists(_.startsWith("p=x/")), reclaimed)
    assert(reclaimed.exists(_.startsWith("_graft_stage/")), reclaimed)
    assert(parquetUnder(path).map(f =>
      f.getAbsolutePath.stripPrefix(new File(path).getAbsolutePath + "/")).sorted == live)
    assert(Option(new File(s"$path/_graft_stage").listFiles()).toSeq.flatten.isEmpty)
    assert(VersionedTable.read(spark, path).count() == 200L)
  }
}
