package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.{DeletionVectors, DeltaInterop, DvDescriptor, Roaring64, Z85}

class DeletionVectorsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-dv-$tag").toFile.getAbsolutePath + "/t"

  // ---- Z85 ----

  test("Z85: ZeroMQ spec test vector and UUID round trip") {
    // the spec's "HelloWorld" vector
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(Z85.encode(bytes) == "HelloWorld")
    assert(Z85.decode("HelloWorld").toSeq == bytes.toSeq)
    val u = java.util.UUID.fromString("01234567-89ab-cdef-0123-456789abcdef")
    val enc = Z85.encodeUuid(u)
    assert(enc.length == 20)
    assert(Z85.decodeUuid(enc) == u)
    // arbitrary payload round trip
    val payload = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    assert(Z85.decode(Z85.encode(payload)).toSeq == payload.toSeq)
  }

  // ---- Roaring64 ----

  test("Roaring64: round trips across container types and high words") {
    val cases = Seq(
      Array.empty[Long],
      Array(0L),
      Array(1L, 5L, 65535L, 65536L, 70000L), // two array containers
      (0L until 5000L).toArray, // bitmap container (card > 4096)
      Array(0L, 4294967295L, 4294967296L, 8589934592L + 7), // 3 high words
      (0L until 70000L by 3).toArray) // array+bitmap mix across keys
    cases.foreach { pos =>
      val ser = Roaring64.serialize(pos)
      assert(Roaring64.deserialize(ser).toSeq == pos.toSeq, s"n=${pos.length}")
    }
  }

  test("Roaring64: reads run containers (foreign runOptimize output)") {
    // hand-build one 32-bit bitmap with a single RUN container holding
    // [10, 20] — cookie 12347, 1 container, no offsets (< 4 containers)
    import java.nio.{ByteBuffer, ByteOrder}
    val bm = ByteBuffer.allocate(4 + 1 + 4 + 2 + 2 + 2).order(ByteOrder.LITTLE_ENDIAN)
    bm.putInt(12347 | (0 << 16)) // SERIAL_COOKIE, size-1=0 in upper 16
    bm.put(1.toByte) // run bitset: container 0 is a run
    bm.putShort(0.toShort); bm.putShort(10.toShort) // key 0, card 11-1=10
    bm.putShort(1.toShort) // 1 run
    bm.putShort(10.toShort); bm.putShort(10.toShort) // start 10, len-1=10
    val whole = ByteBuffer.allocate(12 + 4 + bm.capacity).order(ByteOrder.LITTLE_ENDIAN)
    whole.putInt(Roaring64.MagicNumber).putLong(1L).putInt(0)
    whole.put(bm.array())
    assert(Roaring64.deserialize(whole.array()).toSeq == (10L to 20L).toSeq)
  }

  // ---- DV file framing ----

  test("DV file: framed write/read with CRC check; corruption is loud") {
    val dir = new Path(tmp("frame")).getParent
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val p1 = Roaring64.serialize(Array(1L, 3L, 5L))
    val p2 = Roaring64.serialize(Array(2L, 4L))
    val (uuid, offsets) = DeletionVectors.writeDvFile(fs, dir, Seq(p1, p2))
    assert(offsets == Seq(1, 1 + 4 + p1.length + 4))
    val f = new Path(dir, s"deletion_vector_$uuid.bin")
    assert(DeletionVectors.readDvPayload(fs, f, offsets(0), p1.length).toSeq == p1.toSeq)
    assert(DeletionVectors.readDvPayload(fs, f, offsets(1), p2.length).toSeq == p2.toSeq)
    intercept[IllegalArgumentException] {
      DeletionVectors.readDvPayload(fs, f, offsets(0), p1.length - 1)
    }
  }

  test("DV file bytes match the Delta spec exactly (not self-round-trip)") {
    // Hand-assembled per the Delta protocol for positions {1, 3}:
    // 1-byte format version | u32 BE length 36 | bitmap bytes (u32 LE
    // magic 1681511377 = D1 D3 39 64 on disk, then the portable
    // Roaring64: 1 bucket, high key 0, cookie 12346, 1 container,
    // card 2, offset 16, array [1, 3]) | u32 BE CRC-32 of the bitmap
    // bytes. NOT produced by this codec — pins writer AND reader to
    // the spec bytes, the drift a self-round-trip fixture cannot see.
    val specFile: Array[Byte] = Array(
      0x01,
      0x00, 0x00, 0x00, 0x24,
      0xD1, 0xD3, 0x39, 0x64,
      0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0x3A, 0x30, 0x00, 0x00,
      0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
      0x10, 0x00, 0x00, 0x00, 0x01, 0x00, 0x03, 0x00,
      0x68, 0x34, 0x97, 0xA9).map(_.toByte)
    assert(java.util.Arrays.equals(Roaring64.serialize(Array(1L, 3L)),
      specFile.slice(5, 5 + 36)), "bitmap bytes drifted from the spec")
    val dir = tmp("specbytes")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir), specFile)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload = DeletionVectors.readDvPayload(fs, new Path(dir), 1, 36)
    assert(Roaring64.deserialize(payload).toSeq == Seq(1L, 3L))
  }

  // ---- end to end on the wire format ----

  private def sample = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0),
    (5L, "a", 50.0), (6L, "b", 60.0))
    .toDF("id", "cat", "v")

  test("deleteDv: soft delete keeps parquet bytes, read drops rows, time travel intact") {
    val path = tmp("dv")
    DeltaInterop.write(sample, path)
    val before = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    val r = DeltaInterop.deleteDv(spark, path, col("id") % 2 === 0)
    assert(r.version == 1L)
    // data files untouched on disk
    val after = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    assert(after == before, "soft delete must not rewrite parquet")
    assert(new java.io.File(path).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")), "DV .bin written")
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L))
    // pre-delete version still reads everything
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(0L)).count() == 6L)
    // protocol upgraded to v3/v7 with the feature listed
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.protocol.minReaderVersion == 3)
    assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")))
    // stats-pruned predicate read path agrees
    assert(DeltaInterop.readWhere(spark, path, Some(col("id") <= 3))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("deleteDv: second delete merges with the existing DV by set union") {
    val path = tmp("dv2")
    DeltaInterop.write(sample, path)
    DeltaInterop.deleteDv(spark, path, col("id") === 2)
    DeltaInterop.deleteDv(spark, path, col("id") === 4 || col("id") === 2)
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L, 6L))
    // exactly one live logical file per original data file, each DV'd once
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.adds.map(_.path).distinct.size == snap.adds.size,
      "DV update must supersede the old (path, DV) pair, not duplicate it")
  }

  test("rewriting delete/update on a DV'd table do not resurrect soft-deleted rows") {
    val path = tmp("dvrw")
    DeltaInterop.write(sample, path)
    DeltaInterop.deleteDv(spark, path, col("id") === 1)
    DeltaInterop.delete(spark, path, col("id") === 3)
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 4L, 5L, 6L))
    DeltaInterop.update(spark, path, col("id") === 2, Map("v" -> lit(99.0)))
    val got = DeltaInterop.read(spark, path).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got == Map(2L -> 99.0, 4L -> 40.0, 5L -> 50.0, 6L -> 60.0))
  }

  test("DELETE of rows a DV already removed publishes nothing; the change feed still reads") {
    val path = tmp("dvcdf")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaInterop.deleteDv(spark, path, col("id") === 2L)               // v2
    // stats still cover id = 2, so the file is touched, but no live row matches
    val r = DeltaInterop.delete(spark, path, col("id") === 2L)
    assert(r.version == 2L && r.rewrittenFiles == 0, r)
    assert(DeltaInterop.latestVersion(spark, path) == 2L)
    val feed = DeltaInterop.readChangeFeed(spark, path, 0L, 2L)
      .filter(col("_change_type") === "delete").select("id").as[Long].collect()
    assert(feed.toSeq == Seq(2L))
  }

  test("compact collapses DVs into clean parquet; conversion refuses until then") {
    val path = tmp("dvc")
    DeltaInterop.write(sample, path)
    DeltaInterop.deleteDv(spark, path, col("id") === 5)
    val iceDst = tmp("dvc-ice")
    val e = intercept[IllegalArgumentException] {
      graft.sinks.FormatConvert.deltaToIceberg(spark, path, iceDst)
    }
    assert(e.getMessage.contains("deletion vectors"))
    DeltaInterop.compact(spark, path)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.adds.forall(_.deletionVector.isEmpty), "OPTIMIZE purges DVs")
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L, 6L))
    assert(graft.sinks.FormatConvert.deltaToIceberg(spark, path, iceDst) > 0)
  }

  test("vacuum keeps the referenced DV file and collects superseded ones") {
    val path = tmp("dvv")
    // two files: (1,2,3) and (4,5,6); both deletes hit the FIRST file,
    // so DV B supersedes DV A and A becomes unreferenced
    DeltaInterop.write(sample.coalesce(2), path)
    DeltaInterop.deleteDv(spark, path, col("id") === 1) // DV file A
    DeltaInterop.deleteDv(spark, path, col("id") === 2) // DV file B supersedes A
    def dvFiles = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName).toSet
    assert(dvFiles.size == 2)
    DeltaInterop.vacuum(spark, path, retentionMs = 0L)
    assert(dvFiles.size == 1, "unreferenced DV file collected, live one kept")
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 4L, 5L, 6L))
  }

  test("checkpoint round-trips DV descriptors and v3 protocol features") {
    val path = tmp("dvck")
    DeltaInterop.write(sample, path) // v0
    DeltaInterop.deleteDv(spark, path, col("id") === 6) // v1
    // append to v10 so a checkpoint lands (CheckpointEvery = 10)
    (2 to 10).foreach { i =>
      DeltaInterop.write(Seq((100L + i, "c", 1.0)).toDF("id", "cat", "v"),
        path, overwrite = false)
    }
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$path/_delta_log/${"%020d".format(10L)}.checkpoint.parquet")))
    // delete the early JSON commits: replay MUST come from the checkpoint
    (0L to 9L).foreach { v =>
      fs.delete(new Path(s"$path/_delta_log/${"%020d".format(v)}.json"), false)
    }
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.protocol.minReaderVersion == 3)
    assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")))
    assert(snap.adds.exists(_.deletionVector.isDefined))
    val ids = DeltaInterop.read(spark, path).select("id").as[Long].collect().sorted
    assert(!ids.contains(6L) && ids.contains(5L) && ids.contains(110L))
  }

  test("streaming tail refuses a DV commit without ignoreChanges, honors DV with it") {
    val path = tmp("dvt")
    // two files: (1,2,3) and (4,5,6) — deterministic coalesce of the
    // local Seq's partitions
    DeltaInterop.write(sample.coalesce(2), path)
    DeltaInterop.deleteDv(spark, path, col("id") === 1)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.appendsBetween(spark, path, 0L, 1L).count()
    }
    assert(e.getMessage.contains("ignoreChanges"))
    val rows = DeltaInterop.appendsBetween(spark, path, 0L, 1L, ignoreChanges = true)
      .select("id").as[Long].collect().sorted
    // only the touched file re-emits, and it carries its DV: the
    // soft-deleted row 1 stays gone
    assert(rows.toSeq == Seq(2L, 3L))
  }

  test("foreign log fixture: inline and prefixed-UUID DVs from another writer") {
    val root = tmp("foreign")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root, "_delta_log"))
    // data file with 5 rows (ids 0..4), written as a single part
    Seq(0L, 1L, 2L, 3L, 4L).toDF("id").coalesce(1)
      .write.parquet(root + "/data")
    val part = new java.io.File(root + "/data").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val rel1 = "data/" + part.getName
    // second copy (ids 10..14), deleted rows 0 and 4 via a "u"-path DV
    // under a two-level random prefix — the layout delta-spark produces
    Seq(10L, 11L, 12L, 13L, 14L).toDF("id").coalesce(1)
      .write.parquet(root + "/data2")
    val part2 = new java.io.File(root + "/data2").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val rel2 = "data2/" + part2.getName
    val prefix = "ab/cd"
    fs.mkdirs(new Path(s"$root/$prefix"))
    val payload2 = Roaring64.serialize(Array(0L, 4L))
    val (uuid2, offs2) = DeletionVectors.writeDvFile(
      fs, new Path(s"$root/$prefix"), Seq(payload2))
    // inline DV for file 1 dropping row index 2
    val payload1 = Roaring64.serialize(Array(2L))
    val schemaJson = Seq(0L).toDF("id").schema.json
    val log =
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}
         |{"metaData":{"id":"t-foreign","format":{"provider":"parquet","options":{}},"schemaString":${JsonMethods.compact(JsonMethods.render(JString(schemaJson)))},"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}
         |{"add":{"path":"$rel1","partitionValues":{},"size":${part.length},"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${Z85.encode(payload1 ++ Array.fill((4 - payload1.length % 4) % 4)(0.toByte))}","sizeInBytes":${payload1.length},"cardinality":1}}}
         |{"add":{"path":"$rel2","partitionValues":{},"size":${part2.length},"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"$prefix/${Z85.encodeUuid(uuid2)}","offset":${offs2.head},"sizeInBytes":${payload2.length},"cardinality":2}}}
         |""".stripMargin
    val out = fs.create(new Path(s"$root/_delta_log/${"%020d".format(0L)}.json"), true)
    out.write(log.getBytes("UTF-8")); out.close()
    val ids = DeltaInterop.read(spark, root).select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(0L, 1L, 3L, 4L, 11L, 12L, 13L),
      "inline DV drops row 2 of file1; prefixed-u DV drops rows 0 and 4 of file2")
  }

  test("foreign fixture: deletion vectors + column mapping TOGETHER (delta-rs shape)") {
    // delta-rs commonly emits BOTH features on one table: physical column
    // names in the parquet + logical names in the schemaString, and DV'd
    // adds. The reader must resolve the mapping AND apply the DV.
    val root = tmp("foreign-cm")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root, "_delta_log"))
    Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 4.0))
      .toDF("col-p1", "col-p2").coalesce(1).write.parquet(root + "/data")
    val part = new java.io.File(root + "/data").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val rel = "data/" + part.getName
    // inline DV dropping row indexes 1 and 3 (logical ids 1, 3)
    val payload = Roaring64.serialize(Array(1L, 3L))
    val padded = payload ++ Array.fill((4 - payload.length % 4) % 4)(0.toByte)
    val schemaJson =
      """{"type":"struct","fields":[
        {"name":"id","type":"long","nullable":true,"metadata":
          {"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-p1"}},
        {"name":"v","type":"double","nullable":true,"metadata":
          {"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-p2"}}
      ]}""".replaceAll("\\s+", "")
    val schemaStr = JsonMethods.compact(JsonMethods.render(JString(schemaJson)))
    val log =
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","columnMapping"],"writerFeatures":["deletionVectors","columnMapping"]}}
         |{"metaData":{"id":"t-cm-dv","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true","delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}
         |{"add":{"path":"$rel","partitionValues":{},"size":${part.length},"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":4,\\"minValues\\":{\\"col-p1\\":0},\\"maxValues\\":{\\"col-p1\\":3},\\"nullCount\\":{\\"col-p1\\":0}}","deletionVector":{"storageType":"i","pathOrInlineDv":"${Z85.encode(padded)}","sizeInBytes":${payload.length},"cardinality":2}}}
         |""".stripMargin
    val out = fs.create(new Path(s"$root/_delta_log/${"%020d".format(0L)}.json"), true)
    out.write(log.getBytes("UTF-8")); out.close()
    val back = DeltaInterop.read(spark, root)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"),
      "logical names with the DV applied")
    assert(back.as[(Long, Double)].collect().toSet == Set((0L, 1.0), (2L, 3.0)),
      "DV drops physical row indexes 1 and 3")
    // physical-name stats still prune under the mapping with a DV present
    assert(DeltaInterop.readWhere(spark, root, Some(col("id") > 100)).count() == 0)
  }

  test("updateDv: matched rows soft-delete + updated copies append in one commit") {
    val path = tmp("dvu")
    DeltaInterop.write(sample.coalesce(2), path) // files (1,2,3) and (4,5,6)
    // soft-delete id=2 first: its row must NOT resurrect as an update
    DeltaInterop.deleteDv(spark, path, col("id") === 2)
    val dataBefore = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val r = DeltaInterop.updateDv(spark, path, col("v") < 35.0,
      Map("v" -> (col("v") + lit(1000.0))))
    assert(r.rewrittenFiles == 1, "only the (1,2,3) file overlaps v<35")
    // old parquet kept; ONE new file appended with the updated copies
    val dataAfter = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataBefore.subsetOf(dataAfter), "updateDv must not delete parquet")
    val got = DeltaInterop.read(spark, path).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got == Map(1L -> 1010.0, 3L -> 1030.0, 4L -> 40.0,
      5L -> 50.0, 6L -> 60.0), s"got $got")
    // version 1 (deleteDv) still shows the pre-update values minus id=2
    val v1 = DeltaInterop.read(spark, path, versionAsOf = Some(1L))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(v1 == Map(1L -> 10.0, 3L -> 30.0, 4L -> 40.0, 5L -> 50.0, 6L -> 60.0))
  }

  test("DV read plan: pushed filters reach the scan, deleted side broadcasts") {
    val path = tmp("dvplan")
    DeltaInterop.write(Seq.tabulate(1000)(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      path)
    DeltaInterop.deleteDv(spark, path, col("id") % 7 === 0)
    val df = DeltaInterop.readWhere(spark, path, Some(col("id") < 500))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), LessThan(id,500)]") ||
      plan.contains("PushedFilters: [*IsNotNull(id), *LessThan(id,500)]"),
      s"predicate must reach the parquet scan despite the DV anti-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the deleted (file,row) side must broadcast:\n$plan")
    assert(df.count() == 500 - (500 + 6) / 7)
  }
}
