package graft.sinks

import graft.SparkTestBase
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Delta reader features (PROTOCOL.md table features): the Z85 codec is
  * pinned against the ZeroMQ reference vector, the deletion-vector frame
  * (version byte, BE size, CRC-32) refuses corruption loudly, the
  * portable RoaringBitmapArray round-trips across the 2^32 boundary, and
  * column-mapped (name/id) + deletion-vectored foreign tables import
  * value-correct — while checkpoints over reader-feature tables and
  * unknown features keep refusing. */
class DeltaReaderFeaturesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("Z85: ZeroMQ reference vector and uuid round trip") {
    // the spec's test case: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeltaReaderFeatures.z85Encode(bytes) == "HelloWorld")
    assert(DeltaReaderFeatures.z85Decode("HelloWorld", 8).toSeq == bytes.toSeq)
    // unpadded length round-trips through the declared true size
    val odd = Array[Byte](1, 2, 3, 4, 5)
    assert(DeltaReaderFeatures.z85Decode(
      DeltaReaderFeatures.z85Encode(odd), 5).toSeq == odd.toSeq)
    intercept[IllegalArgumentException] {
      DeltaReaderFeatures.z85Decode("~~~~~", 4) // '~' not in the alphabet
    }
  }

  test("RoaringBitmapArray: portable round trip across the 2^32 boundary") {
    val positions = Seq(0L, 7L, 63L, 100000L, (1L << 32) + 5L, (3L << 32))
    val bm = DeltaReaderFeatures.parseBitmap(
      DeltaReaderFeatures.serializeBitmap(positions))
    positions.foreach(p => assert(bm.contains(p), s"position $p"))
    Seq(1L, 99999L, (1L << 32) + 4L, (2L << 32)).foreach(p =>
      assert(!bm.contains(p), s"position $p must be absent"))
    assert(bm.cardinality == positions.size)
    intercept[IllegalArgumentException] {
      DeltaReaderFeatures.parseBitmap(Array[Byte](1, 2, 3, 4, 0, 0, 0, 0))
    }
  }

  test("deletion-vector sidecar: frame verified, corruption refuses") {
    val dir = Files.createTempDirectory("graft_dv_frame").toString
    val (_, metas) = DeltaReaderFeatures.writeDvFile(dir,
      Seq(Seq(1L, 3L), Seq(0L, 2L, 4L)))
    assert(metas.size == 2 && metas(0)._2 != metas(1)._2,
      "two entries at distinct offsets in one sidecar")
    val node = mapper.readTree(
      s"""{"storageType":"u","pathOrInlineDv":"${metas(1)._1}",
          "offset":${metas(1)._2},"sizeInBytes":${metas(1)._3},
          "cardinality":${metas(1)._4}}""")
    val d = DeltaReaderFeatures.parseDescriptor(node, dir)
    val bm = d.load()
    assert(bm.contains(0L) && !bm.contains(1L) && bm.contains(4L))
    // flip one data byte -> CRC refusal
    val binPath = Paths.get(d.binPath)
    val bytes = Files.readAllBytes(binPath)
    bytes(metas(1)._2 + 4 + 2) = (bytes(metas(1)._2 + 4 + 2) ^ 0x1).toByte
    Files.write(binPath, bytes)
    val e = intercept[IllegalArgumentException](d.load())
    assert(e.getMessage.contains("CRC-32"))
    // declared size mismatch refuses before any parse
    val d2 = d.copy(sizeInBytes = d.sizeInBytes + 1)
    assert(intercept[IllegalArgumentException](d2.load())
      .getMessage.contains("sizeInBytes"))
  }

  test("descriptor: cardinality mismatch and unknown storage refuse") {
    val (inline, size, _) = DeltaReaderFeatures.inlineDv(Seq(5L, 6L))
    val wrongCard = mapper.readTree(
      s"""{"storageType":"i","pathOrInlineDv":"$inline",
          "sizeInBytes":$size,"cardinality":99}""")
    assert(intercept[IllegalArgumentException](
      DeltaReaderFeatures.parseDescriptor(wrongCard, "/tmp").load())
      .getMessage.contains("cardinality"))
    val badStorage = mapper.readTree(
      """{"storageType":"x","pathOrInlineDv":"a","sizeInBytes":1,"cardinality":0}""")
    intercept[IllegalArgumentException](
      DeltaReaderFeatures.parseDescriptor(badStorage, "/tmp"))
  }

  // ------------------------------------------------------ foreign tables

  /** Write `rows` as ONE parquet file (row order preserved) named `name`
    * under `dest`, returning nothing — fixture files for hand-written
    * logs. */
  private def writeFile(dest: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory("dlrf").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dest, name).getParent)
    Files.move(part, Paths.get(dest, name))
  }

  private def writeLog(dest: String, lines: Seq[String], version: Long = 0L): Unit = {
    val logDir = Paths.get(dest, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  test("deletion vectors: sidecar + inline DVs filter row indexes; update replays") {
    val dest = Files.createTempDirectory("graft_dv_tbl").toString
    val a = (0L until 10L).map(k => (k, s"a$k"))
    val b = (10L until 16L).map(k => (k, s"b$k"))
    writeFile(dest, "fa.parquet", a.toDF("k", "v").coalesce(1))
    writeFile(dest, "fb.parquet", b.toDF("k", "v").coalesce(1))
    // sidecar DV for fa (row indexes 1,3,5), inline for fb (row index 0)
    val (_, Seq((podA, offA, szA, cardA))) =
      DeltaReaderFeatures.writeDvFile(dest, Seq(Seq(1L, 3L, 5L)))
    val (podB, szB, cardB) = DeltaReaderFeatures.inlineDv(Seq(0L))
    val schemaJson = new StructType().add("k", LongType, nullable = false)
      .add("v", StringType).json.replace("\"", "\\\"")
    writeLog(dest, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":10}",""" +
        s""""deletionVector":{"storageType":"u","pathOrInlineDv":"$podA",""" +
        s""""offset":$offA,"sizeInBytes":$szA,"cardinality":$cardA}}}""",
      s"""{"add":{"path":"fb.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":6}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$podB",""" +
        s""""sizeInBytes":$szB,"cardinality":$cardB}}}"""))
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.fileDvs.size == 2)
    assert(snap.numRecords == 16 - 3 - 1,
      "snapshot numRecords is the logical (DV-masked) count")
    val got = DeltaInterchange.importDelta(spark, dest)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 2L, 4L, 6L, 7L, 8L, 9L, 11L, 12L, 13L, 14L, 15L))

    // a later commit GROWS fa's DV (re-add, same path, new descriptor) —
    // the latest add wins; and removing fb drops its DV with it
    val (_, Seq((podA2, offA2, szA2, cardA2))) =
      DeltaReaderFeatures.writeDvFile(dest, Seq(Seq(1L, 3L, 5L, 7L, 9L)))
    writeLog(dest, Seq(
      s"""{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":10}",""" +
        s""""deletionVector":{"storageType":"u","pathOrInlineDv":"$podA2",""" +
        s""""offset":$offA2,"sizeInBytes":$szA2,"cardinality":$cardA2}}}""",
      """{"remove":{"path":"fb.parquet","deletionTimestamp":0,"dataChange":true}}"""),
      version = 1L)
    val got2 = DeltaInterchange.importDelta(spark, dest)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got2 == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("two files with DIFFERENT inline DVs mask independently (cache keys by content)") {
    // regression: the executor bitmap cache once keyed inline descriptors by
    // (binPath, offset), which are ""/0 for EVERY storageType "i" entry —
    // the first file's bitmap masked every other file's rows
    val dest = Files.createTempDirectory("graft_dv_inline2").toString
    val a = (0L until 5L).map(k => (k, s"a$k"))
    val b = (10L until 15L).map(k => (k, s"b$k"))
    writeFile(dest, "fa.parquet", a.toDF("k", "v").coalesce(1))
    writeFile(dest, "fb.parquet", b.toDF("k", "v").coalesce(1))
    val (podA, szA, cardA) = DeltaReaderFeatures.inlineDv(Seq(0L)) // drops k=0
    val (podB, szB, cardB) = DeltaReaderFeatures.inlineDv(Seq(4L)) // drops k=14
    val schemaJson = new StructType().add("k", LongType, nullable = false)
      .add("v", StringType).json.replace("\"", "\\\"")
    writeLog(dest, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t2","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":5}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$podA",""" +
        s""""sizeInBytes":$szA,"cardinality":$cardA}}}""",
      s"""{"add":{"path":"fb.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":5}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$podB",""" +
        s""""sizeInBytes":$szB,"cardinality":$cardB}}}"""))
    val got = DeltaInterchange.importDelta(spark, dest)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L),
      s"fa loses row 0, fb loses row 4 (k=14) — got $got")
  }

  test("column mapping (name mode): nested physical names surface logically") {
    val dest = Files.createTempDirectory("graft_cm_name").toString
    // physical layout: col-p1 (long), col-p2 struct<col-p3 string, col-p4 long>
    val phys = new StructType()
      .add("col-p1", LongType, nullable = false)
      .add("col-p2", new StructType()
        .add("col-p3", StringType).add("col-p4", LongType))
    val rows = Seq[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row("x", 10L)),
      org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row("y", 20L)))
    writeFile(dest, "f0.parquet",
      spark.createDataFrame(rows.asJava, phys).coalesce(1))
    def fm(id: Int, phys: String) =
      s"""{\\"delta.columnMapping.id\\":$id,""" +
        s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[""" +
        s"""{\\"name\\":\\"k\\",\\"type\\":\\"long\\",\\"nullable\\":false,\\"metadata\\":${fm(1, "col-p1")}},""" +
        s"""{\\"name\\":\\"nest\\",\\"type\\":{\\"type\\":\\"struct\\",\\"fields\\":[""" +
        s"""{\\"name\\":\\"s\\",\\"type\\":\\"string\\",\\"nullable\\":true,\\"metadata\\":${fm(3, "col-p3")}},""" +
        s"""{\\"name\\":\\"n\\",\\"type\\":\\"long\\",\\"nullable\\":true,\\"metadata\\":${fm(4, "col-p4")}}]},""" +
        s"""\\"nullable\\":true,\\"metadata\\":${fm(2, "col-p2")}}]}"""
    writeLog(dest, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"4"},"createdTime":0}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2}"}}"""))
    val df = DeltaInterchange.importDelta(spark, dest).orderBy("k")
    assert(df.schema.fieldNames.toSeq == Seq("k", "nest"))
    assert(df.schema("nest").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("s", "n"),
      "nested logical names surface through the positional cast")
    val got = df.collect().map(r =>
      (r.getLong(0), r.getStruct(1).getString(0), r.getStruct(1).getLong(1))).toSeq
    assert(got == Seq((1L, "x", 10L), (2L, "y", 20L)))
  }

  test("column mapping (id mode): parquet field ids resolve, names may lie") {
    val dest = Files.createTempDirectory("graft_cm_id").toString
    // the parquet file's own names DIFFER from the physical names in the
    // logical schema's metadata — only the field ids agree, which is the
    // id mode resolution rule
    val writeSchema = new StructType()
      .add("whatever-a", LongType, nullable = false, new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build())
      .add("whatever-b", StringType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build())
    val rows = Seq[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row(7L, "seven"), org.apache.spark.sql.Row(8L, "eight"))
    writeFile(dest, "f0.parquet",
      spark.createDataFrame(rows.asJava, writeSchema).coalesce(1))
    def fm(id: Int, phys: String) =
      s"""{\\"delta.columnMapping.id\\":$id,""" +
        s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[""" +
        s"""{\\"name\\":\\"k\\",\\"type\\":\\"long\\",\\"nullable\\":false,\\"metadata\\":${fm(1, "col-x")}},""" +
        s"""{\\"name\\":\\"v\\",\\"type\\":\\"string\\",\\"nullable\\":true,\\"metadata\\":${fm(2, "col-y")}}]}"""
    writeLog(dest, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2}"}}"""))
    val got = DeltaInterchange.importDelta(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((7L, "seven"), (8L, "eight")))
  }

  test("refusals: unknown feature, mapped+partitioned, checkpoint, missing physicalName") {
    // unknown reader feature
    val d1 = Files.createTempDirectory("graft_rf_unk").toString
    writeLog(d1, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["typeWidening-preview"]}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
        """"partitionColumns":[],"configuration":{},"createdTime":0}}"""))
    assert(intercept[IllegalArgumentException](DeltaInterchange.readLog(spark, d1))
      .getMessage.contains("typeWidening-preview"))

    // column-mapped partitioned tables refuse (physical-name partitionValues)
    val d2 = Files.createTempDirectory("graft_rf_mp").toString
    def fm(id: Int, phys: String) =
      s"""{\\"delta.columnMapping.id\\":$id,""" +
        s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}"""
    writeLog(d2, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"{\\"type\\":\\"struct\\",\\"fields\\":[""" +
        s"""{\\"name\\":\\"k\\",\\"type\\":\\"long\\",\\"nullable\\":false,\\"metadata\\":${fm(1, "col-a")}}]}",""" +
        s""""partitionColumns":["k"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}"""))
    assert(intercept[IllegalArgumentException](
      DeltaInterchange.importDelta(spark, d2))
      .getMessage.contains("PARTITIONED"))

    // checkpointing a DV table refuses (the classic row schema would drop
    // the descriptor and resurrect masked rows)
    val d3 = Files.createTempDirectory("graft_rf_ck").toString
    val (pod, sz, card) = DeltaReaderFeatures.inlineDv(Seq(0L))
    writeFile(d3, "f0.parquet", Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    writeLog(d3, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"]}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}",""" +
        """"partitionColumns":[],"configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$pod",""" +
        s""""sizeInBytes":$sz,"cardinality":$card}}}"""))
    assert(intercept[IllegalArgumentException](
      DeltaInterchange.checkpoint(spark, d3))
      .getMessage.toLowerCase.contains("checkpoint"))

    // a column-mapped schema missing physicalName metadata is corrupt
    val d4 = Files.createTempDirectory("graft_rf_nopn").toString
    writeLog(d4, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}}]}",""" +
        """"partitionColumns":[],""" +
        """"configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":0}"}}"""))
    writeFile(d4, "f0.parquet",
      spark.range(0).selectExpr("id as `col-a`").coalesce(1))
    assert(intercept[IllegalArgumentException](
      DeltaInterchange.importDelta(spark, d4))
      .getMessage.contains("physicalName"))

    // change-feed reads refuse column-mapped tables (cdc files store
    // PHYSICAL names; logical-name resolution would feed silent nulls)
    assert(intercept[IllegalArgumentException](
      DeltaInterchange.readChangeFeed(spark, d4, 0L, 0L))
      .getMessage.contains("COLUMN-MAPPED"))
  }

  test("deletion vectors compose with Hive-layout partition projection") {
    val dest = Files.createTempDirectory("graft_dv_part").toString
    writeFile(dest, "lang=en/f0.parquet",
      (0L until 5L).map(k => (k, s"e$k")).toDF("k", "v").coalesce(1))
    writeFile(dest, "lang=de/f0.parquet",
      (5L until 8L).map(k => (k, s"d$k")).toDF("k", "v").coalesce(1))
    val (pod, sz, card) = DeltaReaderFeatures.inlineDv(Seq(1L, 2L))
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    writeLog(dest, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":["lang"],""" +
        s""""configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"lang=en/f0.parquet","partitionValues":{"lang":"en"},""" +
        s""""size":1,"modificationTime":0,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":5}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$pod",""" +
        s""""sizeInBytes":$sz,"cardinality":$card}}}""",
      s"""{"add":{"path":"lang=de/f0.parquet","partitionValues":{"lang":"de"},""" +
        s""""size":1,"modificationTime":0,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":3}"}}"""))
    val got = DeltaInterchange.importDelta(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((0L, "en"), (3L, "en"), (4L, "en"),
      (5L, "de"), (6L, "de"), (7L, "de")),
      "DV masks row indexes 1,2 of the en file; de reads whole")
  }
}
