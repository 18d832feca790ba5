package graft.sinks

import graft.SparkTestBase
import graft.core._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg v2 interchange: metadata JSON + Avro manifests are pinned
  * against the public Table Spec (field-ids, manifest_file/manifest_entry
  * shapes, name mapping), the round trip is data-identical, the mirror
  * writes one snapshot per lakehouse commit with O(changed manifests)
  * rewrites, and every unsupported-feature path fails loudly. */
class IcebergInterchangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def newTable(): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_ib_src").toString)
    t.create(schema, buckets = 2)
    t
  }

  private def metadata(dest: String): com.fasterxml.jackson.databind.JsonNode = {
    val hint = new String(Files.readAllBytes(
      Paths.get(dest, "metadata", "version-hint.text")), UTF_8).trim
    mapper.readTree(Files.readAllBytes(
      Paths.get(dest, "metadata", s"v$hint.metadata.json")))
  }

  private def readAvroFile(p: java.nio.file.Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](p.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  test("round trip: export -> import is data-identical") {
    val t = newTable()
    t.merge((0L until 100L).toDF("k").select($"k", concat(lit("v"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    t.merge((50L until 120L).toDF("k").select($"k", concat(lit("w"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.numRecords == 120L)
    assert(snap.schema == schema.struct)
  }

  test("metadata is spec-shaped: v2, field-ids, name mapping, empty spec") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    val root = metadata(dest)
    assert(root.get("format-version").asInt() == 2)
    val sch = root.get("schemas").get(0)
    assert(sch.get("type").asText() == "struct")
    val ids = sch.get("fields").elements().asScala.map(_.get("id").asInt()).toSeq
    assert(ids == Seq(1, 2), "top-level field ids are assigned 1..n in order")
    assert(sch.get("fields").get(0).get("required").asBoolean(),
      "non-nullable PK maps to required=true")
    assert(sch.get("fields").get(0).get("type").asText() == "long")
    val nm = mapper.readTree(
      root.get("properties").get("schema.name-mapping.default").asText())
    assert(nm.get(0).get("names").get(0).asText() == "k" &&
      nm.get(0).get("field-id").asInt() == 1,
      "name mapping resolves the id-less parquet files")
    assert(root.get("partition-specs").get(0).get("fields").size() == 0)
    val sn = root.get("snapshots").get(0)
    assert(sn.get("summary").get("operation").asText() == "append")
    assert(root.get("current-snapshot-id").asLong() == sn.get("snapshot-id").asLong())
    assert(root.get("refs").get("main").get("snapshot-id").asLong() ==
      sn.get("snapshot-id").asLong())
  }

  test("manifest list and manifest are spec-shaped avro (field-ids, counts)") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    val root = metadata(dest)
    val listPath = Paths.get(root.get("snapshots").get(0).get("manifest-list").asText())
    val list = readAvroFile(listPath)
    assert(list.nonEmpty)
    val mf = list.head
    // spec field-ids ride in the avro schema so id-based readers resolve
    assert(mf.getSchema.getField("manifest_path")
      .getObjectProp("field-id").asInstanceOf[Number].intValue() == 500)
    assert(mf.getSchema.getField("content")
      .getObjectProp("field-id").asInstanceOf[Number].intValue() == 517)
    assert(mf.get("content").asInstanceOf[Int] == 0)
    assert(mf.get("partition_spec_id").asInstanceOf[Int] == 0)
    val entries = readAvroFile(Paths.get(mf.get("manifest_path").toString))
    assert(entries.nonEmpty)
    val totalRows = entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum
    assert(totalRows == 3L)
    assert(mf.get("added_rows_count").asInstanceOf[Long] == 3L)
    assert(entries.forall(_.get("status").asInstanceOf[Int] == 1), "export entries are ADDED")
    val df = entries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(df.get("file_format").toString == "PARQUET")
    assert(df.get("content").asInstanceOf[Int] == 0)
    assert(Files.exists(Paths.get(df.get("file_path").toString)),
      "file_path points at a real copied parquet")
    // column bounds: spec single-value serialization keyed by field id —
    // the long PK's min across all files is 1L, little-endian 8 bytes
    val allLows = entries.flatMap { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      Option(d.get("lower_bounds")).toSeq.flatMap(
        _.asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[GenericRecord]))
    }
    assert(allLows.nonEmpty, "data entries carry lower_bounds from the zone maps")
    val kLows = allLows.filter(_.get("key").asInstanceOf[Number].intValue() == 1)
      .map { kv =>
        val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
        buf.order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      }
    assert(kLows.min == 1L, "min(k) serializes as little-endian long")

    // manifest avro metadata carries the iceberg schema + spec info
    val r = new DataFileReader[GenericRecord](
      Paths.get(mf.get("manifest_path").toString).toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      assert(new String(r.getMeta("format-version"), UTF_8) == "2")
      assert(new String(r.getMeta("content"), UTF_8) == "data")
      assert(mapper.readTree(r.getMeta("schema")).get("type").asText() == "struct")
    } finally r.close()
  }

  test("list columns export with element ids and import back as arrays") {
    val emb = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("e", ArrayType(DoubleType, containsNull = false)))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_ib_src").toString)
    t.create(emb, buckets = 2)
    t.merge(Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("k", "e"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    val sch = metadata(dest).get("schemas").get(0)
    val listType = sch.get("fields").get(1).get("type")
    assert(listType.get("type").asText() == "list")
    assert(listType.get("element").asText() == "double")
    assert(listType.get("element-id").asInt() == 3, "element id follows top-level ids")
    assert(metadata(dest).get("last-column-id").asInt() == 3)
    val back = IcebergInterchange.importIceberg(spark, dest)
    // element nullability round-trips whatever the lakehouse meta recorded
    assert(back.schema("e").dataType == t.read().schema("e").dataType)
    assert(back.orderBy("k").collect().map(_.getSeq[Double](1)).toSeq ==
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("export refuses MOR delete files and unsupported column types") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    t.deleteWhere(Seq(1L).toDF("k"))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    val e = intercept[IllegalArgumentException] {
      IcebergInterchange.export(spark, t, dest)
    }
    assert(e.getMessage.contains("compact"))

    val bad = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("m", MapType(StringType, StringType)))),
      primaryKeys = Seq("k"))
    val t2 = new LakehouseTable(spark, Files.createTempDirectory("graft_ib_src").toString)
    t2.create(bad, buckets = 2)
    val e2 = intercept[IllegalArgumentException] {
      IcebergInterchange.export(spark, t2, Files.createTempDirectory("x").toString)
    }
    assert(e2.getMessage.contains("no Iceberg interchange"))
  }

  test("import refuses format-versions past 3 (v1 and v3-DV read)") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    val hint = Paths.get(dest, "metadata", "version-hint.text")
    val mPath = Paths.get(dest, "metadata",
      s"v${new String(Files.readAllBytes(hint), UTF_8).trim}.metadata.json")
    val root = mapper.readTree(Files.readAllBytes(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("format-version", 4)
    Files.write(mPath, mapper.writeValueAsBytes(root))
    val e = intercept[IllegalArgumentException] {
      IcebergInterchange.readTable(dest)
    }
    assert(e.getMessage.contains("format-version"))
    // a v2-shaped table relabeled v3 reads (v3's DV subset is supported
    // and this table carries no other v3 feature)
    root.put("format-version", 3)
    Files.write(mPath, mapper.writeValueAsBytes(root))
    assert(IcebergInterchange.importIceberg(spark, dest).count() == 1L)
    // a v2-shaped table RELABELED v1 still reads (v2 manifest fields are
    // a superset; the v1 path only relaxes missing-field handling)
    root.put("format-version", 1)
    Files.write(mPath, mapper.writeValueAsBytes(root))
    assert(IcebergInterchange.importIceberg(spark, dest).count() == 1L)
  }

  test("mirror: one snapshot per commit, overwrite rewrites only affected manifests") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_ib_mir").toString
    t.merge((0L until 40L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    assert(IcebergInterchange.mirror(spark, t, dest) >= 1)
    val root1 = metadata(dest)
    val list1 = readAvroFile(Paths.get(root1.get("snapshots")
      .elements().asScala.toSeq.last.get("manifest-list").asText()))
      .map(_.get("manifest_path").toString).toSet

    // second commit: a pure append (merge would rewrite bucket files) —
    // prior manifests carried forward by path
    t.append((100L until 140L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    val root2 = metadata(dest)
    val snaps2 = root2.get("snapshots").elements().asScala.toSeq
    val list2 = readAvroFile(Paths.get(
      snaps2.last.get("manifest-list").asText()))
    assert(list1.subsetOf(list2.map(_.get("manifest_path").toString).toSet),
      "unaffected manifests are carried forward by reference, not rewritten")
    assert(snaps2.last.get("summary").get("operation").asText() == "append")

    // third commit: a rewriting merge (same keys) -> overwrite snapshot
    // with DELETED entries in rewritten manifests
    t.merge((0L until 40L).toDF("k").select($"k", concat(lit("c"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    assert(IcebergInterchange.mirror(spark, t, dest) == 0, "no-op mirrors write nothing")
    val root3 = metadata(dest)
    val snaps3 = root3.get("snapshots").elements().asScala.toSeq
    assert(snaps3.size == 3, "one Iceberg snapshot per lakehouse commit")
    assert(snaps3.last.get("summary").get("operation").asText() == "overwrite")
    val list3 = readAvroFile(Paths.get(snaps3.last.get("manifest-list").asText()))
    assert(list3.exists(_.get("deleted_files_count").asInstanceOf[Int] > 0),
      "the overwrite snapshot records DELETED entries")
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    assert(root3.get("properties").get(IcebergInterchange.MirrorProperty)
      .asText().toLong == t.latestVersion())
    // sequence numbers are monotone over snapshots
    val seqs = snaps3.map(_.get("sequence-number").asLong())
    assert(seqs == seqs.sorted && seqs.distinct == seqs)
  }

  test("mirror: schema evolution appends a schema; snapshots carry schema-id") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_ib_mir").toString
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    val evolved = TableSchema(
      StructType(schema.struct.fields :+ StructField("extra", LongType)),
      primaryKeys = Seq("k"))
    t.updateMeta(evolved)
    t.merge(Seq((2L, "b", 7L)).toDF("k", "v", "extra"),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    val root = metadata(dest)
    assert(root.get("schemas").size() == 2, "evolution appends, never rewrites")
    assert(root.get("current-schema-id").asInt() == 1)
    val snaps = root.get("snapshots").elements().asScala.toSeq
    assert(snaps.head.get("schema-id").asInt() == 0 &&
      snaps.last.get("schema-id").asInt() == 1)
    assert(root.get("schemas").get(1).get("fields").get(2).get("id").asInt() == 3,
      "the evolved column gets the next field id")
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v", "extra"))
    assert(back.filter($"k" === 1L).select($"extra").head().isNullAt(0),
      "old files read as null under the evolved schema")
  }

  test("mirror: MOR deletes become equality-delete manifests; sequence rule holds") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_ib_mir").toString
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)

    t.deleteWhere(Seq(5L, 6L, 7L).toDF("k"))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    val root = metadata(dest)
    val snaps = root.get("snapshots").elements().asScala.toSeq
    assert(snaps.last.get("summary").get("operation").asText() == "delete")
    val list = readAvroFile(Paths.get(snaps.last.get("manifest-list").asText()))
    val delMf = list.filter(_.get("content").asInstanceOf[Int] == 1)
    assert(delMf.size == 1, "the MOR delete file rides in a content=1 delete manifest")
    val delEntries = readAvroFile(Paths.get(delMf.head.get("manifest_path").toString))
    val delDf = delEntries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(delDf.get("content").asInstanceOf[Int] == 2, "EQUALITY_DELETES")
    assert(delDf.get("equality_ids").asInstanceOf[java.util.List[_]]
      .asScala.map(_.asInstanceOf[Number].intValue()).toSeq == Seq(1),
      "equality ids are the PK field ids")
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.count() == 27L)
    assert(back.filter($"k".isin(5L, 6L, 7L)).isEmpty,
      "the equality delete masks earlier data files")

    // re-add one deleted key: the new data file's sequence number is
    // HIGHER than the delete's, so the spec's `< S` rule keeps it live
    t.merge(Seq((5L, "z")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    val back2 = IcebergInterchange.importIceberg(spark, dest)
    assert(back2.filter($"k" === 5L).select($"v").head().getString(0) == "z",
      "a key deleted then re-written survives")
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)

    // compaction materializes the deletes: the delete manifest ages out
    t.compact()
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    val root3 = metadata(dest)
    val snaps3 = root3.get("snapshots").elements().asScala.toSeq
    val list3 = readAvroFile(Paths.get(snaps3.last.get("manifest-list").asText()))
    assert(list3.filter(_.get("content").asInstanceOf[Int] == 1)
      .forall(_.get("deleted_files_count").asInstanceOf[Int] > 0),
      "post-compaction, any listed delete manifest only records the removal")
    val back3 = IcebergInterchange.importIceberg(spark, dest)
    val want3 = t.read()
    assert(back3.exceptAll(want3).isEmpty && want3.exceptAll(back3).isEmpty)
    assert(back3.count() == 28L)
  }

  test("mirror resumes from an export (the property records progress)") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dst").toString
    IcebergInterchange.export(spark, t, dest)
    t.merge(Seq((2L, "b")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1,
      "mirror continues from the exported snapshot")
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("expireSnapshots prunes history and orphan files; live state intact") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_ib_exp").toString
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    t.append((100L until 130L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")))
    IcebergInterchange.mirror(spark, t, dest)
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("c"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    def dataFiles() = Files.list(Paths.get(dest, "data")).count()
    val before = dataFiles()

    val (snapsGone, metaGone, dataGone) = IcebergInterchange.expireSnapshots(dest, 1)
    assert(snapsGone == 2)
    assert(metaGone > 0, "expired manifest lists/manifests are deleted")
    assert(dataGone > 0, "data files only old snapshots referenced are deleted")
    assert(dataFiles() == before - dataGone)
    assert(metadata(dest).get("snapshots").size() == 1)
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)

    // the mirror keeps working on the expired table
    t.append((200L until 210L).toDF("k").select($"k", concat(lit("d"), $"k").as("v")))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    val back2 = IcebergInterchange.importIceberg(spark, dest)
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)
    assert(metadata(dest).get("snapshots").size() == 2)
  }

  test("position deletes apply by (file, row offset) under the <= sequence rule") {
    val t = newTable()
    t.merge((0L until 10L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_pos").toString
    IcebergInterchange.export(spark, t, dest)
    val snap0 = IcebergInterchange.readTable(dest)
    // all data files carry seq 1; pick one with at least two rows
    val target = snap0.dataSeqs.map(_._1).maxBy(f =>
      spark.read.schema(schema.struct).parquet(f).count())

    // which keys sit at row offsets 0 and 1 of that file
    val victims = spark.read.schema(schema.struct).parquet(target)
      .select($"k", col("_metadata.row_index").as("pos"))
      .filter($"pos".isin(0L, 1L)).collect().map(_.getLong(0)).toSet
    assert(victims.size == 2)

    // spec-shaped position-delete file (file_path, pos) + delete manifest
    // at sequence 1 — the SAME sequence as the data, which must still
    // apply (position deletes use <=, unlike equality's strict <)
    val tmp = Files.createTempDirectory("posdel").toString
    Seq((target, 0L), (target, 1L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val posPath = Paths.get(dest, "data", "posdel-0.parquet")
    Files.move(part, posPath)

    val root = metadata(dest)
    val schemaJson = mapper.writeValueAsString(root.get("schemas").get(0))
    val mPath = Paths.get(dest, "metadata", "m-posdel.avro")
    IcebergInterchange.writeManifest(mPath, schemaJson, Seq(
      IcebergInterchange.Entry(1, 2L, 1L, posPath.toString, 2L,
        Files.size(posPath), content = 1)), deletes = true)
    val oldList = Paths.get(root.get("snapshots").get(0).get("manifest-list").asText())
    val newListRows = IcebergInterchange.readAvro(oldList) :+
      IcebergInterchange.manifestListRecord(IcebergInterchange.ManifestInfo(
        mPath, Files.size(mPath), 1L, 1L, 2L,
        Seq(IcebergInterchange.Entry(1, 2L, 1L, posPath.toString, 2L,
          Files.size(posPath), content = 1)), content = 1))
    val newList = Paths.get(dest, "metadata", "snap-2.avro")
    IcebergInterchange.writeAvro(newList, IcebergInterchange.manifestFileSchema,
      Map("format-version" -> "2"), newListRows)
    val root2 = root.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root2.put("current-snapshot-id", 2L)
    val sn = root2.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .addObject()
    sn.put("snapshot-id", 2L); sn.put("sequence-number", 1L)
    sn.put("timestamp-ms", 0L); sn.put("manifest-list", newList.toString)
    sn.put("schema-id", 0)
    sn.putObject("summary").put("operation", "delete")
    IcebergInterchange.writeMetadata(dest, 2, root2)

    val snap = IcebergInterchange.readTable(dest)
    assert(snap.posDeletes.size == 1)
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.count() == 8L)
    assert(back.filter($"k".isin(victims.toSeq: _*)).isEmpty,
      "exactly the rows at the deleted offsets disappear")
  }

  test("readAppendsBetween tails appended snapshots; overwrites refuse") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_ib_inc").toString
    t.append((0L until 10L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")))
    IcebergInterchange.mirror(spark, t, dest)
    val s1 = IcebergInterchange.readTable(dest).snapshotId
    t.append((10L until 25L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")))
    t.append((25L until 30L).toDF("k").select($"k", concat(lit("c"), $"k").as("v")))
    IcebergInterchange.mirror(spark, t, dest)
    val s3 = IcebergInterchange.readTable(dest).snapshotId

    val inc = IcebergInterchange.readAppendsBetween(spark, dest, s1, s3)
    assert(inc.count() == 20L, "exactly the two appended snapshots' rows")
    assert(inc.agg(min($"k")).head().getLong(0) == 10L)
    val all = IcebergInterchange.readAppendsBetween(spark, dest, -1L, s3)
    assert(all.count() == 30L, "from -1 reads from the beginning")

    // a rewriting merge creates an overwrite snapshot: incremental
    // consumers must refuse it, not double-count rewritten history
    t.merge((0L until 10L).toDF("k").select($"k", concat(lit("z"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    val s4 = IcebergInterchange.readTable(dest).snapshotId
    val e = intercept[IllegalArgumentException] {
      IcebergInterchange.readAppendsBetween(spark, dest, s3, s4).count()
    }
    assert(e.getMessage.contains("not an append"))
  }

  test("null sequence_number: ADDED entries inherit the list's; others refuse") {
    val t = newTable()
    t.merge((0L until 10L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_inh").toString
    IcebergInterchange.export(spark, t, dest)
    val root = metadata(dest)
    val listRows = IcebergInterchange.readAvro(Paths.get(
      root.get("snapshots").get(0).get("manifest-list").asText()))
    // real Iceberg writers emit null sequence numbers on entries added by
    // the manifest's own snapshot — rewrite ours to that shape
    def rewrite(mutate: GenericRecord => Unit): Unit =
      listRows.foreach { mf =>
        val mp = Paths.get(mf.get("manifest_path").toString)
        val rows = IcebergInterchange.readAvro(mp)
        rows.foreach(mutate)
        IcebergInterchange.writeAvro(mp, IcebergInterchange.manifestEntrySchema,
          Map("format-version" -> "2"), rows)
      }
    rewrite { r =>
      r.put("sequence_number", null); r.put("file_sequence_number", null)
    }
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.dataSeqs.nonEmpty && snap.dataSeqs.forall(_._2 == 1L),
      "inherited from the manifest list's sequence_number, not defaulted to 0")
    assert(IcebergInterchange.importIceberg(spark, dest).count() == 10L)
    // EXISTING entries have nothing to inherit from: refuse loudly
    rewrite(_.put("status", 0))
    val e = intercept[IllegalArgumentException](IcebergInterchange.readTable(dest))
    assert(e.getMessage.contains("non-ADDED"))
  }

  test("equality ids resolve via the schema's actual field ids, not position") {
    val t = newTable()
    t.merge((0L until 10L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_ids").toString
    IcebergInterchange.export(spark, t, dest)
    // a real table whose columns were reordered keeps original ids:
    // rewrite the schema to k -> id 2, v -> id 1
    val root = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val fs = root.get("schemas").get(0).get("fields")
    fs.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 2)
    fs.get(1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 1)
    // equality delete on k (= field id 2 under the rewritten schema)
    val tmp = Files.createTempDirectory("eqdel").toString
    Seq(3L, 4L).toDF("k").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val delPath = Paths.get(dest, "data", "eqdel-0.parquet")
    Files.move(part, delPath)
    val schemaJson = mapper.writeValueAsString(root.get("schemas").get(0))
    val mPath = Paths.get(dest, "metadata", "m-eqdel.avro")
    val delEntry = IcebergInterchange.Entry(1, 2L, 2L, delPath.toString, 2L,
      Files.size(delPath), content = 2, equalityIds = Seq(2))
    IcebergInterchange.writeManifest(mPath, schemaJson, Seq(delEntry), deletes = true)
    val oldList = Paths.get(root.get("snapshots").get(0).get("manifest-list").asText())
    val newList = Paths.get(dest, "metadata", "snap-2.avro")
    IcebergInterchange.writeAvro(newList, IcebergInterchange.manifestFileSchema,
      Map("format-version" -> "2"),
      IcebergInterchange.readAvro(oldList) :+
        IcebergInterchange.manifestListRecord(IcebergInterchange.ManifestInfo(
          mPath, Files.size(mPath), 2L, 2L, 2L, Seq(delEntry), content = 1)))
    root.put("current-snapshot-id", 2L)
    val sn = root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .addObject()
    sn.put("snapshot-id", 2L); sn.put("sequence-number", 2L)
    sn.put("timestamp-ms", 0L); sn.put("manifest-list", newList.toString)
    sn.put("schema-id", 0)
    sn.putObject("summary").put("operation", "delete")
    IcebergInterchange.writeMetadata(dest, 2, root)

    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.count() == 8L)
    assert(back.filter($"k".isin(3L, 4L)).isEmpty,
      "id 2 keys on column k — positional resolution would have keyed on v")
    // an id absent from the schema refuses instead of guessing
    val root3 = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val fs3 = root3.get("schemas").get(0).get("fields")
    fs3.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 7)
    IcebergInterchange.writeMetadata(dest, 3, root3)
    val e = intercept[IllegalArgumentException](
      IcebergInterchange.importIceberg(spark, dest))
    assert(e.getMessage.contains("equality id 2"))
  }

  test("foreign rename guard: a renamed column refuses instead of reading nulls") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_ren").toString
    IcebergInterchange.export(spark, t, dest)
    // a real Iceberg writer would rename v -> val keeping field id 2; our
    // name-based reader would silently null the column out
    val root = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("name", "val")
    IcebergInterchange.writeMetadata(dest, 2, root)
    val e = intercept[IllegalArgumentException](
      IcebergInterchange.importIceberg(spark, dest))
    assert(e.getMessage.contains("renamed"))
    // added columns (schema has more than old files) still read fine
    val root3 = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val fs = root3.get("schemas").get(0).get("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    fs.get(1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("name", "v")
    val extra = fs.addObject()
    extra.put("id", 3); extra.put("name", "later"); extra.put("required", false)
    extra.put("type", "long")
    IcebergInterchange.writeMetadata(dest, 3, root3)
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v", "later"))
    assert(back.select($"later").head().isNullAt(0))
  }

  test("MID-HISTORY rename: id-less files refuse regardless of probe order; field-id files read correctly") {
    // The table's live files SPAN a rename: one file written before
    // (stores `v`), one after (stores `val`). A single-file footer probe
    // passes whenever the sampled file postdates the rename — and the
    // stale file then silently reads NULLs for the renamed column. The
    // per-file alignment must refuse the id-less shape no matter which
    // file sorts first, and read the id-stamped shape CORRECTLY by field
    // id like a real Iceberg reader.
    def rewriteParquet(path: java.nio.file.Path, names: Seq[String],
        ids: Option[Seq[Long]]): Unit = {
      val df = spark.read.parquet(path.toString).toDF(names: _*)
      val schema2 = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
        ids match {
          case Some(idSeq) => f.copy(metadata = new MetadataBuilder()
            .putLong("parquet.field.id", idSeq(i)).build())
          case None => f
        }
      })
      val stamped = spark.createDataFrame(df.collectAsList(), schema2)
      val tmp = Files.createTempDirectory("graft_ib_rw")
      stamped.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val t = newTable()
    // two pks landing in different buckets -> two data files
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_midren").toString
    IcebergInterchange.export(spark, t, dest)
    val dataFiles = Files.list(Paths.get(dest, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
    assert(dataFiles.size == 2, s"need two files, got $dataFiles")
    // the metadata renames v -> val, field id 2 unchanged
    val root = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("name", "val")
    IcebergInterchange.writeMetadata(dest, 2, root)
    // id-less: the MIN-path file carries the POST-rename shape — the shape
    // a one-file probe would sample and wave through
    rewriteParquet(dataFiles.head, Seq("k", "val"), ids = None)
    val e = intercept[IllegalArgumentException](
      IcebergInterchange.importIceberg(spark, dest))
    assert(e.getMessage.contains("renamed"), e.getMessage)
    // field ids on BOTH shapes: the pre-rename file resolves val <- v by
    // id 2; the post-rename file reads val directly; nothing nulls out
    rewriteParquet(dataFiles.head, Seq("k", "val"), ids = Some(Seq(1L, 2L)))
    rewriteParquet(dataFiles.last, Seq("k", "v"), ids = Some(Seq(1L, 2L)))
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.columns.toSeq == Seq("k", "val"))
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("mirror: appending a column after an array keeps nested ids stable") {
    val aSchema = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("tags", ArrayType(LongType)))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_ib_nest").toString)
    t.create(aSchema, buckets = 2)
    t.merge(Seq((1L, Seq(1L, 2L))).toDF("k", "tags"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_nestd").toString
    IcebergInterchange.mirror(spark, t, dest)
    val evolved = TableSchema(
      StructType(aSchema.struct.fields :+ StructField("extra", LongType)),
      primaryKeys = Seq("k"))
    t.updateMeta(evolved)
    t.merge(Seq((2L, Seq(3L), 7L)).toDF("k", "tags", "extra"),
      spark.range(0).select($"id".as("k")))
    IcebergInterchange.mirror(spark, t, dest)
    val root = metadata(dest)
    val s0 = root.get("schemas").get(0).get("fields")
    val s1 = root.get("schemas").get(1).get("fields")
    val el0 = s0.get(1).get("type").get("element-id").asInt()
    val el1 = s1.get(1).get("type").get("element-id").asInt()
    assert(el0 == el1,
      "the list element keeps its field id across append-only evolution " +
        "(a fresh positional allocation would have shifted it)")
    assert(s1.get(2).get("id").asInt() > el0,
      "the appended column allocates a fresh id after last-column-id")
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("identity-partitioned round trip: column-less files, metadata projection") {
    val df = spark.range(100).select(
      $"id".as("k"),
      concat(lit("v"), $"id").as("v"),
      when($"id" % 3 === 0, "en").when($"id" % 3 === 1, "de")
        .otherwise("fr").as("lang"),
      ($"id" % 4).as("bucket_no"))
    val dest = Files.createTempDirectory("graft_ib_part").toString
    IcebergInterchange.exportPartitioned(spark, df, dest, Seq("lang", "bucket_no"))

    // the data files must NOT store the partition columns (Column
    // Projection restores them) — the storage-level contract
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.partitionCols == Seq("lang" -> "lang", "bucket_no" -> "bucket_no"))
    assert(snap.files.nonEmpty)
    val raw = spark.read.parquet(snap.files.head)
    assert(!raw.columns.contains("lang") && !raw.columns.contains("bucket_no"))
    // every (lang, bucket) combination is its own file group
    assert(snap.filePartitions.values.map(m => (m("lang"), m("bucket_no"))).toSet.size == 12)

    // metadata is spec-shaped: identity transform, partition field-ids 1000+
    val root = metadata(dest)
    val spec = root.get("partition-specs").get(0)
    assert(spec.get("fields").get(0).get("transform").asText() == "identity")
    assert(spec.get("fields").get(0).get("field-id").asInt() == 1000)
    assert(spec.get("fields").get(1).get("field-id").asInt() == 1001)
    assert(root.get("last-partition-id").asInt() == 1001)

    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v", "lang", "bucket_no"),
      "projected columns come back in schema order")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "round trip is value-identical including the projected partition columns")
  }

  test("null partition values survive the round trip") {
    val df = spark.range(20).select(
      $"id".as("k"),
      when($"id" % 2 === 0, concat(lit("g"), $"id" % 3)).otherwise(lit(null))
        .cast("string").as("grp"))
    val dest = Files.createTempDirectory("graft_ib_pnull").toString
    IcebergInterchange.exportPartitioned(spark, df, dest, Seq("grp"))
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.filter($"grp".isNull).count() == 10L)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("multi-byte UTF-8 partition values survive the Hive-path round trip") {
    // whatever escaping the writer applies (raw UTF-8 dir names or %XX
    // per BYTE), the unescape must reassemble whole UTF-8 sequences — a
    // per-escape char decode would mojibake the manifest partition struct
    val df = spark.range(12).select(
      $"id".as("k"),
      when($"id" % 3 === 0, "日本語").when($"id" % 3 === 1, "café")
        .otherwise("plain").as("lang"))
    val dest = Files.createTempDirectory("graft_ib_utf8").toString
    IcebergInterchange.exportPartitioned(spark, df, dest, Seq("lang"))
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.filePartitions.values.map(_("lang")).toSet ==
      Set[Any]("日本語", "café", "plain"))
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("non-identity transforms import without projection; unknown ones refuse") {
    // bucket[16] on k: the data files store k itself (the spec requires
    // source columns for derived partition fields), so the import needs no
    // Column Projection — the derived tuple is pruning metadata only
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_ptr").toString
    IcebergInterchange.export(spark, t, dest)
    val root = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val spec = root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("partition-specs")
      .get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val f = spec.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("fields").addObject()
    f.put("name", "k_bucket"); f.put("transform", "bucket[16]")
    f.put("source-id", 1); f.put("field-id", 1000)
    IcebergInterchange.writeMetadata(dest, 2, root)
    val back = IcebergInterchange.importIceberg(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "b")),
      "bucket-partitioned import reads the source column from the files")
    // an unknown derivation could mean unreadable files: refuse
    f.put("transform", "zorder[2]")
    IcebergInterchange.writeMetadata(dest, 3, root)
    val e = intercept[IllegalArgumentException](IcebergInterchange.readTable(dest))
    assert(e.getMessage.contains("zorder[2]"))
  }

  test("empty table mirrors to a snapshot-less metadata; import is empty") {
    val t = newTable() // create() only: version 0 exists, no files
    val dest = Files.createTempDirectory("graft_ib_mir").toString
    assert(IcebergInterchange.mirror(spark, t, dest) == 0)
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.snapshotId == -1L && snap.files.isEmpty)
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.count() == 0L && back.schema == schema.struct)
  }

  private def newPartTable(): LakehouseTable = {
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_ib_pmsrc").toString)
    t.create(TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt")), buckets = 2)
    t
  }

  test("partitioned mirror: split files, name-mapped removals, MOR deletes") {
    val t = newPartTable()
    val dest = Files.createTempDirectory("graft_ib_pmd").toString
    val noKeys = spark.range(0).select(lit("").as("dt"), $"id".as("k"))
    def same(): Unit = {
      val back = IcebergInterchange.importIceberg(spark, dest)
      val want = t.read()
      assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
        "the mirrored Iceberg state must equal the lakehouse live state")
    }
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 8L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"), noKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2,
      "fixture must occupy both lakehouse buckets")
    assert(IcebergInterchange.mirror(spark, t, dest) >= 1)
    same()
    // data files: split per (partition, source bucket), the source bucket
    // in the NAME (the removal map needs no sidecar). A commit whose adds
    // are footer-proven single-partition takes the metadata-only COPY
    // path and its files still STORE dt — every stored value must then be
    // the single manifest partition value (an external Iceberg reader
    // reads the stored column as-is); job-path files never store it.
    val dataFiles = Files.list(Paths.get(dest, "data")).iterator().asScala.toSeq
    assert(dataFiles.nonEmpty && dataFiles.forall(
      _.getFileName.toString.matches("""part-s\d+-b\d+-\d+\.parquet""")))
    dataFiles.foreach { p =>
      val df = spark.read.parquet(p.toString)
      if (df.columns.contains("dt"))
        assert(df.select("dt").distinct().count() == 1,
          s"copy-path file $p must be single-partition")
    }
    // metadata: identity spec 0 (default) + unpartitioned spec 1
    val root1 = metadata(dest)
    assert(root1.get("partition-specs").size() == 2)
    assert(root1.get("partition-specs").get(0).get("fields").get(0)
      .get("transform").asText() == "identity")
    assert(root1.get("default-spec-id").asInt() == 0)

    // whole-bucket rewrite: only the touched source bucket's mirrored
    // files die; the other bucket's rows survive by name mapping
    t.merge(Seq(("a", 1L, "A1")).toDF("dt", "k", "v"), noKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2)
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    same()
    val snaps = metadata(dest).get("snapshots").elements().asScala.toSeq
    assert(snaps.last.get("summary").get("operation").asText() == "overwrite")

    // MOR equality deletes on a partitioned table park on spec 1
    t.deleteWhere(Seq(("a", 2L), ("b", 3L)).toDF("dt", "k"))
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    same()
    val lastList = readAvroFile(Paths.get(metadata(dest).get("snapshots")
      .elements().asScala.toSeq.last.get("manifest-list").asText()))
    val deleteRows = lastList.filter(_.get("content").asInstanceOf[Int] == 1)
    assert(deleteRows.nonEmpty &&
      deleteRows.forall(_.get("partition_spec_id").asInstanceOf[Int] == 1),
      "equality-delete manifests ride the unpartitioned spec")

    // a second deleting+rewriting commit after deletes (sequence rule)
    t.merge(Seq(("b", 3L, "B3B")).toDF("dt", "k", "v"), noKeys)
    assert(IcebergInterchange.mirror(spark, t, dest) == 1)
    same()
  }

  test("pk-less APPEND-ONLY partitioned mirror: metadata-only copy commits; removals refuse") {
    // The classic time-partitioned fact stream: each commit appends one
    // partition's rows. Footers prove every add single-partition, so every
    // commit takes the COPY path — zero Spark jobs, files keep dt and the
    // manifests carry the partition tuple. A removal (overwrite) refuses:
    // pk-less tables have no bucket removal mapping.
    val dest = Files.createTempDirectory("graft_ib_ap_dst").toString
    val tp = new LakehouseTable(spark,
      Files.createTempDirectory("graft_ib_ap2_src").toString)
    tp.create(TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      partitionKeys = Seq("dt")), buckets = 2)
    (0 until 3).foreach { i =>
      tp.append(Seq.tabulate(4)(j => (s"d$i", j.toLong, s"v$i$j"))
        .toDF("dt", "k", "v"))
    }
    assert(IcebergInterchange.mirror(spark, tp, dest) == 3) // one per append
    val back = IcebergInterchange.importIceberg(spark, dest)
    val want = tp.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    // every data file came from the copy path: it still stores dt, single-valued
    val dataFiles = Files.list(Paths.get(dest, "data")).iterator().asScala.toSeq
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { p =>
      val df = spark.read.parquet(p.toString)
      assert(df.columns.contains("dt") &&
        df.select("dt").distinct().count() == 1,
        s"append-only commit files hard-copy (single partition), got $p")
    }
    // manifests carry the partition tuples (pruning works for a real reader)
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.filePartitions.values.map(_("dt")).toSet ==
      Set("d0", "d1", "d2"))
    // a removal (overwrite-append) refuses loudly
    tp.append(Seq(("d9", 0L, "x")).toDF("dt", "k", "v"), overwrite = true)
    val e = intercept[IllegalArgumentException](
      IcebergInterchange.mirror(spark, tp, dest))
    assert(e.getMessage.contains("PK-LESS"), e.getMessage)
  }

  test("v3 deletion vectors: Puffin blobs import; other v3 features refuse") {
    val t = newTable()
    t.merge((1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_v3dv").toString
    IcebergInterchange.export(spark, t, dest)
    val before = IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet
    assert(before.size == 20)
    val preDvSnapshot = IcebergInterchange.snapshotIds(dest).max
    // delete row positions 0 and 2 of one file, 1 of another — by DV
    val files = IcebergInterchange.readTable(dest).files.sorted
    assert(files.size >= 2)
    def rowsAt(f: String, ps: Seq[Long]) =
      spark.read.parquet(f).selectExpr("k", "v", "_metadata.row_index AS i")
        .filter(col("i").isin(ps.map(Long.box): _*))
        .select($"k", $"v").as[(Long, String)].collect().toSet
    val dead = rowsAt(files.head, Seq(0L, 2L)) ++ rowsAt(files(1), Seq(1L))
    IcebergInterchange.attachDeletionVectors(dest,
      Map(files.head -> Seq(0L, 2L), files(1) -> Seq(1L)))
    // the table is now v3, and the import masks exactly the DV'd rows
    assert(IcebergInterchange.readMetadata(dest,
      IcebergInterchange.latestMetadataVersion(dest).get)
      .get("format-version").asInt() == 3)
    val after = IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet
    assert(after == before -- dead, s"DV must mask exactly $dead")
    // the DV snapshot commits on top of the export's snapshot: its metadata
    // node and its manifest list both name that parent
    val dvSnapshot = metadata(dest).get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == IcebergInterchange.snapshotIds(dest).max).get
    assert(dvSnapshot.get("parent-snapshot-id").asLong() == preDvSnapshot)
    val dvList = new DataFileReader[GenericRecord](
      Paths.get(dvSnapshot.get("manifest-list").asText()).toFile,
      new GenericDatumReader[GenericRecord]())
    try assert(dvList.getMetaString("parent-snapshot-id") == preDvSnapshot.toString)
    finally dvList.close()
    // time travel to the pre-DV snapshot still sees every row
    assert(IcebergInterchange.importIceberg(spark, dest, Some(preDvSnapshot))
      .as[(Long, String)].collect().toSet == before)
    // a DV for a file that is not live refuses before any mutation
    intercept[IllegalArgumentException](
      IcebergInterchange.attachDeletionVectors(dest, Map("/nope.parquet" -> Seq(0L))))
    // row lineage READS (lineage stamps metadata identity, never row
    // content — the plain read stays exact)...
    val root = IcebergInterchange.readMetadata(dest,
        IcebergInterchange.latestMetadataVersion(dest).get)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root.put("row-lineage", true)
    IcebergInterchange.writeMetadata(dest,
      IcebergInterchange.latestMetadataVersion(dest).get + 1, root)
    assert(IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet == before -- dead,
      "a lineage-stamped v3 table reads EQUAL (DVs still applied)")
    // ...but WRITES into a lineage table refuse: this writer does not
    // maintain first_row_id
    val eW = intercept[IllegalArgumentException](
      IcebergInterchange.attachDeletionVectors(dest,
        Map(files.head -> Seq(3L))))
    assert(eW.getMessage.contains("row lineage"), eW.getMessage)
    // ...column defaults READ (c_iceberg_v3_defaults covers the null-pad
    // default materialization; here every footer stores `v`, so stored
    // values win and the read is unchanged)...
    val root2 = root.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root2.put("row-lineage", false)
    root2.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("initial-default", "x")
    IcebergInterchange.writeMetadata(dest,
      IcebergInterchange.latestMetadataVersion(dest).get + 1, root2)
    assert(IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet == before -- dead,
      "a default-bearing v3 table READS (stored columns win)")
    // ...but WRITES into default-bearing tables refuse...
    val eD = intercept[IllegalArgumentException](
      IcebergInterchange.attachDeletionVectors(dest,
        Map(files.head -> Seq(3L))))
    assert(eD.getMessage.contains("default"), eD.getMessage)
    // ...an unsupported default TYPE refuses on read (a default read as
    // null would be silently wrong)...
    val rootD = root2.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    rootD.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("type", "uuid")
    IcebergInterchange.writeMetadata(dest,
      IcebergInterchange.latestMetadataVersion(dest).get + 1, rootD)
    val e2 = intercept[IllegalArgumentException](
      IcebergInterchange.importIceberg(spark, dest))
    assert(e2.getMessage.contains("default"), e2.getMessage)
    // ...and format-version 4
    val root3 = root2.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root3.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("initial-default")
    root3.put("format-version", 4)
    IcebergInterchange.writeMetadata(dest,
      IcebergInterchange.latestMetadataVersion(dest).get + 1, root3)
    val e3 = intercept[IllegalArgumentException](
      IcebergInterchange.importIceberg(spark, dest))
    assert(e3.getMessage.contains("format-version 4"), e3.getMessage)
  }

  test("a corrupt DV blob (bad CRC) refuses instead of yielding garbage") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dvcrc").toString
    IcebergInterchange.export(spark, t, dest)
    val f = IcebergInterchange.readTable(dest).files.head
    IcebergInterchange.attachDeletionVectors(dest, Map(f -> Seq(0L)))
    // flip one byte INSIDE the vector region of the puffin blob
    val puffin = Files.list(Paths.get(dest, "data")).iterator().asScala
      .find(_.toString.endsWith(".puffin")).get
    val bytes = Files.readAllBytes(puffin)
    bytes(12) = (bytes(12) ^ 0x01).toByte
    Files.write(puffin, bytes)
    val e = intercept[Exception] {
      IcebergInterchange.importIceberg(spark, dest).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("CRC") || m.contains("magic")),
      chain(e).mkString(" | "))
  }

  test("re-attaching a DV SUPERSEDES the prior one: positions union, one live DV per file") {
    val t = newTable()
    t.merge((1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_dv2").toString
    IcebergInterchange.export(spark, t, dest)
    val before = IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet
    val f = IcebergInterchange.readTable(dest).files.sorted.head
    def rowsAt(ps: Seq[Long]) =
      spark.read.parquet(f).selectExpr("k", "v", "_metadata.row_index AS i")
        .filter(col("i").isin(ps.map(Long.box): _*))
        .select($"k", $"v").as[(Long, String)].collect().toSet
    IcebergInterchange.attachDeletionVectors(dest, Map(f -> Seq(0L)))
    // second attach for the SAME file: the v3 spec requires the new DV to
    // REPLACE the prior one — the old positions survive the replacement
    // (they union into the new vector), and the superseded manifest entry
    // carries forward DELETED, leaving exactly one live DV for the file
    IcebergInterchange.attachDeletionVectors(dest, Map(f -> Seq(2L)))
    val snap = IcebergInterchange.readTable(dest)
    assert(snap.dvs.map(_._3) == Seq(f),
      s"exactly one live DV, for $f; got ${snap.dvs.map(_._3)}")
    val after = IcebergInterchange.importIceberg(spark, dest)
      .as[(Long, String)].collect().toSet
    assert(after == before -- rowsAt(Seq(0L, 2L)),
      "both the superseded DV's position and the new one mask")
  }

  test("dropped-then-re-added column reads NULL by id, never the stale physical values") {
    // The current schema carries v under a NEW field id (the column was
    // dropped and re-added); the old data file still stores a column
    // NAMED v under the OLD id. Real Iceberg id resolution reads null
    // there — a name-based explicit-schema read would silently resurrect
    // the stale physical values.
    def stampIds(path: java.nio.file.Path, names: Seq[String],
        ids: Seq[Long]): Unit = {
      val df = spark.read.parquet(path.toString).toDF(names: _*)
      val schema2 = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new MetadataBuilder()
          .putLong("parquet.field.id", ids(i)).build())
      })
      val stamped = spark.createDataFrame(df.collectAsList(), schema2)
      val tmp = Files.createTempDirectory("graft_ib_readd_rw")
      stamped.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val t = newTable()
    t.merge(Seq((1L, "stale")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_ib_readd").toString
    IcebergInterchange.export(spark, t, dest)
    Files.list(Paths.get(dest, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => stampIds(p, Seq("k", "v"), Seq(1L, 2L)))
    val root = metadata(dest).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    root.get("schemas").get(0).get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 3)
    root.put("last-column-id", 3)
    IcebergInterchange.writeMetadata(dest, 2, root)
    val back = IcebergInterchange.importIceberg(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v"))
    val row = back.orderBy("k").head()
    assert(row.getLong(0) == 1L && row.isNullAt(1),
      s"re-added v must read NULL, not the stale physical value; got $row")
  }

  test("format-version 1 tables read: legacy metadata, no sequence fields") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericData
    val dest = Files.createTempDirectory("graft_ib_v1").toString
    Files.createDirectories(Paths.get(dest, "metadata"))
    def dataFile(name: String, rows: Seq[(Long, String)]): (String, Long) = {
      val tmp = Files.createTempDirectory("v1f").toString
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val out = Paths.get(dest, name)
      Files.move(part, out)
      (out.toString, rows.size.toLong)
    }
    val (f0, n0) = dataFile("f0.parquet", (0L until 5L).map(k => (k, s"a$k")))
    val (f1, n1) = dataFile("f1.parquet", (5L until 8L).map(k => (k, s"b$k")))
    // the spec's v1 Avro shapes: no content / sequence_number anywhere
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}"""
        .stripMargin)
    def entry(path: String, rows: Long): GenericRecord = {
      val df = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("partition", new GenericData.Record(
        df.getSchema.getField("partition").schema()))
      df.put("record_count", rows)
      df.put("file_size_in_bytes", 1L)
      val r = new GenericData.Record(entrySchema)
      r.put("status", 1); r.put("snapshot_id", 77L); r.put("data_file", df)
      r
    }
    val mPath = Paths.get(dest, "metadata", "m-v1.avro")
    IcebergInterchange.writeAvro(mPath, entrySchema,
      Map("format-version" -> "1"), Seq(entry(f0, n0), entry(f1, n1)))
    val listPath = Paths.get(dest, "metadata", "snap-77.avro")
    val mf = new GenericData.Record(listSchema)
    mf.put("manifest_path", mPath.toString)
    mf.put("manifest_length", Files.size(mPath))
    mf.put("partition_spec_id", 0)
    mf.put("added_snapshot_id", 77L)
    IcebergInterchange.writeAvro(listPath, listSchema,
      Map("format-version" -> "1"), Seq(mf))
    // LEGACY v1 metadata: single `schema`, flat `partition-spec`, no
    // current-schema-id / partition-specs / default-spec-id
    val meta =
      s"""{"format-version":1,"table-uuid":"u","location":"$dest",
         |"last-updated-ms":0,"last-column-id":2,
         |"schema":{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"k","required":true,"type":"long"},
         |{"id":2,"name":"v","required":false,"type":"string"}]},
         |"partition-spec":[],"properties":{},
         |"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"timestamp-ms":0,
         |"manifest-list":"$listPath"}]}""".stripMargin
    Files.write(Paths.get(dest, "metadata", "v1.metadata.json"),
      meta.getBytes(UTF_8))
    Files.write(Paths.get(dest, "metadata", "version-hint.text"),
      "1".getBytes(UTF_8))

    val snap = IcebergInterchange.readTable(dest)
    assert(snap.snapshotId == 77L && snap.files.size == 2)
    val got = IcebergInterchange.importIceberg(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == ((0L until 5L).map(k => (k, s"a$k")) ++
      (5L until 8L).map(k => (k, s"b$k"))))
    // time travel by the v1 snapshot id works too
    assert(IcebergInterchange.importIceberg(spark, dest, Some(77L))
      .count() == 8L)
    // format versions past 3 still refuse (3's DV subset now reads)
    Files.write(Paths.get(dest, "metadata", "v1.metadata.json"),
      meta.replace(""""format-version":1""", """"format-version":4""")
        .getBytes(UTF_8))
    assert(intercept[IllegalArgumentException](
      IcebergInterchange.readTable(dest))
      .getMessage.contains("format-version 4"))
  }
}
