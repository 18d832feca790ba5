package graft.sinks

import graft.SparkTestBase
import graft.core._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Paimon table-format interchange: the snapshot/schema/manifest layout is
  * pinned against the public format (JSON field names, Avro `_KIND` /
  * `_PARTITION` / `_FILE` records, bucket-N data dirs, key-value system
  * columns), the export/import round trip is data-identical, the mirror
  * writes one snapshot per lakehouse commit with Paimon's own
  * commitIdentifier as the resume marker, MOR deletes ride as LSM
  * tombstones, and the importer implements the real merge (max sequence
  * per key, retracts dropped) proven on hand-written overlapping files. */
class PaimonInterchangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def newTable(): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_pm_src").toString)
    t.create(schema, buckets = 2)
    t
  }

  private def json(p: java.nio.file.Path) =
    mapper.readTree(Files.readAllBytes(p))

  /** Append a hand-written foreign commit on top of an exported table's
    * snapshot-1: one level-0 file per bucket from `withB` (key-value rows
    * plus a `__b` bucket column), a delta manifest claiming `schemaId`,
    * and snapshot-2 whose base list is snapshot-1's delta. Models what a
    * real Paimon LSM writer (which this library's exporter never is)
    * leaves behind. */
  private def appendForeignCommit(dest: String, withB: org.apache.spark.sql.DataFrame,
      schemaId: Long, minSeq: Long, maxSeq: Long, totalBuckets: Int = 2): Unit = {
    val buckets = withB.select("__b").distinct().collect().map(_.getInt(0))
    val snapNode = mapper.readTree(Files.readAllBytes(
      Paths.get(dest, "snapshot", "snapshot-1")))
    val entrySchema = PaimonInterchange.manifestEntrySchema
    val newEntries = buckets.map { b =>
      val rows = withB.filter($"__b" === b).drop("__b")
      val tmp = Files.createTempDirectory("pm_foreign").toString
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val name = s"data-foreign-$schemaId-$b.parquet"
      Files.createDirectories(Paths.get(dest, s"bucket-$b"))
      val out = Paths.get(dest, s"bucket-$b", name)
      Files.move(part, out)
      val rec = new org.apache.avro.generic.GenericData.Record(entrySchema)
      rec.put("_KIND", 0)
      rec.put("_PARTITION", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      rec.put("_BUCKET", b)
      rec.put("_TOTAL_BUCKETS", totalBuckets)
      val fr = new org.apache.avro.generic.GenericData.Record(
        entrySchema.getField("_FILE").schema())
      fr.put("_FILE_NAME", name)
      fr.put("_FILE_SIZE", Files.size(out))
      fr.put("_ROW_COUNT", rows.count())
      fr.put("_MIN_KEY", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      fr.put("_MAX_KEY", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      def st(f: String) = {
        val r = new org.apache.avro.generic.GenericData.Record(
          entrySchema.getField("_FILE").schema().getField(f).schema())
        r.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
        r.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
        r.put("_NULL_COUNTS", null)
        r
      }
      fr.put("_KEY_STATS", st("_KEY_STATS"))
      fr.put("_VALUE_STATS", st("_VALUE_STATS"))
      fr.put("_MIN_SEQUENCE_NUMBER", minSeq)
      fr.put("_MAX_SEQUENCE_NUMBER", maxSeq)
      fr.put("_SCHEMA_ID", schemaId)
      fr.put("_LEVEL", 0)
      fr.put("_EXTRA_FILES", java.util.Collections.emptyList[String]())
      fr.put("_CREATION_TIME", null)
      fr.put("_DELETE_ROW_COUNT", null)
      rec.put("_FILE", fr)
      rec: org.apache.avro.generic.GenericRecord
    }.toSeq
    IcebergInterchange.writeAvro(Paths.get(dest, "manifest", "manifest-foreign-0"),
      entrySchema, Map.empty, newEntries)
    val listSchema = PaimonInterchange.manifestFileSchema
    val foreignMf = {
      val r = new org.apache.avro.generic.GenericData.Record(listSchema)
      r.put("_FILE_NAME", "manifest-foreign-0")
      r.put("_FILE_SIZE", Files.size(Paths.get(dest, "manifest", "manifest-foreign-0")))
      r.put("_NUM_ADDED_FILES", newEntries.size.toLong)
      r.put("_NUM_DELETED_FILES", 0L)
      val ps = new org.apache.avro.generic.GenericData.Record(
        listSchema.getField("_PARTITION_STATS").schema())
      ps.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      ps.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      ps.put("_NULL_COUNTS", null)
      r.put("_PARTITION_STATS", ps)
      r.put("_SCHEMA_ID", schemaId)
      r: org.apache.avro.generic.GenericRecord
    }
    IcebergInterchange.writeAvro(Paths.get(dest, "manifest", "manifest-list-2-delta"),
      listSchema, Map.empty, Seq(foreignMf))
    val sn2 = snapNode.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    sn2.put("id", 2L)
    sn2.put("schemaId", schemaId)
    sn2.put("baseManifestList", snapNode.get("deltaManifestList").asText())
    sn2.put("deltaManifestList", "manifest-list-2-delta")
    Files.write(Paths.get(dest, "snapshot", "snapshot-2"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(sn2))
    Files.write(Paths.get(dest, "snapshot", "LATEST"), "2".getBytes(UTF_8))
  }

  test("binary row: 8-byte empty header, little-endian 8-byte slots") {
    assert(PaimonInterchange.emptyRow.length == 8)
    assert(PaimonInterchange.emptyRow.forall(_ == 0))
    val one = PaimonInterchange.binaryRow(Seq(0x0102030405060708L))
    assert(one.length == 16)
    assert(one(8) == 0x08.toByte && one(15) == 0x01.toByte, "little-endian")
  }

  test("export layout is format-shaped: snapshot JSON, hints, schema, buckets") {
    val t = newTable()
    t.merge((0L until 50L).toDF("k").select($"k", concat(lit("v"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_dst").toString
    PaimonInterchange.export(spark, t, dest)

    assert(new String(Files.readAllBytes(
      Paths.get(dest, "snapshot", "LATEST")), UTF_8).trim == "1")
    assert(new String(Files.readAllBytes(
      Paths.get(dest, "snapshot", "EARLIEST")), UTF_8).trim == "1")
    val snap = json(Paths.get(dest, "snapshot", "snapshot-1"))
    for (f <- Seq("version", "id", "schemaId", "baseManifestList",
        "deltaManifestList", "commitUser", "commitIdentifier", "commitKind",
        "timeMillis", "totalRecordCount", "deltaRecordCount"))
      assert(snap.has(f), s"snapshot field $f")
    assert(snap.get("commitKind").asText() == "APPEND")
    assert(snap.get("totalRecordCount").asLong() == 50L)

    val sch = json(Paths.get(dest, "schema", "schema-0"))
    assert(sch.get("primaryKeys").get(0).asText() == "k")
    assert(sch.get("partitionKeys").size() == 0)
    assert(sch.get("fields").get(0).get("type").asText() == "BIGINT NOT NULL")
    assert(sch.get("fields").get(1).get("type").asText() == "STRING")
    assert(sch.get("options").get("bucket").asText() == "2")
    assert(sch.get("options").get("file.format").asText() == "parquet")

    // data lives in bucket-N dirs as KEY-VALUE parquet
    assert(Files.isDirectory(Paths.get(dest, "bucket-0")) ||
      Files.isDirectory(Paths.get(dest, "bucket-1")))
    val snap2 = PaimonInterchange.readTable(dest)
    val f0 = snap2.files.head
    val raw = spark.read.parquet(
      Paths.get(dest, s"bucket-${f0.bucket}", f0.fileName).toString)
    assert(raw.columns.toSeq ==
      Seq("_KEY_k", "_SEQUENCE_NUMBER", "_VALUE_KIND", "k", "v"))
    assert(raw.filter($"_VALUE_KIND" =!= 0).isEmpty, "export rows are all +I")

    // manifest entries are _KIND/_PARTITION/_BUCKET/_FILE records
    val delta = IcebergInterchange.readAvro(Paths.get(dest, "manifest",
      snap.get("deltaManifestList").asText()))
    assert(delta.nonEmpty)
    val mf = IcebergInterchange.readAvro(Paths.get(dest, "manifest",
      delta.head.get("_FILE_NAME").toString))
    val e0 = mf.head
    assert(e0.get("_KIND").asInstanceOf[Int] == 0)
    val fileRec = e0.get("_FILE").asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(fileRec.get("_LEVEL").asInstanceOf[Int] == 0,
      "an export is the mirror's first commit: level-0 files")
    assert(fileRec.get("_MIN_KEY").asInstanceOf[java.nio.ByteBuffer].remaining == 16,
      "single-BIGINT key bounds are real binary rows")
    // its files share one sequence number: the import takes the no-overlap
    // fast path, with no merge window in the plan
    val plan = PaimonInterchange.importPaimon(spark, dest).queryExecution.optimizedPlan
    assert(plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      .isEmpty, plan.toString)
  }

  test("round trip: export -> import is data-identical") {
    val t = newTable()
    t.merge((0L until 100L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    t.merge((50L until 120L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_dst").toString
    PaimonInterchange.export(spark, t, dest)
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.schema == want.schema)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("mirror: one snapshot per commit; tombstones encode MOR deletes") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_mir").toString
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) >= 1)
    assert(PaimonInterchange.importPaimon(spark, dest).count() == 30L)

    // MOR delete -> tombstone file at the delete's sequence
    t.deleteWhere(Seq(5L, 6L, 7L).toDF("k"))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.count() == 27L)
    assert(back.filter($"k".isin(5L, 6L, 7L)).isEmpty,
      "the tombstone masks earlier sequences")
    val snap = PaimonInterchange.readTable(dest)
    assert(snap.files.exists(_.deleteRows > 0),
      "_DELETE_ROW_COUNT records the tombstones")

    // re-add one deleted key at a higher sequence: it survives the merge
    t.merge(Seq((5L, "z")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    val back2 = PaimonInterchange.importPaimon(spark, dest)
    assert(back2.filter($"k" === 5L).select($"v").head().getString(0) == "z")
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)

    // rewriting merge: DELETE entries cancel the dead mirrored files
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("c"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.mirror(spark, t, dest) == 0, "no-op mirrors write nothing")
    val back3 = PaimonInterchange.importPaimon(spark, dest)
    val want3 = t.read()
    assert(back3.exceptAll(want3).isEmpty && want3.exceptAll(back3).isEmpty)
    val s3 = json(Paths.get(dest, "snapshot",
      s"snapshot-${PaimonInterchange.latestSnapshotId(dest).get}"))
    assert(s3.get("commitKind").asText() == "COMPACT",
      "a rewriting commit is not an APPEND")
    assert(s3.get("commitIdentifier").asLong() == t.latestVersion(),
      "commitIdentifier records mirror progress — Paimon's exactly-once marker")
  }

  test("mirror resumes from an export; snapshot ids continue") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_res").toString
    PaimonInterchange.export(spark, t, dest)
    t.merge(Seq((2L, "b")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.latestSnapshotId(dest).get == 2L)
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("LSM merge on foreign overlapping files: max sequence wins, retracts drop") {
    // hand-write a table whose live files OVERLAP in sequence ranges —
    // what a real Paimon LSM (which this library's writer never produces)
    // looks like: level-2 base, level-0 updates, a tombstone between
    val dest = Files.createTempDirectory("graft_pm_lsm").toString
    val t = newTable() // reuse export to lay down layout + schema
    t.merge(Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.export(spark, t, dest)

    // append a foreign level-0 file into bucket dirs: k=2 deleted at seq 7,
    // k=3 rewritten at seq 9, k=4 inserted at seq 9
    val kv = Seq(
      (2L, 7L, 3, null.asInstanceOf[java.lang.Long], null),
      (3L, 9L, 0, java.lang.Long.valueOf(3L), "new3"),
      (4L, 9L, 0, java.lang.Long.valueOf(4L), "new4"))
      .toDF("_KEY_k", "_SEQUENCE_NUMBER", "_VALUE_KIND", "k", "v")
    // write one foreign file per bucket the keys hash into
    val withB = kv.withColumn("__b", pmod(hash($"_KEY_k"), lit(2)))
    appendForeignCommit(dest, withB, schemaId = 0L, minSeq = 7L, maxSeq = 9L)

    val back = PaimonInterchange.importPaimon(spark, dest)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "old1"), (3L, "new3"), (4L, "new4")),
      "k=2 tombstoned, k=3 superseded by seq 9, k=4 inserted, k=1 untouched")
  }

  test("composite string+long primary key: full round trip, empty key bounds") {
    val cSchema = TableSchema(
      StructType(Seq(
        StructField("tenant", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("tenant", "k"))
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_pm_cpk").toString)
    t.create(cSchema, buckets = 2)
    t.merge(Seq(("a", 1L, "x"), ("b", 1L, "y"), ("a", 2L, "z"))
      .toDF("tenant", "k", "v"), spark.range(0)
      .select(lit("").as("tenant"), $"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_cpkd").toString
    PaimonInterchange.mirror(spark, t, dest)
    // same tenant+k upserted: the composite key collapses correctly
    t.merge(Seq(("a", 1L, "x2")).toDF("tenant", "k", "v"),
      spark.range(0).select(lit("").as("tenant"), $"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    assert(back.filter($"tenant" === "a" && $"k" === 1L)
      .select($"v").head().getString(0) == "x2")
    // non-BIGINT keys write the empty bounds row (pruning off, never wrong)
    val snap = PaimonInterchange.readTable(dest)
    assert(snap.primaryKeys == Seq("tenant", "k"))
  }

  test("mid-history rename: every file reads under ITS schema-N, by position") {
    // snapshot-1 writes (k, v) under schema-0; a foreign ALTER TABLE then
    // renames v -> val (schema-1, same positional ids) and snapshot-2 adds
    // files under schema-1. The importer must resolve schema-0 files
    // through their own schema and align positionally — the single-sample
    // guard this replaces would have read them as silent nulls.
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_ren").toString
    PaimonInterchange.export(spark, t, dest)
    val s0 = Paths.get(dest, "schema", "schema-0")
    val s1 = json(s0).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    s1.put("id", 1L)
    s1.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("name", "val")
    Files.write(Paths.get(dest, "schema", "schema-1"), mapper.writeValueAsBytes(s1))
    // schema-1 files carry the NEW column name; k=2 rewritten, k=9 added
    val kv = Seq(
      (2L, 9L, 0, java.lang.Long.valueOf(2L), "b2"),
      (9L, 9L, 0, java.lang.Long.valueOf(9L), "new9"))
      .toDF("_KEY_k", "_SEQUENCE_NUMBER", "_VALUE_KIND", "k", "val")
    appendForeignCommit(dest, kv.withColumn("__b", pmod(hash($"_KEY_k"), lit(2))),
      schemaId = 1L, minSeq = 9L, maxSeq = 9L)
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.columns.toSeq == Seq("k", "val"),
      "the latest schema's names win")
    val got = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "new9")),
      "schema-0 rows keep their values under the renamed column")
  }

  test("ensureSchema evolution: widening promotes, narrowing/cross-family refuse") {
    val dir = Files.createTempDirectory("graft_pm_widen").toString
    val base = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", IntegerType)))
    assert(PaimonInterchange.ensureSchema(dir, base, Seq("k"), 2) == 0L)
    // INT -> BIGINT widens: schema-1 appends
    val widened = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", LongType)))
    assert(PaimonInterchange.ensureSchema(dir, widened, Seq("k"), 2) == 1L)
    // BIGINT -> INT narrows: refuse at mirror time, not at import time
    val narrowed = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", IntegerType)))
    val e1 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(dir, narrowed, Seq("k"), 2))
    assert(e1.getMessage.contains("widening"))
    // BIGINT -> STRING crosses families: refuse
    val crossed = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", StringType)))
    val e2 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(dir, crossed, Seq("k"), 2))
    assert(e2.getMessage.contains("widening"))
    // nullable -> NOT NULL: existing files may hold nulls — refuse
    val tightened = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val e3 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(dir, tightened, Seq("k"), 2))
    assert(e3.getMessage.contains("NOT"))
  }

  test("inconsistent schema history: file columns vs schema-N refuse loudly") {
    // editing schema-0 in place leaves data files that no longer match the
    // schema they were written under — not a rename, a corrupt table
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_corrupt").toString
    PaimonInterchange.export(spark, t, dest)
    val p = Paths.get(dest, "schema", "schema-0")
    val node = json(p).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    node.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("name", "val")
    Files.write(p, mapper.writeValueAsBytes(node))
    val e = intercept[IllegalArgumentException](
      PaimonInterchange.importPaimon(spark, dest))
    assert(e.getMessage.contains("inconsistent"))
  }

  test("refusals: dynamic buckets; partition-column type change") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_ref").toString
    PaimonInterchange.export(spark, t, dest)
    val p = Paths.get(dest, "schema", "schema-0")
    val withDyn = json(p).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    withDyn.withObject("/options").put("bucket", "-1")
    Files.write(p, mapper.writeValueAsBytes(withDyn))
    val e2 = intercept[IllegalArgumentException](PaimonInterchange.readTable(dest))
    assert(e2.getMessage.contains("dynamic bucket"))

    // a partition column may NOT widen (INT -> BIGINT): the manifests'
    // _PARTITION BinaryRows are type-pinned, old tuples would misread
    val pdir = Files.createTempDirectory("graft_pm_ptpin").toString
    val s0 = StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("w", IntegerType)))
    PaimonInterchange.ensureSchema(pdir, s0, Seq("p", "k"), 2, Seq("p"))
    val s1 = StructType(Seq(
      StructField("p", LongType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("w", IntegerType)))
    val e3 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(pdir, s1, Seq("p", "k"), 2, Seq("p")))
    assert(e3.getMessage.contains("type-pinned"))
    // the same widening on a NON-partition column stays legal
    val s2 = StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("w", LongType)))
    assert(PaimonInterchange.ensureSchema(pdir, s2, Seq("p", "k"), 2, Seq("p")) == 1L)
  }

  test("binary row: typed partition tuples round-trip (long/int/string/null)") {
    import PaimonInterchange.{binaryRowAny, decodeBinaryRow}
    val types = Seq[org.apache.spark.sql.types.DataType](
      LongType, IntegerType, StringType, StringType, StringType)
    val vals = Seq[Any](42L, -7, "ab", "longer-than-seven-bytes", null)
    val bytes = binaryRowAny(vals.zip(types))
    assert(decodeBinaryRow(bytes, types) == vals)
    // compact strings (<= 7 bytes) stay inside the fixed part
    val short = binaryRowAny(Seq(("abcdefg", StringType)))
    assert(short.length == 8 + 8, "7-byte string compacts into its slot")
    assert(decodeBinaryRow(short, Seq(StringType)) == Seq("abcdefg"))
    val long = binaryRowAny(Seq(("abcdefgh", StringType)))
    assert(long.length == 8 + 8 + 8, "8-byte string spills to the var part")
    assert(decodeBinaryRow(long, Seq(StringType)) == Seq("abcdefgh"))
    // null marks bit 8 + i of the header word
    val withNull = binaryRowAny(Seq((null, LongType), (5L, LongType)))
    assert((java.nio.ByteBuffer.wrap(withNull)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0) & (1L << 8)) != 0)
  }

  test("identity-partitioned round trip: layout, _PARTITION tuples, trimmed keys") {
    val pSchema = TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("region", LongType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("dt", "region", "k"), partitionKeys = Seq("dt", "region"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_pm_part").toString)
    t.create(pSchema, buckets = 2)
    val rows = (0 until 60).map(i =>
      (if (i % 2 == 0) "a" else "b", (i % 3).toLong, i.toLong, s"v$i"))
    t.merge(rows.toDF("dt", "region", "k", "v"),
      spark.range(0).select(lit("").as("dt"), lit(0L).as("region"), $"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_partd").toString
    PaimonInterchange.export(spark, t, dest)

    // layout: p=v dirs, bucket dirs inside them; schema-0 records the keys
    assert(Files.isDirectory(Paths.get(dest, "dt=a", "region=0", "bucket-0")) ||
      Files.isDirectory(Paths.get(dest, "dt=a", "region=0", "bucket-1")))
    val s0 = json(Paths.get(dest, "schema", "schema-0"))
    assert(s0.get("partitionKeys").elements().asScala.map(_.asText()).toSeq ==
      Seq("dt", "region"))
    // data files carry the TRIMMED key only (_KEY_k), plus the full row
    val snap = PaimonInterchange.readTable(dest)
    assert(snap.partitionKeys == Seq("dt", "region") && snap.trimmedKeys == Seq("k"))
    assert(snap.files.forall(_.partition.size == 2))
    val aFile = snap.files.find(_.partition == Seq("a", 0L)).get
    val raw = spark.read.parquet(
      Paths.get(dest, s"dt=a/region=0/bucket-${aFile.bucket}", aFile.fileName).toString)
    assert(raw.columns.toSeq ==
      Seq("_KEY_k", "_SEQUENCE_NUMBER", "_VALUE_KIND", "dt", "region", "k", "v"))

    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = rows.toDF("dt", "region", "k", "v")
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)

    // manifest-level partition pruning: a one-partition read opens ONLY
    // that partition's files
    val pruned = PaimonInterchange.importPaimon(spark, dest,
      partitionFilter = Map("dt" -> "a", "region" -> 0L))
    assert(pruned.count() == rows.count(r => r._1 == "a" && r._2 == 0L))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("dt=a/region=0")),
      s"pruned read must touch only dt=a/region=0, got ${pruned.inputFiles.toSeq}")
  }

  test("partitioned LSM merge: cross-partition same trimmed key stays separate") {
    // k=1 exists in BOTH partitions; an upsert to (a, 1) must not touch
    // (b, 1) — the merge window includes the partition tuple
    val pSchema = TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_pm_xp").toString)
    t.create(pSchema, buckets = 2)
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("dt", "k", "v"),
      spark.range(0).select(lit("").as("dt"), $"id".as("k")))
    val dest = Files.createTempDirectory("graft_pm_xpd").toString
    PaimonInterchange.export(spark, t, dest)
    // foreign level-0 file in dt=a only: k=1 rewritten at a higher sequence
    val kv = Seq((1L, 99L, 0, "a", java.lang.Long.valueOf(1L), "a1-new"))
      .toDF("_KEY_k", "_SEQUENCE_NUMBER", "_VALUE_KIND", "dt", "k", "v")
    val withB = kv.withColumn("__b", pmod(hash($"_KEY_k"), lit(2)))
    val b = withB.select("__b").head().getInt(0)
    val tmp = Files.createTempDirectory("pm_xpf").toString
    withB.drop("__b").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dir = Paths.get(dest, "dt=a", s"bucket-$b")
    Files.createDirectories(dir)
    Files.move(part, dir.resolve("data-foreign-0.parquet"))
    // hand-append the manifest entry with the dt=a partition tuple
    val entrySchema = PaimonInterchange.manifestEntrySchema
    val rec = new org.apache.avro.generic.GenericData.Record(entrySchema)
    rec.put("_KIND", 0)
    rec.put("_PARTITION", java.nio.ByteBuffer.wrap(
      PaimonInterchange.binaryRowAny(Seq(("a", StringType)))))
    rec.put("_BUCKET", b); rec.put("_TOTAL_BUCKETS", 2)
    val fr = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("_FILE").schema())
    fr.put("_FILE_NAME", "data-foreign-0.parquet")
    fr.put("_FILE_SIZE", Files.size(dir.resolve("data-foreign-0.parquet")))
    fr.put("_ROW_COUNT", 1L)
    fr.put("_MIN_KEY", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
    fr.put("_MAX_KEY", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
    def st(f: String) = {
      val r = new org.apache.avro.generic.GenericData.Record(
        entrySchema.getField("_FILE").schema().getField(f).schema())
      r.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      r.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
      r.put("_NULL_COUNTS", null)
      r
    }
    fr.put("_KEY_STATS", st("_KEY_STATS"))
    fr.put("_VALUE_STATS", st("_VALUE_STATS"))
    fr.put("_MIN_SEQUENCE_NUMBER", 99L)
    fr.put("_MAX_SEQUENCE_NUMBER", 99L)
    fr.put("_SCHEMA_ID", 0L)
    fr.put("_LEVEL", 0)
    fr.put("_EXTRA_FILES", java.util.Collections.emptyList[String]())
    fr.put("_CREATION_TIME", null)
    fr.put("_DELETE_ROW_COUNT", null)
    rec.put("_FILE", fr)
    IcebergInterchange.writeAvro(Paths.get(dest, "manifest", "manifest-foreign-0"),
      entrySchema, Map.empty, Seq(rec))
    val snapNode = json(Paths.get(dest, "snapshot", "snapshot-1"))
    val listSchema = PaimonInterchange.manifestFileSchema
    val mf = new org.apache.avro.generic.GenericData.Record(listSchema)
    mf.put("_FILE_NAME", "manifest-foreign-0")
    mf.put("_FILE_SIZE", Files.size(Paths.get(dest, "manifest", "manifest-foreign-0")))
    mf.put("_NUM_ADDED_FILES", 1L); mf.put("_NUM_DELETED_FILES", 0L)
    val ps = new org.apache.avro.generic.GenericData.Record(
      listSchema.getField("_PARTITION_STATS").schema())
    ps.put("_MIN_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
    ps.put("_MAX_VALUES", java.nio.ByteBuffer.wrap(PaimonInterchange.emptyRow))
    ps.put("_NULL_COUNTS", null)
    mf.put("_PARTITION_STATS", ps)
    mf.put("_SCHEMA_ID", 0L)
    IcebergInterchange.writeAvro(Paths.get(dest, "manifest", "manifest-list-2-delta"),
      listSchema, Map.empty, Seq(mf: org.apache.avro.generic.GenericRecord))
    val sn2 = snapNode.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    sn2.put("id", 2L)
    sn2.put("baseManifestList", snapNode.get("deltaManifestList").asText())
    sn2.put("deltaManifestList", "manifest-list-2-delta")
    Files.write(Paths.get(dest, "snapshot", "snapshot-2"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(sn2))
    Files.write(Paths.get(dest, "snapshot", "LATEST"), "2".getBytes(UTF_8))

    val back = PaimonInterchange.importPaimon(spark, dest)
      .orderBy("dt").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(back.toSeq == Seq(("a", 1L, "a1-new"), ("b", 1L, "b1")),
      "the dt=a upsert wins in its partition; dt=b keeps its row")
  }

  test("append-only table: plain rows, duplicates preserved, no merge") {
    val aSchema = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq.empty)
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_pm_app").toString)
    t.create(aSchema, buckets = 2)
    t.append(Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v"))
    t.append(Seq((1L, "x")).toDF("k", "v"))
    val dest = Files.createTempDirectory("graft_pm_appd").toString
    PaimonInterchange.export(spark, t, dest)
    val s0 = json(Paths.get(dest, "schema", "schema-0"))
    assert(s0.get("primaryKeys").size() == 0)
    val snap = PaimonInterchange.readTable(dest)
    // append files carry NO key-value system columns — just the row
    val f0 = snap.files.head
    val raw = spark.read.parquet(
      Paths.get(dest, s"bucket-${f0.bucket}", f0.fileName).toString)
    assert(raw.columns.toSeq == Seq("k", "v"))
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.count() == 4, "all four rows, duplicates included")
    assert(back.filter($"k" === 1L && $"v" === "x").count() == 3)
  }

  test("append-only MIRROR: one snapshot per append; removals refuse") {
    val aSchema = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq.empty)
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_pm_amr").toString)
    t.create(aSchema, buckets = 2)
    val dest = Files.createTempDirectory("graft_pm_amrd").toString
    t.append(Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v"))
    t.append(Seq((1L, "x"), (3L, "z")).toDF("k", "v"))
    assert(PaimonInterchange.mirror(spark, t, dest) >= 2)
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.count() == 5, "all rows, duplicates included")
    assert(back.filter($"k" === 1L).count() == 3)
    // incremental: a third append mirrors as ONE more snapshot
    t.append(Seq((4L, "w")).toDF("k", "v"))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.importPaimon(spark, dest).count() == 6)
    // mirrored files carry NO key-value system columns
    val snap = PaimonInterchange.readTable(dest)
    val f0 = snap.files.head
    assert(spark.read.parquet(
      Paths.get(dest, s"bucket-${f0.bucket}", f0.fileName).toString)
      .columns.toSeq == Seq("k", "v"))
    // an overwrite (removal) refuses loudly
    t.append(Seq((9L, "q")).toDF("k", "v"), overwrite = true)
    val e = intercept[IllegalArgumentException](
      PaimonInterchange.mirror(spark, t, dest))
    assert(e.getMessage.contains("APPEND-ONLY"), e.getMessage)
  }

  test("ensureSchema partition validation: subset-of-pk, fixed keys, types") {
    val struct = StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType)))
    val d1 = Files.createTempDirectory("graft_pm_val1").toString
    val e1 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(d1, struct, Seq("k"), 2, Seq("dt")))
    assert(e1.getMessage.contains("subset of the primary keys"))
    val e2 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(d1, struct, Seq("dt"), 2, Seq("dt")))
    assert(e2.getMessage.contains("non-partition field"))
    val e3 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(d1, struct, Seq("v", "k"), 2, Seq("v")))
    assert(e3.getMessage.contains("serialization"))
    assert(PaimonInterchange.ensureSchema(d1, struct, Seq("dt", "k"), 2, Seq("dt")) == 0L)
    val e4 = intercept[IllegalArgumentException](
      PaimonInterchange.ensureSchema(d1, struct, Seq("dt", "k"), 2, Seq.empty))
    assert(e4.getMessage.contains("cannot evolve"))
  }

  test("manifest compaction bounds the list; expiry prunes history and orphans") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_exp").toString
    // 20 commits: every mirror rewrites both buckets, so the live manifest
    // list would grow past the compaction threshold without consolidation
    t.merge(Seq((1 % 7L, "v1")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) >= 1)
    (2 to 20).foreach { i =>
      t.merge(Seq((i % 7L, s"v$i")).toDF("k", "v"),
        spark.range(0).select($"id".as("k")))
      assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    }
    val latest = PaimonInterchange.latestSnapshotId(dest).get
    val snapNode = json(Paths.get(dest, "snapshot", s"snapshot-$latest"))
    val baseRows = IcebergInterchange.readAvro(Paths.get(dest, "manifest",
      snapNode.get("baseManifestList").asText()))
    assert(baseRows.size <= 17,
      s"the base list must stay bounded by compaction, got ${baseRows.size}")

    val dataBefore = Files.walk(Paths.get(dest)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val want = t.read()
    val (expired, metaDel, dataDel) = PaimonInterchange.expireSnapshots(dest, 2)
    assert(expired == latest.toInt - 2 && metaDel > 0 && dataDel > 0)
    assert(new String(Files.readAllBytes(
      Paths.get(dest, "snapshot", "EARLIEST")), UTF_8).trim.toLong == latest - 1)
    assert(!Files.exists(Paths.get(dest, "snapshot", "snapshot-1")))
    val dataAfter = Files.walk(Paths.get(dest)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(dataAfter < dataBefore, "orphaned data files are reclaimed")

    // live state intact after expiry; mirror continues past it
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    t.merge(Seq((99L, "z")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    val back2 = PaimonInterchange.importPaimon(spark, dest)
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)
  }

  test("readDeltaBetween tails appends and tombstones; compaction refuses") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_inc").toString
    t.append((0L until 10L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")))
    PaimonInterchange.mirror(spark, t, dest)
    val s1 = PaimonInterchange.latestSnapshotId(dest).get

    t.deleteWhere(Seq(3L, 4L).toDF("k"))          // APPEND with tombstones
    t.append((10L until 15L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")))
    PaimonInterchange.mirror(spark, t, dest)
    val s3 = PaimonInterchange.latestSnapshotId(dest).get

    val delta = PaimonInterchange.readDeltaBetween(spark, dest, s1, s3)
    val byKind = delta.groupBy($"_VALUE_KIND").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byKind(3) == 2L, "the MOR delete tails as two tombstone rows")
    assert(byKind(0) == 5L, "the append tails as five inserts")
    assert(delta.filter($"_VALUE_KIND" === 3)
      .select($"_KEY_k").collect().map(_.getLong(0)).toSet == Set(3L, 4L))

    // a rewriting merge is a COMPACT snapshot: tailing it would silently
    // miss copy-on-write deletions, so it refuses
    t.merge((0L until 5L).toDF("k").select($"k", lit("z").as("v")),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val s4 = PaimonInterchange.latestSnapshotId(dest).get
    val e = intercept[IllegalArgumentException](
      PaimonInterchange.readDeltaBetween(spark, dest, s3, s4).count())
    assert(e.getMessage.contains("not an APPEND"))

    // windows beyond the head or below retained history refuse
    val e2 = intercept[IllegalArgumentException](
      PaimonInterchange.readDeltaBetween(spark, dest, s1, s4 + 10))
    assert(e2.getMessage.contains("beyond the latest"))
    PaimonInterchange.expireSnapshots(dest, 1)
    val e3 = intercept[IllegalArgumentException](
      PaimonInterchange.readDeltaBetween(spark, dest, s1, s4))
    assert(e3.getMessage.contains("undeliverable"))
  }

  test("changelog mirroring: CDF parity with RowKinds; expiry reclaims the feed") {
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_pm_cl").toString)
    t.create(schema, buckets = 2, changelog = true)
    val dest = Files.createTempDirectory("graft_pm_cld").toString
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    t.merge(Seq((1L, "a2")).toDF("k", "v"), Seq(2L).toDF("k"))
    PaimonInterchange.mirror(spark, t, dest)
    val latest = PaimonInterchange.latestSnapshotId(dest).get

    val feed = PaimonInterchange.readChangelogBetween(spark, dest, 0L, latest)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == 2L)
    assert(byType("update_preimage") == 1L && byType("update_postimage") == 1L)
    assert(byType("delete") == 1L)
    assert(feed.filter($"_change_type" === "update_preimage")
      .select($"v").head().getString(0) == "a", "pre-images carry the OLD value")
    // windowing: only the second data commit's changes
    val w = PaimonInterchange.readChangelogBetween(spark, dest, latest - 1, latest)
    assert(w.count() == 3L)
    assert(w.select($"_commit_version").distinct().head().getLong(0) ==
      t.latestVersion(), "_commit_version is the mirrored lakehouse version")
    // the snapshot records changelog bookkeeping
    val snapNode = json(Paths.get(dest, "snapshot", s"snapshot-$latest"))
    assert(!snapNode.get("changelogManifestList").isNull)
    assert(snapNode.get("changelogRecordCount").asLong() == 3L)
    // changelog files never pollute live state
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)

    // expiry reclaims expired changelog files; a window into them refuses
    t.merge(Seq((9L, "z")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    PaimonInterchange.expireSnapshots(dest, 1)
    val e = intercept[IllegalArgumentException](
      PaimonInterchange.readChangelogBetween(spark, dest, 0L,
        PaimonInterchange.latestSnapshotId(dest).get).count())
    assert(e.getMessage.contains("undeliverable"), e.getMessage)
  }

  test("mirror crash recovery: a commit without its snapshot redoes cleanly") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_crash").toString
    t.merge((0L until 20L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val s1 = PaimonInterchange.latestSnapshotId(dest).get

    // a bucket-rewriting merge, mirrored — then simulate a crash BEFORE
    // snapshot-N landed: everything else of the commit (manifests, data
    // files, the versioned tracking sidecar) is already on disk
    t.merge((0L until 20L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val s2 = PaimonInterchange.latestSnapshotId(dest).get
    assert(s2 == s1 + 1)
    Files.delete(Paths.get(dest, "snapshot", s"snapshot-$s2"))
    Files.write(Paths.get(dest, "snapshot", "LATEST"),
      s1.toString.getBytes(UTF_8))

    // resume: the redo must not be poisoned by the orphaned sidecar (the
    // pre-fix shared sidecar had already dropped the removed sources, so
    // the redo's coverage check exploded)
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.latestSnapshotId(dest).get == s2)
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    // and the mirror continues normally afterwards
    t.deleteWhere(Seq(5L).toDF("k"))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    val back2 = PaimonInterchange.importPaimon(spark, dest)
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)
  }

  test("mirror: schema evolution appends schema-1; old files read as null") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_evo").toString
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val evolved = TableSchema(
      StructType(schema.struct.fields :+ StructField("extra", LongType)),
      primaryKeys = Seq("k"))
    t.updateMeta(evolved)
    t.merge(Seq((2L, "b", 7L)).toDF("k", "v", "extra"),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    assert(Files.exists(Paths.get(dest, "schema", "schema-1")))
    val latest = json(Paths.get(dest, "snapshot",
      s"snapshot-${PaimonInterchange.latestSnapshotId(dest).get}"))
    assert(latest.get("schemaId").asLong() == 1L)
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v", "extra"))
    assert(back.filter($"k" === 1L).select($"extra").head().isNullAt(0))
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  private val partSchema = TableSchema(
    StructType(Seq(
      StructField("dt", StringType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt"))

  private def newPartTable(changelog: Boolean = false): LakehouseTable = {
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_pmp_src").toString)
    t.create(partSchema, buckets = 2, changelog = changelog)
    t
  }

  private val noPartKeys = spark.range(0)
    .select(lit("").as("dt"), $"id".as("k"))

  private def assertSame(dest: String, t: LakehouseTable): Unit = {
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
      "the mirrored Paimon state must equal the lakehouse live state")
  }

  test("partitioned mirror: rewrites, tombstones, pruning, expiry") {
    val t = newPartTable()
    val dest = Files.createTempDirectory("graft_pmp_m").toString
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 4L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"), noPartKeys)
    // 2 snapshots: the create (meta-only) commit and the first merge
    assert(PaimonInterchange.mirror(spark, t, dest) == 2)
    // update a subset -> lakehouse COW bucket rewrites -> DELETE entries
    // against partition-qualified mirrored files
    t.merge(Seq(("a", 1L, "A1"), ("b", 3L, "B3")).toDF("dt", "k", "v"), noPartKeys)
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assertSame(dest, t)
    // MOR deletes -> tombstone files under their own partition dirs
    t.deleteWhere(Seq(("a", 2L), ("b", 4L)).toDF("dt", "k"))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.mirror(spark, t, dest) == 0)
    assertSame(dest, t)
    val snap = PaimonInterchange.readTable(dest)
    assert(snap.partitionKeys == Seq("dt") && snap.trimmedKeys == Seq("k"))
    assert(snap.files.exists(_.deleteRows > 0), "tombstones must ride as files")
    assert(snap.files.forall(_.partition.nonEmpty),
      "every live mirrored file carries its partition tuple")
    // manifest-level partition pruning on the mirrored table
    val pruned = PaimonInterchange.importPaimon(spark, dest,
      partitionFilter = Map("dt" -> "a"))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("dt=a")),
      "a partition-filtered import must open only that partition's files")
    assert(pruned.select($"k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // expiry walks partition-qualified data paths: push past the manifest
    // compaction threshold so net-dead files drop out of the base chain,
    // then expire — the rewritten files must be PHYSICALLY reclaimed from
    // their p=v/bucket-N dirs (a wrong path would silently delete nothing)
    (1 to 17).foreach { i =>
      t.merge(Seq(("a", 1L, s"A$i")).toDF("dt", "k", "v"), noPartKeys)
    }
    assert(PaimonInterchange.mirror(spark, t, dest) == 17)
    val (expired, _, dataGone) = PaimonInterchange.expireSnapshots(dest, 1)
    assert(expired == 20 && dataGone > 0,
      s"expiry must reclaim rewritten partitioned files (got $expired/$dataGone)")
    assertSame(dest, t)
  }

  test("partitioned mirror after a compaction: partial death rescues") {
    val t = newPartTable()
    val dest = Files.createTempDirectory("graft_pmp_rsc").toString
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 8L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"), noPartKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2,
      "fixture must occupy both lakehouse buckets")
    PaimonInterchange.mirror(spark, t, dest)
    // compaction merges each (partition, Paimon bucket)'s files, which
    // carry rows of BOTH lakehouse buckets, into one file
    assert(PaimonInterchange.compact(spark, dest) > 0)
    // rewrite ONE lakehouse bucket: each merged file goes partially dead —
    // without the rescue, the untouched bucket's rows would silently vanish
    t.merge(Seq(("a", 1L, "A1")).toDF("dt", "k", "v"), noPartKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2,
      "the rewrite must leave the other lakehouse bucket's files live")
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assert(PaimonInterchange.readTable(dest).files.exists(_.fileName.contains("-r")),
      "the rewrite must cut a compacted file apart")
    assertSame(dest, t)
    // post-rescue the sidecar is exact per lakehouse bucket: further
    // rewrites kill only their own bucket's mirrored rows
    t.merge(Seq(("b", 2L, "B2")).toDF("dt", "k", "v"), noPartKeys)
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assertSame(dest, t)
    t.deleteWhere(Seq(("a", 3L), ("b", 5L)).toDF("dt", "k"))
    assert(PaimonInterchange.mirror(spark, t, dest) == 1)
    assertSame(dest, t)
  }

  test("partitioned changelog + delta reads walk p=v paths") {
    val t = newPartTable(changelog = true)
    val dest = Files.createTempDirectory("graft_pmp_cl").toString
    t.merge(Seq(("a", 1L, "x"), ("b", 1L, "y")).toDF("dt", "k", "v"), noPartKeys)
    PaimonInterchange.mirror(spark, t, dest)
    t.merge(Seq(("a", 1L, "x2")).toDF("dt", "k", "v"), noPartKeys)
    PaimonInterchange.mirror(spark, t, dest)
    val latest = PaimonInterchange.latestSnapshotId(dest).get
    val feed = PaimonInterchange.readChangelogBetween(spark, dest, 0L, latest)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == 2L)
    assert(byType("update_preimage") == 1L && byType("update_postimage") == 1L)
    assert(feed.filter($"_change_type" === "update_preimage")
      .select($"v").head().getString(0) == "x")
    assert(feed.inputFiles.forall(f => f.contains("dt=a") || f.contains("dt=b")),
      "changelog files live under partition directories")

    // delta tail: appends + a MOR delete, tombstone rows carry their
    // partition in the value columns' dt (for routing) and _KEY_ trimmed key
    val t2 = newPartTable()
    val d2 = Files.createTempDirectory("graft_pmp_dl").toString
    t2.append(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("dt", "k", "v"))
    PaimonInterchange.mirror(spark, t2, d2)
    val s1 = PaimonInterchange.latestSnapshotId(d2).get
    t2.deleteWhere(Seq(("b", 2L)).toDF("dt", "k"))
    t2.append(Seq(("a", 3L, "z")).toDF("dt", "k", "v"))
    PaimonInterchange.mirror(spark, t2, d2)
    val s2 = PaimonInterchange.latestSnapshotId(d2).get
    val delta = PaimonInterchange.readDeltaBetween(spark, d2, s1, s2)
    assert(delta.filter(col(PaimonInterchange.KindCol) ===
      PaimonInterchange.KindDelete).select($"_KEY_k").head().getLong(0) == 2L)
    assert(delta.filter(col(PaimonInterchange.KindCol) ===
      PaimonInterchange.KindInsert).select($"_KEY_k").head().getLong(0) == 3L)
  }

  test("full compaction: one file per bucket, fast-path import, mirror resumes") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_pm_cpt").toString
    t.merge((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    t.merge((1L to 10L).map(k => (k, s"w$k")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    t.deleteWhere(Seq(39L, 40L).toDF("k"))
    PaimonInterchange.mirror(spark, t, dest)
    val before = PaimonInterchange.readTable(dest)
    assert(before.files.groupBy(_.bucket).exists(_._2.size > 1) &&
      before.files.exists(_.deleteRows > 0), "fixture must be fragmented")

    val compacted = PaimonInterchange.compact(spark, dest)
    assert(compacted > 0)
    val after = PaimonInterchange.readTable(dest)
    assert(after.files.groupBy(f => (f.partition, f.bucket)).forall(_._2.size == 1),
      "full compaction leaves at most one file per bucket")
    assert(after.files.forall(_.deleteRows == 0), "tombstones are merged away")
    assert(after.files.exists(_.level == 5), "merged files sit at max level")
    assert(after.commitIdentifier == before.commitIdentifier,
      "a compaction repeats the head's commitIdentifier")
    val back = PaimonInterchange.importPaimon(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    // the no-overlap fast path: the import plan carries NO merge window
    assert(!back.queryExecution.optimizedPlan.toString.contains("row_number"),
      "a fully compacted table must import without the LSM merge window")
    assert(PaimonInterchange.compact(spark, dest) == 0, "idempotent when compact")

    // incremental consumers SKIP the pure compaction instead of refusing
    val sBefore = PaimonInterchange.latestSnapshotId(dest).get
    t.append(Seq((50L, "x")).toDF("k", "v"))
    PaimonInterchange.mirror(spark, t, dest)
    val sAfter = PaimonInterchange.latestSnapshotId(dest).get
    val delta = PaimonInterchange.readDeltaBetween(spark, dest, sBefore - 1, sAfter)
    assert(delta.select($"_KEY_k").collect().map(_.getLong(0)).toSeq == Seq(50L),
      "the window spanning the compaction carries only the real new change")
    // the resumed mirror stays exact after a source rewrite of the
    // compacted files (sidecar unions sources; rescue handles splits)
    t.merge(Seq((5L, "z5")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    PaimonInterchange.mirror(spark, t, dest)
    val back2 = PaimonInterchange.importPaimon(spark, dest)
    val want2 = t.read()
    assert(back2.exceptAll(want2).isEmpty && want2.exceptAll(back2).isEmpty)
  }

  test("sink option full-compaction.delta-commits compacts the mirror") {
    import graft.core.{CreateTableEvent, TableId}
    val root = Files.createTempDirectory("graft_pm_fce").toString
    val sink = DataSinks.forDef(spark, graft.pipeline.SinkDef(
      "paimon", None, Map(
        "path" -> root, "buckets" -> "2",
        "full-compaction.delta-commits" -> "3")))
      .asInstanceOf[MirroredLakehouseSink]
    val tid = TableId.of("app", "kv")
    sink.applySchemaChange(CreateTableEvent(tid, schema))
    val noKeys = spark.range(0).select($"id".as("k"))
    // two overlapping batches fragment the buckets; the third mirrored
    // snapshot (create-meta + 2 data commits) crosses the cadence and the
    // sink runs a full compaction, so the external table stays fast-path
    sink.writeBatch(tid, (1L to 20L).map(k => (k, s"a$k")).toDF("k", "v"), noKeys)
    sink.writeBatch(tid, (1L to 10L).map(k => (k, s"b$k")).toDF("k", "v"), noKeys)
    val mdir = sink.mirrorDir(tid)
    val snap = PaimonInterchange.readTable(mdir)
    assert(snap.files.groupBy(f => (f.partition, f.bucket)).forall(_._2.size == 1),
      "the compaction cadence must leave one file per bucket")
    val back = PaimonInterchange.importPaimon(spark, mdir)
    assert(!back.queryExecution.optimizedPlan.toString.contains("row_number"),
      "the maintained mirror imports on the no-overlap fast path")
    val got = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.take(10).toSeq == (1L to 10L).map(k => (k, s"b$k")) &&
      got.drop(10).toSeq == (11L to 20L).map(k => (k, s"a$k")))
    // non-paimon formats refuse the option instead of ignoring it
    intercept[IllegalArgumentException](DataSinks.forDef(spark,
      graft.pipeline.SinkDef("delta", None, Map(
        "path" -> root, "full-compaction.delta-commits" -> "2"))))
  }

  test("partitioned compaction scopes by partitionFilter") {
    val t = newPartTable()
    val dest = Files.createTempDirectory("graft_pmp_cpt").toString
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 6L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"), noPartKeys)
    PaimonInterchange.mirror(spark, t, dest)
    t.merge(Seq(("a", 1L, "A1"), ("b", 1L, "B1")).toDF("dt", "k", "v"), noPartKeys)
    PaimonInterchange.mirror(spark, t, dest)
    t.deleteWhere(Seq(("a", 6L), ("b", 6L)).toDF("dt", "k"))
    PaimonInterchange.mirror(spark, t, dest)
    // scoped: only dt=a compacts; dt=b stays fragmented
    assert(PaimonInterchange.compact(spark, dest,
      partitionFilter = Map("dt" -> "a")) > 0)
    val mid = PaimonInterchange.readTable(dest)
    assert(mid.files.filter(_.partition == Seq("a"))
      .groupBy(_.bucket).forall(_._2.size == 1))
    assert(mid.files.filter(_.partition == Seq("b"))
      .exists(_.deleteRows > 0), "the out-of-scope partition is untouched")
    assertSame(dest, t)
    // the rest compacts; import takes the fast path
    assert(PaimonInterchange.compact(spark, dest) > 0)
    val back = PaimonInterchange.importPaimon(spark, dest)
    assert(!back.queryExecution.optimizedPlan.toString.contains("row_number"))
    assertSame(dest, t)
  }
}
