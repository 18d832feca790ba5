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

/** Delta `_delta_log` interchange: the emitted commit is pinned against the
  * public protocol spec (action shapes, schemaString, typed stats, txn
  * bookkeeping), the round trip is data-identical, the export is
  * deterministic byte-for-byte, and every unsupported-feature path fails
  * loudly instead of reading wrong data. */
class DeltaInterchangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def newTable(): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_dl_src").toString)
    t.create(schema, buckets = 2)
    t
  }

  private def logLines(dest: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(
      Paths.get(dest, "_delta_log", f"${0L}%020d.json")).asScala.toSeq
      .filter(_.trim.nonEmpty).map(mapper.readTree)

  test("round trip: export -> import is data-identical; txns survive") {
    val t = newTable()
    t.merge((0L until 100L).toDF("k").select($"k", concat(lit("v"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    t.merge((50L until 120L).toDF("k").select($"k", concat(lit("w"), $"k").as("v")),
      spark.range(0).select($"id".as("k")), txn = Some(("app-a", 7L)))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, dest)
    val back = DeltaInterchange.importDelta(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.txns - DeltaInterchange.MirrorAppId == Map("app-a" -> 7L),
      "exactly-once bookkeeping must survive")
    assert(snap.txns(DeltaInterchange.MirrorAppId) == t.latestVersion(),
      "the export records the mirror's progress")
    assert(snap.numRecords == 120L)
    assert(snap.schema == schema.struct)
  }

  test("the commit is spec-shaped: protocol first, metaData, typed stats") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b"), (30L, "c")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, dest)
    val lines = logLines(dest)
    assert(lines.head.has("protocol"))
    assert(lines.head.get("protocol").get("minReaderVersion").asInt() == 1)
    val md = lines(1).get("metaData")
    assert(md.get("format").get("provider").asText() == "parquet")
    assert(DataType.fromJson(md.get("schemaString").asText()) == schema.struct)
    assert(md.get("partitionColumns").size() == 0)
    val adds = lines.filter(_.has("add")).map(_.get("add"))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      assert(Files.exists(Paths.get(dest, a.get("path").asText())),
        "every add must point at a copied data file")
      assert(a.get("size").asLong() > 0 && a.get("dataChange").asBoolean())
      val stats = mapper.readTree(a.get("stats").asText())
      assert(stats.get("numRecords").asLong() > 0)
      // numeric column stats must be JSON numbers, not strings — string
      // min/max would silently break a reader's data skipping
      Option(stats.get("minValues")).foreach { mins =>
        if (mins.has("k")) assert(mins.get("k").isNumber)
      }
    }
    assert(adds.map(a =>
      mapper.readTree(a.get("stats").asText()).get("numRecords").asLong()).sum == 3L)
  }

  test("export is deterministic: two exports are byte-identical") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val d1 = Files.createTempDirectory("graft_dl_dst").toString
    val d2 = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, d1)
    DeltaInterchange.export(spark, t, d2)
    def log(d: String) = new String(Files.readAllBytes(
      Paths.get(d, "_delta_log", f"${0L}%020d.json")), UTF_8)
    assert(log(d1) == log(d2))
  }

  test("MOR delete files refuse export until compacted") {
    val t = newTable()
    t.merge((0L until 20L).toDF("k").select($"k", lit("x").as("v")),
      spark.range(0).select($"id".as("k")))
    t.deleteWhere(Seq(3L, 4L).toDF("k"))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    val e = intercept[IllegalArgumentException] {
      DeltaInterchange.export(spark, t, dest)
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
    t.compact(full = true)
    DeltaInterchange.export(spark, t, dest) // now fine
    assert(DeltaInterchange.importDelta(spark, dest).count() == 18L)
  }

  test("unsupported Delta features fail loudly") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, dest)
    val logFile = Paths.get(dest, "_delta_log", f"${0L}%020d.json")
    val original = new String(Files.readAllBytes(logFile), UTF_8)

    // reader versions past the table-features protocol (3) refuse; v3
    // itself now reads (column mapping / deletion vectors implemented —
    // unknown readerFeatures refusals live in DeltaReaderFeaturesSpec)
    Files.write(logFile, original.replace(
      "\"minReaderVersion\":1", "\"minReaderVersion\":4").getBytes(UTF_8))
    val e1 = intercept[IllegalArgumentException] { DeltaInterchange.readLog(spark, dest) }
    assert(e1.getMessage.contains("minReaderVersion"))

    // partitioned tables now READ (partitionValues project back); the
    // refusal that remains is a partition column whose string
    // serialization is ambiguous (timestamp)
    Files.write(logFile, original.replace(
      "\"partitionColumns\":[]", "\"partitionColumns\":[\"v\"]").getBytes(UTF_8))
    assert(DeltaInterchange.readLog(spark, dest).partitionColumns == Seq("v"))
    Files.write(logFile, original
      .replace("\"partitionColumns\":[]", "\"partitionColumns\":[\"v\"]")
      .replace("""{\"name\":\"v\",\"type\":\"string\"""",
        """{\"name\":\"v\",\"type\":\"timestamp\"""").getBytes(UTF_8))
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterchange.importDelta(spark, dest)
    }
    assert(e2.getMessage.contains("serialization"))

    // checkpoint marker
    Files.write(logFile, original.getBytes(UTF_8))
    Files.write(logFile.getParent.resolve("_last_checkpoint"), "{}".getBytes(UTF_8))
    val e3 = intercept[IllegalArgumentException] { DeltaInterchange.readLog(spark, dest) }
    assert(e3.getMessage.contains("checkpoint"))
  }

  test("mirror: one Delta commit per lakehouse commit, incremental resume, no-op") {
    val t = newTable()
    t.merge((0L until 40L).toDF("k").select($"k", lit("a").as("v")),
      spark.range(0).select($"id".as("k")))
    t.merge((40L until 60L).toDF("k").select($"k", lit("b").as("v")),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_mir").toString
    val w1 = DeltaInterchange.mirror(spark, t, dest)
    assert(w1 >= 1)
    val back1 = DeltaInterchange.importDelta(spark, dest)
    assert(back1.exceptAll(t.read()).isEmpty && t.read().exceptAll(back1).isEmpty)
    // no-op call: nothing new to mirror
    assert(DeltaInterchange.mirror(spark, t, dest) == 0)
    // a later commit REWRITES touched buckets: its Delta commit must carry
    // both adds and removes, and replay to the new state
    t.merge((10L until 20L).toDF("k").select($"k", lit("c").as("v")),
      spark.range(0).select($"id".as("k")))
    val w2 = DeltaInterchange.mirror(spark, t, dest)
    assert(w2 == 1, "exactly the one new lakehouse commit mirrors")
    val lines = Files.list(Paths.get(dest, "_delta_log")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    assert(lines == lines.indices.map(i => f"${i.toLong}%020d.json"),
      "Delta versions must stay contiguous")
    val lastCommit = Files.readAllLines(
      Paths.get(dest, "_delta_log", lines.last)).asScala.map(mapper.readTree)
    assert(lastCommit.exists(_.has("add")) && lastCommit.exists(_.has("remove")),
      "a rewriting merge mirrors as adds + removes")
    val back2 = DeltaInterchange.importDelta(spark, dest)
    assert(back2.exceptAll(t.read()).isEmpty && t.read().exceptAll(back2).isEmpty)
    // progress txn carries the lakehouse version
    assert(DeltaInterchange.readLog(spark, dest)
      .txns(DeltaInterchange.MirrorAppId) == t.latestVersion())
  }

  test("mirror: schema evolution re-emits metaData; import reads the evolved schema") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_mir").toString
    DeltaInterchange.mirror(spark, t, dest)
    val evolved = TableSchema(
      StructType(schema.struct.fields :+ StructField("extra", LongType)),
      primaryKeys = Seq("k"))
    t.updateMeta(evolved)
    t.merge(Seq((2L, "b", 7L)).toDF("k", "v", "extra"),
      spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.schema == evolved.struct, "the latest metaData wins")
    val back = DeltaInterchange.importDelta(spark, dest)
    assert(back.columns.toSeq == Seq("k", "v", "extra"))
    assert(back.count() == 2L)
    // the old file's missing column reads as null under the evolved schema
    assert(back.filter($"k" === 1L).select($"extra").head().isNullAt(0))
  }

  test("mirror refuses a log without its progress txn (not a mirror)") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, dest)
    // the same log without the mirror's progress txn: a Delta table that
    // another writer made
    val log = Paths.get(dest, "_delta_log", f"${0L}%020d.json")
    Files.write(log, Files.readAllLines(log).asScala
      .filterNot(_.contains(DeltaInterchange.MirrorAppId))
      .mkString("", "\n", "\n").getBytes(UTF_8))
    val e = intercept[IllegalStateException] { DeltaInterchange.mirror(spark, t, dest) }
    assert(e.getMessage.contains("not a mirror"))
  }

  test("remove actions replay: a hand-written second commit drops a file") {
    val t = newTable()
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_dst").toString
    DeltaInterchange.export(spark, t, dest)
    val adds = logLines(dest).filter(_.has("add")).map(_.get("add").get("path").asText())
    assert(adds.size == 2)
    Files.write(Paths.get(dest, "_delta_log", f"${1L}%020d.json"),
      s"""{"remove":{"path":"${adds.head}","deletionTimestamp":0,"dataChange":true}}
         |""".stripMargin.getBytes(UTF_8))
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.files.size == 1 && snap.files.head.endsWith(adds(1)))
  }

  test("CDF: changelog tables mirror cdc actions; readChangeFeed windows them") {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_dl_cdf").toString)
    t.create(schema, buckets = 2, changelog = true)
    val dest = Files.createTempDirectory("graft_dl_cdf_dst").toString
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    t.merge(Seq((1L, "a2")).toDF("k", "v"), Seq(2L).toDF("k"))
    DeltaInterchange.mirror(spark, t, dest)

    // protocol + property are CDF-shaped
    val lines = logLines(dest)
    assert(lines.head.get("protocol").get("minWriterVersion").asInt() == 4)
    assert(lines(1).get("metaData").get("configuration")
      .get("delta.enableChangeDataFeed").asText() == "true")

    // the full window carries inserts, the update pair, and the delete
    val feed = DeltaInterchange.readChangeFeed(spark, dest, -1L, 2L)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == 2L)
    assert(byType("update_preimage") == 1L && byType("update_postimage") == 1L)
    assert(byType("delete") == 1L)
    // windowing: only the second commit's changes
    val w = DeltaInterchange.readChangeFeed(spark, dest, 1L, 2L)
    assert(w.select($"_commit_version").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    assert(w.count() == 3L)
    assert(w.filter($"_change_type" === "update_postimage")
      .select($"v").head().getString(0) == "a2")

    // CDF survives checkpoint + cleanup for NEWER windows; a window
    // reaching below the cleaned-up history refuses
    DeltaInterchange.checkpoint(spark, dest)
    DeltaInterchange.cleanupLog(dest)
    t.merge(Seq((3L, "c")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    val w2 = DeltaInterchange.readChangeFeed(spark, dest, 2L, 3L)
    assert(w2.count() == 1L &&
      w2.head().getString(w2.schema.fieldIndex("_change_type")) == "insert")
    val e = intercept[IllegalArgumentException] {
      DeltaInterchange.readChangeFeed(spark, dest, -1L, 3L)
    }
    assert(e.getMessage.contains("undeliverable"))

    // a toVersion beyond the latest commit gets its own diagnostic, not
    // the misleading retention message
    val e3 = intercept[IllegalArgumentException] {
      DeltaInterchange.readChangeFeed(spark, dest, 2L, 99L)
    }
    assert(e3.getMessage.contains("beyond the latest commit"))

    // a non-CDF table refuses the API outright
    val plain = newTable()
    plain.merge(Seq((1L, "x")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    val dest2 = Files.createTempDirectory("graft_dl_cdf2").toString
    DeltaInterchange.mirror(spark, plain, dest2)
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterchange.readChangeFeed(spark, dest2, -1L, 1L)
    }
    assert(e2.getMessage.contains("enableChangeDataFeed"))
  }

  test("checkpoint: consolidated single-file state + _last_checkpoint pointer") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_dl_ck").toString
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("a"), $"k").as("v")),
      spark.range(0).select($"id".as("k")), txn = Some(("app-x", 3L)))
    DeltaInterchange.mirror(spark, t, dest)
    t.merge((0L until 30L).toDF("k").select($"k", concat(lit("b"), $"k").as("v")),
      spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    val v = DeltaInterchange.checkpoint(spark, dest)
    assert(v == 2L, "checkpoint lands at the latest commit version (create + 2 merges)")
    val logDir = Paths.get(dest, "_delta_log")
    assert(Files.exists(logDir.resolve(f"$v%020d.checkpoint.parquet")))
    val last = mapper.readTree(Files.readAllBytes(logDir.resolve("_last_checkpoint")))
    assert(last.get("version").asLong() == v && last.get("size").asLong() > 0)
    // checkpoint-aware read equals the from-zero replay
    val viaCkpt = DeltaInterchange.readLog(spark, dest)
    assert(viaCkpt.txns.get("app-x").contains(3L), "txns survive the checkpoint")
    val back = DeltaInterchange.importDelta(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("cleanupLog deletes pre-checkpoint commits; readers and mirror resume") {
    val t = newTable()
    val dest = Files.createTempDirectory("graft_dl_ck").toString
    t.merge(Seq((1L, "a")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    t.merge(Seq((2L, "b")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    DeltaInterchange.mirror(spark, t, dest)
    DeltaInterchange.checkpoint(spark, dest)
    assert(DeltaInterchange.cleanupLog(dest) == 3, "all pre-checkpoint JSON commits removed")
    val logDir = Paths.get(dest, "_delta_log")
    assert(!Files.exists(logDir.resolve(f"${0L}%020d.json")))
    // the replay seeds from the checkpoint: no JSON at or below it is needed
    assert(DeltaInterchange.readLog(spark, dest).numRecords == 2L)
    val back = DeltaInterchange.importDelta(spark, dest)
    assert(back.count() == 2L)
    // the mirror resumes THROUGH the checkpoint: next commit replays only
    // the new lakehouse version and lands at delta version 2
    t.merge(Seq((3L, "c")).toDF("k", "v"), spark.range(0).select($"id".as("k")))
    assert(DeltaInterchange.mirror(spark, t, dest) == 1)
    assert(Files.exists(logDir.resolve(f"${3L}%020d.json")),
      "post-checkpoint commits continue the version sequence")
    val want = t.read()
    val back2 = DeltaInterchange.importDelta(spark, dest)
    assert(back2.exceptAll(want).isEmpty && want.exceptAll(back2).isEmpty)
    // cleanup without a checkpoint advance is a no-op for newer commits
    assert(DeltaInterchange.cleanupLog(dest) == 0)
  }

  test("foreign partitioned table: add.partitionValues project back as columns") {
    // hand-write the log a real partitioned Delta writer produces: files
    // in Hive layout WITHOUT the partition column, values only in the log
    val dest = Files.createTempDirectory("graft_dl_part").toString
    val logDir = Paths.get(dest, "_delta_log")
    Files.createDirectories(logDir)
    def writeData(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("dlp").toString
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dest, name))
    }
    writeData("p-en-0.parquet", Seq((1L, "a"), (2L, "b")))
    writeData("p-de-0.parquet", Seq((3L, "c")))
    writeData("p-null-0.parquet", Seq((4L, "d")))
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}",""" +
        """"partitionColumns":["lang"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"p-en-0.parquet","partitionValues":{"lang":"en"},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":2}"}}""",
      """{"add":{"path":"p-de-0.parquet","partitionValues":{"lang":"de"},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":1}"}}""",
      """{"add":{"path":"p-null-0.parquet","partitionValues":{"lang":null},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":1}"}}""")
    Files.write(logDir.resolve(f"${0L}%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))

    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.partitionColumns == Seq("lang"))
    val back = DeltaInterchange.importDelta(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(back == Seq((1L, "a", "en"), (2L, "b", "en"),
      (3L, "c", "de"), (4L, "d", null)),
      "partition values project back per file, nulls included")
  }

  test("checkpoint preserves partition info: partitioned tables survive cleanup") {
    // a checkpoint that dropped add.partitionValues / metaData
    // .partitionColumns would silently read the table as unpartitioned
    // once cleanupLog removes the JSON commits — the partition columns
    // would come back all-null
    val dest = Files.createTempDirectory("graft_dl_pck").toString
    val logDir = Paths.get(dest, "_delta_log")
    Files.createDirectories(logDir)
    def writeData(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("dlpc").toString
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dest, name))
    }
    writeData("p-en-0.parquet", Seq((1L, "a"), (2L, "b")))
    writeData("p-de-0.parquet", Seq((3L, "c")))
    writeData("p-nul-0.parquet", Seq((4L, "d")))
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}",""" +
        """"partitionColumns":["lang"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"p-en-0.parquet","partitionValues":{"lang":"en"},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":2}"}}""",
      """{"add":{"path":"p-de-0.parquet","partitionValues":{"lang":"de"},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":1}"}}""",
      // a NULL partition value: the checkpoint must carry it as a null,
      // not stringify it to "null" (NullNode.asText()), which would come
      // back as a wrong non-null string partition value
      """{"add":{"path":"p-nul-0.parquet","partitionValues":{"lang":null},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":1}"}}""")
    Files.write(logDir.resolve(f"${0L}%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
    DeltaInterchange.checkpoint(spark, dest)
    assert(DeltaInterchange.cleanupLog(dest) == 1,
      "the only JSON commit is gone; the checkpoint is the whole state")
    val back = DeltaInterchange.importDelta(spark, dest).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(back == Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"),
      (4L, "d", null)),
      "partition values project back from the checkpoint alone, nulls as NULLS")
  }

  test("mirrored sink: drop removes the external mirror; recreate starts clean") {
    val root = Files.createTempDirectory("graft_dl_drop").toString
    val sink = new MirroredLakehouseSink(spark, root, "delta", buckets = 2)
    val tid = TableId.of("app", "users")
    sink.applySchemaChange(CreateTableEvent(tid, schema))
    sink.writeBatch(tid, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val mdir = Paths.get(sink.mirrorDir(tid))
    assert(Files.exists(mdir.resolve("_delta_log")))

    sink.applySchemaChange(DropTableEvent(tid))
    assert(!Files.exists(mdir),
      "the external mirror dies with the table — a survivor would serve " +
        "the dropped table's data or diff a recreate against its old head")

    // recreate: the inner table restarts at version 0 and the mirror
    // rebuilds from scratch with only the new table's rows
    sink.applySchemaChange(CreateTableEvent(tid, schema))
    sink.writeBatch(tid, Seq((9L, "z")).toDF("k", "v"),
      spark.range(0).select($"id".as("k")))
    val back = DeltaInterchange.importDelta(spark, mdir.toString)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((9L, "z")))
  }

  private def newPartTable(): LakehouseTable = {
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_dl_pmsrc").toString)
    t.create(TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt")), buckets = 2)
    t
  }

  test("partitioned export: split files, partitionValues, metaData columns") {
    val t = newPartTable()
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 5L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"),
      spark.range(0).select(lit("").as("dt"), $"id".as("k")))
    val dest = Files.createTempDirectory("graft_dl_pexp").toString
    DeltaInterchange.export(spark, t, dest)
    val lines = logLines(dest)
    val metaLine = lines.find(_.has("metaData")).get.get("metaData")
    assert(metaLine.get("partitionColumns").elements().asScala
      .map(_.asText()).toSeq == Seq("dt"))
    val addLines = lines.filter(_.has("add")).map(_.get("add"))
    assert(addLines.nonEmpty && addLines.forall(a =>
      a.get("partitionValues").has("dt")))
    assert(addLines.map(_.get("partitionValues").get("dt").asText()).toSet ==
      Set("a", "b"))
    // data files never store the partition column
    val f = Paths.get(dest, addLines.head.get("path").asText())
    assert(!spark.read.parquet(f.toString).columns.contains("dt"))
    val back = DeltaInterchange.importDelta(spark, dest)
    val want = t.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
  }

  test("partitioned changelog mirror: cdc splits per partition, CDF projects back") {
    val t = new LakehouseTable(spark,
      Files.createTempDirectory("graft_dl_pcdc").toString)
    t.create(TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt")),
      buckets = 2, changelog = true)
    val dest = Files.createTempDirectory("graft_dl_pcdcd").toString
    val noKeys = spark.range(0).select(lit("").as("dt"), $"id".as("k"))
    t.merge(Seq(("a", 1L, "a1"), ("b", 2L, "b2")).toDF("dt", "k", "v"), noKeys)
    t.merge(Seq(("a", 1L, "A1"), ("b", 3L, "b3")).toDF("dt", "k", "v"), noKeys)
    assert(DeltaInterchange.mirror(spark, t, dest) == 3) // create + 2
    val feed = DeltaInterchange.readChangeFeed(spark, dest, -1L, 2L)
    // cdc files are the per-partition split files and never store dt
    assert(feed.inputFiles.nonEmpty && feed.inputFiles.forall(f =>
      f.contains("_change_data/") && f.contains("cdc-v")))
    assert(!spark.read.parquet(feed.inputFiles.min).columns.contains("dt"))
    val got = feed.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(got == Set(
      ("a", 1L, "a1", "insert", 1L), ("b", 2L, "b2", "insert", 1L),
      ("a", 1L, "a1", "update_preimage", 2L),
      ("a", 1L, "A1", "update_postimage", 2L),
      ("b", 3L, "b3", "insert", 2L)),
      "partition values project back onto every change row")
  }

  test("pk-less APPEND-ONLY partitioned mirror: copy commits; removals refuse") {
    // time-partitioned fact stream, Delta side (same shared machinery as
    // the Iceberg twin): single-partition append commits hard-copy with
    // no Spark job; an overwrite (removal) on a pk-less table refuses
    val tp = new LakehouseTable(spark,
      Files.createTempDirectory("graft_dl_ap_src").toString)
    tp.create(TableSchema(
      StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      partitionKeys = Seq("dt")), buckets = 2)
    val dest = Files.createTempDirectory("graft_dl_ap_dst").toString
    (0 until 3).foreach { i =>
      tp.append(Seq.tabulate(4)(j => (s"d$i", j.toLong, s"v$i$j"))
        .toDF("dt", "k", "v"))
    }
    assert(DeltaInterchange.mirror(spark, tp, dest) >= 3)
    val back = DeltaInterchange.importDelta(spark, dest)
    val want = tp.read()
    assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty)
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.files.nonEmpty && snap.files.forall(f =>
      spark.read.parquet(f).select("dt").distinct().count() == 1),
      "append-only commit files hard-copy (single partition)")
    tp.append(Seq(("d9", 0L, "x")).toDF("dt", "k", "v"), overwrite = true)
    val e = intercept[IllegalArgumentException](
      DeltaInterchange.mirror(spark, tp, dest))
    assert(e.getMessage.contains("PK-LESS"), e.getMessage)
  }

  test("partitioned mirror: split adds, name-mapped removals, checkpoint") {
    val t = newPartTable()
    val dest = Files.createTempDirectory("graft_dl_pmir").toString
    val noKeys = spark.range(0).select(lit("").as("dt"), $"id".as("k"))
    def same(): Unit = {
      val back = DeltaInterchange.importDelta(spark, dest)
      val want = t.read()
      assert(back.exceptAll(want).isEmpty && want.exceptAll(back).isEmpty,
        "the mirrored Delta state must equal the lakehouse live state")
    }
    val rows = for (dt <- Seq("a", "b"); k <- 1L to 8L) yield (dt, k, s"$dt$k")
    t.merge(rows.toDF("dt", "k", "v"), noKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2,
      "fixture must occupy both lakehouse buckets")
    assert(DeltaInterchange.mirror(spark, t, dest) >= 1)
    same()
    // whole-bucket rewrite: only that source bucket's split files die
    t.merge(Seq(("a", 1L, "A1")).toDF("dt", "k", "v"), noKeys)
    assert(t.snapshot().files.map(_.bucket).distinct.size == 2)
    assert(DeltaInterchange.mirror(spark, t, dest) == 1)
    same()
    // deletions flow as COW merge deletes (the mirror refuses MOR delete
    // FILES for all Delta mirrors — Delta has no equality deletes)
    t.merge(spark.range(0).select(lit("").as("dt"), $"id".as("k"),
      lit("").as("v")), Seq(("a", 2L), ("b", 3L)).toDF("dt", "k"))
    assert(DeltaInterchange.mirror(spark, t, dest) == 1)
    same()
    // checkpoint + cleanup keep the partition info; a resumed mirror and
    // import still agree after further commits
    DeltaInterchange.checkpoint(spark, dest)
    DeltaInterchange.cleanupLog(dest)
    t.merge(Seq(("b", 4L, "B4B")).toDF("dt", "k", "v"), noKeys)
    assert(DeltaInterchange.mirror(spark, t, dest) == 1)
    same()
  }
}
