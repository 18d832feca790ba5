package graft.sinks

import graft.SparkTestBase
import graft.core._
import graft.pipeline.{PipelineRunner, YamlPipelineParser}
import graft.sinks.LakehouseFormat.{AddFile, RemoveFile}
import graft.sources.cdc.{ChangeSourceRegistry, ScriptedChangeSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Merges into a table with deletion vectors ([[LakehouseFormat.Meta]]'s
  * write mode): only the batch's rows are written, and every older file
  * holding a replaced or deleted key is re-added with a vector of its dead
  * positions. Every read path, maintenance op and refusal honours them. */
class LakehouseDeletionVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def dvTable(buckets: Int = 2): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_dv").toString)
    t.create(schema, buckets, deletionVectors = true)
    t
  }

  private def noKeys(t: LakehouseTable): DataFrame = t.read().limit(0).select($"k")

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select($"k", $"v").as[(Long, String)].collect().toSeq.sortBy(_._1)

  private def upserts(kv: (Long, String)*): DataFrame = kv.toDF("k", "v")

  /** 20 keys in two commits, then key 3 updated and key 4 deleted. */
  private def merged(t: LakehouseTable): Seq[(Long, String)] = {
    t.merge(upserts((0L until 10L).map(i => i -> s"a$i"): _*), noKeys(t))
    t.merge(upserts((10L until 20L).map(i => i -> s"b$i"): _*), noKeys(t))
    t.merge(upserts(3L -> "x"), Seq(4L).toDF("k"))
    (0L until 20L).filter(_ != 4L).map(i =>
      i -> (if (i == 3L) "x" else if (i < 10) s"a$i" else s"b$i"))
  }

  test("a DV merge writes only the batch and re-adds each hit file with its ver") {
    val t = dvTable()
    merged(t)
    val v = t.latestVersion()
    val actions = t.history().collect { case (`v`, a) => a }
    val removed = actions.collect { case RemoveFile(p) => p }.toSet
    val reAdded = actions.collect { case a: AddFile if removed.contains(a.path) => a }
    val written = actions.collect { case a: AddFile if !removed.contains(a.path) => a }
    // the old rows of keys 3 and 4 live in files of the first commit only
    assert(reAdded.nonEmpty && reAdded.map(_.path).toSet == removed)
    assert(reAdded.forall(f => f.dv.nonEmpty && f.ver == 1L && f.ver < v), reAdded)
    assert(reAdded.flatMap(_.dv).map(_.cardinality).sum == 2L)
    // one sidecar per commit, under the commit's own directory
    assert(reAdded.flatMap(_.dv).map(_.path).distinct.size == 1)
    assert(written.map(_.path.takeWhile(_ != '/')).toSet ==
      reAdded.flatMap(_.dv).map(_.path.takeWhile(_ != '/')).toSet)
    // only the batch's one upserted row was written
    assert(spark.read.parquet(written.map(f => Paths.get(t.dir, f.path).toString): _*)
      .count() == 1L)
  }

  test("every read path applies the vectors; time travel sees each version's own") {
    val t = dvTable()
    val expected = merged(t)
    val v = t.latestVersion()
    assert(rows(t.read()) == expected)
    assert(rows(t.readWhere("k", 3L)) == Seq(3L -> "x"))
    assert(t.readWhere("k", 4L).isEmpty)
    assert(rows(t.scanWithFilters(Array("k", "v"), Array.empty)) == expected)
    assert(rows(t.read(Some(v - 1))).map(_._1) == (0L until 20L))
    assert(rows(spark.read.format("graft-lakehouse").load(t.dir)) == expected)
    // a second merge of the same file unions its old positions in
    t.merge(upserts(5L -> "y"), noKeys(t))
    assert(rows(t.read()) == expected.map { case (k, s) => k -> (if (k == 5L) "y" else s) })
    assert(t.snapshot().files.flatMap(_.dv).map(_.cardinality).sum == 3L)
    assert(rows(t.read(Some(v))) == expected)
  }

  test("a delete after an equality delete and a re-upsert keep the sequence rule") {
    val t = dvTable()
    t.merge(upserts((0L until 10L).map(i => i -> s"a$i"): _*), noKeys(t))
    t.deleteWhere(Seq(2L).toDF("k"))
    t.merge(upserts(2L -> "back", 3L -> "x"), noKeys(t))
    assert(rows(t.read()).toMap.get(2L).contains("back"))
    assert(rows(t.read()).size == 10)
    // the re-added first-commit files still predate the delete file
    val del = t.snapshot().deleteFiles.head
    assert(t.snapshot().files.filter(_.dv.nonEmpty).forall(_.ver < del.ver))
  }

  test("a vector on a file written before ADD COLUMN masks the right rows under mergeSchema") {
    val t = dvTable()
    t.merge(upserts((0L until 10L).map(i => i -> s"a$i"): _*), noKeys(t))
    val wide = TableSchema(StructType(schema.struct.fields :+ StructField("n", IntegerType)),
      Seq("k"))
    t.updateMeta(wide)
    t.merge(Seq((3L, "x", 7)).toDF("k", "v", "n"), Seq(6L).toDF("k"))
    val snap = t.snapshot()
    assert(snap.files.exists(f => f.dv.nonEmpty && f.ver < snap.metaVer))
    val got = t.read().select($"k", $"v", $"n").as[(Long, String, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got == (0L until 10L).filter(_ != 6L).map(i =>
      if (i == 3L) (3L, "x", Some(7)) else (i, s"a$i", None)))
  }

  test("compact() materializes every vector and reads identically") {
    val t = dvTable()
    val expected = merged(t)
    val (before, _) = t.compact()
    assert(before > 0)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(rows(t.read()) == expected)
  }

  test("the bucketed reader drops the dead rows of a one-row merge") {
    val t = dvTable(buckets = 4)
    t.merge(upserts((0L until 100L).map(i => i -> s"v$i"): _*), noKeys(t))
    t.merge(upserts(5L -> "updated"), Seq(6L).toDF("k"))
    val df = LakehouseBucketed.table(spark, t.dir)
    assert(df.filter($"k" === 5L).select($"v").as[String].collect().toSeq == Seq("updated"))
    assert(df.count() == 99L)
    assert(df.filter($"k" === 6L).isEmpty)
  }

  test("vacuum, checkpoints and expiry keep the live sidecars") {
    val t = dvTable()
    val expected = merged(t)
    (0 until t.checkpointInterval).foreach(i => t.merge(upserts(100L + i -> "c"), noKeys(t)))
    t.expireSnapshots(keepLast = 2)
    val live = expected ++ (0 until t.checkpointInterval).map(i => (100L + i) -> "c")
    t.vacuum(retentionMs = 0L)
    assert(t.snapshot().files.flatMap(_.dv).forall(d => Files.exists(Paths.get(t.dir, d.path))))
    assert(rows(t.read()) == live)
  }

  test("a bucket that reaches 32 files is rewritten instead of marked") {
    val t = dvTable(buckets = 1)
    (0L until 31L).foreach(i => t.merge(upserts(i -> s"a$i"), noKeys(t)))
    t.merge(upserts(0L -> "x"), noKeys(t))
    // 31 single-row files, one of them with a vector, and the new one
    assert(t.snapshot().files.size == 32 && t.snapshot().files.count(_.dv.nonEmpty) == 1)
    t.merge(upserts(1L -> "y"), noKeys(t))
    assert(t.snapshot().files.size == 1 && t.snapshot().files.forall(_.dv.isEmpty))
    assert(rows(t.read()) == (0L until 31L).map(i =>
      i -> (if (i == 0L) "x" else if (i == 1L) "y" else s"a$i")))
  }

  test("the change feed skips DV commits: each re-adds what it removes") {
    val t = dvTable()
    t.merge(upserts((0L until 10L).map(i => i -> s"a$i"): _*), noKeys(t))
    val v = t.latestVersion()
    t.merge(upserts(3L -> "x"), noKeys(t))
    t.merge(upserts(50L -> "new"), noKeys(t))
    // the first merge re-adds a file (a remove): skipped; the second hits
    // no old row and only adds
    assert(rows(t.readChangesBetween(v, t.latestVersion())) == Seq(50L -> "new"))
  }

  test("the lakehouse sink creates last-wins tables with vectors, the mirrored sink without") {
    val root = Files.createTempDirectory("graft_dv_sink").toString
    val id = TableId.parse("app.t")
    val sink = new LakehouseSink(spark, root, buckets = 2)
    sink.applySchemaChange(CreateTableEvent(id, schema))
    assert(sink.table(id).snapshot().meta.exists(_.deletionVectors))
    val cl = new LakehouseSink(spark, root + "-cl", buckets = 2, changelog = true)
    cl.applySchemaChange(CreateTableEvent(id, schema))
    assert(!cl.table(id).snapshot().meta.exists(_.deletionVectors))
    val mirrored = new MirroredLakehouseSink(spark, root + "-m", "delta", buckets = 2)
    mirrored.applySchemaChange(CreateTableEvent(id, schema))
    assert(!mirrored.table(id).snapshot().meta.exists(_.deletionVectors))
    // a table whose merge combines old and new rows merges copy-on-write
    val x = new LakehouseTable(spark, root + "-x")
    x.create(schema, 2, changelog = true, deletionVectors = true)
    assert(x.snapshot().meta.exists(m => m.changelog && !m.deletionVectors))
  }

  Seq("delta", "iceberg", "paimon").foreach { format =>
    test(s"$format: mirror and export refuse a version with deletion vectors") {
      val t = dvTable()
      merged(t)
      val f = format match {
        case "delta" => DeltaInterchange.MirrorFormat
        case "iceberg" => IcebergInterchange.MirrorFormat
        case _ => PaimonInterchange.MirrorFormat
      }
      val e1 = intercept[IllegalArgumentException](
        f.mirror(spark, t, Files.createTempDirectory(s"graft_dv_$format").toString))
      assert(e1.getMessage.contains("deletion vectors") && e1.getMessage.contains("compact()"))
      val e2 = intercept[IllegalArgumentException](
        f.export(spark, t, Files.createTempDirectory(s"graft_dv_$format").toString))
      assert(e2.getMessage.contains("deletion vectors") && e2.getMessage.contains("compact()"))
      // compacted, the head exports
      t.compact()
      f.export(spark, t, Files.createTempDirectory(s"graft_dv_$format").toString)
    }
  }

  test("a PK-changing UPDATE drained into a lakehouse sink retracts its before key") {
    val id = TableId.parse("app.moved")
    val src = new ScriptedChangeSource(id, schema, (1L to 10L).map(i => Map("k" -> i, "v" -> s"v$i")))
    ChangeSourceRegistry.register("dv-moved", src)
    try {
      val sinkDir = Files.createTempDirectory("graft_dv_moved").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        s"""source:
           |  type: cdc
           |  sourceId: dv-moved
           |sink:
           |  type: lakehouse
           |  path: $sinkDir
           |  buckets: 2
           |pipeline:
           |  name: dv-moved
           |  checkpoint.dir: ${Files.createTempDirectory("graft_dv_moved_ck")}
           |""".stripMargin))(spark)
      runner.runHandlingDdl()
      src.append(DataChangeEvent.update(id, Map("k" -> 5L, "v" -> "v5"),
        Map("k" -> 50L, "v" -> "v5")))
      runner.runHandlingDdl()
      val expected = src.snapshotRead(None, None)
        .map(r => r("k").asInstanceOf[Long] -> r("v").asInstanceOf[String]).sortBy(_._1)
      assert(expected.map(_._1) == ((1L to 4L) ++ (6L to 10L) :+ 50L))
      assert(rows(runner.sink.asInstanceOf[LakehouseSink].table(id).read()) == expected)
    } finally ChangeSourceRegistry.remove("dv-moved")
  }
}
