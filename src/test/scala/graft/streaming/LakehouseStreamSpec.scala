package graft.streaming

import graft.SparkTestBase
import graft.core.TableSchema
import graft.sinks.LakehouseTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LakehouseStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq.empty)

  private def newTable(): LakehouseTable = {
    val dir = Files.createTempDirectory("graft_lake_stream").toString
    val t = new LakehouseTable(spark, dir)
    t.create(schema, buckets = 4)
    t
  }

  private def mem(name: String) =
    spark.table(name).select($"k").as[Long].collect().toSeq

  test("asStreaming flags a single file relation; any other plan takes the RDD wrap") {
    import org.apache.spark.sql.GraftStreamingBridge.asStreaming
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = Files.createTempDirectory("graft_bridge").toString
    (0L until 4L).map(i => (i, s"v$i")).toDF("k", "v").write.parquet(s"$dir/a")
    (0L until 4L).map(i => (i, i * 10)).toDF("k", "n").write.parquet(s"$dir/b")
    val a = spark.read.parquet(s"$dir/a")
    val b = spark.read.parquet(s"$dir/b")

    // one relation leaf: the file scan stays in the plan, flagged streaming
    val single = asStreaming(a.filter($"k" > 1))
    assert(single.isStreaming)
    single.queryExecution.analyzed.collectLeaves() match {
      case Seq(lr: LogicalRelation) => assert(lr.isStreaming)
      case other => fail(s"expected one streaming file relation, got $other")
    }

    // two relation leaves: flagging both would turn the join into a
    // stream-stream join, so the plan is wrapped as one streaming RDD
    val joined = a.join(b, "k")
    val wrapped = asStreaming(joined)
    assert(wrapped.isStreaming)
    assert(wrapped.schema == joined.schema)
    wrapped.queryExecution.analyzed.collectLeaves() match {
      case Seq(rdd: LogicalRDD) => assert(rdd.isStreaming)
      case other => fail(s"expected the RDD wrap, got $other")
    }
  }

  test("appends + compaction stream through; compaction delivers zero rows") {
    val t = newTable()
    val name = "lhs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lakehouse")
      .option("path", t.dir).option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      t.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"))
      q.processAllAvailable()
      assert(mem(name).sorted == (0L until 10L))
      t.append((10L until 20L).map(i => (i, s"v$i")).toDF("k", "v"))
      t.compact()
      t.append((20L until 30L).map(i => (i, s"v$i")).toDF("k", "v"))
      q.processAllAvailable()
      // compaction moved files but must not re-deliver their rows
      assert(mem(name).sorted == (0L until 30L))
      assert(mem(name).size == 30)
    } finally q.stop()
  }

  test("maxCommitsPerBatch=1: one commit per micro-batch, all still delivered") {
    val t = newTable()
    (0 until 4).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val name = "lhs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lakehouse")
      .option("path", t.dir).option("startingVersion", "0")
      .option("maxCommitsPerBatch", "1")
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(mem(name).sorted == (0L until 4L))
      // 4 data commits admitted one at a time -> at least 4 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        q.recentProgress.map(p => p.batchId -> p.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("tail mode (no startingVersion) sees only commits after query start") {
    val t = newTable()
    t.append(Seq((100L, "old")).toDF("k", "v")) // pre-existing: not delivered
    val name = "lhs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lakehouse")
      .option("path", t.dir)
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(mem(name).isEmpty)
      t.append(Seq((1L, "new")).toDF("k", "v"))
      q.processAllAvailable()
      assert(mem(name) == Seq(1L))
    } finally q.stop()
  }

  test("changelog mode: row-level changes of a MERGE table stream through") {
    import graft.core.TableSchema
    val dir = Files.createTempDirectory("graft_lake_clstream").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("k")), buckets = 2, changelog = true)

    val name = "lhc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lakehouse")
      .option("path", dir).option("mode", "changelog").option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      t.merge((0L until 4L).map(i => (i, s"v$i")).toDF("k", "v"),
        spark.emptyDataFrame.withColumn("k", lit(0L)).limit(0).select($"k"))
      q.processAllAvailable()
      val inserts = spark.table(name)
      assert(inserts.select($"_change_type").distinct().as[String].collect().toSeq ==
        Seq("insert"))
      assert(inserts.count() == 4)

      // updates + delete flow as pre/post/delete rows with the commit version
      t.merge(Seq((0L, "V0")).toDF("k", "v"), Seq(Tuple1(3L)).toDF("k"))
      q.processAllAvailable()
      val types = spark.table(name)
        .filter($"_commit_version" === t.latestVersion())
        .select($"_change_type", $"k").as[(String, Long)].collect().toSet
      assert(types == Set(("update_preimage", 0L), ("update_postimage", 0L), ("delete", 3L)))

      // a compaction-like maintenance commit delivers nothing
      t.compact()
      q.processAllAvailable()
      assert(spark.table(name).count() == 7)
    } finally q.stop()

    // mode validation: unknown modes and non-changelog tables fail loudly
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-lakehouse")
        .option("path", dir).option("mode", "bogus").load()
    }
    val plain = newTable()
    val e = intercept[Exception] {
      spark.readStream.format("graft-lakehouse")
        .option("path", plain.dir).option("mode", "changelog").load()
    }
    assert(e.getMessage.contains("changelog"))
  }

  test("batch read: format(graft-lakehouse) with zone-map filter pushdown") {
    import org.apache.spark.sql.sources._
    val dir = Files.createTempDirectory("graft_lake_batch").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq("k")), buckets = 2)
    // disjoint key ranges across commits: zone maps separate the files
    t.merge((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"),
      spark.emptyDataFrame.withColumn("k", lit(0L)).limit(0).select($"k"))
    val dfAll = spark.read.format("graft-lakehouse").option("path", dir).load()
    assert(dfAll.count() == 40)
    assert(dfAll.schema.fieldNames.toSeq == Seq("k", "v"))

    // results equal the table API under predicates + projection
    val filtered = dfAll.filter($"k" >= 10 && $"k" < 20).select($"v")
    assert(filtered.as[String].collect().sorted.toSeq ==
      (10L until 20L).map(i => s"v$i").sorted)

    // MOR deletes apply through the relation too
    t.deleteWhere(Seq(15L).toDF("k"))
    assert(spark.read.format("graft-lakehouse").option("path", dir).load()
      .filter($"k" === 15L).isEmpty)

    // the pushed-filter translation prunes files (conjunction, range, IN)
    val table2dir = Files.createTempDirectory("graft_lake_batch2").toString
    val t2 = new LakehouseTable(spark, table2dir)
    t2.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 2)
    t2.append((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    t2.append((100L until 140L).map(i => (i, s"v$i")).toDF("k", "v"))
    val all = t2.snapshot().files.size
    assert(t2.prunedForFilters(Seq(EqualTo("k", 120L))).size < all)
    assert(t2.prunedForFilters(Seq(GreaterThanOrEqual("k", 100L))).size < all)
    assert(t2.prunedForFilters(Seq(In("k", Array(5L, 7L)))).size < all)
    assert(t2.prunedForFilters(Seq(
      And(GreaterThan("k", 100L), LessThan("k", 130L)))).size < all)
    // untranslatable filters keep everything (conservative)
    assert(t2.prunedForFilters(Seq(StringContains("v", "1"))).size == all)
    // null probes keep every file conservatively instead of NPEing — an
    // In filter can carry a null through pushdown
    assert(t2.prunedForFilters(Seq(In("k", Array[Any](5L, null)))).size == all)
    assert(t2.prunedForFilters(Seq(EqualTo("k", null))).size == all)
    assert(t2.prunedForFilters(Seq(GreaterThan("k", null))).size == all)
    assert(t2.prunedForFilters(Seq(LessThanOrEqual("k", null))).size == all)
    // and the relation's answer under a pruning predicate is exact
    assert(spark.read.format("graft-lakehouse").option("path", table2dir).load()
      .filter($"k" === 120L).select($"v").as[String].collect().toSeq == Seq("v120"))
  }

  test("mid-stream schema evolution fails the query cleanly; restart adopts it") {
    import graft.core.TableSchema
    val t = newTable()
    val name = "lhs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lakehouse")
      .option("path", t.dir)
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      t.append(Seq((1L, "a")).toDF("k", "v"))
      q.processAllAvailable()
      assert(mem(name) == Seq(1L))
      // evolve the table, then commit more data: silently projecting the new
      // column away would be data loss — the stream must fail loudly instead
      t.updateMeta(TableSchema(
        StructType(schema.struct.fields :+ StructField("extra", LongType)),
        primaryKeys = Seq.empty))
      t.append(Seq((2L, "b", 9L)).toDF("k", "v", "extra"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("restart the query"), e.getMessage)
    } finally q.stop()

    // a fresh query picks up the evolved schema and the post-evolution commit
    val name2 = "lhs_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q2 = spark.readStream.format("graft-lakehouse")
      .option("path", t.dir).option("startingVersion", "0")
      .load()
      .writeStream.format("memory").queryName(name2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      val rows = spark.table(name2).orderBy($"k").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(rows(0).isNullAt(2) && rows(1).getLong(2) == 9L) // old rows null-fill
    } finally q2.stop()
  }

  test("checkpoint restart resumes from the committed offset: no duplicates") {
    // parquet sink: the memory sink refuses checkpoint recovery by design
    val t = newTable()
    val ckpt = Files.createTempDirectory("graft_lake_ckpt").toString
    val outDir = Files.createTempDirectory("graft_lake_out").toString
    def run(body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = spark.readStream.format("graft-lakehouse")
        .option("path", t.dir).option("startingVersion", "0")
        .load()
        .writeStream.format("parquet").outputMode("append")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try body(q) finally q.stop()
    }
    run { q =>
      t.append((0L until 5L).map(i => (i, s"v$i")).toDF("k", "v"))
      q.processAllAvailable()
    }
    assert(spark.read.parquet(outDir).select($"k").as[Long].collect().sorted.toSeq ==
      (0L until 5L))

    // more commits while the query is down
    t.append((5L until 8L).map(i => (i, s"v$i")).toDF("k", "v"))

    run(_.processAllAvailable())
    // the down-time commits arrive exactly once; checkpointed ones don't replay
    assert(spark.read.parquet(outDir).select($"k").as[Long].collect().sorted.toSeq ==
      (0L until 8L))
  }
}
