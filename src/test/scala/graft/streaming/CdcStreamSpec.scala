package graft.streaming

import graft.SparkTestBase
import graft.core._
import graft.pipeline._
import graft.sinks.MemoryDatabase
import graft.sources.ValuesSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class CdcStreamSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  test("streaming envelope -> foreachBatch composer -> memory sink (flush barrier)") {
    import graft.operators.Envelope
    val t = TableId.parse("db.t")
    val schema = ValuesSource.customersSchema
    val envSchema = Envelope.envelopeSchema(schema.struct)

    val pdef = PipelineDef(SourceDef("values", None, Map.empty),
      SinkDef("values", None, Map.empty))
    val sink = new MemoryDatabase
    val composer = new PipelineComposer(pdef, sink)
    composer.createTables(Map(t -> schema))

    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(envSchema))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Row]

    def envRows(events: Seq[DataChangeEvent], seqBase: Long): Seq[Row] =
      events.zipWithIndex.map { case (e, i) =>
        def rowOf(m: Map[String, Any]): Row =
          if (m.isEmpty) null
          else Row.fromSeq(schema.struct.fieldNames.toSeq.map(n => m.getOrElse(n, null)))
        Row(e.tableId.identifier, e.op.toString, rowOf(e.before), rowOf(e.after),
          seqBase + i, Map.empty[String, String])
      }

    // batch 1: three inserts
    stream.addData(envRows(Seq(
      DataChangeEvent.insert(t, Map("col1" -> "1", "col2" -> "a")),
      DataChangeEvent.insert(t, Map("col1" -> "2", "col2" -> "b")),
      DataChangeEvent.insert(t, Map("col1" -> "3", "col2" -> "c"))), 0))
    val q1 = CdcStream.start(stream.toDF(), composer, queryName = "cdc-test-1")
    q1.processAllAvailable(); q1.stop()
    assert(sink.rowsOf(t).size == 3)

    // schema change between batches (micro-batch boundary = flush barrier)
    composer.processSchemaChange(
      AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition("col3",
        CdcTypes.StringT()))))

    // batch 2: update + delete in the old shape still coerce
    stream.addData(envRows(Seq(
      DataChangeEvent.update(t, Map("col1" -> "1", "col2" -> "a"),
        Map("col1" -> "1", "col2" -> "A")),
      DataChangeEvent.delete(t, Map("col1" -> "2", "col2" -> "b"))), 10))
    val q2 = CdcStream.start(stream.toDF(), composer, queryName = "cdc-test-2")
    q2.processAllAvailable(); q2.stop()

    val rows = sink.rowsOf(t).map(_.mkString(",")).sorted
    assert(rows == Seq("1,A,null", "3,c,null"))
  }

  test("newly-added table mid-run starts its own stream without disturbing others") {
    import graft.sources.cdc._
    import org.apache.spark.sql.types._
    def mkSchema = TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val tA = TableId.parse("app.alpha"); val tB = TableId.parse("app.beta")
    val srcA = new ScriptedChangeSource(tA, mkSchema,
      (1L to 5L).map(i => Map[String, Any]("id" -> i, "v" -> s"a$i")))
    ChangeSourceRegistry.register("nat-a", srcA)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("nat-ckpt").toString
      val yaml =
        s"""source:
           |  type: cdc
           |  sourceId: nat-a
           |  chunk.size: 3
           |sink:
           |  type: values
           |pipeline:
           |  checkpoint.dir: $ckpt/alpha
           |""".stripMargin
      val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
      val qA = runner.run()
      qA.processAllAvailable()
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      assert(sink.rowsOf(tA).size == 5)
      assert(!sink.tableIds.contains(tB))

      // the new table appears mid-run: discovered + snapshotted from scratch
      // while alpha's stream keeps running on its own checkpoint
      val srcB = new ScriptedChangeSource(tB, mkSchema,
        (1L to 3L).map(i => Map[String, Any]("id" -> i, "v" -> s"b$i")))
      ChangeSourceRegistry.register("nat-b", srcB)
      val qB = runner.addTable("nat-b")
      qB.processAllAvailable()
      assert(sink.rowsOf(tB).map(_.last.toString).sorted == Seq("b1", "b2", "b3"))

      // alpha continues undisturbed: its next run resumes from ITS checkpoint
      // (AvailableNow queries terminate when caught up) and tails only the log
      srcA.append(DataChangeEvent.update(tA,
        Map("id" -> 1L, "v" -> "a1"), Map("id" -> 1L, "v" -> "A1")))
      val qA2 = runner.run()
      qA2.processAllAvailable()
      assert(sink.rowsOf(tA).exists(_.last == "A1"))
      assert(sink.rowsOf(tA).size == 5) // resumed, not re-snapshotted
      qA2.stop(); qB.stop()
    } finally { ChangeSourceRegistry.remove("nat-a"); ChangeSourceRegistry.remove("nat-b") }
  }

  test("added tables that share a name in different databases stream side by side") {
    import graft.sources.cdc._
    import org.apache.spark.sql.types._
    val schema = TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val tables = Seq("db1", "db2").map(db => TableId.of(db, "users"))
    tables.foreach { t =>
      ChangeSourceRegistry.register(s"${t.schemaName}-users", new ScriptedChangeSource(t, schema,
        (1L to 20L).map(i => Map[String, Any]("id" -> i, "v" -> s"${t.schemaName}-$i"))))
    }
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("same-name-ckpt").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        s"""source:
           |  type: cdc
           |  sourceId: db1-users
           |  chunk.size: 2
           |sink:
           |  type: values
           |pipeline:
           |  checkpoint.dir: $ckpt
           |""".stripMargin))
      // the second stream starts while the first still runs: both are
      // active at once under one pipeline name
      val queries = Seq("db1-users", "db2-users").map(runner.addTable)
      queries.foreach(_.processAllAvailable())
      queries.foreach(_.stop())
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      tables.foreach { t =>
        assert(sink.rowsOf(t).map(_.last.toString).sorted ==
          (1 to 20).map(i => s"${t.schemaName}-$i").sorted)
      }
    } finally tables.foreach(t => ChangeSourceRegistry.remove(s"${t.schemaName}-users"))
  }

  test("runHandlingDdl: in-band DDL applied at the batch boundary, stream resumes evolved") {
    import graft.sources.cdc._
    import org.apache.spark.sql.types._
    val t = TableId.parse("app.ddlflow")
    val schema = TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val src = new ScriptedChangeSource(t, schema,
      (1L to 3L).map(i => Map[String, Any]("id" -> i, "v" -> s"v$i")))
    ChangeSourceRegistry.register("ddlflow", src)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("ddlflow-ckpt").toString
      val yaml =
        s"""source:
           |  type: cdc
           |  sourceId: ddlflow
           |  chunk.size: 10
           |sink:
           |  type: values
           |pipeline:
           |  checkpoint.dir: $ckpt
           |""".stripMargin
      val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
      // drain 1: plain snapshot, no DDL in flight
      assert(runner.runHandlingDdl() == 0)
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      assert(sink.schemaOf(t).get.columnNames == Seq("id", "v"))

      // while the pipeline is between drains, the log receives an old-shape
      // update, the ALTER, and a new-shape update
      src.append(DataChangeEvent.update(t, Map("id" -> 1L), Map("id" -> 1L, "v" -> "one")))
      src.appendDdl(AddColumnEvent(t,
        Seq(AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()))))
      src.append(DataChangeEvent.update(t,
        Map("id" -> 2L), Map("id" -> 2L, "v" -> "two", "score" -> 9)))

      // drain 2 resumes from the checkpoint: emits the pre-DDL update, parks
      // at the ALTER, applies it through the evolution driver, restarts
      // evolved, and emits the post-DDL row — one loop call
      assert(runner.runHandlingDdl() == 1)
      assert(sink.schemaOf(t).get.columnNames == Seq("id", "v", "score"))
      val rows = sink.rowsOf(t).map(_.mkString(",")).sorted
      assert(rows == Seq("1,one,null", "2,two,9", "3,v3,null"))
    } finally ChangeSourceRegistry.remove("ddlflow")
  }

  test("full stack: DSv2 CDC source -> runner -> composer -> parquet MERGE sink") {
    import graft.sinks.ParquetMergeSink
    import graft.sources.cdc._
    import org.apache.spark.sql.types._
    val t = TableId.parse("app.accts")
    val schema = TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
    val src = new ScriptedChangeSource(
      t, schema, (1L to 5L).map(i => Map[String, Any]("id" -> i, "v" -> s"v$i")))
    ChangeSourceRegistry.register("full-stack", src)
    try {
      val dir = java.nio.file.Files.createTempDirectory("fullstack").toString
      val sink = new ParquetMergeSink(spark, dir, buckets = 2)
      val pdef = PipelineDef(SourceDef("cdc", None, Map.empty),
        SinkDef("parquet", None, Map("path" -> dir)))
      val composer = new PipelineComposer(pdef, sink)
      composer.createTables(Map(t -> schema))

      def stream() = spark.readStream.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", "full-stack").option("chunk.size", "2").load()
      val ckpt = java.nio.file.Files.createTempDirectory("fullstack-ckpt").toString

      // snapshot phase lands the 5 initial rows
      val q1 = CdcStream.start(stream(), composer, queryName = "fs", Some(ckpt))
      q1.processAllAvailable(); q1.stop()
      assert(sink.read(t).orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("v1", "v2", "v3", "v4", "v5"))

      // log phase: update + delete arrive while the query is down; the restart
      // RESUMES from the checkpoint (no re-snapshot) and tails only the log —
      // a fresh subscription would instead re-snapshot current state and never
      // observe the DELETE as an event
      src.append(DataChangeEvent.update(t,
        Map("id" -> 2L, "v" -> "v2"), Map("id" -> 2L, "v" -> "V2")))
      src.append(DataChangeEvent.delete(t, Map("id" -> 4L, "v" -> "v4")))
      // schema evolution between batches; old-shape log rows must still coerce
      composer.processSchemaChange(AddColumnEvent(t,
        Seq(AddColumnEvent.ColumnWithPosition("w", CdcTypes.StringT()))))
      val q2 = CdcStream.start(stream(), composer, queryName = "fs", Some(ckpt))
      q2.processAllAvailable(); q2.stop()

      val rows = sink.read(t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq(
        (1L, "v1", null), (2L, "V2", null), (3L, "v3", null), (5L, "v5", null)))
    } finally ChangeSourceRegistry.remove("full-stack")
  }

  test("runDistributed(interleaved = true): one batch per partition per turn until all run dry") {
    import graft.sources.cdc._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.types._
    val t = TableId.parse("app.dist")
    val schema = TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
    def row(id: Long, v: String): Map[String, Any] = Map("id" -> id, "v" -> v)
    // two partitions of one table, each with a snapshot of two chunks
    val srcs = Seq(1L, 101L).map(base =>
      new ScriptedChangeSource(t, schema, (base to base + 3).map(i => row(i, s"v$i"))))
    val ids = Seq("dist-p0", "dist-p1")
    val inputRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name.startsWith("dist-"))
          inputRows.add(e.progress.name -> e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ids.zip(srcs).foreach { case (id, src) => ChangeSourceRegistry.register(id, src) }
    spark.streams.addListener(listener)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        s"""source:
           |  type: cdc
           |  sourceId: dist-p0
           |  chunk.size: 2
           |  chunks.per-batch: 1
           |sink:
           |  type: values
           |pipeline:
           |  name: dist
           |  checkpoint.dir: ${java.nio.file.Files.createTempDirectory("dist-ck")}
           |""".stripMargin))
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      def drain(): Seq[(String, Long)] = {
        inputRows.clear()
        assert(runner.runDistributed(ids, interleaved = true) == 0)
        SparkTestBase.drainListenerBus()
        inputRows.toArray(Array.empty[(String, Long)]).toSeq
      }
      // the loop goes round while some partition's turn read a row, so the
      // two-chunk snapshots only land whole if a non-empty turn reports its
      // input rows
      val snapshot = drain()
      assert(sink.rowsOf(t).map(_.head.asInstanceOf[Long]).sorted ==
        ((1L to 4L) ++ (101L to 104L)))
      ids.foreach(id => assert(snapshot.count { case (n, r) => n.endsWith(id) && r > 0 } >= 2,
        snapshot.mkString(", ")))

      srcs(0).append(DataChangeEvent.update(t, row(2L, "v2"), row(2L, "w2")))
      srcs(1).append(DataChangeEvent.insert(t, row(105L, "v105")))
      srcs(1).append(DataChangeEvent.delete(t, row(101L, "v101")))
      val log = drain()
      assert(log.map(_._2).sum == 3, log.mkString(", "))
      assert(sink.rowsOf(t).map(_.mkString(",")).sorted == Seq(
        "1,v1", "102,v102", "103,v103", "104,v104", "105,v105", "2,w2", "3,v3", "4,v4"))
    } finally {
      spark.streams.removeListener(listener)
      ids.foreach(ChangeSourceRegistry.remove)
    }
  }
}
