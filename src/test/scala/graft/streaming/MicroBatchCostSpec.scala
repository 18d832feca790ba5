package graft.streaming

import graft.SparkTestBase
import graft.SparkTestBase.drainListenerBus
import graft.core._
import graft.pipeline._
import graft.sinks.{LakehouseSink, LakehouseTable, MemoryDatabase}
import graft.sources.cdc.{ChangeSourceRegistry, LogRecord, ScriptedChangeSource}
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fixed Spark cost of a CDC micro-batch commit: every job a micro-batch
  * runs is paid again by every commit, so the job count per commit is pinned,
  * and so are the paths that avoid jobs (single-table streams skip the table
  * fan-out; the lakehouse merge collects its changed keys once). Generated
  * code is a fixed cost too: a drain of a shape already drained compiles no
  * class.
  */
class MicroBatchCostSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val schema = TableSchema(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("id"))

  private def row(id: Long, v: String): Map[String, Any] = Map("id" -> id, "v" -> v)

  /** A Spark job: its SQL execution id ("-" outside one) and the root of
    * that execution's physical plan. A streaming query's call site names
    * only the stream's start, for every job, so it cannot label them. */
  private case class Job(execution: String, plan: String) {
    override def toString = s"execution $execution: $plan"
  }

  /** Spark jobs started while `body` runs, in start order. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString,
            s.physicalPlanDescription.linesIterator.slice(1, 3).mkString(" / "))
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val ex = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(Job(ex.getOrElse("-"), ex.flatMap(x => Option(plans.get(x))).getOrElse("?")))
      }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(Array.empty[Job]).toSeq
  }

  /** Classes Spark's code generator compiled while `body` ran: the
    * compile-time histogram takes one sample per cache miss. */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def lakehouseYaml(sourceId: String, sink: String, ckpt: String, extra: String = "") =
    s"""source:
       |  type: cdc
       |  sourceId: $sourceId
       |sink:
       |  type: lakehouse
       |  path: $sink
       |  buckets: 2
       |$extra
       |pipeline:
       |  name: cost-$sourceId
       |  checkpoint.dir: $ckpt
       |""".stripMargin

  test("a one-row transaction into a lakehouse sink costs a pinned number of Spark jobs") {
    val t = TableId.parse("app.cost")
    val src = new ScriptedChangeSource(t, schema, (1L to 5L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register("cost", src)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        lakehouseYaml("cost", tmp("cost-sink"), tmp("cost-ck"))))
      assert(runner.runHandlingDdl() == 0)
      val table = runner.sink.asInstanceOf[LakehouseSink].table(t)
      // warm-up commit: the first log-phase batch is not the steady state
      src.append(DataChangeEvent.insert(t, row(6L, "v6")))
      runner.runHandlingDdl()
      val before = table.latestVersion()
      src.append(DataChangeEvent.update(t, row(3L, "v3"), row(3L, "w3")))
      val jobs = jobsOf(runner.runHandlingDdl())
      // one micro-batch into a table with deletion vectors, four SQL
      // executions: the merge's changed-keys collect (4 jobs: the upsert
      // aggregate's shuffle-map job, the cached aggregate built for each of
      // the two key branches, the collect), the key-only position lookup in
      // the touched bucket (1: a scan filtered by an InSet of the collected
      // keys), the bucket-clustered write of the batch alone (2: the
      // shuffle-map job, the write) and the zone-map scan of the written
      // files (2). No table-id discovery job, no second changed-keys
      // aggregate, no broadcast, no parquet footer-inference job.
      assert(jobs.map(_.execution).distinct.size == 4, jobs.mkString("jobs:\n", "\n", ""))
      assert(jobs.size == 9, jobs.mkString("jobs:\n", "\n", ""))
      assert(table.latestVersion() == before + 1)
      assert(table.read().filter("id = 3").head().getString(1) == "w3")
    } finally ChangeSourceRegistry.remove("cost")
  }

  test("a repeated drain of the same shape compiles no new class") {
    val t = TableId.parse("app.codegen")
    val src = new ScriptedChangeSource(t, schema, (1L to 5L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register("codegen", src)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        lakehouseYaml("codegen", tmp("codegen-sink"), tmp("codegen-ck"))))
      assert(runner.runHandlingDdl() == 0)
      // warm-up: the first log-phase drain compiles the one-row shape
      Seq(6L, 7L).foreach { i =>
        src.append(DataChangeEvent.insert(t, row(i, s"v$i")))
        runner.runHandlingDdl()
      }
      src.append(DataChangeEvent.insert(t, row(8L, "v8")))
      // each drain starts a new streaming query, whose micro-batch arrives
      // bound to a fresh session clone; run there, every drain recompiled
      // the classes of the drains before it
      assert(compilesOf(runner.runHandlingDdl()) == 0)
      val table = runner.sink.asInstanceOf[LakehouseSink].table(t)
      assert(table.read().orderBy("id").collect().map(_.getLong(0)).toSeq == (1L to 8L))
    } finally ChangeSourceRegistry.remove("codegen")
  }

  test("a micro-batch with no data rows writes no lakehouse version and runs no extra job") {
    val t = TableId.parse("app.quiet")
    val src = new ScriptedChangeSource(t, schema, (1L to 5L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register("quiet", src)
    try {
      // the filter drops every row id >= 100: such a transaction reaches
      // the sink as a micro-batch with no data rows
      val runner = new PipelineRunner(YamlPipelineParser.parse(lakehouseYaml(
        "quiet", tmp("quiet-sink"), tmp("quiet-ck"),
        """transform:
          |  - source-table: app.quiet
          |    projection: "*"
          |    filter: "id < 100"""".stripMargin)))
      assert(runner.runHandlingDdl() == 0)
      val table = runner.sink.asInstanceOf[LakehouseSink].table(t)
      src.append(DataChangeEvent.insert(t, row(6L, "v6")))
      runner.runHandlingDdl()
      val before = table.latestVersion()
      src.append(DataChangeEvent.insert(t, row(100L, "dropped")))
      val jobs = jobsOf(runner.runHandlingDdl())
      assert(table.latestVersion() == before, "an empty micro-batch must not commit")
      // the changed-keys collect that every merge runs is what finds the
      // batch empty: its 4 jobs in one SQL execution, nothing else
      assert(jobs.map(_.execution).distinct.size == 1, jobs.mkString("jobs:\n", "\n", ""))
      assert(jobs.size == 4, jobs.mkString("jobs:\n", "\n", ""))
    } finally ChangeSourceRegistry.remove("quiet")
  }

  test("merge() of an empty batch commits nothing, even with a batch id") {
    val dir = tmp("empty-merge")
    val table = new LakehouseTable(spark, dir)
    table.create(schema, 2)
    table.merge(
      spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(1L, "a")), schema.struct),
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType(schema.struct.fields.take(1))))
    val v = table.latestVersion()
    val empty = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema.struct)
    val noKeys = empty.select("id")
    val jobs = jobsOf(table.merge(empty, noKeys, txn = Some(("run", 7L))))
    assert(table.latestVersion() == v)
    // at most the changed-keys collect: no write, no zone-map scan
    assert(jobs.size <= 1, jobs.mkString("jobs:\n", "\n", ""))
    assert(table.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a route fan-out to two sink tables reads the source once per micro-batch") {
    val t = TableId.parse("app.fan")
    // log reads made inside Spark tasks: the partition reads of the stream.
    // The driver also scans the log (DDL detection), outside any task.
    val taskLogReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val src = new ScriptedChangeSource(t, schema, (1L to 5L).map(i => row(i, s"v$i"))) {
      override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] = {
        if (TaskContext.get() != null) taskLogReads.incrementAndGet()
        super.readLog(fromExclusive, toInclusive)
      }
    }
    ChangeSourceRegistry.register("fan", src)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(lakehouseYaml(
        "fan", tmp("fan-sink"), tmp("fan-ck"),
        """route:
          |  - source-table: app.fan
          |    sink-table: app.fan_a
          |  - source-table: app.fan
          |    sink-table: app.fan_b""".stripMargin)))
      assert(runner.composer.rereadsEnvelope(t))
      assert(runner.runHandlingDdl() == 0)
      src.append(DataChangeEvent.insert(t, row(6L, "v6")))
      src.append(DataChangeEvent.update(t, row(2L, "v2"), row(2L, "w2")))
      taskLogReads.set(0)
      runner.runHandlingDdl()
      assert(taskLogReads.get() == 1, "the pinned micro-batch must be read once")
      val sink = runner.sink.asInstanceOf[LakehouseSink]
      Seq("app.fan_a", "app.fan_b").foreach { s =>
        val rows = sink.table(TableId.parse(s)).read().orderBy("id").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq
        assert(rows == Seq(1L -> "v1", 2L -> "w2", 3L -> "v3", 4L -> "v4", 5L -> "v5", 6L -> "v6"),
          s)
      }
    } finally ChangeSourceRegistry.remove("fan")
  }

  test("runMultiplexedHandlingDdl: two sources through one query, a DDL restarts it") {
    val tA = TableId.parse("app.mux_a"); val tB = TableId.parse("app.mux_b")
    val srcA = new ScriptedChangeSource(tA, schema, (1L to 3L).map(i => row(i, s"a$i")))
    val srcB = new ScriptedChangeSource(tB, schema, (1L to 2L).map(i => row(i, s"b$i")))
    ChangeSourceRegistry.register("mux-a", srcA)
    ChangeSourceRegistry.register("mux-b", srcB)
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == "mux-multiplex") starts.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        s"""source:
           |  type: cdc
           |  sourceId: mux-a
           |sink:
           |  type: values
           |pipeline:
           |  name: mux
           |  checkpoint.dir: ${tmp("mux-ck")}
           |""".stripMargin))
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      def values(t: TableId) = sink.rowsOf(t).map(_.mkString(",")).sorted
      assert(runner.runMultiplexedHandlingDdl(Seq("mux-b")) == 0)
      assert(values(tA) == Seq("1,a1", "2,a2", "3,a3"))
      assert(values(tB) == Seq("1,b1", "2,b2"))
      drainListenerBus()
      assert(starts.get() == 1, "both sources drain through one query")

      // data on both sources, and a truncate parked on A between two of its
      // rows: the query stops at the DDL, the sink applies it, and the
      // restarted query drains the rest of both logs
      srcB.append(DataChangeEvent.insert(tB, row(3L, "b3")))
      srcA.append(DataChangeEvent.update(tA, row(1L, "a1"), row(1L, "A1")))
      srcA.appendDdl(TruncateTableEvent(tA))
      srcA.append(DataChangeEvent.insert(tA, row(9L, "a9")))
      starts.set(0)
      assert(runner.runMultiplexedHandlingDdl(Seq("mux-b")) == 1)
      assert(values(tA) == Seq("9,a9"))
      assert(values(tB) == Seq("1,b1", "2,b2", "3,b3"))
      drainListenerBus()
      assert(starts.get() == 2, "the DDL restarts the one query once")
    } finally {
      spark.streams.removeListener(listener)
      ChangeSourceRegistry.remove("mux-a"); ChangeSourceRegistry.remove("mux-b")
    }
  }

  test("runMultiplexedHandlingDdl: a repeated drain compiles no new class and unpersists") {
    val tA = TableId.parse("app.mcg_a"); val tB = TableId.parse("app.mcg_b")
    val srcA = new ScriptedChangeSource(tA, schema, (1L to 3L).map(i => row(i, s"a$i")))
    val srcB = new ScriptedChangeSource(tB, schema, (1L to 2L).map(i => row(i, s"b$i")))
    ChangeSourceRegistry.register("mcg-a", srcA)
    ChangeSourceRegistry.register("mcg-b", srcB)
    try {
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        lakehouseYaml("mcg-a", tmp("mcg-sink"), tmp("mcg-ck"))))
      assert(runner.runMultiplexedHandlingDdl(Seq("mcg-b")) == 0)
      def oneRowEach(i: Long): Unit = {
        srcA.append(DataChangeEvent.insert(tA, row(i, s"a$i")))
        srcB.append(DataChangeEvent.insert(tB, row(i, s"b$i")))
      }
      Seq(10L, 11L).foreach { i => oneRowEach(i); runner.runMultiplexedHandlingDdl(Seq("mcg-b")) }
      oneRowEach(12L)
      // two tables: the batch is pinned and fans out through splitByTable
      val persisted = spark.sparkContext.getPersistentRDDs.size
      assert(compilesOf(runner.runMultiplexedHandlingDdl(Seq("mcg-b"))) == 0)
      assert(spark.sparkContext.getPersistentRDDs.size == persisted,
        "the pinned micro-batch must be unpersisted")
      val sink = runner.sink.asInstanceOf[LakehouseSink]
      def ids(t: TableId) = sink.table(t).read().orderBy("id").collect().map(_.getLong(0)).toSeq
      assert(ids(tA) == Seq(1L, 2L, 3L, 10L, 11L, 12L))
      assert(ids(tB) == Seq(1L, 2L, 10L, 11L, 12L))
    } finally {
      ChangeSourceRegistry.remove("mcg-a"); ChangeSourceRegistry.remove("mcg-b")
    }
  }
}
