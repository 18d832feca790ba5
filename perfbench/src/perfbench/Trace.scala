package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import graft.core.{DataChangeEvent, SchemaChangeEvent, TableId, TableSchema}
import graft.sources.cdc.{ChangeSource, LogRecord}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Per-layer counters fed only by public observation hooks: a delegating
  * [[ChangeSource]], a `SparkListener`, a `StreamingQueryListener` and a
  * `QueryExecutionListener`, plus the codegen compile clock.
  *
  * The listeners stay registered for the whole run but record only inside
  * [[traced]] spans, so a traced run can interleave traced and untraced
  * operations and report the difference as its own overhead. Listener
  * events arrive asynchronously; a span drains the listener bus at both
  * ends so its events are attributed to it.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  /** wall intervals (ms) of Spark jobs that ran inside traced spans */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def add(name: String, v: Double): Unit =
    if (on) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double = Option(sums.get(name)).map(_.sum).getOrElse(0.0)

  private val sc = spark.sparkContext
  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("executor.tasks", 1)
      if (m != null) {
        add("executor.task_cpu_s", m.executorCpuTime / 1e9)
        add("executor.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("executor.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("executor.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("executor.gc_s", m.jvmGCTime / 1e3)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) { add("scheduler.jobs", 1); jobStart.put(e.jobId, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
  })

  /** End (epoch ms) of the last micro-batch, and of the last batch of a
    * stream that has since terminated. Each span holds at most one drain
    * call, and within one a stream only terminates and restarts because it
    * parked at a DDL; both reset when a span starts. */
  @volatile private var lastBatchEnd = -1L
  @volatile private var restartFrom = -1L

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("pipeline.passes", 1)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      restartFrom = lastBatchEnd
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      def ms(k: String) = d.getOrElse(k, 0.0)
      // AvailableNow reports one progress per executed micro-batch; an
      // idle trigger (no data) carries no addBatch duration
      if (d.contains("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        if (restartFrom >= 0) {
          add("pipeline.ddl_restarts", 1)
          add("pipeline.ddl_restart_ms", (start - restartFrom).toDouble)
          restartFrom = -1L
        }
        lastBatchEnd = start + ms("triggerExecution").toLong
        add("streaming.batches", 1)
        add("streaming.latest_offset_ms", ms("latestOffset"))
        add("streaming.query_planning_ms", ms("queryPlanning"))
        add("streaming.add_batch_ms", ms("addBatch"))
        add("streaming.wal_commit_ms", ms("walCommit"))
        add("streaming.trigger_ms", ms("triggerExecution"))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_ms", (s.endTimeMs - s.startTimeMs).toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Block until every posted listener event has been delivered
    * (`listenerBus` is `private[spark]` in source but public in bytecode). */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(100) }

  /** Run `body` with recording on. Besides the listener counters, records
    * the codegen compile time and classes compiled inside it, and the part
    * of its wall that no Spark job covered. */
  def traced[A](body: => A): A = {
    drain()
    jobIntervals.clear()
    lastBatchEnd = -1L
    restartFrom = -1L
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.currentTimeMillis()
    on = true
    try body
    finally {
      val t1 = System.currentTimeMillis()
      drain()
      add("codegen.compile_ms", (CodeGenerator.compileTime - compile0) / 1e6)
      add("codegen.classes",
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
      add("driver.other_s", (t1 - t0 - covered(t0, t1)) / 1e3)
      on = false
    }
  }

  /** Milliseconds of `[t0, t1]` covered by the union of recorded job intervals. */
  private def covered(t0: Long, t1: Long): Long = {
    var total = 0L
    var end = t0
    jobIntervals.asScala.toSeq.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Time `body` into `name` (seconds) when recording. */
  def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  /** A source whose reads are timed and counted under `sources.*`. */
  def wrap(inner: ChangeSource): ChangeSource = new TracingSource(inner)

  private final class TracingSource(inner: ChangeSource) extends ChangeSource {
    def tableId: TableId = inner.tableId
    def schema: TableSchema = inner.schema
    def currentOffset: Long = inner.currentOffset
    def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] = {
      val t0 = System.nanoTime()
      val rows = inner.snapshotRead(lo, hiExclusive)
      add("sources.snapshot_read_ms", (System.nanoTime() - t0) / 1e6)
      add("sources.snapshot_read_calls", 1)
      add("sources.rows_out", rows.size.toDouble)
      rows
    }
    def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] = {
      val t0 = System.nanoTime()
      val recs = inner.readLog(fromExclusive, toInclusive)
      add("sources.read_log_ms", (System.nanoTime() - t0) / 1e6)
      add("sources.read_log_calls", 1)
      add("sources.rows_out", recs.count(_.event.isInstanceOf[DataChangeEvent]).toDouble)
      recs
    }
    def keyStats: (Option[Long], Option[Long], Long) = inner.keyStats
    def offsetAtTimestamp(ts: Long): Long = inner.offsetAtTimestamp(ts)
    override def commitOffset(offset: Long): Unit = inner.commitOffset(offset)
    override def committedOffset: Option[Long] = inner.committedOffset
    override def close(): Unit = inner.close()
    override def firstDdlOffset(
        fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
      inner.firstDdlOffset(fromExclusive, toInclusive)
    override def renameHistory: Seq[(Long, Map[String, String])] = inner.renameHistory
    override def snapshotMeta(key: Long): Map[String, String] = inner.snapshotMeta(key)
    override def keyOfEvent(e: DataChangeEvent): Long = inner.keyOfEvent(e)
  }
}
