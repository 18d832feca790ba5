package graft.sources.cdc

import graft.core.OperationType
import graft.operators.{ChunkSplitter, Envelope}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** DSv2 incremental-snapshot CDC source — the Spark-native form of the
  * reference's `flink-cdc-base` framework (SURVEY.md §3.3 "Spark shape"):
  *
  *  - phase 1: snapshot chunks become `InputPartition`s; each reader runs the
  *    DBLog LOW/HIGH-watermark protocol of `AbstractScanFetchTask.execute:49`
  *    (LW offset → range select → HW offset → backfill replay of (LW,HW]
  *    restricted to the chunk) — lock-free, exactly-once;
  *  - phase 2: one log-range partition per micro-batch; events already covered
  *    by their chunk's HW are suppressed, the
  *    `IncrementalSourceStreamFetcher` filter;
  *  - the chunk→log switch is `HybridSplitAssigner.getNext:145-166`, here the
  *    monotone `latestOffset` progression (chunks first, then log ranges);
  *  - startup modes `initial | snapshot | earliest | latest | specific-offset |
  *    timestamp` mirror `base/options/StartupOptions.java:38-94`.
  *
  * Chunk rows are emitted with `seq = chunk HW`, log events with `seq =
  * offset`; downstream PK-upsert (`max_by(seq)`) therefore resolves
  * chunk-vs-log races exactly like the reference's watermark ordering.
  */
class GraftCdcProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val src = ChangeSourceRegistry.get(options.get("sourceId"))
    Envelope.envelopeSchema(src.schema.struct)
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Spark hands getTable the CASE-SENSITIVE original options while
    // inferSchema got a CaseInsensitiveStringMap: a differently-cased
    // `sourceid` would pass schema inference and then fail later with a
    // confusing "no change source 'null'" — resolve both the same way
    val ci = new CaseInsensitiveStringMap(properties)
    new GraftCdcTable(schema, ci.get("sourceId"), properties)
  }
}

final class GraftCdcTable(
    tableSchema: StructType,
    sourceId: String,
    properties: util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc($sourceId)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      /** `spark.read` (bounded): the pipeline BATCH runtime mode
        * (`PipelineOptions.java:49-53`, `FlinkPipelineComposer.java:121-128`)
        * — snapshot chunks only, one `InputPartition` per chunk, no log
        * phase; each chunk is still HW-consistent via the backfill protocol.
        */
      override def toBatch(): Batch =
        new GraftCdcBatch(
          sourceId,
          tableSchema,
          options.getInt("chunk.size", 8096),
          options.getBoolean("backfill.skip", false))
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftCdcMicroBatchStream(
          sourceId,
          tableSchema,
          options.getOrDefault("startup.mode", "initial"),
          options.getLong("startup.specific-offset", 0L),
          options.getLong("startup.timestamp", 0L),
          options.getInt("chunk.size", 8096),
          options.getInt("chunks.per-batch", 4),
          options.getBoolean("backfill.skip", false),
          checkpointLocation,
          options.getLong("log.max-events-per-trigger", 0L))
    }
}

/** Offset = (chunks completed, log offset). Pure-chunk batches advance the
  * first component at fixed `logBase`; pure-log batches advance the second.
  */
final case class CdcOffset(chunksDone: Int, logOffset: Long) extends Offset {
  override def json(): String = s"""{"chunksDone":$chunksDone,"logOffset":$logOffset}"""
}
object CdcOffset {
  private val P = """\{"chunksDone":(\d+),"logOffset":(\d+)\}""".r
  def parse(json: String): CdcOffset = json match {
    case P(c, l) => CdcOffset(c.toInt, l.toLong)
    case other => throw new IllegalArgumentException(s"bad offset: $other")
  }
}

/** The chunk splitter's key probe over a [[ChangeSource]] — shared by the
  * streaming plan and the batch scan so the uneven-distribution path can
  * never drift between them. Scripted sources are dense; the probe drives
  * the uneven path only when the splitter's distribution check asks for it.
  */
private[cdc] object DenseKeyProbe {
  def apply(src: ChangeSource): ChunkSplitter.Probe = new ChunkSplitter.Probe {
    // INCLUSIVE lower bound like the reference's `queryNextChunkMax`
    // (`WHERE pk >= ? ORDER BY pk LIMIT chunkSize`): the boundary key's rows
    // count against the chunk budget, so duplicate-key tables advance by
    // the reference's boundaries, not one-chunk-early ones
    def nextChunkMax(from: Long, c: Int) = {
      val keys = src.snapshotRead(Some(from), None)
        .map(r => r(src.schema.primaryKeys.head).toString.toLong).sorted.take(c)
      keys.lastOption
    }
    def minAfter(v: Long) = {
      val keys = src.snapshotRead(Some(v + 1), None)
        .map(r => r(src.schema.primaryKeys.head).toString.toLong)
      if (keys.isEmpty) None else Some(keys.min)
    }
  }
}

/** Bounded batch scan: the chunk plan as plain `InputPartition`s, sharing the
  * streaming path's reader (LW/HW backfill per chunk). This is the
  * `execution.runtime-mode: BATCH` source shape — the reference runs the same
  * topology with a bounded source and no binlog phase; changes committed
  * after a chunk's HIGH watermark are deliberately out of scope for the run.
  */
final class GraftCdcBatch(
    sourceId: String,
    envSchema: StructType,
    chunkSize: Int,
    backfillSkip: Boolean)
    extends Batch {

  private def source = ChangeSourceRegistry.get(sourceId)

  override def planInputPartitions(): Array[InputPartition] = {
    val src = source
    val (mn, mx, cnt) = src.keyStats
    val chunks = ChunkSplitter.generateSplits(
      mn, mx, cnt, ChunkSplitter.Config(chunkSize = chunkSize), DenseKeyProbe(src))
    chunks.zipWithIndex.map { case (c, idx) =>
      SnapshotChunkPartition(sourceId, idx, c.start, c.end, backfillSkip): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(envSchema, source.schema.struct)
}

final class GraftCdcMicroBatchStream(
    sourceId: String,
    envSchema: StructType,
    startupMode: String,
    specificOffset: Long,
    startupTimestamp: Long,
    chunkSize: Int,
    chunksPerBatch: Int,
    backfillSkip: Boolean,
    checkpointLocation: String = null,
    maxEventsPerTrigger: Long = 0L)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val source = ChangeSourceRegistry.get(sourceId)

  /** Checkpoint-scoped assigner state (`SnapshotSplitAssigner` state in
    * `assigner/state/` classes): the chunk plan and per-chunk high watermarks
    * must survive a restart — resuming `chunksDone` against a plan recomputed
    * from the mutated live table would silently skip or re-read key ranges,
    * and losing HWs would disable log-phase suppression.
    */
  private val stateFile: Option[org.apache.hadoop.fs.Path] =
    Option(checkpointLocation).filter(_.nonEmpty)
      .map(l => new org.apache.hadoop.fs.Path(l, "graft-cdc-source-state.json"))
  private val restored: Option[CdcSourceState.State] = stateFile.flatMap(CdcSourceState.read)

  /** `SnapshotSplitAssigner` chunk plan — computed once at FIRST stream start,
    * then always replayed from checkpoint state.
    */
  val chunks: Seq[ChunkSplitter.ChunkRange] = restored.map(_.chunks).getOrElse {
    startupMode match {
      case "initial" | "snapshot" =>
        val (mn, mx, cnt) = source.keyStats
        ChunkSplitter.generateSplits(
          mn, mx, cnt, ChunkSplitter.Config(chunkSize = chunkSize),
          DenseKeyProbe(source))
      case _ => Seq.empty
    }
  }

  private val bounded = startupMode == "snapshot"

  /** log position the stream phase starts from (`StreamSplitAssigner` +
    * `StartupOptions` semantics). Restored on resume: recomputing it against
    * the live source would skip events appended while the stream was down.
    */
  private val logBase: Long = restored.map(_.logBase).getOrElse(startupMode match {
    case "initial" | "snapshot" | "latest" => source.currentOffset
    // `committed`: resume from the source's EXTERNAL offset store (Kafka
    // consumer-group offsets) when one holds a position; otherwise fall back
    // to `latest` exactly as `StartupOptions.committed()` documents for a
    // missing committed offset
    case "committed" => source.committedOffset.getOrElse(source.currentOffset)
    case "earliest" => 0L
    case "specific-offset" => specificOffset
    case "timestamp" => source.offsetAtTimestamp(startupTimestamp)
    case other => throw new IllegalArgumentException(s"unknown startup.mode $other")
  })

  restored match {
    case Some(st) =>
      // re-seed the HW report channel so the log phase keeps suppressing
      // events already merged into finished chunks after a restart — and
      // SEAL the restored values: a redelivered chunk read (a restart
      // replaying an uncommitted batch whose output a replay-skipping
      // sink then discards) re-reads the LIVE table and would otherwise
      // bump the HW past content that was never delivered, silently
      // dropping the in-between log events from the next batch. (A kill
      // in the sub-window after the sink commit but before this state
      // persisted leaves that chunk unsealed — its redelivered events
      // then arrive at-least-once and PK-upsert sinks absorb them.)
      st.hws.foreach { case (idx, hw) => ChangeSourceRegistry.sealChunkHW(sourceId, idx, hw) }
    case None =>
      stateFile.foreach(p =>
        CdcSourceState.write(p, CdcSourceState.State(logBase, chunks, Map.empty)))
  }

  private var lastEnd: CdcOffset = CdcOffset(0, logBase)
  private var availableNowTarget: Option[CdcOffset] = None

  private def next(prev: CdcOffset, limit: ReadLimit): CdcOffset =
    if (prev.chunksDone < chunks.size)
      // carry prev.logOffset (the ORIGINAL log base from the checkpoint), not
      // a recomputed one: after a resume the log phase must start where the
      // snapshot originally began, or events appended across the restart for
      // already-finished chunks would be skipped
      CdcOffset(math.min(prev.chunksDone + chunksPerBatch, chunks.size), prev.logOffset)
    else if (bounded) CdcOffset(chunks.size, prev.logOffset)
    else {
      // admission control on the log phase (the reference's fetch-size
      // backpressure): a ReadMaxRows limit caps how far one micro-batch
      // advances, so a backlog drains in bounded batches instead of one
      // giant catch-up batch that overwhelms executor memory
      val cap = limit match {
        case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          prev.logOffset + math.max(1L, m.maxRows())
        case _ => Long.MaxValue
      }
      val target = math.min(cap, math.max(
        prev.logOffset,
        availableNowTarget.map(_.logOffset).getOrElse(source.currentOffset)))
      ChangeSourceRegistry.pendingDdl(sourceId) match {
        case Some((d, _)) if prev.logOffset >= d =>
          // parked at an unacknowledged DDL: advancing would push new-shape
          // rows through the old envelope schema (silent column loss). The
          // driver must handle + ack the DDL and restart with the evolved
          // schema; the checkpointed offset then resumes exactly here.
          CdcOffset(chunks.size, prev.logOffset)
        case _ =>
          // a batch never crosses a DDL: cap at the first schema change in
          // range so the batch boundary IS the flush barrier in front of it
          // (sources whose log cannot carry DDL answer None without I/O)
          source.firstDdlOffset(prev.logOffset, target) match {
            case Some((d, evs)) =>
              ChangeSourceRegistry.postPendingDdl(sourceId, d, evs)
              CdcOffset(chunks.size, d)
            case None => CdcOffset(chunks.size, target)
          }
      }
    }

  /** Accept any Offset shape: a RESTART that must replay an uncommitted
    * batch hands offsets recovered from the offset log to the stream as
    * `SerializedOffset` (raw json), not as this source's own class — a
    * blind cast dies exactly on the crash-recovery path it exists for.
    * (The same both-shapes tolerance Spark's Kafka source applies.) */
  private def asCdc(o: Offset): CdcOffset = o match {
    case c: CdcOffset => c
    case other => CdcOffset.parse(other.json())
  }

  override def initialOffset(): Offset = CdcOffset(0, logBase)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Admission-controlled progression: chunk batches first (at most
    * `chunksPerBatch` per trigger), then log ranges — the `HybridSplitAssigner`
    * phase machine.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val s = asCdc(start)
    // First planning call after a RESTART: every chunk inside the restart
    // offset was delivered by a batch of the previous incarnation — and if
    // that batch is being REDELIVERED (its checkpoint commit died with the
    // driver), its re-read of the live table reports a FRESH, higher HW
    // while a replay-skipping sink discards the re-read's output. Seal
    // those chunks at the checkpoint-persisted HW so log-phase suppression
    // only trusts content the sink actually holds. The persisted state can
    // LAG one batch (Spark commits sources a batch late), so a chunk whose
    // HW never persisted seals at logBase: it then under-suppresses — its
    // backfilled events re-deliver and the PK-upsert data plane absorbs
    // them — instead of over-suppressing, which would silently DROP every
    // event between the restart and the redelivered read.
    if (!restartSealed) {
      restartSealed = true
      if (restored.isDefined)
        (0 until s.chunksDone).foreach { i =>
          val hw = restored.flatMap(_.hws.get(i)).getOrElse(logBase)
          ChangeSourceRegistry.sealChunkHW(sourceId, i, hw)
        }
    }
    lastEnd = next(s, limit)
    lastEnd
  }

  private var restartSealed = false

  /** `log.max-events-per-trigger` — log-phase rate limiting through Spark's
    * admission control, so Trigger.AvailableNow and continuous runs both
    * drain a backlog in bounded batches.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxEventsPerTrigger > 0) ReadLimit.maxRows(maxEventsPerTrigger)
    else ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowTarget = Some(
      if (bounded) CdcOffset(chunks.size, logBase)
      else CdcOffset(chunks.size, source.currentOffset))
  }

  override def reportLatestOffset(): Offset = synchronized {
    val base = availableNowTarget.getOrElse(CdcOffset(chunks.size, source.currentOffset))
    // an unacknowledged DDL bounds what is "available": AvailableNow must not
    // wait for offsets this stream refuses to cross
    ChangeSourceRegistry.pendingDdl(sourceId) match {
      case Some((d, _)) => CdcOffset(base.chunksDone, math.min(base.logOffset, d))
      case None => base
    }
  }

  override def deserializeOffset(json: String): Offset = CdcOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = asCdc(start)
    val e = asCdc(end)
    val chunkParts: Seq[InputPartition] =
      (s.chunksDone until e.chunksDone).map { idx =>
        SnapshotChunkPartition(sourceId, idx, chunks(idx).start, chunks(idx).end, backfillSkip)
      }
    val logParts: Seq[InputPartition] =
      if (e.chunksDone == chunks.size && e.logOffset > s.logOffset)
        Seq(LogRangePartition(
          sourceId, s.logOffset, e.logOffset,
          chunks.map(c => (c.start, c.end)).toArray))
      else Seq.empty
    (chunkParts ++ logParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(envSchema, source.schema.struct)

  /** Batch committed: persist the chunk HWs reported so far (the reference's
    * reader→enumerator watermark report reaching assigner checkpoint state).
    */
  override def commit(end: Offset): Unit = {
    stateFile.foreach { p =>
      val hws = chunks.indices
        .flatMap(i => ChangeSourceRegistry.chunkHW(sourceId, i).map(i -> _)).toMap
      CdcSourceState.write(p, CdcSourceState.State(logBase, chunks, hws))
    }
    // acknowledge the DURABLY COMMITTED position back to the source — the
    // checkpoint's offset, never the latest read one (the reference's
    // PostgresStreamFetchTask.commitCurrentOffset:126-149 caveat: committing
    // the latest COMMIT LSN instead would let the slot discard WAL a failover
    // restart still needs). Sources without retention feedback no-op this.
    source.commitOffset(asCdc(end).logOffset)
  }

  /** Source metrics surfaced in `StreamingQueryProgress.sources[i].metrics` —
    * the Spark form of the reference's `SourceReaderMetrics`
    * (`currentFetchEventTimeLag`, snapshot progress): phase, chunk progress,
    * and the consumed-vs-available log lag in events. An operator watches
    * `sourceLagEvents` for the same signal the reference's fetch-lag gauge
    * gives: is the reader keeping up with the log.
    */
  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] =
    synchronized {
      val consumed = if (latestConsumed.isPresent)
        Some(asCdc(latestConsumed.get)) else None
      val chunksDone = consumed.map(_.chunksDone).getOrElse(0)
      val logConsumed = consumed.map(_.logOffset).getOrElse(logBase)
      val logAvailable = source.currentOffset
      val m = new java.util.HashMap[String, String]()
      m.put("phase", if (chunksDone < chunks.size) "snapshot" else "stream")
      m.put("numChunksTotal", chunks.size.toString)
      m.put("numChunksDone", chunksDone.toString)
      m.put("logOffsetConsumed", logConsumed.toString)
      m.put("logOffsetAvailable", logAvailable.toString)
      m.put("sourceLagEvents", math.max(0L, logAvailable - logConsumed).toString)
      m
    }

  override def stop(): Unit = source.close()
}

/** Durable assigner state: `{logBase, chunk plan, chunk HWs}` as one JSON file
  * under the source's checkpoint directory — the Spark form of the reference's
  * `SnapshotSplitAssigner` checkpoint state (the `assigner/state/` classes). Written
  * atomically (temp file + rename) through the checkpoint filesystem.
  */
object CdcSourceState {
  import org.apache.hadoop.fs.Path
  import com.fasterxml.jackson.databind.ObjectMapper

  final case class State(
      logBase: Long,
      chunks: Seq[ChunkSplitter.ChunkRange],
      hws: Map[Int, Long])

  private def fs(p: Path) = p.getFileSystem(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  def write(path: Path, st: State): Unit = {
    val chunksJson = st.chunks
      .map(c => s"[${c.start.map(_.toString).getOrElse("null")},${c.end.map(_.toString).getOrElse("null")}]")
      .mkString("[", ",", "]")
    val hwsJson = st.hws.toSeq.sorted.map { case (i, hw) => s"[$i,$hw]" }.mkString("[", ",", "]")
    val json = s"""{"logBase":${st.logBase},"chunks":$chunksJson,"hws":$hwsJson}"""
    val f = fs(path)
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    // rename FIRST (atomic overwrite on POSIX — no window without a state
    // file); only if the filesystem refuses to overwrite (HDFS contract:
    // returns false, does not throw) delete and retry. Failing silently
    // would lose the HW refresh and re-emit suppressed log events after a
    // restart.
    if (!f.rename(tmp, path)) {
      f.delete(path, false)
      if (!f.rename(tmp, path))
        throw new java.io.IOException(s"failed to commit cdc source state to $path")
    }
  }

  def read(path: Path): Option[State] = {
    val f = fs(path)
    if (!f.exists(path)) None
    else {
      val in = f.open(path)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
      val root = new ObjectMapper().readTree(new String(bytes, "UTF-8"))
      val chunks = (0 until root.get("chunks").size()).map { i =>
        val c = root.get("chunks").get(i)
        ChunkSplitter.ChunkRange(
          if (c.get(0).isNull) None else Some(c.get(0).asLong),
          if (c.get(1).isNull) None else Some(c.get(1).asLong))
      }
      val hws = (0 until root.get("hws").size()).map { i =>
        val h = root.get("hws").get(i)
        h.get(0).asInt -> h.get(1).asLong
      }.toMap
      Some(State(root.get("logBase").asLong, chunks, hws))
    }
  }
}

final case class SnapshotChunkPartition(
    sourceId: String,
    chunkIdx: Int,
    lo: Option[Long],
    hi: Option[Long],
    backfillSkip: Boolean)
    extends InputPartition

final case class LogRangePartition(
    sourceId: String,
    fromExclusive: Long,
    toInclusive: Long,
    chunkRanges: Array[(Option[Long], Option[Long])])
    extends InputPartition

final class CdcReaderFactory(envSchema: StructType, payload: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val serializer = ExpressionEncoder(RowEncoder.encoderFor(envSchema)).createSerializer()
    val fieldNames = payload.fieldNames.toSeq
    def payloadRow(m: Map[String, Any]): Row =
      if (m == null || m.isEmpty) null else Row.fromSeq(fieldNames.map(n => m.getOrElse(n, null)))
    def envRow(tableId: String, op: String, before: Map[String, Any], after: Map[String, Any],
        seq: Long, meta: Map[String, String]): InternalRow =
      serializer(Row(tableId, op, payloadRow(before), payloadRow(after), seq, meta)).copy()

    partition match {
      case SnapshotChunkPartition(srcId, chunkIdx, lo, hi, skipBackfill) =>
        val source = ChangeSourceRegistry.get(srcId)
        // ---- AbstractScanFetchTask.execute: LW → select → HW → backfill ----
        val lw = source.currentOffset
        val pk = source.schema.primaryKeys.head
        val rows = scala.collection.mutable.LinkedHashMap.empty[Long, Map[String, Any]]
        source.snapshotRead(lo, hi).foreach(r => rows(LiveTable.keyOf(pk, r)) = r)
        // skip-backfill sets HW = LW (reference AbstractScanFetchTask:76):
        // events that landed DURING the select were not merged into the
        // snapshot rows, so the log-phase suppression filter must not
        // swallow them, and the rows' seq must not outrank them in the
        // downstream max_by(seq) upsert — they replay in the stream phase
        // (the mode's documented at-least-once contract)
        val hw = if (skipBackfill) lw else source.currentOffset
        if (!skipBackfill && hw > lw) {
          source.readLog(lw, hw).foreach { rec =>
            rec.event match {
              case e: graft.core.DataChangeEvent =>
                val k = source.keyOfEvent(e)
                // the chunk's own half-open range, as snapshotRead and the
                // log-phase hwOf filter read it
                if (LiveTable.inChunk(k, lo, hi)) {
                  e.op match {
                    case OperationType.DELETE => rows.remove(k)
                    case _ => rows(k) = e.after
                  }
                }
              case _ => () // DDL in the backfill window surfaces via the log phase
            }
          }
        }
        ChangeSourceRegistry.reportChunkHW(srcId, chunkIdx, hw)
        // snapshot rows carry the source's per-key metadata, if it keeps any
        // (scripted/values sources replay stamped metadata in bounded mode —
        // ChangeSource.snapshotMeta; real DB snapshots return empty)
        val it = rows.iterator
          .map { case (k, r) =>
            envRow(source.tableId.identifier, "INSERT", null, r, hw,
              source.snapshotMeta(k))
          }
        iteratorReader(it)

      case LogRangePartition(srcId, from, to, chunkRanges) =>
        val source = ChangeSourceRegistry.get(srcId)
        def hwOf(key: Long): Long = {
          val idx = chunkRanges.indexWhere { case (lo, hi) => LiveTable.inChunk(key, lo, hi) }
          if (idx < 0) 0L else ChangeSourceRegistry.chunkHW(srcId, idx).getOrElse(0L)
        }
        // A record between this window's start and a LATER rename carries its
        // own epoch's column names; the envelope schema carries the LIVE
        // names. Translate keys forward through the rename chain so the
        // rename preserves in-flight values (the reference applies events
        // strictly in order, where this cannot arise). The batch-never-
        // crosses-a-DDL invariant guarantees every row in this window shares
        // one epoch — the translation is the window's only schema bridge.
        // Bound the translation at THIS stream's schema epoch: a stream
        // created before a later rename still addresses the OLD name in its
        // payload schema, so translating a key past what `fieldNames` can
        // hold would make payloadRow's getOrElse null the value. Walk the
        // chain and keep the FARTHEST name the payload schema knows,
        // falling back to the record's own key when none along the chain is
        // addressable (the schema-coercion bridge then handles it downstream).
        val renames = source.renameHistory
        val payloadNames = fieldNames.toSet
        def liveNames(m: Map[String, Any], off: Long): Map[String, Any] =
          if (m == null || m.isEmpty || renames.isEmpty) m
          else m.map { case (k, v) =>
            var best = k
            var cur = k
            renames.foreach { case (dOff, rm) =>
              if (dOff > off) {
                cur = rm.getOrElse(cur, cur)
                if (payloadNames.contains(cur)) best = cur
              }
            }
            best -> v
          }
        // IncrementalSourceStreamFetcher: suppress events already merged into
        // a finished chunk (offset <= that chunk's HW). Schema-change records
        // never enter the data plane — they travel the control path
        // (ChangeSourceRegistry.pendingDdl), per SURVEY §1.1.
        val it = source.readLog(from, to).iterator
          .collect { case LogRecord(off, _, e: graft.core.DataChangeEvent) => (off, e) }
          .filter { case (off, e) => chunkRanges.isEmpty || off > hwOf(source.keyOfEvent(e)) }
          .map { case (off, e) =>
            // connector metadata (binlog file/pos, LSN, SCN/xid, shard/vgtid,
            // ...) rides the envelope's meta column — MetadataColumns.java's
            // purpose; snapshot rows have none (they are reads, not log records)
            envRow(source.tableId.identifier, e.op.toString,
              if (e.before.isEmpty) null else liveNames(e.before, off),
              if (e.after.isEmpty) null else liveNames(e.after, off),
              off, e.meta)
          }
        iteratorReader(it)
    }
  }

  private def iteratorReader(it: Iterator[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { val has = it.hasNext; if (has) current = it.next(); has }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
