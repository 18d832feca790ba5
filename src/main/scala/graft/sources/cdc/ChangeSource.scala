package graft.sources.cdc

import graft.core._

/** A change-data source the incremental-snapshot framework can read: a keyed
  * table snapshot (live, mutable) plus an appendable change log with monotone
  * offsets — the abstraction behind `flink-cdc-base`'s dialect SPI
  * (`JdbcDataSourceDialect`: snapshot reads by key range + log tailing).
  *
  * Every source family shares the snapshot side. [[JdbcChangeSource]] runs
  * it as SQL against a real engine; the in-process doubles (the scripted
  * source, the LogMiner, ASN, change-table, TiKV, WAL, VStream and document
  * sources, and the binlog server) each hold one [[LiveTable]], which owns
  * the single-numeric-PK check, the key parse, the PK-change rule, the
  * half-open chunk read and the key stats. What differs between families is
  * only the log: its offsets and their packing, when a write becomes
  * visible to [[readLog]], the DDL it carries, and the family's refusals
  * and write API.
  */
trait ChangeSource {
  def tableId: TableId
  def schema: TableSchema
  /** current head offset of the log (the reference's `currentBinlogOffset`). */
  def currentOffset: Long
  /** live snapshot rows whose key ∈ [lo, hiExclusive) (None = unbounded) —
    * half-open to match `ChunkSplitter.ChunkRange` semantics. */
  def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]]
  /** log records with `fromExclusive < offset <= toInclusive`. */
  def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord]
  /** key-range stats for the chunk splitter. */
  def keyStats: (Option[Long], Option[Long], Long)
  /** first offset whose wall-clock timestamp ≥ ts (startup mode `timestamp`). */
  def offsetAtTimestamp(ts: Long): Long

  /** Checkpoint-committed position fed BACK to the source after a durable
    * batch commit — the reference's reader→source offset-commit channel
    * (`postgres/source/events/OffsetCommitEvent.java` →
    * `PostgresStreamFetchTask.commitCurrentOffset`, which commits the
    * CHECKPOINT's LSN, not the latest read COMMIT LSN, to the replication
    * slot). Default no-op: file/pos-retained logs (binlog) need no
    * acknowledgement; log-retention sources (Postgres slots) override to
    * advance `confirmed_flush_lsn` and let the server recycle WAL. */
  def commitOffset(offset: Long): Unit = ()

  /** The position an EXTERNAL offset store holds for this source — what
    * startup mode `committed` resumes from (`StartupOptions.committed()`:
    * Kafka consumer-group committed offsets). `None` = no external store or
    * nothing committed yet, and `committed` falls back to `latest` exactly
    * as the reference documents for a missing committed offset. */
  def committedOffset: Option[Long] = None

  /** Release any long-lived connection this source holds (called from the
    * micro-batch stream's `stop()`). Default no-op: most scripted/file
    * sources hold nothing; wire sources that pool a connection override
    * and must tolerate further calls after close (reconnect on demand). */
  def close(): Unit = ()

  /** First schema-change position in `(fromExclusive, toInclusive]` with ALL
    * schema events recorded at that position, if the log can carry DDL — a
    * multi-clause `ALTER TABLE` is ONE log position carrying one event per
    * clause, in clause order (the reference's Antlr listener accumulates a
    * list per statement, `CustomAlterTableParserListener.java:64,249-328`).
    * Default scans the log; implementations whose log is data-only (e.g. a
    * capture-table source) return None without I/O — this runs on the DRIVER
    * at every trigger, so it must be cheap. */
  def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] = {
    val recs = readLog(fromExclusive, toInclusive)
    recs.collectFirst {
      case LogRecord(off, _, _: SchemaChangeEvent) => off
    }.map { off =>
      (off, recs.collect { case LogRecord(`off`, _, e: SchemaChangeEvent) => e })
    }
  }

  /** Column-rename DDL history, one entry per rename event in offset order:
    * `(statementOffset, oldName -> newName)`. In-flight rows read AFTER a
    * restart but BEFORE a parked rename carry their own epoch's names; the
    * reader translates them forward through this chain so a rename never
    * drops the values of rows that were already in the log when it applied
    * (the reference processes events strictly in order, so a rename always
    * sees old-shape rows land first — offset-windowed reads must reproduce
    * that). Data-only logs and sources that refuse renames keep the empty
    * default. Driver/executor-cheap: called once per partition read. */
  def renameHistory: Seq[(Long, Map[String, String])] = Seq.empty

  /** Connector metadata for a SNAPSHOT row, by key. Default empty: real
    * database snapshots are reads, not log records, and carry no per-row
    * metadata. The values-style scripted source overrides it so a BOUNDED
    * (batch runtime-mode) run reproduces the reference's event-replay
    * semantics — the values connector's batch fixtures stamp `op_ts` on
    * every insert (`ValuesDataSourceHelper.transformBatchTable:1034-1100`)
    * and the batch ITCases assert it reaches the sink
    * (`FlinkPipelineBatchComposerITCase.testTransformInBatchMode:404`). */
  def snapshotMeta(key: Long): Map[String, String] = Map.empty

  /** numeric PK of a data event — the key lives in `before` for DELETE
    * (`DataChangeEvent.java` before/after contract). */
  def keyOfEvent(e: DataChangeEvent): Long = LiveTable.keyOfEvent(schema.primaryKeys.head, e)
}

/** A log entry: data changes AND schema changes ride the same ordered log,
  * exactly as binlog DDL statements interleave with row events
  * (`MySqlEventDeserializer.java:57` dispatches on both).
  */
final case class LogRecord(offset: Long, tsMillis: Long, event: Event)

/** In-memory scripted source: `append` simultaneously mutates the live table
  * (like a real DB the snapshot reads from) and appends to the log.
  * Non-final so tests can interpose on `snapshotRead` to simulate writes that
  * land concurrently with a chunk read (inside the LW/HW backfill window).
  */
class ScriptedChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]])
    extends ChangeSource {

  private val table = new LiveTable("scripted source", initialSchema, initialRows)
  private val log = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
  private var offset = 0L
  /** the table's CURRENT declared schema — DDL in the log evolves it, like a
    * real database catalog. */
  private var liveSchema = initialSchema
  private val schemaMgr = { val m = new SchemaManager; m.register(tableId, initialSchema); m }

  override def schema: TableSchema = synchronized(liveSchema)

  /** per-key metadata of the event that last wrote the row — lets a BOUNDED
    * read replay the fixture's stamped metadata (see
    * [[ChangeSource.snapshotMeta]]) */
  private val rowMeta = scala.collection.mutable.HashMap.empty[Long, Map[String, String]]

  def append(event: DataChangeEvent, tsMillis: Long = 0L): Long = synchronized {
    offset += 1
    table(event).foreach(rowMeta.remove)
    if (event.op != OperationType.DELETE) rowMeta(table.keyOf(event.after)) = event.meta
    log += LogRecord(offset, tsMillis, event)
    offset
  }

  override def snapshotMeta(key: Long): Map[String, String] =
    synchronized(rowMeta.getOrElse(key, Map.empty))

  /** Append a DDL statement to the log: evolves the live schema (the catalog)
    * and records the event at its log position, exactly where a binlog carries
    * the statement. */
  def appendDdl(event: SchemaChangeEvent, tsMillis: Long = 0L): Long = synchronized {
    offset += 1
    liveSchema = schemaMgr.applySchemaChange(event)
    log += LogRecord(offset, tsMillis, event)
    offset
  }

  override def currentOffset: Long = synchronized(offset)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      log.filter(r => r.offset > fromExclusive && r.offset <= toInclusive).toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    log.find(_.tsMillis >= ts).map(_.offset - 1).getOrElse(offset)
  }

  override def renameHistory: Seq[(Long, Map[String, String])] = synchronized {
    log.collect {
      case LogRecord(off, _, RenameColumnEvent(_, m)) => (off, m)
    }.toSeq
  }

  // the default reads `schema`, which takes the monitor on every event
  override def keyOfEvent(e: DataChangeEvent): Long = table.keyOfEvent(e)
}

/** Driver/executor-shared registry (valid in local mode, where tests run; a
  * cluster deployment would back [[ChangeSource]] with an external system —
  * the registry then only lives on executors). Also records per-chunk high
  * watermarks reported by snapshot readers, standing in for the reference's
  * reader→enumerator watermark report channel
  * (`SnapshotSplitAssigner.onFinishedSplits`).
  */
object ChangeSourceRegistry {
  private val sources = scala.collection.concurrent.TrieMap.empty[String, ChangeSource]
  private val chunkHWs = scala.collection.concurrent.TrieMap.empty[(String, Int), Long]
  private val sealedHWs = scala.collection.concurrent.TrieMap.empty[(String, Int), Unit]
  private val pendingDdls =
    scala.collection.concurrent.TrieMap.empty[String, (Long, List[SchemaChangeEvent])]

  def register(id: String, s: ChangeSource): Unit = sources.put(id, s)
  def get(id: String): ChangeSource =
    sources.getOrElse(id, throw new IllegalStateException(s"no change source '$id'"))
  def remove(id: String): Unit = {
    sources.remove(id)
    chunkHWs.filterInPlace((k, _) => k._1 != id)
    sealedHWs.filterInPlace((k, _) => k._1 != id)
    pendingDdls.remove(id)
  }

  def reportChunkHW(id: String, chunkIdx: Int, hw: Long): Unit =
    // a SEALED chunk keeps its checkpoint-persisted HW: after a restart, a
    // REDELIVERED chunk read re-reads the live table and would report a
    // FRESH (higher) HW — but a replay-skipping sink discards that
    // redelivery's output, so suppressing log events up to the fresh HW
    // would silently drop events the sink never received. The persisted
    // HW is the one whose content actually committed.
    if (!sealedHWs.contains((id, chunkIdx))) chunkHWs.put((id, chunkIdx), hw)
  def chunkHW(id: String, chunkIdx: Int): Option[Long] = chunkHWs.get((id, chunkIdx))

  /** Restore a chunk's HW from committed checkpoint state and SEAL it:
    * later reports (redelivered reads after a restart) are ignored. */
  def sealChunkHW(id: String, chunkIdx: Int, hw: Long): Unit = {
    chunkHWs.put((id, chunkIdx), hw)
    sealedHWs.put((id, chunkIdx), ())
  }

  /** Control path for mid-stream DDL (the `SchemaChangeEvent` flow of
    * `MySqlEventDeserializer.java:57`): the micro-batch stream parks at the
    * DDL's log offset and posts its CLAUSE QUEUE here — a multi-clause
    * `ALTER TABLE` is one statement offset carrying one event per clause
    * (`CustomAlterTableParserListener.java:64` accumulates a list). The
    * pipeline driver handles the HEAD clause at the batch boundary
    * (schema evolution + sink DDL), acknowledges it — popping the queue —
    * and repeats; the stream stays parked at the statement offset until the
    * queue drains, then — restarted with the fully-evolved schema — resumes
    * past it. Clause order is preserved (DROP a, ADD a ≠ ADD a, DROP a).
    */
  def postPendingDdl(id: String, offset: Long, evs: Seq[SchemaChangeEvent]): Unit = {
    require(evs.nonEmpty, "a DDL parking post must carry at least one clause event")
    pendingDdls.putIfAbsent(id, (offset, evs.toList))
  }
  def pendingDdl(id: String): Option[(Long, SchemaChangeEvent)] =
    pendingDdls.get(id).map { case (off, evs) => (off, evs.head) }
  def ackPendingDdl(id: String): Unit =
    pendingDdls.get(id).foreach {
      case (_, _ :: Nil) | (_, Nil) => pendingDdls.remove(id)
      case (off, _ :: rest) => pendingDdls.put(id, (off, rest))
    }
}
