package graft.sources.oracle

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** The Oracle redo-log family through the same [[ChangeSource]] SPI as the
  * binlog, WAL/slot, change-table, and document sources — the MINED-LOG
  * architecture the reference vendors wholesale
  * (`flink-connector-oracle-cdc/.../io/debezium/connector/oracle/logminer/
  * LogMinerStreamingChangeEventSource.java`; offset model
  * `oracle/source/meta/offset/RedoLogOffset.java`): change capture is a SQL
  * query over `V$LOGMNR_CONTENTS` between SCN ranges, and — uniquely among
  * the families — the mined rows are raw REDO ENTRIES from ALL transactions
  * INTERLEAVED, including uncommitted ones. The reader must assemble
  * transactions itself:
  *
  *  - '''Transaction buffering''' — DML entries accumulate per-XID and are
  *    emitted ONLY when the transaction's COMMIT entry is mined; a ROLLBACK
  *    discards the buffer (Debezium's `TransactionalBuffer` role, inlined
  *    into [[readLog]] here because the double retains its redo).
  *  - '''Commit-order emission''' — transactions emit in COMMIT-SCN order,
  *    not entry-SCN order: a long transaction's early entries (low SCNs)
  *    emit AFTER a short transaction that started later but committed first.
  *    The SPI offset is therefore `(commitScn << 16) | entrySeq` — packed on
  *    the COMMIT position, exactly why the reference keeps a separate
  *    `commit_scn` in its offset next to the read `scn`
  *    (`LogMinerStreamingChangeEventSource.java:314-320` floors the commit
  *    SCN to avoid double-emitting pre-snapshot transactions).
  *  - '''Restart SCN''' — the mining window on restart must reach back to
  *    the FIRST entry of the oldest in-flight transaction (not the last
  *    commit), or its buffered entries would be unminable; [[restartScn]]
  *    exposes that position, and the gate proves an in-flight transaction
  *    spanning a stream restart replays completely despite its entry SCNs
  *    predating already-emitted commits.
  *  - '''Read consistency''' — uncommitted changes are invisible to
  *    snapshot reads: the base table only moves at commit.
  *
  * DDL: LogMiner mines DDL as its own auto-committed operation
  * (`OPERATION='DDL'` rows); [[ddl]] models that, surfacing through the
  * same driver-cheap [[firstDdlOffset]] control path the other families use.
  */
final class LogMinerChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]])
    extends ChangeSource {

  override def schema: TableSchema = initialSchema

  /** committed state — what snapshot chunks read (read consistency: open
    * transactions have not touched this). */
  private val table = new LiveTable("logminer source", initialSchema, initialRows)

  /** one mined redo entry: entry SCN, owning transaction, the change. */
  private final case class RedoEntry(scn: Long, xid: String, event: DataChangeEvent)
  /** the retained redo stream, in entry-SCN order, ALL transactions
    * interleaved. Committed txs additionally appear in [[commits]]. */
  private val redo = scala.collection.mutable.ArrayBuffer.empty[RedoEntry]
  /** xid → (commitScn, tsMillis), in commit order. */
  private val commits = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  /** DDL entries: auto-committed, (packed offset, event). */
  private val ddlLog = scala.collection.mutable.ArrayBuffer.empty[(Long, SchemaChangeEvent)]

  private var scnHead: Long = 1000000L
  private var headOffset: Long = 1000000L << 16
  private var xidCounter: Int = 0

  private def nextScn(): Long = { scnHead += 1 + (scnHead % 3); scnHead }

  /** An open transaction: DML entries land in the redo stream immediately
    * (LogMiner mines them long before commit) but stay invisible — to both
    * the emitted stream and snapshot reads — until [[commit]]. */
  final class Tx private[LogMinerChangeSource] (val xid: String) {
    private var open = true
    private[LogMinerChangeSource] val events =
      scala.collection.mutable.ArrayBuffer.empty[DataChangeEvent]

    private def add(e: DataChangeEvent): Tx = LogMinerChangeSource.this.synchronized {
      require(open, s"tx $xid is closed")
      redo += RedoEntry(nextScn(), xid, e)
      events += e
      this
    }
    def insert(after: Map[String, Any]): Tx = add(DataChangeEvent.insert(tableId, after))
    def update(before: Map[String, Any], after: Map[String, Any]): Tx =
      add(DataChangeEvent.update(tableId, before, after))
    def delete(before: Map[String, Any]): Tx = add(DataChangeEvent.delete(tableId, before))

    /** first entry SCN — what the restart window must reach back to. */
    private[LogMinerChangeSource] def startScn: Option[Long] =
      LogMinerChangeSource.this.synchronized(
        redo.collectFirst { case RedoEntry(s, x, _) if x == xid => s })

    /** COMMIT: assigns the commit SCN, applies to the committed table, and
      * makes the buffered entries emittable. Returns the packed offset of
      * the transaction's last record. */
    def commit(tsMillis: Long = 0L): Long = LogMinerChangeSource.this.synchronized {
      require(open, s"tx $xid is closed"); open = false
      require(events.nonEmpty, "empty transactions are not mined")
      // the packed offset gives the entry seq 16 bits; a larger transaction
      // would silently carry into the commit-SCN bits and collide with the
      // next commit's offset range — fail fast instead
      require(events.size <= 0xffff,
        s"tx $xid has ${events.size} entries; the 16-bit seq field caps at 65535")
      val commitScn = nextScn()
      commits(xid) = (commitScn, tsMillis)
      events.foreach(table.apply)
      openTxs.remove(xid)
      headOffset = (commitScn << 16) | events.size.toLong
      headOffset
    }

    /** ROLLBACK: the buffered entries are discarded — mined, never emitted. */
    def rollback(): Unit = LogMinerChangeSource.this.synchronized {
      require(open, s"tx $xid is closed"); open = false
      openTxs.remove(xid)
    }
  }

  private val openTxs = scala.collection.mutable.LinkedHashMap.empty[String, Tx]

  def begin(): Tx = synchronized {
    xidCounter += 1
    val tx = new Tx(f"0x0${xidCounter}%03x.${xidCounter}%03d")
    openTxs(tx.xid) = tx
    tx
  }

  /** DDL mines as its own auto-committed operation at its own SCN. */
  def ddl(e: SchemaChangeEvent): Long = synchronized {
    val scn = nextScn()
    headOffset = (scn << 16) | 1L
    ddlLog += ((headOffset, e))
    headOffset
  }

  /** head = the last COMMITTED (or DDL) position; open transactions never
    * advance it, so the runtime never plans a window into uncommitted state. */
  override def currentOffset: Long = synchronized(headOffset)

  /** The restart position a real deployment checkpoints alongside the commit
    * offset: mining must resume at the oldest in-flight transaction's FIRST
    * entry SCN (`RedoLogOffset` keeps `scn` for this next to the emit-dedup
    * `commit_scn`), else its buffer cannot be rebuilt. */
  def restartScn: Long = synchronized {
    val inFlight = openTxs.values.flatMap(_.startScn)
    if (inFlight.isEmpty) scnHead else inFlight.min
  }

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  /** Mine `(from, to]`: assemble transactions from the interleaved redo
    * entries, emit ONLY committed ones, ordered by (commitScn, entry seq),
    * each record at its packed `(commitScn << 16) | seq` offset and carrying
    * scn / commit_scn / xid metadata. Rolled-back and in-flight XIDs
    * contribute nothing. */
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      val byXid = redo.groupBy(_.xid)
      val out = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
      commits.foreach { case (xid, (commitScn, ts)) =>
        val entries = byXid.getOrElse(xid, Seq.empty)
        entries.iterator.zipWithIndex.foreach { case (entry, i) =>
          val off = (commitScn << 16) | (i + 1).toLong
          if (off > fromExclusive && off <= toInclusive) {
            out += LogRecord(off, ts, entry.event.copy(meta = entry.event.meta ++ Map(
              "scn" -> entry.scn.toString,
              "commit_scn" -> commitScn.toString,
              "xid" -> xid)))
          }
        }
      }
      // commits is insertion-ordered (= commit order) and commit SCNs are
      // globally monotone, so packed offsets are already sorted; assert the
      // invariant rather than trusting it
      val offs = out.map(_.offset)
      require(offs.sizeIs <= 1 || offs.zip(offs.tail).forall { case (a, b) => a < b },
        "mined emission must be commit-SCN-ordered")
      out.toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    commits.collectFirst {
      case (_, (commitScn, t)) if t >= ts => (commitScn << 16) | 0L
    }.getOrElse(headOffset)
  }

  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    synchronized(LiveTable.firstDdlOffset(ddlLog, fromExclusive, toInclusive))

  /** test probes */
  def openTxCount: Int = synchronized(openTxs.size)
  def minedEntryCount: Int = synchronized(redo.size)
}
