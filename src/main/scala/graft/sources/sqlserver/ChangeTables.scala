package graft.sources.sqlserver

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** SQL Server transaction-log LSN — a 10-byte triple (virtual-log-file
  * sequence : log block : record slot) rendered as three hex parts
  * (`00000029:00000fd0:0005`). The reference's offset for this family wraps
  * the same triple plus an event serial number and compares by COMMIT LSN
  * (`flink-connector-sqlserver-cdc/.../source/offset/LsnOffset.java:37-50,
  * 71-82`). Packed here into one comparable int64 — 28 bits VLF, 24 bits
  * block, 12 bits slot — because the SPI's offsets are Longs; a real
  * deployment carries the full 10 bytes.
  */
final case class CtLsn(value: Long) extends Ordered[CtLsn] {
  def vlf: Long = (value >>> 36) & 0xfffffffL
  def block: Long = (value >>> 12) & 0xffffffL
  def slot: Long = value & 0xfffL
  def asString: String = f"$vlf%08x:$block%08x:$slot%04x"
  override def compare(that: CtLsn): Int =
    java.lang.Long.compareUnsigned(value, that.value)
  override def toString: String = s"LSN[$asString]"
}

object CtLsn {
  val Invalid: CtLsn = CtLsn(0L)
  def of(vlf: Long, block: Long, slot: Long): CtLsn = {
    // vlf is capped one bit under its field so the packed value never goes
    // negative: the SPI and runtime compare offsets SIGNED (window
    // predicates, math.min/max), so a sign-flipping packing would order
    // differently there than CtLsn's own compare — not an order embedding
    require(vlf <= 0x7ffffffL && block <= 0xffffffL && slot <= 0xfffL,
      s"lsn component overflow: $vlf:$block:$slot")
    CtLsn((vlf << 36) | (block << 12) | slot)
  }

  /** Parse `xxxxxxxx:xxxxxxxx:xxxx`; malformed or out-of-range input →
    * [[Invalid]]. */
  def parse(s: String): CtLsn = s.split(':') match {
    case Array(a, b, c) =>
      try of(java.lang.Long.parseLong(a, 16), java.lang.Long.parseLong(b, 16),
        java.lang.Long.parseLong(c, 16))
      catch {
        case _: NumberFormatException => Invalid
        case _: IllegalArgumentException => Invalid
      }
    case _ => Invalid
  }
}

/** One row of a CDC change table, as SQL Server's capture job writes it:
  * `__$start_lsn` is the COMMIT LSN of the source transaction, `__$seqval`
  * orders rows within it, `__$operation` is 1=delete, 2=insert,
  * 3=update-before, 4=update-after, and the data columns carry the FULL row
  * image for every operation (this family has no REPLICA IDENTITY notion —
  * deletes and update-befores always ship every column).
  */
final case class CtRow(startLsn: CtLsn, seqval: Int, operation: Int, data: Map[String, Any])

/** The SQL Server change-data family through the same [[ChangeSource]] SPI as
  * the binlog, LSN/slot, and document sources — the POLL-BASED architecture:
  * there is no log to tail. The server's capture job copies committed
  * changes from the transaction log into per-table CHANGE TABLES, and a
  * reader repeatedly polls a window of them
  * (`fn_cdc_get_all_changes_<capture_instance>(from, to, 'all update old')`
  * between `fn_cdc_get_min_lsn`/`fn_cdc_get_max_lsn` — the query shapes the
  * reference's vendored Debezium connector issues from
  * `SqlServerStreamFetchTask`; offset semantics in `LsnOffset.java:37-50`).
  *
  * Family-distinct properties modeled here, each asserted by the
  * `c_sqlserver_ct` gate or the spec:
  *  - '''Capture lag''' — a committed transaction is INVISIBLE to polling
  *    until the asynchronous capture job runs ([[runCaptureJob]]);
  *    [[currentOffset]] is the change table's max LSN, not the database
  *    head, so the streaming runtime never plans a window it cannot read.
  *  - '''Update pairing''' — an update lands as TWO change-table rows
  *    (operation 3 = before image, 4 = after image, same `__$seqval` pair);
  *    [[readLog]] reassembles them into ONE update event carrying both full
  *    images, emitted at the operation-4 row's LSN (the reference's
  *    `event_serial_no` distinguishes the halves, `LsnOffset.java:46-48`).
  *  - '''Full images everywhere''' — unlike Postgres' default REPLICA
  *    IDENTITY (key-only `oldkeys`), deletes and update-befores carry every
  *    column: the change table is a copy of the row, not a wire frame.
  *  - '''Data-only change tables''' — DDL does not flow through a change
  *    table (a schema change requires a NEW capture instance);
  *    [[firstDdlOffset]] is a driver-cheap constant None.
  */
final class SqlServerChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    val captureInstance: String = "dbo_users")
    extends ChangeSource {

  /** the base table's CATALOG schema — ALTERs evolve it immediately. */
  private var liveSchema = initialSchema
  private val schemaMgr = { val m = new SchemaManager; m.register(tableId, initialSchema); m }
  /** the column set the ACTIVE capture instance records. Set at
    * sp_cdc_enable_table time; an ALTER does NOT change it — captured rows
    * keep the old shape until a NEW instance is enabled. */
  private var captureColumns: Seq[String] = initialSchema.struct.fieldNames.toSeq
  /** an ALTER awaiting its second capture instance: (new column set, ddl). */
  private var pendingInstance: Option[(Seq[String], SchemaChangeEvent)] = None
  /** cdc.ddl_history analog: (switch offset, ddl) — surfaced to the reader
    * at the instance-switch position on the control path. */
  private val ddlHistory = scala.collection.mutable.ArrayBuffer.empty[(Long, SchemaChangeEvent)]

  override def schema: TableSchema = synchronized(liveSchema)

  /** the base table — what snapshot chunks read (always current). */
  private val table = new LiveTable("change-table source", initialSchema, initialRows)

  /** committed-but-uncaptured transactions: (commit LSN, ts, rows). The
    * transaction log assigned their LSNs at commit; the capture job has not
    * copied them into the change table yet. */
  private val logPending =
    scala.collection.mutable.ArrayBuffer.empty[(CtLsn, Long, Seq[CtRow])]
  /** the change table: what polling reads. */
  private val changeTable = scala.collection.mutable.ArrayBuffer.empty[(CtRow, Long)]
  /** lsn_time_mapping analog: commit LSN → wall clock. */
  private var vlfSeq = 0x29L
  private var blockInVlf = 0L
  private var maxCapturedLsn = CtLsn.Invalid

  private def nextCommitLsn(): CtLsn = {
    // content-sized stride, never 1; a VLF rolls over like a binlog file does
    blockInVlf += 0x10 + (blockInVlf % 3) * 0x10
    if (blockInVlf > 0xffff00L) { vlfSeq += 1; blockInVlf = 0x10 }
    CtLsn.of(vlfSeq, blockInVlf, 0)
  }

  /** Commit one transaction against the BASE table. The change rows are
    * assigned their commit LSN now (the transaction log did, at commit) but
    * stay invisible to polling until [[runCaptureJob]] copies them — the
    * capture-lag property. Update events may arrive with key-only before
    * images (the generic gate fixtures do); the change table records the
    * FULL before image from the live row, as the real capture job does.
    * Every captured image is PROJECTED to the active capture instance's
    * column set: during a migration window (ALTER applied, new instance not
    * yet enabled) new-column values are silently dropped — the documented
    * SQL Server data-loss window the gate's oracle encodes.
    */
  def commitTx(changes: Seq[DataChangeEvent], tsMillis: Long = 0L): CtLsn = synchronized {
    require(changes.nonEmpty, "empty transactions are not captured")
    // fail fast BEFORE mutating the base table or queueing the tx: the
    // packed LSN gives the row slot 12 bits, and discovering the overflow
    // inside the capture job (AFTER the rows were appended to the change
    // table, with the tx still queued) poisons the change table — every
    // retry re-appends the queued rows and every later read throws
    require(changes.size <= 0xfff,
      s"tx of ${changes.size} changes exceeds the 4095-row slot cap of the " +
        "packed LSN — split the transaction (LogMiner's guard, same reason)")
    def captured(m: Map[String, Any]): Map[String, Any] =
      m.view.filterKeys(captureColumns.contains).toMap
    val commitLsn = nextCommitLsn()
    var seq = 0
    val rows = changes.flatMap { e =>
      e.op match {
        case OperationType.INSERT | OperationType.REPLACE =>
          seq += 1
          table(e)
          Seq(CtRow(commitLsn, seq, 2, captured(e.after)))
        case OperationType.DELETE =>
          seq += 1
          val full = table.imageBefore(e)
          table(e)
          Seq(CtRow(commitLsn, seq, 1, captured(full)))
        case OperationType.UPDATE =>
          seq += 1
          val full = table.imageBefore(e)
          table(e)
          // one update = a 3/4 pair sharing the seqval
          Seq(CtRow(commitLsn, seq, 3, captured(full)), CtRow(commitLsn, seq, 4, captured(e.after)))
        case other => throw new IllegalArgumentException(s"change tables cannot carry $other")
      }
    }
    logPending += ((commitLsn, tsMillis, rows))
    commitLsn
  }

  /** ALTER TABLE: the catalog evolves NOW, the active capture instance does
    * not — its change table keeps the old column list (SQL Server records
    * the change in cdc.ddl_history and keeps capturing the old shape).
    * Captured rows project away new columns until
    * [[enableNewCaptureInstance]] switches over.
    */
  def alterTable(e: SchemaChangeEvent): Unit = synchronized {
    require(pendingInstance.isEmpty, "one capture-instance migration at a time")
    liveSchema = schemaMgr.applySchemaChange(e)
    pendingInstance = Some((liveSchema.struct.fieldNames.toSeq, e))
  }

  /** `sys.sp_cdc_enable_table @capture_instance = 'v2'` + operator
    * switch-over: capture from here on carries the new column set, and the
    * schema change surfaces to the reader AT the switch position on the
    * driver-cheap control path ([[firstDdlOffset]]). The switch takes its
    * own LSN (and advances the observable head to it) so a checkpoint
    * sitting exactly on the last captured row still sees the DDL ahead of
    * it.
    */
  def enableNewCaptureInstance(): CtLsn = synchronized {
    val (cols, e) = pendingInstance.getOrElse(
      throw new IllegalStateException("no pending capture-instance migration"))
    // the switch advances the observable head past its LSN; uncaptured txs
    // BEHIND it would land in already-consumed windows and be skipped
    // silently — run the capture job first, loudly
    require(logPending.isEmpty,
      s"${logPending.size} uncaptured txs behind the switch point: run the capture job first")
    captureColumns = cols
    pendingInstance = None
    val lsn = nextCommitLsn()
    maxCapturedLsn = lsn
    ddlHistory += ((lsn.value, e))
    lsn
  }

  /** The asynchronous capture job: copy pending transactions into the change
    * table and advance `fn_cdc_get_max_lsn`. Until this runs, polling sees
    * nothing of them. */
  def runCaptureJob(): CtLsn = synchronized {
    // validate EVERY pending slot before appending ANY row: an overflow
    // discovered mid-append leaves earlier txs copied with logPending
    // uncleared — duplicated on the next run
    logPending.foreach { case (lsn, _, rows) =>
      CtLsn.of(lsn.vlf, lsn.block, rows.map(_.seqval).max.toLong)
    }
    logPending.foreach { case (lsn, ts, rows) =>
      rows.foreach(r => changeTable += ((r, ts)))
      // the head is the tx's LAST ROW position (slot = max seqval), so a
      // window ending at the head covers every captured row
      maxCapturedLsn = CtLsn.of(lsn.vlf, lsn.block, rows.map(_.seqval).max.toLong)
    }
    logPending.clear()
    maxCapturedLsn
  }

  /** `fn_cdc_get_max_lsn()`: the head of the CHANGE TABLE, which lags the
    * database until the capture job runs. */
  override def currentOffset: Long = synchronized(maxCapturedLsn.value)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  /** One poll window (`fn_cdc_get_all_changes(from, to, 'all update old')`):
    * change-table rows whose row LSN ∈ (from, to], with each operation-3/4
    * pair reassembled into a single update event at the pair's operation-4
    * LSN. Windows land on capture-job boundaries (the head only moves there),
    * so a pair never straddles one; the 3-row's slot is never emitted as an
    * offset, which monotone checkpoint resume tolerates (offsets are sparse
    * in every non-trivial family — LSN strides here, content strides in the
    * WAL source). */
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      val out = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
      var pendingBefore: Option[CtRow] = None
      changeTable.foreach { case (r, ts) =>
        // a row's own LSN: commit LSN with the seqval in the slot bits
        val rowLsn = CtLsn.of(r.startLsn.vlf, r.startLsn.block, r.seqval.toLong)
        if (rowLsn.value > fromExclusive && rowLsn.value <= toInclusive) {
          val meta = Map(
            "commit_lsn" -> r.startLsn.asString, "change_lsn" -> rowLsn.asString,
            "event_serial_no" -> r.seqval.toString)
          r.operation match {
            case 2 =>
              out += LogRecord(rowLsn.value, ts,
                DataChangeEvent.insert(tableId, r.data).copy(meta = meta))
            case 1 =>
              out += LogRecord(rowLsn.value, ts,
                DataChangeEvent.delete(tableId, r.data).copy(meta = meta))
            case 3 =>
              require(pendingBefore.isEmpty, "two update-befores without an after")
              pendingBefore = Some(r)
            case 4 =>
              val before = pendingBefore.getOrElse(
                throw new IllegalStateException("update-after without its before row"))
              require(before.seqval == r.seqval && before.startLsn == r.startLsn,
                s"mismatched update pair: $before vs $r")
              pendingBefore = None
              out += LogRecord(rowLsn.value, ts,
                DataChangeEvent.update(tableId, before.data, r.data).copy(meta = meta))
            case other => throw new IllegalArgumentException(s"unknown __$$operation $other")
          }
        }
      }
      require(pendingBefore.isEmpty, "window split an update pair")
      out.toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  /** `sys.fn_cdc_map_time_to_lsn` analog over the captured commits. */
  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    changeTable.find(_._2 >= ts)
      .map { case (r, _) => CtLsn.of(r.startLsn.vlf, r.startLsn.block, 0).value }
      .getOrElse(maxCapturedLsn.value)
  }

  /** Change tables are data-only: no DDL record ever rides the polled rows.
    * Schema changes surface ONLY at capture-instance switch positions
    * (cdc.ddl_history), scanned here driver-cheap — absent a migration this
    * is constant None. */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    synchronized(LiveTable.firstDdlOffset(ddlHistory, fromExclusive, toInclusive))

  /** test probe: rows the capture job has not yet copied. */
  def uncapturedTxCount: Int = synchronized(logPending.size)
}
