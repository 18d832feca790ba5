package graft.sources.db2

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** Db2 SQL-Replication (ASN) capture sequence: a 10-byte, strictly
  * monotone log sequence number. `IBMSNAP_COMMITSEQ` stamps every row of a
  * transaction with its commit position; `IBMSNAP_INTENTSEQ` orders rows
  * WITHIN the transaction (the reference's windows sort by
  * `COMMITSEQ, INTENTSEQ` — `flink-connector-db2-cdc/.../db2/
  * Db2Connection.java:72-73`; offset semantics in
  * `db2/source/offset/LsnOffset.java`). Packed into one comparable int64 —
  * 48 bits commit sequence, 16 bits intent sequence — because the SPI's
  * offsets are Longs; a real deployment carries the full 10 bytes, rendered
  * as 20 hex chars the way `asncdc` tooling prints them.
  */
final case class AsnSeq(value: Long) extends Ordered[AsnSeq] {
  def commitSeq: Long = value >>> 16
  def intentSeq: Long = value & 0xffffL
  /** the 10-byte value zero-extended, as ASN monitor tables render it. */
  def asString: String = f"$value%020x"
  override def compare(that: AsnSeq): Int =
    java.lang.Long.compareUnsigned(value, that.value)
  override def toString: String = s"ASN[$asString]"
}

object AsnSeq {
  val Invalid: AsnSeq = AsnSeq(0L)
  def of(commitSeq: Long, intentSeq: Long): AsnSeq = {
    // commitSeq capped one bit under its field: the SPI and runtime compare
    // offsets SIGNED, so the packing must be an order embedding
    require(commitSeq <= 0x7fffffffffffL && intentSeq <= 0xffffL,
      s"asn seq component overflow: $commitSeq:$intentSeq")
    AsnSeq((commitSeq << 16) | intentSeq)
  }
}

/** One row of an ASN CD (change-data) table, as the Capture program writes
  * it: `IBMSNAP_COMMITSEQ` + `IBMSNAP_INTENTSEQ` position the row,
  * `IBMSNAP_OPERATION` is a one-letter code — and unlike every other family
  * here, Db2 ASN has NO dedicated update operation: the Capture program
  * records an update as a 'D' row (full before image) immediately followed
  * by an 'I' row (full after image) within the same `COMMITSEQ`. */
final case class CdRow(commitSeq: Long, intentSeq: Long, operation: Char,
    data: Map[String, Any])

/** The Db2 ASN change-data family through the same [[ChangeSource]] SPI as
  * the other eight dialects — architecturally the SQL-Server POLL family
  * (no log to tail; an asynchronous program copies committed changes into
  * per-table CD tables that a reader polls in windows), but with ASN's own
  * naming and — the family-distinct part — ASN's own update encoding:
  *
  *  - '''D/I update pairs''' — the CD table has no update operation code.
  *    The reference's poll query reassembles updates positionally with
  *    LEAD/LAG over `(COMMITSEQ, INTENTSEQ)`: a 'D' row immediately
  *    followed by an 'I' row in the same commit is the before/after pair of
  *    ONE update (`Db2Connection.java:62-73`, the CASE over
  *    `LEAD(IBMSNAP_OPERATION)`/`LAG(IBMSNAP_OPERATION)`). [[readLog]]
  *    implements exactly that contract: pairing is positional within the
  *    commit, not keyed — the documented ASN encoding, faithfully including
  *    its corollary that a bare delete immediately followed by a bare
  *    insert in one transaction reads as an update.
  *  - '''SYNCHPOINT head''' — the observable head is
  *    `max(SYNCHPOINT) FROM IBMSNAP_REGISTER` (`Db2Connection.java:51-55`),
  *    which the Capture program advances when it copies; until
  *    [[runCaptureProgram]] runs, committed transactions are invisible to
  *    polling (the capture-lag property shared with SQL Server CT).
  *  - '''Full images everywhere''' — CD rows are row copies: deletes and
  *    update-befores always carry every column.
  *  - '''Data-only CD tables''' — DDL never rides the polled rows;
  *    `firstDdlOffset` is the family's constant-None control path
  *    (re-registration creates a new CD table, the capture-instance
  *    migration shape proven on the SQL Server source).
  */
final class Db2AsnChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    val cdTable: String = "ASNCDC.CDUSERS")
    extends ChangeSource {

  override def schema: TableSchema = initialSchema

  /** the base table — what snapshot chunks read (always current). */
  private val table = new LiveTable("ASN CD source", initialSchema, initialRows)

  /** committed-but-uncaptured transactions: (commitSeq, ts, rows). */
  private val logPending =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[CdRow])]
  /** the CD table: what polling reads, in (COMMITSEQ, INTENTSEQ) order. */
  private val cdRows = scala.collection.mutable.ArrayBuffer.empty[(CdRow, Long)]
  /** IBMSNAP_REGISTER's SYNCHPOINT: advanced only by the Capture program. */
  private var synchpoint = AsnSeq.Invalid
  private var commitSeqGen = 0x1000L

  /** Commit one transaction against the base table. CD rows get their
    * COMMITSEQ now (the log assigned it at commit) but stay invisible to
    * polling until [[runCaptureProgram]] copies them and advances the
    * SYNCHPOINT. Updates become the D/I pair ASN actually records. */
  def commitTx(changes: Seq[DataChangeEvent], tsMillis: Long = 0L): AsnSeq = synchronized {
    require(changes.nonEmpty, "empty transactions are not captured")
    // fail fast BEFORE mutating the base table or queueing the tx: the
    // 16-bit intent sequence caps at 65535 and an UPDATE emits a D/I PAIR
    // (two intents) — discovering the overflow later (in AsnSeq.of after
    // the rows landed, or worse inside the capture program after cdRows
    // grew) corrupts state and duplicates rows on retry
    require(changes.size * 2 <= 0xffff,
      s"tx of ${changes.size} changes can exceed the 65535-intent cap " +
        "(updates pair D/I) — split the transaction")
    commitSeqGen += 0x10 + (commitSeqGen % 5) // content-sized stride, never 1
    val commitSeq = commitSeqGen
    var intent = 0L
    def row(op: Char, data: Map[String, Any]): CdRow = {
      intent += 1
      CdRow(commitSeq, intent, op, data)
    }
    val rows = changes.flatMap { e =>
      e.op match {
        case OperationType.INSERT | OperationType.REPLACE =>
          table(e)
          Seq(row('I', e.after))
        case OperationType.DELETE =>
          val full = table.imageBefore(e)
          table(e)
          Seq(row('D', full))
        case OperationType.UPDATE =>
          val full = table.imageBefore(e)
          table(e)
          // NO update code in ASN: full-before 'D' + full-after 'I',
          // adjacent intent sequences in the same commit
          Seq(row('D', full), row('I', e.after))
        case other => throw new IllegalArgumentException(s"CD tables cannot carry $other")
      }
    }
    logPending += ((commitSeq, tsMillis, rows))
    AsnSeq.of(commitSeq, intent)
  }

  /** The asynchronous Capture program: copy pending transactions into the
    * CD table and advance IBMSNAP_REGISTER's SYNCHPOINT. Until this runs,
    * polling sees nothing of them. */
  def runCaptureProgram(): AsnSeq = synchronized {
    logPending.foreach { case (commitSeq, ts, rows) =>
      rows.foreach(r => cdRows += ((r, ts)))
      synchpoint = AsnSeq.of(commitSeq, rows.map(_.intentSeq).max)
    }
    logPending.clear()
    synchpoint
  }

  /** `max(SYNCHPOINT) FROM IBMSNAP_REGISTER`: lags the database head until
    * the Capture program runs. */
  override def currentOffset: Long = synchronized(synchpoint.value)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  /** One poll window over the CD table (reference query
    * `Db2Connection.java:62-73`): rows whose position ∈ (from, to] in
    * `(COMMITSEQ, INTENTSEQ)` order, with the LEAD/LAG pairing rule — a 'D'
    * immediately followed by an 'I' in the SAME commit is one update,
    * emitted at the 'I' row's position with both full images. */
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      val out = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
      var i = 0
      while (i < cdRows.length) {
        val (r, ts) = cdRows(i)
        val pos = AsnSeq.of(r.commitSeq, r.intentSeq)
        val next = if (i + 1 < cdRows.length) Some(cdRows(i + 1)._1) else None
        // LEAD() = 'I' in the same commit pairs this 'D' with the next row
        val isUpdatePair = r.operation == 'D' &&
          next.exists(n => n.commitSeq == r.commitSeq &&
            n.intentSeq == r.intentSeq + 1 && n.operation == 'I')
        if (isUpdatePair) {
          val (after, afterTs) = cdRows(i + 1)
          val afterPos = AsnSeq.of(after.commitSeq, after.intentSeq)
          if (afterPos.value > fromExclusive && afterPos.value <= toInclusive)
            out += LogRecord(afterPos.value, afterTs,
              DataChangeEvent.update(tableId, r.data, after.data).copy(meta = Map(
                "commit_seq" -> AsnSeq.of(r.commitSeq, 0).asString,
                "intent_seq" -> afterPos.asString,
                "cd_table" -> cdTable)))
          i += 2 // the 'I' half is consumed with its pair
        } else {
          if (pos.value > fromExclusive && pos.value <= toInclusive) {
            val meta = Map(
              "commit_seq" -> AsnSeq.of(r.commitSeq, 0).asString,
              "intent_seq" -> pos.asString,
              "cd_table" -> cdTable)
            val e = r.operation match {
              case 'I' => DataChangeEvent.insert(tableId, r.data)
              case 'D' => DataChangeEvent.delete(tableId, r.data)
              case other =>
                throw new IllegalArgumentException(s"unknown IBMSNAP_OPERATION '$other'")
            }
            out += LogRecord(pos.value, ts, e.copy(meta = meta))
          }
          i += 1
        }
      }
      out.toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  /** `IBMSNAP_MONITOR` time mapping analog over the captured commits. */
  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    cdRows.find(_._2 >= ts)
      .map { case (r, _) => AsnSeq.of(r.commitSeq, 0).value }
      .getOrElse(synchpoint.value)
  }

  /** CD tables are data-only: constant-None driver-cheap control path. */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] = None

  /** test probe: transactions the Capture program has not yet copied. */
  def uncapturedTxCount: Int = synchronized(logPending.size)
}
