package graft.sources.postgres

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** PostgreSQL log sequence number — the WAL position that is the Postgres
  * source family's entire offset model (the reference's
  * `postgres/source/offset/PostgresOffset.java:97-101` orders offsets by LSN
  * alone; txId/commit-ts ride along as metadata). One comparable int64:
  * high 32 bits = logical xlog id, low 32 = byte offset within it, rendered
  * as two hex numbers separated by a slash (`16/3002D50`) exactly as
  * `connection/Lsn.java:73-95` parses and `:108-117` formats it.
  */
final case class Lsn(value: Long) extends Ordered[Lsn] {
  def asString: String =
    f"${(value >>> 32) & 0xffffffffL}%X/${value & 0xffffffffL}%X"
  override def compare(that: Lsn): Int =
    java.lang.Long.compareUnsigned(value, that.value)
  def isValid: Boolean = value != 0L
  override def toString: String = s"LSN[$asString]"
}

object Lsn {
  /** WAL begins past the first segment; zero can never address a record
    * (`Lsn.java:24-28`). */
  val Invalid: Lsn = Lsn(0L)

  /** Parse `X/X` (two hex halves). Malformed input → [[Invalid]], matching
    * `Lsn.java:73-95`. */
  def parse(s: String): Lsn = {
    val i = s.lastIndexOf('/')
    if (i <= 0) Invalid
    else
      try {
        val hi = java.lang.Long.parseLong(s.substring(0, i), 16) & 0xffffffffL
        val lo = java.lang.Long.parseLong(s.substring(i + 1), 16) & 0xffffffffL
        Lsn((hi << 32) | lo)
      } catch { case _: NumberFormatException => Invalid }
  }
}

/** Driver-side parser/renderer for wal2json logical-decoding output — the
  * capture format this offline reader ingests (the reference consumes the
  * same decoded stream live through `PostgresStreamingChangeEventSource`;
  * wal2json is the textual sibling of pgoutput, one JSON document per
  * COMMITTED transaction):
  *
  * {{{
  * {"xid":563,"nextlsn":"0/16D6E18","timestamp":"...","change":[
  *   {"kind":"insert","schema":"public","table":"t",
  *    "columnnames":["id","v"],"columnvalues":[1,"a"]},
  *   {"kind":"update",...,"oldkeys":{"keynames":["id"],"keyvalues":[1]}},
  *   {"kind":"delete","schema":"public","table":"t",
  *    "oldkeys":{"keynames":["id"],"keyvalues":[1]}}]}
  * }}}
  *
  * Two Postgres-specific wire properties surface here and flow through the
  * whole SPI, distinguishing this family from binlog sources:
  *  - only COMMITTED transactions appear, in commit order — there is no
  *    uncommitted interleaving to filter;
  *  - with default REPLICA IDENTITY, updates/deletes carry `oldkeys` (the
  *    key columns ONLY), never a full before image.
  */
object Wal2Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private val mapper = new ObjectMapper()

  /** One committed transaction: commit LSN (from `nextlsn`, when the capture
    * includes it), xid, commit timestamp millis, ordered changes. `ddl`
    * carries the schema-change family pgoutput ships IN-STREAM — today only
    * TRUNCATE (`TruncateTableEvent`; wal2json has no DDL at all, so the
    * field defaults empty there). */
  final case class Tx(
      nextLsn: Option[Lsn],
      xid: Long,
      tsMillis: Long,
      changes: Seq[DataChangeEvent],
      ddl: Seq[SchemaChangeEvent] = Seq.empty)

  private def value(n: JsonNode): Any = {
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()
  }

  private def zipCols(names: JsonNode, values: JsonNode): Map[String, Any] =
    if (names == null || values == null) Map.empty
    else (0 until names.size()).map(i => names.get(i).asText() -> value(values.get(i))).toMap

  def parseLine(line: String): Tx = {
    val root = mapper.readTree(line)
    val nextLsn = Option(root.get("nextlsn")).map(n => Lsn.parse(n.asText()))
    val xid = Option(root.get("xid")).map(_.asLong()).getOrElse(0L)
    val ts = Option(root.get("timestamp")).map { t =>
      try java.time.Instant.parse(t.asText()).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException => 0L }
    }.getOrElse(0L)
    val changes = Option(root.get("change")).toSeq.flatMap { arr =>
      (0 until arr.size()).map { i =>
        val c = arr.get(i)
        val tid = TableId.parse(
          s"${c.get("schema").asText()}.${c.get("table").asText()}")
        val after = zipCols(c.get("columnnames"), c.get("columnvalues"))
        val old = Option(c.get("oldkeys"))
          .map(ok => zipCols(ok.get("keynames"), ok.get("keyvalues")))
          .getOrElse(Map.empty)
        c.get("kind").asText() match {
          case "insert" => DataChangeEvent.insert(tid, after)
          case "update" => DataChangeEvent.update(tid, old, after)
          case "delete" => DataChangeEvent.delete(tid, old)
          case other => throw new IllegalArgumentException(s"unknown wal2json kind '$other'")
        }
      }
    }
    Tx(nextLsn, xid, ts, changes)
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Double => n.toString
    case b: Boolean => b.toString
    case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }

  private def changeJson(e: DataChangeEvent): String = {
    val base = s""""schema":"${e.tableId.schemaName}","table":"${e.tableId.tableName}""""
    def cols(m: Map[String, Any]) = {
      val (ns, vs) = m.toSeq.unzip
      s""""columnnames":[${ns.map(n => s""""$n"""").mkString(",")}],""" +
        s""""columnvalues":[${vs.map(jsonValue).mkString(",")}]"""
    }
    def oldkeys(m: Map[String, Any]) = {
      val (ns, vs) = m.toSeq.unzip
      s""""oldkeys":{"keynames":[${ns.map(n => s""""$n"""").mkString(",")}],""" +
        s""""keyvalues":[${vs.map(jsonValue).mkString(",")}]}"""
    }
    e.op match {
      case OperationType.INSERT | OperationType.REPLACE =>
        s"""{"kind":"insert",$base,${cols(e.after)}}"""
      case OperationType.UPDATE =>
        s"""{"kind":"update",$base,${cols(e.after)},${oldkeys(e.before)}}"""
      case OperationType.DELETE =>
        s"""{"kind":"delete",$base,${oldkeys(e.before)}}"""
      case other => throw new IllegalArgumentException(s"wal2json cannot carry $other")
    }
  }

  /** Render one committed transaction as a wal2json line (fixture
    * serializer — the inverse of [[parseLine]]). */
  def renderLine(nextLsn: Lsn, xid: Long, tsMillis: Long, changes: Seq[DataChangeEvent]): String =
    s"""{"xid":$xid,"nextlsn":"${nextLsn.asString}","timestamp":"${
      java.time.Instant.ofEpochMilli(tsMillis)}","change":[${
      changes.map(changeJson).mkString(",")}]}"""
}

/** A Postgres-style change source through the SAME [[ChangeSource]] SPI the
  * binlog, Derby-JDBC, and document sources implement — the last
  * architecturally distinct offset model (after binlog file/pos+GTID and
  * resume tokens): '''LSN offsets under replication-slot retention'''.
  *
  * What is modeled, and where the reference pins each contract:
  *  - '''LSN total order''' — every log record's SPI offset IS its WAL
  *    position; gaps between consecutive offsets are content-sized and never
  *    unit-sized (`PostgresOffset.java:97-101` compares by LSN alone), so
  *    generic SPI code that assumed dense offsets would break here.
  *  - '''Commit-order delivery''' — [[commitTx]] appends a whole committed
  *    transaction; logical decoding never emits uncommitted interleavings.
  *  - '''Replication-slot retention''' — the server keeps WAL only from
  *    `confirmed_flush_lsn`; [[commitOffset]] (fed by the streaming runtime
  *    with the CHECKPOINTED position, per
  *    `PostgresStreamFetchTask.commitCurrentOffset:126-149`) advances it
  *    monotonically (`:152-155` only-forward guard) and recycles older WAL.
  *    Reading from before the confirmed position fails loudly — the slot
  *    cannot serve it — where a binlog source would just re-read files.
  *  - '''REPLICA IDENTITY''' — with the default identity, update/delete
  *    records carry key-only before images (`oldkeys`); `REPLICA IDENTITY
  *    FULL` upgrades them to full rows. Constructor flag, default = default.
  *  - '''Data-only log''' — logical decoding does not emit DDL;
  *    [[firstDdlOffset]] is a driver-cheap constant None.
  */
final class WalChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    val slotName: String = "graft_slot",
    replicaIdentityFull: Boolean = false)
    extends ChangeSource {

  override def schema: TableSchema = initialSchema

  /** the live table, which the DB changes in full: a key-only before image
    * (all a default-identity delete carries) is enough to remove a row. */
  private val table = new LiveTable("wal source", initialSchema, initialRows)

  private val wal = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
  // WAL begins past segment 0 (Lsn.java:24-28); first commit lands above this
  private var headLsn: Long = Lsn.parse("0/1000000").value
  private var confirmedFlush: Long = 0L
  private var xidCounter: Long = 500L

  /** Trim a before image to what the configured REPLICA IDENTITY publishes:
    * key columns only by default, the full old row under FULL. */
  private def identityImage(before: Map[String, Any]): Map[String, Any] =
    if (replicaIdentityFull) before
    else before.filter { case (k, _) => k == table.pk }

  /** Commit one transaction: every change lands in the WAL in order, each at
    * its own strictly increasing LSN with a content-sized stride, the last
    * one being the commit position. Returns the commit LSN. */
  def commitTx(changes: Seq[DataChangeEvent], tsMillis: Long = 0L): Lsn = synchronized {
    require(changes.nonEmpty, "empty transactions are not decoded")
    xidCounter += 1
    changes.foreach { e =>
      // stride ~ record size: header + a rough payload estimate. Never 1.
      headLsn += 24 + 8L * (e.before.size + e.after.size)
      val wire = e.copy(
        before = identityImage(e.before),
        meta = e.meta ++ Map(
          "lsn" -> Lsn(headLsn).asString, "txId" -> xidCounter.toString))
      table(e) // the DB applied the FULL change; the wire sees the identity image
      wal += LogRecord(headLsn, tsMillis, wire)
    }
    Lsn(headLsn)
  }

  /** Ingest a captured wal2json stream (ordered lines, one committed tx
    * each): the offline "capture reader" path. When a line carries
    * `nextlsn`, the tx's last record is pinned to it — positions from a real
    * capture survive the round trip — and captures must be in commit order. */
  def applyCapture(lines: Seq[String], tsMillis: Long = 0L): Lsn =
    applyCaptureTxs(lines.filter(_.trim.nonEmpty).map(Wal2Json.parseLine), tsMillis)

  /** Format-independent capture ingestion: committed transactions from ANY
    * decoded capture — wal2json lines ([[applyCapture]]) or the pgoutput
    * binary protocol ([[PgOutput.Decoder]]) — land identically. A tx whose
    * `ddl` carries a TRUNCATE of this table empties the live table and logs
    * the event at its own WAL position (pgoutput ships truncate in-stream,
    * with NO per-row deletes — [[firstDdlOffset]] surfaces it so the
    * streaming runtime parks the batch boundary in front of it, exactly the
    * mid-stream DDL protocol binlog sources use). */
  def applyCaptureTxs(txs: Seq[Wal2Json.Tx], tsMillis: Long = 0L): Lsn = synchronized {
    var last = Lsn(headLsn)
    txs.foreach { tx =>
      tx.ddl.foreach {
        case TruncateTableEvent(t) =>
          xidCounter += 1
          headLsn += 48 // a truncate record's content-sized stride
          if (t == tableId) table.clear()
          ddlLog += ((headLsn, TruncateTableEvent(t)))
          last = Lsn(headLsn)
        case other => throw new IllegalArgumentException(
          s"pgoutput capture cannot carry $other")
      }
      if (tx.changes.nonEmpty) {
        last = commitTx(tx.changes, if (tx.tsMillis != 0L) tx.tsMillis else tsMillis)
        tx.nextLsn.filter(_.isValid).foreach { n =>
          require(n.value >= headLsn,
            s"capture out of order: nextlsn $n behind WAL head ${Lsn(headLsn)}")
          // pin the commit record to the capture's position
          val tail = wal.remove(wal.size - 1)
          headLsn = n.value
          wal += tail.copy(offset = headLsn)
          last = n
        }
      } else tx.nextLsn.filter(_.isValid).foreach { n =>
        require(n.value >= headLsn,
          s"capture out of order: nextlsn $n behind WAL head ${Lsn(headLsn)}")
        headLsn = n.value
        last = n
      }
    }
    last
  }

  override def currentOffset: Long = synchronized(headLsn)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      // a replication slot serves WAL only from confirmed_flush_lsn: asking
      // for recycled positions is a hard error, not an empty result — a
      // silent empty read here would be silent data loss downstream
      require(fromExclusive >= confirmedFlush,
        s"slot '$slotName': WAL at ${Lsn(fromExclusive)} already recycled " +
          s"(confirmed_flush_lsn = ${Lsn(confirmedFlush)})")
      wal.filter(r => r.offset > fromExclusive && r.offset <= toInclusive).toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    wal.find(_.tsMillis >= ts).map(_.offset - 1).getOrElse(headLsn)
  }

  /** In-stream DDL positions: logical decoding emits no column-level DDL
    * (`PostgresSchemaChangeEventHandler` exists only for the incremental
    * framework's schema cache), but pgoutput DOES ship TRUNCATE in-stream —
    * those land here from [[applyCaptureTxs]] so the streaming runtime can
    * park the batch boundary in front of them. */
  private val ddlLog = scala.collection.mutable.ArrayBuffer.empty[(Long, SchemaChangeEvent)]

  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    synchronized(LiveTable.firstDdlOffset(ddlLog, fromExclusive, toInclusive))

  /** The streaming runtime acknowledges the CHECKPOINTED position here after
    * each durable batch commit; the slot advances only forward
    * (`PostgresStreamFetchTask.java:152-155`) and the server recycles the
    * WAL behind it. */
  override def commitOffset(offset: Long): Unit = synchronized {
    if (offset > confirmedFlush) {
      confirmedFlush = offset
      wal.filterInPlace(_.offset > confirmedFlush)
    }
  }

  def confirmedFlushLsn: Lsn = synchronized(Lsn(confirmedFlush))
  /** live WAL record count — what the slot currently retains (test probe). */
  def retainedWalRecords: Int = synchronized(wal.size)
}
