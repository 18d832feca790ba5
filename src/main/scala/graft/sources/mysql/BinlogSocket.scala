package graft.sources.mysql

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord, LoopbackListener}
import graft.sources.cdc.WireRetry.readExactly
import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The MySQL binlog replication protocol over a REAL TCP socket — the last
  * slice of the reference's primary source the sandbox allows (no MySQL
  * server, zero egress): a loopback server double speaking the documented
  * client/server + replication wire formats, and a dump client that drives
  * the incremental-snapshot framework's log phase through it.
  *
  * Everything here is re-derived from the PUBLIC protocol documentation
  * (MySQL Internals manual, "Client/Server Protocol" and "Replication
  * Protocol" chapters; the row formats are the `binlog_row_image=FULL`,
  * checksum-off v4 layout). Scope mirrors what the reference's reader
  * actually consumes (`flink-connector-mysql-cdc/.../MySqlSourceBuilder.java:
  * 57-290` lifecycle; event dispatch `MySqlEventDeserializer.java:57`):
  *
  *  - connection phase: Initial Handshake V10 → HandshakeResponse41 → OK;
  *  - `COM_REGISTER_SLAVE` → OK, `COM_BINLOG_DUMP` (file, pos, NON_BLOCK);
  *  - event stream: fake ROTATE + FORMAT_DESCRIPTION per file, then
  *    TABLE_MAP + WRITE/UPDATE/DELETE_ROWS v2 + QUERY (DDL) + XID events,
  *    EOF packet at head under NON_BLOCK.
  *
  * The double IS the database: `commitTx`/`appendDdl` mutate an in-memory
  * table AND append spec-encoded wire events to rotating binlog files — the
  * snapshot side reads the table in-process (the reference snapshots over a
  * separate JDBC connection, not the binlog socket), while `readLog` runs a
  * REAL dump session per call: connect, handshake, dump from the decoded
  * (file, pos), parse frames, disconnect. Offsets pack (fileIndex, bytePos)
  * into one monotone Long (`BinlogOffsets`), so checkpoint resume lands on
  * an exact byte position in an exact file — including files before a
  * rotation.
  */
object BinlogWire {

  // event type codes (binlog v4)
  val QueryEvent: Int = 0x02
  val RotateEvent: Int = 0x04
  val FormatDescriptionEvent: Int = 0x0f
  val XidEvent: Int = 0x10
  val TableMapEvent: Int = 0x13
  val WriteRowsV2: Int = 0x1e
  val UpdateRowsV2: Int = 0x1f
  val DeleteRowsV2: Int = 0x20

  // column type codes
  val TypeLongLong: Int = 0x08
  val TypeVarchar: Int = 0x0f

  val HeaderLen = 19
  val FileMagicLen = 4 // binlog files start at position 4 (0xfe 'b' 'i' 'n')

  // ---- MySQL packet framing: 3-byte LE length + 1-byte sequence ----------

  def writePacket(out: OutputStream, seq: Int, payload: Array[Byte]): Unit = {
    val h = Array[Byte](
      (payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte,
      (seq & 0xff).toByte)
    out.write(h); out.write(payload); out.flush()
  }

  def readPacket(in: InputStream): (Int, Array[Byte]) = {
    val h = readExactly(in, 4)
    val len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
    (h(3) & 0xff, readExactly(in, len))
  }

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  // ---- connection-phase packets ------------------------------------------

  /** Initial Handshake V10: protocol 10, version string, thread id, 8+13
    * bytes of auth-plugin data, PROTOCOL_41|SECURE_CONNECTION capabilities. */
  def encodeHandshakeV10(threadId: Int): Array[Byte] = {
    val version = "8.0.0-graft-double".getBytes(UTF_8)
    val b = le(64 + version.length)
    b.put(0x0a.toByte); b.put(version); b.put(0.toByte)
    b.putInt(threadId)
    b.put(Array.fill[Byte](8)('x')); b.put(0.toByte) // auth-data-1 + filler
    b.putShort((0x0200 | 0x8000).toShort) // CLIENT_PROTOCOL_41 | SECURE_CONNECTION
    b.put(33.toByte) // charset utf8
    b.putShort(2.toShort) // status: autocommit
    b.putShort(0.toShort) // capability upper bits
    b.put(21.toByte) // auth data total length
    b.put(new Array[Byte](10)) // reserved
    b.put(Array.fill[Byte](12)('y')); b.put(0.toByte) // auth-data-2
    finish(b)
  }

  /** HandshakeResponse41 with an empty auth response (the double accepts
    * any credentials — auth is out of scope for a loopback test double). */
  def encodeHandshakeResponse(user: String): Array[Byte] = {
    val b = le(64 + user.length)
    b.putInt(0x0200 | 0x8000)
    b.putInt(1 << 24) // max packet size
    b.put(33.toByte)
    b.put(new Array[Byte](23))
    b.put(user.getBytes(UTF_8)); b.put(0.toByte)
    b.put(0.toByte) // length-encoded empty auth response
    finish(b)
  }

  def encodeOk(): Array[Byte] = Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00)
  def encodeEof(): Array[Byte] = Array[Byte](0xfe.toByte, 0x00, 0x00, 0x02, 0x00)
  def encodeErr(code: Int, msg: String): Array[Byte] = {
    val b = le(9 + msg.length)
    b.put(0xff.toByte); b.putShort(code.toShort)
    b.put('#'.toByte); b.put("HY000".getBytes(UTF_8)); b.put(msg.getBytes(UTF_8))
    finish(b)
  }

  /** `COM_BINLOG_DUMP`: pos 4, flags 2 (0x01 = NON_BLOCK), server-id 4,
    * filename to end of packet. */
  def encodeBinlogDump(pos: Long, serverId: Long, file: String, nonBlock: Boolean): Array[Byte] = {
    val b = le(11 + file.length)
    b.put(0x12.toByte); b.putInt(pos.toInt)
    b.putShort((if (nonBlock) 1 else 0).toShort)
    b.putInt(serverId.toInt)
    b.put(file.getBytes(UTF_8))
    finish(b)
  }

  def encodeRegisterSlave(serverId: Long): Array[Byte] = {
    val b = le(18)
    b.put(0x15.toByte); b.putInt(serverId.toInt)
    b.put(0.toByte); b.put(0.toByte); b.put(0.toByte) // empty host/user/password
    b.putShort(0.toShort); b.putInt(0); b.putInt(0)
    finish(b)
  }

  // ---- binlog events ------------------------------------------------------

  /** v4 header: ts 4, type 1, server-id 4, size 4, next-pos 4, flags 2. */
  def encodeEvent(
      tsMillis: Long, eventType: Int, serverId: Long,
      nextPos: Long, payload: Array[Byte]): Array[Byte] = {
    val b = le(HeaderLen + payload.length)
    b.putInt((tsMillis / 1000L).toInt); b.put(eventType.toByte)
    b.putInt(serverId.toInt); b.putInt(HeaderLen + payload.length)
    b.putInt(nextPos.toInt); b.putShort(0.toShort)
    b.put(payload)
    finish(b)
  }

  final case class EventHeader(
      tsMillis: Long, eventType: Int, serverId: Long, size: Int, nextPos: Long)

  def decodeHeader(event: Array[Byte]): EventHeader = {
    val b = ByteBuffer.wrap(event).order(ByteOrder.LITTLE_ENDIAN)
    EventHeader(
      (b.getInt() & 0xffffffffL) * 1000L, b.get() & 0xff,
      b.getInt() & 0xffffffffL, b.getInt(), b.getInt() & 0xffffffffL)
  }

  def payloadOf(event: Array[Byte]): ByteBuffer = {
    val b = ByteBuffer.wrap(event, HeaderLen, event.length - HeaderLen).slice()
    b.order(ByteOrder.LITTLE_ENDIAN)
  }

  /** ROTATE payload: next position 8, next file name (rest). */
  def encodeRotatePayload(pos: Long, file: String): Array[Byte] = {
    val b = le(8 + file.length)
    b.putLong(pos); b.put(file.getBytes(UTF_8))
    finish(b)
  }

  def decodeRotate(p: ByteBuffer): (Long, String) = {
    val pos = p.getLong()
    val f = new Array[Byte](p.remaining()); p.get(f)
    (pos, new String(f, UTF_8))
  }

  /** FORMAT_DESCRIPTION payload: binlog-version 2 (=4), server version
    * 50 bytes, create ts 4, header length 1, per-type post-header lengths,
    * checksum algorithm byte 0 (checksums OFF — row payloads carry no CRC32
    * suffix, the layout this codec encodes). */
  def encodeFormatDescriptionPayload(): Array[Byte] = {
    val b = le(2 + 50 + 4 + 1 + 39 + 1)
    b.putShort(4.toShort)
    val v = "8.0.0-graft-double".getBytes(UTF_8)
    b.put(java.util.Arrays.copyOf(v, 50))
    b.putInt(0); b.put(HeaderLen.toByte)
    b.put(new Array[Byte](39)) // post-header length table (unused by this client)
    b.put(0.toByte) // checksum_alg = off
    finish(b)
  }

  /** TABLE_MAP payload: table-id 6, flags 2, schema/table names, column
    * count, per-column type codes, metadata block, null bitmap. Column
    * NAMES are deliberately absent — the real event has none; readers map
    * positions against the catalog schema (Debezium's schema-history
    * contract, `MySqlEventDeserializer.java:57` upstream). */
  def encodeTableMapPayload(
      tableNum: Long, tid: TableId, colTypes: Seq[Int], varcharMax: Seq[Int]): Array[Byte] = {
    val db = tid.schemaName.getBytes(UTF_8)
    val tb = tid.tableName.getBytes(UTF_8)
    val b = le(32 + db.length + tb.length + colTypes.size * 4)
    putTableId6(b, tableNum); b.putShort(1.toShort)
    b.put(db.length.toByte); b.put(db); b.put(0.toByte)
    b.put(tb.length.toByte); b.put(tb); b.put(0.toByte)
    putLenc(b, colTypes.size)
    colTypes.foreach(t => b.put(t.toByte))
    // metadata block: lenc total length, then per-type payload
    val meta = le(colTypes.size * 2)
    colTypes.zipWithIndex.foreach {
      case (TypeVarchar, i) => meta.putShort(varcharMax(i).toShort)
      case _ => ()
    }
    val metaBytes = finish(meta)
    putLenc(b, metaBytes.length); b.put(metaBytes)
    b.put(new Array[Byte]((colTypes.size + 7) / 8)) // nullability bitmap (all 0: unused here)
    finish(b)
  }

  final case class TableMap(tableNum: Long, tid: TableId, colTypes: Seq[Int], varcharMax: Seq[Int])

  def decodeTableMap(p: ByteBuffer): TableMap = {
    val tableNum = getTableId6(p)
    p.getShort()
    val dbLen = p.get() & 0xff; val db = getN(p, dbLen); p.get()
    val tbLen = p.get() & 0xff; val tb = getN(p, tbLen); p.get()
    val n = getLenc(p).toInt
    val types = (0 until n).map(_ => p.get() & 0xff)
    val metaLen = getLenc(p).toInt
    val metaEnd = p.position() + metaLen
    val varcharMax = types.map {
      case TypeVarchar => p.getShort() & 0xffff
      case _ => 0
    }
    p.position(metaEnd)
    TableMap(tableNum,
      TableId.parse(s"${new String(db, UTF_8)}.${new String(tb, UTF_8)}"), types, varcharMax)
  }

  /** ROWS v2 payload. `images`: one image per row for WRITE/DELETE, the
    * (before, after) pair flattened for UPDATE. Values: LONGLONG = 8 LE;
    * VARCHAR = 1- or 2-byte length prefix (by declared max) + bytes; null
    * bitmap over included columns (all columns: FULL row image). */
  def encodeRowsPayload(
      tableNum: Long, update: Boolean,
      colTypes: Seq[Int], varcharMax: Seq[Int],
      images: Seq[Seq[Any]]): Array[Byte] = {
    val n = colTypes.size
    // exact-enough allocation: header (tableId 6 + flags 2 + extra 2 +
    // lenc(n) <= 9) + included bitmap(s) + per-image nulls bitmap + values.
    // A fixed headroom under-allocates for wide tables (the bitmaps grow
    // with n) and putLong then throws BufferOverflowException
    val bitmapLen = (n + 7) / 8
    val b = le(32 + 2 * bitmapLen +
      images.map(im => bitmapLen + im.map(sizeOf(_)).sum).sum)
    putTableId6(b, tableNum); b.putShort(1.toShort)
    b.putShort(2.toShort) // extra-data length (2 = none beyond the field itself)
    putLenc(b, n)
    val included = Array.fill[Byte]((n + 7) / 8)(0xff.toByte)
    b.put(included)
    if (update) b.put(included) // update carries an after-image bitmap too
    images.foreach { image =>
      require(image.size == n, s"image arity ${image.size} != $n")
      val nulls = new Array[Byte]((n + 7) / 8)
      image.zipWithIndex.foreach { case (v, i) =>
        if (v == null) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      b.put(nulls)
      image.zipWithIndex.foreach {
        case (null, _) => ()
        case (v, i) => colTypes(i) match {
          case TypeLongLong => b.putLong(v match {
            case l: Long => l
            case iv: Int => iv.toLong // IntegerType columns map to LONGLONG
            case other => throw new IllegalArgumentException(
              s"LONGLONG column got ${other.getClass.getSimpleName}")
          })
          case TypeVarchar =>
            val s = v.toString.getBytes(UTF_8)
            if (varcharMax(i) > 255) b.putShort(s.length.toShort) else b.put(s.length.toByte)
            b.put(s)
          case other => throw new IllegalArgumentException(s"unsupported column type $other")
        }
      }
    }
    finish(b)
  }

  private def sizeOf(v: Any): Int = v match {
    case null => 0
    case _: Long | _: Int => 8 // both encode as LONGLONG
    case s => 3 + s.toString.getBytes(UTF_8).length
  }

  /** Decode a ROWS payload into row images (positional values). */
  def decodeRows(p: ByteBuffer, update: Boolean, tm: TableMap): Seq[Seq[Any]] = {
    val tableNum = getTableId6(p)
    require(tableNum == tm.tableNum, s"rows for table $tableNum without its TABLE_MAP")
    p.getShort()
    val extraLen = p.getShort() & 0xffff
    p.position(p.position() + (extraLen - 2))
    val n = getLenc(p).toInt
    require(n == tm.colTypes.size, s"rows arity $n != table-map arity ${tm.colTypes.size}")
    val bitmapLen = (n + 7) / 8
    p.position(p.position() + bitmapLen) // included columns: always full here
    if (update) p.position(p.position() + bitmapLen)
    val images = mutable.Buffer.empty[Seq[Any]]
    while (p.hasRemaining) {
      val nulls = getN(p, bitmapLen)
      images += (0 until n).map { i =>
        if ((nulls(i / 8) & (1 << (i % 8))) != 0) null
        else tm.colTypes(i) match {
          case TypeLongLong => p.getLong()
          case TypeVarchar =>
            val len = if (tm.varcharMax(i) > 255) p.getShort() & 0xffff else p.get() & 0xff
            new String(getN(p, len), UTF_8)
          case other => throw new IllegalArgumentException(s"unsupported column type $other")
        }
      }
    }
    images.toSeq
  }

  /** QUERY payload: thread-id 4, exec-time 4, schema-len 1, error 2,
    * status-vars (lenc'd by a 2-byte length), schema, 0x00, SQL (rest). */
  def encodeQueryPayload(db: String, sql: String): Array[Byte] = {
    val dbB = db.getBytes(UTF_8); val sqlB = sql.getBytes(UTF_8)
    val b = le(14 + dbB.length + sqlB.length)
    b.putInt(1); b.putInt(0)
    b.put(dbB.length.toByte); b.putShort(0.toShort); b.putShort(0.toShort)
    b.put(dbB); b.put(0.toByte); b.put(sqlB)
    finish(b)
  }

  def decodeQuery(p: ByteBuffer): (String, String) = {
    p.getInt(); p.getInt()
    val dbLen = p.get() & 0xff
    p.getShort()
    val statusLen = p.getShort() & 0xffff
    p.position(p.position() + statusLen)
    val db = new String(getN(p, dbLen), UTF_8); p.get()
    val sql = new String(getN(p, p.remaining()), UTF_8)
    (db, sql)
  }

  def encodeXidPayload(xid: Long): Array[Byte] = { val b = le(8); b.putLong(xid); finish(b) }

  // ---- little helpers -----------------------------------------------------

  private def putTableId6(b: ByteBuffer, v: Long): Unit =
    (0 until 6).foreach(i => b.put(((v >> (8 * i)) & 0xff).toByte))

  private def getTableId6(b: ByteBuffer): Long =
    (0 until 6).map(i => (b.get() & 0xffL) << (8 * i)).sum

  private def putLenc(b: ByteBuffer, v: Long): Unit = {
    require(v < 251, "lenc > 250 not needed by this codec")
    b.put(v.toByte)
  }

  private def getLenc(b: ByteBuffer): Long = {
    val first = b.get() & 0xff
    require(first < 251, "lenc > 250 not needed by this codec")
    first.toLong
  }

  private def getN(b: ByteBuffer, n: Int): Array[Byte] = {
    val out = new Array[Byte](n); b.get(out); out
  }

  private def finish(b: ByteBuffer): Array[Byte] =
    java.util.Arrays.copyOf(b.array(), b.position())
}

/** Monotone Long offsets for (binlog file index, byte position): file index
  * in the high bits, position (< 2^40) in the low — the total order
  * `BinlogOffset.java:171-257` defines via (file name, position) compare. */
object BinlogOffsets {
  private val PosBits = 40
  def encode(fileIdx: Int, pos: Long): Long = {
    require(pos < (1L << PosBits), s"binlog position $pos overflows")
    (fileIdx.toLong << PosBits) | pos
  }
  def fileIdx(offset: Long): Int = (offset >> PosBits).toInt
  def pos(offset: Long): Long = offset & ((1L << PosBits) - 1)
  def fileName(idx: Int): String = f"mysql-bin.${idx + 1}%06d"
  def idxOfFileName(name: String): Int = name.split("\\.").last.toInt - 1
}

/** The loopback server: an in-memory table + spec-encoded rotating binlog
  * files behind a real TCP listener (the ES/StarRocks/OpenAI loopback-double
  * pattern applied to the binlog protocol). Test API: [[commitTx]] /
  * [[appendDdl]] mutate state while a stream is up or down; [[rotate]]
  * happens automatically every `rotateEvery` events.
  */
final class BinlogServerDouble(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    rotateEvery: Int = 40,
    serverId: Long = 1L) {
  import BinlogWire._

  private val table = new LiveTable("binlog double", initialSchema, initialRows)

  /** One encoded event at (fileIdx, startPos, endPos). */
  private final case class Stored(fileIdx: Int, startPos: Long, endPos: Long, bytes: Array[Byte])
  private val events = mutable.ArrayBuffer.empty[Stored]
  // (encoded end offset, tsMillis, ddl event if QUERY) — driver-cheap indexes
  private val recordIndex = mutable.ArrayBuffer.empty[(Long, Long, Seq[SchemaChangeEvent])]
  private var curFile = 0
  private var curPos: Long = FileMagicLen
  private var eventsInFile = 0
  private var tableNumCounter = 100L
  private var xidCounter = 9000L

  private var liveSchema = initialSchema
  private val schemaMgr = { val m = new SchemaManager; m.register(tableId, initialSchema); m }
  def schema: TableSchema = synchronized(liveSchema)

  /** Schema HISTORY — the Debezium schema-history-topic role: the binlog
    * wire carries types and arity but never NAMES, so row images must be
    * name-mapped against the schema as of the RECORD's position, not the
    * live catalog. Mapping against the live schema would mis-attribute (or
    * crash on) an in-flight bounded read racing a concurrent DDL. Entries:
    * (DDL end offset, fields AFTER that DDL). */
  private val schemaHistory = mutable.ArrayBuffer[(Long, Seq[org.apache.spark.sql.types.StructField])](
    (0L, initialSchema.struct.fields.toSeq))

  /** Fields in effect for a record at end-offset `off`: the latest history
    * entry strictly BELOW it (a DDL at offset d governs records after d). */
  def fieldsAt(off: Long): Seq[org.apache.spark.sql.types.StructField] = synchronized {
    schemaHistory.takeWhile(_._1 < off).lastOption
      .getOrElse(schemaHistory.head)._2
  }

  @volatile private var dumpSessions = 0
  def dumpSessionCount: Int = dumpSessions
  def fileCount: Int = synchronized(curFile + 1)

  /** fault injection: the next `n` dump sessions die mid-stream (a partial
    * prefix is sent, then the connection drops with no EOF) — the transient
    * failure [[graft.sources.cdc.WireRetry]] exists to absorb. */
  private val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  def failNextSessions(n: Int): Unit = injectedFailures.set(n)
  private def claimFailure(): Boolean =
    injectedFailures.getAndUpdate(v => math.max(0, v - 1)) > 0

  private def colTypes(s: TableSchema): (Seq[Int], Seq[Int]) = {
    import org.apache.spark.sql.types._
    val ts = s.struct.fields.toSeq.map(_.dataType match {
      case LongType | IntegerType => TypeLongLong
      case StringType => TypeVarchar
      case other => throw new IllegalArgumentException(s"double cannot encode $other")
    })
    (ts, ts.map(t => if (t == TypeVarchar) 512 else 0))
  }

  private def appendEvent(eventType: Int, payload: Array[Byte], tsMillis: Long): Long =
    synchronized {
      val size = HeaderLen + payload.length
      val endPos = curPos + size
      events += Stored(curFile, curPos,
        endPos, encodeEvent(tsMillis, eventType, serverId, endPos, payload))
      curPos = endPos
      eventsInFile += 1
      BinlogOffsets.encode(curFile, endPos)
    }

  private def maybeRotate(): Unit = synchronized {
    if (eventsInFile >= rotateEvery) {
      curFile += 1; curPos = FileMagicLen; eventsInFile = 0
    }
  }

  /** Commit one transaction: per change a TABLE_MAP + single-row ROWS event
    * (the row-format single-statement shape), then one XID; rotation at the
    * commit boundary. Mutates the live table exactly as the DB would. */
  def commitTx(changes: Seq[DataChangeEvent], tsMillis: Long = 0L): Long = synchronized {
    require(changes.nonEmpty, "empty transactions never reach the binlog")
    val (types, vmax) = colTypes(liveSchema)
    val names = liveSchema.struct.fieldNames.toSeq
    def image(m: Map[String, Any]): Seq[Any] = names.map(n => m.getOrElse(n, null))
    var last = 0L
    changes.foreach { e =>
      tableNumCounter += 1
      appendEvent(TableMapEvent,
        encodeTableMapPayload(tableNumCounter, tableId, types, vmax), tsMillis)
      val (et, update, images) = e.op match {
        case OperationType.INSERT | OperationType.REPLACE =>
          (WriteRowsV2, false, Seq(image(e.after)))
        case OperationType.UPDATE =>
          (UpdateRowsV2, true, Seq(image(e.before), image(e.after)))
        case OperationType.DELETE =>
          (DeleteRowsV2, false, Seq(image(e.before)))
      }
      table(e) // the DB applies the FULL change; the wire carries the row images
      last = appendEvent(et,
        encodeRowsPayload(tableNumCounter, update, types, vmax, images), tsMillis)
      recordIndex += ((last, tsMillis, Seq.empty))
    }
    xidCounter += 1
    appendEvent(XidEvent, encodeXidPayload(xidCounter), tsMillis)
    maybeRotate()
    last
  }

  /** Append a DDL statement: evolves the catalog and rides the log as a
    * QUERY event, exactly where a real binlog carries the statement. */
  def appendDdl(sql: String, tsMillis: Long = 0L): Long = synchronized {
    val evs = MySqlDdlParser.parse(sql)
    require(evs.nonEmpty, s"not a DDL statement: $sql")
    // a multi-clause ALTER is ONE QUERY event carrying one SchemaChangeEvent
    // per clause, in clause order — the reference's Antlr listener
    // accumulates a list per statement (CustomAlterTableParserListener
    // .java:64,249-328). All clauses apply to the live catalog here; the
    // control path (firstDdlOffset → pendingDdl queue) delivers them
    // one-per-ack at the SAME statement offset, so the stream stays parked
    // until every clause evolved the sink. schemaHistory records the
    // post-ALL-clauses shape at the statement offset: rows can only follow
    // the full statement in the log, never land between clauses.
    evs.foreach(e => liveSchema = schemaMgr.applySchemaChange(e))
    val off = appendEvent(QueryEvent,
      encodeQueryPayload(tableId.schemaName, sql), tsMillis)
    recordIndex += ((off, tsMillis, evs))
    schemaHistory += ((off, liveSchema.struct.fields.toSeq))
    maybeRotate()
    off
  }

  // ---- in-process probes (snapshot side + driver-cheap indexes) ----------

  def snapshotRead(lo: Option[Long], hi: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hi))

  def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  def currentOffset: Long = synchronized(BinlogOffsets.encode(curFile, curPos))

  def offsetAtTimestamp(ts: Long): Long = synchronized {
    // fromExclusive doubles as the DUMP START: it must lie at or before
    // the target record's TABLE_MAP start and strictly below the record's
    // own (end) offset. In this sparse byte-offset space `end - 1` is
    // MID-EVENT — the dump filter (startPos >= from) would exclude the
    // very record the timestamp resolved to, losing it forever. The
    // PREVIOUS record's end offset satisfies both bounds (only that
    // record's XID and the target's own TABLE_MAP lie between).
    val idx = recordIndex.indexWhere(_._2 >= ts)
    if (idx < 0) currentOffset
    else if (idx == 0) 0L
    else recordIndex(idx - 1)._1
  }

  def firstDdlOffset(fromEx: Long, toInc: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    synchronized {
      recordIndex.collectFirst {
        case (off, _, evs) if evs.nonEmpty && off > fromEx && off <= toInc => (off, evs)
      }
    }

  /** rename events in offset+clause order (see ChangeSource.renameHistory). */
  def renameHistory: Seq[(Long, Map[String, String])] = synchronized {
    recordIndex.flatMap { case (off, _, evs) =>
      evs.collect { case RenameColumnEvent(_, m) => (off, m) }
    }.toSeq
  }

  // ---- the TCP server -----------------------------------------------------

  private var listener: Option[LoopbackListener] = None
  def port: Int = listener.map(_.port).getOrElse(
    throw new IllegalStateException("server not started"))

  def start(): Int = {
    val l = LoopbackListener.start(s"binlog-double-${tableId.tableName}", 0)(handle)
    listener = Some(l)
    l.port
  }

  def stop(): Unit = listener.foreach(_.stop())

  /** One session. The server side KEEPS Nagle: the dump stream is written
    * event by event, and coalescing small writes into full packets is worth
    * 3x throughput (measured on B11); the client sets TCP_NODELAY because
    * its commands are request-response. */
  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    writePacket(out, 0, encodeHandshakeV10(42))
    readPacket(in) // HandshakeResponse41 — any credentials accepted
    writePacket(out, 2, encodeOk())
    // command phase
    while (true) {
      val (_, cmd) = readPacket(in)
      (cmd(0) & 0xff) match {
        case 0x15 => writePacket(out, 1, encodeOk()) // COM_REGISTER_SLAVE
        case 0x12 => serveDump(out, cmd); return // COM_BINLOG_DUMP: stream then close
        case 0x01 => return // COM_QUIT
        case other =>
          writePacket(out, 1, encodeErr(1047, s"unsupported command $other")); return
      }
    }
  }

  /** Stream the dump: fake ROTATE + FORMAT_DESCRIPTION for the start file,
    * events from the requested position, ROTATE+FDE at each file switch,
    * EOF at head (NON_BLOCK — the only mode the pull-model reader uses). */
  private def serveDump(out: OutputStream, cmd: Array[Byte]): Unit = {
    dumpSessions += 1
    val b = ByteBuffer.wrap(cmd).order(ByteOrder.LITTLE_ENDIAN)
    b.get()
    val startPos = b.getInt() & 0xffffffffL
    b.getShort() // flags: this double always serves NON_BLOCK semantics
    b.getInt() // slave server id
    val f = new Array[Byte](b.remaining()); b.get(f)
    val startFile = BinlogOffsets.idxOfFileName(new String(f, UTF_8))
    var seq = 1
    def send(event: Array[Byte]): Unit = {
      writePacket(out, seq, Array[Byte](0x00) ++ event); seq += 1
    }
    val failing = claimFailure()
    var sent = 0
    var died = false
    val (snapshot, lastFile) = synchronized((events.toVector, curFile))
    (startFile to lastFile).foreach { fi =>
      if (!died) {
        val fromPos = if (fi == startFile) startPos else FileMagicLen.toLong
        send(encodeEvent(0L, RotateEvent, serverId, 0L,
          encodeRotatePayload(fromPos, BinlogOffsets.fileName(fi))))
        send(encodeEvent(0L, FormatDescriptionEvent, serverId, 0L,
          encodeFormatDescriptionPayload()))
        snapshot.iterator
          .filter(s => s.fileIdx == fi && s.startPos >= fromPos)
          .foreach { s =>
            if (failing && sent >= 2) died = true // mid-stream death point
            if (!died) { send(s.bytes); sent += 1 }
          }
      }
    }
    // an injected death drops the connection with NO EOF packet: the client
    // sees the stream end mid-message and must retry the whole window
    if (!failing) writePacket(out, seq, encodeEof())
  }
}

/** One bounded dump session: connect → handshake → register → dump from
  * (file, pos) → parse events to [[LogRecord]]s → EOF → close. The client
  * half of the replication protocol, shaped like the reference's
  * BinaryLogClient usage but pull-model (one session per `readLog`). */
object BinlogDumpClient {

  def dump(
      host: String, port: Int, fromOffset: Long,
      fieldsAt: Long => Seq[org.apache.spark.sql.types.StructField],
      ddlParse: String => Seq[SchemaChangeEvent]): Seq[LogRecord] = {
    import BinlogWire._
    val sock = new Socket(host, port)
    try {
      sock.setSoTimeout(30000)
      sock.setTcpNoDelay(true) // command round trips: avoid Nagle+delayed-ACK stalls
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      val (_, greeting) = readPacket(in)
      require((greeting(0) & 0xff) == 0x0a, "expected Initial Handshake V10")
      writePacket(out, 1, encodeHandshakeResponse("graft"))
      val (_, ok) = readPacket(in)
      require((ok(0) & 0xff) == 0x00, "handshake rejected")
      writePacket(out, 0, encodeRegisterSlave(7777L))
      require((readPacket(in)._2.head & 0xff) == 0x00, "register-slave rejected")
      writePacket(out, 0, encodeBinlogDump(
        BinlogOffsets.pos(fromOffset), 7777L,
        BinlogOffsets.fileName(BinlogOffsets.fileIdx(fromOffset)), nonBlock = true))

      val records = mutable.Buffer.empty[LogRecord]
      var curFile = BinlogOffsets.fileIdx(fromOffset)
      var tableMap: Option[TableMap] = None
      var done = false
      while (!done) {
        val (_, frame) = readPacket(in)
        (frame(0) & 0xff) match {
          case 0xfe if frame.length < 9 => done = true
          case 0xff => throw new IllegalStateException(
            s"dump error: ${new String(frame.drop(9), UTF_8)}")
          case 0x00 =>
            val event = frame.drop(1)
            val h = decodeHeader(event)
            val p = payloadOf(event)
            h.eventType match {
              case RotateEvent =>
                val (_, file) = decodeRotate(p)
                curFile = BinlogOffsets.idxOfFileName(file)
              case FormatDescriptionEvent | XidEvent => ()
              case TableMapEvent => tableMap = Some(decodeTableMap(p))
              case QueryEvent =>
                // one QUERY event → one LogRecord per clause, all at the
                // statement's offset (the data plane filters schema records
                // out; the control path re-parses via firstDdlOffset)
                val (_, sql) = decodeQuery(p)
                val off = BinlogOffsets.encode(curFile, h.nextPos)
                ddlParse(sql).foreach(e => records += LogRecord(off, h.tsMillis, e))
              case WriteRowsV2 | UpdateRowsV2 | DeleteRowsV2 =>
                val tm = tableMap.getOrElse(
                  throw new IllegalStateException("rows event before TABLE_MAP"))
                val off = BinlogOffsets.encode(curFile, h.nextPos)
                // positional name mapping against the schema AS OF THIS
                // RECORD (the schema-history contract) — the wire has types
                // and arity, never names, and the LIVE catalog may already
                // be ahead of this record if a DDL raced the bounded read.
                // LONGLONG wire values narrow back to the declared Int type
                // so the envelope encoder sees the schema's own types.
                val fields = fieldsAt(off)
                def toMap(image: Seq[Any]): Map[String, Any] =
                  image.zipWithIndex.map { case (v, i) =>
                    val f = fields(i)
                    f.name -> ((v, f.dataType) match {
                      case (l: Long, org.apache.spark.sql.types.IntegerType) => l.toInt
                      case _ => v
                    })
                  }.toMap
                val images = decodeRows(p, h.eventType == UpdateRowsV2, tm)
                h.eventType match {
                  case WriteRowsV2 => images.foreach(im =>
                    records += LogRecord(off, h.tsMillis,
                      DataChangeEvent.insert(tm.tid, toMap(im))))
                  case DeleteRowsV2 => images.foreach(im =>
                    records += LogRecord(off, h.tsMillis,
                      DataChangeEvent.delete(tm.tid, toMap(im))))
                  case _ => images.grouped(2).foreach { pair =>
                    records += LogRecord(off, h.tsMillis,
                      DataChangeEvent.update(tm.tid, toMap(pair(0)), toMap(pair(1))))
                  }
                }
              case other =>
                throw new IllegalStateException(s"unexpected binlog event type $other")
            }
          case other => throw new IllegalStateException(s"unexpected frame marker $other")
        }
      }
      records.toSeq
    } finally sock.close()
  }
}

/** [[ChangeSource]] over the socket: snapshot/key-stats in-process (the
  * reference snapshots over JDBC, not the binlog), the LOG PHASE through a
  * real dump session per read — so the incremental framework's chunk →
  * LW/HW → tail machinery, checkpoint resume, and mid-stream DDL parking
  * all run against actual wire bytes. */
final class BinlogSocketChangeSource(double: BinlogServerDouble) extends ChangeSource {
  override def tableId: TableId = double.tableId
  override def schema: TableSchema = double.schema
  override def currentOffset: Long = double.currentOffset
  override def snapshotRead(lo: Option[Long], hi: Option[Long]): Seq[Map[String, Any]] =
    double.snapshotRead(lo, hi)
  override def keyStats: (Option[Long], Option[Long], Long) = double.keyStats
  override def offsetAtTimestamp(ts: Long): Long = double.offsetAtTimestamp(ts)
  /** driver-cheap: the per-trigger DDL probe must not open a socket. */
  override def firstDdlOffset(fromEx: Long, toInc: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    double.firstDdlOffset(fromEx, toInc)
  override def renameHistory: Seq[(Long, Map[String, String])] = double.renameHistory
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    graft.sources.cdc.WireRetry.withRetries() {
      BinlogDumpClient.dump(
        "127.0.0.1", double.port, fromExclusive,
        double.fieldsAt, MySqlDdlParser.parse(_))
    }.filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
}
