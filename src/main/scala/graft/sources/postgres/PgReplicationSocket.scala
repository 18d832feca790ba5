package graft.sources.postgres

import graft.core._
import graft.sources.cdc.{ChangeSource, LogRecord, LoopbackListener}
import graft.sources.cdc.WireRetry.readExactly
import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The PostgreSQL frontend/backend protocol (v3) subset a logical-replication
  * client speaks — the wire the reference reaches through Debezium's
  * `PostgresReplicationConnection` (`postgres-cdc` vendors it; the protocol
  * itself is the public PostgreSQL documentation's "Frontend/Backend
  * Protocol" + "Streaming Replication Protocol" chapters):
  *
  *  - startup message (untyped: length, version 196608, key/value params —
  *    `replication=database` is what turns the session into a walsender),
  *  - simple queries (`IDENTIFY_SYSTEM`, `START_REPLICATION SLOT ... LOGICAL
  *    <lsn> ...`) answered by RowDescription/DataRow/CommandComplete,
  *  - CopyBoth mode carrying XLogData ('w': start/end LSN + server clock +
  *    a pgoutput message, [[PgOutput]]) and primary keepalives ('k'),
  *  - frontend standby-status-updates ('r': written/flushed/applied LSNs) —
  *    the feedback that advances the slot's `confirmed_flush_lsn`, i.e. the
  *    wire form of [[ChangeSource.commitOffset]].
  *
  * Every backend/frontend message after startup is `type:int8 len:int32
  * body` with len counting itself (big-endian, unlike MySQL's little-endian
  * framing).
  */
object PgWireV3 {

  val ProtocolVersion3 = 196608 // 3 << 16

  def writeMsg(out: OutputStream, tpe: Char, body: Array[Byte]): Unit = {
    val b = ByteBuffer.allocate(5).order(ByteOrder.BIG_ENDIAN)
    b.put(tpe.toByte); b.putInt(4 + body.length)
    out.write(b.array()); out.write(body); out.flush()
  }

  def readMsg(in: InputStream): (Char, Array[Byte]) = {
    val head = readExactly(in, 5)
    val len = ByteBuffer.wrap(head, 1, 4).order(ByteOrder.BIG_ENDIAN).getInt
    require(len >= 4, s"bad message length $len")
    (head(0).toChar, readExactly(in, len - 4))
  }

  def writeStartup(out: OutputStream, params: Seq[(String, String)]): Unit = {
    val body = params.flatMap { case (k, v) =>
      k.getBytes(UTF_8).toSeq ++ Seq(0.toByte) ++ v.getBytes(UTF_8) ++ Seq(0.toByte)
    } :+ 0.toByte
    val b = ByteBuffer.allocate(8 + body.length).order(ByteOrder.BIG_ENDIAN)
    b.putInt(8 + body.length); b.putInt(ProtocolVersion3); b.put(body.toArray)
    out.write(b.array()); out.flush()
  }

  def readStartup(in: InputStream): Map[String, String] = {
    val lenB = readExactly(in, 4)
    val len = ByteBuffer.wrap(lenB).order(ByteOrder.BIG_ENDIAN).getInt
    val body = readExactly(in, len - 4)
    val ver = ByteBuffer.wrap(body, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt
    require(ver == ProtocolVersion3, s"unsupported protocol version $ver")
    val parts = new String(body, 4, body.length - 4, UTF_8).split("\u0000").filter(_.nonEmpty)
    parts.grouped(2).collect { case Array(k, v) => k -> v }.toMap
  }

  def be(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)

  // ---- backend messages ---------------------------------------------------

  def encodeAuthOk(): Array[Byte] = { val b = be(4); b.putInt(0); b.array() }
  def encodeReadyForQuery(): Array[Byte] = Array[Byte]('I'.toByte)
  def encodeCommandComplete(tag: String): Array[Byte] =
    tag.getBytes(UTF_8) :+ 0.toByte
  def encodeCopyBothResponse(): Array[Byte] = {
    val b = be(3); b.put(0.toByte); b.putShort(0.toShort); b.array()
  }

  def encodeError(code: String, message: String): Array[Byte] = {
    val b = mutable.ArrayBuffer.empty[Byte]
    def field(t: Char, v: String): Unit = {
      b += t.toByte; b ++= v.getBytes(UTF_8); b += 0.toByte
    }
    field('S', "ERROR"); field('C', code); field('M', message)
    (b += 0.toByte).toArray
  }

  def decodeError(body: Array[Byte]): String = {
    val fields = mutable.Map.empty[Char, String]
    var i = 0
    while (i < body.length && body(i) != 0) {
      val t = body(i).toChar
      val end = body.indexOf(0, i + 1)
      fields(t) = new String(body, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    s"${fields.getOrElse('C', "?????")}: ${fields.getOrElse('M', "unknown error")}"
  }

  def encodeRowDescription(names: Seq[String]): Array[Byte] = {
    val b = be(2 + names.map(_.length + 1 + 18).sum)
    b.putShort(names.size.toShort)
    names.foreach { n =>
      b.put(n.getBytes(UTF_8)); b.put(0.toByte)
      b.putInt(0); b.putShort(0.toShort); b.putInt(25 /* text */)
      b.putShort((-1).toShort); b.putInt(-1); b.putShort(0.toShort)
    }
    b.array()
  }

  def encodeDataRow(values: Seq[String]): Array[Byte] = {
    val enc = values.map(_.getBytes(UTF_8))
    val b = be(2 + enc.map(_.length + 4).sum)
    b.putShort(values.size.toShort)
    enc.foreach { v => b.putInt(v.length); b.put(v) }
    b.array()
  }

  // ---- CopyData payloads (the streaming-replication sub-protocol) ---------

  def encodeXLogData(start: Lsn, end: Lsn, clockMicros: Long, payload: Array[Byte]): Array[Byte] = {
    val b = be(25 + payload.length)
    b.put('w'.toByte); b.putLong(start.value); b.putLong(end.value)
    b.putLong(clockMicros); b.put(payload)
    b.array()
  }

  def encodeKeepalive(walEnd: Lsn, clockMicros: Long, replyRequested: Boolean): Array[Byte] = {
    val b = be(18)
    b.put('k'.toByte); b.putLong(walEnd.value); b.putLong(clockMicros)
    b.put((if (replyRequested) 1 else 0).toByte)
    b.array()
  }

  def encodeStandbyStatus(written: Lsn, flushed: Lsn, applied: Lsn,
      clockMicros: Long): Array[Byte] = {
    val b = be(34)
    b.put('r'.toByte); b.putLong(written.value); b.putLong(flushed.value)
    b.putLong(applied.value); b.putLong(clockMicros); b.put(0.toByte)
    b.array()
  }
}

/** The loopback walsender: a [[WalChangeSource]] (live table + retained WAL
  * + slot state) behind a real TCP listener — the ES/StarRocks/binlog
  * loopback-double pattern applied to the PostgreSQL replication protocol.
  * Serves `IDENTIFY_SYSTEM` and `START_REPLICATION`, streams the retained
  * WAL as pgoutput-in-XLogData frames (Relation metadata first, per-change
  * frames at their own LSNs), and applies frontend standby-status-updates
  * to the slot — `confirmed_flush_lsn` advances over the WIRE, and a start
  * position behind it is refused with a real ErrorResponse, the protocol
  * form of the recycled-WAL loud failure.
  */
final class PgReplicationServerDouble(val wal: WalChangeSource) {
  import PgWireV3._

  private val relid = 51234

  @volatile private var sessions = 0
  def sessionCount: Int = sessions

  /** fault injection: the next `n` replication sessions die mid-CopyBoth
    * (a partial prefix of XLogData frames, then the connection drops) —
    * the transient failure [[graft.sources.cdc.WireRetry]] absorbs. */
  private val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  def failNextSessions(n: Int): Unit = injectedFailures.set(n)
  private def claimFailure(): Boolean =
    injectedFailures.getAndUpdate(v => math.max(0, v - 1)) > 0

  private var listener: Option[LoopbackListener] = None
  def port: Int = listener.map(_.port).getOrElse(
    throw new IllegalStateException("server not started"))

  def start(): Int = {
    val l = LoopbackListener.start(s"pg-double-${wal.tableId.tableName}", 0)(handle)
    listener = Some(l)
    l.port
  }

  def stop(): Unit = listener.foreach(_.stop())

  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    val params = readStartup(in)
    require(params.get("replication").contains("database"),
      "this walsender double only serves replication sessions")
    writeMsg(out, 'R', encodeAuthOk())
    writeMsg(out, 'Z', encodeReadyForQuery())
    while (true) {
      val (tpe, body) = readMsg(in)
      tpe match {
        case 'Q' =>
          val sql = new String(body, 0, math.max(0, body.length - 1), UTF_8).trim
          if (sql.equalsIgnoreCase("IDENTIFY_SYSTEM")) serveIdentify(out)
          else if (sql.toUpperCase.startsWith("START_REPLICATION")) {
            serveReplication(in, out, sql); return // one dump per session
          } else {
            writeMsg(out, 'E', encodeError("42601", s"unsupported command: $sql"))
            writeMsg(out, 'Z', encodeReadyForQuery())
          }
        case 'X' => return // Terminate
        case other =>
          writeMsg(out, 'E', encodeError("08P01", s"unexpected message '$other'")); return
      }
    }
  }

  private def serveIdentify(out: OutputStream): Unit = {
    writeMsg(out, 'T', encodeRowDescription(Seq("systemid", "timeline", "xlogpos", "dbname")))
    writeMsg(out, 'D', encodeDataRow(Seq(
      "7000000000000000042", "1", Lsn(wal.currentOffset).asString, wal.tableId.schemaName)))
    writeMsg(out, 'C', encodeCommandComplete("IDENTIFY_SYSTEM"))
    writeMsg(out, 'Z', encodeReadyForQuery())
  }

  /** `START_REPLICATION SLOT "<slot>" LOGICAL <lsn> (...)`: stream the
    * retained WAL above the start position, then one reply-requested
    * keepalive; the frontend's status update advances the slot; CopyDone
    * ends the bounded session (the pull-model shape — one session per
    * [[ChangeSource.readLog]], like the binlog double's NON_BLOCK dump). */
  private def serveReplication(in: InputStream, out: OutputStream, sql: String): Unit = {
    // under synchronized: += on a @volatile var is a lost-update race when
    // replication sessions overlap (each connection gets its own thread)
    synchronized { sessions += 1 }
    val m = java.util.regex.Pattern
      .compile("(?i)START_REPLICATION\\s+SLOT\\s+\"?([\\w-]+)\"?\\s+LOGICAL\\s+([0-9A-Fa-f]+/[0-9A-Fa-f]+)")
      .matcher(sql)
    if (!m.find()) {
      writeMsg(out, 'E', encodeError("42601", s"cannot parse: $sql")); return
    }
    val slot = m.group(1)
    if (slot != wal.slotName) {
      writeMsg(out, 'E', encodeError("42704", s"replication slot \"$slot\" does not exist"))
      return
    }
    val startLsn = Lsn.parse(m.group(2))
    val head = Lsn(wal.currentOffset)
    val records =
      try wal.readLog(startLsn.value, head.value)
      catch {
        case e: IllegalArgumentException =>
          // the slot's retention contract, spoken in wire form: the code a
          // real server uses when requested WAL is gone
          writeMsg(out, 'E', encodeError("58P01",
            Option(e.getMessage).getOrElse("requested WAL segment has already been removed")))
          return
      }
    writeMsg(out, 'W', encodeCopyBothResponse())
    val failing = claimFailure()
    var framesSent = 0
    val schema = wal.schema
    var relationSent = false
    // the retained WAL of a logical slot is data changes only (truncates
    // ride firstDdlOffset's control path; see WalChangeSource.ddlLog)
    val dataRecords = records.map { r =>
      r.event match {
        case e: DataChangeEvent => (r, e)
        case other => throw new IllegalStateException(s"non-data WAL record: $other")
      }
    }
    // group contiguous records of one transaction (meta txId) into
    // Begin + per-change frames at their own LSNs + Commit at the last
    dataRecords.foldLeft(Vector.empty[Vector[(LogRecord, DataChangeEvent)]]) { (acc, r) =>
      val xid = r._2.meta("txId")
      if (acc.nonEmpty && acc.last.head._2.meta("txId") == xid) acc.init :+ (acc.last :+ r)
      else acc :+ Vector(r)
    }.foreach { tx =>
      val xid = tx.head._2.meta("txId").toLong
      val endLsn = Lsn(tx.last._1.offset)
      val ts = tx.head._1.tsMillis
      val msgs = PgOutput.encodeTx(relid, schema, endLsn, xid, ts, tx.map(_._2))
      if (!relationSent) {
        writeMsg(out, 'd', encodeXLogData(Lsn(tx.head._1.offset), endLsn, 0L,
          PgOutput.encodeRelation(relid, schema, wal.tableId)))
        relationSent = true
      }
      val starts = Lsn(tx.head._1.offset) +: tx.map(r => Lsn(r._1.offset)) :+ endLsn
      msgs.zip(starts).foreach { case (payload, at) =>
        if (!failing || framesSent < 3) {
          writeMsg(out, 'd', encodeXLogData(at, endLsn, 0L, payload))
          framesSent += 1
        }
      }
    }
    // an injected death drops the connection mid-CopyBoth: no keepalive, no
    // CopyDone — the client sees the stream end mid-message and retries
    if (failing) return
    writeMsg(out, 'd', encodeKeepalive(head, 0L, replyRequested = true))
    // the status update is MANDATORY after a reply-requested keepalive —
    // it is the only way confirmed_flush_lsn ever advances
    var confirmed = false
    while (!confirmed) {
      val (tpe, body) = readMsg(in)
      tpe match {
        case 'd' if body.nonEmpty && body(0) == 'r'.toByte =>
          val b = ByteBuffer.wrap(body).order(ByteOrder.BIG_ENDIAN)
          b.get(); b.getLong() // written
          val flushed = b.getLong()
          wal.commitOffset(flushed)
          confirmed = true
        case 'c' | 'X' => confirmed = true // client gave up; nothing confirmed
        case _ => () // ignore other frontend chatter
      }
    }
    writeMsg(out, 'c', Array.emptyByteArray) // CopyDone
    writeMsg(out, 'C', encodeCommandComplete("START_REPLICATION"))
    writeMsg(out, 'Z', encodeReadyForQuery())
  }
}

/** One bounded replication session: startup (`replication=database`) →
  * `IDENTIFY_SYSTEM` → `START_REPLICATION SLOT ... LOGICAL <from>` → decode
  * XLogData pgoutput frames to [[LogRecord]]s (per-change LSNs from each
  * frame's walStart) → answer the keepalive with a standby status update
  * carrying `flushed` → CopyDone. The client half of the protocol, shaped
  * like Debezium's `PostgresReplicationConnection` usage but pull-model. */
object PgReplicationClient {

  /** @param flushedLsn what the status update confirms as durably flushed —
    * the caller's CHECKPOINTED position, never the read position (advancing
    * the slot past what is durably committed is the silent-data-loss bug
    * the slot exists to prevent). */
  def dump(host: String, port: Int, slot: String, db: String,
      fromLsn: Long, flushedLsn: Long): Seq[LogRecord] = {
    import PgWireV3._
    val sock = new Socket(host, port)
    try {
      sock.setSoTimeout(30000)
      sock.setTcpNoDelay(true) // command round trips: avoid Nagle+delayed-ACK stalls
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      writeStartup(out, Seq(
        "user" -> "graft", "database" -> db, "replication" -> "database"))
      val (authT, authB) = readMsg(in)
      require(authT == 'R' && ByteBuffer.wrap(authB).getInt == 0, "expected AuthenticationOk")
      skipUntilReady(in)
      writeMsg(out, 'Q', queryBytes("IDENTIFY_SYSTEM"))
      skipUntilReady(in)
      writeMsg(out, 'Q', queryBytes(
        s"""START_REPLICATION SLOT "$slot" LOGICAL ${Lsn(fromLsn).asString} """ +
          "(proto_version '1', publication_names 'graft_pub')"))
      val (wT, wB) = readMsg(in)
      if (wT == 'E') throw new IllegalStateException(s"walsender refused: ${decodeError(wB)}")
      require(wT == 'W', s"expected CopyBothResponse, got '$wT'")

      val decoder = new PgOutput.Decoder
      val records = mutable.Buffer.empty[LogRecord]
      val pendingStarts = mutable.Buffer.empty[Long] // walStart per I/U/D frame
      var done = false
      while (!done) {
        val (tpe, body) = readMsg(in)
        tpe match {
          case 'd' =>
            val b = ByteBuffer.wrap(body).order(ByteOrder.BIG_ENDIAN)
            b.get().toChar match {
              case 'w' =>
                val walStart = b.getLong(); b.getLong(); b.getLong()
                val payload = new Array[Byte](b.remaining()); b.get(payload)
                val kind = if (payload.isEmpty) ' ' else payload(0).toChar
                if (kind == 'I' || kind == 'U' || kind == 'D') pendingStarts += walStart
                decoder.feed(payload).foreach { tx =>
                  require(pendingStarts.size == tx.changes.size,
                    s"frame/change count mismatch: ${pendingStarts.size} vs ${tx.changes.size}")
                  tx.changes.zip(pendingStarts).foreach { case (e, at) =>
                    records += LogRecord(at, tx.tsMillis, e.copy(meta = e.meta ++ Map(
                      "lsn" -> Lsn(at).asString, "txId" -> tx.xid.toString)))
                  }
                  pendingStarts.clear()
                }
              case 'k' =>
                val walEnd = b.getLong(); b.getLong()
                if (b.get() == 1.toByte) {
                  writeMsg(out, 'd', encodeStandbyStatus(
                    Lsn(walEnd), Lsn(flushedLsn), Lsn(flushedLsn), 0L))
                }
              case other =>
                throw new IllegalStateException(s"unexpected copy sub-message '$other'")
            }
          case 'c' => done = true // CopyDone
          case 'E' => throw new IllegalStateException(s"walsender error: ${decodeError(body)}")
          case _ => () // CommandComplete / ReadyForQuery tail
        }
      }
      records.toSeq
    } finally sock.close()
  }

  private def queryBytes(sql: String): Array[Byte] = sql.getBytes(UTF_8) :+ 0.toByte

  /** Drain backend messages until ReadyForQuery; fail on ErrorResponse. */
  private def skipUntilReady(in: InputStream): Unit = {
    import PgWireV3._
    var ready = false
    while (!ready) {
      val (tpe, body) = readMsg(in)
      tpe match {
        case 'Z' => ready = true
        case 'E' => throw new IllegalStateException(s"backend error: ${decodeError(body)}")
        case _ => () // ParameterStatus / RowDescription / DataRow / CommandComplete
      }
    }
  }
}

/** [[ChangeSource]] over the replication socket: snapshot/key-stats
  * in-process (the reference snapshots over JDBC, not the WAL), the LOG
  * PHASE through a real walsender session per read, and the CHECKPOINT
  * FEEDBACK ([[commitOffset]]) through a real standby-status-update frame —
  * so slot advancement, retention trimming, and the recycled-WAL refusal
  * all run against actual wire bytes. */
final class PgSocketChangeSource(double: PgReplicationServerDouble) extends ChangeSource {
  private def wal = double.wal
  override def tableId: TableId = wal.tableId
  override def schema: TableSchema = wal.schema
  override def currentOffset: Long = wal.currentOffset
  override def snapshotRead(lo: Option[Long], hi: Option[Long]): Seq[Map[String, Any]] =
    wal.snapshotRead(lo, hi)
  override def keyStats: (Option[Long], Option[Long], Long) = wal.keyStats
  override def offsetAtTimestamp(ts: Long): Long = wal.offsetAtTimestamp(ts)
  override def firstDdlOffset(fromEx: Long, toInc: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    wal.firstDdlOffset(fromEx, toInc)
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    graft.sources.cdc.WireRetry.withRetries() {
      PgReplicationClient.dump(
        "127.0.0.1", double.port, wal.slotName, tableId.schemaName,
        fromExclusive, flushedLsn = wal.confirmedFlushLsn.value)
    }.filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
  /** checkpoint feedback over the wire: a session whose status update
    * carries the durably committed position as `flushed`. */
  override def commitOffset(offset: Long): Unit = {
    graft.sources.cdc.WireRetry.withRetries() {
      // start the feedback session AT THE HEAD: the standby-status update
      // carries the flushed LSN regardless of the start position, and
      // starting at the checkpoint would stream AND pgoutput-decode the
      // whole retained tail just to discard it — O(retained WAL) per
      // checkpoint commit instead of O(1)
      PgReplicationClient.dump(
        "127.0.0.1", double.port, wal.slotName, tableId.schemaName,
        math.max(offset, wal.currentOffset), flushedLsn = offset)
    }
    ()
  }
}
