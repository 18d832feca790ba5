package graft.sources.mongo

import graft.core._
import graft.sources.cdc.{ChangeSource, LogRecord, LoopbackListener}
import graft.sources.cdc.WireRetry.readExactly
import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** A BSON subset (the public BSON 1.1 specification) sufficient for the
  * MongoDB commands a change-stream client exchanges: documents, arrays,
  * strings, int32/int64, doubles, booleans, null, and the BSON timestamp
  * (0x11) `clusterTime` rides in. Documents are ORDER-PRESERVING — the
  * command name must be the first element of an OP_MSG body, so a hash map
  * representation would corrupt commands.
  */
object Bson {

  /** an order-preserving BSON document */
  final case class BDoc(fields: Seq[(String, Any)]) {
    def get(key: String): Option[Any] = fields.collectFirst { case (`key`, v) => v }
    def getDoc(key: String): Option[BDoc] = get(key).collect { case d: BDoc => d }
    def getStr(key: String): Option[String] = get(key).collect { case s: String => s }
    def getNum(key: String): Option[Long] = get(key).collect {
      case l: Long => l; case i: Int => i.toLong; case d: Double => d.toLong
    }
    def getArr(key: String): Option[Seq[Any]] = get(key).collect { case a: Seq[_] => a }
  }
  object BDoc { def apply(fields: (String, Any)*)(implicit d: DummyImplicit): BDoc = BDoc(fields.toSeq) }

  /** BSON timestamp (type 0x11): (seconds, increment) — `clusterTime`. */
  final case class BTs(seconds: Int, inc: Int)

  // Comparison-order value forms (never on the wire subset, but orderable —
  // a Mongo `_id` chunk key can be any of these): binary, regex, code,
  // datetime, ObjectId, undefined, min/max keys.
  final case class BBin(subType: Byte, data: Array[Byte])
  final case class BRegex(pattern: String, options: String = "")
  final case class BJs(code: String)
  final case class BJsScope(code: String, scope: BDoc)
  final case class BDateTime(millis: Long)
  final case class BObjectId(hex: String)
  case object BUndefined
  case object BMinKey
  case object BMaxKey

  /** MongoDB's BSON type comparison order
    * (`mongodb/source/utils/BsonUtils.compareBsonValue` — used when chunking
    * a collection on `_id` ranges; the published order is
    * MinKey < Undefined == [] < Null < Numbers < String < Object < Array <
    * Binary < ObjectId < Boolean < Date < Timestamp < Regex < Code < MaxKey).
    * Top-level arrays compare by their SMALLEST element; an empty array
    * ranks as Undefined. Cross-type comparisons resolve on the type rank
    * alone; documents compare pairwise in field order (type, then key name,
    * then value, then length).
    */
  def compareValues(o1: Any, o2: Any): Int = compareValues(o1, o2, topLevel = true)

  private def typeOrder(v: Any): Int = v match {
    case null => 3
    case BMinKey => 1
    case BUndefined => 2
    case _: Int | _: Long | _: Double | _: BigDecimal => 4
    case _: String => 5
    case _: BDoc => 6
    case _: Seq[_] => 7
    case _: BBin => 8
    case _: BObjectId => 9
    case _: Boolean => 10
    case _: BDateTime => 11
    case _: BTs => 12
    case _: BRegex => 13
    case _: BJs => 14
    case _: BJsScope => 15
    case BMaxKey => 99
    case other => throw new IllegalArgumentException(
      s"Unable to order bson value ${other.getClass.getName}")
  }

  private def smallestOfArray(a: Seq[Any]): Any =
    if (a.isEmpty) BUndefined // empty array ranks below null
    else if (a.size == 1) a.head
    else a.min((x: Any, y: Any) => compareValues(x, y, topLevel = false))

  private def compareValues(o1: Any, o2: Any, topLevel: Boolean): Int = {
    if (topLevel) {
      val e1 = o1 match { case a: Seq[_] => smallestOfArray(a); case x => x }
      val e2 = o2 match { case a: Seq[_] => smallestOfArray(a); case x => x }
      return compareValues(e1, e2, topLevel = false)
    }
    val (t1, t2) = (typeOrder(o1), typeOrder(o2))
    if (t1 != t2) return Integer.compare(t1, t2)
    (o1, o2) match {
      case (null, _) | (BMinKey, _) | (BMaxKey, _) | (BUndefined, _) => 0
      case _ if t1 == 4 =>
        BigDecimal(o1.toString).compare(BigDecimal(o2.toString))
      case (a: String, b: String) => a.compareTo(b)
      case (a: BDoc, b: BDoc) => compareDocs(a, b)
      case (a: Seq[_], b: Seq[_]) =>
        compareValues(smallestOfArray(a), smallestOfArray(b), topLevel = false)
      case (a: BBin, b: BBin) =>
        // length, then the one-byte subtype, then bytes unsigned
        var r = Integer.compare(a.data.length, b.data.length)
        if (r == 0) r = java.lang.Byte.compare(a.subType, b.subType)
        if (r == 0) r = a.data.zip(b.data).iterator
          .map { case (x, y) => Integer.compare(x & 0xff, y & 0xff) }
          .find(_ != 0).getOrElse(0)
        r
      case (a: BObjectId, b: BObjectId) => a.hex.compareTo(b.hex)
      case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
      case (a: BDateTime, b: BDateTime) => java.lang.Long.compare(a.millis, b.millis)
      case (a: BTs, b: BTs) =>
        val r = Integer.compareUnsigned(a.seconds, b.seconds)
        if (r != 0) r else Integer.compareUnsigned(a.inc, b.inc)
      case (a: BRegex, b: BRegex) =>
        s"/${a.pattern}/${a.options}".compareTo(s"/${b.pattern}/${b.options}")
      case (a: BJs, b: BJs) => a.code.compareTo(b.code)
      case (a: BJsScope, b: BJsScope) =>
        val r = a.code.compareTo(b.code)
        if (r != 0) r else compareDocs(a.scope, b.scope)
      case _ => throw new IllegalArgumentException(
        s"Unable to compare bson values between $o1 and $o2")
    }
  }

  private def compareDocs(d1: BDoc, d2: BDoc): Int = {
    val (p1, p2) = (d1.fields, d2.fields)
    if (p1.isEmpty && p2.isEmpty) 0
    else if (p1.isEmpty) -1
    else if (p2.isEmpty) 1
    else {
      p1.zip(p2).foreach { case ((k1, v1), (k2, v2)) =>
        var r = Integer.compare(typeOrder(v1), typeOrder(v2))
        if (r == 0) r = k1.compareTo(k2)
        if (r == 0) r = compareValues(v1, v2, topLevel = false)
        if (r != 0) return r
      }
      Integer.compare(p1.size, p2.size)
    }
  }

  def encode(doc: BDoc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeDoc(out, doc)
    out.toByteArray
  }

  private def writeDoc(out: java.io.ByteArrayOutputStream, doc: BDoc): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    doc.fields.foreach { case (k, v) => writeElement(body, k, v) }
    val total = 4 + body.size() + 1
    out.write(le4(total)); body.writeTo(out); out.write(0)
  }

  private def writeElement(out: java.io.ByteArrayOutputStream, name: String, v: Any): Unit = {
    def cname(): Unit = { out.write(name.getBytes(UTF_8)); out.write(0) }
    v match {
      case d: Double => out.write(0x01); cname()
        out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(d).array())
      case s: String => out.write(0x02); cname()
        val b = s.getBytes(UTF_8); out.write(le4(b.length + 1)); out.write(b); out.write(0)
      case d: BDoc => out.write(0x03); cname(); writeDoc(out, d)
      case a: Seq[_] => out.write(0x04); cname()
        writeDoc(out, BDoc(a.zipWithIndex.map { case (x, i) => i.toString -> x }))
      case b: Boolean => out.write(0x08); cname(); out.write(if (b) 1 else 0)
      case null => out.write(0x0A); cname()
      case i: Int => out.write(0x10); cname(); out.write(le4(i))
      case t: BTs => out.write(0x11); cname()
        out.write(le4(t.inc)); out.write(le4(t.seconds))
      case l: Long => out.write(0x12); cname()
        out.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array())
      case other => throw new IllegalArgumentException(
        s"bson subset cannot encode ${other.getClass.getName}")
    }
  }

  private def le4(n: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()

  def decode(bytes: Array[Byte]): BDoc = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    readDoc(b)
  }

  private def readDoc(b: ByteBuffer): BDoc = {
    val start = b.position()
    val len = b.getInt()
    val fields = mutable.Buffer.empty[(String, Any)]
    while (b.position() < start + len - 1) {
      val tpe = b.get()
      val name = cstr(b)
      val v: Any = tpe match {
        case 0x01 => b.getDouble()
        case 0x02 => val n = b.getInt(); val s = new String(getN(b, n - 1), UTF_8); b.get(); s
        case 0x03 => readDoc(b)
        case 0x04 => readDoc(b).fields.map(_._2)
        case 0x08 => b.get() != 0
        case 0x0A => null
        case 0x10 => b.getInt()
        case 0x11 => val inc = b.getInt(); val sec = b.getInt(); BTs(sec, inc)
        case 0x12 => b.getLong()
        case other => throw new IllegalArgumentException(f"bson subset: unknown type 0x$other%02x")
      }
      fields += name -> v
    }
    require(b.get() == 0, "bson document missing terminator")
    BDoc(fields.toSeq)
  }

  private def cstr(b: ByteBuffer): String = {
    val s = new StringBuilder
    var c = b.get()
    while (c != 0) { s.append(c.toChar); c = b.get() }
    s.toString
  }

  private def getN(b: ByteBuffer, n: Int): Array[Byte] = {
    val a = new Array[Byte](n); b.get(a); a
  }
}

/** OP_MSG framing (the modern MongoDB wire protocol, opcode 2013): a
  * little-endian header `(messageLength, requestID, responseTo, opCode)`,
  * uint32 flagBits (0 here — no checksum, no exhaustAllowed), and one
  * kind-0 section holding a single BSON document. Commands and replies are
  * both just documents.
  */
object OpMsg {
  val OpCode = 2013

  def write(out: OutputStream, requestId: Int, responseTo: Int, body: Bson.BDoc): Unit = {
    val doc = Bson.encode(body)
    val b = ByteBuffer.allocate(16 + 4 + 1 + doc.length).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(16 + 4 + 1 + doc.length); b.putInt(requestId); b.putInt(responseTo)
    b.putInt(OpCode); b.putInt(0 /* flagBits */); b.put(0.toByte /* section kind 0 */)
    b.put(doc)
    out.write(b.array()); out.flush()
  }

  /** @return (requestId, body) */
  def read(in: InputStream): (Int, Bson.BDoc) = {
    val head = readExactly(in, 16)
    val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val len = hb.getInt(); val reqId = hb.getInt(); hb.getInt()
    val op = hb.getInt()
    require(op == OpCode, s"expected OP_MSG (2013), got opcode $op")
    val rest = readExactly(in, len - 16)
    val rb = ByteBuffer.wrap(rest).order(ByteOrder.LITTLE_ENDIAN)
    val flags = rb.getInt()
    require((flags & ~0x1) == 0, f"unsupported OP_MSG flags 0x$flags%08x")
    val kind = rb.get()
    require(kind == 0, s"only kind-0 sections supported, got $kind")
    val doc = new Array[Byte](rb.remaining()); rb.get(doc)
    (reqId, Bson.decode(doc))
  }
}

/** The loopback `mongod`: a [[DocumentChangeSource]] behind a real TCP
  * listener speaking OP_MSG — `hello`, `aggregate` with a `$changeStream`
  * stage (resumeAfter / startAfter validated exactly as a server does:
  * resuming AFTER the invalidate token is refused with
  * `ChangeStreamHistoryLost`-style `ok:0`), and `getMore` cursor batches.
  * A stream that reaches the collection drop delivers the `drop` and
  * `invalidate` events and then CLOSES (cursor id 0) — the documented
  * invalidation lifecycle, on the wire.
  */
final class MongoServerDouble(val source: DocumentChangeSource, batchSize: Int = 32) {
  import Bson._

  @volatile private var sessions = 0
  def sessionCount: Int = sessions

  /** fault injection: the next `n` aggregate sessions die before replying
    * (the connection drops mid-exchange) — the transient failure
    * [[graft.sources.cdc.WireRetry]] absorbs. */
  private val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  def failNextSessions(n: Int): Unit = injectedFailures.set(n)
  private def claimFailure(): Boolean =
    injectedFailures.getAndUpdate(v => math.max(0, v - 1)) > 0

  // live cursors: id -> remaining events
  // insertion-ordered so abandonment eviction drops the OLDEST cursor: a
  // client killed between getMore calls (timeout, injected fault, retry)
  // never drains its queue, and an unbounded map would grow by one oplog
  // tail per abandoned read over a long pipeline run (real servers reap
  // idle cursors by timeout; a bounded LRU is this double's equivalent)
  private val cursors =
    mutable.LinkedHashMap.empty[Long, mutable.Queue[DocumentChangeSource#StreamEvent]]
  private val MaxOpenCursors = 64
  private var cursorCounter = 7000L

  private var listener: Option[LoopbackListener] = None
  def port: Int = listener.map(_.port).getOrElse(
    throw new IllegalStateException("server not started"))

  def start(): Int = {
    val l = LoopbackListener.start(s"mongo-double-${source.tableId.tableName}", 0)(handle)
    listener = Some(l)
    l.port
  }

  def stop(): Unit = listener.foreach(_.stop())

  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    var responseId = 1
    while (true) {
      val (reqId, cmd) = OpMsg.read(in)
      val reply = dispatch(cmd)
      OpMsg.write(out, responseId, reqId, reply)
      responseId += 1
    }
  }

  private def ok(fields: (String, Any)*): BDoc = BDoc(fields.toSeq :+ ("ok" -> 1.0))
  private def err(code: Int, name: String, msg: String): BDoc =
    BDoc(Seq("ok" -> 0.0, "errmsg" -> msg, "code" -> code, "codeName" -> name))

  private def dispatch(cmd: BDoc): BDoc = synchronized {
    cmd.fields.headOption.map(_._1) match {
      case Some("hello") | Some("isMaster") =>
        ok("isWritablePrimary" -> true, "maxWireVersion" -> 17, "minWireVersion" -> 0,
          "maxBsonObjectSize" -> 16777216)
      case Some("aggregate") => aggregate(cmd)
      case Some("getMore") => getMore(cmd)
      case Some(other) => err(59, "CommandNotFound", s"no such command: '$other'")
      case None => err(40414, "Location40414", "empty command document")
    }
  }

  /** `{aggregate: <coll>, pipeline: [{$changeStream: {...}}], cursor: {}}` */
  private def aggregate(cmd: BDoc): BDoc = {
    sessions += 1
    // injected mid-exchange death: no reply ever arrives, the connection
    // drops, and the client must retry the whole bounded read
    if (claimFailure()) throw new java.io.IOException("injected connection drop")
    val coll = cmd.getStr("aggregate").getOrElse(return err(14, "TypeMismatch", "collection name"))
    if (coll != source.tableId.tableName)
      return err(26, "NamespaceNotFound", s"collection $coll does not exist")
    val stage = cmd.getArr("pipeline").getOrElse(Seq.empty).collectFirst {
      case d: BDoc if d.get("$changeStream").isDefined => d.getDoc("$changeStream").get
    }.getOrElse(return err(40324, "Location40324", "pipeline must begin with $changeStream"))
    val from: Long = (stage.getDoc("resumeAfter"), stage.getDoc("startAfter")) match {
      case (Some(tok), _) =>
        val t = ResumeToken(s"""{"_data": "${tok.getStr("_data").getOrElse("")}"}""")
        if (source.invalidateToken.contains(t))
          return err(286, "ChangeStreamHistoryLost",
            "cannot resumeAfter an invalidate token; use startAfter")
        t.decodePosition
      case (None, Some(tok)) =>
        ResumeToken(s"""{"_data": "${tok.getStr("_data").getOrElse("")}"}""").decodePosition
      case _ => 0L // no resume position: serve the retained oplog from the start
    }
    val events = mutable.Queue.empty[DocumentChangeSource#StreamEvent]
    source.streamEventsAfter(from).foreach(e => events.enqueue(e))
    val (batch, cursorId) = takeBatch(events)
    if (cursorId != 0L) {
      while (cursors.size >= MaxOpenCursors) cursors.remove(cursors.head._1)
      cursors(cursorId) = events
    }
    ok("cursor" -> BDoc(Seq(
      "firstBatch" -> batch, "id" -> cursorId,
      "ns" -> s"${source.tableId.schemaName}.${source.tableId.tableName}")))
  }

  private def getMore(cmd: BDoc): BDoc = {
    val id = cmd.getNum("getMore").getOrElse(return err(14, "TypeMismatch", "cursor id"))
    val events = cursors.getOrElse(id,
      return err(43, "CursorNotFound", s"cursor $id not found"))
    val (batch, nextId) = takeBatch(events, id)
    if (nextId == 0L) cursors.remove(id)
    ok("cursor" -> BDoc(Seq(
      "nextBatch" -> batch, "id" -> nextId,
      "ns" -> s"${source.tableId.schemaName}.${source.tableId.tableName}")))
  }

  /** Drain up to batchSize events; the cursor closes (id 0) at exhaustion
    * AND immediately after an `invalidate` event — the stream is dead. */
  private def takeBatch(events: mutable.Queue[DocumentChangeSource#StreamEvent],
      existingId: Long = 0L): (Seq[Any], Long) = {
    val batch = mutable.Buffer.empty[Any]
    var invalidated = false
    while (batch.size < batchSize && events.nonEmpty && !invalidated) {
      val e = events.dequeue()
      if (e.opType == "invalidate") invalidated = true
      batch += eventDoc(e)
    }
    val cursorId =
      if (events.isEmpty || invalidated) 0L
      else if (existingId != 0L) existingId
      else { cursorCounter += 1; cursorCounter }
    (batch.toSeq, cursorId)
  }

  private def eventDoc(e: DocumentChangeSource#StreamEvent): BDoc = {
    val hex = {
      // the token's opaque _data hex, as the real server ships it
      val j = e.token.json
      val i = j.indexOf("\"_data\": \"") + 10
      j.substring(i, j.indexOf('"', i))
    }
    val base = Seq(
      "_id" -> BDoc(Seq("_data" -> hex)),
      "operationType" -> e.opType,
      "clusterTime" -> Bson.BTs((e.tsMillis / 1000L).toInt, 1),
      // wallTime (Mongo 6.0+): exact event millis — clusterTime truncates
      // to seconds, and the in-process source emits exact tsMillis, so the
      // two paths would otherwise disagree inside a 999 ms window
      "wallTime" -> e.tsMillis,
      "ns" -> BDoc(Seq(
        "db" -> source.tableId.schemaName, "coll" -> source.tableId.tableName)))
    val key = e.id.map(id => "documentKey" -> BDoc(Seq("_id" -> id))).toSeq
    val full = e.fullDocument.map(d =>
      "fullDocument" -> BDoc(Seq("_id" -> e.id.get, "doc" -> d))).toSeq
    BDoc(base ++ key ++ full)
  }
}

/** One bounded change-stream read: connect → `hello` → `aggregate` with
  * `$changeStream` (resumeAfter/startAfter) → drain `getMore` until the
  * server closes the cursor → close. The client half of the protocol,
  * shaped like the reference's `MongoDBSource` change-stream usage
  * (`mongodb/source/utils/MongoUtils.java` builds the same aggregate) but
  * pull-model. */
object MongoChangeStreamClient {
  import Bson._

  final case class WireEvent(
      tokenHex: String, opType: String, id: Option[Long], fullDocument: Option[String],
      tsMillis: Long)

  def dump(host: String, port: Int, db: String, coll: String,
      resumeAfter: Option[String], startAfter: Option[String] = None): Seq[WireEvent] = {
    val sock = new Socket(host, port)
    try {
      sock.setSoTimeout(30000)
      sock.setTcpNoDelay(true) // command round trips: avoid Nagle+delayed-ACK stalls
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      var reqId = 1
      def call(body: BDoc): BDoc = {
        OpMsg.write(out, reqId, 0, body); reqId += 1
        val (_, reply) = OpMsg.read(in)
        reply.get("ok") match {
          case Some(1.0) => reply
          case _ => throw new IllegalStateException(
            s"server error ${reply.getNum("code").getOrElse(-1L)} " +
              s"(${reply.getStr("codeName").getOrElse("?")}): " +
              reply.getStr("errmsg").getOrElse("unknown"))
        }
      }
      val helloReply = call(BDoc(Seq("hello" -> 1, "$db" -> "admin")))
      require(helloReply.get("isWritablePrimary").contains(true), "not a primary")
      val streamSpec = (resumeAfter, startAfter) match {
        case (Some(hex), _) => BDoc(Seq("resumeAfter" -> BDoc(Seq("_data" -> hex))))
        case (None, Some(hex)) => BDoc(Seq("startAfter" -> BDoc(Seq("_data" -> hex))))
        case _ => BDoc(Seq.empty[(String, Any)])
      }
      var reply = call(BDoc(Seq(
        "aggregate" -> coll,
        "pipeline" -> Seq(BDoc(Seq("$changeStream" -> streamSpec))),
        "cursor" -> BDoc(Seq.empty[(String, Any)]),
        "$db" -> db)))
      val events = mutable.Buffer.empty[WireEvent]
      var batchKey = "firstBatch"
      var done = false
      while (!done) {
        val cursor = reply.getDoc("cursor").getOrElse(
          throw new IllegalStateException("reply without cursor"))
        cursor.getArr(batchKey).getOrElse(Seq.empty).foreach {
          case d: BDoc =>
            events += WireEvent(
              d.getDoc("_id").flatMap(_.getStr("_data")).getOrElse(
                throw new IllegalStateException("event without resume token")),
              d.getStr("operationType").get,
              d.getDoc("documentKey").flatMap(_.getNum("_id")),
              d.getDoc("fullDocument").flatMap(_.getStr("doc")),
              // prefer the exact wallTime; clusterTime seconds as fallback
              d.getNum("wallTime").getOrElse(
                d.get("clusterTime").collect {
                  case t: Bson.BTs => t.seconds.toLong * 1000L
                }.getOrElse(0L)))
          case other => throw new IllegalStateException(s"non-document batch entry: $other")
        }
        val cid = cursor.getNum("id").getOrElse(0L)
        if (cid == 0L) done = true
        else {
          reply = call(BDoc(Seq("getMore" -> cid, "collection" -> coll, "$db" -> db)))
          batchKey = "nextBatch"
        }
      }
      events.toSeq
    } finally sock.close()
  }
}

/** [[ChangeSource]] over the OP_MSG socket: snapshot/key-stats in-process
  * (the reference snapshots collections with `find`/split-vector, not the
  * change stream), the LOG PHASE through a real aggregate/getMore session
  * per read, resuming at the checkpointed position's token. The drop →
  * invalidate lifecycle stays on the in-process control path
  * ([[DocumentChangeSource.firstDdlOffset]]), exactly like the other
  * socket adapters keep their driver-cheap probes in-process. */
final class MongoSocketChangeSource(double: MongoServerDouble) extends ChangeSource {
  private def src = double.source
  override def tableId: TableId = src.tableId
  override def schema: TableSchema = src.schema
  override def currentOffset: Long = src.currentOffset
  override def snapshotRead(lo: Option[Long], hi: Option[Long]): Seq[Map[String, Any]] =
    src.snapshotRead(lo, hi)
  override def keyStats: (Option[Long], Option[Long], Long) = src.keyStats
  override def offsetAtTimestamp(ts: Long): Long = src.offsetAtTimestamp(ts)
  override def firstDdlOffset(fromEx: Long, toInc: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    src.firstDdlOffset(fromEx, toInc)
  override def keyOfEvent(e: DataChangeEvent): Long = src.keyOfEvent(e)
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] = {
    // TOKEN-based resume identity, like a real change-stream client:
    //  - a window at/after the DROP position belongs to the startAfter
    //    SUCCESSOR stream — open it with startAfter(invalidate token); the
    //    previous exact-token lookup missed (control positions are not
    //    data tokens), replayed from 0, and the server closed the cursor
    //    at the invalidate: every post-recreate record was silently LOST;
    //  - a window crossing the invalidate from under the drop is a DEAD
    //    stream: refuse loudly, matching the in-process source;
    //  - otherwise resume after the nearest data token AT OR BELOW
    //    fromExclusive (timestamp startup lands between tokens; resuming
    //    from scratch would page the whole retained oplog per read).
    def hex(t: ResumeToken): String = {
      val j = t.json; val i = j.indexOf("\"_data\": \"") + 10
      j.substring(i, j.indexOf('"', i))
    }
    val (resume, start) = (src.dropPosition, src.invalidateToken) match {
      case (Some(d), Some(tok)) if fromExclusive >= d => (None, Some(hex(tok)))
      case (Some(_), Some(tok)) =>
        require(toInclusive < tok.decodePosition,
          s"change stream invalidated at position ${tok.decodePosition} " +
            "(collection dropped): open a new stream with startAfter")
        (src.tokenAtOrBefore(fromExclusive).map(hex), None)
      case _ => (src.tokenAtOrBefore(fromExclusive).map(hex), None)
    }
    graft.sources.cdc.WireRetry.withRetries() {
      MongoChangeStreamClient.dump(
        "127.0.0.1", double.port, tableId.schemaName, tableId.tableName,
        resume, start)
    }.filter(e => e.opType != "drop" && e.opType != "invalidate")
      .map { e =>
        val off = ResumeToken(s"""{"_data": "${e.tokenHex}"}""").decodePosition
        val id = e.id.getOrElse(throw new IllegalStateException("data event without key"))
        val event = e.opType match {
          case "insert" => DataChangeEvent.insert(tableId,
            Map[String, Any]("_id" -> id, "doc" -> e.fullDocument.get))
          case "replace" => DataChangeEvent.replace(tableId,
            Map[String, Any]("_id" -> id, "doc" -> e.fullDocument.get))
          case "update" => DataChangeEvent.update(tableId,
            Map[String, Any]("_id" -> id),
            Map[String, Any]("_id" -> id, "doc" -> e.fullDocument.orNull))
          case "delete" => DataChangeEvent.delete(tableId, Map[String, Any]("_id" -> id))
          case other => throw new IllegalStateException(s"unexpected operationType $other")
        }
        LogRecord(off, e.tsMillis, event)
      }
      .filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
  }
}
