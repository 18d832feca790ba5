package graft.sources.mongo

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}
import org.apache.spark.sql.types._

/** An opaque change-stream resume token: `{"_data": "<hex>"}`, where the hex
  * payload encodes (clusterTimeMillis, seq) — decodable to a monotone
  * position but never compared structurally, exactly the contract of the
  * reference's `ChangeStreamOffset`
  * (`flink-connector-mongodb-cdc/.../source/offset/ChangeStreamOffset.java:43-67`:
  * the checkpointed offset is `{timestamp, resumeToken}`, position recovered
  * by `ResumeTokenUtils.decodeTimestamp`). */
final case class ResumeToken(json: String) {
  /** `ResumeTokenUtils.decodeTimestamp` analog: the monotone position inside
    * the opaque payload. */
  def decodePosition: Long = {
    val hex = json.split("\"").apply(3)
    java.lang.Long.parseLong(hex.substring(16, 32), 16)
  }
  def decodeTimestampMillis: Long = {
    val hex = json.split("\"").apply(3)
    java.lang.Long.parseLong(hex.substring(0, 16), 16)
  }
}

object ResumeToken {
  def encode(tsMillis: Long, seq: Long): ResumeToken =
    ResumeToken(f"""{"_data": "$tsMillis%016x$seq%016x"}""")

  /** KeyString type byte for a BSON timestamp (`ResumeTokenUtils.K_TIMESTAMP`). */
  private val KTimestamp = 130

  /** Decode a REAL MongoDB change-stream resume token to its cluster
    * timestamp (`ResumeTokenUtils.decodeTimestamp`): the `_data` field is
    * either a hex KeyString (wire versions v0/v1) or a BinData payload
    * (`{"$binary": {"base64": …}}`); the first byte must be the KeyString
    * timestamp tag 0x82, followed by big-endian (seconds, increment).
    */
  def decodeTimestamp(tokenJson: String): graft.sources.mongo.Bson.BTs = {
    val base64 = """"base64"\s*:\s*"([^"]+)"""".r
    val hexData = """"_data"\s*:\s*"([0-9A-Fa-f]+)"""".r
    val bytes: Array[Byte] = base64.findFirstMatchIn(tokenJson) match {
      case Some(m) => java.util.Base64.getDecoder.decode(m.group(1))
      case None => hexData.findFirstMatchIn(tokenJson) match {
        case Some(m) =>
          m.group(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        case None => throw new IllegalArgumentException(
          s"Unknown resume token format: $tokenJson")
      }
    }
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    val kType = buf.get() & 0xff
    if (kType != KTimestamp)
      throw new IllegalArgumentException(s"Unknown keyType of timestamp: $kType")
    graft.sources.mongo.Bson.BTs(buf.getInt(), buf.getInt())
  }
}

/** A document-store change source — the MongoDB change model through the SAME
  * [[ChangeSource]] SPI the row-JDBC dialects implement, proving the SPI is
  * not row-JDBC-shaped. The three architectural differences from binlog-style
  * sources, mirrored from the reference's mongodb connector:
  *
  *  - '''Resume tokens, not file/pos offsets''': every oplog entry carries an
  *    opaque [[ResumeToken]]; the SPI's monotone `Long` offsets are the
  *    DECODED positions (`ChangeStreamOffset.java:43-67`,
  *    `ResumeTokenUtils.decodeTimestamp`), and [[tokenAt]]/[[resumeAfter]]
  *    expose the token-level API a real change stream resumes with.
  *  - '''No before-image''': update events carry only the document key (plus
  *    an update description a relational envelope cannot use); delete events
  *    carry ONLY the document key. The emitted change events therefore have
  *    `before = {_id}` for DELETE and empty before for UPDATE — never a full
  *    old document (pre-images exist only behind
  *    `FULL_DOCUMENT_PRE_POST_IMAGE`, `MongoUtils.java:257-266`).
  *  - '''Full-document lookup''': updates are resolved to a full `after` by
  *    looking up the LIVE collection at read time (`FullDocument.UPDATE_LOOKUP`,
  *    `MongoUtils.java:266`): the looked-up document may already reflect later
  *    changes, or be null if the document was deleted since — the documented
  *    updateLookup caveat. PK-materialization converges to the same final
  *    state regardless, which is what the `c_mongo_style` oracle checks.
  *
  * Documents are schemaless; the relational projection is the fixed
  * `(_id, doc-json)` shape (the reference flattens to the declared Flink
  * schema the same way — the document itself is the value).
  */
final class DocumentChangeSource(
    val tableId: TableId,
    initialDocs: Seq[(Long, String)])
    extends ChangeSource {

  override val schema: TableSchema = TableSchema(
    StructType(Seq(
      StructField("_id", LongType, nullable = false),
      StructField("doc", StringType))),
    primaryKeys = Seq("_id"))

  // the live collection: what snapshot chunks and update-lookup read
  private val collection =
    new LiveTable("document source", schema, initialDocs.map { case (id, doc) => row(id, doc) })
  private def row(id: Long, doc: String): Map[String, Any] = Map("_id" -> id, "doc" -> doc)
  private def lookup(id: Long): Option[String] =
    collection.get(id).map(_("doc").asInstanceOf[String])

  /** One oplog entry holds exactly what a change stream delivers: the token,
    * the op, the document key, and a full document ONLY for insert/replace. */
  private final case class OplogEntry(
      token: ResumeToken,
      tsMillis: Long,
      op: OperationType.Value,
      id: Long,
      fullDocument: Option[String])

  private val oplog = scala.collection.mutable.ArrayBuffer.empty[OplogEntry]
  private var seq = 0L

  private def record(
      op: OperationType.Value, id: Long, full: Option[String], ts: Long): Long =
    synchronized {
      seq += 1
      oplog += OplogEntry(ResumeToken.encode(ts, seq), ts, op, id, full)
      seq
    }

  // ---- the scripted "database" ---------------------------------------------

  def insertDoc(id: Long, doc: String, tsMillis: Long = 0L): Long = synchronized {
    collection.put(row(id, doc))
    record(OperationType.INSERT, id, Some(doc), tsMillis) // inserts carry fullDocument
  }

  /** A partial update: the oplog entry carries NO document — resolution is
    * deferred to read-time lookup. */
  def updateDoc(id: Long, doc: String, tsMillis: Long = 0L): Long = synchronized {
    collection.put(row(id, doc))
    record(OperationType.UPDATE, id, None, tsMillis)
  }

  def replaceDoc(id: Long, doc: String, tsMillis: Long = 0L): Long = synchronized {
    collection.put(row(id, doc))
    record(OperationType.REPLACE, id, Some(doc), tsMillis) // replaces carry fullDocument
  }

  def deleteDoc(id: Long, tsMillis: Long = 0L): Long = synchronized {
    collection.remove(id)
    record(OperationType.DELETE, id, None, tsMillis) // documentKey only
  }

  /** Collection DROP: the change stream delivers a `drop` event followed by
    * an `invalidate` event and CLOSES — the documented invalidation
    * lifecycle. The drop surfaces as a `DropTableEvent` on the control path
    * (the reference's `common/event/DropTableEvent.java` family); any read
    * whose window crosses the invalidate position from below throws (that
    * stream is dead), and a new stream must be opened with
    * [[startAfter]](invalidate token) — [[resumeAfter]] explicitly REJECTS
    * the invalidate token, exactly as a real server does. Writes after the
    * drop implicitly recreate the collection (Mongo semantics) and keep the
    * oplog going for the startAfter successor. */
  def dropCollection(tsMillis: Long = 0L): ResumeToken = synchronized {
    require(invalidatePos.isEmpty, "collection already dropped (stream invalidated)")
    collection.clear()
    seq += 1 // the `drop` entry
    dropPos = Some(seq)
    ddlLog += ((seq, DropTableEvent(tableId)))
    seq += 1 // the `invalidate` entry
    val tok = ResumeToken.encode(tsMillis, seq)
    invalidatePos = Some(seq)
    invalidateTok = Some(tok)
    tok
  }

  private var dropPos: Option[Long] = None
  private var invalidatePos: Option[Long] = None
  private var invalidateTok: Option[ResumeToken] = None
  private val ddlLog = scala.collection.mutable.ArrayBuffer.empty[(Long, SchemaChangeEvent)]

  def invalidateToken: Option[ResumeToken] = synchronized(invalidateTok)
  def dropPosition: Option[Long] = synchronized(dropPos)

  /** One change-stream event as the SERVER delivers it — including the
    * `drop`/`invalidate` pair a dying stream ends with, which the
    * consumer-side [[readLog]] guard refuses to cross. This is the view
    * [[MongoServerDouble]] serializes onto the wire. */
  final case class StreamEvent(
      token: ResumeToken,
      tsMillis: Long,
      opType: String,
      id: Option[Long],
      fullDocument: Option[String])

  /** Everything after a position, in server order: data events (updates
    * resolved UPDATE_LOOKUP-style against the live collection), then —
    * if the collection was dropped inside the range — the `drop` and
    * `invalidate` events that close the stream. */
  def streamEventsAfter(fromExclusive: Long): Seq[StreamEvent] = synchronized {
    val data = oplog
      .filter(e => e.token.decodePosition > fromExclusive)
      .map { e =>
        val full = e.op match {
          case OperationType.INSERT | OperationType.REPLACE => e.fullDocument
          case OperationType.UPDATE => lookup(e.id)
          case OperationType.DELETE => None
        }
        StreamEvent(e.token, e.tsMillis, e.op.toString.toLowerCase, Some(e.id), full)
      }.toSeq
    val control = (dropPos, invalidatePos, invalidateTok) match {
      case (Some(d), Some(_), Some(tok)) if d > fromExclusive =>
        Seq(
          StreamEvent(ResumeToken.encode(tok.decodeTimestampMillis, d),
            tok.decodeTimestampMillis, "drop", None, None),
          StreamEvent(tok, tok.decodeTimestampMillis, "invalidate", None, None))
      case _ => Seq.empty
    }
    (data ++ control).sortBy(_.token.decodePosition)
  }

  // ---- token-level API (what a real resumed change stream uses) ------------

  /** The resume token at a monotone position (the checkpointed pair). */
  def tokenAt(offset: Long): Option[ResumeToken] = synchronized {
    oplog.find(_.token.decodePosition == offset).map(_.token)
  }

  /** The nearest data token AT OR BELOW a position — the resume identity
    * for offsets that are not data-event positions (timestamp startup,
    * control positions): resuming from scratch instead would page the
    * whole retained oplog on every read. */
  def tokenAtOrBefore(offset: Long): Option[ResumeToken] = synchronized {
    oplog.reverseIterator.find(_.token.decodePosition <= offset).map(_.token)
  }

  /** `resumeAfter(token)`: the entries strictly after the token — the
    * change-stream resumption primitive. Rejects the invalidate token (the
    * server does: an invalidated stream cannot be RESUMED, only restarted
    * with `startAfter`). */
  def resumeAfter(token: ResumeToken): Seq[LogRecord] = synchronized {
    require(!invalidateTok.contains(token),
      "cannot resumeAfter an invalidate token — open a new stream with startAfter")
    readLog(token.decodePosition, seq)
  }

  /** `startAfter(token)`: a NEW change stream positioned just past the
    * token — the only way to continue past an invalidate. */
  def startAfter(token: ResumeToken): Seq[LogRecord] = synchronized {
    readLog(token.decodePosition, seq)
  }

  // ---- ChangeSource SPI ----------------------------------------------------

  override def currentOffset: Long = synchronized(seq)

  override def snapshotRead(
      lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(collection.read(lo, hiExclusive))

  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      // a window crossing the invalidate position from UNDER the drop
      // belongs to a DEAD stream: that stream never saw the drop event. A
      // window entirely before it (history), starting at/after the
      // invalidate (startAfter successor), or starting AT the drop position
      // (the control-path resume: the stream parked at the drop, the driver
      // handled + acked the DropTableEvent, and the restarted stream is
      // logically the startAfter successor) is fine.
      (dropPos, invalidatePos) match {
        case (Some(d), Some(p)) =>
          require(fromExclusive >= d || toInclusive < p,
            s"change stream invalidated at position $p " +
              "(collection dropped): open a new stream with startAfter")
        case _ => ()
      }
      oplog
        .filter(e =>
          e.token.decodePosition > fromExclusive &&
            e.token.decodePosition <= toInclusive)
        .map { e =>
          val event = e.op match {
            case OperationType.INSERT =>
              DataChangeEvent.insert(tableId,
                Map[String, Any]("_id" -> e.id, "doc" -> e.fullDocument.get))
            case OperationType.REPLACE =>
              DataChangeEvent.replace(tableId,
                Map[String, Any]("_id" -> e.id, "doc" -> e.fullDocument.get))
            case OperationType.UPDATE =>
              // FullDocument.UPDATE_LOOKUP: resolve against the LIVE
              // collection — possibly newer than the event, possibly gone
              DataChangeEvent.update(tableId,
                Map[String, Any]("_id" -> e.id),
                Map[String, Any]("_id" -> e.id, "doc" -> lookup(e.id).orNull))
            case OperationType.DELETE =>
              // no before-image: the document key is all a delete carries
              DataChangeEvent.delete(tableId, Map[String, Any]("_id" -> e.id))
          }
          LogRecord(e.token.decodePosition, e.tsMillis, event)
        }
        .toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(collection.stats)

  /** the drop surfaces on the driver-cheap control path (scanning the data
    * log would trip the invalidation guard). */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    synchronized(LiveTable.firstDdlOffset(ddlLog, fromExclusive, toInclusive))

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    oplog.find(_.tsMillis >= ts).map(_.token.decodePosition - 1).getOrElse(seq)
  }
}
