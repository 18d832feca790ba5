package graft.sources.postgres

import graft.core._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The `pgoutput` logical-replication BINARY protocol — PostgreSQL's native
  * output plugin (the one Debezium's postgres connector speaks;
  * `flink-cdc-connect/flink-cdc-source-connectors/flink-connector-postgres-cdc`
  * configures `plugin.name=pgoutput`), decoded from the PUBLICLY DOCUMENTED
  * message formats (PostgreSQL docs, "Logical Streaming Replication
  * Protocol" §55.5, protocol version 1):
  *
  *  - `Begin`  'B': final LSN (i64), commit ts (i64, µs since 2000-01-01), xid (i32)
  *  - `Commit` 'C': flags (i8), commit LSN (i64), end LSN (i64), commit ts (i64)
  *  - `Relation` 'R': relid (i32), namespace (cstr), name (cstr),
  *    replica identity (i8), ncols (i16), then per column:
  *    flags (i8, bit0 = key), name (cstr), type oid (i32), typmod (i32)
  *  - `Insert` 'I': relid (i32), 'N', TupleData
  *  - `Update` 'U': relid (i32), optional 'K'|'O' + old TupleData, 'N' + new TupleData
  *  - `Delete` 'D': relid (i32), 'K'|'O', old TupleData
  *  - TupleData: ncols (i16), per column: 'n' (null) | 'u' (unchanged
  *    TOAST, not sent) | 't' + len (i32) + text-format bytes
  *
  * Why this matters beyond [[Wal2Json]]: wal2json is an optional contrib
  * plugin; `pgoutput` is what a stock PostgreSQL server streams. The decoder
  * is STATEFUL the way the protocol is — `Relation` messages name the
  * columns once and data messages reference the relid, so a capture replayed
  * from a checkpoint must re-ship relation metadata (the server does this
  * after every restart; the decoder errors loudly on an unknown relid
  * instead of guessing).
  *
  * Values arrive in text format; the relation's type oids drive conversion
  * to the event model's scalar types (int2/4/8 → Long, float4/8 + numeric →
  * Double, bool → Boolean, else String) — the same lenient-typed maps the
  * wal2json path produces, so both capture formats feed one event model.
  */
object PgOutput {

  /** Microseconds between the Unix and PostgreSQL (2000-01-01) epochs. */
  private val PgEpochMillis = 946684800000L

  final case class RelCol(name: String, typeOid: Int, key: Boolean)
  final case class Relation(id: Int, tableId: TableId, cols: Seq[RelCol])

  // ---- type-oid value conversion (text format → event scalar) -------------

  private def fromText(oid: Int, s: String): Any = oid match {
    case 20 | 21 | 23 => s.toLong // int8 / int2 / int4
    case 700 | 701 | 1700 => s.toDouble // float4 / float8 / numeric
    case 16 => s == "t" // bool
    case _ => s
  }

  private def oidFor(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => 20
      case IntegerType | ShortType => 23
      case DoubleType | FloatType => 701
      case _: DecimalType => 1700
      case BooleanType => 16
      case _ => 25 // text
    }
  }

  private def toText(v: Any): String = v match {
    case b: Boolean => if (b) "t" else "f"
    case other => other.toString
  }

  // ---- decoder -------------------------------------------------------------

  /** Stateful decoder: feed messages in stream order; a completed transaction
    * pops out at its Commit. Interleaving is impossible by protocol (pgoutput
    * serializes transactions at commit time), so one in-flight buffer is the
    * correct shape, and a Begin inside an open transaction errors.
    */
  final class Decoder {
    private val relations = mutable.Map.empty[Int, Relation]
    // (xid, changes, in-stream DDL — truncates)
    private var open: Option[(Long, mutable.Buffer[DataChangeEvent], mutable.Buffer[SchemaChangeEvent])] = None

    def feed(msg: Array[Byte]): Option[Wal2Json.Tx] = {
      val b = ByteBuffer.wrap(msg).order(ByteOrder.BIG_ENDIAN)
      (b.get().toChar: @unchecked) match {
        case 'B' =>
          require(open.isEmpty, "pgoutput Begin inside an open transaction")
          b.getLong() // final LSN of the tx (Commit carries the positions we keep)
          b.getLong() // commit ts (repeated in Commit)
          val xid = b.getInt().toLong
          open = Some((xid, mutable.Buffer.empty, mutable.Buffer.empty))
          None
        case 'C' =>
          val (xid, changes, ddl) = open.getOrElse(
            throw new IllegalArgumentException("pgoutput Commit without Begin"))
          b.get() // flags (unused, always 0 in v1)
          b.getLong() // commit LSN
          val endLsn = b.getLong()
          val tsMillis = b.getLong() / 1000L + PgEpochMillis
          open = None
          Some(Wal2Json.Tx(Some(Lsn(endLsn)), xid, tsMillis, changes.toSeq, ddl.toSeq))
        case 'R' =>
          val relid = b.getInt()
          val ns = cstr(b); val name = cstr(b)
          b.get() // replica identity
          val n = b.getShort().toInt
          val cols = (0 until n).map { _ =>
            val flags = b.get(); val cn = cstr(b); val oid = b.getInt(); b.getInt() // typmod
            RelCol(cn, oid, (flags & 1) != 0)
          }
          relations(relid) = Relation(relid, TableId.parse(s"$ns.$name"), cols)
          None
        case 'I' =>
          val rel = relation(b.getInt())
          val tag = b.get().toChar
          require(tag == 'N', s"pgoutput Insert expects new tuple, got '$tag'")
          buffered += DataChangeEvent.insert(rel.tableId, tuple(b, rel, keyOnly = false))
          None
        case 'U' =>
          val rel = relation(b.getInt())
          var tag = b.get().toChar
          val old: Map[String, Any] = tag match {
            case 'K' => val t = tuple(b, rel, keyOnly = true); tag = b.get().toChar; t
            case 'O' => val t = tuple(b, rel, keyOnly = false); tag = b.get().toChar; t
            case _ => Map.empty // default replica identity: no old image at all
          }
          require(tag == 'N', s"pgoutput Update expects new tuple, got '$tag'")
          buffered += DataChangeEvent.update(rel.tableId, old, tuple(b, rel, keyOnly = false))
          None
        case 'D' =>
          val rel = relation(b.getInt())
          val tag = b.get().toChar
          require(tag == 'K' || tag == 'O', s"pgoutput Delete expects old tuple, got '$tag'")
          buffered += DataChangeEvent.delete(rel.tableId, tuple(b, rel, keyOnly = tag == 'K'))
          None
        case 'T' =>
          // Truncate: Int32 nrelations, Int8 options (1=CASCADE, 2=RESTART
          // IDENTITY), Int32[] relation OIDs. A stock server with TRUNCATE
          // in the publication sends this (reference models it as
          // `common/event/TruncateTableEvent.java`); it rides the tx like
          // data and pops out in Tx.ddl at Commit. Unknown relids still
          // fail loudly — Relation metadata must have been shipped.
          val n = b.getInt()
          b.get() // option bits: row-identity semantics, not event identity
          val ddl = open.getOrElse(throw new IllegalArgumentException(
            "pgoutput Truncate outside a transaction"))._3
          (0 until n).foreach(_ => ddl += TruncateTableEvent(relation(b.getInt()).tableId))
          None
        case 'O' | 'Y' | 'M' =>
          // benign protocol frames a real replication setup emits: Origin
          // (replication origin of the tx), Type (type metadata for custom
          // oids), Message (logical decoding message). None carries change
          // or schema content this event model consumes — skipped, where
          // they previously killed the decoder. Truly unknown frames (the
          // `case other` below) still fail loudly.
          None
        case other =>
          throw new IllegalArgumentException(s"unknown pgoutput message '$other'")
      }
    }

    /** Decode a whole capture (framed messages) into committed transactions. */
    def feedAll(msgs: Seq[Array[Byte]]): Seq[Wal2Json.Tx] = msgs.flatMap(feed)

    private def buffered: mutable.Buffer[DataChangeEvent] =
      open.getOrElse(throw new IllegalArgumentException(
        "pgoutput data message outside a transaction"))._2

    private def relation(id: Int): Relation = relations.getOrElse(id,
      throw new IllegalArgumentException(
        s"pgoutput data message for unknown relation $id (Relation not replayed?)"))

    /** `keyOnly` ('K' tuples): non-key columns arrive null by protocol —
      * keep only the key columns, the wal2json `oldkeys` shape. Unchanged
      * TOAST columns ('u') are NOT in the map at all: the value was not
      * sent, which is different from null. */
    private def tuple(b: ByteBuffer, rel: Relation, keyOnly: Boolean): Map[String, Any] = {
      val n = b.getShort().toInt
      require(n == rel.cols.size,
        s"tuple arity $n != relation ${rel.tableId} arity ${rel.cols.size}")
      val out = Map.newBuilder[String, Any]
      rel.cols.foreach { c =>
        (b.get().toChar: @unchecked) match {
          case 'n' => if (!keyOnly) out += c.name -> null
          case 'u' => () // unchanged toast: absent, not null
          case 't' =>
            val len = b.getInt(); val bytes = new Array[Byte](len); b.get(bytes)
            out += c.name -> fromText(c.typeOid, new String(bytes, UTF_8))
        }
      }
      out.result()
    }
  }

  private def cstr(b: ByteBuffer): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = b.get()
    while (c != 0) { sb.write(c); c = b.get() }
    new String(sb.toByteArray, UTF_8)
  }

  // ---- encoder (fixture serializer: the inverse, for captures) ------------

  private def buf(size: Int): ByteBuffer =
    ByteBuffer.allocate(size).order(ByteOrder.BIG_ENDIAN)

  private def finish(b: ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](b.position()); b.rewind(); b.get(out); out
  }

  private def putCstr(b: ByteBuffer, s: String): Unit = {
    b.put(s.getBytes(UTF_8)); b.put(0.toByte)
  }

  def encodeRelation(relid: Int, schema: TableSchema, tableId: TableId): Array[Byte] = {
    val b = buf(64 + schema.struct.fields.map(_.name.length + 16).sum)
    b.put('R'.toByte); b.putInt(relid)
    putCstr(b, tableId.schemaName); putCstr(b, tableId.tableName)
    b.put('d'.toByte) // replica identity default
    b.putShort(schema.struct.fields.length.toShort)
    schema.struct.fields.foreach { f =>
      b.put((if (schema.primaryKeys.contains(f.name)) 1 else 0).toByte)
      putCstr(b, f.name); b.putInt(oidFor(f.dataType)); b.putInt(-1)
    }
    finish(b)
  }

  private def encodeTuple(
      b: ByteBuffer, schema: TableSchema, row: Map[String, Any], keyOnly: Boolean): Unit = {
    b.putShort(schema.struct.fields.length.toShort)
    schema.struct.fields.foreach { f =>
      val v = if (keyOnly && !schema.primaryKeys.contains(f.name)) null
        else row.get(f.name).orNull
      if (v == null) b.put('n'.toByte)
      else {
        val bytes = toText(v).getBytes(UTF_8)
        b.put('t'.toByte); b.putInt(bytes.length); b.put(bytes)
      }
    }
  }

  /** Origin frame 'O': origin commit LSN + origin name — what a cascaded /
    * bidirectional replication setup stamps on forwarded transactions. */
  def encodeOrigin(originLsn: Lsn, name: String): Array[Byte] = {
    val b = buf(16 + name.length)
    b.put('O'.toByte); b.putLong(originLsn.value); putCstr(b, name)
    finish(b)
  }

  /** Type frame 'Y': type oid + qualified name — metadata for custom types. */
  def encodeType(oid: Int, namespace: String, name: String): Array[Byte] = {
    val b = buf(16 + namespace.length + name.length)
    b.put('Y'.toByte); b.putInt(oid); putCstr(b, namespace); putCstr(b, name)
    finish(b)
  }

  /** Message frame 'M': a `pg_logical_emit_message` payload. */
  def encodeMessage(
      transactional: Boolean, lsn: Lsn, prefix: String, content: Array[Byte]): Array[Byte] = {
    val b = buf(32 + prefix.length + content.length)
    b.put('M'.toByte); b.put((if (transactional) 1 else 0).toByte)
    b.putLong(lsn.value); putCstr(b, prefix)
    b.putInt(content.length); b.put(content)
    finish(b)
  }

  /** Truncate frame 'T' (goes between Begin and Commit like data frames). */
  def encodeTruncate(relids: Seq[Int], options: Byte = 0): Array[Byte] = {
    val b = buf(8 + 4 * relids.size)
    b.put('T'.toByte); b.putInt(relids.size); b.put(options)
    relids.foreach(b.putInt)
    finish(b)
  }

  /** A committed transaction containing ONE Truncate of `relid`:
    * Begin, 'T', Commit. */
  def encodeTruncateTx(
      relid: Int, finalLsn: Lsn, xid: Long, tsMillis: Long): Seq[Array[Byte]] = {
    val pgTs = (tsMillis - PgEpochMillis) * 1000L
    val begin = buf(21)
    begin.put('B'.toByte); begin.putLong(finalLsn.value); begin.putLong(pgTs)
    begin.putInt(xid.toInt)
    val commit = buf(26)
    commit.put('C'.toByte); commit.put(0.toByte)
    commit.putLong(finalLsn.value); commit.putLong(finalLsn.value); commit.putLong(pgTs)
    Seq(finish(begin), encodeTruncate(Seq(relid)), finish(commit))
  }

  /** One committed transaction as framed pgoutput messages:
    * Begin, data messages, Commit. Ship [[encodeRelation]] first (at least
    * once per decoder lifetime, as the server does after restart). */
  def encodeTx(
      relid: Int,
      schema: TableSchema,
      finalLsn: Lsn,
      xid: Long,
      tsMillis: Long,
      changes: Seq[DataChangeEvent]): Seq[Array[Byte]] = {
    val pgTs = (tsMillis - PgEpochMillis) * 1000L
    val begin = buf(21)
    begin.put('B'.toByte); begin.putLong(finalLsn.value); begin.putLong(pgTs)
    begin.putInt(xid.toInt)
    val commit = buf(26)
    commit.put('C'.toByte); commit.put(0.toByte)
    commit.putLong(finalLsn.value); commit.putLong(finalLsn.value); commit.putLong(pgTs)
    val data = changes.map { e =>
      val b = buf(512 + 64 * schema.struct.fields.length)
      e.op match {
        case OperationType.INSERT | OperationType.REPLACE =>
          b.put('I'.toByte); b.putInt(relid); b.put('N'.toByte)
          encodeTuple(b, schema, e.after, keyOnly = false)
        case OperationType.UPDATE =>
          b.put('U'.toByte); b.putInt(relid)
          if (e.before.nonEmpty) {
            b.put('K'.toByte); encodeTuple(b, schema, e.before, keyOnly = true)
          }
          b.put('N'.toByte); encodeTuple(b, schema, e.after, keyOnly = false)
        case OperationType.DELETE =>
          b.put('D'.toByte); b.putInt(relid); b.put('K'.toByte)
          encodeTuple(b, schema, e.before, keyOnly = true)
      }
      finish(b)
    }
    finish(begin) +: data :+ finish(commit)
  }
}
