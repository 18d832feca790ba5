package graft.sources.cdc

import graft.core._
import scala.collection.mutable

/** The keyed live table of an in-process change-source double: the rows a
  * snapshot chunk reads and the chunk splitter's key stats come from, the
  * database side that each double's write API mutates alongside its own log.
  * Rows are keyed by the table's one numeric primary key and kept in
  * insertion order. A table takes no lock of its own: its owner's monitor
  * guards every call.
  */
final class LiveTable(owner: String, schema: TableSchema, initialRows: Seq[Map[String, Any]]) {
  require(schema.primaryKeys.size == 1, s"$owner uses a single numeric PK")
  val pk: String = schema.primaryKeys.head

  private val rows = mutable.LinkedHashMap.empty[Long, Map[String, Any]]
  initialRows.foreach(put)

  def keyOf(row: Map[String, Any]): Long = LiveTable.keyOf(pk, row)
  def keyOfEvent(e: DataChangeEvent): Long = LiveTable.keyOfEvent(pk, e)

  def get(key: Long): Option[Map[String, Any]] = rows.get(key)
  def put(row: Map[String, Any]): Unit = rows(keyOf(row)) = row
  def remove(key: Long): Unit = rows.remove(key)
  def clear(): Unit = rows.clear()

  /** Applies one change as the database does, moving a row whose key
    * changed ([[LiveTable.movedFrom]]). Returns the key the change vacated:
    * a DELETE's key or a moved row's old key. */
  def apply(e: DataChangeEvent): Option[Long] =
    if (e.op == OperationType.DELETE) {
      val k = keyOf(e.before)
      rows.remove(k)
      Some(k)
    } else {
      val moved = LiveTable.movedFrom(pk, e)
      moved.foreach(rows.remove)
      rows(keyOf(e.after)) = e.after
      moved
    }

  /** The live row an UPDATE or DELETE replaces, found by its before key
    * (by its after key when it carries no before image): the full before
    * image a capture table records, whatever image the event carries. */
  def imageBefore(e: DataChangeEvent): Map[String, Any] = {
    val k = keyOf(if (e.before.nonEmpty) e.before else e.after)
    rows.getOrElse(k, throw new IllegalStateException(s"${e.op} of absent key $k"))
  }

  /** rows whose key ∈ [lo, hiExclusive) (None = unbounded), in insertion
    * order: [[ChangeSource.snapshotRead]]. The scan spells out
    * [[LiveTable.inChunk]]: it runs once per row on the snapshot path. */
  def read(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    rows.collect {
      case (k, row) if lo.forall(k >= _) && hiExclusive.forall(k < _) => row
    }.toSeq

  /** (min key, max key, row count): [[ChangeSource.keyStats]]. */
  def stats: (Option[Long], Option[Long], Long) =
    if (rows.isEmpty) (None, None, 0L)
    else (Some(rows.keys.min), Some(rows.keys.max), rows.size.toLong)
}

object LiveTable {
  /** `key` ∈ [lo, hiExclusive) (None = unbounded): the half-open chunk of
    * `ChunkSplitter.ChunkRange` and the reference's
    * `RecordUtils.splitKeyRangeContains` (key < end), so a key equal to a
    * chunk's end belongs to the next chunk. */
  def inChunk(key: Long, lo: Option[Long], hiExclusive: Option[Long]): Boolean =
    lo.forall(key >= _) && hiExclusive.forall(key < _)

  /** The numeric key in column `pk` of a row. STRING keys with numeric text
    * parse (the reference's values fixtures key on `col1` STRING = "1",
    * "2", ...). */
  def keyOf(pk: String, row: Map[String, Any]): Long = row(pk) match {
    case l: Long => l
    case i: Int => i.toLong
    case other =>
      try other.toString.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"non-numeric pk: column '$pk' has value '$other'")
      }
  }

  /** The key of a data event: it lives in `before` for a DELETE
    * (`DataChangeEvent.java` before/after contract). */
  def keyOfEvent(pk: String, e: DataChangeEvent): Long =
    keyOf(pk, if (e.op == OperationType.DELETE) e.before else e.after)

  /** The old key of a row an UPDATE or REPLACE moves: its before image names
    * another key. That key is removed before the after image lands (the
    * reference models a PK change as delete + insert), or a snapshot would
    * read a row the database no longer has. */
  def movedFrom(pk: String, e: DataChangeEvent): Option[Long] =
    if (e.op == OperationType.DELETE || !e.before.contains(pk)) None
    else Some(keyOf(pk, e.before)).filter(_ != keyOf(pk, e.after))

  /** The first schema change in `(fromExclusive, toInclusive]` of a log
    * that records each DDL at its own position:
    * [[ChangeSource.firstDdlOffset]]. */
  def firstDdlOffset(
      ddl: Iterable[(Long, SchemaChangeEvent)],
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] =
    ddl.find { case (o, _) => o > fromExclusive && o <= toInclusive }
      .map { case (o, e) => (o, Seq(e)) }
}
