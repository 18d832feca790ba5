package graft.sources.vitess

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** A Vitess-style VGtid: one GTID position PER SHARD of the keyspace, plus
  * the TOPOLOGY EPOCH the position vector is expressed in. The reference's
  * Vitess connector checkpoints exactly this composite
  * (`flink-connector-vitess-cdc/.../table/VitessTableSource.java` configures
  * the Debezium Vitess connector, whose offset is the VStream VGTID — a
  * `(keyspace, shard, gtid)` list); resuming means handing EACH shard its
  * own position back, not one global number. Shards are named by their
  * keyspace-id ranges (`-40`, `40-80`, ..., Vitess' hex convention), and a
  * RESHARD (shard split) starts a new epoch: Vitess journals the cut and
  * the new shards' streams begin at zero.
  */
final case class VGtid(positions: Vector[Long], epoch: Int = 0) {
  require(positions.nonEmpty && positions.size <= 4,
    s"packing supports 1-4 shards, got ${positions.size} — a fifth shard " +
      "would OR into the epoch bits")
  require(positions.forall(p => p >= 0 && p <= 0xfffL),
    s"per-shard gtid out of packing range: $positions")
  require(epoch >= 0 && epoch <= 0xff, s"epoch out of packing range: $epoch")

  /** Packed composite: 8-bit epoch above 4 × 12-bit shard positions. Within
    * an epoch any single-shard increment strictly increases the packed
    * value; a reshard bumps the epoch, which dominates — so offsets stay
    * monotone across topology changes while still DECODING back to
    * (epoch, per-shard positions): one comparable Long carrying an
    * epoch-stamped vector clock. */
  def packed: Long =
    (epoch.toLong << 48) |
      positions.zipWithIndex.foldLeft(0L) { case (acc, (g, i)) => acc | (g << (12 * i)) }

  def asString: String =
    s"e$epoch[" + positions.zipWithIndex.map { case (g, i) => s"$i:$g" }.mkString(",") + "]"
}

object VGtid {
  def zero(nShards: Int): VGtid = VGtid(Vector.fill(nShards)(0L))

  def epochOf(packed: Long): Int = ((packed >> 48) & 0xffL).toInt

  def unpack(packed: Long, nShards: Int): VGtid =
    VGtid(Vector.tabulate(nShards)(i => (packed >> (12 * i)) & 0xfffL), epochOf(packed))

  /** Vitess range-shard names: hex keyspace-id boundaries (`-40`, `40-80`,
    * `80-c0`, `c0-` for 4 shards). */
  def rangeNames(nShards: Int): Vector[String] = {
    val step = 0x100 / nShards
    Vector.tabulate(nShards) { i =>
      val lo = if (i == 0) "" else f"${i * step}%02x"
      val hi = if (i == nShards - 1) "" else f"${(i + 1) * step}%02x"
      s"$lo-$hi"
    }
  }
}

/** The sharded-keyspace family through the same [[ChangeSource]] SPI as the
  * other source families — the COMPOSITE-OFFSET architecture: the keyspace
  * is split across shards, each with its own independent binlog and GTID
  * sequence, and a VStream merges them with NO global order across shards
  * (only per-shard order — which suffices for correctness because rows live
  * on exactly one shard). Family-distinct properties, asserted by the
  * `c_vitess_vgtid` / `c_vitess_reshard` gates and spec:
  *
  *  - '''The offset IS a vector clock''' — the SPI's Long offset is the
  *    packed [[VGtid]]; checkpoint resume UNPACKS it and hands each shard
  *    its own position ([[readLog]] replays exactly each shard's tail, even
  *    with shards at wildly different positions).
  *  - '''Per-shard order, no global order''' — the merged stream preserves
  *    each shard's append order; cross-shard interleaving is arbitrary and
  *    correctness cannot depend on it.
  *  - '''Keyspace routing''' — writes route to the owning shard by key
  *    range (the VTGate role); a key's whole history lives on one shard.
  *  - '''Resharding journals a topology epoch''' — [[reshard]] splits one
  *    shard's key range in two; the cut lands in the journal (Vitess'
  *    JOURNAL event), the new shards' gtids start at zero, undisturbed
  *    shards KEEP their positions, and a resume from a PRE-reshard offset
  *    replays the old tail and then the new epoch's events — the epoch
  *    field in the packed offset is what keeps that ordering decodable.
  */
final class VStreamChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    initialShards: Int = 4,
    /** initial key range span per shard: shard i owns [i*span, (i+1)*span)
      * with the last shard unbounded above. */
    val shardSpan: Long = 40L)
    extends ChangeSource {

  require(initialShards >= 2 && initialShards <= 4, "packing supports 2-4 shards")

  override def schema: TableSchema = initialSchema

  /** current topology: per-shard key ranges [lo, hi), last unbounded. */
  private var ranges: Vector[(Long, Long)] =
    Vector.tabulate(initialShards) { i =>
      (i * shardSpan, if (i == initialShards - 1) Long.MaxValue else (i + 1) * shardSpan)
    }
  private var names: Vector[String] = VGtid.rangeNames(initialShards)
  private var epoch = 0
  /** per-shard gtid positions (current epoch's topology). */
  private var gtids: Vector[Long] = Vector.fill(initialShards)(0L)
  /** the keyspace's rows: a row lives on the one shard [[shardOf]] routes
    * its key to, so a reshard moves no row. */
  private val table = new LiveTable("vstream source", initialSchema, initialRows)
  initialRows.foreach(r => shardOf(table.keyOf(r))) // every row routes to a shard

  /** the merged journal: every event with the packed VGtid AFTER it, its
    * epoch, its shard index WITHIN that epoch, and its shard gtid. Packed
    * values are strictly increasing along it — within an epoch by the
    * vector-clock property, across epochs because the epoch field
    * dominates. */
  private final case class J(packed: Long, ts: Long, epoch: Int, shard: Int,
      gtid: Long, event: DataChangeEvent)
  private val journal = scala.collection.mutable.ArrayBuffer.empty[J]
  /** Vitess journal events: (new epoch, split shard name, new names, cut VGtid). */
  private val reshardJournalLog =
    scala.collection.mutable.ArrayBuffer.empty[(Int, String, Vector[String], VGtid)]

  /** VTGate routing: the shard owning a key in the CURRENT topology. */
  def shardOf(key: Long): Int = synchronized {
    val i = ranges.indexWhere { case (lo, hi) => key >= lo && key < hi }
    require(i >= 0, s"key $key outside every shard range")
    i
  }

  def nShards: Int = synchronized(ranges.size)
  def currentVGtid: VGtid = synchronized(VGtid(gtids, epoch))
  def shardNames: Vector[String] = synchronized(names)

  /** Split shard `i`'s key range — a Vitess reshard — at `at` (an operator
    * picks the split point from traffic in practice), defaulting to the
    * range midpoint. The cut is journaled at the pre-split VGtid, the two
    * new shards start at gtid 0, every other shard keeps its position, and
    * the topology epoch increments (which keeps packed offsets monotone
    * across the cut). */
  def reshard(i: Int, at: Option[Long] = None): Unit = synchronized {
    require(ranges.size < 4, "packing supports at most 4 shards")
    require(i >= 0 && i < ranges.size, s"no shard $i")
    val cut = VGtid(gtids, epoch)
    val (lo, hi) = ranges(i)
    val mid = at.getOrElse(
      if (hi == Long.MaxValue) lo + math.max(shardSpan / 2,
        (table.read(Some(lo), None).map(table.keyOf).foldLeft(lo)(math.max) - lo) / 2 + 1)
      else lo + (hi - lo) / 2)
    require(mid > lo && mid < hi, s"split point $mid outside ($lo,$hi)")
    val oldName = names(i)
    val newNames = Vector(s"${oldName}_a", s"${oldName}_b")
    ranges = (ranges.take(i) :+ ((lo, mid)) :+ ((mid, hi))) ++ ranges.drop(i + 1)
    names = (names.take(i) :+ newNames(0) :+ newNames(1)) ++ names.drop(i + 1)
    gtids = (gtids.take(i) :+ 0L :+ 0L) ++ gtids.drop(i + 1)
    epoch += 1
    require(epoch <= 0xff, "epoch overflowed the packing range")
    reshardJournalLog += ((epoch, oldName, newNames, cut))
  }

  /** Route one event to its owning shard, advance THAT shard's gtid, and
    * append to the merged journal. Cross-shard transactions do not exist in
    * this model (Vitess' default atomicity is single-shard). */
  def write(e: DataChangeEvent, tsMillis: Long = 0L): Long = synchronized {
    val shard = shardOf(table.keyOfEvent(e))
    // validate BEFORE mutating the live table: applying the change and
    // THEN throwing would leave snapshot state permanently divergent from
    // the journal — rows visible to snapshotRead that no readLog window
    // ever emits
    require(gtids(shard) + 1 <= 0xfffL,
      s"shard $shard gtid would overflow the packing range — the epoch " +
        "must reshard/rotate first")
    LiveTable.movedFrom(table.pk, e).foreach(old => require(shardOf(old) == shard,
      "a PK change crossing shards would be a resharding move, not a row update"))
    table(e)
    gtids = gtids.updated(shard, gtids(shard) + 1)
    val vg = VGtid(gtids, epoch)
    val wire = e.copy(meta = e.meta ++ Map(
      "shard" -> names(shard),
      "shard_gtid" -> gtids(shard).toString,
      "vgtid" -> vg.asString))
    journal += J(vg.packed, tsMillis, epoch, shard, gtids(shard), wire)
    vg.packed
  }

  override def currentOffset: Long = synchronized(VGtid(gtids, epoch).packed)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  /** Resume from a packed VGtid: events strictly after `from` and at or
    * before `to` in the epoch-stamped vector-clock order — an event is
    * after a VGtid iff its epoch is newer, or same-epoch and its shard's
    * gtid is past that shard's position. Equivalent to filtering the
    * journal by packed range (packed values are monotone along it), but
    * done in vector-clock terms to make the composite-resume contract
    * explicit — and the two views are cross-checked. A pre-reshard `from`
    * therefore replays the split shard's old tail FIRST, then the new
    * epoch's events. */
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      def after(j: J, mark: Long): Boolean = {
        val me = VGtid.epochOf(mark)
        j.epoch > me || (j.epoch == me && j.gtid > ((mark >> (12 * j.shard)) & 0xfffL))
      }
      val out = journal.collect {
        case j if after(j, fromExclusive) && !after(j, toInclusive) =>
          LogRecord(j.packed, j.ts, j.event)
      }.toSeq
      // the vector-clock view must agree with the packed-range view
      val byRange = journal.count(j => j.packed > fromExclusive && j.packed <= toInclusive)
      require(out.size == byRange,
        s"composite resume diverged from packed range: ${out.size} vs $byRange")
      out
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    // the position BEFORE the first qualifying event must itself be a valid
    // packed VGtid (a naive `packed - 1` would borrow across shard fields)
    val idx = journal.indexWhere(_.ts >= ts)
    if (idx < 0) currentOffset
    else if (idx == 0) 0L
    else journal(idx - 1).packed
  }

  /** VStream DDL (Vitess journals schema changes per shard) is out of scope
    * for the double: data-only, constant None, driver-cheap. */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] = None

  /** test probes */
  def journalCountsByShard: Vector[Int] = synchronized {
    Vector.tabulate(ranges.size)(i => journal.count(j => j.epoch == epoch && j.shard == i))
  }
  def reshardJournal: Seq[(Int, String, Vector[String], VGtid)] =
    synchronized(reshardJournalLog.toSeq)
}
