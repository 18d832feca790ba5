package graft.sources.tidb

import graft.core._
import graft.sources.cdc.{ChangeSource, LiveTable, LogRecord}

/** The TiKV-CDC family through the same [[ChangeSource]] SPI as the other
  * source families — the WATERMARK-SORTED architecture (reference:
  * `flink-connector-tidb-cdc/.../TiKVRichParallelSourceFunction.java:89-92`
  * keeps `prewrites`/`commits` TreeMaps and `:264-270` flushes commits up
  * to the resolved ts; the vendored `org/tikv/cdc/CDCClient.java:60-61,
  * 120-125` tracks per-region resolved timestamps): change events arrive
  * PER REGION and OUT OF COMMIT-TS ORDER, as raw Percolator two-phase rows
  * — PREWRITE (buffered), COMMIT (emittable), ROLLBACK (discard) — and
  * each region periodically emits a RESOLVED TS promising that no event
  * with `commitTs <= resolved` will ever arrive from it again. The reader
  * sorts buffered commits and emits them in commit-ts order once the
  * GLOBAL watermark — the MINIMUM resolved ts across regions — passes them.
  *
  * Family-distinct properties, asserted by the `c_tidb_resolved` gate and
  * spec:
  *  - '''A laggard region holds the watermark''' — commits far above the
  *    slowest region's resolved ts stay unemittable, however long ago they
  *    arrived; advancing the laggard releases them all, sorted.
  *  - '''Sorter''' — arrival order is arbitrary; emission is commit-ts
  *    order (the SPI offset packs `commitTs << 12 | rowSeq`, so multi-row
  *    transactions keep distinct monotone offsets).
  *  - '''Two-phase rows''' — a PREWRITE alone is invisible; ROLLBACK
  *    removes it; COMMIT stamps the commit ts and applies to the table.
  *  - '''The offset is a timestamp''' — resume replays every committed row
  *    in `(fromTs, toTs]`; restart after down-time writes + resolved
  *    advance replays exactly the missed window.
  */
final class TiCdcChangeSource(
    val tableId: TableId,
    initialSchema: TableSchema,
    initialRows: Seq[Map[String, Any]],
    initialRegions: Int = 3,
    /** region i initially owns keys [i*span, (i+1)*span), last unbounded. */
    val regionSpan: Long = 50L)
    extends ChangeSource {

  override def schema: TableSchema = initialSchema

  /** committed state — what snapshot chunks read. */
  private val table = new LiveTable("tikv source", initialSchema, initialRows)

  /** per-region key ranges [lo, hi), last unbounded — TiKV regions split
    * dynamically, so the topology is mutable state here. */
  private val ranges = scala.collection.mutable.ArrayBuffer.tabulate(initialRegions) { i =>
    (i * regionSpan, if (i == initialRegions - 1) Long.MaxValue else (i + 1) * regionSpan)
  }
  /** region → resolved ts (the per-region promise). */
  private val regionResolved =
    scala.collection.mutable.ArrayBuffer.fill(initialRegions)(0L)

  def regionCount: Int = synchronized(ranges.size)
  /** uncommitted prewrites: (region, startTs) → event. */
  private val prewrites =
    scala.collection.mutable.LinkedHashMap.empty[(Int, Long), DataChangeEvent]
  /** committed rows sorted by commit ts: packed (commitTs << 12 | seq) →
    * (ts wall clock, region, event). The sorter. */
  private val commits =
    scala.collection.mutable.TreeMap.empty[Long, (Long, Int, DataChangeEvent)]
  /** rows per commit ts, for the seq component of the packed offset. */
  private val rowsAtTs = scala.collection.mutable.Map.empty[Long, Int]

  def regionOf(key: Long): Int = synchronized {
    val i = ranges.indexWhere { case (lo, hi) => key >= lo && key < hi }
    require(i >= 0, s"key $key outside every region range")
    i
  }

  /** Split region `i`'s key range at `at` — a TiKV region split. The
    * CONTRAST with the Vitess reshard is the point: offsets here are
    * TIMESTAMPS, not per-region log positions, so a split needs no epoch in
    * the offset — but the WATERMARK must not regress: both children
    * INHERIT the parent's resolved ts (`CDCClient.java:199-223` re-seeds
    * the region→resolved map on region change). A child starting at 0
    * would drag the global min to 0 and stall emission forever; inheriting
    * keeps the promise intact, because everything at or below the parent's
    * resolved ts was already delivered or rejected. */
  def splitRegion(i: Int, at: Long): Unit = synchronized {
    require(i >= 0 && i < ranges.size, s"no region $i")
    val (lo, hi) = ranges(i)
    require(at > lo && at < hi, s"split point $at outside ($lo,$hi)")
    val inherited = regionResolved(i)
    ranges.update(i, (lo, at))
    ranges.insert(i + 1, (at, hi))
    regionResolved.insert(i + 1, inherited)
    // in-flight prewrites re-home to their key's owning region in the NEW
    // topology (their recorded indices just shifted)
    val rekeyed = prewrites.toSeq.map { case ((_, st), e) =>
      ((regionOf(table.keyOfEvent(e)), st), e)
    }
    prewrites.clear()
    rekeyed.foreach { case (k, e) => prewrites(k) = e }
  }

  /** Phase 1: the row lands in the region's CDC stream, uncommitted. */
  def prewrite(startTs: Long, e: DataChangeEvent): Unit = synchronized {
    val region = regionOf(table.keyOfEvent(e))
    require(!prewrites.contains((region, startTs)),
      s"duplicate prewrite (region $region, startTs $startTs)")
    prewrites((region, startTs)) = e
  }

  /** Phase 2a: COMMIT — stamps the commit ts, applies to the committed
    * table, and hands the row to the sorter. Rejected at or below the
    * region's resolved ts: the region PROMISED nothing earlier would
    * arrive (`CDCClient.handleResolvedTs`'s contract). */
  def commitRow(startTs: Long, commitTs: Long, tsMillis: Long = 0L): Unit = synchronized {
    val key = uniquePrewrite(startTs)
    val (region, _) = key
    require(commitTs > regionResolved(region),
      s"region $region already resolved past $commitTs (${regionResolved(region)}): " +
        "a commit below the resolved ts would break the watermark promise")
    require(commitTs > startTs, s"commitTs $commitTs must follow startTs $startTs")
    val e = prewrites.remove(key).get
    val seq = rowsAtTs.getOrElse(commitTs, 0)
    require(seq < 0xfff, s"too many rows at commitTs $commitTs")
    rowsAtTs(commitTs) = seq + 1
    commits((commitTs << 12) | (seq + 1).toLong) = (tsMillis, region, e)
    table(e)
  }

  /** Phase 2b: ROLLBACK — the prewrite vanishes. */
  def rollbackRow(startTs: Long): Unit = synchronized {
    prewrites.remove(uniquePrewrite(startTs))
  }

  /** TiKV identifies a two-phase row by (startTs, key); this double's
    * commit/rollback API carries only the startTs, so an AMBIGUOUS startTs
    * (same ts, different regions) must fail loudly — resolving it by map
    * iteration order would commit the wrong region's row. */
  private def uniquePrewrite(startTs: Long): (Int, Long) = {
    val matches = prewrites.keys.filter(_._2 == startTs).toSeq
    require(matches.size <= 1,
      s"ambiguous startTs $startTs across regions ${matches.map(_._1).sorted}: " +
        "the double's resolve-by-startTs API needs unique start timestamps")
    matches.headOption.getOrElse(
      throw new IllegalStateException(s"no prewrite with startTs $startTs"))
  }

  /** convenience: prewrite + immediate commit of a single row. */
  def writeCommitted(startTs: Long, commitTs: Long, e: DataChangeEvent,
      tsMillis: Long = 0L): Unit = {
    prewrite(startTs, e)
    commitRow(startTs, commitTs, tsMillis)
  }

  /** A region's resolved-ts heartbeat; only-forward. */
  def advanceResolved(region: Int, ts: Long): Unit = synchronized {
    require(ts >= regionResolved(region),
      s"resolved ts moves only forward (region $region: ${regionResolved(region)} -> $ts)")
    regionResolved(region) = ts
  }
  def advanceAllResolved(ts: Long): Unit =
    (0 until regionCount).foreach(advanceResolved(_, ts))

  /** the GLOBAL watermark: min across regions (`CDCClient.getMinResolvedTs`
    * — the only sound choice with multiple regions; a single-region
    * deployment degenerates to the max the flink function reads). */
  def globalResolvedTs: Long = synchronized(regionResolved.min)

  /** head = everything at or below the global watermark is emittable. */
  override def currentOffset: Long = synchronized((globalResolvedTs << 12) | 0xfffL)

  override def snapshotRead(lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] =
    synchronized(table.read(lo, hiExclusive))

  /** flushRows: committed rows in `(from, to]`, already commit-ts sorted by
    * the TreeMap. The window never exceeds the watermark, because the
    * runtime caps it at [[currentOffset]] — but guard anyway: emitting past
    * the promise would be the one unforgivable bug in this family. */
  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] =
    synchronized {
      val capped = math.min(toInclusive, currentOffset)
      commits.rangeImpl(Some(fromExclusive + 1), Some(capped + 1)).iterator.map {
        case (off, (ts, region, e)) =>
          LogRecord(off, ts, e.copy(meta = e.meta ++ Map(
            "commit_ts" -> (off >> 12).toString,
            "region" -> region.toString,
            "resolved_ts" -> globalResolvedTs.toString)))
      }.toSeq
    }

  override def keyStats: (Option[Long], Option[Long], Long) = synchronized(table.stats)

  override def offsetAtTimestamp(ts: Long): Long = synchronized {
    commits.collectFirst { case (off, (t, _, _)) if t >= ts => off - 1 }
      .getOrElse(currentOffset)
  }

  /** TiKV CDC is data-only (DDL flows through TiDB's schema version
    * mechanism, not the row streams): constant None, driver-cheap. */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] = None

  /** test probes */
  def pendingPrewriteCount: Int = synchronized(prewrites.size)
  def bufferedCommitCount: Int = synchronized(commits.size)
}
