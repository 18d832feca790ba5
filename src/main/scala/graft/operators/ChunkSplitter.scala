package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot chunk splitting: port of the reference's
  * `flink-cdc-base/.../assigner/splitter/JdbcSourceChunkSplitter.java` and
  * `mysql/source/assigners/MySqlChunkSplitter.java` (`splitEvenlySizedChunks
  * :298`, `nextChunkEnd:335`, `getDynamicChunkSize:395`,
  * `calculateDistributionFactor:480`).
  *
  * A table is split into split-key ranges `[start, end)` (None = unbounded)
  * that become the `InputPartition`s of the DSv2 snapshot phase. The even
  * path computes a dynamic chunk size from the distribution factor
  * `(max - min + 1) / rowCount` when the split column is numeric and the
  * factor is within [`distributionFactorLower`, `distributionFactorUpper`]
  * (defaults 0.05 and 1000.0 per `MySqlDataSourceOptions.java:193-208`); the
  * uneven path probes per-chunk maxima with the reference's
  * `queryNextChunkMax` (inclusive lower bound) + `queryMin` fallback.
  *
  * The core is generic over the split-key type — INT/BIGINT/DECIMAL keys
  * even-split (`MySqlChunkSplitter.isEvenlySplitColumn`), everything else
  * (strings, composite leading keys) goes through the uneven probe.
  */
object ChunkSplitter {

  /** `[start, end)`; `None` = unbounded on that side (`ChunkRange.all()` = both None). */
  final case class ChunkRange(start: Option[Long], end: Option[Long]) {
    def predicate(keyCol: String): Column = (start, end) match {
      case (None, None) => lit(true)
      case (Some(s), None) => col(keyCol) >= s
      case (None, Some(e)) => col(keyCol) < e
      case (Some(s), Some(e)) => col(keyCol) >= s && col(keyCol) < e
    }
  }

  /** Generic chunk range over an arbitrary split-key type. */
  final case class KeyRange[K](start: Option[K], end: Option[K])

  final case class Config(
      chunkSize: Int = 8096, // scan.incremental.snapshot.chunk.size default
      distributionFactorUpper: Double = 1000.0,
      distributionFactorLower: Double = 0.05,
      /** `scan.incremental.snapshot.unbounded-chunk-first.enabled`: assign the
        * unbounded tail chunk first, so the largest (often still-growing)
        * key range snapshots before the bounded middle chunks.
        */
      assignUnboundedChunkFirst: Boolean = false)

  /** Split-key arithmetic/ordering — the `ObjectUtils.compare/plus/minus`
    * surface. `numeric` mirrors `isEvenlySplitColumn` (BIGINT, INT, DECIMAL
    * even-split; strings never do).
    */
  trait KeyOps[K] extends Ordering[K] {
    def numeric: Boolean
    /** `a - b` (numeric only; `ObjectUtils.minus`). */
    def minus(a: K, b: K): BigDecimal
    /** `k + delta`, throwing `ArithmeticException` on fixed-width overflow
      * (`ObjectUtils.plus` uses `Math.addExact`) — the even loop stops there.
      */
    def plus(k: K, delta: Int): K
  }

  object KeyOps {
    implicit object LongOps extends KeyOps[Long] {
      def numeric = true
      def minus(a: Long, b: Long): BigDecimal = BigDecimal(a) - BigDecimal(b)
      def plus(k: Long, delta: Int): Long = Math.addExact(k, delta.toLong)
      def compare(a: Long, b: Long): Int = java.lang.Long.compare(a, b)
    }
    implicit object IntOps extends KeyOps[Int] {
      def numeric = true
      def minus(a: Int, b: Int): BigDecimal = BigDecimal(a) - BigDecimal(b)
      def plus(k: Int, delta: Int): Int = Math.addExact(k, delta)
      def compare(a: Int, b: Int): Int = Integer.compare(a, b)
    }
    implicit object DecimalOps extends KeyOps[BigDecimal] {
      def numeric = true
      def minus(a: BigDecimal, b: BigDecimal): BigDecimal = a - b
      def plus(k: BigDecimal, delta: Int): BigDecimal = k + BigDecimal(delta)
      def compare(a: BigDecimal, b: BigDecimal): Int = a.compare(b)
    }
    implicit object StringOps extends KeyOps[String] {
      def numeric = false
      def minus(a: String, b: String): BigDecimal =
        throw new UnsupportedOperationException("non-numeric split key")
      def plus(k: String, delta: Int): String =
        throw new UnsupportedOperationException("non-numeric split key")
      def compare(a: String, b: String): Int = a.compareTo(b)
    }
  }

  /** Probe interface for the uneven path — the JDBC source issues
    * `SELECT MAX(pk) FROM (SELECT pk ... WHERE pk >= ? ORDER BY pk LIMIT n)`
    * (`StatementUtils.queryNextChunkMax` — INCLUSIVE lower bound, so
    * duplicate boundary keys count against the chunk) and
    * `SELECT MIN(pk) ... WHERE pk > ?` (`queryMin`).
    */
  trait KeyProbe[K] {
    /** max key among the first `chunkSize` keys `>= fromInclusive`. */
    def nextChunkMax(fromInclusive: K, chunkSize: Int): Option[K]
    /** smallest key strictly greater than `v`. */
    def minAfter(v: K): Option[K]
  }

  /** Long-key probe (the common fast path — kept source-compatible). */
  trait Probe extends KeyProbe[Long]

  /** `calculateDistributionFactor` (`MySqlChunkSplitter.java:480-505`):
    * `(max - min + 1) / rowCount` at scale 4, ROUND_CEILING.
    */
  def distributionFactorOf[K](min: K, max: K, rowCount: Long)(
      implicit ops: KeyOps[K]): Double =
    if (rowCount == 0) Double.MaxValue
    else
      (ops.minus(max, min) + 1).bigDecimal
        .divide(java.math.BigDecimal.valueOf(rowCount), 4, java.math.RoundingMode.CEILING)
        .doubleValue()

  /** `splitEvenlySizedChunks` (`MySqlChunkSplitter.java:298-333`): tumble from
    * min in dynamic-chunk-size steps; arithmetic overflow of the key type
    * ends the loop (the reference catches `ArithmeticException` from
    * `Math.addExact`). With `unboundedFirst`, the ending split moves to the
    * head of the assignment order (`MySqlSnapshotSplitAssigner.java:324-327`).
    */
  def splitEvenlySizedChunksOf[K](
      min: K,
      max: K,
      approximateRowCnt: Long,
      chunkSize: Int,
      dynamicChunkSize: Int,
      unboundedFirst: Boolean = false)(implicit ops: KeyOps[K]): Seq[KeyRange[K]] = {
    if (approximateRowCnt <= chunkSize) return Seq(KeyRange(None, None))
    val splits = scala.collection.mutable.ArrayBuffer.empty[KeyRange[K]]
    var chunkStart: Option[K] = None
    var chunkEnd: Option[K] = Some(ops.plus(min, dynamicChunkSize))
    var overflowed = false
    while (!overflowed && chunkEnd.exists(ops.lteq(_, max))) {
      splits += KeyRange(chunkStart, chunkEnd)
      chunkStart = chunkEnd
      try chunkEnd = chunkEnd.map(ops.plus(_, dynamicChunkSize))
      catch { case _: ArithmeticException => overflowed = true }
    }
    val ending = KeyRange(chunkStart, None)
    if (unboundedFirst) ending +: splits.toSeq else splits.toSeq :+ ending
  }

  /** `splitUnevenlySizedChunks` (`JdbcSourceChunkSplitter.java:482-510`). */
  def splitUnevenlySizedChunksOf[K](
      probe: KeyProbe[K],
      min: K,
      max: K,
      chunkSize: Int)(implicit ops: KeyOps[K]): Seq[KeyRange[K]] = {
    val splits = scala.collection.mutable.ArrayBuffer.empty[KeyRange[K]]
    var chunkStart: Option[K] = None
    var chunkEnd: Option[K] = nextChunkEndOf(probe, min, max, chunkSize)
    while (chunkEnd.isDefined) {
      splits += KeyRange(chunkStart, chunkEnd)
      chunkStart = chunkEnd
      chunkEnd = nextChunkEndOf(probe, chunkEnd.get, max, chunkSize)
    }
    splits += KeyRange(chunkStart, None)
    splits.toSeq
  }

  /** `nextChunkEnd` (`MySqlChunkSplitter.java:335-370`): the max of the next
    * `chunkSize` keys INCLUDING the previous boundary; a stalled boundary
    * (all `chunkSize` keys equal) falls forward to the next distinct key;
    * a boundary at or past max ends the table.
    */
  private def nextChunkEndOf[K](
      probe: KeyProbe[K], previous: K, max: K, chunkSize: Int)(
      implicit ops: KeyOps[K]): Option[K] = {
    var end = probe.nextChunkMax(previous, chunkSize)
    if (end.contains(previous)) end = probe.minAfter(previous)
    end.filter(ops.lt(_, max))
  }

  /** `trySplitAllEvenlySizedChunks` + `getDynamicChunkSize`
    * (`MySqlChunkSplitter.java:227-253,395-445`): the full decision —
    * empty/single-key table → one full chunk; numeric key with the factor in
    * bounds → arithmetic split; otherwise → uneven probing.
    */
  def generateSplitsOf[K](
      min: Option[K],
      max: Option[K],
      approximateRowCnt: Long,
      config: Config,
      probe: KeyProbe[K])(implicit ops: KeyOps[K]): Seq[KeyRange[K]] = (min, max) match {
    case (None, _) | (_, None) => Seq(KeyRange(None, None))
    case (Some(mn), Some(mx)) if ops.equiv(mn, mx) => Seq(KeyRange(None, None))
    case (Some(mn), Some(mx)) =>
      val even = ops.numeric && {
        val factor = distributionFactorOf(mn, mx, approximateRowCnt)
        factor >= config.distributionFactorLower && factor <= config.distributionFactorUpper
      }
      if (even) {
        val factor = distributionFactorOf(mn, mx, approximateRowCnt)
        val dynamicChunkSize = math.max((factor * config.chunkSize).toInt, 1)
        splitEvenlySizedChunksOf(
          mn, mx, approximateRowCnt, config.chunkSize, dynamicChunkSize,
          config.assignUnboundedChunkFirst)
      } else {
        splitUnevenlySizedChunksOf(probe, mn, mx, config.chunkSize)
      }
  }

  def generateSplits(
      min: Option[Long],
      max: Option[Long],
      approximateRowCnt: Long,
      config: Config,
      probe: KeyProbe[Long]): Seq[ChunkRange] =
    generateSplitsOf(min, max, approximateRowCnt, config, probe)
      .map(r => ChunkRange(r.start, r.end))

  /** Stats + probe backed by a DataFrame (parquet snapshot analog of
    * `analyzeTable`). Each chunk read pushes its range predicate to the scan.
    */
  def analyze(df: DataFrame, keyCol: String): (Option[Long], Option[Long], Long) = {
    val row = df.agg(
      min(col(keyCol)).cast("long"),
      max(col(keyCol)).cast("long"),
      count(lit(1))).head()
    (
      if (row.isNullAt(0)) None else Some(row.getLong(0)),
      if (row.isNullAt(1)) None else Some(row.getLong(1)),
      row.getLong(2))
  }

  def dataFrameProbe(df: DataFrame, keyCol: String): Probe = new Probe {
    def nextChunkMax(fromInclusive: Long, chunkSize: Int): Option[Long] = {
      val rows = df
        .filter(col(keyCol) >= fromInclusive)
        .select(col(keyCol).cast("long"))
        .orderBy(col(keyCol))
        .limit(chunkSize)
        .agg(max(col(keyCol)))
        .head()
      if (rows.isNullAt(0)) None else Some(rows.getLong(0))
    }
    def minAfter(v: Long): Option[Long] = {
      val row = df.filter(col(keyCol) > v).agg(min(col(keyCol)).cast("long")).head()
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
  }

  /** In-memory probe over a key multiset — duplicates count against the
    * chunk budget exactly like the SQL `LIMIT chunkSize` form.
    */
  def seqProbe[K](keys: Seq[K])(implicit ops: KeyOps[K]): KeyProbe[K] = new KeyProbe[K] {
    private val sorted = keys.sorted(ops)
    def nextChunkMax(fromInclusive: K, chunkSize: Int): Option[K] = {
      val next = sorted.iterator.filter(ops.gteq(_, fromInclusive)).take(chunkSize).toSeq
      if (next.isEmpty) None else Some(next.max(ops))
    }
    def minAfter(v: K): Option[K] = sorted.find(ops.gt(_, v))
  }

  /** Coalesce adjacent chunk ranges into at most `maxGroups` coarse ranges.
    * Splitter output is contiguous (each chunk starts where the previous
    * ended), so a group of adjacent chunks IS a range: (first.start,
    * last.end). This is the batch analog of the streaming source's
    * `chunksPerBatch` batching — chunk granularity is the unit of assignment
    * and recovery, not of plan branching.
    */
  def coalesceRanges(chunks: Seq[ChunkRange], maxGroups: Int): Seq[ChunkRange] =
    if (chunks.size <= maxGroups) chunks
    else {
      // coalescing [a,b) + [b,c) -> [a,c) is lossless ONLY for contiguous
      // input; a filtered subset (e.g. retrying failed ranges) must pass
      // through untouched rather than silently absorb the gaps
      val contiguous = chunks.sliding(2).forall {
        case Seq(a, b) => a.end.isDefined && a.end == b.start
        case _ => true
      }
      if (!contiguous) chunks
      else {
        val perGroup = math.ceil(chunks.size.toDouble / maxGroups).toInt
        chunks.grouped(perGroup).map(g => ChunkRange(g.head.start, g.last.end)).toSeq
      }
    }

  /** Read a table as the union of its chunks — the batch-snapshot form of the
    * DSv2 source's phase 1. Chunk predicates reach the parquet scan as
    * `PushedFilters`, so each chunk reads only its row-group range.
    *
    * The union is capped at `maxBranches` plan branches (adjacent ranges
    * coalesce losslessly): a 100 TB table splits into millions of chunks, and
    * a million-branch `Union` is a driver-side planning death — the branch
    * count must be O(parallelism), never O(table size).
    */
  def unionOfChunks(
      df: DataFrame,
      keyCol: String,
      chunks: Seq[ChunkRange],
      maxBranches: Int = 32): DataFrame =
    coalesceRanges(chunks, maxBranches)
      .map(c => df.filter(c.predicate(keyCol)))
      .reduce(_ union _)
}
