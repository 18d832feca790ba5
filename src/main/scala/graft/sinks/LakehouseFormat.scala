package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import graft.pipeline.SchemaDerivator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** A minimal lakehouse TABLE FORMAT — an append-only commit log of
  * add/remove/meta/txn actions over immutable parquet data files — closing
  * the gap between [[ParquetMergeSink]]'s whole-table copy-on-write and what
  * the reference's Paimon/Iceberg sinks
  * (`flink-cdc-pipeline-connectors/flink-cdc-pipeline-connector-paimon/`,
  * `.../flink-cdc-pipeline-connector-iceberg/`) provide, built from public
  * table-format architecture (the Delta Lake log protocol paper's
  * add/remove/txn action model) with no external jars.
  *
  * What the log buys over a `_VERSION` pointer:
  *  - **File-granular MERGE**: data files are hash-bucketed by PK; a batch
  *    rewrites only the buckets its keys hash into. At 100 TB with 4096
  *    buckets, a 1%-of-keys batch rewrites ~1% of the table, not all of it.
  *  - **Snapshot isolation + time travel**: a reader replays the log up to a
  *    version and sees exactly that version's file set; concurrent writers
  *    never disturb it.
  *  - **Optimistic concurrency**: a commit claims `_log/<v>.json` with an
  *    atomic no-replace rename; the loser re-reads the snapshot and retries
  *    its merge against the winner's state.
  *  - **Atomic exactly-once batch tracking**: the streaming runner's
  *    (runId, batchId) rides IN the commit as a `txn` action — data and
  *    commit record are one atomic rename, so replay detection cannot desync
  *    from the data (the 2PC property the reference gets from Flink sink v2).
  *
  * Single-JVM scope note: atomic-no-replace rename is the commit primitive of
  * Delta on HDFS/ABFS; on S3 a production system swaps in a log-coordinator
  * (same protocol, different claim primitive). The plan shapes here carry over
  * unchanged.
  */
object LakehouseFormat {

  sealed trait Action

  /** Per-column zone map of one data file: min/max rendered as strings (the
    * declared column type drives the typed comparison at prune time). */
  final case class ColStats(min: String, max: String)

  final case class AddFile(
      path: String,
      bucket: Int,
      rows: Long,
      stats: Map[String, ColStats] = Map.empty,
      ver: Long = 0L, // commit version (sequence number)
      sorted: Boolean = false, // rows sorted by PK (compact writes)
      bloom: Boolean = false) extends Action // per-file bloom sidecar exists
  final case class RemoveFile(path: String) extends Action
  /** A MERGE-ON-READ delete file (Iceberg v2 equality deletes): a parquet of
    * PK values whose rows are dead in every data file committed BEFORE `ver`
    * (the sequence-number rule — data files re-added later are NOT masked,
    * so deleting then re-upserting a key behaves exactly like COW).
    * [[LakehouseTable.deleteWhere]] writes them; reads anti-join them;
    * [[LakehouseTable.compact]] materializes and drops them. */
  final case class EqualityDeleteFile(path: String, ver: Long = 0L) extends Action
  final case class Meta(
      schema: TableSchema,
      buckets: Int,
      changelog: Boolean = false,
      mergeEngine: String = "last-wins",
      aggregations: Map[String, String] = Map.empty,
      sequenceField: Option[String] = None,
      bloomColumns: Seq[String] = Seq.empty) extends Action
  final case class Txn(runId: String, batchId: Long) extends Action
  /** A row-level change-data file of one MERGE commit (Delta CDF's
    * `_change_data` / Paimon's changelog files): rows carry the declared
    * columns plus `_change_type` (insert / update_preimage /
    * update_postimage / delete). Never part of live table state — replay
    * ignores it; [[LakehouseTable.readChangelogBetween]] reads it. */
  final case class ChangeFile(path: String) extends Action

  final case class Snapshot(
      version: Long,
      meta: Option[Meta],
      files: Seq[AddFile],
      txns: Map[String, Long],
      deleteFiles: Seq[EqualityDeleteFile] = Seq.empty,
      /** Version at/after which `meta` is known to be in force: the commit
        * that carried the last Meta action, or the CHECKPOINT version when
        * the meta came from a checkpoint (a conservative upper bound — the
        * checkpoint does not record when its meta landed). A data file with
        * `ver >= metaVer` was provably written under `meta.schema`, which
        * lets reads pin that schema instead of running a per-read
        * `mergeSchema` footer-inference job (r19). `-1` = unknown. */
      metaVer: Long = -1L) {
    def schema: TableSchema = meta.getOrElse(
      throw new IllegalStateException("table has no meta action (not created)")).schema
    def buckets: Int = meta.map(_.buckets).getOrElse(16)
  }

  private val mapper = new ObjectMapper

  private[sinks] def encode(a: Action): String = {
    val root = mapper.createObjectNode()
    a match {
      case AddFile(p, b, r, stats, ver, sorted, bloom) =>
        val n = root.putObject("add"); n.put("path", p); n.put("bucket", b); n.put("rows", r)
        if (ver > 0) n.put("ver", ver) // absent = 0: legacy logs sort earliest
        if (sorted) n.put("sorted", true) // absent = false: merge-written files
        if (bloom) n.put("bloom", true) // absent = false: no sidecar index
        if (stats.nonEmpty) {
          val st = n.putObject("stats")
          stats.foreach { case (c, cs) =>
            val e = st.putObject(c); e.put("min", cs.min); e.put("max", cs.max)
          }
        }
      case RemoveFile(p) =>
        root.putObject("remove").put("path", p)
      case EqualityDeleteFile(p, ver) =>
        val n = root.putObject("eqdel"); n.put("path", p); n.put("ver", ver)
      case Meta(s, b, cl, me, aggs, sf, bloomCols) =>
        val n = root.putObject("meta")
        n.put("schemaJson", s.struct.json)
        val pks = n.putArray("pks"); s.primaryKeys.foreach(pks.add)
        if (s.partitionKeys.nonEmpty) { // absent = none: old logs decode fine
          val pk = n.putArray("partitionKeys"); s.partitionKeys.foreach(pk.add)
        }
        n.put("buckets", b)
        if (cl) n.put("changelog", true) // absent = false: old logs decode fine
        if (me != "last-wins") n.put("mergeEngine", me)
        if (aggs.nonEmpty) {
          val a = n.putObject("aggregations")
          aggs.foreach { case (c, f) => a.put(c, f) }
        }
        sf.foreach(n.put("sequenceField", _)) // absent = commit-order wins
        if (bloomCols.nonEmpty) {
          val bc = n.putArray("bloomColumns"); bloomCols.foreach(bc.add)
        }
      case Txn(run, batch) =>
        val n = root.putObject("txn"); n.put("runId", run); n.put("batchId", batch)
      case ChangeFile(p) =>
        root.putObject("cdc").put("path", p)
    }
    mapper.writeValueAsString(root)
  }

  private[sinks] def decode(line: String): Action = {
    val n = mapper.readTree(line)
    if (n.has("add")) {
      val a = n.get("add")
      val stats =
        if (!a.has("stats")) Map.empty[String, ColStats]
        else a.get("stats").fields().asScala.map { e =>
          e.getKey -> ColStats(e.getValue.get("min").asText, e.getValue.get("max").asText)
        }.toMap
      AddFile(a.get("path").asText, a.get("bucket").asInt, a.get("rows").asLong, stats,
        if (a.has("ver")) a.get("ver").asLong else 0L,
        a.has("sorted") && a.get("sorted").asBoolean,
        a.has("bloom") && a.get("bloom").asBoolean)
    } else if (n.has("remove")) RemoveFile(n.get("remove").get("path").asText)
    else if (n.has("eqdel")) {
      val d = n.get("eqdel")
      EqualityDeleteFile(d.get("path").asText, d.get("ver").asLong)
    }
    else if (n.has("meta")) {
      val m = n.get("meta")
      Meta(
        TableSchema(
          DataType.fromJson(m.get("schemaJson").asText).asInstanceOf[StructType],
          m.get("pks").elements.asScala.map(_.asText).toSeq,
          partitionKeys =
            if (!m.has("partitionKeys")) Seq.empty
            else m.get("partitionKeys").elements.asScala.map(_.asText).toSeq),
        m.get("buckets").asInt,
        m.has("changelog") && m.get("changelog").asBoolean,
        if (m.has("mergeEngine")) m.get("mergeEngine").asText else "last-wins",
        if (!m.has("aggregations")) Map.empty
        else m.get("aggregations").fields().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap,
        if (m.has("sequenceField")) Some(m.get("sequenceField").asText) else None,
        if (!m.has("bloomColumns")) Seq.empty
        else m.get("bloomColumns").elements.asScala.map(_.asText).toSeq)
    } else if (n.has("txn")) {
      val t = n.get("txn")
      Txn(t.get("runId").asText, t.get("batchId").asLong)
    } else if (n.has("cdc")) {
      ChangeFile(n.get("cdc").get("path").asText)
    } else throw new IllegalArgumentException(s"unknown lakehouse action: $line")
  }
}

/** One lakehouse table rooted at `dir` (log in `dir/_log`, data files in
  * per-commit subdirectories). All data-plane work is Spark jobs; the log
  * itself is metadata-plane — O(commits) tiny JSON files, independent of
  * data volume (a production deployment adds checkpoint compaction of the
  * log, which changes nothing about the action semantics).
  */
final class LakehouseTable(
    spark: SparkSession,
    val dir: String,
    collectStats: Boolean = true) {
  import LakehouseFormat._

  private val logDir: Path = Paths.get(dir, "_log")

  /** Jittered exponential backoff after losing a commit race, so N
    * simultaneous writers fan out in time instead of re-colliding every
    * round (a loser's retry re-runs its whole rewrite — at 8 writers the
    * no-backoff worst case burns every attempt in lockstep). Capped so a
    * long contention tail degrades to steady ~1 s polling, never minutes. */
  private def contentionBackoff(attempt: Int): Unit = {
    val cap = math.min(1000L, 50L << math.min(attempt, 10))
    Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(cap + 1))
  }

  private def logFile(v: Long): Path = logDir.resolve(f"$v%020d.json")

  private val commitName = """^(\d{20})\.json$""".r
  private val checkpointName = """^(\d{20})\.checkpoint\.json$""".r

  /** `Files.list`/`Files.walk` return RESOURCE-backed streams: unclosed,
    * each holds a directory fd until GC, and the snapshot()/commit hot
    * paths run several per micro-batch — enough to hit EMFILE on a
    * long-running stream under low GC pressure. Every directory listing
    * in this file goes through this bracket. */
  private def usingStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator.asScala) finally s.close()

  private def listLogNames(): Seq[String] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else usingStream(Files.list(logDir))(_.map(_.getFileName.toString).toSeq)

  private def listVersions(): Seq[Long] =
    listLogNames().collect { case commitName(v) => v.toLong }.sorted

  def latestVersion(): Long = listVersions().lastOption.getOrElse(-1L)

  /** Every `checkpointInterval` commits the full replayed state is written as
    * `<v>.checkpoint.json` (same action encoding as commits), so snapshot
    * cost is O(tail since last checkpoint), not O(all commits) — a streaming
    * sink committing every micro-batch would otherwise make log replay the
    * slow path after a few days. Checkpoint content is deterministic for a
    * version, so the write is an idempotent replace, not a claim.
    */
  val checkpointInterval: Int = 10

  private def latestCheckpoint(upTo: Option[Long]): Option[Long] =
    listLogNames().collect { case checkpointName(v) => v.toLong }
      .filter(v => upTo.forall(v <= _)).maxOption

  /** Returns true when the lines carried a Meta action (so the caller can
    * track the version the current meta landed at — see Snapshot.metaVer). */
  private def replayInto(
      lines: Iterable[String],
      meta: Array[Option[Meta]],
      files: scala.collection.mutable.LinkedHashMap[String, AddFile],
      txns: scala.collection.mutable.Map[String, Long],
      deletes: scala.collection.mutable.LinkedHashMap[String, EqualityDeleteFile]): Boolean = {
    var sawMeta = false
    lines.filter(_.nonEmpty).foreach {
      decode(_) match {
        case m: Meta => meta(0) = Some(m); sawMeta = true
        case a: AddFile => files(a.path) = a
        case RemoveFile(p) => files.remove(p); deletes.remove(p)
        case d: EqualityDeleteFile => deletes(d.path) = d
        case Txn(run, batch) => txns(run) = math.max(batch, txns.getOrElse(run, Long.MinValue))
        case _: ChangeFile => () // per-commit change data, never live state
      }
    }
    sawMeta
  }

  /** Replay the log up to and including `upTo` (default: latest), starting
    * from the newest eligible checkpoint. */
  def snapshot(upTo: Option[Long] = None): Snapshot = {
    upTo.foreach { u =>
      // an expired version has neither a commit chain nor a checkpoint at or
      // below it — replaying would silently return empty state
      val basis = (listLogNames().collect { case checkpointName(v) => v.toLong } ++
        listVersions()).minOption
      if (basis.exists(u < _) )
        throw new IllegalArgumentException(
          s"version $u of $dir is expired (oldest retained basis: ${basis.get})")
    }
    val ckpt = latestCheckpoint(upTo)
    val versions = listVersions()
      .filter(v => upTo.forall(v <= _) && ckpt.forall(v > _))
    val meta = Array[Option[Meta]](None)
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val deletes = scala.collection.mutable.LinkedHashMap.empty[String, EqualityDeleteFile]
    var metaVer = -1L
    ckpt.foreach { cv =>
      if (replayInto(
          Files.readAllLines(logDir.resolve(f"$cv%020d.checkpoint.json")).asScala,
          meta, files, txns, deletes))
        metaVer = cv // conservative: the meta landed at or before cv
    }
    versions.foreach { v =>
      if (replayInto(Files.readAllLines(logFile(v)).asScala, meta, files, txns, deletes))
        metaVer = v
    }
    Snapshot(
      versions.lastOption.orElse(ckpt).getOrElse(-1L), meta(0), files.values.toSeq,
      txns.toMap, deletes.values.toSeq, metaVer)
  }

  private def maybeCheckpoint(v: Long): Unit =
    if (v > 0 && v % checkpointInterval == 0)
      try writeCheckpoint(v)
      catch { case _: java.io.IOException => () } // best-effort; next one retries

  private def writeCheckpoint(v: Long): Unit = {
    val snap = snapshot(Some(v))
    val actions: Seq[Action] =
      snap.meta.toSeq ++ snap.files ++ snap.deleteFiles ++
        snap.txns.map { case (run, b) => Txn(run, b) }
    val tmp = Files.createTempFile(logDir, s"ckpt-$v-", ".tmp")
    Files.write(tmp, actions.map(encode).mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, logDir.resolve(f"$v%020d.checkpoint.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot expiry (Paimon `snapshot.num-retained` / Delta log retention):
    * bound the log to the last `keepLast` versions. A checkpoint is forced at
    * the oldest RETAINED version first — so replay always starts from
    * complete state — then older commit files and checkpoints are dropped.
    * Time travel to an expired version fails with a clear error instead of
    * silently replaying empty state; [[vacuum]] afterwards reclaims data
    * files only expired versions referenced. Returns the expired versions.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val versions = listVersions()
    if (versions.size <= keepLast) return Seq.empty
    val cutoff = versions(versions.size - keepLast)
    writeCheckpoint(cutoff) // throws on failure — never delete without a basis
    val expired = versions.filter(_ < cutoff)
    expired.foreach(v => Files.deleteIfExists(logFile(v)))
    listLogNames().collect { case checkpointName(v) if v.toLong < cutoff => v.toLong }
      .foreach(v => Files.deleteIfExists(logDir.resolve(f"$v%020d.checkpoint.json")))
    expired
  }

  /** Atomically claim version `v`: write a temp file, rename WITHOUT replace.
    * A concurrent winner makes the rename fail → caller re-snapshots and
    * retries (optimistic concurrency).
    */
  private def tryCommit(v: Long, actions: Seq[Action]): Boolean = {
    Files.createDirectories(logDir)
    val tmp = Files.createTempFile(logDir, s"commit-$v-", ".tmp")
    Files.write(tmp, actions.map(encode).mkString("\n").getBytes("UTF-8"))
    // The claim must be atomic CREATE-IF-ABSENT. A rename (Files.move
    // ATOMIC_MOVE) is rename(2) on POSIX, which silently REPLACES an
    // existing target — two simultaneous claimants of the same version
    // would both "win" and one commit file would clobber the other (data
    // loss: the clobbered commit's AddFiles vanish from the log). A hard
    // link to the fully-written temp file fails with
    // FileAlreadyExistsException atomically instead, and readers can never
    // observe a partially-written commit (the content exists before the
    // name does). Same-directory link, so no cross-filesystem concern.
    try {
      Files.createLink(logFile(v), tmp)
      Files.delete(tmp)
      maybeCheckpoint(v)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => Files.delete(tmp); false
    }
  }

  def create(
      schema: TableSchema,
      buckets: Int = 16,
      changelog: Boolean = false,
      mergeEngine: String = "last-wins",
      aggregations: Map[String, String] = Map.empty,
      sequenceField: Option[String] = None,
      bloomColumns: Seq[String] = Seq.empty): Unit = {
    // PK-less tables are legal append-only tables (Paimon's append mode);
    // merge() enforces keys at call time. `changelog = true` makes every
    // MERGE commit also write row-level change data (readChangelogBetween).
    // `mergeEngine` is a TABLE property, as in Paimon: `last-wins` replaces
    // the whole row per key; `partial-update` keeps, per column, the last
    // NON-NULL value (CDC wide-table assembly); `aggregate` folds the batch
    // into the old row per column with the functions in `aggregations`
    // (sum | max | min | hll — HLL-sketch union over BINARY sketch columns,
    // the mergeable approx-distinct), unlisted columns behaving
    // last-non-null — the metrics-rollup table.
    require(Seq("last-wins", "partial-update", "aggregate").contains(mergeEngine),
      s"unknown merge engine '$mergeEngine' (last-wins | partial-update | aggregate)")
    require(mergeEngine == "last-wins" || !changelog,
      "changelog is only supported with the last-wins engine: post-images " +
        "would need the combined row, not the batch row")
    require(mergeEngine == "aggregate" || aggregations.isEmpty,
      "aggregations require merge engine 'aggregate'")
    aggregations.foreach { case (c, f) =>
      require(Seq("sum", "max", "min", "hll", "bool_or", "bool_and").contains(f),
        s"unknown aggregation '$f' for column '$c' " +
          "(sum | max | min | hll | bool_or | bool_and)")
      require(schema.struct.fieldNames.contains(c) && !schema.primaryKeys.contains(c),
        s"aggregation column '$c' must be a non-key table column")
      if (f == "bool_or" || f == "bool_and") require(
        schema.struct.apply(c).dataType == org.apache.spark.sql.types.BooleanType,
        s"$f aggregation column '$c' must be BOOLEAN")
      // 'hll' folds Datasketches HLL sketches by union — the column stores
      // the mergeable sketch (BINARY), never raw values; writers aggregate
      // raw values into a sketch first (hll_sketch_agg), readers estimate
      // (hll_sketch_estimate). This is what keeps an approx-distinct rollup
      // incremental at 100 TB: distinct-counting is not distributive over
      // raw values, but sketch union is.
      if (f == "hll") require(
        schema.struct.apply(c).dataType == org.apache.spark.sql.types.BinaryType,
        s"hll aggregation column '$c' must be BINARY (a serialized HLL sketch)")
    }
    // `sequenceField` (Paimon's sequence.field): upserts of a key are won by
    // the row with the LARGEST value of this column, not by commit order —
    // late-arriving events with older sequence can never clobber newer state.
    // last-wins only (partial-update/aggregate fold commutatively), and not
    // with changelog (post-images would misreport an old-row win as new).
    sequenceField.foreach { sf =>
      require(mergeEngine == "last-wins",
        "sequenceField requires the last-wins engine")
      require(!changelog, "sequenceField cannot produce row-level changelog")
      require(schema.struct.fieldNames.contains(sf) && !schema.primaryKeys.contains(sf),
        s"sequence field '$sf' must be a non-key table column")
    }
    // `bloomColumns` (Delta's bloom filter index / Iceberg's parquet bloom
    // write-prop): every data file gets a sidecar bloom over these columns,
    // probed by point predicates where min/max zone maps cannot prune (high
    // cardinality scattered uniformly across files, e.g. a fingerprint).
    bloomColumns.foreach { c =>
      require(schema.struct.fieldNames.contains(c),
        s"bloom column '$c' is not a table column")
    }
    if (snapshot().meta.isEmpty &&
      !tryCommit(latestVersion() + 1,
        Seq(Meta(schema, buckets, changelog, mergeEngine, aggregations, sequenceField,
          bloomColumns))))
      create(schema, buckets, changelog, mergeEngine, aggregations, sequenceField,
        bloomColumns)
  }

  /** Commit arbitrary actions at the next version (retrying past losers of
    * the claim race). Metadata-plane helper for DDL paths. */
  def commit(actions: Seq[Action]): Unit =
    if (!tryCommit(snapshot().version + 1, actions)) commit(actions)

  /** Update table metadata (schema evolution): one metadata-only commit.
    * Bucket count, changelog flag, and merge engine carry over. */
  def updateMeta(schema: TableSchema): Unit = {
    val m = snapshot().meta
    commit(Seq(Meta(schema, m.map(_.buckets).getOrElse(16),
      m.exists(_.changelog), m.map(_.mergeEngine).getOrElse("last-wins"),
      m.map(_.aggregations).getOrElse(Map.empty),
      m.flatMap(_.sequenceField),
      m.map(_.bloomColumns).getOrElse(Seq.empty))))
  }

  /** Current (or time-traveled) contents. Missing columns in old files read
    * as null under the declared schema; remaining representation drift is
    * coerced (widening lattice) — coerce-on-read, rewrite never. Outstanding
    * equality-delete files apply as anti-joins ([[readData]]).
    */
  def read(version: Option[Long] = None): DataFrame = {
    val snap = snapshot(version)
    readData(snap, snap.files)
  }

  /** Read `keep` under `snap`'s schema with MERGE-ON-READ deletes applied:
    * a delete file masks keys only in data files committed BEFORE it
    * (`file.ver < delete.ver` — the Iceberg sequence-number rule), so a
    * later re-upsert survives. Files are cohorted by their applicable
    * delete set (cohort count ≤ distinct delete versions, a handful between
    * compactions) and each cohort anti-joins the union of its delete keys —
    * delete sets are batch-sized, so Spark broadcasts them.
    */
  private def readData(snap: Snapshot, keep: Seq[AddFile]): DataFrame = {
    val schema = snap.schema
    if (keep.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.struct)
    // Pinned-schema fast path (r19, measured with the b6/b5 probes): a file
    // whose `ver` is at or past the snapshot's `metaVer` was provably
    // written under the CURRENT schema, so when that holds for every kept
    // file the read schema comes from the log and the per-read `mergeSchema`
    // parquet footer-inference job (a distributed job per readData call —
    // every merge pays it when rewriting buckets) disappears. Any file
    // predating the last schema change keeps the mergeSchema path; values
    // are identical either way (the coerce to the latest schema runs in
    // both, and pre-change files only ever need widening/null-fill, which
    // the merged-footer union performed identically).
    def raw(fs: Seq[AddFile]): DataFrame = {
      val src =
        if (snap.metaVer >= 0 && fs.forall(_.ver >= snap.metaVer))
          spark.read.schema(schema.struct)
            .parquet(fs.map(f => Paths.get(dir, f.path).toString): _*)
        else
          spark.read.option("mergeSchema", "true")
            .parquet(fs.map(f => Paths.get(dir, f.path).toString): _*)
      SchemaDerivator.coerce(src, schema.struct)
    }
    val dels = snap.deleteFiles
    if (dels.isEmpty) raw(keep)
    else {
      val pks = schema.primaryKeys
      keep.groupBy(f => dels.filter(_.ver > f.ver).map(_.path)).toSeq
        .map {
          case (applicable, fs) if applicable.isEmpty => raw(fs)
          case (applicable, fs) =>
            val delKeys = spark.read
              .parquet(applicable.map(p => Paths.get(dir, p).toString): _*)
              .select(pks.map(col): _*).distinct()
            raw(fs).join(delKeys, pks, "left_anti")
        }
        .reduce(_ unionByName _)
    }
  }

  private def bucketOf(pks: Seq[String], buckets: Int) =
    pmod(hash(pks.map(col): _*), lit(buckets))

  private val bucketColName = "__graft_bucket"

  /** Bucket columns: PKs for merge tables, all columns for PK-less append
    * tables (content-hash spread keeps buckets balanced and deterministic). */
  private def bucketKeyCols(schema: TableSchema): Seq[String] =
    if (schema.primaryKeys.nonEmpty) schema.primaryKeys else schema.columnNames

  /** Copy-on-write MERGE, file-granular: only the PK-hash buckets touched by
    * this batch are rewritten. `txn` (runId, batchId) commits atomically with
    * the data; a batch whose id is already in the log is skipped entirely.
    */
  def merge(
      upserts: DataFrame,
      deletedKeys: DataFrame,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 8): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val snap = snapshot()
      val schema = snap.schema
      val pks = schema.primaryKeys
      require(pks.nonEmpty, "lakehouse MERGE requires primary keys; use append() for PK-less tables")
      if (txn.exists { case (run, b) => snap.txns.get(run).exists(_ >= b) }) {
        done = true // replayed batch: already committed atomically with its data
      } else {
        val coerced = SchemaDerivator.coerce(upserts, schema.struct)
        // ONE Spark action per merge collects every changed key with its
        // bucket. That result answers both questions the rewrite asks:
        // which buckets to rewrite, and which old rows to drop from them
        // (the left-anti join below builds on it as a local relation, so
        // the keys are neither aggregated nor shuffled a second time).
        // Driver memory: the collect is batch-sized — one row per changed
        // key, exactly what the broadcast build side of that anti-join
        // always materialized on the driver.
        val keys = coerced.select(pks.map(col): _*)
          .unionByName(deletedKeys.select(pks.map(col): _*))
        val changed = keys.withColumn(bucketColName, bucketOf(pks, snap.buckets)).collect()
        // nothing upserted or deleted: no files to write, so no version.
        // The batch's txn is not recorded either — replaying an empty batch
        // changes nothing.
        if (changed.isEmpty) return
        val touched = changed.map(_.getInt(pks.size)).toSet
        val changedKeys = spark.createDataFrame(
          changed.map(r => Row.fromSeq(r.toSeq.take(pks.size))).distinct.toSeq.asJava,
          keys.schema)
        val oldFiles = snap.files.filter(f => touched.contains(f.bucket))
        // readData applies outstanding MOR deletes: a key deleted by an
        // equality-delete file must not resurrect into the rewritten bucket
        val cur = if (oldFiles.isEmpty) None else Some(readData(snap, oldFiles))
        val kept = cur.map(_.join(broadcast(changedKeys), pks, "left_anti"))
        // the merge ENGINE decides what an upsert of an existing key means:
        //  - last-wins: the batch row replaces the whole old row
        //  - partial-update (Paimon's CDC wide-table assembly): per column,
        //    the batch's NON-NULL values overwrite, nulls keep the old value
        //  - aggregate: per column, fold batch into old with the table's
        //    aggregation (sum | max | min); unlisted columns last-non-null
        // Non-last-wins engines combine via a full-outer join of the
        // (batch-bounded) old rows of the upserted keys with the batch.
        val engine = snap.meta.map(_.mergeEngine).getOrElse("last-wins")
        val aggs = snap.meta.map(_.aggregations).getOrElse(Map.empty)
        val nonPk = schema.struct.fieldNames.toSeq.filterNot(pks.contains)
        // Non-last-wins engines fold intra-batch duplicate keys FIRST, with
        // the same per-column semantics as the cross-batch merge (Paimon's
        // aggregation engine folds within a batch too). Without this, two
        // increments for one key would each pair with the single old row in
        // the full_outer join below and emit two rows for one PK — the old
        // value double-counted. last-non-null columns have no defined order
        // WITHIN one batch, so conflicting non-null values raise loudly
        // instead of picking one nondeterministically; a single distinct
        // non-null value (the wide-table assembly case) folds fine.
        val batch = if (engine == "last-wins" || nonPk.isEmpty) coerced else {
          val fieldType = schema.struct.fields.map(f => f.name -> f.dataType).toMap
          val folds = nonPk.map { x =>
            val fold = (if (engine == "aggregate") aggs.get(x) else None) match {
              case Some("sum") => sum(col(x)).cast(fieldType(x))
              case Some("max") => max(col(x))
              case Some("min") => min(col(x))
              case Some("hll") => hll_union_agg(col(x))
              case Some("bool_or") => bool_or(col(x))
              case Some("bool_and") => bool_and(col(x))
              case _ =>
                when(count_distinct(col(x)) > 1, raise_error(concat(
                  lit(s"merge engine '$engine': column '$x' has conflicting " +
                    "non-null values within one batch for key ["),
                  concat_ws(",", pks.map(col): _*),
                  lit("] — intra-batch rows have no defined order; " +
                    "pre-combine them or split the batch"))))
                  .otherwise(first(col(x), ignoreNulls = true))
            }
            fold.as(x)
          }
          coerced.groupBy(pks.map(col): _*).agg(folds.head, folds.tail: _*)
            .select(schema.struct.fieldNames.toSeq.map(col): _*)
        }
        // sequence-field last-wins (Paimon's sequence.field): the winner per
        // key is the row with the LARGEST sequence value across the old row
        // and every batch row — late-arriving events with older sequence
        // never clobber newer state, and batches need not arrive in event
        // order. One hash aggregate over (old rows of upserted keys) ∪ batch:
        // max of (sequence, arrival, row) — arrival (old=0, batch=1) breaks
        // sequence ties toward the batch; the packed row makes the pick
        // total-ordered, hence deterministic. A null sequence loses to any
        // non-null one (nulls-first struct ordering). Deletes stay
        // positional: sequence governs upsert-vs-upsert only.
        val seqField = snap.meta.flatMap(_.sequenceField)
        val incoming = (engine, cur) match {
          case ("last-wins", curOpt) if seqField.isDefined =>
            val sf = seqField.get
            val withSrc = (df: DataFrame, src: Int) =>
              df.select(
                pks.map(col) :+
                  struct(col(sf).as("__s"), lit(src).as("__arrival"),
                    struct(schema.struct.fieldNames.map(col): _*).as("__row"))
                    .as("__packed"): _*)
            val upKeys = batch.select(pks.map(col): _*).distinct()
            val unioned = curOpt match {
              case Some(c) =>
                withSrc(c.join(broadcast(upKeys), pks, "left_semi"), 0)
                  .unionByName(withSrc(batch, 1))
              case None => withSrc(batch, 1)
            }
            unioned.groupBy(pks.map(col): _*).agg(max(col("__packed")).as("__m"))
              .select(col("__m.__row.*"))
          case ("partial-update" | "aggregate", Some(c)) =>
            val upKeys = batch.select(pks.map(col): _*).distinct()
            val o = c.join(broadcast(upKeys), pks, "left_semi")
              .select(pks.map(col) ++ nonPk.map(x => col(x).as(s"__o_$x")): _*)
            val n = batch
              .select(pks.map(col) ++ nonPk.map(x => col(x).as(s"__n_$x")): _*)
            def combined(x: String): org.apache.spark.sql.Column = {
              val oc = col(s"__o_$x"); val nc = col(s"__n_$x")
              (if (engine == "aggregate") aggs.get(x) else None) match {
                case Some("sum") =>
                  when(oc.isNull && nc.isNull, lit(null))
                    .otherwise(coalesce(oc, lit(0)) + coalesce(nc, lit(0)))
                case Some("max") => greatest(oc, nc) // null-ignoring by definition
                case Some("min") => least(oc, nc)
                case Some("hll") =>
                  when(oc.isNull, nc).when(nc.isNull, oc)
                    .otherwise(hll_union(oc, nc))
                case Some("bool_or") =>
                  when(oc.isNull, nc).when(nc.isNull, oc).otherwise(oc || nc)
                case Some("bool_and") =>
                  when(oc.isNull, nc).when(nc.isNull, oc).otherwise(oc && nc)
                case _ => coalesce(nc, oc) // last non-null
              }
            }
            o.join(n, pks, "full_outer")
              .select(pks.map(col) ++ nonPk.map(x => combined(x).as(x)): _*)
          case _ => batch
        }
        // Coerce the merged output BACK to the declared schema before the
        // write (r19): the aggregate engine's fold widens types (e.g.
        // decimal(18,2) + decimal(18,2) is decimal(19,2)), so without this
        // the written files drift from the declared schema and every later
        // read must heal the drift via the mergeSchema footer-inference job
        // + read-side coerce. Writing the declared types makes "files match
        // the snapshot schema" an invariant the pinned-schema read fast path
        // can rely on. Values are identical: the identical cast previously
        // ran at read time on exactly these cells.
        val next = SchemaDerivator.coerce(
          kept.map(_.unionByName(incoming)).getOrElse(incoming), schema.struct)

        // write the rewritten buckets as a new immutable commit directory.
        // CLUSTER BY BUCKET before the partitioned write (guide §6 / Iceberg
        // write.distribution-mode=hash): without the repartition every write
        // task holds rows of every touched bucket, so a commit emits
        // O(tasks × buckets) small files — measured 24 CPU-s per 100k-event
        // merge at local[32] (~1k files/commit) vs ~3.5 at 8 cpus; clustered,
        // the file count is O(touched buckets) regardless of parallelism and
        // every later read of the bucket opens one file per commit, not one
        // per task. The one extra exchange moves only the rewritten buckets'
        // rows — bounded by the COW rewrite itself, and at 100 TB it is the
        // shuffle that Iceberg/Delta deliberately pay to avoid the
        // many-small-files failure mode.
        val commitRel = s"data-${java.util.UUID.randomUUID().toString.take(12)}"
        val bucketCol = "__graft_bucket"
        next.withColumn(bucketCol, bucketOf(pks, snap.buckets))
          .repartition(col(bucketCol))
          .write.partitionBy(bucketCol)
          .parquet(Paths.get(dir, commitRel).toString)
        // sequence number: these files postdate every outstanding delete
        val adds = listCommitFiles(commitRel, bucketCol, snap.meta).map(_.copy(ver = snap.version + 1))
        // Row-level change data (Delta CDF / Paimon changelog-producer
        // shape), classified by LOOKUP against the touched buckets we scan
        // for the rewrite anyway: pre-images of updated keys, the old rows
        // of deleted keys, and the batch split into update_postimage vs
        // insert by whether an old row existed. Every join broadcasts the
        // batch-bounded side; the pre-image set is localCheckpointed (it is
        // <= batch-sized) so deriving the update-key set does not rescan
        // the buckets.
        val cdcRel = s"$commitRel-cdc"
        val ct = "_change_type"
        val cdcActions: Seq[Action] =
          if (!snap.meta.exists(_.changelog)) Seq.empty
          else {
            val changes = cur match {
              case None => coerced.withColumn(ct, lit("insert"))
              case Some(c) =>
                val upKeys = coerced.select(pks.map(col): _*).distinct()
                val delKeys = deletedKeys.select(pks.map(col): _*).distinct()
                val preUp = c.join(broadcast(upKeys), pks, "left_semi").localCheckpoint()
                val oldUpKeys = preUp.select(pks.map(col): _*)
                preUp.withColumn(ct, lit("update_preimage"))
                  .unionByName(c.join(broadcast(delKeys), pks, "left_semi")
                    .withColumn(ct, lit("delete")))
                  .unionByName(coerced.join(broadcast(oldUpKeys), pks, "left_semi")
                    .withColumn(ct, lit("update_postimage")))
                  .unionByName(coerced.join(broadcast(oldUpKeys), pks, "left_anti")
                    .withColumn(ct, lit("insert")))
            }
            changes.write.parquet(Paths.get(dir, cdcRel).toString)
            val root = Paths.get(dir, cdcRel)
            usingStream(Files.walk(root))(_
              .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
              .map(p => ChangeFile(Paths.get(dir).relativize(p).toString))
              .toSeq)
          }
        def actionsAt(v: Long): Seq[Action] =
          adds.map(_.copy(ver = v)) ++ oldFiles.map(f => RemoveFile(f.path)) ++
            cdcActions ++ txn.map { case (run, b) => Txn(run, b) }
        if (tryCommit(snap.version + 1, actionsAt(snap.version + 1))) done = true
        else {
          // Lost the claim race. Delta-style conflict detection decides
          // whether the rewrite is still valid against the winners' state:
          // if no interim commit changed the table metadata, the files of
          // OUR touched buckets, or the outstanding equality-delete set (a
          // new delete logically precedes us — re-committing would
          // resurrect its keys), the already-written files can re-claim the
          // next version directly. Only a REAL conflict pays the re-merge.
          var fast = true
          while (!done && fast) {
            val again = snapshot()
            val conflict = again.meta != snap.meta ||
              again.files.filter(f => touched.contains(f.bucket)).map(_.path).toSet !=
                oldFiles.map(_.path).toSet ||
              again.deleteFiles.map(_.path).toSet != snap.deleteFiles.map(_.path).toSet
            if (conflict) fast = false
            else if (tryCommit(again.version + 1, actionsAt(again.version + 1)))
              done = true
            else contentionBackoff(1)
          }
          if (!done) {
            // real conflict: discard our files, re-merge on the new state
            deleteRecursively(Paths.get(dir, commitRel))
            deleteRecursively(Paths.get(dir, cdcRel))
            if (attempt >= maxAttempts) throw new IllegalStateException(
              s"lakehouse commit contention: gave up after $maxAttempts attempts")
            contentionBackoff(attempt)
          }
        }
      }
    }
  }

  /** APPEND write, no merge: rows land as new files in their buckets without
    * touching existing files (Paimon's append-table mode — event logs, raw
    * document dumps). Buckets fragment one file per commit;
    * [[compact]] reclaims them. The `txn` action gives append tables the
    * same atomic exactly-once batch tracking as merge.
    */
  def append(
      df: DataFrame,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 8,
      overwrite: Boolean = false): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val snap = snapshot()
      if (txn.exists { case (run, b) => snap.txns.get(run).exists(_ >= b) }) {
        done = true // replayed batch
      } else {
        val coerced = SchemaDerivator.coerce(df, snap.schema.struct)
        val commitRel = s"data-${java.util.UUID.randomUUID().toString.take(12)}"
        coerced.withColumn(bucketColName, bucketOf(bucketKeyCols(snap.schema), snap.buckets))
          .write.partitionBy(bucketColName)
          .parquet(Paths.get(dir, commitRel).toString)
        val adds = listCommitFiles(commitRel, bucketColName, snap.meta)
          .map(_.copy(ver = snap.version + 1))
        // Delta-style OVERWRITE: the removes of the currently-live files ride
        // in the SAME commit as the adds — readers see the old table or the
        // new one, never an empty one, and a crash before the commit leaves
        // the previous output intact. Removes come from this retry's
        // snapshot, so losing a commit race re-targets the winner's files.
        val removes: Seq[Action] =
          if (overwrite) snap.files.map(f => RemoveFile(f.path)) else Seq.empty
        def actionsAt(v: Long): Seq[Action] =
          removes ++ adds.map(_.copy(ver = v)) ++ txn.map { case (run, b) => Txn(run, b) }
        if (actionsAt(0).isEmpty || tryCommit(snap.version + 1, actionsAt(snap.version + 1)))
          done = true
        else {
          // lost the claim race: a plain append never conflicts with other
          // appends (it removes nothing), so unless the metadata changed
          // (rescale — our bucket layout is stale) or this is an OVERWRITE
          // (whose removes target a stale file set), the written files
          // simply re-claim the next version
          var fast = !overwrite
          while (!done && fast) {
            val again = snapshot()
            if (again.meta != snap.meta) fast = false
            else if (tryCommit(again.version + 1, actionsAt(again.version + 1)))
              done = true
            else contentionBackoff(1)
          }
          if (!done) {
            deleteRecursively(Paths.get(dir, commitRel))
            if (attempt >= maxAttempts) throw new IllegalStateException(
              s"lakehouse commit contention: gave up after $maxAttempts attempts")
            contentionBackoff(attempt)
          }
        }
      }
    }
  }

  /** MERGE-ON-READ delete (Iceberg v2 equality deletes): write the keys as
    * a delete FILE — O(batch) — instead of rewriting the touched buckets
    * (COW, O(bucket)). Reads anti-join outstanding delete files against data
    * files committed before them (sequence rule: a later re-upsert of the
    * key survives, exactly as with COW); [[compact]] materializes the
    * deletes physically and drops the files. The read-side cost is one
    * broadcast anti-join per outstanding delete cohort — the classic
    * write-fast/read-slower MOR trade, chosen per batch: high-rate delete
    * streams use this path, occasional deletes keep [[merge]].
    *
    * Changelog-enabled tables refuse this path: row-level change data needs
    * the deleted rows' pre-images, which only the COW merge scan produces.
    *
    * DELETE vs merge engines — pinned semantics (LakehouseSpec): on
    * `aggregate` and `partial-update` tables a delete (this path or
    * `merge(deletedKeys)`) RETRACTS THE ENTIRE ROW — the rollup/assembly for
    * that key is dropped, and later upserts re-accumulate from scratch (the
    * sequence rule makes post-delete merges start with no old row). Paimon's
    * aggregation tables instead refuse retraction unless configured; we keep
    * deletes working because at 100 TB compliance deletes WILL arrive, and a
    * partial retraction (subtracting one contribution) is unexpressible —
    * the table stores only the fold, not the contributions.
    */
  def deleteWhere(
      keys: DataFrame,
      txn: Option[(String, Long)] = None,
      maxAttempts: Int = 8): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val snap = snapshot()
      val pks = snap.schema.primaryKeys
      require(pks.nonEmpty, "MOR delete requires primary keys")
      require(!snap.meta.exists(_.changelog),
        "MOR delete cannot produce changelog pre-images; use merge() on " +
          "changelog-enabled tables")
      if (txn.exists { case (run, b) => snap.txns.get(run).exists(_ >= b) }) {
        done = true // replayed batch
      } else {
        val delRel = s"eqdel-${java.util.UUID.randomUUID().toString.take(12)}"
        keys.select(pks.map(col): _*).distinct()
          .write.parquet(Paths.get(dir, delRel).toString)
        val delFiles = usingStream(Files.walk(Paths.get(dir, delRel)))(_
          .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
          .map(p => EqualityDeleteFile(
            Paths.get(dir).relativize(p).toString, snap.version + 1))
          .toSeq)
        val actions = delFiles ++ txn.map { case (run, b) => Txn(run, b) }
        if (tryCommit(snap.version + 1, actions)) done = true
        else {
          deleteRecursively(Paths.get(dir, delRel))
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"lakehouse commit contention: gave up after $maxAttempts attempts")
          contentionBackoff(attempt)
        }
      }
    }
  }

  /** Small-file compaction (Delta OPTIMIZE / Paimon compact): every bucket
    * fragmented into more than `maxFilesPerBucket` live files is rewritten to
    * ONE file, in one metadata commit. Data-identical — the same rows under
    * fewer, larger files — so time travel to pre-compaction versions still
    * replays the old file set until [[vacuum]] reclaims it. At 100 TB this is
    * the maintenance op that keeps per-bucket scan setup O(1) after long
    * append streams; only fragmented buckets are read or written.
    * Returns (filesBefore, filesAfter) over the compacted buckets.
    */
  def compact(
      maxFilesPerBucket: Int = 1,
      maxAttempts: Int = 8,
      full: Boolean = false): (Int, Int) = {
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = snapshot()
      // `full` (Paimon full compaction): also rewrite buckets whose files are
      // merely UNSORTED — after it, every bucket is one PK-clustered file and
      // the bucketed scan reports ordering (sort-free merge joins)
      val fragmented = snap.files.groupBy(_.bucket).filter { case (_, fs) =>
        fs.size > maxFilesPerBucket || (full && fs.exists(!_.sorted))
      }
      // outstanding MOR deletes also compact away: the buckets their keys
      // hash into rewrite WITH the deletes applied, and the delete files
      // drop — restoring zero read-time anti-join cost
      val delBuckets: Set[Int] =
        if (snap.deleteFiles.isEmpty) Set.empty
        else spark.read
          .parquet(snap.deleteFiles.map(d => Paths.get(dir, d.path).toString): _*)
          .select(bucketOf(snap.schema.primaryKeys, snap.buckets).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
      val buckets = fragmented.keySet ++ delBuckets
      if (buckets.isEmpty) {
        // key-less delete files (all their keys already absent) still drop
        if (snap.deleteFiles.nonEmpty)
          commit(snap.deleteFiles.map(d => RemoveFile(d.path)))
        return (0, 0)
      }
      val oldFiles = snap.files.filter(f => buckets.contains(f.bucket))
      val commitRel = s"compact-${java.util.UUID.randomUUID().toString.take(12)}"
      // readData applies the deletes during the rewrite
      val df = readData(snap, oldFiles)
      // repartition on the bucket tag: each bucket's rows land in one task →
      // exactly one output file per bucket directory. Rows sort by PK within
      // the bucket (clustering): compacted files carry sorted=true, which
      // the bucketed DSv2 scan reports as output ordering — merge joins over
      // two compacted tables then skip BOTH the shuffle and the sort.
      val sortCols = bucketColName +: snap.schema.primaryKeys
      df.withColumn(bucketColName, bucketOf(bucketKeyCols(snap.schema), snap.buckets))
        .repartition(col(bucketColName))
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.partitionBy(bucketColName)
        .parquet(Paths.get(dir, commitRel).toString)
      val adds = listCommitFiles(commitRel, bucketColName, snap.meta)
        .map(_.copy(ver = snap.version + 1, sorted = snap.schema.primaryKeys.nonEmpty))
      val removes = oldFiles.map(f => RemoveFile(f.path)) ++
        snap.deleteFiles.map(d => RemoveFile(d.path))
      if (tryCommit(snap.version + 1, adds ++ removes))
        return (oldFiles.size, adds.size)
      deleteRecursively(Paths.get(dir, commitRel))
      if (attempt >= maxAttempts) throw new IllegalStateException(
        s"lakehouse commit contention: gave up after $maxAttempts attempts")
      contentionBackoff(attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Z-ORDER clustering rewrite for append tables (Delta's OPTIMIZE ZORDER
    * BY): rewrite the table so each file holds one tile of the Z-curve over
    * `cols` — EVERY listed column's per-file [min,max] tightens at once, and
    * the existing zone maps prune range/point predicates on any of them,
    * not just a single sort prefix. Data-identical, one commit swaps the
    * file set, time travel intact (like [[compact]]).
    *
    * Mechanics: each column scales linearly to a 16-bit rank between its own
    * exact min/max (one metadata-sized aggregate; deterministic — a skewed
    * production table would use sampled quantile boundaries instead, same
    * plan shape), ranks bit-interleave into the Z-value, and the TOP bits of
    * the Z-value assign the file — quadrant tiling, so a file's rows form a
    * contiguous Z-tile whose per-column span shrinks with the file count.
    * Nulls rank 0 (they stay prunable-correct: stats simply widen to the
    * low edge). PK tables are refused — their hash-bucket layout is
    * load-bearing for merge; they cluster within buckets via [[compact]].
    * Returns the number of files written.
    */
  def zorderCompact(cols: Seq[String], targetFiles: Int = 0, maxAttempts: Int = 8): Int = {
    require(cols.size >= 2, "z-order needs at least two columns (one column = plain sort)")
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = snapshot()
      require(snap.schema.primaryKeys.isEmpty,
        "z-order clustering is for append tables; PK tables cluster within " +
          "their hash buckets via compact()")
      cols.foreach { c =>
        import org.apache.spark.sql.types._
        val dt = snap.schema.struct.apply(c).dataType
        require(dt.isInstanceOf[NumericType] || dt == DateType || dt == TimestampType ||
          dt == TimestampNTZType, s"z-order column '$c' must be orderable-numeric, got $dt")
      }
      if (snap.files.isEmpty) return 0
      val df = readData(snap, snap.files)
      val aggs = cols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"lo_$c"), max(col(c).cast("double")).as(s"hi_$c")))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val bitsPer = 16
      val n = cols.size
      val ranks = cols.zipWithIndex.map { case (c, i) =>
        // an all-null column has null min/max: every row ranks 0 (the
        // coalesce below), which is correct — not a crash
        val lo = if (r.isNullAt(2 * i)) 0.0 else r.getDouble(2 * i)
        val hi = if (r.isNullAt(2 * i + 1)) 0.0 else r.getDouble(2 * i + 1)
        val span = if (hi > lo) hi - lo else 1.0
        coalesce(
          least(lit(65535L), greatest(lit(0L),
            ((col(c).cast("double") - lit(lo)) / lit(span) * lit(65535.0)).cast("long"))),
          lit(0L))
      }
      // interleave: bit b of rank i lands at z-bit b*n+i; bits are disjoint
      // so the reduce-+ is a bitwise OR
      val zCol = (0 until bitsPer).flatMap(b => ranks.zipWithIndex.map { case (rk, i) =>
        shiftleft(shiftright(rk, b).bitwiseAND(lit(1L)), b * n + i)
      }).reduce(_ + _)
      val nFiles = math.max(1, if (targetFiles > 0) targetFiles else snap.files.size)
      val k = if (nFiles <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(nFiles - 1L)
      val shift = math.max(bitsPer * n - k, 0)
      val commitRel = s"zorder-${java.util.UUID.randomUUID().toString.take(12)}"
      df.withColumn("__graft_z", zCol)
        .withColumn(bucketColName, shiftright(col("__graft_z"), shift).cast("int"))
        .repartition(col(bucketColName))
        .sortWithinPartitions(col("__graft_z")) // row-group stats inside the file
        .drop("__graft_z")
        .write.partitionBy(bucketColName)
        .parquet(Paths.get(dir, commitRel).toString)
      val adds = listCommitFiles(commitRel, bucketColName, snap.meta).map(_.copy(ver = snap.version + 1))
      val removes = snap.files.map(f => RemoveFile(f.path)) ++
        snap.deleteFiles.map(d => RemoveFile(d.path))
      if (tryCommit(snap.version + 1, adds ++ removes)) return adds.size
      deleteRecursively(Paths.get(dir, commitRel))
      if (attempt >= maxAttempts) throw new IllegalStateException(
        s"lakehouse commit contention: gave up after $maxAttempts attempts")
      contentionBackoff(attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bucket-layout migration (Paimon rescale): rewrite the whole table into
    * `newBuckets` PK-hash buckets, committing the new `meta`, the new files,
    * and the removal of every old file atomically. The one whole-table
    * rewrite a lakehouse needs when data outgrows its bucket count; readers
    * time-traveling behind the rescale replay the OLD meta, so their bucket
    * arithmetic still matches the old files.
    */
  def rescaleBuckets(newBuckets: Int, maxAttempts: Int = 8): Unit = {
    require(newBuckets > 0, s"bucket count must be positive: $newBuckets")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val snap = snapshot()
      if (snap.buckets == newBuckets) return
      val commitRel = s"rescale-${java.util.UUID.randomUUID().toString.take(12)}"
      val adds = if (snap.files.isEmpty) Seq.empty else {
        // whole-table rewrite: outstanding MOR deletes materialize here too
        readData(snap, snap.files)
          .withColumn(bucketColName, bucketOf(bucketKeyCols(snap.schema), newBuckets))
          .repartition(col(bucketColName))
          .write.partitionBy(bucketColName)
          .parquet(Paths.get(dir, commitRel).toString)
        listCommitFiles(commitRel, bucketColName, snap.meta)
          .map(_.copy(ver = snap.version + 1))
      }
      val actions = Meta(snap.schema, newBuckets, snap.meta.exists(_.changelog),
        snap.meta.map(_.mergeEngine).getOrElse("last-wins"),
        snap.meta.map(_.aggregations).getOrElse(Map.empty),
        snap.meta.flatMap(_.sequenceField),
        snap.meta.map(_.bloomColumns).getOrElse(Seq.empty)) +:
        (adds ++ snap.files.map(f => RemoveFile(f.path)) ++
          snap.deleteFiles.map(d => RemoveFile(d.path)))
      if (tryCommit(snap.version + 1, actions)) done = true
      else {
        deleteRecursively(Paths.get(dir, commitRel))
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"lakehouse commit contention: gave up after $maxAttempts attempts")
        contentionBackoff(attempt)
      }
    }
  }

  private def listCommitFiles(commitRel: String, bucketCol: String,
      meta: Option[Meta]): Seq[AddFile] = {
    val root = Paths.get(dir, commitRel)
    val adds = usingStream(Files.walk(root))(_
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map { p =>
        val rel = Paths.get(dir).relativize(p).toString
        val bucket = p.getParent.getFileName.toString.stripPrefix(s"$bucketCol=").toInt
        AddFile(rel, bucket, -1L)
      }.toSeq)
    attachBlooms(attachStats(adds, meta), meta)
  }

  /** Columns that get zone maps: top-level orderable scalars. */
  private def statColumns(struct: StructType): Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    struct.fields.toSeq.filter(_.dataType match {
      case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType |
          BooleanType => true
      case _ => false
    })
  }

  /** Per-file min/max zone maps (Delta data-skipping stats): ONE aggregate
    * scan over just the newly written files, grouped by `input_file_name` —
    * cost proportional to the commit, not the table. Stats ride in the
    * AddFile action, so pruning at read time is metadata-only.
    */
  private def attachStats(adds: Seq[AddFile], meta: Option[Meta]): Seq[AddFile] = {
    // the stats scan costs one pass over the commit's files (~25% of B5's
    // merge wall); `collectStats = false` trades data skipping for it
    if (!collectStats || adds.isEmpty) return adds
    // the caller's snapshot meta — re-reading the log here would replay
    // the whole commit tail a second and third time per commit
    val cols = meta.map(m => statColumns(m.schema.struct)).getOrElse(Seq.empty)
    if (cols.isEmpty) return adds
    val paths = adds.map(a => Paths.get(dir, a.path).toString)
    val aggs = cols.flatMap(f => Seq(
      min(col(f.name)).cast("string").as(s"min_${f.name}"),
      max(col(f.name)).cast("string").as(s"max_${f.name}")))
    // every writer coerces to the declared schema before it writes, so the
    // new files are read under it: no footer schema-inference job
    val byFile = spark.read.schema(StructType(cols)).parquet(paths: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    adds.map { a =>
      // input_file_name yields a URI; match on the path suffix
      byFile.collectFirst { case (f, r) if f.endsWith(a.path) => r } match {
        case None => a // empty file: no stats, never pruned away incorrectly
        case Some(r) =>
          val stats = cols.zipWithIndex.flatMap { case (f, i) =>
            val mn = r.getString(1 + 2 * i); val mx = r.getString(2 + 2 * i)
            if (mn == null || mx == null) None else Some(f.name -> ColStats(mn, mx))
          }.toMap
          a.copy(stats = stats)
      }
    }
  }

  /** Per-file bloom filter sidecars (the Delta bloom-filter-index / Iceberg
    * parquet-bloom shape): for each declared bloom column, one filter per new
    * data file over `xxhash64` of the column values, written beside the data
    * as `_index/<file>.bloom`. Point predicates probe them where min/max zone
    * maps cannot prune — a high-cardinality value (fingerprint, UUID) falls
    * inside almost every file's [min,max], but lives in only one file's bloom.
    *
    * Cost is one pass over the commit's files, like [[attachStats]]. Sizing
    * is exact (the group buffers its hashes before allocating) at 1% fpp
    * ≈ 1.2 bytes/row. Executors build the filters; the driver writes the
    * commit's sidecars alongside the manifest it is already writing — the
    * AddFile carries only a flag, so the manifest never bloats with filter
    * bytes, and sidecars are immutable like their data files.
    */
  private def attachBlooms(adds: Seq[AddFile], meta: Option[Meta]): Seq[AddFile] = {
    val bloomCols = meta.map(_.bloomColumns).getOrElse(Seq.empty)
    if (!collectStats || bloomCols.isEmpty || adds.isEmpty) return adds
    import spark.implicits._
    val paths = adds.map(a => Paths.get(dir, a.path).toString)
    val hashArr = array(bloomCols.map(c => xxhash64(col(c))): _*)
    // read under the declared schema, as in attachStats
    val built = spark.read.schema(meta.get.schema.struct).parquet(paths: _*)
      .select(input_file_name().as("f"), posexplode(hashArr))
      .as[(String, Int, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, Int), it: Iterator[(String, Int, Long)]) =>
        val (f, ci) = key
        val hs = it.map(_._3).toArray
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(hs.length.toLong, 1024L), 0.01)
        hs.foreach(bf.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, ci, bos.toByteArray)
      }
      .collect()
      .groupBy(_._1)
    adds.map { a =>
      built.collectFirst { case (f, parts) if f.endsWith(a.path) => parts } match {
        case None => a // empty file: nothing to index, never pruned incorrectly
        case Some(parts) =>
          val target = Paths.get(dir, "_index", a.path + ".bloom")
          Files.createDirectories(target.getParent)
          val bos = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bos)
          out.writeInt(parts.length)
          parts.sortBy(_._2).foreach { case (_, ci, bytes) =>
            out.writeUTF(bloomCols(ci)); out.writeInt(bytes.length); out.write(bytes)
          }
          out.flush()
          Files.write(target, bos.toByteArray)
          a.copy(bloom = true)
      }
    }
  }

  /** Sidecar blooms of one data file, cached (files and their sidecars are
    * immutable). A missing or unreadable sidecar yields no filters —
    * always-keep, never wrong. */
  @transient private lazy val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, org.apache.spark.util.sketch.BloomFilter]]()

  private def fileBlooms(
      file: AddFile): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.computeIfAbsent(file.path, { _ =>
      val p = Paths.get(dir, "_index", file.path + ".bloom")
      try {
        if (!Files.isRegularFile(p)) Map.empty
        else {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(Files.readAllBytes(p)))
          val n = in.readInt()
          (0 until n).map { _ =>
            val name = in.readUTF()
            val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
            name -> org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
          }.toMap
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    })

  /** Bloom half of the point-predicate file check: definite-absent files
    * drop; files without a sidecar or without this column keep. The probe
    * value is converted to the DECLARED column type and hashed through the
    * same typed `xxhash64` the build side used — a probe that fails to
    * convert, or converts to null, keeps the file (the zone-map
    * [[renderProbe]] discipline: pruning must never drop matching rows). */
  private def bloomAdmits(
      file: AddFile,
      colName: String,
      dt: org.apache.spark.sql.types.DataType,
      value: Any): Boolean =
    if (!file.bloom || value == null) true
    else fileBlooms(file).get(colName) match {
      case None => true
      case Some(bf) =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
        val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
        def hash(e: => org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
          try {
            val typed = e.eval(null)
            if (typed == null) None // null-converting probe: cannot prune on it
            else Some(XxHash64(Seq(Literal(typed, dt)), 42L).eval(null).asInstanceOf[Long])
          } catch { case scala.util.control.NonFatal(_) => None }
        hash(Literal.create(value, dt))
          .orElse(hash(Cast(Literal(value.toString), dt, tz)))
          .map(bf.mightContainLong)
          .getOrElse(true)
    }

  /** Render a probe value through the SAME cast-to-string Spark used when
    * [[attachStats]] collected the file stats. `value.toString` is NOT that
    * rendering for temporal types (`java.sql.Timestamp.toString` yields
    * `2026-01-01 00:00:00.0`, `LocalDateTime` yields `2026-01-01T00:00`,
    * Spark yields `2026-01-01 00:00:00`), and a probe that renders above a
    * file's stored max would prune the file — silently DROPPING matching
    * rows. Evaluating `cast(lit(value) as string)` with the session timezone
    * reproduces the stats rendering exactly; values that resist conversion
    * fall back to `toString` (conservative only through [[mightContain]]'s
    * parse-failure path). */
  private def renderProbe(dt: org.apache.spark.sql.types.DataType, value: Any): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // by-name: Literal.create itself rejects mismatched value/type pairs
    def eval(e: => org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
      try Option(e.eval(null)).map(_.toString)
      catch { case scala.util.control.NonFatal(_) => None }
    eval(Cast(Literal.create(value, dt), org.apache.spark.sql.types.StringType, tz))
      .orElse( // value arrived pre-rendered (e.g. a String probe for a timestamp col)
        eval(Cast(Cast(Literal(value.toString), dt, tz),
          org.apache.spark.sql.types.StringType, tz)))
      .getOrElse(value.toString)
  }

  /** Typed zone-map check: can `file` contain `value` in `colName`? Files
    * without stats (older commits, null-only columns) are always kept, as
    * are stats that fail to parse (NaN/Infinity renderings). When the file
    * carries a bloom sidecar for the column, the bloom composes on top —
    * min/max admits a scattered high-cardinality probe almost everywhere,
    * the bloom then drops the files that definitely lack it. */
  private def mightContain(
      file: AddFile,
      colName: String,
      dt: org.apache.spark.sql.types.DataType,
      value: Any): Boolean =
    zoneAdmits(file, colName, dt, value) && bloomAdmits(file, colName, dt, value)

  /** Stat-string ordering: stats come from Spark min/max over UTF8String
    * (unsigned UTF-8 BYTE order), so prune-time comparisons must use the
    * SAME order. Java String's UTF-16 code-unit order disagrees above the
    * BMP — U+FFFF compares above a surrogate pair there — and a
    * mis-ordered comparison PRUNES files that contain matches (silently
    * missing rows). Dates/timestamps render to ASCII, where the two
    * orders agree; this matters for genuine string columns. */
  private def utf8Le(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  private def zoneAdmits(
      file: AddFile,
      colName: String,
      dt: org.apache.spark.sql.types.DataType,
      value: Any): Boolean =
    file.stats.get(colName) match {
      // a null probe (e.g. `In(a, [.., null])` — Spark pushes the null
      // through) can never render: keep the file conservatively before
      // touching it. Spark re-applies the exact filter after the scan.
      case Some(cs) if value != null =>
        import org.apache.spark.sql.types._
        dt match {
          case _: NumericType =>
            try {
              val v = BigDecimal(value.toString)
              BigDecimal(cs.min) <= v && v <= BigDecimal(cs.max)
            } catch { case scala.util.control.NonFatal(_) => true }
          case _ =>
            val v = renderProbe(dt, value)
            utf8Le(cs.min, v) && utf8Le(v, cs.max)
        }
      case _ => true
    }

  /** The live files a point predicate `colName = value` may need — bucket
    * pruning when the column set covers the bucket keys would compose on
    * top; this is the zone-map half. Exposed for plan-evidence tests. */
  def prunedFiles(colName: String, value: Any, version: Option[Long] = None): Seq[AddFile] = {
    val snap = snapshot(version)
    val dt = snap.schema.struct.apply(colName).dataType
    snap.files.filter(mightContain(_, colName, dt, value))
  }

  /** Can `[lo, hi]` overlap the file's `[min, max]`? Typed like
    * [[mightContain]]; stat-less or unparseable stats always overlap. */
  private def mightOverlap(
      file: AddFile,
      colName: String,
      dt: org.apache.spark.sql.types.DataType,
      lo: Any,
      hi: Any): Boolean =
    file.stats.get(colName) match {
      case Some(cs) if lo != null && hi != null =>
        import org.apache.spark.sql.types._
        dt match {
          case _: NumericType =>
            try BigDecimal(cs.min) <= BigDecimal(hi.toString) &&
              BigDecimal(lo.toString) <= BigDecimal(cs.max)
            catch { case scala.util.control.NonFatal(_) => true }
          case _ => utf8Le(cs.min, renderProbe(dt, hi)) &&
            utf8Le(renderProbe(dt, lo), cs.max)
        }
      case _ => true
    }

  /** Files a range predicate `lo <= colName <= hi` may need. */
  def prunedFilesBetween(
      colName: String, lo: Any, hi: Any, version: Option[Long] = None): Seq[AddFile] = {
    val snap = snapshot(version)
    val dt = snap.schema.struct.apply(colName).dataType
    snap.files.filter(mightOverlap(_, colName, dt, lo, hi))
  }

  /** Can `file` contain rows with `colName >= v` / `<= v`? Typed like
    * [[mightContain]]: stat-less or unparseable stats always survive. */
  private def maxAtLeast(
      file: AddFile, colName: String,
      dt: org.apache.spark.sql.types.DataType, v: Any): Boolean =
    file.stats.get(colName) match {
      case Some(cs) if v != null =>
        import org.apache.spark.sql.types._
        dt match {
          case _: NumericType =>
            try BigDecimal(cs.max) >= BigDecimal(v.toString)
            catch { case scala.util.control.NonFatal(_) => true }
          case _ => utf8Le(renderProbe(dt, v), cs.max)
        }
      case _ => true
    }

  private def minAtMost(
      file: AddFile, colName: String,
      dt: org.apache.spark.sql.types.DataType, v: Any): Boolean =
    file.stats.get(colName) match {
      case Some(cs) if v != null =>
        import org.apache.spark.sql.types._
        dt match {
          case _: NumericType =>
            try BigDecimal(cs.min) <= BigDecimal(v.toString)
            catch { case scala.util.control.NonFatal(_) => true }
          case _ => utf8Le(cs.min, renderProbe(dt, v))
        }
      case _ => true
    }

  /** Zone-map survival of one Spark data-source `Filter` — conservative:
    * anything untranslatable keeps the file, and Spark re-applies every
    * filter exactly after the scan, so pruning can only skip work, never
    * change results. Strict and non-strict comparisons share bounds checks
    * (a file whose max equals a `>` probe survives — one extra file, still
    * correct). */
  private def survives(
      snap: Snapshot, file: AddFile,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def dtOf(a: String) = snap.schema.struct.apply(a).dataType
    filter match {
      case EqualTo(a, v) => mightContain(file, a, dtOf(a), v)
      case In(a, vs) => vs.exists(mightContain(file, a, dtOf(a), _))
      case GreaterThan(a, v) => maxAtLeast(file, a, dtOf(a), v)
      case GreaterThanOrEqual(a, v) => maxAtLeast(file, a, dtOf(a), v)
      case LessThan(a, v) => minAtMost(file, a, dtOf(a), v)
      case LessThanOrEqual(a, v) => minAtMost(file, a, dtOf(a), v)
      case And(l, r) => survives(snap, file, l) && survives(snap, file, r)
      case Or(l, r) => survives(snap, file, l) || survives(snap, file, r)
      case _ => true
    }
  }

  /** The live files a Spark data-source `Filter` set may need — the
    * zone-map pruning behind `format("graft-lakehouse")` batch reads.
    * Exposed for plan-evidence tests. */
  def prunedForFilters(filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[AddFile] = {
    val snap = snapshot()
    snap.files.filter(f => filters.forall(survives(snap, f, _)))
  }

  /** Batch-scan hook for the DSv1 `PrunedFilteredScan` relation: zone-map
    * prune by the pushed filters, read with MOR deletes applied, project the
    * required columns. Spark re-applies every filter exactly downstream. */
  def scanWithFilters(
      requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val snap = snapshot()
    val keep = snap.files.filter(f => filters.forall(survives(snap, f, _)))
    val base = readData(snap, keep)
    if (requiredColumns.isEmpty) base
    else base.select(requiredColumns.toSeq.map(col): _*)
  }

  /** Point-predicate read through the zone maps: scan only the files whose
    * [min,max] admits the value, then apply the filter exactly (and any
    * outstanding MOR deletes). At 100 TB this is the difference between
    * scanning one bucket-file and the table — the table-format analog of
    * parquet's `PushedFilters`.
    */
  def readWhere(colName: String, value: Any): DataFrame = {
    val snap = snapshot()
    val dt = snap.schema.struct.apply(colName).dataType
    readData(snap, snap.files.filter(mightContain(_, colName, dt, value)))
      .filter(col(colName) === lit(value))
  }

  /** Range-predicate read through the zone maps (`lo <= col <= hi`). */
  def readBetween(colName: String, lo: Any, hi: Any): DataFrame = {
    val snap = snapshot()
    val dt = snap.schema.struct.apply(colName).dataType
    readData(snap, snap.files.filter(mightOverlap(_, colName, dt, lo, hi)))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Drop data files no longer referenced by any snapshot >= `retainFrom`
    * (defaults to the latest version only). The log itself is never vacuumed.
    */
  def vacuum(retainFromVersion: Option[Long] = None,
      retentionMs: Long = 6L * 3600 * 1000): Seq[String] = {
    val from = retainFromVersion.getOrElse(latestVersion())
    // change-data files of RETAINED commits must survive: they are reachable
    // through readChangelogBetween even though no snapshot references them
    // (expired commits' change files become unreferenced and are reclaimed)
    val cdcReferenced = listVersions()
      .flatMap(v => Files.readAllLines(logFile(v)).asScala.filter(_.nonEmpty)
        .map(LakehouseFormat.decode).collect { case ChangeFile(p) => p })
      .toSet
    val referenced = (from to latestVersion())
      .flatMap { v =>
        val s = snapshot(Some(v))
        s.files.map(_.path) ++ s.deleteFiles.map(_.path)
      }.toSet ++ cdcReferenced
    val root = Paths.get(dir)
    // retention window (Delta VACUUM's retain-hours): a CONCURRENT writer
    // follows write-data-then-claim, so its fresh files are unreferenced by
    // every committed snapshot right up until its commit lands — reaping
    // them would make that commit point at deleted files (silent data
    // loss). Only files older than the retention horizon are candidates;
    // an in-flight write older than hours is a crashed writer whose claim
    // can no longer win, which is exactly what vacuum exists to reclaim.
    val horizon = System.currentTimeMillis() - math.max(0L, retentionMs)
    val removed = usingStream(Files.walk(root))(_
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .filter(p => Files.getLastModifiedTime(p).toMillis < horizon)
      .map(p => root.relativize(p).toString)
      .filterNot(referenced.contains)
      .toSeq)
    removed.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    // bloom sidecars live and die with their data file: reclaim any whose
    // data file is no longer referenced (the sidecar of a vacuumed file)
    val idx = root.resolve("_index")
    if (Files.isDirectory(idx)) {
      usingStream(Files.walk(idx))(_
        .filter(p => p.toString.endsWith(".bloom") && Files.isRegularFile(p))
        .toSeq)
        .foreach { p =>
          val dataRel = idx.relativize(p).toString.stripSuffix(".bloom")
          if (!referenced.contains(dataRel)) Files.deleteIfExists(p)
        }
    }
    removed
  }

  /** Incremental consumption for append tables (the Delta change-feed /
    * Paimon streaming-read shape, batch-incremental): the net-new rows
    * committed STRICTLY AFTER `fromVersion`, plus the version to checkpoint
    * for the next call. Pure-add commits carry new data; commits that also
    * remove files (compaction, rescale — data-identical rewrites) contribute
    * nothing net-new and are skipped, so a downstream consumer never
    * re-reads rows the maintenance ops merely moved. This is how a bronze
    * append table feeds the next pipeline stage without re-scanning
    * history: each poll reads only the new commits' files.
    *
    * Append-table semantics only: a MERGE commit rewrites whole buckets
    * (adds + removes), so its adds are not net-new rows — merge tables need
    * a row-level changelog, which COW file granularity cannot provide.
    */
  def readChangesSince(fromVersion: Long): (DataFrame, Long) = {
    val latest = latestVersion()
    (readChangesBetween(fromVersion, latest), latest)
  }

  /** The net-new rows of the commit range `(fromVersion, toVersion]` — the
    * bounded form [[graft.streaming.LakehouseStreamSource]] maps micro-batch
    * offset ranges onto. Same maintenance-rewrite skipping as
    * [[readChangesSince]]. */
  def readChangesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    // same guard as snapshot(): if expireSnapshots has dropped commits the
    // cursor still needs, fail with the retained basis instead of a raw
    // NoSuchFileException — those rows are permanently undeliverable, and
    // the caller must know. Change-feed cursors therefore bound how far
    // expireSnapshots may safely advance.
    val oldest = listVersions().headOption
    if (fromVersion < toVersion && oldest.exists(_ > fromVersion + 1))
      throw new IllegalArgumentException(
        s"change feed from version $fromVersion of $dir is expired " +
          s"(oldest retained commit: ${oldest.get}); rows in expired commits " +
          "are undeliverable — expire snapshots only past consumed cursors")
    // the ONE log replay of this call: it gives the output schema, and it
    // pins the read schema below
    val snap = snapshot()
    val schema = snap.schema
    val perVersion = ((fromVersion + 1) to toVersion).map { v =>
      Files.readAllLines(logFile(v)).asScala
        .filter(_.nonEmpty).map(LakehouseFormat.decode).toSeq
    }
    val newFiles = perVersion.flatMap { actions =>
      if (actions.exists(_.isInstanceOf[RemoveFile])) Nil
      else actions.collect { case a: AddFile => a }
    }
    if (newFiles.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.struct)
    else {
      val paths = newFiles.map(f => Paths.get(dir, f.path).toString)
      // Pinned-schema fast path (r19, measured): when NO Meta action lands
      // inside the range, every file in it was written under the ONE schema
      // in force at `toVersion` — so the read schema is known from the LOG
      // and the per-batch `mergeSchema` parquet footer-inference job (plus
      // its distributed listing) is pure overhead. The b6 probe measured
      // those two stages at ~0.4–0.5 s wall per micro-batch with ~zero
      // useful CPU. A range that does contain a schema change (impossible
      // mid-stream — the source refuses it — but legal through the batch
      // API) keeps the mergeSchema path. Values are identical either way:
      // files written under the pinned schema read exactly; a file with a
      // missing column (never written by this table) nulls it in both
      // paths; the coerce to the LATEST schema is unchanged.
      // The schema in force at `toVersion` is the latest one whenever the
      // last Meta landed at or before `toVersion` (`metaVer`), which holds
      // for every read up to the latest version; only a range that ends
      // before a later schema change (a metaVer past `toVersion`, or an
      // unknown one) falls back to mergeSchema instead of replaying the log
      // a second time.
      val pinned = !perVersion.exists(_.exists(_.isInstanceOf[Meta])) &&
        snap.metaVer >= 0 && snap.metaVer <= toVersion
      val raw =
        if (pinned) spark.read.schema(schema.struct).parquet(paths: _*)
        else spark.read.option("mergeSchema", "true").parquet(paths: _*)
      SchemaDerivator.coerce(raw, schema.struct)
    }
  }

  /** Row-level changes of the MERGE commits in `(fromVersion, toVersion]` —
    * the Delta CDF / Paimon changelog consumption shape for PK tables, where
    * file-granular add/remove diffs cannot express row changes. Rows carry
    * the declared columns plus `_change_type` (insert / update_preimage /
    * update_postimage / delete) and `_commit_version`. Requires the table to
    * have been created with `changelog = true`; maintenance commits
    * (compaction, rescale) write no change data, so consumers never see
    * rows the table merely moved. Changelog availability is bounded by log
    * retention, exactly like the append-table change feed. */
  def readChangelogBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val snap = snapshot()
    require(snap.meta.exists(_.changelog),
      s"table $dir was not created with changelog = true")
    val oldest = listVersions().headOption
    if (fromVersion < toVersion && oldest.exists(_ > fromVersion + 1))
      throw new IllegalArgumentException(
        s"changelog from version $fromVersion of $dir is expired " +
          s"(oldest retained commit: ${oldest.get}); rows in expired commits " +
          "are undeliverable — expire snapshots only past consumed cursors")
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val withCt = StructType(snap.schema.struct.fields :+
      StructField("_change_type", StringType, nullable = false))
    val full = StructType(withCt.fields :+
      StructField("_commit_version", LongType, nullable = false))
    // same pinned-schema fast path as readChangesBetween (r19): when no
    // Meta action lands in the range, every change-data file in it was
    // written under the one schema in force at `toVersion` (+ the
    // _change_type column merge() appends), so the per-range mergeSchema
    // footer-inference job is removable; a range containing a schema
    // change keeps the mergeSchema path
    val perVersionActions = ((fromVersion + 1) to toVersion).map { v =>
      v -> Files.readAllLines(logFile(v)).asScala
        .filter(_.nonEmpty).map(LakehouseFormat.decode).toSeq
    }
    val pinned: Option[StructType] =
      if (perVersionActions.exists(_._2.exists(_.isInstanceOf[Meta]))) None
      else Some(StructType(
        snapshot(Some(toVersion)).schema.struct.fields :+
          StructField("_change_type", StringType, nullable = true)))
    val perCommit = perVersionActions.flatMap { case (v, actions) =>
      val cdc = actions.collect { case ChangeFile(p) => Paths.get(dir, p).toString }
      if (cdc.isEmpty) None
      else Some(
        SchemaDerivator.coerce(
          pinned.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema(_))
            .parquet(cdc: _*), withCt)
          .withColumn("_commit_version", lit(v)))
    }
    if (perCommit.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    else perCommit.reduce(_ unionByName _)
  }

  /** [[readChangelogBetween]] up to the latest commit, plus the version to
    * checkpoint for the next call. */
  def readChangelogSince(fromVersion: Long): (DataFrame, Long) = {
    val latest = latestVersion()
    (readChangelogBetween(fromVersion, latest), latest)
  }

  /** Relative change-data file paths of ONE commit (empty when the commit
    * wrote none) — the per-version accessor interchange mirrors use to
    * forward row-level changes at O(commit), not O(history). */
  def changeFilesOf(v: Long): Seq[String] =
    Files.readAllLines(logFile(v)).asScala.filter(_.nonEmpty)
      .map(LakehouseFormat.decode).collect { case ChangeFile(p) => p }.toSeq

  /** (version, action) history — the audit trail a lakehouse DESCRIBE HISTORY
    * surfaces. */
  def history(): Seq[(Long, Action)] =
    listVersions().flatMap(v =>
      Files.readAllLines(logFile(v)).asScala.filter(_.nonEmpty)
        .map(l => v -> decode(l)))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try s.iterator.asScala.foreach(Files.deleteIfExists(_)) finally s.close()
    }
}

/** [[DataSink]] over [[LakehouseTable]]s — the pipeline-facing lakehouse sink.
  * Batch tracking overrides the SPI's write-then-record default with the
  * atomic in-commit `txn` action.
  */
final class LakehouseSink(
    spark: SparkSession,
    rootDir: String,
    buckets: Int = 16,
    collectStats: Boolean = true,
    changelog: Boolean = false,
    mergeEngine: String = "last-wins")
    extends DataSink {

  def table(t: TableId): LakehouseTable =
    new LakehouseTable(
      spark, Paths.get(rootDir, t.identifier.replace('.', '_')).toString, collectStats)

  override def applySchemaChange(event: SchemaChangeEvent): Unit = event match {
    case CreateTableEvent(t, schema) =>
      table(t).create(schema, buckets, changelog, mergeEngine)
    case DropTableEvent(t) =>
      val tb = table(t)
      tb.snapshot().files.foreach(f =>
        Files.deleteIfExists(Paths.get(tb.dir, f.path)))
      val log = Paths.get(tb.dir, "_log")
      if (Files.isDirectory(log)) {
        val s = Files.list(log)
        try s.iterator.asScala.foreach(Files.deleteIfExists(_)) finally s.close()
      }
    case TruncateTableEvent(t) =>
      // truncation = one commit removing every live file (time travel to the
      // pre-truncate version still works; vacuum reclaims the bytes)
      val tb = table(t)
      val removes = tb.snapshot().files.map(f => LakehouseFormat.RemoveFile(f.path))
      if (removes.nonEmpty) tb.commit(removes)
    case other =>
      val t = other.tableId
      val tb = table(t)
      val mgr = new SchemaManager
      mgr.applySchemaChange(CreateTableEvent(t, tb.snapshot().schema))
      tb.updateMeta(mgr.applySchemaChange(other))
  }

  override def writeBatch(t: TableId, upserts: DataFrame, deletedKeys: DataFrame): Unit =
    table(t).merge(upserts, deletedKeys)

  override def writeBatch(
      t: TableId, upserts: DataFrame, deletedKeys: DataFrame,
      batchId: Long, runId: String): Unit =
    if (batchId < 0) table(t).merge(upserts, deletedKeys)
    else table(t).merge(upserts, deletedKeys, txn = Some((runId, batchId)))

  override def lastCommittedBatch(t: TableId, runId: String): Option[Long] =
    table(t).snapshot().txns.get(runId)

  override def schemaOf(t: TableId): Option[TableSchema] =
    table(t).snapshot().meta.map(_.schema)
}
