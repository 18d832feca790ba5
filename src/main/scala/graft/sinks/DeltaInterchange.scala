package graft.sinks

import graft.core.TableSchema
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Delta Lake `_delta_log` interchange — one of the three ecosystem wire
  * formats next to [[IcebergInterchange]] and [[PaimonInterchange]] (the
  * reference ships Paimon/Iceberg pipeline connectors). The public Delta
  * transaction-log format is newline-delimited JSON actions over plain
  * parquet, per the
  * delta-io PROTOCOL.md specification:
  *
  *  - [[readChangeFeed]] + changelog-table mirroring: a changelog-enabled
  *    lakehouse table forwards its row-level change files as Delta CDF
  *    `cdc` actions (the files already speak CDF's `_change_type`
  *    vocabulary), under `delta.enableChangeDataFeed` and writer
  *    version 4 — downstream CDF readers consume the pipeline's changes
  *    at commit granularity.
  *  - [[export]]: the [[mirror]]'s first commit, written into an empty
  *    directory — one `_delta_log/00000000000000000000.json` with
  *    `protocol`, `metaData` (the Spark StructType JSON as
  *    `schemaString`), one `txn` per recorded (appId, version) so
  *    exactly-once bookkeeping survives interchange, the mirror's own
  *    progress `txn`, and one `add` per live file: unpartitioned files
  *    copied to the root with `stats` (numRecords + min/maxValues from
  *    the zone maps), partitioned rows split per partition tuple the way
  *    the mirror splits them. A later [[mirror]] call continues it.
  *  - [[importDelta]]: replay a `_delta_log` directory (versioned JSON
  *    commits, `add`/`remove` with `dataChange` replay, `metaData` schema,
  *    `txn` map) into a DataFrame + metadata. Hive-layout PARTITIONED
  *    tables are supported: per-file `add.partitionValues` project back
  *    as constant columns (files do not store them — the Delta analog of
  *    Iceberg's Column Projection rule). Reader TABLE FEATURES up to
  *    protocol version 3 are implemented via [[DeltaReaderFeatures]]:
  *    column mapping (`name` and `id` modes — physical-name / field-id
  *    resolution with a positional cast back to logical names) and
  *    deletion vectors (Z85 + portable-RoaringBitmapArray descriptors,
  *    masked row indexes filtered map-side against `_metadata.row_index`).
  *    Unsupported features still fail LOUDLY rather than read wrong data:
  *    unknown `readerFeatures`, column-mapped PARTITIONED tables (the
  *    physical-name keying of `partitionValues`), checkpoints over
  *    reader-feature tables, and timestamp/binary partition-value
  *    serialization are explicit errors.
  *  - [[checkpoint]] / [[cleanupLog]] / [[readLog]]: classic
  *    single-file parquet checkpoints per the protocol spec — the
  *    consolidated state at a version plus `_last_checkpoint`, after
  *    which commits at or below it may be deleted and readers seed from
  *    the checkpoint instead of replaying from zero (the metadata-scaling
  *    requirement of a mirror writing one commit per lakehouse commit).
  *    Every reader, the checkpoint writer and the mirror's resume share
  *    ONE log replay: it seeds from the checkpoint when there is one,
  *    then applies the full action handler (protocol gate, deletion
  *    vectors, column mapping, configuration) to every later commit.
  *
  * Determinism: timestamps are fixed at 0 and the table id derives from
  * the schema — a re-export is byte-identical, which is what lets the
  * round-trip gate hash-check the path. No external Delta reader exists in
  * this sandbox (offline coursier, documented in SCALE.md); the format
  * itself is pinned against the public protocol spec by
  * `DeltaInterchangeSpec`.
  */
object DeltaInterchange {

  private val mapper = new ObjectMapper()

  /** Export the table's head snapshot as the [[mirror]]'s first commit
    * ([[InterchangeMirror.Format.export]]). Refuses MERGE-ON-READ delete
    * files: Delta models deletes by file rewrite, so run `compact()` first. */
  def export(spark: SparkSession, table: LakehouseTable, destDir: String): Unit =
    MirrorFormat.export(spark, table, destDir)

  /** `add` action for a SPLIT partitioned data file: partitionValues carry
    * the tuple (all strings, the spec's serialization; null stays null),
    * stats shrink to numRecords (zone maps were per SOURCE file — pruning
    * comes from partitionValues instead). */
  private def splitAddActionJson(path: String, size: Long, rows: Long,
      part: Map[String, Any], partitionKeys: Seq[String]): String = {
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", path)
    putPartitionValues(a, part, partitionKeys)
    a.put("size", size)
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    val st = mapper.createObjectNode()
    st.put("numRecords", rows)
    a.put("stats", mapper.writeValueAsString(st))
    mapper.writeValueAsString(n)
  }

  private def putPartitionValues(action: ObjectNode, part: Map[String, Any],
      partitionKeys: Seq[String]): Unit = {
    val pv = action.putObject("partitionValues")
    partitionKeys.foreach { c =>
      part.get(c).flatMap(Option(_)) match {
        case Some(v) => pv.put(c, v.toString)
        case None => pv.putNull(c)
      }
    }
  }

  /** Copy one lakehouse data file to the table root under its flattened
    * name; returns its `add` action with `stats` from the zone maps. */
  private def copyAdd(table: LakehouseTable, dest: Path, schema: TableSchema,
      f: LakehouseFormat.AddFile, rows: Map[String, Long]): String = {
    val srcPath = Paths.get(table.dir, f.path)
    val flat = f.path.replace('/', '-')
    Files.copy(srcPath, dest.resolve(flat), StandardCopyOption.REPLACE_EXISTING)
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", flat)
    a.putObject("partitionValues")
    a.put("size", Files.size(srcPath))
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    a.put("stats", statsJson(schema, f.copy(rows = rows(f.path))))
    mapper.writeValueAsString(n)
  }

  /** Delta `stats` string: numRecords always; min/maxValues typed from the
    * zone maps where present (numbers re-parsed to JSON numbers — a string
    * "42" would break readers' data skipping on numeric columns). */
  private def statsJson(schema: TableSchema, f: LakehouseFormat.AddFile): String = {
    val n = mapper.createObjectNode()
    n.put("numRecords", f.rows)
    if (f.stats.nonEmpty) {
      val mins = n.putObject("minValues")
      val maxs = n.putObject("maxValues")
      f.stats.foreach { case (colName, cs) =>
        schema.struct.fields.find(_.name == colName).foreach { field =>
          putTyped(mins, colName, cs.min, field.dataType)
          putTyped(maxs, colName, cs.max, field.dataType)
        }
      }
    }
    mapper.writeValueAsString(n)
  }

  private def putTyped(node: ObjectNode, name: String, v: String, dt: DataType): Unit =
    dt match {
      case LongType | IntegerType | ShortType | ByteType => node.put(name, v.toLong)
      case DoubleType | FloatType => node.put(name, v.toDouble)
      case BooleanType => node.put(name, v.toBoolean)
      case _ => node.put(name, v)
    }

  private def protocolJson(cdf: Boolean): String =
    if (cdf)
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
    else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaActionJson(schema: TableSchema, cdf: Boolean): String = {
    val metaNode = mapper.createObjectNode()
    val m = metaNode.putObject("metaData")
    m.put("id", java.util.UUID.nameUUIDFromBytes(
      schema.struct.json.getBytes(UTF_8)).toString)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", schema.struct.json)
    val pc = m.putArray("partitionColumns")
    schema.partitionKeys.foreach(pc.add)
    val conf = m.putObject("configuration")
    if (cdf) conf.put("delta.enableChangeDataFeed", "true")
    m.put("createdTime", 0L)
    mapper.writeValueAsString(metaNode)
  }

  private def txnJson(appId: String, version: Long): String = {
    val n = mapper.createObjectNode()
    val t = n.putObject("txn")
    t.put("appId", appId); t.put("version", version)
    mapper.writeValueAsString(n)
  }

  private def removeJson(path: String): String = {
    val n = mapper.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", 0L)
    r.put("dataChange", true)
    mapper.writeValueAsString(n)
  }

  private def writeCommit(logDir: Path, version: Long, actions: Seq[String]): Unit =
    Files.write(logDir.resolve(f"$version%020d.json"),
      actions.mkString("", "\n", "\n").getBytes(UTF_8))

  /** The txn appId under which [[mirror]] records the last lakehouse
    * version it has mirrored — in the DELTA log itself, so mirror progress
    * survives restarts with no side-channel state file. */
  val MirrorAppId = "graft-delta-mirror"

  /** Incrementally mirror NEW lakehouse commits into the Delta log — the
    * continuous "Delta sink" shape: one Delta commit per lakehouse commit
    * (adds + removes of exactly that commit's file diff), so a downstream
    * Delta reader sees the same commit granularity (and can time travel
    * it), instead of a full re-export per refresh. Cost per call is
    * O(new commits + changed files), never O(table).
    *
    * Progress rides as a `txn` action (`MirrorAppId` → lakehouse version)
    * in each Delta commit; a re-run after crash or no-op call resumes from
    * the recorded version — idempotent by the same replay-skip rule the
    * lakehouse txns use. Returns the number of Delta commits written.
    */
  def mirror(spark: SparkSession, table: LakehouseTable, destDir: String): Int =
    MirrorFormat.mirror(spark, table, destDir)

  /** The Delta side of [[InterchangeMirror]]: commits are `_delta_log`
    * JSONs, maintenance is `checkpoint.every` (a classic checkpoint +
    * [[cleanupLog]] whenever that many commit JSONs accumulate). */
  private[sinks] object MirrorFormat extends InterchangeMirror.Format {
    val maintenance: Set[String] = Set(InterchangeMirror.CheckpointEvery)

    def open(spark: SparkSession, table: LakehouseTable,
        destDir: String): InterchangeMirror.Writer = new MirrorWriter(spark, table, destDir)

    def maintain(spark: SparkSession, destDir: String, written: Int,
        m: InterchangeMirror.Maintenance): Unit =
      if (m(InterchangeMirror.CheckpointEvery) > 0)
        maintainCheckpoint(spark, destDir, m(InterchangeMirror.CheckpointEvery))
  }

  private final class MirrorWriter(spark: SparkSession, table: LakehouseTable,
      destDir: String) extends InterchangeMirror.Writer {
    private val dest = Paths.get(destDir)
    private val logDir = dest.resolve("_delta_log")
    Files.createDirectories(logDir)
    // partitioned mirrors: the live SPLIT file names (relative action
    // paths) — removals map through the source bucket each name encodes
    private val liveNames = scala.collection.mutable.Set.empty[String]
    private var deltaV = 0L
    private var written = 0

    val lastMirrored: Long = {
      val jsonVers = listJsonVersions(logDir)
      val ckptVer = lastCheckpointVersion(logDir)
      if (jsonVers.isEmpty && ckptVer.isEmpty) -1L
      else {
        // checkpoint-aware: after checkpoint + cleanupLog the JSONs at or
        // below the checkpoint are gone, so the resume point is whichever
        // of (last JSON, checkpoint) is newest
        val s = readLog(spark, destDir)
        s.files.foreach(p => liveNames += dest.toAbsolutePath
          .relativize(Paths.get(p).toAbsolutePath).toString)
        deltaV = math.max(jsonVers.lastOption.getOrElse(-1L), ckptVer.getOrElse(-1L)) + 1
        s.txns.getOrElse(MirrorAppId, throw new IllegalStateException(
          s"$destDir has a _delta_log but no $MirrorAppId txn — it is not a mirror"))
      }
    }

    def write(d: InterchangeMirror.VersionDiff): Unit = {
      require(d.cur.deleteFiles.isEmpty,
        s"lakehouse version ${d.version} carries MERGE-ON-READ delete files: Delta " +
          "has no equality deletes — compact() before mirroring past this version")
      if (d.adds.nonEmpty || d.removes.nonEmpty || d.schemaChanged ||
          d.newTxns.nonEmpty || d.changeFiles.nonEmpty) {
        val actions = scala.collection.mutable.Buffer.empty[String]
        if (deltaV == 0L) actions += protocolJson(d.meta.changelog)
        if (d.schemaChanged) actions += metaActionJson(d.schema, d.meta.changelog)
        // the table's OWN txn actions forward too: exactly-once bookkeeping
        // must survive interchange, so a sink resuming from the Delta
        // mirror skips replayed batches
        d.newTxns.foreach { case (appId, ver) => actions += txnJson(appId, ver) }
        actions += txnJson(MirrorAppId, d.version)
        if (d.partitioned) actions ++= partitionedActions(d)
        else {
          val rows = InterchangeMirror.resolveRowCounts(spark, table.dir, d.adds)
          d.adds.foreach(f => actions += copyAdd(table, dest, d.schema, f, rows))
          d.removes.foreach(f => actions += removeJson(f.path.replace('/', '-')))
          // changelog tables forward their row-level change files as Delta
          // CDF `cdc` actions in the SAME commit — the change-data files
          // already carry Delta's `_change_type` vocabulary (insert /
          // update_preimage / update_postimage / delete), so downstream CDF
          // readers consume the pipeline's changes directly
          d.changeFiles.sorted.foreach { p =>
            val srcPath = Paths.get(table.dir, p)
            val flat = "_change_data/" + p.replace('/', '-')
            Files.createDirectories(dest.resolve("_change_data"))
            Files.copy(srcPath, dest.resolve(flat), StandardCopyOption.REPLACE_EXISTING)
            val n = mapper.createObjectNode()
            val c = n.putObject("cdc")
            c.put("path", flat)
            c.putObject("partitionValues")
            c.put("size", Files.size(srcPath))
            c.put("dataChange", false)
            actions += mapper.writeValueAsString(n)
          }
        }
        writeCommit(logDir, deltaV, actions.toSeq)
        deltaV += 1
        written += 1
      }
    }

    /** Removes, adds and cdc actions of a Hive-layout partitioned commit.
      * pk-less tables (append-only fact streams — the classic time-
      * partitioned shape) mirror too: appends never remove, so the
      * pk-bucket removal mapping is not needed; a commit that DOES remove
      * on a pk-less partitioned mirror refuses. */
    private def partitionedActions(d: InterchangeMirror.VersionDiff): Seq[String] = {
      val v = d.version
      val partitionKeys = d.partitionKeys
      val actions = scala.collection.mutable.Buffer.empty[String]
      // removals FIRST state-wise: whole-bucket COW rewrites kill every
      // live split file whose name encodes a removed source bucket
      if (d.removes.nonEmpty) {
        val rb = PartitionedMirror.wholeBucketRemovalSet(d, "Delta")
        val dead = liveNames.filter(n => PartitionedMirror.srcBucketOf(
          Paths.get(n).getFileName.toString).exists(rb.contains)).toSeq.sorted
        dead.foreach { n =>
          actions += removeJson(n)
          liveNames -= n
        }
      }
      if (d.adds.nonEmpty) {
        // metadata-only when the footers prove every add single-partition
        // (hard-copy, no Spark job); else ONE partitionBy job splits the
        // commit's adds by (partition tuple, source lakehouse bucket);
        // partition columns come back on import from add.partitionValues
        // either way
        val (moved, rows) = PartitionedMirror.splitOrCopyAdds(
          spark, table.dir, d.adds, d.struct, d.schema.primaryKeys,
          d.meta.buckets, destDir, partitionKeys,
          (n, _, srcb) => f"part-v$v-b${srcb.get}-$n%05d.parquet")
        moved.foreach { case (out, part, _) =>
          val rel = s"data/${out.getFileName}"
          actions += splitAddActionJson(rel, Files.size(out),
            rows(out.toAbsolutePath.toString), part, partitionKeys)
          liveNames += rel
        }
      }
      if (d.changeFiles.nonEmpty) {
        // PARTITIONED changelog: one partitionBy job splits the commit's
        // change rows per partition tuple — cdc files never store the
        // partition columns; the cdc action's partitionValues restore
        // them in readChangeFeed (the same projection rule as adds).
        // `_change_type` stays a DATA column of the cdc files.
        val ctSchema = StructType(d.struct.fields :+
          StructField("_change_type", StringType, nullable = false))
        val cdcDf = spark.read.schema(ctSchema)
          .parquet(d.changeFiles.sorted.map(p => Paths.get(table.dir, p).toString): _*)
        val moved = IcebergInterchange.writeSplitDataFiles(cdcDf, destDir,
          partitionKeys, ctSchema, None,
          (n, _, _) => f"cdc-v$v-$n%05d.parquet", subDir = "_change_data")
        moved.foreach { case (out, part, _) =>
          val n = mapper.createObjectNode()
          val c = n.putObject("cdc")
          c.put("path", s"_change_data/${out.getFileName}")
          putPartitionValues(c, part, partitionKeys)
          c.put("size", Files.size(out))
          c.put("dataChange", false)
          actions += mapper.writeValueAsString(n)
        }
      }
      actions.toSeq
    }

    def finish(head: Long): Int = {
      // no new version changed anything (e.g. a re-recorded txn): still
      // record progress so the next call skips them (a first-ever no-op
      // mirror writes version 0 with protocol + metaData + progress,
      // making the dest a valid table)
      if (written == 0) {
        val actions = scala.collection.mutable.Buffer.empty[String]
        if (deltaV == 0L) {
          val changelog = table.snapshot().meta.exists(_.changelog)
          actions += protocolJson(changelog)
          actions += metaActionJson(table.snapshot().schema, changelog)
        }
        actions += txnJson(MirrorAppId, head)
        writeCommit(logDir, deltaV, actions.toSeq)
        written += 1
      }
      written
    }
  }

  final case class DeltaSnapshot(
      schema: StructType,
      files: Seq[String], // absolute paths of live data files
      txns: Map[String, Long],
      numRecords: Long,
      // Hive-layout partitioning: files do NOT store these columns; the
      // values ride in add.partitionValues and project back per file
      partitionColumns: Seq[String] = Nil,
      filePartitions: Map[String, Map[String, String]] = Map.empty,
      // reader features (PROTOCOL.md table features): files store PHYSICAL
      // column names when mapping is on; a deletion vector masks row
      // indexes of its file
      columnMappingMode: String = "none",
      fileDvs: Map[String, DeltaReaderFeatures.DvDescriptor] = Map.empty)

  // ----------------------------------------------------------- checkpoints

  /** Columns of a classic single-file Delta checkpoint (PROTOCOL.md:
    * one row per action, nullable struct per action type). */
  private val checkpointSchema = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType))))))

  /** Write a classic checkpoint at the log's latest version — the
    * consolidated replay state (protocol, latest metaData, txns, live
    * add actions with their stats) as ONE parquet file named
    * `<v>.checkpoint.parquet`, plus the `_last_checkpoint` pointer.
    * Replay-from-zero cost grows with commit count; a mirror running one
    * commit per lakehouse commit needs this to keep reader startup
    * O(live files), not O(history). Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, destDir: String): Long = {
    val logDir = Paths.get(destDir, "_delta_log")
    val prevCkpt = lastCheckpointVersion(logDir)
    val versions = listJsonVersions(logDir).filter(v => prevCkpt.forall(v > _))
    require(versions.nonEmpty,
      s"no commits newer than the last checkpoint under $destDir")
    val v = versions.last
    // full-fidelity state: the one replay seeds from the previous
    // checkpoint when one exists (after cleanupLog the older JSONs are
    // gone) and keeps the raw add actions, so stats survive
    val state = replay(spark, destDir, None)
    // the classic checkpoint row schema drops deletionVector and
    // readerFeatures — checkpointing a reader-feature table would
    // silently resurrect DV-masked rows on the next read
    require(state.readerVersion <= 1,
      s"minReaderVersion ${state.readerVersion}: checkpointing reader-feature " +
        "tables (column mapping / deletion vectors) is not supported — the " +
        "checkpoint would drop their add-action fields; refusing")
    require(!state.adds.values.exists(_.has("deletionVector")),
      "add action carries a deletionVector — checkpointing deletion-vector " +
        "tables is not supported (the classic checkpoint row schema here " +
        "would drop the descriptor); refusing")
    require(state.protocol.nonEmpty && state.metaData.nonEmpty,
      "log has no protocol/metaData")
    def row(action: String, node: JsonNode): Row = Row.fromSeq(checkpointSchema.fields
      .toSeq.map(f => if (f.name == action) fromJson(node, f.dataType) else null))
    val rows: Seq[Row] =
      Seq(row("protocol", state.protocol.get), row("metaData", state.metaData.get)) ++
        state.txns.toSeq.sortBy(_._1).map { case (a, ver) =>
          Row(Row(a, ver), null, null, null, null) } ++
        state.adds.values.toSeq.map(row("add", _))
    val tmp = Files.createTempDirectory("graft_delta_ckpt").toString
    spark.createDataFrame(rows.asJava, checkpointSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("checkpoint write produced no parquet"))
    Files.move(part, logDir.resolve(f"$v%020d.checkpoint.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":$v,"size":${rows.size}}""".getBytes(UTF_8))
    v
  }

  /** Delete commit JSONs at or below the checkpointed version — the log
    * cleanup the checkpoint makes safe (readers seed from the checkpoint
    * and replay only newer commits). Returns the number removed. */
  def cleanupLog(destDir: String): Int = {
    val logDir = Paths.get(destDir, "_delta_log")
    val ckpt = lastCheckpointVersion(logDir).getOrElse(
      throw new IllegalStateException(
        s"no _last_checkpoint under $destDir — cleanup without a checkpoint " +
          "would destroy the only copy of the state"))
    val old = listJsonVersions(logDir).filter(_ <= ckpt)
    old.foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    old.size
  }

  /** Checkpoint + clean up when `every` or more commit JSONs have
    * accumulated past the last checkpoint — the inline maintenance loop a
    * standing mirror needs. Returns true when a checkpoint was written. */
  def maintainCheckpoint(spark: SparkSession, destDir: String, every: Int): Boolean = {
    require(every >= 1, "checkpoint interval must be >= 1")
    val logDir = Paths.get(destDir, "_delta_log")
    val ckpt = lastCheckpointVersion(logDir).getOrElse(-1L)
    if (listJsonVersions(logDir).count(_ > ckpt) < every) false
    else {
      checkpoint(spark, destDir)
      cleanupLog(destDir)
      true
    }
  }

  private def listJsonVersions(logDir: Path): Seq[Long] =
    if (!Files.isDirectory(logDir)) Seq.empty
    else Files.list(logDir).iterator.asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("\\d{20}\\.json") =>
        s.stripSuffix(".json").toLong }
      .toSeq.sorted

  private def lastCheckpointVersion(logDir: Path): Option[Long] = {
    val p = logDir.resolve("_last_checkpoint")
    if (!Files.exists(p)) None
    else {
      val v = mapper.readTree(Files.readAllBytes(p)).get("version")
      require(v != null && v.canConvertToLong,
        s"_last_checkpoint under $logDir names no version — refusing rather " +
          "than replaying a partial log")
      Some(v.asLong())
    }
  }

  private def replayRawActions(logDir: Path, versions: Seq[Long])(
      f: JsonNode => Unit): Unit =
    versions.foreach { v =>
      Files.readAllLines(logDir.resolve(f"$v%020d.json")).asScala
        .filter(_.trim.nonEmpty).foreach(line => f(mapper.readTree(line)))
    }

  /** An action's `partitionValues`; null values stay NULLS (NullNode's
    * text is the string "null", a silently wrong partition value). */
  private def partitionValues(action: JsonNode): Map[String, String] =
    Option(action.get("partitionValues"))
      .map(_.properties().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
      .getOrElse(Map.empty)

  /** A checkpoint row's action struct as the JSON action it records. */
  private def toJson(v: Any, dt: DataType): JsonNode = (v, dt) match {
    case (null, _) => com.fasterxml.jackson.databind.node.NullNode.instance
    case (r: Row, s: StructType) =>
      val o = mapper.createObjectNode()
      s.fields.indices.filterNot(r.isNullAt).foreach(i =>
        o.set[JsonNode](s(i).name, toJson(r.get(i), s(i).dataType)))
      o
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k.toString, toJson(x, vt)) }
      o
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
      val a = mapper.createArrayNode()
      xs.foreach(x => a.add(toJson(x, et)))
      a
    case _ => mapper.valueToTree[JsonNode](v)
  }

  /** A JSON action as the checkpoint row struct `dt`. */
  private def fromJson(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case s: StructType => Row.fromSeq(s.fields.toSeq.map(f => fromJson(n.get(f.name), f.dataType)))
      case MapType(_, vt, _) =>
        n.properties().asScala.map(e => e.getKey -> fromJson(e.getValue, vt)).toMap
      case ArrayType(et, _) => n.elements().asScala.map(fromJson(_, et)).toSeq
      case IntegerType => n.asInt()
      case LongType => n.asLong()
      case BooleanType => n.asBoolean()
      case _ => n.asText()
    }

  /** The replayed state of a `_delta_log`: the latest protocol and
    * metaData, the live `add` actions by path (a re-add keeps its
    * position and replaces the action, so the latest DV wins and an add
    * WITHOUT one clears it), and the txn map. */
  private final class LogState {
    var protocol: Option[JsonNode] = None
    var metaData: Option[JsonNode] = None
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, JsonNode]
    val txns = scala.collection.mutable.Map.empty[String, Long]

    def readerVersion: Int = protocol.map(_.get("minReaderVersion").asInt()).getOrElse(1)

    def configuration(key: String): Option[String] =
      metaData.flatMap(m => Option(m.get("configuration")))
        .flatMap(c => Option(c.get(key))).map(_.asText())

    def mappingMode: String = configuration("delta.columnMapping.mode").getOrElse("none")

    /** Apply one action; commitInfo / cdc / domainMetadata are
      * informational and skipped. */
    def apply(node: JsonNode): Unit =
      if (node.has("protocol")) {
        checkReaderSupport(node.get("protocol"))
        protocol = Some(node.get("protocol"))
      } else if (node.has("metaData")) {
        metaData = Some(node.get("metaData"))
        require(Seq("none", "name", "id").contains(mappingMode),
          s"delta.columnMapping.mode '$mappingMode' is not in the " +
            "protocol (none / name / id) — refusing")
      } else if (node.has("add")) {
        val a = node.get("add")
        adds(a.get("path").asText()) = a
      } else if (node.has("remove")) {
        adds.remove(node.get("remove").get("path").asText())
      } else if (node.has("txn")) {
        val t = node.get("txn")
        txns(t.get("appId").asText()) = t.get("version").asLong()
      }

    def snapshot(srcDir: String): DeltaSnapshot = {
      val md = metaData.getOrElse(
        throw new IllegalStateException("log has no metaData action"))
      def abs(p: String) = Paths.get(srcDir, p).toString
      val dvs = adds.toSeq.flatMap { case (p, a) =>
        Option(a.get("deletionVector")).map(dv =>
          abs(p) -> DeltaReaderFeatures.parseDescriptor(dv, srcDir)) }.toMap
      val physicalRows = adds.values.toSeq.map(a => Option(a.get("stats"))
        .map(s => mapper.readTree(s.asText()).get("numRecords").asLong()).getOrElse(0L)).sum
      DeltaSnapshot(
        DataType.fromJson(md.get("schemaString").asText()).asInstanceOf[StructType],
        adds.keys.toSeq.map(abs), txns.toMap,
        // numRecords is the LOGICAL row count: physical stats minus the
        // rows each live deletion vector masks
        physicalRows - dvs.values.map(_.cardinality).sum,
        Option(md.get("partitionColumns"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        adds.toSeq.map { case (p, a) => abs(p) -> partitionValues(a) }.toMap,
        mappingMode, dvs)
    }
  }

  /** THE log replay behind every reader, [[checkpoint]] and the mirror's
    * resume: seed from the last checkpoint when one exists, then apply
    * every later JSON commit up to `asOfVersion` with the full action
    * handler. Time travel must land AT or AFTER the checkpoint — the
    * commits below it were cleaned up, so older states are gone (Delta's
    * own `versionAsOf` retention behavior); a version beyond the head
    * refuses loudly, and so does a commit gap. */
  private def replay(spark: SparkSession, srcDir: String,
      asOfVersion: Option[Long]): LogState = {
    val logDir = Paths.get(srcDir, "_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log under $srcDir")
    val ckpt = lastCheckpointVersion(logDir)
    val json = listJsonVersions(logDir)
    if (ckpt.isEmpty) {
      require(json.nonEmpty, s"empty _delta_log under $srcDir")
      require(json.head == 0L,
        f"log does not start at version 0 (earliest: ${json.head}%020d.json) — a " +
          "truncated log cannot be replayed without a checkpoint")
    }
    val head = (json ++ ckpt).max
    asOfVersion.foreach { v =>
      ckpt.foreach(c => require(v >= c,
        s"versionAsOf $v is below the checkpoint at $c — those commits were " +
          "cleaned up, the state is gone"))
      require(v >= 0 && v <= head,
        s"versionAsOf $v is not in the log (head: $head) — nothing was committed there")
    }
    val first = ckpt.map(_ + 1).getOrElse(0L)
    val versions = json.filter(v => v >= first && asOfVersion.forall(v <= _))
    versions.zipWithIndex.foreach { case (v, i) =>
      require(v == first + i, s"commit gap at version ${first + i} (next JSON is $v) " +
        "— refusing rather than skipping commits") }
    val state = new LogState
    ckpt.foreach { c =>
      val file = logDir.resolve(f"$c%020d.checkpoint.parquet")
      require(Files.exists(file),
        s"_last_checkpoint points at version $c but ${file.getFileName} " +
          "is missing — refusing rather than replaying a truncated log")
      spark.read.schema(checkpointSchema).parquet(file.toString).collect().foreach { r =>
        checkpointSchema.fields.indices.filterNot(r.isNullAt).foreach { i =>
          val action = mapper.createObjectNode()
          action.set[JsonNode](checkpointSchema(i).name,
            toJson(r.get(i), checkpointSchema(i).dataType))
          state.apply(action)
        }
      }
      // the classic checkpoint schema here has no deletionVector /
      // readerFeatures columns, so a checkpoint-SEEDED read of a
      // reader-feature table could silently resurrect DV-masked rows —
      // those tables must retain their full JSON log
      require(state.readerVersion <= 1,
        s"minReaderVersion ${state.readerVersion}: checkpoint-seeded reads " +
          "support base tables only; reader-feature tables (column mapping / " +
          "deletion vectors) must keep their JSON commits")
    }
    replayRawActions(logDir, versions)(state.apply)
    state
  }

  /** Replay a `_delta_log` into the live state at the latest version. */
  def readLog(spark: SparkSession, srcDir: String): DeltaSnapshot =
    readLog(spark, srcDir, None)

  /** Replay a `_delta_log`, optionally stopping AT `asOfVersion` — Delta
    * time travel (`versionAsOf`): the state is exactly what a reader at
    * that commit saw. */
  def readLog(spark: SparkSession, srcDir: String,
      asOfVersion: Option[Long]): DeltaSnapshot =
    replay(spark, srcDir, asOfVersion).snapshot(srcDir)

  /** Reader-version gate: base tables (1), column mapping (2), and
    * version-3 tables whose `readerFeatures` this importer implements —
    * `columnMapping`, `deletionVectors`, plus the read-neutral
    * `timestampNtz` (a type the schema already expresses) and
    * `vacuumProtocolCheck` (constrains VACUUM, not reads). Anything else
    * refuses loudly rather than reading wrong data. */
  private def checkReaderSupport(p: JsonNode): Unit = {
    val reader = p.get("minReaderVersion").asInt()
    require(reader <= 3,
      s"minReaderVersion $reader is newer than the table-features protocol " +
        "(3) this importer implements — refusing")
    if (reader == 3) {
      val supported = Set("columnMapping", "deletionVectors", "timestampNtz",
        "vacuumProtocolCheck")
      val features = Option(p.get("readerFeatures"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      val unknown = features.filterNot(supported)
      require(unknown.isEmpty,
        s"reader features ${unknown.mkString(", ")} are not implemented " +
          "by this importer — refusing rather than reading wrong data")
    }
  }

  /** Delta Change Data Feed read: the row-level changes of commits in
    * `(fromVersion, toVersion]` — the `cdc` actions' files, whose rows
    * carry `_change_type` (insert / update_preimage / update_postimage /
    * delete), plus a `_commit_version` column. Requires the table
    * property `delta.enableChangeDataFeed` (refuses otherwise — a window
    * read on a non-CDF table would silently return nothing). Commits
    * removed by [[cleanupLog]] are gone with their cdc actions, so a
    * window reaching below the earliest retained commit refuses loudly —
    * expire only past consumed cursors, the lakehouse changelog's own
    * retention rule. */
  def readChangeFeed(spark: SparkSession, srcDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val logDir = Paths.get(srcDir, "_delta_log")
    val state = replay(spark, srcDir, None)
    val snap = state.snapshot(srcDir)
    // PARTITIONED tables: cdc files do not store partition columns — the
    // per-action partitionValues project back exactly like data files
    requireCastablePartitions(snap)
    require(snap.columnMappingMode == "none",
      "change-feed reads of COLUMN-MAPPED Delta tables are not supported: " +
        "cdc files store physical column names and this reader resolves " +
        "cdc rows by logical name — refusing rather than feeding silent " +
        "nulls")
    // CDF flag of the newest metaData (configuration survives checkpointing)
    require(state.configuration("delta.enableChangeDataFeed").contains("true"),
      "delta.enableChangeDataFeed is not set on this table — " +
      "a window read would silently return nothing")
    val retained = listJsonVersions(logDir)
    val latest = retained.maxOption.getOrElse(-1L)
    require(toVersion <= latest,
      s"toVersion $toVersion is beyond the latest commit $latest — " +
        "nothing has been written there yet")
    val versions = retained.filter(v => v > fromVersion && v <= toVersion)
    require(versions.size == (toVersion - fromVersion),
      s"change-feed window ($fromVersion, $toVersion] reaches below the " +
        "earliest retained commit (cleaned up past a checkpoint) — those " +
        "changes are undeliverable")
    val perCommit = versions.flatMap { v =>
      val paths = scala.collection.mutable.ArrayBuffer
        .empty[(String, Map[String, String])]
      replayRawActions(logDir, Seq(v)) { node =>
        if (node.has("cdc")) {
          val c = node.get("cdc")
          paths += ((Paths.get(srcDir, c.get("path").asText()).toString,
            partitionValues(c)))
        }
      }
      if (paths.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{col, lit}
        val withCt = StructType(snap.schema.fields :+
          StructField("_change_type", StringType, nullable = false))
        val df =
          if (snap.partitionColumns.isEmpty)
            spark.read.schema(withCt).parquet(paths.map(_._1).toSeq: _*)
          else
            // per-partition file groups: the cdc files do not store the
            // partition columns; the action's partitionValues project
            // back as constants, exactly the importDelta rule
            paths.groupBy(_._2).toSeq
              .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
              .map { case (vals, fs) =>
                var d = spark.read.schema(withCt).parquet(fs.map(_._1).toSeq: _*)
                snap.partitionColumns.foreach { c =>
                  d = d.withColumn(c,
                    lit(vals.getOrElse(c, null)).cast(snap.schema(c).dataType))
                }
                d.select(withCt.fieldNames.map(col).toSeq: _*)
              }.reduce(_ unionAll _)
        Some(df.withColumn("_commit_version", lit(v)))
      }
    }
    if (perCommit.isEmpty) {
      val schema = StructType(snap.schema.fields ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_commit_version", LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else perCommit.reduce(_ unionAll _)
  }

  /** Partition-value strings project back by a cast, so the partition
    * columns are bounded to types whose strings cast unambiguously;
    * timestamp/binary partition columns refuse. */
  private def requireCastablePartitions(snap: DeltaSnapshot): Unit =
    snap.partitionColumns.foreach { c =>
      val dt = snap.schema(c).dataType
      require(!Seq(TimestampType, TimestampNTZType, BinaryType).contains(dt),
        s"partition column '$c': $dt partition-value serialization is " +
          "not supported by this reader — refusing")
    }

  /** Read the live table state as a DataFrame under the log's schema
    * (checkpoint-aware: seeds from `_last_checkpoint` when present). */
  def importDelta(spark: SparkSession, srcDir: String): DataFrame =
    importDelta(spark, srcDir, None)

  /** Import, optionally AS OF a retained commit version (time travel). */
  def importDelta(spark: SparkSession, srcDir: String,
      versionAsOf: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val snap = readLog(spark, srcDir, versionAsOf)
    // column mapping: files store PHYSICAL names; read under the physical
    // schema, surface logical names via a positional struct cast (free —
    // a rename, not a conversion). id mode resolves by parquet field id:
    // the session flag stays on (it only affects read schemas that CARRY
    // field-id metadata, i.e. exactly these reads). Validated before the
    // empty-table shortcut so an unsupported layout refuses consistently.
    val mapped = snap.columnMappingMode != "none"
    if (mapped) {
      require(snap.partitionColumns.isEmpty,
        "column-mapped PARTITIONED tables are not supported: the protocol " +
          "keys add.partitionValues by physical name and this importer " +
          "does not resolve that indirection — refusing rather than " +
          "reading wrong columns")
      if (snap.columnMappingMode == "id")
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    val readSchema =
      if (mapped)
        DeltaReaderFeatures.physicalSchema(snap.schema,
          idMode = snap.columnMappingMode == "id")
      else snap.schema

    // deletion vectors: broadcast the O(files) descriptors; executors open
    // the sidecars and the row filter runs map-side inside the one scan —
    // no extra shuffle, bitmap bytes never funnel through the driver
    val dvs = snap.fileDvs.map { case (p, d) =>
      Paths.get(p).toAbsolutePath.toString -> d }
    val dvB =
      if (dvs.isEmpty) null else spark.sparkContext.broadcast(dvs)
    lazy val keep = udf((fp: String, idx: Long) =>
      !DeltaReaderFeatures.isDeleted(dvB.value, fp, idx))
    def scan(files: Seq[String]): DataFrame = {
      var df = spark.read.schema(readSchema).parquet(files: _*)
      if (dvB != null)
        df = df.where(keep(col("_metadata.file_path"), col("_metadata.row_index")))
      df
    }
    def toLogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(snap.schema.fields.zip(readSchema.fields).map {
        case (lf, pf) => df.col(pf.name).cast(lf.dataType).as(lf.name)
      }.toSeq: _*)

    if (snap.partitionColumns.isEmpty)
      return toLogical(scan(snap.files))
    // Hive-layout partitioning: the files do NOT store partition columns;
    // the per-file string values from add.partitionValues project back as
    // constants per file group (the Delta analog of Iceberg's Column
    // Projection).
    requireCastablePartitions(snap)
    snap.files.groupBy(f => snap.partitionColumns.map(c =>
        snap.filePartitions.getOrElse(f, Map.empty).getOrElse(c, null)))
      .toSeq.sortBy(_._1.mkString(","))
      .map { case (vals, fs) =>
        var df = scan(fs)
        snap.partitionColumns.zip(vals).foreach { case (c, v) =>
          df = df.withColumn(c, lit(v).cast(snap.schema(c).dataType))
        }
        df
      }.reduce(_ unionAll _)
      .select(snap.schema.fieldNames.map(col).toSeq: _*)
  }
}
