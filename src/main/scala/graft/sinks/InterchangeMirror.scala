package graft.sinks

import graft.core.TableSchema
import graft.sinks.LakehouseFormat.{AddFile, EqualityDeleteFile, Meta, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}

/** The incremental-mirror loop shared by the Delta, Iceberg and Paimon
  * interchange formats, plus the helpers all three repeat.
  *
  * One invariant drives every mirror: sink progress is recorded in the
  * target's OWN log (a Delta `txn`, an Iceberg table property, Paimon's
  * `commitIdentifier`), so a call after a crash or a no-op resumes from
  * the recorded lakehouse version and re-applies idempotently — no
  * side-channel state. [[run]] owns the walk `(lastMirrored + 1) to head`,
  * the meta and partition-key pins, and the diff of consecutive lakehouse
  * snapshots; a [[Format]] owns only its commit writer, its manifest or
  * action codec, how it records a version that changed no files, and its
  * maintenance.
  *
  * An export is the same writer's first commit: [[Format.export]] hands
  * it one diff from nothing to the head snapshot, so the destination it
  * leaves is a mirror that a later `mirror` call continues.
  */
private[sinks] object InterchangeMirror {

  /** Maintenance options a mirror sink can set (0 = off). */
  val CheckpointEvery = "checkpoint.every"
  val SnapshotsKeep = "snapshots.keep"
  val FullCompactionEvery = "full-compaction.delta-commits"

  /** One table's maintenance settings plus the cadence state the sink
    * keeps between calls. The compaction counter is in-memory: a restart
    * delays the next compaction by at most one cycle, which is maintenance
    * cadence, not correctness. */
  final class Maintenance(settings: Map[String, Int]) {
    def apply(option: String): Int = settings.getOrElse(option, 0)
    var sinceCompaction = 0
  }

  /** Lakehouse version `version` against `prev`, the last version the
    * destination holds (None: an empty destination). A mirror diffs
    * consecutive versions; an export diffs the head against nothing. Files
    * list in commit order, then by path: every lakehouse commit writes
    * under a random `data-<uuid>` directory, so a diff over several commits
    * ordered by path alone would list them in a random order. */
  final class VersionDiff(table: LakehouseTable, val version: Long,
      val prev: Option[Snapshot], val cur: Snapshot, val meta: Meta) {
    def schema: TableSchema = meta.schema
    def struct: StructType = schema.struct
    def partitionKeys: Seq[String] = schema.partitionKeys
    def partitioned: Boolean = partitionKeys.nonEmpty

    val adds: Seq[AddFile] = {
      val before = prev.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      cur.files.filterNot(f => before.contains(f.path)).sortBy(f => (f.ver, f.path))
    }
    val removes: Seq[AddFile] = {
      val after = cur.files.map(_.path).toSet
      prev.map(_.files.filterNot(f => after.contains(f.path))).getOrElse(Nil)
        .sortBy(f => (f.ver, f.path))
    }
    /** MERGE-ON-READ delete files new at / dropped by this version. */
    val delAdds: Seq[EqualityDeleteFile] = {
      val before = prev.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
      cur.deleteFiles.filterNot(f => before.contains(f.path)).sortBy(f => (f.ver, f.path))
    }
    val delRemoves: Seq[EqualityDeleteFile] = {
      val after = cur.deleteFiles.map(_.path).toSet
      prev.map(_.deleteFiles.filterNot(f => after.contains(f.path))).getOrElse(Nil)
        .sortBy(f => (f.ver, f.path))
    }
    def filesChanged: Boolean =
      adds.nonEmpty || removes.nonEmpty || delAdds.nonEmpty || delRemoves.nonEmpty
    /** The table's own txn actions this version recorded. */
    val newTxns: Seq[(String, Long)] = {
      val before = prev.map(_.txns).getOrElse(Map.empty)
      cur.txns.toSeq.filter { case (a, v) => !before.get(a).contains(v) }.sortBy(_._1)
    }
    def schemaChanged: Boolean = !prev.flatMap(_.meta).map(_.schema.struct).contains(struct)
    /** Row-level change files of a changelog table's commit. Only a diff
      * that spans exactly one version has them: the change files of one
      * commit describe that commit, not a jump over several. */
    lazy val changeFiles: Seq[String] =
      if (meta.changelog && prev.fold(-1L)(_.version) == version - 1)
        table.changeFilesOf(version)
      else Seq.empty
  }

  /** One destination, opened for one mirror call. */
  trait Writer {
    /** The last lakehouse version the destination recorded; -1 when empty. */
    def lastMirrored: Long
    /** Record one lakehouse version: a commit, a snapshot, or nothing. */
    def write(d: VersionDiff): Unit
    /** Close the call; returns the number of destination commits written. */
    def finish(head: Long): Int
  }

  /** What differs between the interchange formats. */
  trait Format {
    /** The maintenance options [[maintain]] runs. */
    def maintenance: Set[String]
    def open(spark: SparkSession, table: LakehouseTable, destDir: String): Writer
    def maintain(spark: SparkSession, destDir: String, written: Int, m: Maintenance): Unit

    final def mirror(spark: SparkSession, table: LakehouseTable, destDir: String): Int =
      run(spark, table, destDir, this)

    /** Write the table's head snapshot into an empty destination as the
      * mirror's first commit. Refuses MERGE-ON-READ delete files: in one
      * diff over the whole history a delete file would land at the same
      * sequence as the rows it masks, and dropping it would resurrect
      * deleted rows. Refuses a destination that already records a
      * mirrored version too. */
    final def export(spark: SparkSession, table: LakehouseTable, destDir: String): Unit = {
      val head = table.latestVersion()
      require(head >= 0, "cannot export a table with no commits")
      val d = diff(table, head, None)
      require(d.cur.deleteFiles.isEmpty,
        "export requires a compacted table: run compact() so MERGE-ON-READ " +
          "deletes are materialized into rewritten data files")
      val w = open(spark, table, destDir)
      require(w.lastMirrored < 0,
        s"$destDir already records mirrored lakehouse version ${w.lastMirrored} — " +
          "export writes into an empty destination; mirror continues one")
      w.write(d)
      w.finish(head)
    }

    /** Mirror, then run the maintenance `m` asks for. */
    final def sync(spark: SparkSession, table: LakehouseTable, destDir: String,
        m: Maintenance): Unit =
      maintain(spark, destDir, mirror(spark, table, destDir), m)
  }

  /** Mirror every lakehouse version past the one the destination recorded,
    * in order, one [[VersionDiff]] each. Returns the destination commits
    * written; 0 when the destination is already at the head. */
  private def run(spark: SparkSession, table: LakehouseTable, destDir: String,
      format: Format): Int = {
    val head = table.latestVersion()
    require(head >= 0, "cannot mirror a table with no commits")
    val w = format.open(spark, table, destDir)
    if (w.lastMirrored >= head) return 0
    var prev = if (w.lastMirrored < 0) None else Some(table.snapshot(Some(w.lastMirrored)))
    // the partition layout is pinned on the first mirrored version: it is
    // fixed for the table's life in every format
    var pinned: Option[Seq[String]] = None
    ((w.lastMirrored + 1) to head).foreach { v =>
      val d = diff(table, v, prev)
      pinned.foreach(pk => require(pk == d.partitionKeys,
        s"partition keys cannot evolve mid-mirror ($pk -> ${d.partitionKeys}) — " +
          "the partition layout is fixed at table creation; refusing"))
      pinned = Some(d.partitionKeys)
      w.write(d)
      prev = Some(d.cur)
    }
    w.finish(head)
  }

  /** Lakehouse version `v` against `prev`, its partition columns checked.
    * Every writer (mirror and export alike) gets its diffs here, so this is
    * where a version with deletion vectors is refused: a file re-added with
    * a vector is live before and after, a diff by path does not see its
    * newly dead rows, and a mirror would keep them. */
  private def diff(table: LakehouseTable, v: Long, prev: Option[Snapshot]): VersionDiff = {
    val cur = table.snapshot(Some(v))
    require(cur.files.forall(_.dv.isEmpty),
      s"lakehouse version $v carries deletion vectors, which the interchange " +
        "writers do not pass through: run compact() so they are materialized " +
        "into rewritten data files, then mirror or export")
    val meta = cur.meta.getOrElse(
      throw new IllegalStateException("table has no meta action (not created)"))
    requirePartitionTypes(meta.schema.struct, meta.schema.partitionKeys)
    new VersionDiff(table, v, prev, cur, meta)
  }

  /** Partition columns must exist and have a type whose partition-value
    * string round trips unambiguously (what the importers cast back);
    * everything else refuses loudly. */
  def requirePartitionTypes(struct: StructType, partitionKeys: Seq[String]): Unit =
    partitionKeys.foreach { c =>
      require(struct.fieldNames.contains(c), s"partition column '$c' is not in the schema")
      require(Seq(IntegerType, LongType, StringType, BooleanType).contains(struct(c).dataType),
        s"partition column '$c': type ${struct(c).dataType} has no " +
          "partition-value serialization here — refusing")
    }

  /** Footer-only row counts for parquet files, keyed by absolute path (a
    * parquet count() never touches row data). */
  def countRows(spark: SparkSession, paths: Seq[String]): Map[String, Long] =
    if (paths.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.input_file_name
      spark.read.parquet(paths: _*)
        .groupBy(input_file_name().as("f")).count().collect()
        .map(r => (new java.net.URI(r.getString(0)).getPath, r.getLong(1))).toMap
    }

  /** Rows of each lakehouse file by its relative path: merge-written
    * files carry `-1` (unknown) in the lakehouse log, and those resolve
    * with one footer-only count pass. */
  def resolveRowCounts(spark: SparkSession, tableDir: String,
      files: Seq[AddFile]): Map[String, Long] = {
    def abs(f: AddFile) = Paths.get(tableDir, f.path).toAbsolutePath.toString
    val counted = countRows(spark, files.filter(_.rows < 0).map(abs))
    files.map { f =>
      f.path -> (if (f.rows >= 0) f.rows
                 else counted.getOrElse(abs(f),
                   throw new IllegalStateException(s"no footer count for ${f.path}")))
    }.toMap
  }

  /** The reachability sweep of snapshot expiry: delete every manifest
    * list of an expired snapshot, every manifest only those lists
    * reference, and every data file only those manifests reference. A
    * retained list keeps its manifests, and `keptData` of a retained
    * manifest keeps its files. Returns (manifest + list files deleted,
    * data files deleted). */
  def sweepExpired[M](keptLists: Seq[Path], expiredLists: Seq[Path],
      manifestsOf: Path => Seq[M], manifestPath: M => Path,
      keptData: M => Seq[Path], expiredData: M => Seq[Path]): (Int, Int) = {
    val keepLists = keptLists.toSet
    val keepManifests = keptLists.distinct.flatMap(manifestsOf).distinct
    val keepManifestPaths = keepManifests.map(manifestPath).toSet
    val keepData = keepManifests.flatMap(keptData).toSet
    var metaDeleted = 0
    var dataDeleted = 0
    expiredLists.filterNot(keepLists.contains).foreach { lp =>
      manifestsOf(lp).foreach { m =>
        val mp = manifestPath(m)
        if (!keepManifestPaths.contains(mp) && Files.exists(mp)) {
          expiredData(m).foreach { dp =>
            if (!keepData.contains(dp) && Files.deleteIfExists(dp)) dataDeleted += 1
          }
          Files.delete(mp); metaDeleted += 1
        }
      }
      if (Files.deleteIfExists(lp)) metaDeleted += 1
    }
    (metaDeleted, dataDeleted)
  }
}
