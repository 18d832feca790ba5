package graft.sinks

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Paths

/** Pipeline-facing Delta / Iceberg / Paimon sink (the reference ships
  * `flink-cdc-pipeline-connector-iceberg/` and `.../paimon/` as first-class
  * `sink.type`s): CDC batches merge into an internal [[LakehouseTable]]
  * under `<path>/_staging/<table>` (buckets, copy-on-write merge — the
  * mirrors diff files by path, so the inner tables write no deletion
  * vectors — txn exactly-once),
  * and after every batch/DDL the table mirrors incrementally into the open
  * wire format at `<path>/<table>` — `_delta_log` commits, Iceberg v2
  * snapshots, or Paimon snapshot/manifest files — so an external reader of
  * that format tails the pipeline's output at the pipeline's own commit
  * granularity.
  *
  * Metadata maintenance runs inline, because a standing pipeline writes
  * one interchange commit per micro-batch forever:
  *  - `delta` + `checkpoint.every=N`: a classic checkpoint + `cleanupLog`
  *    whenever N commit JSONs accumulate past the last checkpoint.
  *  - `iceberg` / `paimon` + `snapshots.keep=N`: `expireSnapshots(N)` per
  *    sync (a no-op while history is short).
  *  - `paimon` + `full-compaction.delta-commits=N`: a full LSM compaction
  *    every N mirrored snapshots.
  * A maintenance option the format does not run is refused at
  * construction rather than silently ignored.
  *
  * Exactly-once riding through: batch tracking uses the inner lakehouse
  * `txn` action. The Delta mirror forwards the txn actions themselves;
  * every mirror records the lakehouse version it reflects (Delta `txn`,
  * Iceberg table property, Paimon `commitIdentifier`), and that version's
  * txns are durable.
  */
final class MirroredLakehouseSink(
    spark: SparkSession,
    rootDir: String,
    format: String, // "delta" | "iceberg" | "paimon"
    buckets: Int = 16,
    mergeEngine: String = "last-wins",
    checkpointEvery: Int = 0,
    snapshotsKeep: Int = 0,
    fullCompactionEvery: Int = 0)
    extends DataSink {

  private val mirrorFormat: InterchangeMirror.Format = format match {
    case "delta" => DeltaInterchange.MirrorFormat
    case "iceberg" => IcebergInterchange.MirrorFormat
    case "paimon" => PaimonInterchange.MirrorFormat
    case _ => throw new IllegalArgumentException(s"unknown mirror format $format")
  }

  private val settings = Map(
    InterchangeMirror.CheckpointEvery -> checkpointEvery,
    InterchangeMirror.SnapshotsKeep -> snapshotsKeep,
    InterchangeMirror.FullCompactionEvery -> fullCompactionEvery).filter(_._2 != 0)
  settings.keys.foreach(o => require(mirrorFormat.maintenance.contains(o),
    s"$o is not maintenance the $format mirror runs (it runs " +
      s"${mirrorFormat.maintenance.toSeq.sorted.mkString(", ")}) — refusing " +
      "rather than ignoring it"))

  private val maintenance =
    scala.collection.mutable.Map.empty[TableId, InterchangeMirror.Maintenance]

  private val inner = new LakehouseSink(
    spark, Paths.get(rootDir, "_staging").toString, buckets,
    collectStats = true, changelog = false, mergeEngine = mergeEngine,
    deletionVectors = false)

  def table(t: TableId): LakehouseTable = inner.table(t)

  /** The externally-readable Delta/Iceberg directory of one sink table. */
  def mirrorDir(t: TableId): String =
    Paths.get(rootDir, t.identifier.replace('.', '_')).toString

  private def sync(t: TableId): Unit =
    mirrorFormat.sync(spark, inner.table(t), mirrorDir(t),
      maintenance.getOrElseUpdate(t, new InterchangeMirror.Maintenance(settings)))

  override def applySchemaChange(event: SchemaChangeEvent): Unit = {
    inner.applySchemaChange(event)
    event match {
      case d: DropTableEvent =>
        // the inner staging table restarts at version 0 if the table is
        // later recreated; a surviving mirror directory would then either
        // keep serving the dropped table's data or diff new-table versions
        // against the old head's recorded progress — delete it so a
        // recreate mirrors from scratch
        val dir = java.nio.file.Paths.get(mirrorDir(d.tableId))
        if (java.nio.file.Files.exists(dir))
          java.nio.file.Files.walk(dir)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.delete(p))
      case e => sync(e.tableId)
    }
  }

  override def writeBatch(t: TableId, upserts: DataFrame, deletedKeys: DataFrame): Unit = {
    inner.writeBatch(t, upserts, deletedKeys)
    sync(t)
  }

  override def writeBatch(
      t: TableId, upserts: DataFrame, deletedKeys: DataFrame,
      batchId: Long, runId: String): Unit = {
    inner.writeBatch(t, upserts, deletedKeys, batchId, runId)
    sync(t)
  }

  override def lastCommittedBatch(t: TableId, runId: String): Option[Long] =
    inner.lastCommittedBatch(t, runId)

  override def schemaOf(t: TableId): Option[TableSchema] = inner.schemaOf(t)
}
