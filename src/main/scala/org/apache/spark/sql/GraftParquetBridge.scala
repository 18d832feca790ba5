package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Second (and last) `private[sql]`-adjacent door: the vectorized parquet
  * reader as a per-file closure. Spark's own file sources plan scans as
  * `FileFormat.buildReaderWithPartitionValues` → one serializable
  * `PartitionedFile => Iterator[InternalRow]` shipped to executors
  * (`FileScanRDD`); an out-of-tree DSv2 `Batch` that wants the SAME
  * vectorized read path (and not a hand-rolled row decoder) needs that
  * closure built driver-side. This bridge builds it and re-exposes it keyed
  * by plain `(path, fileSize)` so nothing else crosses the package boundary.
  *
  * The returned iterator may yield `ColumnarBatch` disguised as
  * `InternalRow` when whole-stage batch reading kicks in — exactly as
  * Spark's `DataSourceRDD` handles it; callers must flatten (see
  * [[graft.sinks.LakehouseBucketed]]'s reader).
  */
object GraftParquetBridge {

  /** Serializable per-file reader factory. Build on the driver; call on
    * executors. */
  final class FileReader private[GraftParquetBridge] (
      reader: PartitionedFile => Iterator[InternalRow])
      extends ((String, Long) => Iterator[InternalRow]) with Serializable {
    override def apply(path: String, fileSize: Long): Iterator[InternalRow] =
      reader(PartitionedFile(
        InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        0L,
        fileSize,
        Array.empty[String]))
  }

  def parquetReader(
      spark: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType): FileReader = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fmt = new ParquetFileFormat()
    val hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty)
    // Spark 4 requires the caller to declare whether the reader may return
    // ColumnarBatches; answer with the format's own capability check
    val batches = fmt.supportBatch(classic, requiredSchema)
    new FileReader(fmt.buildReaderWithPartitionValues(
      classic,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = Seq.empty,
      options = Map(
        org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH ->
          batches.toString),
      hadoopConf = hadoopConf))
  }

  /** A DataFrame over the parquet `files` (absolute local paths), read
    * under `schema`, or under the union of their footers when `schema` is
    * None (one inference job). Spark's reader lists every path it is
    * given, and it lists in a Spark job once there are more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths; a
    * table format that already knows its live files builds the relation
    * from their statuses here and lists nothing. `_metadata` columns work
    * as on any file scan. */
  def parquetFiles(spark: SparkSession, files: Seq[String], schema: Option[StructType])
      : DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val statuses = files.map { f =>
      val file = new java.io.File(f)
      // a vanished file must fail the read, not read as an empty one
      if (!file.isFile) throw new java.io.FileNotFoundException(s"parquet file $f does not exist")
      new FileStatus(file.length, false, 1, 0L, 0L, new Path(file.toURI))
    }
    val known = statuses.map(s => s.getPath -> Array(s)).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val format = new ParquetFileFormat()
    // nullable, as every file source reads: a column a file lacks reads null
    val dataSchema = schema.getOrElse(
      format.inferSchema(classic, Map("mergeSchema" -> "true"), statuses).getOrElse(
        throw new IllegalStateException(s"no parquet schema in ${files.take(3).mkString(", ")}")))
      .asNullable
    val index = new InMemoryFileIndex(classic, statuses.map(_.getPath), Map.empty,
      Some(dataSchema), cache)
    classic.baseRelationToDataFrame(
      HadoopFsRelation(index, StructType(Nil), dataSchema, None, format, Map.empty)(classic))
  }
}
