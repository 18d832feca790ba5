package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform, Expression => VExpr}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import java.util

/** BUCKET-AWARE batch reads for lakehouse PK tables: a DSv2 catalog whose
  * scans report `KeyGroupedPartitioning(bucket(n, pks), n)` — one input
  * partition per PK-hash bucket, partition key = the bucket id — so Catalyst
  * plans joins between two same-bucketed tables as a STORAGE-PARTITIONED
  * JOIN and aggregations on the PK with NO exchange at all: the layout the
  * MERGE path maintains (`bucketOf` = pmod(murmur3(pks), n)) is surfaced to
  * the optimizer instead of being re-shuffled on every read.
  *
  * This is the 100 TB read-side payoff of bucketing: a fact-fact co-located
  * join that would shuffle twice runs shuffle-free, and the per-bucket scan
  * rides Spark's own vectorized parquet reader (via
  * [[org.apache.spark.sql.GraftParquetBridge]]) — not a hand-rolled decoder.
  *
  * Usage: `LakehouseBucketed.table(spark, dir)` (registers the catalog +
  * enables `spark.sql.sources.v2.bucketing.enabled`, both idempotent).
  *
  * Scope (all loud, none silent): PK tables only; outstanding MOR delete
  * files must be compacted first (a per-bucket scan cannot anti-join them
  * without reintroducing a shuffle); deletion vectors apply inside the
  * per-file read (a position filter, no shuffle); files carrying
  * pre-evolution schemas read under the declared schema (missing columns
  * null, as everywhere).
  */
object LakehouseBucketed {

  val CatalogName = "graft_lakehouse"

  /** Bucketed DataFrame over the table at `dir`. Joins between two tables
    * read this way with the same bucket count skip the shuffle; groupBy on
    * the PK aggregates without an exchange. */
  def table(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set(
      s"spark.sql.catalog.$CatalogName", classOf[LakehouseBucketedCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.table(s"$CatalogName.`$dir`")
  }

  /** The same pmod(murmur3(pks, seed 42), n) the write path's `bucketOf`
    * computes with Spark's `hash()` — one definition, asserted equal by
    * LakehouseBucketedSpec, so the reported partitioning can never drift
    * from the physical layout. */
  private[sinks] def bucketOf(values: Seq[(Any, DataType)], n: Int): Int = {
    val h = values.foldLeft(42L) { case (acc, (v, dt)) =>
      Murmur3HashFunction.hash(v, dt, acc)
    }.toInt
    ((h % n) + n) % n
  }
}

/** `bucket(numBuckets, pk...)` as a V2 bound function: what resolves the
  * scan-reported transform during `V2ScanPartitioningAndOrdering`. The
  * function body recomputes the write path's bucket id (murmur3 fold, seed
  * 42, pmod) so Spark could even re-bucket an unpartitioned join side. */
private[sinks] final class GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "graft lakehouse PK-hash bucket"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket(numBuckets, cols...) needs at least 2 args, got ${inputType.simpleString}")
    new GraftBucketBound(inputType.fields.map(_.dataType))
  }
}

private[sinks] final class GraftBucketBound(types: Array[DataType])
    extends ScalarFunction[Int] {
  override def inputTypes(): Array[DataType] = types
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.lakehouse.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Int = {
    val n = input.getInt(0)
    val vals = (1 until types.length).map(i => (input.get(i, types(i)), types(i)))
    LakehouseBucketed.bucketOf(vals, n)
  }
}

/** TableCatalog + FunctionCatalog: identifiers are table DIRECTORIES
  * (backtick-quoted paths), functions expose [[GraftBucketUnbound]]. Read
  * only — writes go through [[LakehouseTable]]'s merge/append. */
final class LakehouseBucketedCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName = LakehouseBucketed.CatalogName
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(ns: Array[String]): Array[Identifier] = Array.empty
  override def loadTable(ident: Identifier): Table = {
    val dir = (ident.namespace() :+ ident.name()).mkString(".")
    val spark = SparkSession.active
    val t = new LakehouseTable(spark, dir)
    val snap = t.snapshot()
    require(snap.meta.nonEmpty, s"no lakehouse table at $dir")
    require(snap.schema.primaryKeys.nonEmpty,
      s"bucketed read requires a PK table (append tables hash ALL columns): $dir")
    require(snap.deleteFiles.isEmpty,
      s"bucketed read requires no outstanding MOR delete files (run compact()): $dir")
    new LakehouseBucketedTable(dir, snap)
  }
  override def createTable(
      i: Identifier, s: StructType, p: Array[Transform],
      props: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("read-only catalog; write via LakehouseTable")
  override def alterTable(i: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("read-only catalog")
  override def dropTable(i: Identifier): Boolean = false
  override def renameTable(a: Identifier, b: Identifier): Unit =
    throw new UnsupportedOperationException("read-only catalog")

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") new GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

private[sinks] final class LakehouseBucketedTable(
    dir: String,
    snap: LakehouseFormat.Snapshot) extends Table with SupportsRead {
  override def name(): String = dir
  override def schema(): StructType = snap.schema.struct
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(snap.buckets, snap.schema.primaryKeys: _*))
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LakehouseBucketedScanBuilder(dir, snap)
}

private[sinks] final class LakehouseBucketedScanBuilder(
    dir: String,
    snap: LakehouseFormat.Snapshot)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = snap.schema.struct
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve declared column order; Spark may hand a reordered subset
    required = StructType(
      snap.schema.struct.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new LakehouseBucketedScan(dir, snap, required)
}

private[sinks] final class LakehouseBucketedScan(
    dir: String,
    snap: LakehouseFormat.Snapshot,
    required: StructType)
    extends Scan with Batch with SupportsReportPartitioning with SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"GraftLakehouseBucketed $dir"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array[VExpr](Expressions.bucket(snap.buckets, snap.schema.primaryKeys: _*)),
      snap.buckets)

  /** PK-ascending ordering, reported ONLY when the layout actually delivers
    * it: every bucket holds at most one live file and every live file was
    * written PK-sorted (compact's clustering). A merge join over two such
    * tables then skips the per-partition Sort too — zero shuffle, zero sort.
    * Merge-written (unsorted) files or fragmented buckets report nothing;
    * Spark re-inserts the Sort, never trusting a stale claim. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val clustered = snap.files.nonEmpty &&
      snap.files.forall(_.sorted) &&
      snap.files.groupBy(_.bucket).values.forall(_.size == 1)
    if (!clustered) Array.empty
    else snap.schema.primaryKeys.map(pk =>
      Expressions.sort(
        Expressions.identity(pk),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    (0 until snap.buckets).map { b =>
      val files = snap.files.filter(_.bucket == b)
        .map { f =>
          val p = java.nio.file.Paths.get(dir, f.path)
          LakehouseBucketFile(p.toString, java.nio.file.Files.size(p), f.dv.map(_.descriptor(dir)))
        }
      LakehouseBucketPartition(b, files.toArray)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val reader = org.apache.spark.sql.GraftParquetBridge.parquetReader(
      SparkSession.active, snap.schema.struct, required)
    new LakehouseBucketReaderFactory(reader)
  }
}

/** One data file of a bucket, with its deletion vector if it has one. */
private[sinks] final case class LakehouseBucketFile(
    path: String,
    size: Long,
    dv: Option[DeltaReaderFeatures.DvDescriptor])

private[sinks] final case class LakehouseBucketPartition(
    bucket: Int,
    files: Array[LakehouseBucketFile])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

private[sinks] final class LakehouseBucketReaderFactory(
    reader: org.apache.spark.sql.GraftParquetBridge.FileReader)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LakehouseBucketPartition]
    // flatten: the vectorized path yields ColumnarBatch disguised as
    // InternalRow (the FileScanRDD contract)
    import scala.jdk.CollectionConverters._
    val rows: Iterator[InternalRow] = part.files.iterator.flatMap { f =>
      // erase before matching: a lambda typed InternalRow would checkcast
      // the disguised ColumnarBatch at entry and defeat the match
      val all = reader(f.path, f.size).asInstanceOf[Iterator[Any]].flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r => Iterator.single(r.asInstanceOf[InternalRow])
      }
      // the reader pushes no filter, so rows arrive in file order: the
      // running index is the row position a deletion vector marks
      f.dv.map(_.load()).fold(all) { dead =>
        all.zipWithIndex.collect { case (r, i) if !dead.contains(i.toLong) => r }
      }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
