package graft.operators

import graft.core.TableId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's change-event data plane: a Debezium-style envelope DataFrame
  * (SURVEY.md §1.1 "Spark mapping"). One row per `DataChangeEvent`:
  *
  * {{{
  *   tableId : string               -- source table identifier
  *   op      : string               -- INSERT | UPDATE | REPLACE | DELETE
  *   before  : struct<...>          -- pre-image (null for INSERT)
  *   after   : struct<...>          -- post-image (null for DELETE)
  *   seq     : long                 -- per-table source offset / changelog order
  *   meta    : map<string,string>   -- connector metadata
  * }}}
  *
  * Schema-change events never enter this DataFrame — they ride the driver-side
  * control path (`graft.pipeline.SchemaEvolution`), because Catalyst cannot
  * type a column whose struct schema changes mid-stream.
  */
object Envelope {

  val TableIdCol = "tableId"
  val OpCol = "op"
  val BeforeCol = "before"
  val AfterCol = "after"
  val SeqCol = "seq"
  val MetaCol = "meta"

  /** Reserved metadata column names, mirroring
    * `flink-cdc-runtime/.../parser/metadata/MetadataColumns.java:29-34`.
    */
  val NamespaceName = "__namespace_name__"
  val SchemaName = "__schema_name__"
  val TableName = "__table_name__"
  val DataEventType = "__data_event_type__"
  val MetadataColumns: Seq[String] = Seq(NamespaceName, SchemaName, TableName, DataEventType)

  def envelopeSchema(rowSchema: StructType): StructType = StructType(Seq(
    StructField(TableIdCol, StringType, nullable = false),
    StructField(OpCol, StringType, nullable = false),
    StructField(BeforeCol, rowSchema, nullable = true),
    StructField(AfterCol, rowSchema, nullable = true),
    StructField(SeqCol, LongType, nullable = false),
    StructField(MetaCol, MapType(StringType, StringType), nullable = true)))

  /** Wrap a plain table snapshot as a stream of INSERT events. */
  def fromSnapshot(df: DataFrame, tableId: TableId, seqCol: Column): DataFrame = {
    val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    val rowType = StructType(df.schema.fields)
    df.select(
      lit(tableId.identifier).as(TableIdCol),
      lit("INSERT").as(OpCol),
      lit(null).cast(rowType).as(BeforeCol),
      rowStruct.as(AfterCol),
      seqCol.cast(LongType).as(SeqCol),
      map().cast(MapType(StringType, StringType)).as(MetaCol))
  }

  /** Build an envelope from a DataFrame that already has `op` and `seq`
    * columns plus the payload columns: `before` is populated for
    * UPDATE/REPLACE/DELETE, `after` for everything but DELETE. Used by the
    * test fixtures and by the changelog-derivation queries.
    */
  def fromChangelog(
      df: DataFrame,
      tableId: TableId,
      opCol: Column,
      seqCol: Column,
      payloadCols: Seq[String]): DataFrame = {
    val rowStruct = struct(payloadCols.map(col).toIndexedSeq: _*)
    val op = opCol.cast(StringType)
    df.select(
      lit(tableId.identifier).as(TableIdCol),
      op.as(OpCol),
      when(op.isin("UPDATE", "REPLACE", "DELETE"), rowStruct).as(BeforeCol),
      when(op =!= "DELETE", rowStruct).as(AfterCol),
      seqCol.cast(LongType).as(SeqCol),
      map().cast(MapType(StringType, StringType)).as(MetaCol))
  }

  /** `__data_event_type__` values are the reference's per-image RowKind
    * tokens (`DataChangeEvent.opTypeString:82-93`,
    * `FlinkPipelineTransformITCase.testConvertDeleteAsInsert` expects `+I`,
    * `-U`/`+U`, `-D`), NOT full op names. REPLACE (absent from the
    * reference's op set — its opTypeString throws on it) renders as the
    * upsert after-image token instead of faulting the pipeline.
    */
  def opTypeToken(op: Column, isAfter: Boolean): Column =
    when(op === "INSERT", lit("+I"))
      .when(op === "UPDATE", lit(if (isAfter) "+U" else "-U"))
      .when(op === "DELETE", lit("-D"))
      .otherwise(lit("+U"))

  /** `SoftDeleteConverter` (`transform/converter/SoftDeleteConverter.java:28-40`):
    * rewrite DELETE into an INSERT of the before-image so soft-delete sinks keep
    * the row; all other events pass through unchanged.
    */
  def softDelete(env: DataFrame): DataFrame = {
    val isDelete = col(OpCol) === "DELETE"
    env
      .withColumn(AfterCol, when(isDelete, col(BeforeCol)).otherwise(col(AfterCol)))
      .withColumn(BeforeCol, when(isDelete, lit(null).cast(env.schema(BeforeCol).dataType))
        .otherwise(col(BeforeCol)))
      .withColumn(OpCol, when(isDelete, lit("INSERT")).otherwise(col(OpCol)))
  }
}
