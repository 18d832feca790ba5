package graft.core

import org.apache.spark.sql.types.StructType

/** Schema wrapper: Spark `StructType` + the catalog metadata Spark's StructType
  * has no notion of. Mirrors `flink-cdc-common/.../schema/Schema.java:47-100`
  * (ordered columns + primaryKeys + partitionKeys + options + comment).
  */
final case class TableSchema(
    struct: StructType,
    primaryKeys: Seq[String] = Seq.empty,
    partitionKeys: Seq[String] = Seq.empty,
    options: Map[String, String] = Map.empty,
    comment: Option[String] = None) {

  def columnNames: Seq[String] = struct.fieldNames.toSeq
}

object TableSchema {
  def of(struct: StructType): TableSchema = TableSchema(struct)
}
