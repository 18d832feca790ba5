package graft.sources.postgres

import graft.operators.Envelope
import graft.sources.debezium.DebeziumFileSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Offline reader for captured Debezium POSTGRES wire records — the
  * logical-decoding sibling of [[graft.sources.debezium.DebeziumFileSource]]
  * (same topology: a directory of JSON-lines topic dumps parsed
  * distributively via `from_json` over `spark.read.text`, so a 100 TB
  * capture parses at scan speed with no per-row deserializer and no driver
  * loop). What differs is everything Postgres-specific:
  *
  *  - the `source` block carries `(db, schema, table, txId, lsn, xmin)`
  *    instead of binlog coordinates (`io.debezium.connector.postgresql
  *    .SourceInfo`; the reference's offset keys in
  *    `PostgresOffset.java:52-63` are exactly `lsn`/`txId`/`ts_usec`);
  *  - the changelog sequence IS the LSN — one int64, already total-ordered
  *    (`PostgresOffset.java:97-101` compares by LSN alone), no coordinate
  *    packing;
  *  - table identity is three-part `db.schema.table` (SURVEY §1:
  *    Postgres = database.schema.table);
  *  - op `r` marks snapshot reads exactly as in the MySQL stream.
  */
object PostgresWireFormat {

  /** Debezium Postgres `source` struct (`io.debezium.connector.postgresql.SourceInfo`). */
  val sourceStruct: StructType = StructType(Seq(
    StructField("version", StringType), StructField("connector", StringType),
    StructField("name", StringType), StructField("ts_ms", LongType),
    StructField("snapshot", StringType), StructField("db", StringType),
    StructField("schema", StringType), StructField("table", StringType),
    StructField("txId", LongType), StructField("lsn", LongType),
    StructField("xmin", LongType)))

  /** Parse raw record values (string column) into the graft envelope, the
    * way [[DebeziumFileSource.parseRecords]] reads every Debezium
    * connector's records (unknown op codes and unparseable JSON route to
    * [[graft.sinks.KafkaJsonFormats.InvalidOp]]). The LSN is the sequence:
    * already a total-ordered int64; records with no LSN (some snapshot
    * captures) sort first, where a snapshot belongs. */
  def parse(
      raw: DataFrame,
      rowSchema: StructType,
      valueCol: Column = col("value")): DataFrame =
    DebeziumFileSource.parseRecords(raw, valueCol, rowSchema, sourceStruct,
      Seq("db", "schema", "table"), Seq("snapshot", "lsn", "txId", "xmin")) { src =>
      coalesce(src.getField("lsn"), lit(0L))
    }

  /** Read a directory/glob of captured JSON-lines files (one record value
    * per line). Distributed text scan. */
  def read(spark: SparkSession, path: String, rowSchema: StructType): DataFrame =
    parse(spark.read.text(path), rowSchema)

  /** Serialize an envelope frame to full Debezium Postgres wire records (the
    * inverse of [[parse]]) — fixture author + re-publisher in the format any
    * Debezium consumer understands. `lsn`/`txId` columns let the caller pin
    * real WAL coordinates. */
  def wireValue(
      sourceName: String = "graft",
      lsn: Column = col(Envelope.SeqCol),
      txId: Column = col(Envelope.SeqCol)): Column = {
    val parts = split(col(Envelope.TableIdCol), "\\.")
    DebeziumFileSource.wireRecord("postgresql", sourceName, Seq(
      when(size(parts) >= 3, parts.getItem(0)).otherwise(lit("")).as("db"),
      when(size(parts) >= 2, element_at(parts, -2)).otherwise(lit("public")).as("schema"),
      element_at(parts, -1).as("table"),
      txId.as("txId"), lsn.as("lsn"),
      lit(null).cast("long").as("xmin")))
  }
}
