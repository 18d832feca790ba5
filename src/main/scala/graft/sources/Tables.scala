package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.parquet` has shipped `ts` in two physical shapes across driver
  * generations: INT64 TIMESTAMP(NANOS) (readable only with
  * `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as nanosecond
  * Longs) and plain TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ under
  * Spark's NTZ inference). Both are normalized here to the session-zone
  * microsecond timestamp the queries and the DuckDB oracle
  * (`CAST(ts AS TIMESTAMP)`, UTC session) agree on.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // ns-as-long generation
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampType => df
        case _ => // TIMESTAMP_NTZ: same wall-clock instant in the UTC session
          df.withColumn("ts", col("ts").cast("timestamp"))
      }
    else df
  }
}
