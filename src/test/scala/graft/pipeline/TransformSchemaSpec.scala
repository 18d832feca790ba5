package graft.pipeline

import graft.SparkTestBase
import graft.core._
import graft.sinks.MemoryDatabase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The CREATE schema a transformed sink table gets
  * (`PipelineComposer.transformedSchema`): column names, types, nullability
  * and field metadata (the comment and the TIME-precision tag) for one rule
  * per projection feature — wildcard, rename, shading with a type change,
  * non-aliased expressions, reserved and source-defined metadata columns,
  * decimal arithmetic, time-tagged and dashed columns, the now-family.
  */
class TransformSchemaSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestBase.spark

  private val src = TableId.of("app", "t")

  private val sourceSchema = TableSchema(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType).withComment("name column"),
    StructField("age", IntegerType),
    StructField("price", DecimalType(10, 2)),
    StructField("tm", IntegerType, nullable = true, new MetadataBuilder()
      .putLong(graft.functions.DialectCastExpr.TimeTypeKey, 3L).build()),
    StructField("dash-col", StringType))), primaryKeys = Seq("id"))

  /** `name | type | nullable | metadata` per column of the derived schema */
  private def derived(projection: String, primaryKeys: Option[String]): Seq[String] = {
    val pdef = YamlPipelineParser.parse(
      s"""source:
         |  type: values
         |sink:
         |  type: values
         |transform:
         |  - source-table: app.t
         |    projection: "$projection"
         |""".stripMargin +
        primaryKeys.fold("")(k => s"    primary-keys: $k\n"))
    new PipelineComposer(pdef, new MemoryDatabase)
      .transformedSchema(src, sourceSchema).struct.fields.toSeq
      .map(f => s"${f.name} | ${f.dataType.sql} | ${f.nullable} | ${f.metadata.json}")
  }

  private val comment = """{"comment":"name column"}"""
  private val timeTag = """{"graft.cdc.time.precision":3}"""

  private val cases: Seq[(String, Option[String], Seq[String])] = Seq(
    ("*", None, Seq(
      "id | BIGINT | false | {}",
      s"name | STRING | true | $comment",
      "age | INT | true | {}",
      "price | DECIMAL(10,2) | true | {}",
      s"tm | INT | true | $timeTag",
      "dash-col | STRING | true | {}")),
    ("id, name AS new_name", None, Seq(
      "id | BIGINT | false | {}",
      s"new_name | STRING | true | $comment")),
    ("*, 0.5 + CAST(age AS DOUBLE) AS age", None, Seq(
      "id | BIGINT | false | {}",
      s"name | STRING | true | $comment",
      "age | DOUBLE | true | {}",
      "price | DECIMAL(10,2) | true | {}",
      s"tm | INT | true | $timeTag",
      "dash-col | STRING | true | {}")),
    ("id, UPPER(name)", None, Seq(
      "id | BIGINT | false | {}",
      "UPPER(name) | STRING | true | {}")),
    ("id, __table_name__, __data_event_type__ AS evt", None, Seq(
      "id | BIGINT | false | {}",
      "__table_name__ | STRING | false | {}",
      "evt | STRING | false | {}")),
    ("id, `op_ts` AS opts, `shard-id`", None, Seq(
      "id | BIGINT | false | {}",
      "opts | BIGINT | true | {}",
      "shard-id | STRING | true | {}")),
    ("id, price * 2 AS p2, price + price AS p3", None, Seq(
      "id | BIGINT | false | {}",
      "p2 | DECIMAL(12,2) | true | {}",
      "p3 | DECIMAL(11,2) | true | {}")),
    ("id, tm, tm AS tm2", None, Seq(
      "id | BIGINT | false | {}",
      s"tm | INT | true | $timeTag",
      s"tm2 | INT | true | $timeTag")),
    ("id, `dash-col`, UPPER(`dash-col`) AS dc", None, Seq(
      "id | BIGINT | false | {}",
      "dash-col | STRING | true | {}",
      "dc | STRING | true | {}")),
    ("id, NOW() AS n, TO_TIMESTAMP('2024-01-01 00:00:00') AS t0", None, Seq(
      "id | BIGINT | false | {}",
      "n | TIMESTAMP | false | {}",
      "t0 | TIMESTAMP_NTZ | true | {}")),
    // a later alias shades an earlier column IN PLACE, and the sibling
    // rename reads the original; the primary-key override makes name2
    // NOT NULL
    ("name, name AS name2, UPPER(name) AS name", Some("name2"), Seq(
      "name | STRING | true | {}",
      s"name2 | STRING | false | $comment")))

  cases.foreach { case (projection, primaryKeys, expected) =>
    test(s"derived sink schema: $projection") {
      assert(derived(projection, primaryKeys) == expected)
    }
  }
}
