package graft.pipeline

import graft.core._
import graft.operators.{RouteRule, TableIdRouter}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `SchemaDerivatorTest.java` (flink-cdc-runtime/src/test/.../schema/common/)
  * transcribed onto graft's [[TableIdRouter]] + [[SchemaDerivator]]: the
  * routing-topology lookups over the 6-database rule set of
  * `SchemaTestBase.java:38-65`, the per-behavior normalization table, and the
  * merged-CREATE deduction. Reverse lookups are spelled inline
  * (`route(u).contains(sink)`) — the same predicate the reference's static
  * helpers wrap and [[PipelineComposer.deduceForSink]] runs in production.
  */
class SchemaDerivatorSpec extends AnyFunSuite {

  // SchemaTestBase.ROUTING_RULES:38-65 verbatim
  private val router = new TableIdRouter(Seq(
    RouteRule("db_1.table_1", "db_1.table_1"),
    RouteRule("db_1.table_2", "db_1.table_2"),
    RouteRule("db_1.table_3", "db_1.table_3"),
    RouteRule("db_2.table_1", "db_2.table_2"),
    RouteRule("db_2.table_2", "db_2.table_3"),
    RouteRule("db_2.table_3", "db_2.table_1"),
    RouteRule("db_3.table_\\.*", "db_3.table_merged"),
    RouteRule("db_4.table_1", "db_4.table_a"),
    RouteRule("db_4.table_1", "db_4.table_b"),
    RouteRule("db_4.table_1", "db_4.table_c"),
    RouteRule("db_4.table_2", "db_4.table_b"),
    RouteRule("db_4.table_2", "db_4.table_c"),
    RouteRule("db_4.table_3", "db_4.table_c"),
    RouteRule("db_5.table_\\.*", "db_5.prefix_<>_suffix", Some("<>")),
    RouteRule("foo", "bar")))

  private val allUpstream: Set[TableId] =
    (for (db <- 0 to 5; tbl <- 1 to 3) yield TableId.parse(s"db_$db.table_$tbl")).toSet

  private def affected(tables: String*): Set[String] =
    tables.map(TableId.parse).flatMap(router.route).map(_.identifier).toSet

  private def reverseLookup(sink: String): Set[String] = {
    val t = TableId.parse(sink)
    allUpstream.filter(u => router.route(u).contains(t)).map(_.identifier)
  }

  // testGetAffectedEvolvedTables:134
  test("affected evolved tables across routing topologies") {
    assert(affected() == Set.empty)
    // no rule → one-to-one
    assert(affected("db_0.table_1") == Set("db_0.table_1"))
    assert(affected("db_0.table_1", "db_0.table_2") == Set("db_0.table_1", "db_0.table_2"))
    // explicit one-to-one
    assert(affected("db_1.table_1", "db_1.table_2", "db_1.table_3") ==
      Set("db_1.table_1", "db_1.table_2", "db_1.table_3"))
    // twisted one-to-one
    assert(affected("db_2.table_1") == Set("db_2.table_2"))
    assert(affected("db_2.table_2") == Set("db_2.table_3"))
    assert(affected("db_2.table_3") == Set("db_2.table_1"))
    assert(affected("db_2.table_1", "db_2.table_3") == Set("db_2.table_2", "db_2.table_1"))
    // merging
    assert(affected("db_3.table_1") == Set("db_3.table_merged"))
    assert(affected("db_3.table_1", "db_3.table_2", "db_3.table_3") ==
      Set("db_3.table_merged"))
    // broadcasting
    assert(affected("db_4.table_1") == Set("db_4.table_a", "db_4.table_b", "db_4.table_c"))
    assert(affected("db_4.table_2") == Set("db_4.table_b", "db_4.table_c"))
    assert(affected("db_4.table_3") == Set("db_4.table_c"))
    // replacement symbol inside a larger name
    assert(affected("db_5.table_1", "db_5.table_2", "db_5.table_3") ==
      Set("db_5.prefix_table_1_suffix", "db_5.prefix_table_2_suffix",
        "db_5.prefix_table_3_suffix"))
  }

  // testReverseLookupDependingUpstreamTables:222
  test("reverse lookup of depending upstream tables") {
    assert(reverseLookup("db_0.table_1") == Set("db_0.table_1"))
    assert(reverseLookup("db_1.table_2") == Set("db_1.table_2"))
    assert(reverseLookup("db_2.table_1") == Set("db_2.table_3"))
    assert(reverseLookup("db_2.table_2") == Set("db_2.table_1"))
    assert(reverseLookup("db_2.table_3") == Set("db_2.table_2"))
    assert(reverseLookup("db_3.table_merged") ==
      Set("db_3.table_1", "db_3.table_2", "db_3.table_3"))
    assert(reverseLookup("db_4.table_a") == Set("db_4.table_1"))
    assert(reverseLookup("db_4.table_b") == Set("db_4.table_1", "db_4.table_2"))
    assert(reverseLookup("db_4.table_c") ==
      Set("db_4.table_1", "db_4.table_2", "db_4.table_3"))
    assert(reverseLookup("db_5.prefix_table_1_suffix") == Set("db_5.table_1"))
  }

  // TableIdRouterTest.testGroupSourceTablesByRouteRule:89 (the per-route
  // cases :42-87 are the `affected` assertions above — same route() calls):
  // grouping is PER RULE — twelve singleton groups (six 1:1 rules + six
  // single-table broadcast rules, {db_4.table_1} appearing three times),
  // one 3-table group per pattern rule (merge + repsym); the reference
  // keeps the unmatched `foo → bar` rule as an EMPTY group, graft's
  // groupByRule filters it (merged-create deduction skips empties anyway)
  test("group source tables by route rule") {
    val tables = (for (db <- 1 to 5; tbl <- 1 to 3)
      yield TableId.parse(s"db_$db.table_$tbl")).toSet
    val groups = router.groupByRule(tables).map(_.map(_.identifier))
    assert(groups.size == 14)
    assert(groups.count(_.size == 1) == 12)
    assert(groups.count(_ == Set("db_4.table_1")) == 3)
    assert(groups.count(_ == Set("db_4.table_2")) == 2)
    assert(groups.contains(Set("db_3.table_1", "db_3.table_2", "db_3.table_3")))
    assert(groups.contains(Set("db_5.table_1", "db_5.table_2", "db_5.table_3")))
  }

  // the normalize fixture (SchemaDerivatorTest:85-92): id INT, name
  // VARCHAR(128), age FLOAT, notes STRING — VARCHAR erases to string here
  private val normalizeSchema = TableSchema(
    StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("age", FloatType),
      StructField("notes", StringType))),
    primaryKeys = Seq("id"))
  private val t = TableId.parse("foo.bar.baz")

  // testNormalizeSchemaChangeEventsInLenientMode:464 — LENIENT strips the
  // add position to LAST, passes alters through, rewrites rename→ADD of the
  // OLD type at LAST, swallows the (nullable) drop, and passes
  // TRUNCATE/DROP TABLE through untouched
  test("LENIENT normalization") {
    val add = AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition(
      "added_flag", CdcTypes.BooleanT(), AddColumnEvent.After("id"))))
    assert(SchemaDerivator.lenientize(add, normalizeSchema) ==
      Seq(AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition(
        "added_flag", CdcTypes.BooleanT())))))

    val alter = AlterColumnTypeEvent(t, Map("age" -> CdcTypes.DoubleT()))
    assert(SchemaDerivator.lenientize(alter, normalizeSchema) == Seq(alter))

    val rename = RenameColumnEvent(t, Map("age" -> "aging"))
    assert(SchemaDerivator.lenientize(rename, normalizeSchema) ==
      Seq(AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition(
        "aging", CdcTypes.FloatT())))))

    assert(SchemaDerivator.lenientize(
      DropColumnEvent(t, Seq("notes")), normalizeSchema) == Seq.empty)

    assert(SchemaDerivator.lenientize(TruncateTableEvent(t), normalizeSchema) ==
      Seq(TruncateTableEvent(t)))
    assert(SchemaDerivator.lenientize(DropTableEvent(t), normalizeSchema) ==
      Seq(DropTableEvent(t)))
  }

  // SchemaDerivatorTest.java:234-239 via ADVICE r16: a rename whose OLD
  // column is missing from the evolved schema must throw the reference's
  // message, not silently drop the mapping
  test("LENIENT rename of a non-existed column refuses") {
    val e = intercept[IllegalArgumentException] {
      SchemaDerivator.lenientize(
        RenameColumnEvent(t, Map("ghost" -> "spirit")), normalizeSchema)
    }
    assert(e.getMessage == "Non-existed column ghost in evolved schema.")
  }

  // SchemaMergingUtils.coerceToDate:874 / coerceToTimestamp:920 — the
  // tolerant coercion additionally accepts a NUMBER as an epoch day into
  // DATE, an ISO string into DATE, and a BIGINT epoch day into TIMESTAMP
  // (start of day); a non-widening DOUBLE→INT still NULLs
  test("tolerant coercion: epoch-day and string date acceptance") {
    val spark = graft.SparkTestBase.spark
    import org.apache.spark.sql.Row
    val src = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(
        Row(19723, 19723L, "2024-01-01", 1.5d))),
      StructType(Seq(
        StructField("d_from_int", IntegerType),
        StructField("ts_from_long", LongType),
        StructField("d_from_str", StringType),
        StructField("refused", IntegerType).copy(dataType = DoubleType))))
    val target = StructType(Seq(
      StructField("d_from_int", DateType),
      StructField("ts_from_long", TimestampNTZType),
      StructField("d_from_str", DateType),
      StructField("refused", IntegerType)))
    val out = SchemaDerivator.coerce(src, target).head()
    assert(out.getDate(0).toLocalDate == java.time.LocalDate.ofEpochDay(19723))
    assert(out.getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDate.ofEpochDay(19723).atStartOfDay)
    assert(out.getDate(2).toLocalDate.toString == "2024-01-01")
    assert(out.isNullAt(3))
  }

  // testDeduceMergedCreateTableEvent:605 — merged sinks union their
  // upstream creates (id INT ∨ BIGINT → BIGINT, the missing `notes` of
  // table_2 appends); one-to-one and broadcast sinks re-route verbatim
  test("merged CREATE deduction") {
    def schemaOfCols(cols: (String, DataType)*) = TableSchema(
      StructType(cols.map { case (n, d) => StructField(n, d) }), Seq.empty)
    val s1 = schemaOfCols("id" -> IntegerType, "name" -> StringType,
      "age" -> FloatType, "notes" -> StringType)
    val s2 = schemaOfCols("id" -> IntegerType, "name" -> StringType, "age" -> FloatType)
    val s3 = schemaOfCols("id" -> LongType, "name" -> StringType,
      "age" -> FloatType, "notes" -> StringType)
    val merged = SchemaDerivator.mergedCreateTable(
      TableId.parse("db_3.table_merged"), Seq(s1, s2, s3))
    assert(merged.tableId == TableId.parse("db_3.table_merged"))
    assert(merged.schema.struct.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", LongType), ("name", StringType), ("age", FloatType), ("notes", StringType)))
    // broadcast/one-to-one routes keep source shapes — route() fans out
    assert(router.route(TableId.parse("db_4.table_1")).map(_.identifier) ==
      Seq("db_4.table_a", "db_4.table_b", "db_4.table_c"))
    assert(router.route(TableId.parse("db_2.table_1")).map(_.identifier) ==
      Seq("db_2.table_2"))
  }

  // perfbench's snapshot_load rule: the transformed envelope already has the
  // shape of the sink schema the same rule derives, so coercion to it must
  // not copy the image struct again (Catalyst keeps such a copy)
  test("coerceEnvelope passes an image already in the target shape through unchanged") {
    implicit val spark: org.apache.spark.sql.SparkSession = graft.SparkTestBase.spark
    import graft.operators.{Envelope, EnvelopeTransform}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    import org.apache.spark.sql.functions.col
    val t = TableId.of("app", "orders")
    val source = TableSchema(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("qty", IntegerType),
      StructField("price", DoubleType),
      StructField("cat", StringType),
      StructField("ts", LongType))), primaryKeys = Seq("id"))
    val pdef = YamlPipelineParser.parse(
      """source:
        |  type: values
        |sink:
        |  type: values
        |transform:
        |  - source-table: app.orders
        |    projection: "id, UPPER(name) AS name_u, CONCAT(cat, '-', CAST(qty AS STRING)) AS tag, price * qty AS amount, qty * 2 + 1 AS qty2, ts - 1000 AS ts_adj"
        |    filter: "qty > 5"
        |""".stripMargin)
    val target = new PipelineComposer(pdef, new graft.sinks.MemoryDatabase)
      .transformedSchema(t, source).struct
    // a range, not local rows: a plan over a LocalRelation folds away
    val rows = spark.range(40).selectExpr("id", "CAST(id AS STRING) AS name",
      "CAST(id % 10 AS INT) AS qty", "CAST(id AS DOUBLE) * 1.5 AS price",
      "CAST(id % 3 AS STRING) AS cat", "id * 7 AS ts")
    val env = EnvelopeTransform(Envelope.fromSnapshot(rows, t, col("id")), pdef.transforms.head, t)
    def plan(df: DataFrame) = df.queryExecution.optimizedPlan
    def coerces(df: DataFrame) = plan(df).exists(_.expressions.exists(_.exists {
      case _: CaseWhen => true
      case _ => false
    }))
    def after(df: DataFrame, cols: String*) =
      df.orderBy(Envelope.SeqCol).select(cols.map(c => col(s"${Envelope.AfterCol}.$c")): _*)
        .collect().map(_.toSeq).toSeq
    val names = target.fieldNames.toSeq

    val same = SchemaDerivator.coerceEnvelope(env, target)
    assert(plan(same).canonicalized == plan(env).canonicalized, plan(same))
    assert(!coerces(same))
    assert(same.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType].fieldNames.toSeq == names)
    assert(after(same, names: _*) == after(env, names: _*))
    assert(after(env, "id").map(_.head) == (0L until 40L).filter(_ % 10 > 5))

    // an added column still coerces: padded with null
    val added = SchemaDerivator.coerceEnvelope(env, target.add("note", StringType))
    assert(coerces(added))
    assert(after(added, names :+ "note": _*) == after(env, names: _*).map(_ :+ null))

    // a widened type still coerces: qty2 INT -> BIGINT, same values
    val widened = SchemaDerivator.coerceEnvelope(env, StructType(target.fields.map {
      case f if f.name == "qty2" => f.copy(dataType = LongType)
      case f => f
    }))
    assert(coerces(widened))
    assert(widened.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]("qty2").dataType ==
      LongType)
    assert(after(widened, "qty2").map(_.head.asInstanceOf[Long]) ==
      after(env, "qty2").map(_.head.asInstanceOf[Int].toLong))

    // a pending rename still coerces: the sink's old name reads the new one
    val renamed = SchemaDerivator.coerceEnvelope(env, StructType(target.fields.map {
      case f if f.name == "name_u" => f.copy(name = "name_old")
      case f => f
    }), Seq(1L -> Map("name_old" -> "name_u")))
    assert(coerces(renamed))
    assert(after(renamed, "id", "name_old") == after(env, "id", "name_u"))
  }
}
