package graft.sinks

import graft.operators.Envelope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kafka sink envelope serializations, mirroring
  * `flink-cdc-pipeline-connector-kafka/.../json/debezium/DebeziumJsonSerializationSchema.java`
  * and `canal/CanalJsonSerializationSchema.java`, expressed as pure Catalyst
  * `to_json` projections (codegen'd, no per-row Java serializer), ready for
  * `df.writeStream.format("kafka")`.
  */
object KafkaJsonFormats {

  private val tableName: Column = element_at(split(col(Envelope.TableIdCol), "\\."), -1)
  private val dbName: Column = {
    val parts = split(col(Envelope.TableIdCol), "\\.")
    when(size(parts) >= 2, parts.getItem(0)).otherwise(lit(""))
  }

  /** debezium-json: `{"before":…,"after":…,"op":"c|u|d","source":{"db":…,"table":…}}`.
    * UPDATE/REPLACE → "u", INSERT → "c", DELETE → "d" (reference
    * `DebeziumJsonSerializationSchema.serialize`). Field order and the
    * always-present (possibly null) before/after keys are part of the wire
    * contract — `ignoreNullFields=false` keeps `"before":null` explicit
    * exactly as the reference's Jackson serializer does.
    */
  val debeziumOpCode: Column = when(col(Envelope.OpCol) === "INSERT", "c")
    .when(col(Envelope.OpCol) === "DELETE", "d")
    .otherwise("u")

  /** The debezium-json record value as a column over an envelope frame. */
  def debeziumValue: Column =
    to_json(
      struct(
        col(Envelope.BeforeCol).as("before"),
        col(Envelope.AfterCol).as("after"),
        debeziumOpCode.as("op"),
        struct(dbName.as("db"), tableName.as("table")).as("source")),
      java.util.Map.of("ignoreNullFields", "false"))

  def debeziumJson(env: DataFrame): DataFrame =
    env.select(debeziumValue.as("value"), col(Envelope.TableIdCol).as("topic"))

  /** `debezium-json.include-schema.enabled` (`KafkaDataSinkOptions.java:104`):
    * the record value becomes `{"schema": <connect schema>, "payload":
    * <debezium-json>}` — the Kafka Connect JsonConverter envelope the
    * reference's `DebeziumJsonSerializationSchema` emits with schemas on
    * (`MysqlToKafkaE2eITCase` fixture
    * `expectedEvents/mysqlToKafka/debezium-json-with-schema.txt`). The
    * schema block is CONSTANT per table schema, so it concatenates as a
    * literal around the codegen'd payload JSON — no per-row schema work.
    */
  def debeziumValueWithSchema(payloadStruct: org.apache.spark.sql.types.StructType): Column =
    concat(
      lit("""{"schema":""" + connectSchemaJson(payloadStruct) + ""","payload":"""),
      debeziumValue,
      lit("}"))

  /** The Kafka Connect JSON schema of a debezium envelope over `struct` —
    * `{"type":"struct","fields":[<before>,<after>],"optional":false}`,
    * each image a struct of per-column fields
    * `{"type":T,"optional":nullable,("default":D,)"field":name}` in the
    * fixture's key order. Scalar connect types per the JsonConverter
    * (int8/int16/int32/int64/float/double/boolean/string/bytes; DATE is
    * an int32 day count, timestamps int64 epochs — the fixture pins the
    * int32/string/double cells).
    */
  def connectSchemaJson(struct: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types._
    // (wire type, logical name, version, parameters) per the reference's
    // `convertCDCDataTypeToDebeziumDataType` (`DebeziumJsonSerializationSchema
    // .java:250-320`): TINYINT/SMALLINT both int16; DECIMAL is Connect's
    // logical Decimal (bytes + scale/precision parameters); DATE/TIME/
    // TIMESTAMP carry Debezium logical names; TIMESTAMP_LTZ (Spark
    // TimestampType) is a ZonedTimestamp STRING. Spark timestamps are
    // micros ⇒ precision 6 > 3 ⇒ MicroTimestamp.
    def connectType(dt: DataType)
        : (String, Option[String], Option[Int], Seq[(String, String)]) = dt match {
      case ByteType | ShortType => ("int16", None, None, Nil)
      case IntegerType => ("int32", None, None, Nil)
      case LongType => ("int64", None, None, Nil)
      case DateType => ("int32", Some("io.debezium.time.Date"), Some(1), Nil)
      case TimestampNTZType =>
        ("int64", Some("io.debezium.time.MicroTimestamp"), Some(1), Nil)
      case TimestampType =>
        ("string", Some("io.debezium.time.ZonedTimestamp"), Some(1), Nil)
      case FloatType => ("float", None, None, Nil)
      case DoubleType => ("double", None, None, Nil)
      case BooleanType => ("boolean", None, None, Nil)
      case BinaryType =>
        ("bytes", Some("io.debezium.data.Bits"), Some(1), Seq("length" -> "0"))
      case d: DecimalType =>
        ("bytes", Some("org.apache.kafka.connect.data.Decimal"), Some(1),
          Seq("scale" -> d.scale.toString,
            "connect.decimal.precision" -> d.precision.toString))
      case _ => ("string", None, None, Nil)
    }
    def esc(v: String): String =
      v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      }
    // a JSON-safe default rendering: strings always quote; other types emit
    // raw only when the stored expression is already a bare JSON token
    // (number/boolean/null), else quote — an unquoted `CURRENT_TIMESTAMP`
    // default on an int64 column must not corrupt the schema JSON
    val jsonToken = "-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?|true|false|null"
    def fieldJson(f: StructField): String = {
      val (tpe, name, version, params) = connectType(f.dataType)
      val nameJson = name.fold("")(n => s""""name":"$n",""")
      val versionJson = version.fold("")(v => s""""version":$v,""")
      val paramsJson =
        if (params.isEmpty) ""
        else params.map { case (k, v) => s""""$k":"$v"""" }
          .mkString("\"parameters\":{", ",", "},")
      val dflt =
        if (f.metadata.contains(graft.core.AddColumnEvent.DefaultKey)) {
          val d = f.metadata.getString(graft.core.AddColumnEvent.DefaultKey)
          val rendered = f.dataType match {
            case StringType => "\"" + esc(d) + "\""
            case _ if d.matches(jsonToken) => d
            case _ => "\"" + esc(d) + "\""
          }
          s""""default":$rendered,"""
        } else ""
      s"""{"type":"$tpe","optional":${f.nullable},$nameJson$versionJson$paramsJson$dflt"field":"${f.name}"}"""
    }
    val cols = struct.fields.map(fieldJson).mkString(",")
    def image(name: String) =
      s"""{"type":"struct","fields":[$cols],"optional":true,"field":"$name"}"""
    s"""{"type":"struct","fields":[${image("before")},${image("after")}],"optional":false}"""
  }

  /** canal-json: `{"old":[…],"data":[…],"type":"INSERT|UPDATE|DELETE","database":…,"table":…}`
    * — REPLACE maps to INSERT; absent images are explicit nulls (same wire
    * discipline as debezium-json above).
    */
  def canalValue: Column = {
    val opType = when(col(Envelope.OpCol) === "REPLACE", "INSERT").otherwise(col(Envelope.OpCol))
    to_json(
      struct(
        when(col(Envelope.BeforeCol).isNotNull, array(col(Envelope.BeforeCol)))
          .otherwise(lit(null)).as("old"),
        when(col(Envelope.AfterCol).isNotNull, array(col(Envelope.AfterCol)))
          .otherwise(lit(null)).as("data"),
        opType.as("type"),
        dbName.as("database"),
        tableName.as("table")),
      java.util.Map.of("ignoreNullFields", "false"))
  }

  def canalJson(env: DataFrame): DataFrame =
    env.select(canalValue.as("value"), col(Envelope.TableIdCol).as("topic"))

  // --------------------------------------------------------------- readers

  /** Op value assigned to records whose op code is unrecognized or whose
    * value failed to parse as JSON at all (`from_json` → null). The reference
    * serializer throws on unsupported ops
    * (`DebeziumJsonSerializationSchema.serialize` default branch); in a
    * column pipeline the equivalent discipline is a filterable marker that a
    * dead-letter route can peel off — silently coining UPDATEs with null
    * images would corrupt downstream upserts.
    */
  val InvalidOp = "INVALID"

  /** The envelope op codes a downstream operator may legally see. */
  val ValidOps: Seq[String] = Seq("INSERT", "UPDATE", "DELETE", "REPLACE")

  /** Split a decoded envelope into `(clean, deadLetter)`. The dead-letter
    * frame keeps the full envelope row (table id + seq identify the source
    * record / topic offset) so corrupt input can be audited and replayed;
    * the clean frame is safe to feed to [[graft.operators.Upsert]]. Any op
    * outside [[ValidOps]] — the [[InvalidOp]] marker or a rogue wire value —
    * routes to the dead letter. Both sides are filters over the same scan
    * (pushed down, map-only); persist the input first if re-reading the
    * source twice is expensive.
    */
  def routeInvalid(env: DataFrame): (DataFrame, DataFrame) = {
    val ok = col(Envelope.OpCol).isin(ValidOps: _*)
    // NULL op: `isin` yields SQL NULL, and both filter(ok) and filter(!ok)
    // drop NULL — the record would vanish from BOTH frames instead of
    // reaching the dead letter it is promised to land in
    (env.filter(ok), env.filter(!coalesce(ok, lit(false))))
  }

  /** debezium-json READER — the inverse projection, completing the wire
    * contract as a SOURCE format: parse Kafka record values back into the
    * envelope (the Kafka + Debezium-Connect source topology of SURVEY §7.6).
    * Op decode follows Debezium: c→INSERT, u→UPDATE, d→DELETE, and
    * r (snapshot read) → REPLACE; anything else (including unparseable JSON)
    * becomes [[InvalidOp]]. `seqCol` supplies changelog order — in a
    * real topic that is the Kafka partition offset.
    */
  def fromDebeziumJson(
      raw: DataFrame,
      rowSchema: org.apache.spark.sql.types.StructType,
      seqCol: Column,
      valueCol: Column = col("value")): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val msgT = StructType(Seq(
      StructField("before", rowSchema), StructField("after", rowSchema),
      StructField("op", StringType),
      StructField("source", StructType(Seq(
        StructField("db", StringType), StructField("table", StringType))))))
    val m = from_json(valueCol, msgT)
    val opDecoded = graft.sources.debezium.DebeziumFileSource.decodeOp(m("op"))
    raw.select(
      concat_ws(".",
        filter(array(m.getField("source").getField("db"), m.getField("source").getField("table")),
          c => c.isNotNull && c =!= ""))
        .as(Envelope.TableIdCol),
      opDecoded.as(Envelope.OpCol),
      m("before").as(Envelope.BeforeCol),
      m("after").as(Envelope.AfterCol),
      seqCol.cast("long").as(Envelope.SeqCol),
      map().cast("map<string,string>").as(Envelope.MetaCol))
  }

  /** canal-json READER: images ride single-element `old`/`data` arrays;
    * canal has no REPLACE (it serialized as INSERT). */
  def fromCanalJson(
      raw: DataFrame,
      rowSchema: org.apache.spark.sql.types.StructType,
      seqCol: Column,
      valueCol: Column = col("value")): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    val msgT = StructType(Seq(
      StructField("old", ArrayType(rowSchema)), StructField("data", ArrayType(rowSchema)),
      StructField("type", StringType),
      StructField("database", StringType), StructField("table", StringType)))
    val m = from_json(valueCol, msgT)
    raw.select(
      concat_ws(".",
        filter(array(m("database"), m("table")), c => c.isNotNull && c =!= ""))
        .as(Envelope.TableIdCol),
      coalesce(m("type"), lit(InvalidOp)).as(Envelope.OpCol),
      element_at(m("old"), 1).as(Envelope.BeforeCol),
      element_at(m("data"), 1).as(Envelope.AfterCol),
      seqCol.cast("long").as(Envelope.SeqCol),
      map().cast("map<string,string>").as(Envelope.MetaCol))
  }

  /** Kafka record key + partition strategy
    * (`sink/PartitionStrategy.java`: ALL_TO_ZERO | HASH_BY_KEY).
    */
  def withKey(env: DataFrame, keyCols: Seq[String], strategy: String = "HASH_BY_KEY"): DataFrame = {
    val keyStruct = struct(keyCols.map(k =>
      coalesce(col(s"${Envelope.AfterCol}.$k"), col(s"${Envelope.BeforeCol}.$k")).as(k)): _*)
    strategy.toUpperCase match {
      case "ALL_TO_ZERO" => env.withColumn("key", lit("")).withColumn("partition", lit(0))
      case "HASH_BY_KEY" => env.withColumn("key", to_json(keyStruct))
      case other => throw new IllegalArgumentException(
        s"unknown partition strategy '$other' (ALL_TO_ZERO or HASH_BY_KEY) — " +
          "silently hashing would scatter records a caller expected on one " +
          "partition, breaking cross-key ordering")
    }
  }
}
