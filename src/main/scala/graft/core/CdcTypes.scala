package graft.core

import org.apache.spark.sql.types._

/** CDC logical type ADT mirroring the reference's type system
  * (`flink-cdc-common/.../types/DataTypes.java`, one class per type), with the
  * mapping to Spark SQL types from SURVEY.md §1.3.
  *
  * The engine's data plane is Spark's `StructType`; this ADT exists because the
  * CDC widening lattice (INT+VARCHAR→STRING etc., see [[SchemaMerging]]) differs
  * from Spark's own `TypeCoercion` and must stay faithful to the reference.
  */
sealed trait CdcType {
  def nullable: Boolean
  def withNullable(n: Boolean): CdcType
  /** Spark physical type carrying this CDC type (§1.3 mapping table). */
  def toSpark: DataType
}

object CdcTypes {
  import CdcType._

  final case class BooleanT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = BooleanType
  }
  final case class TinyIntT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = ByteType
  }
  final case class SmallIntT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = ShortType
  }
  final case class IntT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = IntegerType
  }
  final case class BigIntT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = LongType
  }
  final case class FloatT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = FloatType
  }
  final case class DoubleT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = DoubleType
  }
  final case class DecimalT(precision: Int, scale: Int, nullable: Boolean = true) extends CdcType {
    require(precision >= 1 && precision <= MaxDecimalPrecision && scale >= 0 && scale <= precision)
    def withNullable(n: Boolean) = copy(nullable = n)
    def toSpark = DecimalType(precision, scale)
  }
  final case class CharT(length: Int, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = StringType
  }
  final case class VarCharT(length: Int, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = StringType
  }
  /** STRING == VARCHAR(Int.MaxValue) in the reference. */
  def StringT(nullable: Boolean = true): VarCharT = VarCharT(Int.MaxValue, nullable)

  final case class BinaryT(length: Int, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = BinaryType
  }
  final case class VarBinaryT(length: Int, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = BinaryType
  }
  def BytesT(nullable: Boolean = true): VarBinaryT = VarBinaryT(Int.MaxValue, nullable)

  final case class DateT(nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(n); def toSpark = DateType
  }
  /** TIME(p): no native Spark type → INT millis-of-day + metadata tag (§1.3). */
  final case class TimeT(precision: Int = 0, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = IntegerType
  }
  /** TIMESTAMP(p) without zone → TimestampNTZType. */
  final case class TimestampT(precision: Int = 6, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = TimestampNTZType
  }
  /** TIMESTAMP_LTZ(p) → Spark TimestampType (identical instant semantics). */
  final case class LocalZonedTimestampT(precision: Int = 6, nullable: Boolean = true)
      extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n); def toSpark = TimestampType
  }
  /** TIMESTAMP_TZ(p): per-value offset; normalized to instant + offsetSeconds. */
  final case class ZonedTimestampT(precision: Int = 6, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n)
    def toSpark = StructType(Seq(
      StructField("instant", TimestampType, nullable = true),
      StructField("offsetSeconds", IntegerType, nullable = true)))
  }
  final case class ArrayT(element: CdcType, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n)
    def toSpark = ArrayType(element.toSpark, element.nullable)
  }
  final case class MapT(key: CdcType, value: CdcType, nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n)
    def toSpark = MapType(key.toSpark, value.toSpark, value.nullable)
  }
  final case class RowT(fields: Seq[(String, CdcType)], nullable: Boolean = true) extends CdcType {
    def withNullable(n: Boolean) = copy(nullable = n)
    def toSpark = StructType(fields.map { case (n0, t) => StructField(n0, t.toSpark, t.nullable) })
  }

  /** StructField metadata key carrying width the Spark type erases
    * (CHAR/VARCHAR/BINARY/VARBINARY lengths): Spark has no bounded
    * char/binary types, but the reference's merged-route diff is
    * width-sensitive — `VARCHAR(17) ∨ VARCHAR(19) → STRING` must emit an
    * `AlterColumnTypeEvent` on the merged sink (`RouteE2eITCase
    * .testMergeTableRoute:313`), and sink-DDL generation (Doris/StarRocks)
    * needs declared widths. The width rides the field metadata so
    * [[fromSparkField]] reconstructs the exact CdcType.
    */
  val TypeKey = "graft.cdc.type"

  /** Spark-erased width rendering, when the type carries one. */
  def renderErased(t: CdcType): Option[String] = t match {
    case CharT(n, _) => Some(s"CHAR($n)")
    case VarCharT(n, _) if n != Int.MaxValue => Some(s"VARCHAR($n)")
    case BinaryT(n, _) => Some(s"BINARY($n)")
    case VarBinaryT(n, _) if n != Int.MaxValue => Some(s"VARBINARY($n)")
    case _ => None
  }

  private val ErasedPat = """(CHAR|VARCHAR|BINARY|VARBINARY)\((\d+)\)""".r
  def parseErased(s: String, nullable: Boolean): CdcType = s match {
    case ErasedPat("CHAR", n) => CharT(n.toInt, nullable)
    case ErasedPat("VARCHAR", n) => VarCharT(n.toInt, nullable)
    case ErasedPat("BINARY", n) => BinaryT(n.toInt, nullable)
    case ErasedPat("VARBINARY", n) => VarBinaryT(n.toInt, nullable)
    case other => throw new IllegalArgumentException(s"bad $TypeKey metadata: $other")
  }

  /** Build a StructField carrying the erased width in metadata (merging with
    * `base` metadata, clearing any stale width tag first).
    */
  def toSparkField(name: String, t: CdcType, base: Metadata = Metadata.empty): StructField = {
    val b = new MetadataBuilder().withMetadata(base).remove(TypeKey)
    renderErased(t).foreach(b.putString(TypeKey, _))
    StructField(name, t.toSpark, t.nullable, b.build())
  }

  /** Reconstruct the CDC type of a field, widths included when tagged. */
  def fromSparkField(f: StructField): CdcType =
    if (f.metadata.contains(TypeKey)) parseErased(f.metadata.getString(TypeKey), f.nullable)
    else fromSpark(f.dataType, f.nullable)

  /** Best-effort inverse of `toSpark` (used when schemas come from parquet/catalog). */
  def fromSpark(dt: DataType, nullable: Boolean = true): CdcType = dt match {
    case BooleanType        => BooleanT(nullable)
    case ByteType           => TinyIntT(nullable)
    case ShortType          => SmallIntT(nullable)
    case IntegerType        => IntT(nullable)
    case LongType           => BigIntT(nullable)
    case FloatType          => FloatT(nullable)
    case DoubleType         => DoubleT(nullable)
    case d: DecimalType     => DecimalT(d.precision, d.scale, nullable)
    case StringType         => StringT(nullable)
    case BinaryType         => BytesT(nullable)
    case DateType           => DateT(nullable)
    case TimestampNTZType   => TimestampT(6, nullable)
    case TimestampType      => LocalZonedTimestampT(6, nullable)
    case ArrayType(e, n)    => ArrayT(fromSpark(e, n), nullable)
    case MapType(k, v, n)   => MapT(fromSpark(k, nullable = false), fromSpark(v, n), nullable)
    case s: StructType =>
      RowT(s.fields.toSeq.map(f => f.name -> fromSpark(f.dataType, f.nullable)), nullable)
    case other => throw new IllegalArgumentException(s"Unsupported Spark type: $other")
  }
}

object CdcType {
  val MaxDecimalPrecision = 38

  /** MySQL DDL type → CDC type, mirroring
    * `flink-cdc-pipeline-connector-mysql/.../utils/MySqlTypeUtils.java:116-260`:
    * unsigned widening (INT UNSIGNED→BIGINT, BIGINT UNSIGNED→DECIMAL(20,0)),
    * TINYINT(1)→BOOLEAN toggle, JSON/ENUM/SET/GEOMETRY→STRING.
    */
  def fromMySql(raw: String, tinyInt1AsBoolean: Boolean = true): CdcType = {
    import CdcTypes._
    val s = raw.trim.toUpperCase
    val base = s.takeWhile(c => c.isLetter || c == '_')
    val args: Seq[Int] =
      "\\((\\d+)(?:\\s*,\\s*(\\d+))?\\)".r.findFirstMatchIn(s)
        .map(m => Seq(Option(m.group(1)), Option(m.group(2))).flatten.map(_.toInt))
        .getOrElse(Seq.empty)
    val unsigned = s.contains("UNSIGNED")
    base match {
      case "TINYINT" if tinyInt1AsBoolean && args.headOption.contains(1) && !unsigned =>
        BooleanT()
      case "TINYINT"            => if (unsigned) SmallIntT() else TinyIntT()
      case "SMALLINT"           => if (unsigned) IntT() else SmallIntT()
      case "MEDIUMINT"          => IntT()
      case "INT" | "INTEGER"    => if (unsigned) BigIntT() else IntT()
      case "BIGINT"             => if (unsigned) DecimalT(20, 0) else BigIntT()
      case "FLOAT"              => FloatT()
      case "DOUBLE" | "REAL"    => DoubleT()
      case "DECIMAL" | "NUMERIC" =>
        val p = args.headOption.getOrElse(10); val sc = args.lift(1).getOrElse(0)
        if (p <= MaxDecimalPrecision) DecimalT(p, sc) else StringT()
      case "BOOLEAN" | "BOOL"   => BooleanT()
      case "BIT"                => if (args.headOption.forall(_ == 1)) BooleanT() else BytesT()
      case "CHAR"               => CharT(args.headOption.getOrElse(1))
      case "VARCHAR"            => VarCharT(args.headOption.getOrElse(Int.MaxValue))
      case "TEXT" | "TINYTEXT" | "MEDIUMTEXT" | "LONGTEXT" => StringT()
      case "BINARY"             => BinaryT(args.headOption.getOrElse(1))
      case "VARBINARY"          => VarBinaryT(args.headOption.getOrElse(Int.MaxValue))
      case "BLOB" | "TINYBLOB" | "MEDIUMBLOB" | "LONGBLOB" => BytesT()
      case "DATE"               => DateT()
      case "TIME"               => TimeT(args.headOption.getOrElse(0))
      case "DATETIME"           => TimestampT(args.headOption.getOrElse(0))
      case "TIMESTAMP"          => LocalZonedTimestampT(args.headOption.getOrElse(0))
      case "YEAR"               => IntT()
      case "JSON" | "ENUM" | "SET" | "GEOMETRY" | "POINT" | "LINESTRING" | "POLYGON" |
          "MULTIPOINT" | "MULTILINESTRING" | "MULTIPOLYGON" | "GEOMETRYCOLLECTION" => StringT()
      case other => throw new IllegalArgumentException(s"Unsupported MySQL type: $other ($raw)")
    }
  }
}
