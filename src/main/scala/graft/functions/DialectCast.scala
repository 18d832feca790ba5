package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The transform dialect's CAST — `SystemFunctionUtils.java:767-1047`. It
  * NEVER throws, where Spark's ANSI CAST (the default since 4.0) raises:
  *
  *  - numeric → integral truncates toward zero (`castToByte:799` routes
  *    Double/Float/Decimal through `.byteValue()`);
  *  - string → integral tries the exact integral parse, then falls back to
  *    a double parse + truncation (`"12.13"` → 12), and yields NULL when
  *    neither parses (`castToByte:818-827`);
  *  - string → boolean is `Boolean.valueOf` — lowercase-insensitive
  *    `"true"` only, everything else (incl. `"1"`, `"yes"`) is false
  *    (`castToBoolean:796`); numeric → boolean is `!= 0`;
  *  - → DECIMAL(p,s) parses the value's string form under
  *    `MathContext(p)` + `setScale(s, HALF_UP)` and yields NULL on parse
  *    failure OR precision overflow (`castToBigDecimal:983-1005`);
  *  - float → double widens numerically (`castToDouble:973` `.doubleValue()`
  *    — the `-6.7f → -6.699999809265137` artifact), but float → DECIMAL goes
  *    through `String.valueOf` (`castObjectIntoString:1049`) so `-6.7f`
  *    stays `-6.7`.
  *
  * Registered as `graft_cast(expr, 'TYPE')`; [[Dialect.translate]] rewrites
  * dialect CASTs of the affected target types to it. CodegenFallback: this
  * sits on the user's transform expressions, not the scan hot path.
  */
case class DialectCastExpr(child: Expression, typeName: String)
    extends UnaryExpression with CodegenFallback {

  override lazy val dataType: DataType = DialectCastExpr.parseType(typeName)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else DialectCastExpr.castValue(v, dataType)
  }

  override protected def withNewChildInternal(newChild: Expression): DialectCastExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_cast"
}

/** `CAST(time_col AS VARCHAR)` for TIME(p) columns — the reference's
  * `castToString(TimeData)` is `LocalTime.toString` at millisecond precision
  * (`TimeData.java:72-74`, pinned by
  * `FlinkPipelineTransformITCase.testDateAndTimeCastingFunctions:2904`:
  * `21:48:25` / `21:48:25.123`). Spark has no TIME type; graft models TIME(p)
  * as INT millis-of-day with a StructField metadata tag (SURVEY §1.3), and
  * [[StrictEquality.parse]] rewrites string-casts of tagged columns to this.
  */
case class TimeToStringExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else UTF8String.fromString(
      java.time.LocalTime.ofNanoOfDay(v.asInstanceOf[Int] * 1000000L).toString)
  }
  override protected def withNewChildInternal(newChild: Expression): TimeToStringExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_time_to_string"
}

/** Type-PRESERVING CEIL/FLOOR (`SystemFunctionUtils.java:594-675`): the
  * reference returns the operand's own type (Double→Double, Float→Float,
  * integrals identity, Decimal→scale-0 Decimal), where Spark's ceil/floor
  * return BIGINT for doubles — pinned by
  * `testBuiltinArithmeticFunctions` (`CEIL(...) AS col7` is DOUBLE 1.0).
  * Registered as `graft_ceil` / `graft_floor`; Dialect.translate rewrites.
  */
case class DialectCeilFloorExpr(child: Expression, isCeil: Boolean)
    extends UnaryExpression with CodegenFallback {
  override lazy val dataType: DataType = child.dataType match {
    case d: DecimalType => DecimalType(d.precision, 0)
    case other => other
  }
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else v match {
      case b: Byte => b
      case s: Short => s
      case i: Int => i
      case l: Long => l
      case f: Float => if (isCeil) math.ceil(f).toFloat else math.floor(f).toFloat
      case d: Double => if (isCeil) math.ceil(d) else math.floor(d)
      case d: Decimal =>
        val mode =
          if (isCeil) java.math.RoundingMode.CEILING else java.math.RoundingMode.FLOOR
        val bd = d.toBigDecimal.bigDecimal.setScale(0, mode)
        Decimal(bd, dataType.asInstanceOf[DecimalType].precision, 0)
    }
  }
  override protected def withNewChildInternal(newChild: Expression): DialectCeilFloorExpr =
    copy(child = newChild)
  override def prettyName: String = if (isCeil) "graft_ceil" else "graft_floor"
}

/** The reference's `DATE_FORMAT(ts, pattern)` — a SimpleDateFormat-pattern
  * render (`SystemFunctionUtils.dateFormat` via `DateTimeUtils`) in the
  * PIPELINE time zone: a TIMESTAMP_LTZ operand formats its instant AT
  * `PIPELINE_LOCAL_TIME_ZONE`, a plain TIMESTAMP formats its wall-clock
  * as-is (`FlinkPipelineTransformITCase.testTransformWithTimestamps:1039`
  * expects identical strings under LA/UTC/Shanghai because the fixture
  * builds the instants from the same local wall-clock). The SDF pattern
  * translates through [[Dialect.translateDatePattern]]. Registered as
  * `graft_date_format` with the zone captured from
  * `spark.graft.local.tz` at analysis time.
  */
case class DialectDateFormatExpr(child: Expression, patternExpr: Expression, zoneId: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = patternExpr
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val p = patternExpr.eval(input)
    if (v == null || p == null) return null
    val dtf = java.time.format.DateTimeFormatter.ofPattern(
      Dialect.translateDatePattern(p.toString), java.util.Locale.ROOT)
    def ofMicros(micros: Long): java.time.LocalDateTime = {
      val secs = java.lang.Math.floorDiv(micros, 1000000L)
      val nanos = java.lang.Math.floorMod(micros, 1000000L) * 1000L
      java.time.LocalDateTime.ofEpochSecond(secs, nanos.toInt, java.time.ZoneOffset.UTC)
    }
    val local = child.dataType match {
      case TimestampType => // LTZ: the instant rendered AT the pipeline zone
        val micros = v.asInstanceOf[Long]
        java.time.Instant
          .ofEpochSecond(java.lang.Math.floorDiv(micros, 1000000L),
            java.lang.Math.floorMod(micros, 1000000L) * 1000L)
          .atZone(java.time.ZoneId.of(zoneId)).toLocalDateTime
      case TimestampNTZType => ofMicros(v.asInstanceOf[Long])
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).atStartOfDay()
      case other => throw new IllegalArgumentException(
        s"DATE_FORMAT: unsupported operand type ${other.simpleString(10)}")
    }
    UTF8String.fromString(local.format(dtf))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DialectDateFormatExpr =
    copy(child = newLeft, patternExpr = newRight)
  override def prettyName: String = "graft_date_format"
}

/** `FROM_UNIXTIME(seconds[, format])` — the reference renders the epoch
  * SECOND through a SimpleDateFormat in the PIPELINE time zone
  * (`SystemFunctionUtils.fromUnixtime:84-90` →
  * `DateTimeUtils.formatUnixTimestamp:153-171`, default pattern
  * `yyyy-MM-dd HH:mm:ss`); a formatting failure logs and returns NULL.
  * Spark's native from_unixtime uses the SESSION zone (UTC here) — under a
  * non-UTC pipeline the rendered wall clock would be off by the offset.
  */
case class FromUnixTimeExpr(child: Expression, patternExpr: Expression, zoneId: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = patternExpr
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val p = patternExpr.eval(input)
    if (v == null || p == null) return null
    val seconds = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      // Calcite implicitly casts the operand to BIGINT (fromUnixtime takes
      // long) — DECIMAL/DOUBLE truncate via longValue, like that cast
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal.longValue
      case d: Double => d.toLong
      case f: Float => f.toLong
      case _ => return null
    }
    try {
      val sdf = new java.text.SimpleDateFormat(p.toString, java.util.Locale.ROOT)
      sdf.setTimeZone(java.util.TimeZone.getTimeZone(zoneId))
      UTF8String.fromString(sdf.format(new java.util.Date(seconds * 1000L)))
    } catch { case _: Exception => null }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FromUnixTimeExpr =
    copy(child = newLeft, patternExpr = newRight)
  override def prettyName: String = "graft_from_unixtime"
}

/** `UNIX_TIMESTAMP(dateStr[, format])` — SimpleDateFormat PARSE in the
  * PIPELINE zone (`DateTimeUtils.unixTimestamp:177-193`): trailing text is
  * ignored (SDF prefix parse), an explicit offset in the PATTERN overrides
  * the zone, and a parse failure returns the reference's Long.MIN_VALUE
  * sentinel, not NULL.
  */
case class UnixTimestampExpr(child: Expression, patternExpr: Expression, zoneId: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = patternExpr
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val p = patternExpr.eval(input)
    if (v == null || p == null) return null
    try {
      val sdf = new java.text.SimpleDateFormat(p.toString, java.util.Locale.ROOT)
      sdf.setTimeZone(java.util.TimeZone.getTimeZone(zoneId))
      sdf.parse(v.toString).getTime / 1000L
    } catch { case _: Exception => Long.MinValue }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnixTimestampExpr =
    copy(child = newLeft, patternExpr = newRight)
  override def prettyName: String = "graft_unix_timestamp"
}

/** `TO_TIMESTAMP(str[, format])` — SimpleDateFormat parse in the PIPELINE
  * zone, then `TimestampData.fromMillis` REINTERPRETS the epoch millis as a
  * zone-less timestamp (`SystemFunctionUtils.toTimestamp:131-144`) — i.e.
  * under a non-UTC pipeline the result is the UTC wall clock of the parsed
  * instant, shifted from the input string by the zone offset. A parse
  * failure THROWS (the reference wraps the ParseException).
  */
case class ToTimestampExpr(child: Expression, patternExpr: Expression, zoneId: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = patternExpr
  override def dataType: DataType = TimestampNTZType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val p = patternExpr.eval(input)
    if (v == null || p == null) return null
    val sdf = new java.text.SimpleDateFormat(p.toString, java.util.Locale.ROOT)
    sdf.setTimeZone(java.util.TimeZone.getTimeZone(zoneId))
    val millis =
      try sdf.parse(v.toString).getTime
      catch {
        case e: java.text.ParseException =>
          throw new RuntimeException(e) // the reference's exact wrap (:142)
      }
    millis * 1000L // micros since epoch, read as NTZ (fromMillis semantics)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ToTimestampExpr =
    copy(child = newLeft, patternExpr = newRight)
  override def prettyName: String = "graft_to_timestamp"
}

/** `TO_DATE(str[, format])` — parse in the PIPELINE zone, then take the
  * LOCAL DATE at that zone (`DateTimeUtils.parseDate:109-115` round-trips
  * instant → ZonedDateTime → toLocalDate, so the string's own date comes
  * back under any zone). Parse failure inherits the MIN_VALUE-instant
  * behavior of `internalParseTimestampMillis` (:117-131).
  */
case class ToDateExpr(child: Expression, patternExpr: Expression, zoneId: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = patternExpr
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val p = patternExpr.eval(input)
    if (v == null || p == null) return null
    val sdf = new java.text.SimpleDateFormat(p.toString, java.util.Locale.ROOT)
    sdf.setTimeZone(java.util.TimeZone.getTimeZone(zoneId))
    val millis =
      try sdf.parse(v.toString).getTime
      catch { case _: java.text.ParseException => Long.MinValue }
    java.time.ZonedDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(millis), java.time.ZoneId.of(zoneId))
      .toLocalDate.toEpochDay.toInt
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ToDateExpr =
    copy(child = newLeft, patternExpr = newRight)
  override def prettyName: String = "graft_to_date"
}

/** Type-preserving ROUND with the reference's BigDecimal semantics
  * (`SystemFunctionUtils.round:676-744`): every overload rounds through
  * `BigDecimal` HALF_UP and returns the OPERAND's own type. The FLOAT
  * overload goes through `new BigDecimal(value.toString())` — the float's
  * SHORTEST DECIMAL string — so `ROUND(5.555f, 2)` is 5.56, while widening
  * the binary float to double first (5.554999828…) would give 5.55
  * (`testFloorCeilAndRoundFunction:2528` pins 5.56). DECIMAL(p,s) rounded to
  * scale `o` returns DECIMAL(p-s+o, o) like Spark's own rule. Registered as
  * `graft_round`; Dialect.translate rewrites ROUND calls.
  */
case class DialectRoundExpr(child: Expression, scaleExpr: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = child
  override def right: Expression = scaleExpr
  /** Folded scale when the expression is constant — covers plain literals,
    * `ROUND(x, -1)` (UnaryMinus over a literal folds), and any other
    * foldable expression. The reference's `round(value, pointOffset)`
    * accepts arbitrary int offsets (`movePointRight` handles negatives). */
  private lazy val staticPointOffset: Option[Int] =
    if (scaleExpr.foldable) Option(scaleExpr.eval(null)).map(asOffset) else None
  private def asOffset(v: Any): Int = v match {
    case i: Int => i
    case b: Byte => b.toInt
    case s: Short => s.toInt
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_round: integral scale expected, got $other")
  }
  override lazy val dataType: DataType = child.dataType match {
    case d: DecimalType =>
      // Calcite's ROUND return type, pinned by the ITCase's create line
      // (:2524): DECIMAL(p,s) rounded to o -> DECIMAL(p - s + o + 1, o).
      // A DECIMAL operand needs a CONSTANT scale — the return type depends
      // on it (the reference's Calcite typing has the same constraint).
      val o = math.max(staticPointOffset.getOrElse(throw new IllegalArgumentException(
        "graft_round: a DECIMAL operand requires a constant scale " +
          "(Calcite's ROUND return type depends on it)")), 0)
      DecimalType(math.max(1, math.min(d.precision - d.scale + o + 1, 38)), o)
    case other => other
  }
  override def nullable: Boolean = child.nullable || staticPointOffset.isEmpty
  private def roundBd(bd: java.math.BigDecimal, po: Int): java.math.BigDecimal =
    bd.movePointRight(po)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .movePointLeft(po)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    // non-constant scales evaluate per row (non-decimal operands only —
    // their return type does not depend on the offset)
    val po = staticPointOffset.getOrElse {
      val s = scaleExpr.eval(input)
      if (s == null) return null
      asOffset(s)
    }
    v match {
      case b: Byte => roundBd(java.math.BigDecimal.valueOf(b.toLong), po).byteValue
      case s: Short => roundBd(java.math.BigDecimal.valueOf(s.toLong), po).shortValue
      case i: Int => roundBd(java.math.BigDecimal.valueOf(i.toLong), po).intValue
      case l: Long => roundBd(java.math.BigDecimal.valueOf(l), po).longValue
      // the float's SHORTEST string, not its double widening
      case f: Float =>
        roundBd(new java.math.BigDecimal(java.lang.Float.toString(f)), po).floatValue
      case d: Double => roundBd(java.math.BigDecimal.valueOf(d), po).doubleValue
      case d: Decimal =>
        val t = dataType.asInstanceOf[DecimalType]
        Decimal(roundBd(d.toBigDecimal.bigDecimal, po).setScale(t.scale), t.precision, t.scale)
    }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DialectRoundExpr =
    copy(child = newLeft, scaleExpr = newRight)
  override def prettyName: String = "graft_round"
}

object DialectCastExpr {

  /** StructField metadata key tagging an INT column as TIME(p) millis-of-day. */
  val TimeTypeKey = "graft.cdc.time.precision"

  private val DecimalRe = "(?i)^(?:DECIMAL|NUMERIC|DEC)\\s*(?:\\(\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*)?\\))?$".r

  def parseType(t: String): DataType = t.trim.toUpperCase match {
    case "TINYINT" => ByteType
    case "SMALLINT" => ShortType
    case "INT" | "INTEGER" => IntegerType
    case "BIGINT" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "BOOLEAN" => BooleanType
    case other => DecimalRe.findFirstMatchIn(other) match {
      case Some(m) =>
        val p = Option(m.group(1)).map(_.toInt).getOrElse(10)
        val s = Option(m.group(2)).map(_.toInt).getOrElse(0)
        DecimalType(p, s)
      case None =>
        throw new IllegalArgumentException(s"graft_cast: unsupported target type '$t'")
    }
  }

  /** `castToString` / `castObjectIntoString` string forms of internal values. */
  private def stringRep(v: Any): String = v match {
    case u: UTF8String => u.toString
    case d: Decimal => d.toBigDecimal.bigDecimal.toPlainString
    case other => String.valueOf(other)
  }

  private def objString(v: Any): String = v match {
    case b: Boolean => if (b) "1" else "0" // castObjectIntoString:1049
    case other => stringRep(other)
  }

  def castValue(v: Any, target: DataType): Any = target match {
    case BooleanType => v match {
      case b: Boolean => b
      case b: Byte => b != 0
      case s: Short => s != 0
      case i: Int => i != 0
      case l: Long => l != 0L
      case f: Float => f != 0f
      case d: Double => d != 0d
      case d: Decimal => d.toBigDecimal.signum != 0
      case other => stringRep(other).equalsIgnoreCase("true") // Boolean.valueOf
    }
    case ByteType => integral(v, 1)
    case ShortType => integral(v, 2)
    case IntegerType => integral(v, 4)
    case LongType => integral(v, 8)
    case FloatType => v match {
      case b: Boolean => if (b) 1f else 0f
      case d: Decimal => d.toBigDecimal.floatValue
      case d: Double => d.toFloat
      case f: Float => f
      case other =>
        try objString(other).toFloat catch { case _: NumberFormatException => null }
    }
    case DoubleType => v match {
      case b: Boolean => if (b) 1d else 0d
      case d: Decimal => d.toBigDecimal.doubleValue
      case d: Double => d
      case f: Float => f.toDouble // numeric widening, NOT via string
      case other =>
        try objString(other).toDouble catch { case _: NumberFormatException => null }
    }
    case dt: DecimalType =>
      try {
        var bd = new java.math.BigDecimal(
          objString(v), new java.math.MathContext(dt.precision))
        bd = bd.setScale(dt.scale, java.math.RoundingMode.HALF_UP)
        if (bd.precision > dt.precision) null else Decimal(bd, dt.precision, dt.scale)
      } catch { case _: NumberFormatException => null }
    case other =>
      throw new IllegalStateException(s"graft_cast: unreachable target $other")
  }

  /** Integral targets: Boolean → 0/1, fractional numerics truncate toward
    * zero, everything else (integrals included) through the string path —
    * exact width parse first, then double parse + truncate, else NULL.
    */
  private def integral(v: Any, width: Int): Any = {
    def narrow(l: Long): Any = width match {
      case 1 => l.toByte
      case 2 => l.toShort
      case 4 => l.toInt
      case _ => l
    }
    def narrowD(d: Double): Any = width match {
      case 1 => d.toByte
      case 2 => d.toShort
      case 4 => d.toInt
      case _ => d.toLong
    }
    v match {
      case b: Boolean => narrow(if (b) 1L else 0L)
      case d: Decimal =>
        // BigDecimal.byteValue()/shortValue()/intValue()/longValue(): truncate
        // toward zero, wrap on overflow (castToByte:806 etc.)
        val bd = d.toBigDecimal.bigDecimal
        width match {
          case 1 => bd.byteValue
          case 2 => bd.shortValue
          case 4 => bd.intValue
          case _ => bd.longValue
        }
      case d: Double => narrowD(d)
      case f: Float => narrowD(f.toDouble)
      case other =>
        val s = stringRep(other)
        val exact: Option[Any] =
          try Some(width match {
            case 1 => s.toByte
            case 2 => s.toShort
            case 4 => s.toInt
            case _ => s.toLong
          }) catch { case _: NumberFormatException => None }
        exact.getOrElse {
          try narrowD(s.toDouble)
          catch { case _: NumberFormatException => null }
        }
    }
  }

  /** Register the dialect functions in the session (idempotent). Called on
    * every transform application — the exists-probe keeps the per-batch cost
    * to one registry lookup instead of three registry mutations.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cast"))) return
    reg.createOrReplaceTempFunction(
      "graft_cast",
      { exprs =>
        require(exprs.size == 2, "graft_cast(expr, 'TYPE') takes exactly two arguments")
        exprs(1) match {
          case Literal(s: UTF8String, StringType) => DialectCastExpr(exprs.head, s.toString)
          case other => throw new IllegalArgumentException(
            s"graft_cast: second argument must be a string literal type name, got $other")
        }
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "graft_ceil",
      exprs => DialectCeilFloorExpr(exprs.head, isCeil = true), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_floor",
      exprs => DialectCeilFloorExpr(exprs.head, isCeil = false), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_round",
      exprs => DialectRoundExpr(exprs.head,
        if (exprs.size > 1) exprs(1)
        else Literal(0, IntegerType)), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_date_format",
      { exprs =>
        // the PIPELINE time zone, set per pipeline by the runner
        val tz = SparkSession.active.conf.get("spark.graft.local.tz", "UTC")
        DialectDateFormatExpr(exprs.head, exprs(1), tz)
      }, "built-in")
    // a bare UNIX_TIMESTAMP()/FROM_UNIXTIME() with no operands would reach
    // exprs.head and die with an opaque NoSuchElementException at analysis —
    // refuse with the required signature instead (the reference validates
    // operand counts in its SqlOperandCountRanges)
    def requireArity(name: String, exprs: Seq[Expression], usage: String,
                     min: Int = 1): Unit =
      if (exprs.size < min) throw new IllegalArgumentException(
        s"$name requires at least $min argument(s): $usage")
    reg.createOrReplaceTempFunction(
      "graft_from_unixtime",
      { exprs =>
        requireArity("FROM_UNIXTIME", exprs, "FROM_UNIXTIME(seconds[, format])")
        val tz = SparkSession.active.conf.get("spark.graft.local.tz", "UTC")
        FromUnixTimeExpr(exprs.head,
          if (exprs.size > 1) exprs(1) else Literal("yyyy-MM-dd HH:mm:ss"), tz)
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "graft_unix_timestamp",
      { exprs =>
        requireArity("UNIX_TIMESTAMP", exprs, "UNIX_TIMESTAMP(dateStr[, format])")
        val tz = SparkSession.active.conf.get("spark.graft.local.tz", "UTC")
        UnixTimestampExpr(exprs.head,
          if (exprs.size > 1) exprs(1) else Literal("yyyy-MM-dd HH:mm:ss"), tz)
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "graft_to_timestamp",
      { exprs =>
        requireArity("TO_TIMESTAMP", exprs, "TO_TIMESTAMP(str[, format])")
        val tz = SparkSession.active.conf.get("spark.graft.local.tz", "UTC")
        ToTimestampExpr(exprs.head,
          if (exprs.size > 1) exprs(1) else Literal("yyyy-MM-dd HH:mm:ss"), tz)
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "graft_timestampdiff",
      { exprs =>
        // TIMESTAMPDIFF returns INTEGER in the reference (Calcite's operator
        // + `PostTransformOperatorTest.testTimestampdiffTransformData:1333`
        // asserts Integer cells); Spark's native returns BIGINT — wrap
        requireArity("TIMESTAMPDIFF", exprs, "TIMESTAMPDIFF(unit, start, end)",
          min = 3)
        val unit = exprs.head match {
          case Literal(u: UTF8String, StringType) => u.toString
          case other => throw new IllegalArgumentException(
            s"TIMESTAMPDIFF unit must be a literal, got $other")
        }
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.TimestampDiff(
            unit, exprs(1), exprs(2)),
          IntegerType)
      }, "built-in")
    reg.createOrReplaceTempFunction(
      "graft_to_date",
      { exprs =>
        requireArity("TO_DATE", exprs, "TO_DATE(str[, format])")
        val tz = SparkSession.active.conf.get("spark.graft.local.tz", "UTC")
        ToDateExpr(exprs.head,
          if (exprs.size > 1) exprs(1) else Literal("yyyy-MM-dd"), tz)
      }, "built-in")
  }
}
