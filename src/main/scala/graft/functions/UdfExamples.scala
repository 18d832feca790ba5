package graft.functions.udfexamples

import graft.functions.UserDefinedFunction

// Behavior-equivalent re-implementations of the reference's UDF example
// classes (`flink-cdc-pipeline-udf-examples/src/main/java/org/apache/flink/
// cdc/udf/examples/java/` — FormatFunctionClass.java, AddOneFunctionClass
// .java, TypeOfFunctionClass.java) — the classes its UDF ITCases load by
// classpath. The YAML `user-defined-function` section resolves these
// reflectively (graft.pipeline.PipelineRunner), exactly like the
// reference's `UserDefinedFunctionDescriptor` does for the originals.

/** `FormatFunctionClass.eval(String format, Object... args)` =
  * `String.format`. VARIADIC like the reference's `Object...` signature —
  * the registry registers one wrapper per arity and the dialect parser
  * dispatches each call site by argument count, so `format('%s', x)` and
  * `format('from %s to %s is %s', col1, 'z', 'lie')` both resolve.
  */
class FormatFunctionClass extends UserDefinedFunction {
  override def name: String = "format"
  override def arity: Int = 4
  override def variadic: Boolean = true
  override def eval(args: Any*): Any =
    String.format(
      String.valueOf(args.head),
      args.tail.map(_.asInstanceOf[AnyRef]): _*)
}

/** `AddOneFunctionClass.eval(Integer|String num)` = `num + 1` as STRING. */
class AddOneFunctionClass extends UserDefinedFunction {
  override def name: String = "addone"
  override def arity: Int = 1
  override def eval(args: Any*): Any = args.head match {
    case null => null
    case i: Int => String.valueOf(i + 1)
    case s => String.valueOf(s.toString.trim.toInt + 1)
  }
}

/** `TypeOfFunctionClass` — the reference's OVERLOAD-dispatched evals
  * (`eval(Boolean|Integer|Float|Double|String)`, each rendering
  * `"<Type>: <value>"`); the single untyped eval dispatches on the runtime
  * class, which is what Java overload resolution does at the Janino call
  * site. A BigDecimal argument reports as Double: Janino compiles a
  * fractional literal like `3.14` to a Java double, while Spark's parser
  * types it DECIMAL — same value, reference-faithful rendering.
  */
class TypeOfFunctionClass extends UserDefinedFunction {
  override def name: String = "typeof"
  override def arity: Int = 1
  override def eval(args: Any*): Any = args.head match {
    case b: Boolean => "Boolean: " + b
    case i: Int => "Integer: " + i
    case f: Float => "Float: " + f
    case d: Double => "Double: " + d
    case d: java.math.BigDecimal => "Double: " + d
    case s: String => "String: " + s
    case other => throw new IllegalArgumentException(
      s"no typeof eval overload for ${if (other == null) "null" else other.getClass.getName}")
  }
}

/** `LifecycleFunctionClass` (reference: open() zeroes a counter, eval()
  * returns `#<counter++>`, close() reports the call count). The counter is
  * thread-safe here: Spark evaluates projection expressions per-image and
  * per-plan-node, so absolute call COUNTS are an engine detail — gates
  * assert the `#N` SHAPE and the open/close lifecycle, not exact numbers.
  */
class LifecycleFunctionClass extends UserDefinedFunction {
  override def name: String = "lifecycle"
  override def arity: Int = 0
  @transient private lazy val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  override def open(): Unit = {
    LifecycleFunctionClass.openedCount.incrementAndGet()
    println("[ LifecycleFunction ] opened.")
  }
  override def close(): Unit =
    println(s"[ LifecycleFunction ] closed. Called ${counter.get} times.")
  override def eval(args: Any*): Any = "#" + counter.getAndIncrement()
}
object LifecycleFunctionClass {
  /** observable open() evidence for gates (stdout is not assertable here) */
  val openedCount = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** `TypeHintFunctionClass` — Object-typed eval whose return type comes from
  * the DECLARED hint (`getReturnType` = STRING), not the signature. */
class TypeHintFunctionClass extends UserDefinedFunction {
  override def name: String = "answer"
  override def arity: Int = 0
  override def eval(args: Any*): Any = "Forty-two"
}

/** Behavior-equivalent re-implementations of the reference's FLINK-namespace
  * UDF examples (`flink-cdc-pipeline-udf-examples/src/main/java/org/apache/
  * flink/udf/examples/java/` — classes extending Flink's `ScalarFunction`,
  * NOT the CDC UDF interface). The reference accepts them by detecting the
  * ScalarFunction superclass (`UserDefinedFunctionDescriptor.java:85-103`);
  * graft's analog accepts any class exposing public typed `eval` overloads
  * ([[graft.functions.ReflectiveUdf]]) — the Spark-side shape of "a plain
  * scalar function class the engine introspects".
  */
package flinkshaped {

  /** `ScalarFunction`-shaped `format` with the reference's variadic
    * `eval(String format, Object... args)` signature. */
  class FormatFunctionClass extends Serializable {
    @scala.annotation.varargs
    def eval(format: String, args: AnyRef*): String =
      String.format(format, args: _*)
  }

  /** `ScalarFunction`-shaped `addone` with the reference's two overloads. */
  class AddOneFunctionClass extends Serializable {
    def eval(num: Integer): String = String.valueOf(num + 1)
    def eval(num: String): String = String.valueOf(num.trim.toInt + 1)
  }

  /** `ScalarFunction`-shaped `typeof` with the reference's five overloads. */
  class TypeOfFunctionClass extends Serializable {
    def eval(b: java.lang.Boolean): String = "Boolean: " + b
    def eval(i: java.lang.Integer): String = "Integer: " + i
    def eval(f: java.lang.Float): String = "Float: " + f
    def eval(d: java.lang.Double): String = "Double: " + d
    // Janino compiles fractional literals to Java double; Spark's parser
    // types them DECIMAL — report as Double like the reference call site
    def eval(d: java.math.BigDecimal): String = "Double: " + d
    def eval(s: String): String = "String: " + s
  }
}

/** The reference's PRECISION-typed UDF example classes
  * (`flink-cdc-pipeline-udf-examples/.../java/precision/` — the eight
  * `…TypeReturningClass.java` files): arity-0 evals whose DECLARED return
  * types (getReturnType) drive the sink schema —
  * `FlinkPipelineUdfITCase.testComplicatedUdfReturnTypes:914`.
  */
package precision {
  import org.apache.spark.sql.types._

  class CharTypeReturningClass extends UserDefinedFunction {
    override def name = "get_char"; override def arity = 0
    override def eval(args: Any*): Any = "This is a string."
  }
  class VarCharTypeReturningClass extends UserDefinedFunction {
    override def name = "get_varchar"; override def arity = 0
    override def eval(args: Any*): Any = "This is a string."
  }
  class BinaryTypeReturningClass extends UserDefinedFunction {
    override def name = "get_binary"; override def arity = 0
    override def returnType: DataType = BinaryType
    override def eval(args: Any*): Any = "xyzzy".getBytes("UTF-8")
  }
  class VarBinaryTypeReturningClass extends UserDefinedFunction {
    override def name = "get_varbinary"; override def arity = 0
    override def returnType: DataType = BinaryType
    override def eval(args: Any*): Any = "xyzzy".getBytes("UTF-8")
  }
  /** TIMESTAMP(2) — `TimestampData.fromMillis(86400000)`, a LOCAL datetime. */
  class TimestampTypeReturningClass extends UserDefinedFunction {
    override def name = "get_ts"; override def arity = 0
    override def returnType: DataType = TimestampNTZType
    override def eval(args: Any*): Any = java.time.LocalDateTime.parse("1970-01-02T00:00")
  }
  /** TIMESTAMP_LTZ(2) — `LocalZonedTimestampData.fromEpochMillis(86400000)`. */
  class LocalZonedTimestampTypeReturningClass extends UserDefinedFunction {
    override def name = "get_ts_ltz"; override def arity = 0
    override def returnType: DataType = TimestampType
    override def eval(args: Any*): Any = java.time.Instant.ofEpochMilli(86400000L)
  }
  class DecimalTypeReturningClass extends UserDefinedFunction {
    override def name = "get_decimal"; override def arity = 0
    override def returnType: DataType = DecimalType(10, 3)
    override def eval(args: Any*): Any = new java.math.BigDecimal("12.315")
  }
  class DecimalTypeNonNullReturningClass extends UserDefinedFunction {
    override def name = "get_non_null"; override def arity = 0
    override def returnType: DataType = DecimalType(10, 3)
    override def eval(args: Any*): Any = new java.math.BigDecimal("12.315")
  }
}
