package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** `TransformParserTest.java` + the portable half of `JaninoCompilerTest.java`
  * (flink-cdc-runtime/src/test/.../parser/), transcribed at the SEMANTIC
  * level: the reference asserts the Janino TRANSLATION string per input; this
  * engine translates to Spark SQL instead, so each pinned case asserts either
  * the translation property that must survive (function spelling, operand
  * normalization, error wording) or the evaluated VALUE the Janino expression
  * would produce over the same operands. Janino-infrastructure tests
  * (testJaninoParser/UnParser, evaluator plumbing) are n/a — Catalyst is the
  * compiler here; their value-level content (numeric/char/string compares)
  * is pinned by StrictEqualitySpec and the `c_conformance_comparison_functions`
  * gate.
  */
class DialectParserSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** translate + strict-equality rewrite + evaluate over a one-row frame —
    * the same path the transform operator's filters/projections ride
    * ([[graft.operators.TransformOp]]). */
  private def evalOn(expr: String, cols: String = ""): org.apache.spark.sql.Row = {
    DialectCastExpr.ensureRegistered(spark)
    val df = if (cols.isEmpty) spark.sql("SELECT 1 AS __dummy")
      else spark.sql(s"SELECT $cols")
    val typeOf: String => Option[org.apache.spark.sql.types.DataType] =
      n => df.schema.fields.find(_.name == n).map(_.dataType)
    df.select(StrictEquality.parse(spark, Dialect.translate(expr), typeOf).as("v")).head()
  }

  // testTranslateFilterToJaninoExpression:174 — the comparison/null block.
  // The Janino targets (`valueEquals`, `null != id`) evaluate as Java
  // Object.equals with two-valued null handling; the translated Spark forms
  // must produce the same VALUES.
  test("filter translation: null checks, strict equality, boolean predicates") {
    assert(evalOn("id is not null", "1 AS id").getBoolean(0))
    assert(evalOn("id is null", "CAST(NULL AS INT) AS id").getBoolean(0))
    assert(evalOn("id = 1 and uid = 2", "1 AS id, 2 AS uid").getBoolean(0))
    assert(evalOn("id = 1 or id = 2", "2 AS id").getBoolean(0))
    assert(!evalOn("not (id = 1)", "1 AS id").getBoolean(0))
    // `id = '1'` on a TYPED column: the reference's projection translator
    // casts the literal to the column's type before comparing
    // (testParsingExpressionWithUnicodeLiterals:748 pins
    // `valueEquals($0, castToInteger("..."))` for an INT column), so a
    // numeric string matches and a non-numeric one casts to NULL (never
    // equal — pinned in the unicode test below)
    assert(evalOn("id = '1'", "1 AS id").getBoolean(0))
    assert(!evalOn("id <> '1'", "1 AS id").getBoolean(0))
    // IS FALSE / IS NOT FALSE / IS TRUE / IS NOT TRUE are two-valued
    // (`false == id` etc.): NULL input renders false/true, never null
    assert(!evalOn("id is false", "true AS id").getBoolean(0))
    assert(evalOn("id is not false", "true AS id").getBoolean(0))
    assert(evalOn("id is true", "true AS id").getBoolean(0))
    assert(!evalOn("id is not true", "true AS id").getBoolean(0))
  }

  // :182-186 — BETWEEN/IN translate to the asymmetric/in runtime calls
  test("filter translation: between and in") {
    assert(evalOn("d between d1 and d2", "2 AS d, 1 AS d1, 3 AS d2").getBoolean(0))
    assert(evalOn("d not between d1 and d2", "5 AS d, 1 AS d1, 3 AS d2").getBoolean(0))
    assert(evalOn("d in (d1, d2)", "2 AS d, 1 AS d1, 2 AS d2").getBoolean(0))
    assert(evalOn("d not in (d1, d2)", "5 AS d, 1 AS d1, 2 AS d2").getBoolean(0))
  }

  // :190-201 — the string-function spellings
  test("filter translation: string functions") {
    assert(evalOn("a || b", "'x' AS a, 'y' AS b").getString(0) == "xy")
    assert(evalOn("CHAR_LENGTH(id)", "'abc' AS id").getInt(0) == 3)
    assert(evalOn("trim(id)", "' x ' AS id").getString(0) == "x")
    assert(evalOn("REGEXP_REPLACE(id, '[a-zA-Z]', '')", "'a1b2' AS id").getString(0) == "12")
    assert(evalOn("upper(id)", "'ab' AS id").getString(0) == "AB")
    assert(evalOn("lower(id)", "'AB' AS id").getString(0) == "ab")
    assert(evalOn("concat(a,b)", "'x' AS a, 'y' AS b").getString(0) == "xy")
    assert(evalOn("SUBSTR(a,1)", "'abc' AS a").getString(0) == "abc")
    assert(evalOn("upper(lower(id))", "'Ab' AS id").getString(0) == "AB")
  }

  // :199-200 — LIKE is Java regex FIND (not SQL LIKE); the '^[a-zA-Z]'
  // pattern the reference pins is a REGEX anchor, meaningless in SQL LIKE
  test("filter translation: like is regex") {
    assert(Dialect.translate("id like '^[a-zA-Z]'") == "id RLIKE '^[a-zA-Z]'")
    assert(Dialect.translate("id not like '^[a-zA-Z]'") == "id NOT RLIKE '^[a-zA-Z]'")
    assert(evalOn("id like '^[a-zA-Z]'", "'abc' AS id").getBoolean(0))
    assert(!evalOn("id like '^[a-zA-Z]'", "'1bc' AS id").getBoolean(0))
  }

  // :201-207 — math spellings; CEILING aliases CEIL, all type-preserving
  test("filter translation: math functions") {
    assert(evalOn("abs(2)").getInt(0) == 2)
    assert(evalOn("ceil(2)").getInt(0) == 2)
    assert(evalOn("ceiling(2)").getInt(0) == 2)
    assert(evalOn("floor(2)").getInt(0) == 2)
    assert(evalOn("round(2,2)").getInt(0) == 2)
    // JaninoCompilerTest.testBuildInFunction:116: ceil(2.4) == 3.0 — DOUBLE
    // in, DOUBLE out (type-preserving, not Spark's BIGINT)
    assert(evalOn("ceil(2.4D)").getDouble(0) == 3.0)
    // uuid() parses and returns a 36-char identifier
    assert(evalOn("uuid()").getString(0).length == 36)
  }

  // :336-341 — conditional spellings
  test("filter translation: conditionals") {
    assert(evalOn("IF(a>b,a,b)", "3 AS a, 2 AS b").getInt(0) == 3)
    assert(evalOn("NULLIF(a,b)", "1 AS a, 1 AS b").isNullAt(0))
    assert(evalOn("COALESCE(a,b,c)",
      "CAST(NULL AS INT) AS a, 2 AS b, 3 AS c").getInt(0) == 2)
    assert(evalOn("case id when 1 then 'a' when 2 then 'b' else 'c' end",
      "2 AS id").getString(0) == "b")
    assert(evalOn("case when id = 1 then 'a' when id = 2 then 'b' else 'c' end",
      "3 AS id").getString(0) == "c")
  }

  // :342-351 — arithmetic/comparison operators survive as-is
  test("filter translation: arithmetic and comparisons") {
    assert(evalOn("id + 2", "1 AS id").getInt(0) == 3)
    assert(evalOn("id - 2", "1 AS id").getInt(0) == -1)
    assert(evalOn("id * 2", "2 AS id").getInt(0) == 4)
    // division: every reference fixture divides AFTER casting to DOUBLE
    // (testArithmeticFunctions — `CAST(id AS DOUBLE) / 1.7`); raw int/int
    // division is unpinned reference surface (Janino would truncate), so
    // the pinned spelling is asserted here
    assert(evalOn("CAST(id AS DOUBLE) / 2", "4 AS id").getDouble(0) == 2.0)
    assert(evalOn("id % 2", "5 AS id").getInt(0) == 1)
    assert(evalOn("a < b", "1 AS a, 2 AS b").getBoolean(0))
    assert(evalOn("a <= b", "2 AS a, 2 AS b").getBoolean(0))
    assert(evalOn("a > b", "3 AS a, 2 AS b").getBoolean(0))
    assert(evalOn("a >= b", "2 AS a, 2 AS b").getBoolean(0))
    assert(evalOn("abs(uniq_id) > 10 and id is not null",
      "-11 AS uniq_id, 1 AS id").getBoolean(0))
  }

  // :352-391 — the CAST matrix spellings route to the never-throwing
  // dialect cast (castToX); `cast(id||'0' as int)` composes through concat
  test("filter translation: casts") {
    assert(evalOn("cast(id||'0' as int)", "'1' AS id").getInt(0) == 10)
    assert(evalOn("cast(1 as string)").getString(0) == "1")
    assert(evalOn("cast(1 as boolean)").getBoolean(0))
    assert(evalOn("cast(1 as tinyint)").getByte(0) == 1.toByte)
    assert(evalOn("cast(1 as smallint)").getShort(0) == 1.toShort)
    assert(evalOn("cast(1 as bigint)").getLong(0) == 1L)
    assert(evalOn("cast(1 as float)").getFloat(0) == 1.0f)
    assert(evalOn("cast(1 as double)").getDouble(0) == 1.0)
    assert(evalOn("cast(1 as decimal)").getDecimal(0).intValue == 1)
    assert(evalOn("cast(1 as char)").getString(0) == "1")
    assert(evalOn("cast(1 as varchar)").getString(0) == "1")
    assert(evalOn("cast(null as int)").isNullAt(0))
    assert(evalOn("cast(null as string)").isNullAt(0))
  }

  // :240-335 + testTranslateFilterToJaninoExpressionError:394 — the
  // TIMESTAMPDIFF/TIMESTAMPADD family: both spellings, string-literal and
  // bare-identifier units, and the two refusal wordings
  test("timestamp diff/add: unit spellings and refusals") {
    // bare identifier + quoted literal forms both normalize; the result
    // types INT like the reference operator (PostTransformOperatorTest
    // .testTimestampdiffTransformData:1333 asserts Integer cells), not
    // Spark's native BIGINT
    assert(evalOn("TIMESTAMPDIFF(DAY, TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-03 00:00:00')").getInt(0) == 2)
    assert(evalOn("TIMESTAMP_DIFF('DAY', TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-03 00:00:00')").getInt(0) == 2)
    assert(evalOn("timestamp_diff('second', TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-01 00:00:10')").getInt(0) == 10)
    // the reference's 1970-01-01 → 2025-01-01 value matrix (:1420-1673):
    // SECOND/MINUTE/HOUR/DAY/MONTH/YEAR over the 55-year span
    val span = "TIMESTAMP '1970-01-01 00:00:00', TIMESTAMP '2025-01-01 00:00:00'"
    assert(evalOn(s"TIMESTAMPDIFF(SECOND, $span)").getInt(0) == 1735689600)
    assert(evalOn(s"TIMESTAMPDIFF(MINUTE, $span)").getInt(0) == 28928160)
    assert(evalOn(s"TIMESTAMPDIFF(HOUR, $span)").getInt(0) == 482136)
    assert(evalOn(s"TIMESTAMPDIFF(DAY, $span)").getInt(0) == 20089)
    assert(evalOn(s"TIMESTAMPDIFF(MONTH, $span)").getInt(0) == 660)
    assert(evalOn(s"TIMESTAMPDIFF(YEAR, $span)").getInt(0) == 55)
    assert(evalOn("CAST(TIMESTAMPADD(MINUTE, 1, TIMESTAMP '2024-01-01 00:00:00') AS STRING)")
      .getString(0).startsWith("2024-01-01 00:01:00"))
    // QUARTER parses in Calcite but the translator refuses it (:394-435)
    val quarterDiff = intercept[IllegalArgumentException] {
      Dialect.translate("TIMESTAMPDIFF(QUARTER, dt1, dt2)")
    }
    assert(quarterDiff.getMessage ==
      "Unsupported time interval unit in timestamp diff function: \"QUARTER\"")
    val quarterAdd = intercept[IllegalArgumentException] {
      Dialect.translate("TIMESTAMPADD(QUARTER, dt1, dt2)")
    }
    assert(quarterAdd.getMessage ==
      "Unsupported time interval unit in timestamp add function: \"QUARTER\"")
    // SECONDS is not a Calcite interval keyword at all — parse failure
    val bogus = intercept[IllegalArgumentException] {
      Dialect.translate("TIMESTAMPDIFF(SECONDS, dt1, dt2)")
    }
    assert(bogus.getMessage == "Statements can not be parsed.")
  }

  // the pre-pass runs on raw SQL (quoted units must be visible) but must be
  // literal-aware: TIMESTAMPDIFF text INSIDE a string literal is data — a
  // projection literal containing "TIMESTAMPDIFF(QUARTER," must neither be
  // rewritten nor refused
  test("timestamp diff pre-pass is string-literal-aware") {
    val lit = "'see TIMESTAMPDIFF(QUARTER, a, b) docs' AS doc"
    assert(evalOn(lit).getString(0) == "see TIMESTAMPDIFF(QUARTER, a, b) docs")
    assert(evalOn("'TIMESTAMP_DIFF(DAY, x, y)' AS s").getString(0) ==
      "TIMESTAMP_DIFF(DAY, x, y)")
    // a real call NEXT TO such a literal still rewrites
    assert(evalOn("TIMESTAMPDIFF(DAY, TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-02 00:00:00')").getInt(0) == 1)
  }

  // unbalanced quote forms ('DAY / DAY') are rejected like the reference's
  // Calcite parser (an unterminated literal), not silently accepted
  test("timestamp diff unit quotes must pair") {
    Seq("TIMESTAMPDIFF('DAY, dt1, dt2)", "TIMESTAMPDIFF(DAY', dt1, dt2)").foreach { sql =>
      val e = intercept[IllegalArgumentException](Dialect.translate(sql))
      assert(e.getMessage == "Statements can not be parsed.")
    }
  }

  // operand-count validation (the reference's SqlOperandCountRanges): a
  // 2-arg TIMESTAMPDIFF refuses with the signature, not an
  // IndexOutOfBoundsException from the builder
  test("timestamp diff arity is validated") {
    val e = intercept[Exception] {
      evalOn("TIMESTAMPDIFF(DAY, TIMESTAMP '2024-01-01 00:00:00')")
    }
    def rootChain(t: Throwable): List[Throwable] =
      t :: Option(t.getCause).map(rootChain).getOrElse(Nil)
    assert(rootChain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("TIMESTAMPDIFF(unit, start, end)"))))
  }

  // testParsingExpressionWithUnicodeLiterals:748 — equality against unicode
  // literals keeps the literal intact through translation, and the
  // INT-column comparisons go through castToInteger (NULL → never equal)
  test("unicode literals survive translation") {
    val samples = Seq("ascii", "数据库", "🍀", "Д𝑂Û𝕭ᵝ")
    samples.foreach { u =>
      assert(evalOn(s"a = '$u'", s"'$u' AS a").getBoolean(0))
      assert(!evalOn(s"a <> '$u'", s"'$u' AS a").getBoolean(0))
      // b = '<unicode>' on an INT b: castToInteger(literal) is NULL, never
      // equal (two-valued) — and the negation is TRUE
      assert(!evalOn(s"b = cast('$u' as int)", "1 AS b").getBoolean(0))
      assert(evalOn(s"b <> cast('$u' as int)", "1 AS b").getBoolean(0))
    }
  }
}
