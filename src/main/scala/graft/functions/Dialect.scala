package graft.functions

/** Transform-dialect shims: translate the reference's expression dialect
  * (`runtime/parser/metadata/TransformSqlOperatorTable.java:90-385`, impls
  * `runtime/functions/SystemFunctionUtils.java`) into Spark SQL with exact
  * semantics. Most functions map 1:1; the deliberate differences:
  *
  *  - `LIKE` is implemented as Java-regex `find()` in the reference
  *    (`SystemFunctionUtils.like:458`), which is Spark's `RLIKE`, NOT SQL LIKE.
  *  - `NOW()` / `CURRENT_TIMESTAMP` / `LOCALTIMESTAMP` are evaluated against a
  *    per-record epoch captured in `__epoch_time__` (`JaninoCompiler.java:83-84`),
  *    not the wall clock at expression eval time.
  *  - Cast overflow must throw (reference `castToByte:799` etc.) — run the
  *    session with `spark.sql.ansi.enabled=true` for the CAST matrix.
  *  - `TRIM(sym, target, str)` ignores symbol/target and trims whitespace
  *    (`SystemFunctionUtils.trim:429`).
  */
object Dialect {

  /** the per-record epoch column name the parser binds the now-family to
    * (the reference's `__epoch_time__`, JaninoCompiler.java:83-84) */
  val EpochCol = "__epoch_time__"

  /** Rewrites performed on a dialect expression before handing it to Catalyst.
    * Conservative token-level rewrites outside of string literals.
    */
  def translate(
      sql0: String,
      epochTimeColumn: Option[String] = None,
      timeZone: String = "UTC"): String = {
    // pre-pass: LIKE <literal> ESCAPE '<c>' needs the pattern literal, so it
    // resolves BEFORE literal segmentation (see foldLikeEscape); CAST
    // rewriting is also literal-aware and recursive, so it runs on raw SQL
    val sql = rewriteCasts(foldLikeEscape(rewriteTimestampUnits(sql0)))
    // split into string-literal and non-literal segments; rewrite only outside
    val out = new StringBuilder
    var i = 0
    var inStr = false
    val seg = new StringBuilder
    def flush(): Unit = {
      out.append(rewriteSegment(seg.toString, epochTimeColumn, timeZone)); seg.clear()
    }
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!inStr && c == '\'') { flush(); inStr = true; out.append(c) }
      else if (inStr && c == '\'') {
        // handle escaped '' inside literal
        if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { out.append("''"); i += 1 }
        else { inStr = false; out.append(c) }
      } else if (inStr) out.append(c)
      else seg.append(c)
      i += 1
    }
    flush()
    out.toString
  }

  /** `LIKE <literal> ESCAPE '<c>'`: consume the escape clause by folding the
    * escape character into the pattern — the escaped character becomes a
    * regex-literal (backslash-quoted when it is a regex metacharacter),
    * consistent with the LIKE-as-regex dialect. Spark RLIKE has no ESCAPE
    * form, so this must resolve at translate time, on the raw SQL (the
    * pattern literal is needed).
    */
  private def foldLikeEscape(sql: String): String = {
    val likeEscape =
      "(?i)\\b(NOT\\s+)?LIKE\\s+('(?:[^']|'')*')\\s+ESCAPE\\s+'(.)'".r
    likeEscape.replaceAllIn(sql, m => {
      val not = Option(m.group(1)).fold("")(_ => "NOT ")
      val inner = m.group(2).drop(1).dropRight(1)
      val esc = m.group(3).charAt(0)
      val sb = new StringBuilder
      var i = 0
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (c == esc && i + 1 < inner.length) {
          val nxt = inner.charAt(i + 1)
          // double backslash: one level consumed by the SQL string literal,
          // leaving a regex \X escape
          if ("\\^$.|?*+()[]{}".indexOf(nxt) >= 0) sb.append("\\\\").append(nxt)
          else sb.append(nxt)
          i += 2
        } else { sb.append(c); i += 1 }
      }
      scala.util.matching.Regex.quoteReplacement(s"${not}RLIKE '${sb.toString}'")
    })
  }

  /** TIMESTAMPDIFF/TIMESTAMPADD unit handling — a RAW-SQL pre-pass (the
    * quoted-literal unit form must be visible, so this runs before literal
    * segmentation). The reference registers both spellings
    * (`TransformParserTest.java:240-310`): `TIMESTAMPDIFF(DAY, …)` takes a
    * bare-identifier unit, `TIMESTAMP_DIFF('day', …)` a string literal.
    * Units are validated per the reference translator
    * (`testTranslateFilterToJaninoExpressionError:394`): only
    * SECOND/MINUTE/HOUR/DAY/MONTH/YEAR — a Calcite-parseable interval
    * keyword outside the set (QUARTER, WEEK, …) refuses with the exact
    * "Unsupported time interval unit" wording, an unknown identifier
    * (SECONDS) with the parse failure. Spark's native timestampdiff would
    * happily take QUARTER — gated here — and needs the unit unquoted.
    */
  private def rewriteTimestampUnits(sql0: String): String = {
    // spans [start, end) of single-quoted SQL string literals ('' = escape) —
    // a TIMESTAMPDIFF( occurrence INSIDE a literal is data, not a call, and
    // must be left untouched (the unit validation would otherwise fire on it)
    def literalSpans(s: String): Seq[(Int, Int)] = {
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\'') {
          val start = i; i += 1
          var done = false
          while (i < s.length && !done) {
            if (s.charAt(i) == '\'') {
              if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 2
              else { done = true; i += 1 }
            } else i += 1
          }
          spans += ((start, i))
        } else i += 1
      }
      spans.toSeq
    }
    val spans = literalSpans(sql0)
    def inLiteral(pos: Int): Boolean =
      spans.exists { case (a, b) => pos >= a && pos < b }

    val tsUnits = Set("SECOND", "MINUTE", "HOUR", "DAY", "MONTH", "YEAR")
    val calciteIntervalKeywords = tsUnits ++ Set(
      "QUARTER", "WEEK", "MILLISECOND", "MICROSECOND", "NANOSECOND", "EPOCH")
    // unit token: paired quotes, bare identifier, or (group 4) the unbalanced
    // mixed forms 'DAY / DAY' that the reference's Calcite parser rejects
    val tsCall =
      ("(?i)\\bTIMESTAMP(DIFF|ADD|_DIFF)\\s*\\(\\s*" +
        "(?:'([A-Za-z_]+)'|([A-Za-z_]+)|('[A-Za-z_]+|[A-Za-z_]+'))\\s*,").r
    val sb = new StringBuilder
    var last = 0
    tsCall.findAllMatchIn(sql0).foreach { m =>
      if (m.start >= last && !inLiteral(m.start)) {
        val isDiff = !m.group(1).equalsIgnoreCase("ADD")
        val fn = if (isDiff) "diff" else "add"
        if (m.group(4) != null)
          throw new IllegalArgumentException("Statements can not be parsed.")
        val unit =
          (if (m.group(2) != null) m.group(2) else m.group(3))
            .toUpperCase(java.util.Locale.ROOT)
        if (!tsUnits.contains(unit)) {
          if (calciteIntervalKeywords.contains(unit))
            throw new IllegalArgumentException(
              s"""Unsupported time interval unit in timestamp $fn function: "$unit"""")
          else throw new IllegalArgumentException("Statements can not be parsed.")
        }
        sb.append(sql0.substring(last, m.start))
        // TIMESTAMPADD keeps the native Spark syntax (identifier unit, returns
        // the operand's timestamp type like the reference); TIMESTAMPDIFF
        // rewrites to graft_timestampdiff('<UNIT>', …) — the reference's
        // operator returns INTEGER where Spark's native returns BIGINT
        if (isDiff) sb.append(s"graft_timestampdiff('$unit',")
        else sb.append(s"TIMESTAMPADD($unit,")
        last = m.end
      }
    }
    sb.append(sql0.substring(last))
    sb.toString
  }

  /** Rewrite dialect CASTs (recursive, string-literal-aware):
    *
    *  - `CAST(x AS VARCHAR)` / `VARCHAR(n)` / `CHAR(n)` → `CAST(x AS STRING)`
    *    (Spark has no bare VARCHAR; the reference's `castToString` never
    *    truncates to the declared length, so STRING is exact);
    *  - `CAST(x AS <numeric|BOOLEAN>)` → `graft_cast(x, '<TYPE>')` — the
    *    never-throwing dialect cast ([[DialectCastExpr]]); Spark's ANSI CAST
    *    (default since 4.0) would raise where the reference yields NULL.
    *
    * Other target types (DATE, TIMESTAMP, STRING, ...) keep native CAST.
    */
  private[functions] def rewriteCasts(sql: String): String = {
    val dialectTarget =
      "(?i)^(TINYINT|SMALLINT|INT|INTEGER|BIGINT|FLOAT|DOUBLE|BOOLEAN|(?:DECIMAL|NUMERIC|DEC)\\s*(?:\\(\\s*\\d+\\s*(?:,\\s*\\d+\\s*)?\\))?)$".r
    val varcharTarget = "(?i)^(?:VARCHAR|CHAR)\\s*(?:\\(\\s*\\d+\\s*\\))?$".r
    val out = new StringBuilder
    var i = 0
    var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) {
        out.append(c)
        if (c == '\'') inStr = false // '' escape: next quote re-enters below
        i += 1
      } else if (c == '\'') { out.append(c); inStr = true; i += 1 }
      else if ((c == 'C' || c == 'c') && sql.regionMatches(true, i, "CAST", 0, 4) &&
          (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1)) && sql.charAt(i - 1) != '_') &&
          { var j = i + 4; while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
            j < sql.length && sql.charAt(j) == '(' }) {
        var j = i + 4
        while (sql.charAt(j).isWhitespace) j += 1
        val open = j
        // find the matching close paren, literal-aware
        var depth = 0; var k = open; var lit = false; var close = -1
        while (k < sql.length && close < 0) {
          val ch = sql.charAt(k)
          if (lit) { if (ch == '\'') lit = false }
          else ch match {
            case '\'' => lit = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = k
            case _ =>
          }
          k += 1
        }
        if (close < 0) { out.append(c); i += 1 } // malformed: leave as-is
        else {
          val inner = sql.substring(open + 1, close)
          // last top-level ` AS ` outside literals/parens
          var asIdx = -1
          var d2 = 0; var lit2 = false; var m = 0
          while (m + 3 <= inner.length) {
            val ch = inner.charAt(m)
            if (lit2) { if (ch == '\'') lit2 = false; m += 1 }
            else ch match {
              case '\'' => lit2 = true; m += 1
              case '(' | '[' => d2 += 1; m += 1
              case ')' | ']' => d2 -= 1; m += 1
              case _ =>
                if (d2 == 0 && inner.regionMatches(true, m, "AS", 0, 2) &&
                    (m == 0 || inner.charAt(m - 1).isWhitespace) &&
                    m + 2 < inner.length && inner.charAt(m + 2).isWhitespace)
                  asIdx = m
                m += 1
            }
          }
          if (asIdx < 0) { out.append(sql.substring(i, close + 1)); i = close + 1 }
          else {
            val operand = rewriteCasts(inner.substring(0, asIdx).trim)
            val target = inner.substring(asIdx + 2).trim
            val rewritten = target match {
              case varcharTarget() => s"CAST($operand AS STRING)"
              case dialectTarget(t) =>
                s"graft_cast($operand, '${t.replaceAll("\\s+", "").toUpperCase}')"
              case other => s"CAST($operand AS $other)"
            }
            out.append(rewritten)
            i = close + 1
          }
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def rewriteSegment(
      s: String, epochCol: Option[String], timeZone: String): String = {
    var r = s
    // LIKE-as-regex quirk: reference compiles the pattern as a Java regex
    r = r.replaceAll("(?i)\\bNOT\\s+LIKE\\b", "NOT RLIKE")
    r = r.replaceAll("(?i)(?<!R)\\bLIKE\\b", "RLIKE")
    // DATE_FORMAT is a SimpleDateFormat render in the PIPELINE time zone
    // (DialectDateFormatExpr) — rewritten BEFORE the now-family binding so
    // the binding's own emitted date_format() calls stay native
    r = r.replaceAll("(?i)\\bDATE_FORMAT\\s*\\(", "graft_date_format(")
    // FROM_UNIXTIME / UNIX_TIMESTAMP / TO_TIMESTAMP / TO_DATE are
    // SimpleDateFormat render/parse in the PIPELINE zone
    // (`SystemFunctionUtils.fromUnixtime:84` / `.unixTimestamp:92-103` /
    // `.toTimestamp:131` / `.toDate:123`); Spark's natives use the SESSION
    // zone. Rewritten BEFORE the now-family binding, whose CURRENT_DATE
    // emits a NATIVE to_date() that must stay untouched. The no-arg
    // UNIX_TIMESTAMP() is the record epoch in seconds (:92).
    epochCol.foreach { ec =>
      r = r.replaceAll("(?i)\\bUNIX_TIMESTAMP\\s*\\(\\s*\\)", s"($ec div 1000)")
    }
    r = r.replaceAll("(?i)\\bFROM_UNIXTIME\\s*\\(", "graft_from_unixtime(")
    r = r.replaceAll("(?i)\\bUNIX_TIMESTAMP\\s*\\(", "graft_unix_timestamp(")
    r = r.replaceAll("(?i)\\bTO_TIMESTAMP\\s*\\(", "graft_to_timestamp(")
    r = r.replaceAll("(?i)\\bTO_DATE\\s*\\(", "graft_to_date(")
    // epoch-time binding for now-ish functions. NOW()/CURRENT_TIMESTAMP are
    // the TRUE epoch instant — `SystemFunctionUtils.currentTimestamp:56` /
    // `now:61` return `LocalZonedTimestampData.fromEpochMillis` UNSHIFTED
    // (CAST to STRING renders the UTC instant) — while LOCALTIMESTAMP /
    // CURRENT_TIME / CURRENT_DATE shift into PIPELINE_LOCAL_TIME_ZONE
    // (`localtimestamp:65`, time/date parts :70-82). The zone reappears at
    // exactly one more point: CAST(<LTZ> AS TIMESTAMP) goes through
    // `castToTimestamp(LTZ, timezone):1031`, so a DIRECTLY-cast now-instant
    // shifts there (pre-pass below, before the plain binding). With UTC the
    // shift is the identity everywhere.
    epochCol.foreach { ec =>
      val instant = s"timestamp_millis($ec)"
      val local =
        if (timeZone == "UTC") instant
        else s"from_utc_timestamp($instant, '$timeZone')"
      if (timeZone != "UTC") {
        // CAST(NOW()/CURRENT_TIMESTAMP AS TIMESTAMP[(p)]) is the reference's
        // castToTimestamp(LTZ, timezone) point (`SystemFunctionUtils:1031`)
        // — the ONE cast where the LTZ instant shifts into the pipeline
        // zone. TIMESTAMP is not a graft_cast dialect target, so the native
        // CAST form is what rewriteCasts leaves here; must run BEFORE the
        // plain bindings below consume the NOW tokens.
        r = r.replaceAll(
          "(?i)\\bCAST\\s*\\(\\s*(?:NOW\\s*\\(\\s*\\)|CURRENT_TIMESTAMP)\\s+AS\\s+(TIMESTAMP(?:\\s*\\(\\s*\\d+\\s*\\))?)\\s*\\)",
          java.util.regex.Matcher.quoteReplacement(s"CAST($local AS ") + "$1)")
      }
      r = r.replaceAll("(?i)\\bNOW\\s*\\(\\s*\\)", instant)
      r = r.replaceAll("(?i)\\bCURRENT_TIMESTAMP\\b", instant)
      r = r.replaceAll("(?i)\\bLOCALTIMESTAMP\\b", local)
      r = r.replaceAll("(?i)\\bCURRENT_DATE\\b", s"to_date($local)")
      r = r.replaceAll(
        "(?i)\\bCURRENT_TIME\\b",
        s"date_format($local, 'HH:mm:ss')")
      r = r.replaceAll(
        "(?i)\\bLOCALTIME\\b",
        s"date_format($local, 'HH:mm:ss')")
    }
    // type-PRESERVING ceil/floor (SystemFunctionUtils.java:594-675 returns
    // the operand's own type; Spark's return BIGINT for doubles)
    r = r.replaceAll("(?i)\\bCEIL\\s*\\(", "graft_ceil(")
    r = r.replaceAll("(?i)\\bCEILING\\s*\\(", "graft_ceil(")
    r = r.replaceAll("(?i)\\bFLOOR\\s*\\(", "graft_floor(")
    // type-preserving ROUND through BigDecimal (SystemFunctionUtils
    // .round:676-744); the FLOAT overload rounds the float's SHORTEST
    // string, not its double widening — ROUND(5.555f, 2) is 5.56
    r = r.replaceAll("(?i)\\bROUND\\s*\\(", "graft_round(")
    r
  }

  /** SimpleDateFormat → DateTimeFormatter pattern translation for the letters
    * whose meaning differs (`DateTimeUtils.java` in the reference uses
    * SimpleDateFormat). Identical for y/M/d/H/m/s/S; differences handled here.
    */
  def translateDatePattern(simpleDateFormat: String): String = {
    val sb = new StringBuilder
    var i = 0
    var quoted = false
    while (i < simpleDateFormat.length) {
      val c = simpleDateFormat.charAt(i)
      c match {
        case '\'' => quoted = !quoted; sb.append(c)
        case 'u' if !quoted => sb.append('e') // SDF u = day number of week
        case 'E' if !quoted => sb.append('E')
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
