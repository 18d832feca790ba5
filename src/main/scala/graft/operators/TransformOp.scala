package graft.operators

import graft.core.{Selectors, TableId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** A transform rule: per-table projection + filter, the reference's entire
  * row-local query surface.
  *
  * Mirrors `flink-cdc-runtime/.../transform/PostTransformOperator.java:66-397`
  * and the YAML keys of `YamlPipelineDefinitionParser.java:79-100`. The heavy
  * machinery of the reference — Calcite parse, Janino codegen, per-table
  * processor caches — collapses into `selectExpr`/`filter`: Catalyst performs
  * the same parse→analyze→codegen pipeline (SURVEY.md §3.2), and its
  * `ColumnPruning` rule supplies the `PreTransformOperator` behaviour for free.
  */
final case class TransformRule(
    sourceTable: String,
    projection: Option[String] = None,
    filter: Option[String] = None,
    primaryKeys: Seq[String] = Seq.empty,
    partitionKeys: Seq[String] = Seq.empty,
    tableOptions: Map[String, String] = Map.empty,
    postTransformConverter: Option[String] = None) {
  @transient lazy val selectors: Selectors = Selectors.parse(sourceTable)
  def matches(tableId: TableId): Boolean = selectors.isMatch(tableId)
}

/** The rule's text: projection entries, their output names and the
  * source-metadata keys they read. [[EnvelopeTransform]] is the one
  * implementation of what a rule does to rows; `applyToRows` runs a plain
  * row frame through it, so a transformed sink table's CREATE schema
  * (`PipelineComposer.transformedSchema`), the `t_*` queries and the change
  * stream all get the same semantics.
  */
object TransformOp {

  /** Split a projection string on top-level commas (ignoring commas inside
    * parens, brackets, and quoted strings) — the reference gets this from
    * Calcite's SELECT-list parser (`TransformParser.parseProjectionExpression:525`).
    */
  private[graft] def splitProjection(projection: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < projection.length) {
      val c = projection.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c)
        case '(' | '[' => depth += 1; cur.append(c)
        case ')' | ']' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  private val Plain = "[A-Za-z_][A-Za-z0-9_]*"
  private val PlainName = Plain.r
  private val Backquoted = "`([^`]+)`".r
  /** `expr AS name` or ``expr AS `name` `` closing a projection entry */
  private val AliasOf = s"(?i)\\s+AS\\s+(?:($Plain)|`([^`]+)`)\\s*$$".r

  /** (output name, expression) of each projection entry over the payload
    * columns. `*` expands to the payload columns in their order, never the
    * metadata columns (`TransformParser.expandWildcard:256`); a non-plain
    * name expands backquoted, or the parser reads `foo-bar` as a
    * subtraction. No projection is `*`. An alias, plain or backquoted, names
    * its entry's output; so does a bare backquoted identifier, without its
    * backquotes. Shading: a later entry with the SAME output name REPLACES
    * the earlier one AT THE EARLIER POSITION (`generateProjectionColumns`,
    * `TransformParser.java:370-380`), so `*, 0.5 + CAST(col1 AS DOUBLE) AS
    * col1` redefines col1 in place, possibly with another type
    * (`FlinkPipelineTransformITCase.testShadeOriginalColumnsWithDifferentType:2755`).
    */
  private[operators] def projectionExprs(
      rule: TransformRule, payloadFields: Seq[String]): Seq[(String, String)] = {
    val pairs = splitProjection(rule.projection.getOrElse("*")).flatMap {
      case "*" => payloadFields.map {
        case n @ PlainName() => n -> n
        case n => n -> s"`$n`"
      }
      case e => Seq(AliasOf.findFirstMatchIn(e) match {
        case Some(m) => Option(m.group(1)).getOrElse(m.group(2)) -> e.substring(0, m.start)
        case None => (e match { case Backquoted(n) => n; case _ => e }) -> e
      })
    }
    val last = pairs.toMap
    pairs.map(_._1).distinct.map(n => n -> last(n))
  }

  /** SOURCE-DEFINED metadata columns: BACKQUOTED identifiers in the rule's
    * expressions that are not payload columns resolve against the event's
    * connector-metadata map — the reference's `SupportedMetadataColumn`
    * surface (a source exposes extra metadata columns by name; the values
    * test source exposes `timestamp-type`,
    * `FlinkPipelineTransformITCase.testTransformWithColumnNameMap:975`).
    * A backquote inside a string literal is data and an alias names an
    * output column: neither is a metadata read.
    */
  private[operators] def metaKeyColumns(
      rule: TransformRule, payloadFields: Seq[String]): Seq[String] =
    (projectionExprs(rule, payloadFields).map(_._2) ++ rule.filter)
      .map(_.replaceAll("'(?:[^']|'')*'", "''"))
      .flatMap(Backquoted.findAllMatchIn(_).map(_.group(1)))
      .distinct
      .filterNot(n => payloadFields.contains(n) || Envelope.MetadataColumns.contains(n) ||
        n == graft.functions.Dialect.EpochCol)

  /** Projection + filter over a plain row frame (one table's rows), as a
    * snapshot of INSERT events through [[EnvelopeTransform]]. The metadata
    * columns read `tableId` (empty names when absent) and `+I`.
    */
  def applyToRows(
      rows: DataFrame, rule: TransformRule, tableId: Option[TableId] = None): DataFrame = {
    val t = tableId.getOrElse(TableId(""))
    EnvelopeTransform.rows(Envelope.fromSnapshot(rows, t, lit(0L)), rule, t)
  }
}
