package graft.operators

import graft.core.TableId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Applies a [[TransformRule]] to an envelope DataFrame: the filter drops whole
  * events based on the relevant image (before for DELETE, after otherwise), and
  * the projection is applied to BOTH images — exactly
  * `PostTransformOperator.java:275-397` (`projectBefore:160` / `projectAfter:174`
  * on `DataChangeEvent`).
  *
  * This is the only implementation of transform semantics: the plain-row
  * path (`TransformOp.applyToRows`) and the sink schemas
  * (`PipelineComposer.transformedSchema`) run through it too.
  *
  * Implementation is pure Catalyst: each image is flattened to top-level
  * columns (so projection/filter SQL references bare names), computed, and
  * re-packed with a null-guard — no per-row code, full codegen.
  */
object EnvelopeTransform {

  private val EnvCols =
    Seq(Envelope.TableIdCol, Envelope.OpCol, Envelope.BeforeCol, Envelope.AfterCol,
      Envelope.SeqCol, Envelope.MetaCol)

  /** The envelope's own columns inside a scope frame carry this prefix: the
    * rule's expressions see only payload, metadata and computed names, so
    * no alias can replace the event's `op` or `seq`. Plain renames, unlike
    * a packed struct, always collapse away in Catalyst. */
  private val EventPrefix = "__graft_event_"
  private def event(c: String): Column = col(EventPrefix + c).as(c)

  /** Declared types of known source-metadata columns — the
    * `SupportedMetadataColumn` contract: the values/scripted source's
    * `op_ts` reads as BIGINT (`OpTsMetadataColumn.getType` = BIGINT,
    * `read` = `Long.parseLong`), so a projection `op_ts AS opts` must type
    * the sink column BIGINT, not the meta map's raw STRING
    * (`FlinkPipelineBatchComposerITCase.testOpTypeMetadataColumnInBatchMode:611`
    * pins `opts` BIGINT). Unlisted keys stay STRING
    * (the generic `Map<String,String>` view). */
  private val SourceMetadataTypes: Map[String, DataType] = Map("op_ts" -> LongType)

  /** Parse a dialect expression with the reference's type-strict equality
    * ([[graft.functions.StrictEquality]]) — operand types resolved against
    * the payload schema; unknown names (metadata/computed columns) are left
    * to Spark's native semantics.
    */
  private def dExpr(
      df: DataFrame, sql: String, payload: StructType): Column =
    graft.functions.StrictEquality.parse(df.sparkSession, sql,
      typeIn(payload), timeTagged = timeTaggedIn(payload))

  private def typeIn(payload: StructType)(n: String): Option[DataType] =
    payload.fields.find(_.name == n).map(_.dataType)

  private def timeTaggedIn(payload: StructType)(n: String): Boolean =
    payload.fields.find(_.name == n).exists(
      _.metadata.contains(graft.functions.DialectCastExpr.TimeTypeKey))

  /** The per-record processing epoch the now-family binds to — the
    * reference's `__epoch_time__` (JaninoCompiler.java:83-84 stamps
    * System.currentTimeMillis per record). Here it is per BATCH
    * (current_timestamp is micro-batch-consistent); a pinned
    * `spark.graft.epoch.millis` makes conformance gates deterministic.
    * Unused projections prune the column away.
    */
  private def epochMillis(df: DataFrame): Column =
    df.sparkSession.conf.getOption("spark.graft.epoch.millis") match {
      case Some(v) => lit(v.toLong)
      case None => unix_millis(current_timestamp())
    }

  /** The flattened image scope the rule's expressions evaluate in: the
    * envelope's columns under [[EventPrefix]], the four reserved metadata columns
    * (`transform.md:66-71`), the epoch, the source-metadata keys the rule
    * reads (typed per the SupportedMetadataColumn contract) and `image`'s
    * payload fields under bare names. `isAfter` picks the RowKind token
    * side — the reference computes `__data_event_type__` PER IMAGE
    * (`PostTransformOperator.java:285-311`), so an UPDATE's before-image
    * reads `-U` and its after-image `+U`.
    */
  private def scope(
      env: DataFrame, rule: TransformRule, tableId: TableId, payloadFields: Seq[String],
      image: Column, isAfter: Boolean): DataFrame =
    env.select(env.columns.toSeq.map(c => col(c).as(EventPrefix + c)) ++ Seq(
      lit(tableId.namespace).as(Envelope.NamespaceName),
      lit(tableId.schemaName).as(Envelope.SchemaName),
      lit(tableId.tableName).as(Envelope.TableName),
      Envelope.opTypeToken(col(Envelope.OpCol), isAfter).as(Envelope.DataEventType),
      epochMillis(env).as(graft.functions.Dialect.EpochCol)) ++
      TransformOp.metaKeyColumns(rule, payloadFields).map { n =>
        val raw = element_at(col(Envelope.MetaCol), n)
        SourceMetadataTypes.get(n).fold(raw)(raw.cast).as(n)
      } ++
      payloadFields.map(n => image.getField(n).as(n)): _*)

  /** The scope of the DELETE-aware image (after for INSERT/UPDATE, before
    * for DELETE; its tokens `+I`/`+U`/`-D`) with the rule's computed
    * columns in it, and `filter` over it — what the filter and the
    * acceptance predicate see. Computed columns (incl. SHADED redefinitions
    * of payload names) evaluate against the flat scope in one select, so
    * the filter sees the post-projection value uniformly (`col1 > 1.5`
    * against the shaded double col1,
    * testShadeOriginalColumnsWithDifferentType:2778).
    *
    * Its operand types resolve against the EFFECTIVE projection too: a
    * shading redefinition like `*, CAST(col1 AS INT) AS col1` (col1 BIGINT)
    * changes col1's boxed class, and `col1 = 3` must compare the SHADED
    * Integer like the reference does (filter runs on the projected row,
    * `PostTransformOperator.java:285-345`) — folding from the raw payload
    * type would silently drop matching rows. Names a projection redefines
    * resolve to the redefining expression's INFERRED type; uninferable
    * redefinitions resolve to None (left to Spark, never folded stale).
    */
  private def filterScope(
      env: DataFrame, rule: TransformRule, tableId: TableId, payload: StructType,
      filter: String): (DataFrame, Column) = {
    val spark = env.sparkSession
    val img = when(col(Envelope.OpCol) === "DELETE", col(Envelope.BeforeCol))
      .otherwise(col(Envelope.AfterCol))
    val flat = scope(env, rule, tableId, payload.fieldNames.toSeq, img, isAfter = true)
    val computed = TransformOp.projectionExprs(rule, payload.fieldNames.toSeq)
      .filter { case (n, e) => n != e }
    val redefined = computed.map { case (n, e) =>
      n -> graft.functions.StrictEquality.inferType(spark, e, typeIn(payload)) }.toMap
    val predicate = graft.functions.StrictEquality.parse(spark, filter,
      n => redefined.getOrElse(n, typeIn(payload)(n)),
      timeTagged = n => !redefined.contains(n) && timeTaggedIn(payload)(n))
    (flat.select(flat.columns.filterNot(redefined.contains).map(col).toSeq ++
      computed.map { case (n, e) => dExpr(env, e, payload).as(n) }: _*), predicate)
  }

  /** The events whose DELETE-aware image passes the rule's filter. */
  private def filtered(
      env: DataFrame, rule: TransformRule, tableId: TableId, payload: StructType): DataFrame =
    rule.filter match {
      case Some(f) =>
        val (frame, predicate) = filterScope(env, rule, tableId, payload, f)
        frame.filter(predicate).select(env.columns.toSeq.map(event): _*)
      case None => env
    }

  /** The projection of `imageCol`: every expression evaluates against the
    * image's own payload in one select, as `__graft_p<i>` beside the scope,
    * so a sibling never sees a redefinition (`bal + 1 AS bal, bal * 2`
    * gives bal + 1 and 2 * bal of the input). Returns that frame and the
    * outputs under their names, in projection order.
    */
  private def projected(
      df: DataFrame, rule: TransformRule, tableId: TableId, payload: StructType,
      imageCol: String): (DataFrame, Seq[Column]) = {
    val exprs = TransformOp.projectionExprs(rule, payload.fieldNames.toSeq).zipWithIndex
    val frame = scope(df, rule, tableId, payload.fieldNames.toSeq, col(imageCol),
      isAfter = imageCol == Envelope.AfterCol)
      .select(col("*") +: exprs.map { case ((_, e), i) =>
        dExpr(df, e, payload).as(s"__graft_p$i") }: _*)
    (frame, exprs.map { case ((n, _), i) => col(s"__graft_p$i").as(n) })
  }

  private def payloadOf(env: DataFrame): StructType = {
    graft.functions.DialectCastExpr.ensureRegistered(env.sparkSession)
    env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
  }

  def apply(env: DataFrame, rule: TransformRule, tableId: TableId): DataFrame = {
    val payload = payloadOf(env)
    require(
      payload.fieldNames.intersect(EnvCols).isEmpty,
      s"payload columns may not shadow envelope columns: $EnvCols")
    def projectImage(df: DataFrame, imageCol: String): DataFrame = {
      val (frame, outs) = projected(df, rule, tableId, payload, imageCol)
      frame.select(EnvCols.map {
        case c if c == imageCol =>
          when(col(EventPrefix + c).isNotNull, struct(outs: _*)).as(c)
        case c => event(c)
      }: _*)
    }
    projectImage(projectImage(filtered(env, rule, tableId, payload), Envelope.AfterCol),
      Envelope.BeforeCol)
  }

  /** The rule over `env` as plain rows: the filtered events' after-image
    * projection as top-level columns. [[apply]] packs the same outputs into
    * `after`; Catalyst does not fold a struct with several computed fields
    * back into columns, so the row form reads them before the packing.
    */
  def rows(env: DataFrame, rule: TransformRule, tableId: TableId): DataFrame = {
    val payload = payloadOf(env)
    val (frame, outs) =
      projected(filtered(env, rule, tableId, payload), rule, tableId, payload, Envelope.AfterCol)
    frame.select(outs: _*)
  }

  /** Per-row boolean acceptance of `rule`'s filter, appended as `outCol`
    * with every existing column preserved — the dispatch primitive when
    * MULTIPLE transform rules match one table: the reference hands each
    * record to the FIRST transformer whose filter passes
    * (`PostTransformOperator.java:288-345` loops transformers and returns
    * on the first `filterPassed`). A rule without a filter accepts every
    * row; a NULL filter result rejects (SQL filter semantics).
    */
  def acceptance(
      env: DataFrame, rule: TransformRule, tableId: TableId, outCol: String): DataFrame =
    rule.filter match {
      case None => env.withColumn(outCol, lit(true))
      case Some(f) =>
        val (frame, predicate) = filterScope(env, rule, tableId, payloadOf(env), f)
        frame.select(env.columns.toSeq.map(event) :+
          coalesce(predicate.cast("boolean"), lit(false)).as(outCol): _*)
    }
}
