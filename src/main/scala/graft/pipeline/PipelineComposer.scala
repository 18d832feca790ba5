package graft.pipeline

import graft.core._
import graft.operators._
import graft.sinks.DataSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composes a pipeline definition into a running dataflow — the Spark form of
  * `flink-cdc-composer/.../FlinkPipelineComposer.java:115-260`:
  *
  * {{{
  *   Source → Transform (pre+post) → SchemaEvolution (driver) → Route
  *          → PK-hash partition → Sink (batch write = flush barrier)
  * }}}
  *
  * In micro-batch execution the coordinator protocol disappears: schema events
  * ride the control path and are applied between batches
  * ([[SchemaEvolutionDriver]]), so only data rows shuffle.
  */
final class PipelineComposer(
    pdef: PipelineDef,
    sink: DataSink,
    // rename DDL history of the SOURCE feeding a table (ChangeSource
    // .renameHistory) — lets batch coercion bridge a sink that is one
    // rename behind the envelope's live schema (parked, not yet acked)
    renameHistoryFor: TableId => Seq[(Long, Map[String, String])] = _ => Seq.empty)(
    implicit spark: SparkSession) {

  val router = new TableIdRouter(pdef.routes)
  val evolution = new SchemaEvolutionDriver(
    pdef.schemaChangeBehavior,
    sink,
    // the reference's TAG grammar (family + dotted specific tags) — a plain
    // enum withName on "create.table" would throw before the pipeline starts
    includedTypes =
      if (pdef.sink.includeSchemaChanges.isEmpty) SchemaChangeEventType.values
      else SchemaChangeEventType.ValueSet(
        pdef.sink.includeSchemaChanges.flatMap(SchemaChangeEventType.ofTag): _*),
    excludedTypes = SchemaChangeEventType.ValueSet(
      pdef.sink.excludeSchemaChanges.flatMap(SchemaChangeEventType.ofTag): _*))

  /** The EFFECTIVE transform rules for a table, in definition order — the
    * reference's PostTransformOperator keeps a LIST of transformers per
    * table and dispatches each record to the first whose filter accepts it
    * (`PostTransformOperator.java:164,288-345`). First-match truncation per
    * `getEffectiveTransformers` (`PostTransformOperator.java:399-414`): a
    * matching rule WITHOUT a filter accepts everything, so any later rule
    * can never fire — it is excluded from the effective list entirely,
    * which is what lets a specific rule + catch-all fallback rule project
    * DIFFERENT shapes for different tables
    * (`FlinkPipelineTransformITCase.testTransformWithFallbackRules:1175`).
    */
  private def rulesFor(tableId: TableId): Seq[TransformRule] = {
    val matching = pdef.transforms.filter(_.matches(tableId))
    val unconditional = matching.indexWhere(_.filter.isEmpty)
    if (unconditional < 0) matching else matching.take(unconditional + 1)
  }

  private def ruleFor(tableId: TableId): Option[TransformRule] =
    rulesFor(tableId).headOption

  /** Output schema of the transform for a source table — each rule's
    * projection runs over an empty frame (Catalyst analysis gives the exact
    * types) and multiple matching rules STRICTLY merge
    * (`PostTransformOperator.processCreateTableEvent:204-210`
    * strictlyMergeSchemas): same column names in the same order, types
    * widened to the least common type.
    */
  def transformedSchema(tableId: TableId, source: TableSchema): TableSchema = {
    val rules = rulesFor(tableId)
    if (rules.isEmpty) source
    else {
      val outs = rules.map { rule =>
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], source.struct)
        TransformOp.applyToRows(empty, rule.copy(filter = None), Some(tableId)).schema
      }
      // the reference's strictlyMergeSchemas precondition
      // (`SchemaMergingUtils.java:371-375`): all matching rules must project
      // the SAME column-name view — phrased like the reference so the
      // conformance gates can pin the failure wording
      // (`FlinkPipelineTransformITCase.testTransformMergingIncompatibleRules:1142`)
      val nameViews = outs.map(_.fieldNames.toSeq).distinct
      require(nameViews.size == 1,
        s"Trying to merge transformed schemas for $tableId " +
          outs.map(o => s"columns={${o.fieldNames.mkString(",")}}").mkString("[", ", ", "]") +
          s", but got more than one column name views: " +
          nameViews.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]"))
      // single-rule: keep the projected struct AS-IS so per-field metadata
      // survives — an aliased source column INHERITS its comment and
      // DEFAULT expression (Spark's Alias propagates attribute metadata),
      // exactly the reference's `testTransformWithCommentsAndDefaultExpr
      // :2076` contract (`new_name` carries 'name column'/'Jane Doe',
      // computed `new_age` carries neither). The multi-rule merge goes
      // through the widening lattice, which is metadata-free.
      val mergedStruct =
        if (outs.size == 1) outs.head
        else SchemaMerging.toStruct(outs.map(SchemaMerging.fromStruct)
          .reduceLeft(SchemaMerging.leastCommonSchema))
      // pk/partition/option overrides come from rules.head — a LATER rule
      // declaring a CONFLICTING override would be silently ignored, so be
      // as loud as the shape check above: every matching rule must agree
      // with (or leave empty) the head rule's overrides.
      def agree[A](name: String, of: TransformRule => A, empty: A): Unit = {
        val declared = rules.map(of).filter(_ != empty).distinct
        require(declared.size <= 1,
          s"transform rules for $tableId disagree on $name: " +
            s"${declared.mkString(" vs ")} — multiple rules matching one " +
            "table must declare the same override (or none)")
      }
      agree("primary-keys", _.primaryKeys, Seq.empty)
      agree("partition-keys", _.partitionKeys, Seq.empty)
      agree("table-options", _.tableOptions, Map.empty)
      // every declared (or inherited) primary-key column must exist in the
      // projected shape — the reference's exact wording
      // (`DefaultDataChangeEventHashFunctionProvider.java:85`, pinned by
      // `FlinkPipelineTransformITCase.testTransformErrorMessage:2603`)
      val effectivePks = rules.find(_.primaryKeys.nonEmpty)
        .map(_.primaryKeys).getOrElse(source.primaryKeys)
      effectivePks.foreach { pk =>
        if (!mergedStruct.fieldNames.contains(pk))
          throw new IllegalStateException(
            s"""Unable to find column "$pk" which is defined as primary key""")
      }
      val rule = rules.find(_.primaryKeys.nonEmpty).getOrElse(rules.head)
      val partitionRule = rules.find(_.partitionKeys.nonEmpty).getOrElse(rules.head)
      val optionRules = rules
      // a rule with a PROJECTION or FILTER runs the transform processor,
      // whose derived schema marks primary-key columns NOT NULL
      // (`UnifiedTransformOperatorTest.testSchemaNullabilityTransform`
      // expects `id` INT NOT NULL post-transform over a nullable source
      // id; the composer ITCases' matched-table creates agree). A
      // metadata-ONLY rule passes the shape through untouched —
      // `testExplicitPrimaryKeyWithNullable:1981` keeps BOTH id and the
      // overridden pk `name` nullable.
      val hasProcessor = rules.exists(r => r.projection.nonEmpty || r.filter.nonEmpty)
      val finalStruct =
        if (!hasProcessor) mergedStruct
        else org.apache.spark.sql.types.StructType(mergedStruct.fields.map(f =>
          if (effectivePks.contains(f.name)) f.copy(nullable = false) else f))
      TableSchema(
        finalStruct,
        primaryKeys = if (rule.primaryKeys.nonEmpty) rule.primaryKeys else source.primaryKeys,
        partitionKeys =
          if (partitionRule.partitionKeys.nonEmpty) partitionRule.partitionKeys
          else source.partitionKeys,
        options = optionRules.foldLeft(source.options)(_ ++ _.tableOptions))
    }
  }

  /** Transformed source-table schemas — the UPSTREAM side of the reference
    * coordinator's two registries (`SchemaCoordinator` keys its redundancy
    * check and reverse lookups on upstream table ids, :364-379). Keyed by
    * SOURCE table id; the evolution driver's registries are sink-keyed.
    */
  private val upstreamSchemas = new SchemaManager

  /** RAW (pre-transform) source schemas — the reference's
    * `PostTransformChangeInfo.preTransformedSchema`. Needed to anchor
    * FIRST/LAST add-column positions when a wildcard projection carries
    * computed columns: the added column must land at the PRE-transform
    * schema's boundary, not outside the wildcard span
    * (`FlinkPipelineTransformITCase.testPreAsteriskWithSchemaEvolution:1600`
    * expects `rank FIRST` → `BEFORE id` and `gender LAST` → `AFTER age`).
    */
  private val preTransformSchemas = new SchemaManager

  /** count of schema events the pre-transform registry failed to apply —
    * observable stale-anchor risk (each failure is also logged). */
  val preTransformTrackingFailures = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Register source tables by running their CreateTableEvents through the
    * normal schema-change path — exactly how the reference's sources announce
    * tables (each emits a CreateTableEvent at snapshot start; the coordinator
    * deduces what the routed sink needs). Deterministic identifier order:
    * many-to-one merges key the sink on the FIRST source's primary keys, so
    * hash-map iteration order would flip the upsert key between runs.
    */
  def createTables(sourceSchemas: Map[TableId, TableSchema]): Unit =
    sourceSchemas.toSeq.sortBy(_._1.identifier).foreach { case (t, s) =>
      processSchemaChange(CreateTableEvent(t, s))
    }

  /** BATCH create path: every source schema is known BEFORE any data flows,
    * so a merged sink gets ONE CreateTableEvent carrying the fully-merged
    * schema — never create-then-widenings (the reference's batch composer
    * derives the union statically; `FlinkPipelineBatchComposerITCase
    * .testMergingWithRouteInBatchMode:949` asserts a single `id BIGINT …
    * description` create). Single-upstream sinks behave exactly like
    * [[createTables]].
    */
  def createTablesBatch(sourceSchemas: Map[TableId, TableSchema]): Unit = {
    val ordered = sourceSchemas.toSeq.sortBy(_._1.identifier)
    // project each source create through its transform and register the
    // upstream + pre-transform registries, like processSchemaChange does
    val projected: Seq[(TableId, CreateTableEvent)] = ordered.flatMap { case (t, s) =>
      val raw = CreateTableEvent(t, s)
      preTransformSchemas.applySchemaChange(raw)
      throughTransform(t, raw).collect { case e: CreateTableEvent =>
        upstreamSchemas.applySchemaChange(e)
        t -> e
      }
    }
    val bySink: Seq[(TableId, Seq[CreateTableEvent])] = projected
      .flatMap { case (t, e) => router.route(t).map(sinkT => sinkT -> e) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .sortBy(_._1.identifier)
    bySink.foreach { case (sinkT, creates) =>
      val event =
        if (creates.size == 1) reRoute(creates.head, sinkT)
        else SchemaDerivator.mergedCreateTable(sinkT, creates.map(_.schema))
      evolution.handle(event)
    }
  }

  /** `SchemaCoordinator.deduceEvolvedSchemaChanges` (reference :258-340): a
    * sink table fed by ONE upstream table forwards the event verbatim; a
    * many-to-one (merged) sink re-derives the least-common schema over the
    * current evolved schema and ALL depending upstream schemas and emits the
    * DIFFERENCE (AlterColumnType widenings + appended AddColumns) — so a
    * rename on one shard of a merged sink surfaces as an ADD of the new
    * name, and a second shard's wider types arrive as widenings, never as a
    * re-CREATE.
    */
  private def deduceForSink(
      sinkT: TableId, projected: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    val upstreams = upstreamSchemas.knownTables
      .filter(u => router.route(u).contains(sinkT))
    if (upstreams.size <= 1) Seq(reRoute(projected, sinkT))
    else {
      val sources = upstreams.toSeq.sortBy(_.identifier)
        .flatMap(upstreamSchemas.latest)
      evolution.evolvedSchemas.latest(sinkT) match {
        case None => Seq(SchemaDerivator.mergedCreateTable(sinkT, sources))
        case Some(cur) =>
          val curCols = SchemaMerging.fromStruct(cur.struct)
          val merged = sources
            .map(s => SchemaMerging.fromStruct(s.struct))
            .foldLeft(curCols)(SchemaMerging.leastCommonSchema)
          SchemaMerging.schemaDifference(sinkT, curCols, merged)
      }
    }
  }

  /** Process one batch of envelope data for one source table: transform →
    * route (fanout) → coerce to each sink table's evolved schema → materialize
    * upserts+deletes → write. `batchId` (when ≥ 0, from `foreachBatch`) lets
    * batch-id-tracking sinks skip replayed micro-batches; `runId` (the
    * checkpoint identity) scopes the skip to THIS logical run.
    */
  def processBatch(
      tableId: TableId, env: DataFrame, batchId: Long = -1L, runId: String = ""): Unit = {
    // `converter-after-transform` (the reference's PostTransformOperator
    // converter hook, applied per transformer): SOFT_DELETE rewrites
    // DELETE events as before-image INSERTs so the sink retains the row
    def converted(rule: TransformRule, t: DataFrame): DataFrame =
      rule.postTransformConverter.map(_.toUpperCase) match {
        case Some("SOFT_DELETE") => Envelope.softDelete(t)
        case Some(other) => throw new IllegalArgumentException(
          s"unknown converter-after-transform '$other' (supported: SOFT_DELETE)")
        case None => t
      }
    val transformed = rulesFor(tableId) match {
      case Seq() => env
      case Seq(rule) => converted(rule, EnvelopeTransform(env, rule, tableId))
      case rules =>
        // first-accepting-rule dispatch (PostTransformOperator:288-345):
        // every rule's acceptance is computed as a boolean column, branch i
        // takes the rows rule i accepts that no EARLIER rule accepted, and
        // rows no rule accepts drop. Each branch projects filter-free (the
        // acceptance already decided) and applies its own converter.
        val accCols = rules.indices.map(i => s"__t_acc_$i")
        val withAcc = rules.zip(accCols).foldLeft(env) { case (d, (r, c)) =>
          EnvelopeTransform.acceptance(d, r, tableId, c)
        }
        rules.zipWithIndex.map { case (rule, i) =>
          val residual = accCols.take(i)
            .foldLeft(col(accCols(i))) { (acc, earlier) => acc && !col(earlier) }
          val branch = withAcc.filter(residual).select(env.columns.map(col).toIndexedSeq: _*)
          converted(rule, EnvelopeTransform(branch, rule.copy(filter = None), tableId))
        }.reduce(_ unionByName _)
    }
    router.route(tableId).foreach { sinkT =>
      val sinkSchema = sink
        .schemaOf(sinkT)
        .orElse(evolution.evolvedSchemas.latest(sinkT))
        .getOrElse(throw new IllegalStateException(s"sink table $sinkT not created"))
      val coerced = SchemaDerivator.coerceEnvelope(
        transformed, sinkSchema.struct, renameHistoryFor(tableId))
      sink match {
        // event-sequence recording tee (test sink only, opt-in): capture the
        // post-transform post-coercion changelog in seq order BEFORE
        // materialization — the reference ValuesDataSink's outCaptor surface
        case md: graft.sinks.MemoryDatabase if md.recordEvents =>
          md.recordDataEvents(sinkT,
            coerced.orderBy(col(Envelope.SeqCol)).collect().toSeq
              .map(graft.sinks.EventRender.fromEnvelopeRow))
        case _ => ()
      }
      sink match {
        case cs: graft.sinks.ChangelogSink =>
          // log-shaped sink: every event reaches the wire, no materialization
          cs.writeChangelog(sinkT, coerced, batchId, runId)
        case _ =>
          val keys =
            if (sinkSchema.primaryKeys.nonEmpty) sinkSchema.primaryKeys
            else sinkSchema.struct.fieldNames.toSeq
          Upsert.withMaterialized(coerced, keys) { (upserts, deletes) =>
            sink.writeBatch(sinkT, upserts, deletes, batchId, runId)
          }
      }
    }
  }

  /** Whether [[processBatch]] scans its envelope input for `tableId` more
    * than once: each routed sink table, each of several transform rules and
    * the event-recording tee reads it separately (one sink's upserts and
    * deletes share one cached aggregate, so a single route reads it once).
    * A caller holding the batch pins it exactly when this is true.
    */
  def rereadsEnvelope(tableId: TableId): Boolean =
    rulesFor(tableId).size > 1 || router.route(tableId).size > 1 || (sink match {
      case md: graft.sinks.MemoryDatabase => md.recordEvents
      case _ => false
    })

  /** Project a schema-change event through the table's TRANSFORM before it
    * reaches the sink (the reference PreTransformOperator's schema path):
    * with an explicit projection the sink schema is the projected shape, so
    * column events on projected-away columns must not reach the applier —
    * an AlterColumnType for an absent column would crash the sink DDL, and
    * an AddColumn would create a phantom column the data path (which always
    * projects) never populates. A wildcard (or absent) projection passes
    * events through; a mid-stream CreateTable re-derives the transformed
    * schema exactly like [[createTables]]. Column events narrow to the
    * projection's PASS-THROUGH columns (bare names in the output — computed
    * outputs have no 1:1 upstream column). */
  private def throughTransform(
      tableId: TableId, e: SchemaChangeEvent): Option[SchemaChangeEvent] = {
    val rules = rulesFor(tableId)
    if (rules.isEmpty) Some(e)
    else {
      // column events pass when EVERY rule is a wildcard; with a fixed
      // projection anywhere, the narrowing below uses the UNION of the
      // rules' pass-through columns (the reference merges the projected
      // column sets of all matching transformers per table)
      val allWildcard = rules.forall(_.projection.forall(
        p => TransformOp.splitProjection(p).contains("*")))
      val pass = rules.map(passThrough).foldLeft(Set.empty[String])(_ ++ _)
      e match {
        case ev: CreateTableEvent =>
          Some(ev.copy(schema = transformedSchema(tableId, ev.schema)))
        case ev: AddColumnEvent if allWildcard =>
          Some(anchorAddPositions(tableId, ev))
        case _ if allWildcard => Some(e)
        case _: AddColumnEvent => None // a fixed projection cannot grow
        case ev: DropColumnEvent =>
          val keep = ev.droppedColumns.filter(pass.contains)
          if (keep.isEmpty) None else Some(ev.copy(droppedColumns = keep))
        case ev: AlterColumnTypeEvent =>
          val keep = ev.typeMapping.view.filterKeys(pass.contains).toMap
          if (keep.isEmpty) None else Some(ev.copy(typeMapping = keep))
        case ev: RenameColumnEvent =>
          // lenient evolution turns a rename into an add of the NEW name,
          // which a fixed projection never includes; a projected-away old
          // name affects the sink not at all — either way nothing reaches
          // the sink unless the OLD name passes through, and then the
          // projection itself still selects the old (now absent) column:
          // refuse loudly rather than ship a broken projection
          val hit = ev.nameMapping.keys.filter(pass.contains)
          require(hit.isEmpty,
            s"rename of projected column(s) ${hit.mkString(", ")} on " +
              s"$tableId would break the transform's projection — " +
              "update the pipeline definition")
          None
        case other => Some(other) // table-level events pass
      }
    }
  }

  /** The projection's pass-through outputs: bare column names (no alias,
    * no computation). */
  private def passThrough(rule: TransformRule): Set[String] =
    rule.projection.map(p => TransformOp.splitProjection(p)
      .map(_.trim).filter(_.matches("[A-Za-z_][A-Za-z0-9_]*")).toSet)
      .getOrElse(Set.empty)

  /** Handle a schema-change event on the control path (between batches):
    * transform-project it, track the upstream schema, then deduce per routed
    * sink table and run the deduced events through the evolution driver
    * (behavior normalization + sink filter + apply). A CREATE for an
    * already-known upstream table is skipped whole — the duplicate-CREATE
    * redundancy case of `SchemaUtils.isSchemaChangeEventRedundant`
    * (see [[SchemaDerivator.isRedundant]] for why only creates).
    */
  /** FIRST/LAST add positions anchor to the PRE-transform schema's boundary
    * columns whenever the pipeline carries ANY transform — the reference's
    * PreTransformOperator sits in the chain for every table once a transform
    * exists (matched or not) and rewrites positions relative to the
    * referenced columns (`SchemaUtils.transformSchemaChangeEvent:234-265`;
    * expected events in testPreAsteriskWithSchemaEvolution:1600 and
    * testTransformUnmatchedSchemaEvolution:1885 both show `BEFORE id` /
    * `AFTER age` for the fixture's FIRST/LAST adds). A transform-less
    * pipeline has no Pre operator and passes raw positions through.
    */
  private def anchorAddPositions(tableId: TableId, ev: AddColumnEvent): AddColumnEvent =
    preTransformSchemas.latest(tableId)
      .map(_.struct.fieldNames.toSeq).filter(_.nonEmpty)
      .map { names =>
        ev.copy(columns = ev.columns.map { c =>
          c.position match {
            case AddColumnEvent.First =>
              c.copy(position = AddColumnEvent.Before(names.head))
            case AddColumnEvent.Last =>
              c.copy(position = AddColumnEvent.After(names.last))
            case _ => c
          }
        })
      }.getOrElse(ev)

  def processSchemaChange(event: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    // a DANGLING table-level event — DROP/TRUNCATE for a table this
    // pipeline never announced (dropped before the start offset, outside
    // the capture list) — must be a no-op, not a fault: a db-level binlog
    // legitimately carries such events and the reference's SchemaOperator
    // tolerates the absent schema (`SchemaUtils.applySchemaChangeEvent:116`
    // keeps null; `MysqlE2eITCase.testDanglingDropTableEventInBinlog:467`
    // pins the job surviving and later traffic flowing)
    event match {
      case (_: DropTableEvent | _: TruncateTableEvent)
          if upstreamSchemas.latest(event.tableId).isEmpty =>
        return Seq.empty
      case _ => ()
    }
    // throughTransform anchors FIRST/LAST add positions against the
    // pre-transform schema BEFORE this event, so project first, track after;
    // an unmatched table under a transform-carrying pipeline still gets its
    // positions anchored (the Pre operator processes every table)
    val normalized = event match {
      case ev: AddColumnEvent if pdef.transforms.nonEmpty =>
        anchorAddPositions(event.tableId, ev)
      case other => other
    }
    val result = throughTransform(normalized.tableId, normalized).toSeq.flatMap { projected =>
      if (projected.isInstanceOf[CreateTableEvent] &&
          SchemaDerivator.isRedundant(upstreamSchemas.latest(projected.tableId), projected))
        Seq.empty
      else {
        upstreamSchemas.applySchemaChange(projected)
        router.route(projected.tableId).flatMap { sinkT =>
          deduceForSink(sinkT, projected).flatMap(evolution.handle)
        }
      }
    }
    // track the RAW schema after projection consumed the pre-event anchor.
    // A CREATE for a KNOWN table is a source re-announce (runHandlingDdl
    // re-creates tables from the source's LIVE schema on every restart) —
    // re-registering it would fast-forward this registry past events still
    // parked in the log, corrupting later position anchors.
    event match {
      case c: CreateTableEvent if preTransformSchemas.latest(c.tableId).isDefined => ()
      case e =>
        try preTransformSchemas.applySchemaChange(e)
        catch {
          case ex: Exception =>
            // a tracking failure leaves this registry stale, and later
            // FIRST/LAST add-position anchors for the table would compute
            // from an outdated schema — surface it instead of swallowing
            preTransformTrackingFailures.incrementAndGet()
            System.err.println(
              s"[graft] pre-transform schema registry could not apply $e " +
                s"(${ex.getMessage}); add-position anchors for " +
                s"${e.tableId} may use a stale schema")
        }
    }
    result
  }

  private def reRoute(e: SchemaChangeEvent, to: TableId): SchemaChangeEvent = e match {
    case ev: CreateTableEvent => ev.copy(tableId = to)
    case ev: AddColumnEvent => ev.copy(tableId = to)
    case ev: DropColumnEvent => ev.copy(tableId = to)
    case ev: RenameColumnEvent => ev.copy(tableId = to)
    case ev: AlterColumnTypeEvent => ev.copy(tableId = to)
    case ev: DropTableEvent => ev.copy(tableId = to)
    case ev: TruncateTableEvent => ev.copy(tableId = to)
  }
}

object PipelineComposer {
  /** Split a mixed-table envelope batch by tableId; the per-table frames
    * stay lazy. When the caller names exactly one source table in `known`
    * (a stream over one ChangeSource — each serves exactly one table), the
    * batch IS that table's envelope and comes back unfiltered with no Spark
    * job, even when it holds no rows: the sink's own write pass finds out
    * that nothing changed. Otherwise the table ids are discovered with one
    * `distinct()` job, and a batch without rows yields no tables.
    */
  def splitByTable(env: DataFrame, known: Seq[TableId] = Seq.empty): Map[TableId, DataFrame] =
    known match {
      case Seq(only) => Map(only -> env)
      case _ =>
        val ids = env.select(Envelope.TableIdCol).distinct()
          .collect().map(_.getString(0))
        ids.map(id => TableId.parse(id) -> env.filter(col(Envelope.TableIdCol) === id)).toMap
    }
}
