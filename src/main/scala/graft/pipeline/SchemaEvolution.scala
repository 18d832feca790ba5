package graft.pipeline

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `pipeline.schema.change.behavior` ∈ IGNORE / LENIENT / TRY_EVOLVE / EVOLVE /
  * EXCEPTION (`common/pipeline/SchemaChangeBehavior.java:27-33`; default LENIENT
  * per `PipelineOptions.java:55-57`).
  */
object SchemaChangeBehavior extends Enumeration {
  val IGNORE, LENIENT, TRY_EVOLVE, EVOLVE, EXCEPTION = Value
}

/** Applies schema changes to an external system — the reference's
  * `common/sink/MetadataApplier.java`. Invoked on the driver between
  * micro-batches (the batch boundary IS the flush barrier, replacing the
  * SchemaOperator⇄SchemaCoordinator RPC protocol — SURVEY.md §2.3).
  */
trait MetadataApplier extends Serializable {
  def applySchemaChange(event: SchemaChangeEvent): Unit
}

/** Port of `flink-cdc-runtime/.../schema/common/SchemaDerivator.java:206-296`
  * (lenient-ization) plus row coercion as a Catalyst select (no per-row code).
  */
object SchemaDerivator {

  /** LENIENT rewriting: rename → add-column (new name appended, old retained),
    * drop → no-op (column kept nullable), add → append nullable. This keeps
    * sink schemas strictly additive so late events of old shapes still fit.
    */
  def lenientize(
      event: SchemaChangeEvent,
      currentEvolved: TableSchema): Seq[SchemaChangeEvent] = event match {
    case AddColumnEvent(t, cols) =>
      // strip positions, force nullable, append at tail (reference :219-236);
      // the column DEFAULT rides through
      Seq(AddColumnEvent(
        t,
        cols.map(c =>
          AddColumnEvent.ColumnWithPosition(c.name, c.cdcType.withNullable(true),
            defaultExpr = c.defaultExpr))))
    case DropColumnEvent(t, dropped) =>
      // reference lenientizeDropColumnEvent (SchemaDerivator.java:259-275):
      // the DROP itself is swallowed, but a dropped NOT-NULL column first
      // nullable-izes — its future values are null, and a sink enforcing
      // the constraint would otherwise reject every later row
      val converts = dropped.flatMap { d =>
        currentEvolved.struct.fields.find(_.name == d)
          .filterNot(_.nullable)
          .map(f => d -> CdcTypes.fromSpark(f.dataType, nullable = true))
      }.toMap
      if (converts.isEmpty) Seq.empty else Seq(AlterColumnTypeEvent(t, converts))
    case RenameColumnEvent(t, mapping) =>
      // reference lenientizeRenameColumnEvent (SchemaDerivator.java:223-257):
      // appears as AddColumn of the new names (old kept); a renamed
      // column's DEFAULT carries to the new name
      // (LenientITCase.testSingleSplitSingleTableWithDefaultValue:230-235);
      // a NOT-NULL old column additionally nullable-izes (same reasoning
      // as the lenient DROP — the old name's future values are null)
      val existing = currentEvolved.struct.fieldNames.toSet
      // reference :234-239: a mapping whose OLD column is absent from the
      // evolved schema is an error, not a silent skip
      mapping.keys.find(!existing.contains(_)).foreach { missing =>
        throw new IllegalArgumentException(
          s"Non-existed column $missing in evolved schema.")
      }
      val adds = mapping.collect {
        case (oldName, newName) if !existing.contains(newName) =>
          val oldField = currentEvolved.struct(oldName)
          AddColumnEvent.ColumnWithPosition(
            newName,
            CdcTypes.fromSpark(oldField.dataType, nullable = true),
            defaultExpr =
              if (oldField.metadata.contains(AddColumnEvent.DefaultKey))
                Some(oldField.metadata.getString(AddColumnEvent.DefaultKey))
              else None)
      }.toSeq
      val converts = mapping.keys.flatMap { oldName =>
        currentEvolved.struct.fields.find(_.name == oldName)
          .filterNot(_.nullable)
          .map(f => oldName -> CdcTypes.fromSpark(f.dataType, nullable = true))
      }.toMap
      (if (adds.isEmpty) Seq.empty else Seq(AddColumnEvent(t, adds))) ++
        (if (converts.isEmpty) Seq.empty else Seq(AlterColumnTypeEvent(t, converts)))
    case other => Seq(other)
  }

  /** Equal up to nullability (`containsNull`/`valueContainsNull`/field
    * nullability at any depth): parquet round-trips erase non-null markers,
    * so an `array<float> containsNull=false` table schema meets
    * `containsNull=true` batches forever — values are identical and Spark
    * rejects the identity cast as unsafe, so no cast must be emitted. */
  private def sameUpToNullability(a: DataType, b: DataType): Boolean =
    a.catalogString == b.catalogString

  /** The reference's TOLERANT-coercion acceptance
    * (`SchemaMergingUtils.coerceObject:616-755` + the per-target coerceToX
    * helpers, called with toleranceMode=true from `coerceRow:271`): each
    * target type accepts only WIDENING inputs — `coerceToShort:756` takes
    * TINYINT alone, `coerceToInt:770` TINYINT/SMALLINT, `coerceToDecimal`
    * integrals+DECIMAL, `coerceToFloat` those+FLOAT — and a refused cell
    * becomes NULL, never a truncating cast. Spark's cast is far more
    * permissive (INT→SMALLINT truncates, FLOAT→SMALLINT rounds), so the
    * coerce path gates every cast here. String targets accept anything
    * (`coerceToString` renders); unmapped/complex types stay permissive
    * (engine-internal columns, not CDC payload).
    */
  private[pipeline] def coercible(from: DataType, to: DataType): Boolean = {
    val integrals: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    if (sameUpToNullability(from, to)) true
    else to match {
      case ByteType => from == ByteType
      case ShortType => Seq[DataType](ByteType, ShortType).contains(from)
      case IntegerType => integrals.take(3).contains(from)
      case LongType => integrals.contains(from)
      case _: DecimalType => from.isInstanceOf[DecimalType] || integrals.contains(from)
      case FloatType =>
        from == FloatType || from.isInstanceOf[DecimalType] || integrals.contains(from)
      case DoubleType =>
        Seq[DataType](FloatType, DoubleType).contains(from) ||
          from.isInstanceOf[DecimalType] || integrals.contains(from)
      case StringType => true
      case BinaryType => from == BinaryType
      case DateType =>
        // coerceToDate:874 additionally takes Number (epoch day), String
        // (ISO local date) and LocalDateTime — mirror all three
        Seq[DataType](DateType, TimestampType, TimestampNTZType, StringType).contains(from) ||
          integrals.contains(from)
      case TimestampType | TimestampNTZType =>
        // coerceToTimestamp:920 additionally takes a BIGINT epoch DAY
        // (Long → LocalDate.ofEpochDay at start of day) and DateData
        Seq[DataType](DateType, TimestampType, TimestampNTZType, LongType).contains(from)
      case _ => true
    }
  }

  /** The cast a coercible (from → to) cell rides. Plain `cast` everywhere
    * except the reference's epoch-day paths, which Spark's cast can't spell:
    * `coerceToDate:874` reads a NUMBER as an epoch day, and
    * `coerceToTimestamp:920` reads a BIGINT as an epoch day at start-of-day
    * — both map onto `date_from_unix_date`. */
  private def coercionCast(
      c: org.apache.spark.sql.Column, from: DataType, to: DataType): org.apache.spark.sql.Column = {
    val integrals: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    to match {
      case DateType if integrals.contains(from) =>
        org.apache.spark.sql.functions.date_from_unix_date(c.cast(IntegerType))
      case (TimestampType | TimestampNTZType) if from == LongType =>
        org.apache.spark.sql.functions.date_from_unix_date(c.cast(IntegerType)).cast(to)
      case _ => c.cast(to)
    }
  }

  /** Coerce rows of `df` (any historical schema) into `target` — generated
    * casts + null-fill, the Spark form of `SchemaDerivator.coerceDataRecord:298`.
    * Missing columns become NULL; extra columns are dropped; type changes cast.
    */
  def coerce(df: DataFrame, target: StructType): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.map { f =>
      present.get(f.name) match {
        case Some(dt) if sameUpToNullability(dt, f.dataType) => col(f.name)
        case Some(dt) if coercible(dt, f.dataType) =>
          coercionCast(col(f.name), dt, f.dataType).as(f.name)
        // refused coercion: tolerance mode NULLS the cell
        case Some(_) => lit(null).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Coerce the nested before/after structs of an envelope DataFrame. ONE
    * select over all columns, not two `withColumn`s: each withColumn
    * re-analyzes the whole projection, and with wide evolved schemas (the
    * B4 probe reaches 100+ fields per image struct) that doubles the
    * per-batch plan-compile cost for nothing.
    *
    * An image whose struct already has the target's field names in order,
    * with types equal up to nullability, passes through unchanged: every
    * field would copy as is and the rename chase cannot apply, and Catalyst
    * keeps such a copy as one more struct build per row. */
  def coerceEnvelope(
      env: DataFrame,
      target: StructType,
      pendingRenames: Seq[(Long, Map[String, String])] = Seq.empty): DataFrame = {
    def coerceStruct(c: String): org.apache.spark.sql.Column = {
      val src = env.schema(c).dataType.asInstanceOf[StructType]
      if (sameUpToNullability(src, target)) col(c)
      else {
        val present = src.fields.map(f => f.name -> f.dataType).toMap
        when(col(c).isNotNull, struct(target.fields.map { f =>
          // a sink column absent from the envelope may exist there under a
          // LATER name: the envelope rides the source's live schema while the
          // sink only evolves at the ack boundary, so a parked-but-unacked
          // rename leaves the sink one epoch behind. Chase the rename chain
          // forward; only a name genuinely absent at both epochs pads null.
          def chained: Option[String] = {
            val end = pendingRenames.foldLeft(f.name) { case (n, (_, rm)) =>
              rm.getOrElse(n, n)
            }
            if (end != f.name && present.contains(end)) Some(end) else None
          }
          present.get(f.name) match {
            case Some(dt) if sameUpToNullability(dt, f.dataType) =>
              col(s"$c.${f.name}").as(f.name)
            case Some(dt) if coercible(dt, f.dataType) =>
              coercionCast(col(s"$c.${f.name}"), dt, f.dataType).as(f.name)
            // refused coercion: tolerance mode NULLS the cell (coerceRow:271)
            case Some(_) => lit(null).cast(f.dataType).as(f.name)
            case None => chained match {
              case Some(n) => col(s"$c.$n").cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }
        }.toIndexedSeq: _*)).as(c)
      }
    }
    env.select(env.columns.map {
      // the shared envelope contract (graft.operators.Envelope) names the
      // image columns; matching string literals here would silently stop
      // coercing if the constants ever changed
      case c @ (graft.operators.Envelope.BeforeCol |
                graft.operators.Envelope.AfterCol) => coerceStruct(c)
      case other => col(other)
    }.toIndexedSeq: _*)
  }

  /** Merged CREATE TABLE for many-to-one routes
    * (`SchemaDerivator.deduceMergedCreateTableEvent:347`).
    */
  def mergedCreateTable(sinkTable: TableId, sources: Seq[TableSchema]): CreateTableEvent = {
    val merged = SchemaMerging.mergeAll(sources.map(s => SchemaMerging.fromStruct(s.struct)))
    CreateTableEvent(sinkTable, TableSchema(
      SchemaMerging.toStruct(merged),
      primaryKeys = sources.headOption.map(_.primaryKeys).getOrElse(Seq.empty)))
  }

  /** `SchemaUtils.isSchemaChangeEventRedundant` (reference
    * `common/utils/SchemaUtils.java:308-391`): true when `current` already
    * reflects the event — redundant events are skipped entirely (neither
    * registry nor sink sees them). The motivating case is the snapshot
    * stage re-emitting CreateTableEvents on every (re)start
    * (`SchemaCoordinator.java:370` "possibly coming from duplicate emitted
    * CreateTableEvents in snapshot stage"); without the skip a re-CREATE
    * clobbers the evolved registry's additive history (LENIENT sinks
    * derive from it).
    *
    * CALLERS in this repo apply the check to CreateTableEvents only: the
    * reference restores its registries from checkpoint state, so a
    * replayed-but-unacked column DDL is never "already reflected" there —
    * this repo reconstructs the upstream registry from the source's LIVE
    * catalog on restart, where the live schema already contains a parked
    * rename/add and the full matrix would wrongly swallow its replay.
    */
  def isRedundant(current: Option[TableSchema], event: SchemaChangeEvent): Boolean = {
    def hasColumn(s: TableSchema, name: String, t: CdcType): Boolean =
      s.struct.fields.exists(f =>
        f.name == name && f.dataType == t.toSpark && f.nullable == t.nullable)
    event match {
      case _: CreateTableEvent => current.isDefined
      case AddColumnEvent(_, cols) =>
        current.exists(s => cols.forall(c => hasColumn(s, c.name, c.cdcType)))
      case AlterColumnTypeEvent(_, mapping) =>
        current.exists(s => mapping.forall { case (n, t) => hasColumn(s, n, t) })
      case DropColumnEvent(_, dropped) =>
        current.exists(s => dropped.forall(d => !s.struct.fieldNames.contains(d)))
      case RenameColumnEvent(_, mapping) =>
        current.exists { s =>
          val names = s.struct.fieldNames.toSet
          mapping.forall { case (o, n) => !names.contains(o) && names.contains(n) }
        }
      case DropTableEvent(_) => current.isEmpty
      case TruncateTableEvent(_) => false
    }
  }
}

/** Driver-side schema-evolution loop, the micro-batch replacement for the
  * reference's `SchemaOperator`/`SchemaCoordinator` RPC protocol
  * (`schema/regular/SchemaOperator.java:145-243`, `SchemaCoordinator.java:238-437`).
  *
  * Called between batches from `foreachBatch`: data of batch N is fully written
  * (flushed) before a schema change arriving in batch N+1 is applied — the
  * batch boundary provides exactly the FlushEvent rendezvous.
  */
final class SchemaEvolutionDriver(
    behavior: SchemaChangeBehavior.Value,
    applier: MetadataApplier,
    includedTypes: SchemaChangeEventType.ValueSet = SchemaChangeEventType.values,
    excludedTypes: SchemaChangeEventType.ValueSet = SchemaChangeEventType.ValueSet.empty) {

  /** original (source) schemas — `SchemaOperator.originalSchemaMap` */
  val originalSchemas = new SchemaManager
  /** evolved (sink) schemas — `SchemaRegistry.evolvedSchemaMap` */
  val evolvedSchemas = new SchemaManager

  /** Sink-side type filtering (`SinkDef.getIncludedSchemaEvolutionTypes`,
    * applied at `FlinkPipelineComposer.java:218-237`).
    */
  private def passesSinkFilter(e: SchemaChangeEvent): Boolean = {
    val t = SchemaChangeEventType.of(e)
    includedTypes.contains(t) && !excludedTypes.contains(t)
  }

  /** Handle one schema-change event; returns the events actually applied to the
    * sink. Mirrors `SchemaCoordinator.applySchemaChange:341-437` including the
    * IGNORE/TRY_EVOLVE error swallowing.
    */
  def handle(event: SchemaChangeEvent): Seq[SchemaChangeEvent] = {
    // a duplicate CREATE for an already-known table is skipped whole
    // (SchemaUtils.isSchemaChangeEventRedundant via SchemaCoordinator:370) —
    // re-registering would push the CURRENT live schema as a new version,
    // erasing the evolved registry's additive history that LENIENT
    // derivation reads
    if (event.isInstanceOf[CreateTableEvent] &&
        SchemaDerivator.isRedundant(originalSchemas.latest(event.tableId), event))
      return Seq.empty
    // original side always tracks the source truth
    originalSchemas.applySchemaChange(event)

    behavior match {
      case SchemaChangeBehavior.EXCEPTION if !event.isInstanceOf[CreateTableEvent] =>
        // the reference's exact wording (`SchemaCoordinator.java:399`,
        // distributed `SchemaOperator.java:147`), event appended for debug
        throw new IllegalStateException(
          "Unexpected schema change events occurred in EXCEPTION mode. " +
            s"Job will fail now. (event: $event)")
      case SchemaChangeBehavior.IGNORE if !event.isInstanceOf[CreateTableEvent] =>
        Seq.empty
      case _ =>
        val derived = behavior match {
          case SchemaChangeBehavior.LENIENT =>
            event match {
              case c: CreateTableEvent => Seq(c)
              case other =>
                evolvedSchemas.latest(other.tableId) match {
                  case Some(cur) => SchemaDerivator.lenientize(other, cur)
                  case None => Seq(other)
                }
            }
          case _ => Seq(event)
        }
        val applied = derived.filter(passesSinkFilter)
        // the reference's applyAndUpdateEvolvedSchemaChange order: the SINK
        // applies FIRST, the evolved registry records only on success — a
        // swallowed TRY_EVOLVE failure must not leave the registry ahead of
        // the real sink schema, or every later coerceBatch would coerce to
        // a column the physical table lacks and every write would fail
        applied.filter { e =>
          // TRY_EVOLVE swallows only SINK failures (a sink that cannot take
          // the change, SchemaCoordinator's TRY_EVOLVE contract). A REGISTRY
          // failure after the sink already applied must propagate: the
          // physical sink is now ahead of the registry — the inverse
          // divergence of the one the sink-first order prevents — and
          // swallowing it would make every later coerceBatch omit a column
          // the sink has. Registry failures indicate a bug, not a sink
          // limitation.
          val sinkOk =
            try { applier.applySchemaChange(e); true }
            catch {
              case _: Exception if behavior == SchemaChangeBehavior.TRY_EVOLVE =>
                false // swallowed, as in SchemaCoordinator's TRY_EVOLVE path
            }
          if (sinkOk) evolvedSchemas.applySchemaChange(e)
          sinkOk
        }
    }
  }

  /** Coerce a batch of one table's envelope rows to the current evolved schema
    * before it reaches the sink (`SchemaOperator.java:196-223` data path).
    */
  def coerceBatch(tableId: TableId, env: DataFrame): DataFrame =
    evolvedSchemas.latest(tableId) match {
      case Some(schema) => SchemaDerivator.coerceEnvelope(env, schema.struct)
      case None => env
    }
}
