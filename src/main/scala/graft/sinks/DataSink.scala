package graft.sinks

import graft.core.{SchemaChangeEvent, TableId, TableSchema}
import graft.pipeline.MetadataApplier
import org.apache.spark.sql.DataFrame

/** Sink SPI, the Spark form of `common/sink/DataSink.java` +
  * `EventSinkProvider` + `MetadataApplier`: a batch writer invoked from
  * `foreachBatch` (batch boundary = flush barrier) plus DDL application.
  */
trait DataSink extends MetadataApplier {

  /** Write one routed table's materialized upsert batch. `df` columns are the
    * table's payload columns; rows are the latest state per key within the
    * batch, `deletedKeys` the keys whose last event was DELETE.
    */
  def writeBatch(sinkTableId: TableId, upserts: DataFrame, deletedKeys: DataFrame): Unit

  /** Batch-id-aware entry used by the streaming runner: a restarted query
    * re-delivers its last uncommitted micro-batch, so a sink that records
    * committed batch ids skips the whole replay — effective exactly-once for
    * non-idempotent targets (the reference gets this from Flink sink v2
    * 2PC; a micro-batch engine gets it from idempotent-or-skipped redelivery).
    * The commit record is written AFTER the data lands: a crash between the
    * two re-runs the batch, which the PK-upsert write shape absorbs.
    *
    * `runId` identifies the logical stream run (the checkpoint location): a
    * pipeline re-pointed at a FRESH checkpoint restarts Spark's batch ids at
    * 0, and a stale commit record from the previous run must not silently
    * swallow the first batches — a different runId disables the comparison
    * and the first commit overwrites the record. Untracked writes
    * (batchId < 0) never touch the commit record.
    */
  def writeBatch(
      sinkTableId: TableId,
      upserts: DataFrame,
      deletedKeys: DataFrame,
      batchId: Long,
      runId: String = ""): Unit =
    if (batchId < 0) {
      writeBatch(sinkTableId, upserts, deletedKeys)
    } else if (lastCommittedBatch(sinkTableId, runId).forall(_ < batchId)) {
      writeBatch(sinkTableId, upserts, deletedKeys)
      recordBatchCommit(sinkTableId, batchId, runId)
    }

  /** Highest batch id durably committed for the table BY THIS RUN, if the
    * sink tracks them. A record from a different runId must yield None.
    * Default: none tracked (idempotent sinks don't need skipping). */
  def lastCommittedBatch(sinkTableId: TableId, runId: String): Option[Long] = None

  /** Durably record that `batchId` of run `runId` was fully written
    * (overwriting any previous run's record). Default: no-op. */
  def recordBatchCommit(sinkTableId: TableId, batchId: Long, runId: String): Unit = ()

  def schemaOf(sinkTableId: TableId): Option[TableSchema]

  /** Whether a PK-changing UPDATE reaches this sink as a delete of its
    * before key plus an upsert of its after key (Debezium's shape), so the
    * old key's row goes. */
  def retractsMovedKeys: Boolean = true
}

/** A sink that consumes the CHANGELOG (the envelope frame) rather than the
  * materialized per-key batch — log-shaped targets (Kafka) where every
  * INSERT/UPDATE/REPLACE/DELETE must reach the wire as its own event. The
  * composer routes the coerced envelope here INSTEAD of materializing
  * (`PipelineComposer.processBatch`); the inherited [[DataSink.writeBatch]]
  * remains the degraded direct-SPI path.
  */
trait ChangelogSink { this: DataSink =>
  def writeChangelog(sinkTableId: TableId, env: DataFrame, batchId: Long, runId: String): Unit
}

/** Renders sink-side events as compact strings for EVENT-SEQUENCE
  * assertions — the offline analog of the reference ValuesDataSink's
  * `outCaptor` stream, whose ITCases assert every event's rendered form
  * (op, before/after image values, meta), not just final state
  * (`FlinkPipelineComposerITCase.java:819-846`). The data render mirrors the
  * reference's `DataChangeEvent.toString` minus the tableId (the log is
  * keyed per table), so reference expectations transcribe 1:1.
  */
object EventRender {

  def ddl(e: SchemaChangeEvent): String = e match {
    case graft.core.CreateTableEvent(_, s) =>
      "create:" + s.struct.fieldNames.mkString(",")
    case graft.core.AddColumnEvent(_, cols) => "add:" + cols.map { c =>
      val pos = c.position match {
        case graft.core.AddColumnEvent.First => " FIRST"
        case graft.core.AddColumnEvent.Last => ""
        case graft.core.AddColumnEvent.After(x) => s" AFTER $x"
        case graft.core.AddColumnEvent.Before(x) => s" BEFORE $x"
      }
      val dflt = c.defaultExpr.map(d => s" DEFAULT '$d'").getOrElse("")
      s"${c.name}$pos$dflt"
    }.mkString(",")
    case graft.core.AlterColumnTypeEvent(_, m) =>
      "alter:" + m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k->${v.toSpark.simpleString}" }.mkString(",")
    case graft.core.RenameColumnEvent(_, m) =>
      "rename:" + m.toSeq.sortBy(_._1).map { case (a, b) => s"$a->$b" }.mkString(",")
    case graft.core.DropColumnEvent(_, cols) => "drop:" + cols.mkString(",")
    case other => other.getClass.getSimpleName
  }

  /** `before=[...], after=[...], op=OP, meta=(...)` — image values rendered
    * like the reference's BinaryRecordData fields (nulls as `null`, numerics
    * via toString), meta as `()` when empty else `({k=v, ...})` with sorted
    * keys. */
  def data(
      op: String,
      before: Seq[Any],
      after: Seq[Any],
      meta: Map[String, String]): String = {
    def img(vals: Seq[Any]) = vals.map {
      case null => "null"
      // binaries render base64 like the reference's BinaryStringData output
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      // instants render as the UTC LocalDateTime (java.sql.Timestamp's own
      // toString depends on the JVM default zone — not deterministic)
      case ts: java.sql.Timestamp =>
        java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC).toString
      case v => String.valueOf(v)
    }.mkString(", ")
    val m =
      if (meta == null || meta.isEmpty) "()"
      else meta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("({", ", ", "})")
    s"before=[${img(before)}], after=[${img(after)}], op=$op, meta=$m"
  }

  /** Render one coerced ENVELOPE row (tableId, op, before, after, seq, meta). */
  def fromEnvelopeRow(r: org.apache.spark.sql.Row): String = {
    def img(i: Int): Seq[Any] =
      if (r.isNullAt(i)) Seq.empty else r.getStruct(i).toSeq
    val meta =
      if (r.isNullAt(5)) Map.empty[String, String]
      else r.getMap[String, String](5).toMap
    data(r.getString(1), img(2), img(3), meta)
  }
}

/** In-memory PK-upsert database — the test oracle, mirroring
  * `flink-cdc-pipeline-connector-values/.../ValuesDatabase.java` (a
  * `Map[pk, row]` per table that INSERT/UPDATE/REPLACE overwrite and DELETE
  * removes). Driver-side state is acceptable here because this sink exists for
  * correctness tests; the scale path is an external MERGE INTO sink.
  *
  * `recordEvents` (YAML sink option `record.events: true`) additionally keeps
  * a PER-TABLE UNIFIED LOG of every effective event in application order —
  * DDL (rendered by [[EventRender.ddl]]) interleaved with data-change events
  * (rendered by [[EventRender.data]], image pairs + op + meta) — so
  * conformance gates can assert the reference ITCases' full `outCaptor`
  * event sequences, not just final state. Opt-in because the log is O(events)
  * driver memory: correctness scripts only, never benches.
  */
final class MemoryDatabase(
    val recordEvents: Boolean = false,
    /** schema-change KINDS this sink refuses (`reject.ddl` option) — the
      * test double for a sink that cannot take a DDL class, the surface the
      * reference's fine-grained evolve tests inject errors through
      * (`SchemaEvolveTest.testTryEvolveSchemaWithFailure:1121` fails
      * ALTER_COLUMN_TYPE + DROP_COLUMN). Rejection happens BEFORE any
      * logging or state change: a refused event leaves no trace. */
    rejectDdl: Set[String] = Set.empty) extends DataSink {

  /** The reference's `ValuesDatabase` files an UPDATE under its after
    * image's key only, so the before key keeps its row; the conformance
    * gates pin that. */
  override def retractsMovedKeys: Boolean = false

  private def kindOf(e: SchemaChangeEvent): String = e match {
    case _: graft.core.CreateTableEvent => "CREATE_TABLE"
    case _: graft.core.AddColumnEvent => "ADD_COLUMN"
    case _: graft.core.AlterColumnTypeEvent => "ALTER_COLUMN_TYPE"
    case _: graft.core.RenameColumnEvent => "RENAME_COLUMN"
    case _: graft.core.DropColumnEvent => "DROP_COLUMN"
    case _: graft.core.DropTableEvent => "DROP_TABLE"
    case _: graft.core.TruncateTableEvent => "TRUNCATE_TABLE"
  }

  private val eventLog =
    scala.collection.mutable.ArrayBuffer.empty[(TableId, String)]

  /** The unified DDL+data event sequence recorded for `t` (requires
    * `recordEvents`). */
  def eventHistory(t: TableId): Seq[String] =
    synchronized(eventLog.collect { case (`t`, s) => s }.toSeq)

  /** Called by the composer with the rendered per-batch data events of one
    * sink table, in seq order. */
  def recordDataEvents(t: TableId, rendered: Seq[String]): Unit =
    synchronized { rendered.foreach(s => eventLog += t -> s) }

  private val tables =
    scala.collection.mutable.Map.empty[TableId, (TableSchema, scala.collection.mutable.LinkedHashMap[Seq[Any], Seq[Any]])]

  /** EFFECTIVE schema-change events in application order, per table — the
    * derived-event stream the reference ITCases assert (event order and
    * column positions, e.g. `FlinkPipelineComposerITCase.java:832-846`), not
    * just the final shape. Re-announced CREATEs of known tables are not
    * effective and are not recorded.
    */
  private val ddlLog = scala.collection.mutable.ArrayBuffer.empty[SchemaChangeEvent]

  def ddlHistory(t: TableId): Seq[SchemaChangeEvent] =
    synchronized(ddlLog.filter(_.tableId == t).toSeq)

  override def applySchemaChange(event: SchemaChangeEvent): Unit = synchronized {
    if (rejectDdl.contains(kindOf(event)))
      throw new UnsupportedOperationException(
        s"sink rejects ${kindOf(event)} (configured reject.ddl)")
    event match {
      case graft.core.CreateTableEvent(t, _) if tables.contains(t) => ()
      case _ =>
        ddlLog += event
        if (recordEvents) eventLog += event.tableId -> EventRender.ddl(event)
    }
    event match {
      case graft.core.CreateTableEvent(t, schema) =>
        if (!tables.contains(t))
          tables(t) = (schema, scala.collection.mutable.LinkedHashMap.empty)
      case graft.core.DropTableEvent(t) => tables.remove(t)
      case graft.core.TruncateTableEvent(t) =>
        tables.get(t).foreach(_._2.clear())
      case other =>
        // structural evolution: recompute schema, pad NEW columns with nulls.
        // A RENAME carries existing values to the new name (a real sink's
        // `ALTER TABLE ... RENAME COLUMN` preserves column data; only
        // genuinely new columns pad null).
        val t = other.tableId
        tables.get(t).foreach { case (schema, rows) =>
          val mgr = new graft.core.SchemaManager
          mgr.applySchemaChange(graft.core.CreateTableEvent(t, schema))
          val evolved = mgr.applySchemaChange(other)
          val oldNames = schema.struct.fieldNames
          val newToOld: Map[String, String] = other match {
            case graft.core.RenameColumnEvent(_, m) => m.map(_.swap)
            case _ => Map.empty
          }
          // an ALTER converts values already stored under the old type —
          // a real sink's `ALTER TABLE ... TYPE` rewrites/reinterprets the
          // column; an Int stored pre-widening must read back as the Long
          // the evolved schema declares
          val newTypes = evolved.struct.fields.map(f => f.name -> f.dataType).toMap
          def conv(v: Any, dt: org.apache.spark.sql.types.DataType): Any = (v, dt) match {
            case (null, _) => null
            case (n: Number, org.apache.spark.sql.types.ByteType) => n.byteValue
            case (n: Number, org.apache.spark.sql.types.ShortType) => n.shortValue
            case (n: Number, org.apache.spark.sql.types.IntegerType) => n.intValue
            case (n: Number, org.apache.spark.sql.types.LongType) => n.longValue
            case (n: Number, org.apache.spark.sql.types.FloatType) => n.floatValue
            case (n: Number, org.apache.spark.sql.types.DoubleType) => n.doubleValue
            case (x, org.apache.spark.sql.types.StringType) if !x.isInstanceOf[String] =>
              String.valueOf(x)
            case (x, _) => x
          }
          val reindexed = rows.map { case (k, v) =>
            val byName = oldNames.zip(v).toMap
            k -> evolved.struct.fieldNames.toSeq.map { n =>
              val raw = byName.getOrElse(
                if (byName.contains(n)) n else newToOld.getOrElse(n, n), null)
              conv(raw, newTypes(n))
            }
          }
          tables(t) = (evolved, scala.collection.mutable.LinkedHashMap(reindexed.toSeq: _*))
        }
    }
  }

  override def writeBatch(
      sinkTableId: TableId,
      upserts: DataFrame,
      deletedKeys: DataFrame): Unit = synchronized {
    val (schema, rows) = tables.getOrElse(
      sinkTableId,
      throw new IllegalStateException(s"table $sinkTableId not created"))
    val pkIdx = schema.primaryKeys.map(schema.struct.fieldIndex)
    upserts.collect().foreach { r =>
      val vals = r.toSeq
      rows(pkIdx.map(vals(_))) = vals
    }
    val delIdx = schema.primaryKeys.map(k => deletedKeys.schema.fieldIndex(k))
    deletedKeys.collect().foreach { r =>
      rows.remove(delIdx.map(r.get))
    }
  }

  override def schemaOf(sinkTableId: TableId): Option[TableSchema] =
    synchronized(tables.get(sinkTableId).map(_._1))

  def tableIds: Set[TableId] = synchronized(tables.keySet.toSet)

  def rowsOf(t: TableId): Seq[Seq[Any]] = synchronized {
    tables.get(t).map(_._2.values.toSeq).getOrElse(Seq.empty)
  }
}
