package graft.pipeline

import graft.core.{TableId, TableSchema}
import graft.sinks.DataSinks
import graft.sources.cdc.{ChangeSourceRegistry, GraftCdcProvider}
import graft.streaming.CdcStream
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The user entry point: YAML text → running pipeline — the Spark form of
  * `flink-cdc-cli/.../CliFrontend` + `YamlPipelineDefinitionParser` +
  * `FlinkPipelineComposer.compose(...).execute()`.
  *
  * Resolution:
  *  - `source.type: cdc` — a registered [[graft.sources.cdc.ChangeSource]]
  *    (config `sourceId`) read through the DSv2 incremental-snapshot format;
  *    `chunk.size` / `startup.mode` / `backfill.skip` pass through.
  *  - `sink.type` — resolved by [[DataSinks.forDef]] (values/jdbc/parquet).
  *
  * The composer registers the source tables (transform-derived schemas,
  * routes applied, merged CREATEs for many-to-one routes) and the stream runs
  * through [[CdcStream]]: micro-batch boundary = flush barrier.
  */
final class PipelineRunner(pdef: PipelineDef)(implicit spark: SparkSession) {

  /** Sources registered through [[addTable]], searched by renameHistoryFor —
    * declared BEFORE the composer so the lambda never sees it uninitialized.
    */
  private val addedSourceIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // YAML `user-defined-function` entries resolve by CLASSPATH and register
  // under the declared NAME before the pipeline composes — the reference's
  // `UserDefinedFunctionDescriptor` flow (`UdfDef` in
  // `YamlPipelineDefinitionParser.java:102-118`); the class must implement
  // [[graft.functions.UserDefinedFunction]] (its `UserDefinedFunction.java`
  // analog). Re-registering the same name is idempotent per session.
  pdef.udfs.foreach { u =>
    // an unloadable classpath refuses with the reference's wording
    // (`UserDefinedFunctionDescriptor` ctor —
    // UserDefinedFunctionDescriptorTest.java:96-99)
    val instance =
      try {
        // the CONTEXT classloader first (sbt/test harnesses layer app
        // classes above the loader that defined this class), then ours
        val loader = Option(Thread.currentThread().getContextClassLoader)
          .getOrElse(getClass.getClassLoader)
        Class.forName(u.classpath, true, loader)
          .getDeclaredConstructor().newInstance()
      } catch {
        case e @ (_: ClassNotFoundException | _: NoSuchMethodException) =>
          throw new IllegalArgumentException(
            s"Failed to instantiate UDF ${u.name}@${u.classpath}", e)
      }
    instance match {
      case f: graft.functions.UserDefinedFunction =>
        val named = new graft.functions.UserDefinedFunction {
          override def name: String = u.name
          override def returnType = f.returnType
          override def arity: Int = f.arity
          override def variadic: Boolean = f.variadic
          override def open(): Unit = f.open()
          override def close(): Unit = f.close()
          override def eval(args: Any*): Any = f.eval(args: _*)
        }
        graft.functions.UdfRegistry.register(spark, named)
      case plain: AnyRef if plain.getClass.getMethods.exists(_.getName == "eval") =>
        // ScalarFunction-shaped class (public typed eval overloads, no CDC
        // UDF interface) — the reference accepts vanilla Flink
        // ScalarFunction subclasses the same way
        // (`UserDefinedFunctionDescriptor.isCdcPipelineUdf:85-103`)
        graft.functions.UdfRegistry.register(
          spark, new graft.functions.ReflectiveUdf(u.name, plain))
      case other => throw new IllegalArgumentException(
        s"user-defined-function '${u.name}': ${u.classpath} neither implements " +
          s"graft.functions.UserDefinedFunction nor exposes a public eval " +
          s"method (got ${other.getClass.getName})")
    }
  }

  // YAML `model:` entries register as named functions (the reference's
  // ModelDef flow — `CHAT(col1)` in a projection calls the configured model,
  // `FlinkPipelineUdfITCase.testTransformWithModel:844`)
  pdef.models.foreach(m =>
    graft.functions.ModelFunctions.registerNamedModel(spark, m.name, m.modelName, m.options))

  // pinned epoch for the now-family (test determinism): set for THIS
  // pipeline, cleared otherwise so a prior pipeline's pin cannot leak into
  // the shared session
  pdef.config.get("epoch.millis") match {
    case Some(v) => spark.conf.set("spark.graft.epoch.millis", v)
    case None => spark.conf.unset("spark.graft.epoch.millis")
  }
  // the PIPELINE time zone for DATE_FORMAT's LTZ rendering
  // (DialectDateFormatExpr) — per-pipeline, cleared of any prior value
  spark.conf.set("spark.graft.local.tz", pdef.localTimeZone)

  val sink: graft.sinks.DataSink = DataSinks.forDef(spark, pdef.sink)
  val composer = new PipelineComposer(pdef, sink, renameHistoryFor = { t =>
    // resolved lazily at batch time: the pipeline's registered sources may
    // not exist yet at construction (debezium-file/kafka register on use).
    // Only renames that are still PENDING (parked at or after the unacked
    // DDL offset) may bridge coercion: once a rename is acked the sink
    // either renamed the column (one-to-one — old name gone, no bridge
    // needed) or turned it into an ADD (merged/LENIENT sinks — old and new
    // names legitimately COEXIST, and chasing the applied rename would
    // backfill the old column from the new one's values).
    scala.util.Try {
      // addTable'd sources (the multi-database merge shape) must be in the
      // search list too, or their batches lose the pending-rename coercion
      // bridge — in-flight old-shape rows read while a rename is parked
      // would null-pad at the sink instead of bridging.
      (sourceId +: (secondarySourceIds ++ addedSourceIds.asScala)).iterator
        .map(id => (id, ChangeSourceRegistry.get(id)))
        .find(_._2.tableId == t)
        .map { case (id, src) =>
          ChangeSourceRegistry.pendingDdl(id) match {
            case Some((parkedOff, _)) => src.renameHistory.filter(_._1 >= parkedOff)
            case None => Seq.empty
          }
        }
        .getOrElse(Seq.empty)
    }.getOrElse(Seq.empty)
  })

  private def sourceId: String = pdef.source.sourceType.toLowerCase match {
    case "debezium-file" => debeziumFileSourceId
    case "kafka" => kafkaSourceId
    case _ => pdef.source.config.getOrElse(
      "sourceId",
      throw new IllegalArgumentException("cdc source requires 'sourceId' in this environment"))
  }

  /** `source.type: debezium-file` — a STANDALONE file source (captured
    * Debezium wire records + a declared schema), registered on first use so
    * the CLI can run a pipeline with no in-process fixtures. Config:
    * `path`, `table` (db.table), `schema` (Spark DDL string), `primary-key`.
    */
  private lazy val debeziumFileSourceId: String = {
    val cfg = pdef.source.config
    def req(k: String) = cfg.getOrElse(k, throw new IllegalArgumentException(
      s"debezium-file source requires '$k'"))
    val src = graft.sources.debezium.DebeziumFileSource.toChangeSource(
      spark, req("path"),
      org.apache.spark.sql.types.StructType.fromDDL(req("schema")),
      TableId.parse(req("table")),
      req("primary-key").split(",").map(_.trim).toSeq)
    val id = s"debezium-file:${req("path")}"
    ChangeSourceRegistry.register(id, src)
    id
  }

  /** `source.type: kafka` — a topic read over the wire as log-only change
    * sources ([[graft.sources.kafka.KafkaTopicChangeSource]], one per
    * PARTITION — the unit a consumer group assigns). Config:
    * `properties.bootstrap.servers`, `topic`, `partition` (an index,
    * default 0, or `all` to enumerate the topic via broker Metadata),
    * `table` (db.table), `schema` (Spark DDL string), `primary-key`, and
    * optional `properties.group.id` — with a group id, checkpoint commits
    * flow to the broker as consumer-group offsets and
    * `startup.mode: committed` resumes from them.
    *
    * Multi-partition soundness: a keyed topic routes each key to exactly
    * ONE partition (Kafka's producer contract), so per-partition `seq`
    * values never race for the same key in the PK-upsert merge — the same
    * invariant the multi-database route-merge relies on (distinct key
    * spaces per source).
    */
  private lazy val kafkaSourceIds: Seq[String] = {
    val cfg = pdef.source.config
    def req(k: String) = cfg.getOrElse(k, throw new IllegalArgumentException(
      s"kafka source requires '$k'"))
    val topic = req("topic")
    val bootstrap = req("properties.bootstrap.servers")
    val partitions: Seq[Int] = cfg.getOrElse("partition", "0") match {
      case "all" =>
        val p = new graft.sinks.KafkaWireProducer(bootstrap)
        try 0 until p.partitionsOf(topic) finally p.close()
      case n => Seq(n.toInt)
    }
    val schema = TableSchema(
      org.apache.spark.sql.types.StructType.fromDDL(req("schema")),
      req("primary-key").split(",").map(_.trim).toSeq)
    partitions.map { partition =>
      val src = new graft.sources.kafka.KafkaTopicChangeSource(
        bootstrap, topic, partition, TableId.parse(req("table")), schema,
        groupId = cfg.get("properties.group.id"))
      val id = s"kafka:$topic/$partition"
      ChangeSourceRegistry.register(id, src)
      id
    }
  }

  private def kafkaSourceId: String = kafkaSourceIds.head

  /** Partitions past the first run as their own checkpointed streams (the
    * `addTable` shape) — drained by [[runHandlingDdl]] after the primary.
    */
  private def secondarySourceIds: Seq[String] =
    pdef.source.sourceType.toLowerCase match {
      case "kafka" => kafkaSourceIds.drop(1)
      case _ => Seq.empty
    }

  private def checkpointSafe(id: String): String =
    id.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Source tables this pipeline reads (single-table for the scripted source;
    * a live dialect source would enumerate via catalog metadata).
    */
  def sourceSchemas: Map[TableId, TableSchema] = pdef.source.sourceType.toLowerCase match {
    // the reference's per-dialect `source.type` names (`mysql`, `postgres`,
    // ... — `flink-cdc-pipeline-connector-*` factories) are accepted as
    // aliases of `cdc`: every dialect reads through the same registered
    // ChangeSource + DSv2 incremental-snapshot format in this environment
    case "kafka" =>
      kafkaSourceIds.map { id =>
        val src = ChangeSourceRegistry.get(id); src.tableId -> src.schema
      }.toMap
    case "cdc" | "values" | "debezium-file" | "mysql" | "postgres" | "mongodb" |
        "sqlserver" | "oracle" | "db2" | "tidb" | "vitess" | "oceanbase" =>
      val src = ChangeSourceRegistry.get(sourceId)
      Map(src.tableId -> src.schema)
    case other => throw new IllegalArgumentException(s"unknown source type '$other'")
  }

  /** `pipeline.execution.runtime-mode: BATCH`
    * (`FlinkPipelineComposer.java:121-128`): one bounded materialization —
    * the chunk plan read as a plain batch DataFrame (no log phase, no
    * checkpoint) through the same transform → route → schema-coerce →
    * PK-upsert path. Per-chunk HW backfill still applies, so each chunk is
    * internally consistent; changes after a chunk's HW are out of the run's
    * scope by definition of batch mode.
    */
  /** BATCH runtime-mode: one bounded materialization pass. All sources'
    * schemas are known up front, so sink creates derive from the FULL union
    * ([[PipelineComposer.createTablesBatch]]); `extraSourceIds` lets the
    * batch read several registered sources (the reference's batch fixtures
    * interleave multiple tables in one bounded event set).
    */
  def runBatch(extraSourceIds: Seq[String] = Seq.empty): Unit = {
    require(pdef.runtimeMode == "BATCH",
      s"runBatch is the BATCH runtime-mode path; this pipeline is ${pdef.runtimeMode}")
    val extras = extraSourceIds.map { id =>
      addedSourceIds.add(id)
      val src = ChangeSourceRegistry.get(id)
      src.tableId -> src.schema
    }
    composer.createTablesBatch(sourceSchemas ++ extras)
    (sourceId +: extraSourceIds).foreach { id =>
      var reader = spark.read.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", id)
      Seq("chunk.size", "backfill.skip").foreach { k =>
        pdef.source.config.get(k).foreach(v => reader = reader.option(k, v))
      }
      val env = reader.load()
      PipelineComposer.splitByTable(env, tablesOf(Seq(id))).toSeq
        .sortBy(_._1.identifier)
        .foreach { case (tableId, e) => composer.processBatch(tableId, e) }
    }
  }

  /** Create sink tables and start the stream. */
  def run(): StreamingQuery = {
    require(secondarySourceIds.isEmpty,
      "a multi-partition kafka source runs one stream per partition — " +
        "drive it with runHandlingDdl (or the CLI with pipeline.checkpoint.dir), " +
        "which drains every partition; run() returns a single stream")
    composer.createTables(sourceSchemas)
    CdcStream.start(readerFor(sourceId).load(), composer, queryName = pdef.name,
      checkpointDir = pdef.config.get("checkpoint.dir"), tables = tablesOf(Seq(sourceId)))
  }

  /** The tables registered sources serve (one each) — what lets
    * [[CdcStream]] skip its per-batch table-id discovery job. */
  private def tablesOf(ids: Seq[String]): Seq[TableId] =
    ids.map(ChangeSourceRegistry.get(_).tableId)

  private def readerFor(id: String) = {
    val reader = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id)
    Seq("chunk.size", "startup.mode", "backfill.skip", "chunks.per-batch")
      .foldLeft(reader) { (r, k) =>
        pdef.source.config.get(k).fold(r)(v => r.option(k, v))
      }
  }

  /** Run to completion of all currently-available data, handling mid-stream
    * DDL: each `AvailableNow` pass drains data up to the next schema change;
    * if the source parked at one, the event is routed through the evolution
    * driver (sink DDL applied at the batch boundary), acknowledged, and the
    * stream restarts from its checkpoint with the evolved schema — the
    * automated form of the reference's in-band `SchemaChangeEvent` flow.
    * Requires `pipeline.checkpoint.dir` so restarts resume rather than
    * re-snapshot. Returns the number of schema changes applied.
    */
  def runHandlingDdl(maxRestarts: Int = 100): Int = {
    require(pdef.config.contains("checkpoint.dir"),
      "runHandlingDdl requires pipeline.checkpoint.dir (restarts must resume)")
    composer.createTables(sourceSchemas)
    var applied = 0
    var restarts = 0
    var continue = true
    while (continue && restarts <= maxRestarts) {
      val q = CdcStream.start(readerFor(sourceId).load(), composer, queryName = pdef.name,
        checkpointDir = pdef.config.get("checkpoint.dir"), tables = tablesOf(Seq(sourceId)))
      q.processAllAvailable()
      q.stop()
      ChangeSourceRegistry.pendingDdl(sourceId) match {
        case Some((_, ddl)) =>
          composer.processSchemaChange(ddl)
          ChangeSourceRegistry.ackPendingDdl(sourceId)
          applied += 1
          restarts += 1 // resume past the DDL with the evolved schema
        case None => continue = false
      }
    }
    // a truncated drain must not look like a completed one: if the loop exits
    // because the restart budget ran out (continue still true), data behind
    // the last applied DDL was never drained — the pending entry itself was
    // just acked, so `continue` is the only reliable signal
    if (continue)
      throw new IllegalStateException(
        s"runHandlingDdl exhausted $maxRestarts restarts with schema changes still arriving " +
          s"(applied $applied); raise maxRestarts or inspect the DDL stream")
    // partitions past the first (multi-partition kafka): each drains as its
    // own checkpointed stream — data topics carry no DDL, so a plain
    // AvailableNow pass per partition completes the drain
    secondarySourceIds.foreach { id =>
      val q = CdcStream.start(
        readerFor(id).load(), composer,
        queryName = s"${pdef.name}-${checkpointSafe(id)}",
        checkpointDir = pdef.config.get("checkpoint.dir")
          .map(d => s"$d/${checkpointSafe(id)}"),
        tables = tablesOf(Seq(id)))
      q.processAllAvailable()
      q.stop()
    }
    applied
  }

  /** DISTRIBUTED-topology drain (`DataSource.isParallelMetadataSource` —
    * `FlinkPipelineComposer.java:203-224` wires such sources through
    * `schema/distributed/SchemaOperator` + `SchemaCoordinator`): the
    * partitions in `partitionIds` observe the SAME upstream table with
    * INDEPENDENT schema views, so a partition's DDL must never reach the
    * sink directly — the coordinator REDUCES all partitions' observed
    * schemas to the least common schema and derives sink DDL from the
    * reduced diff (`SchemaCoordinator#handleReduceSchemaRequest`).
    *
    * Micro-batch form: each partition drains as its own checkpointed
    * stream; a parked DDL updates that partition's VIEW, the views reduce
    * through [[DistributedSchemaReducer]], and only the derived diff goes
    * through the behavior-filtered evolution path
    * (`composer.processSchemaChange`) — IGNORE drops it, EXCEPTION faults
    * with the reference's message, LENIENT/EVOLVE widen the sink. Safe to
    * call repeatedly (the conformance scripts drain incrementally); sink
    * tables are created once from the reduced initial views. Returns
    * schema changes applied to the sink across all partitions.
    */
  /** @param interleaved true = ROUND-ROBIN draining: each turn gives every
    *   partition exactly ONE micro-batch (Trigger.Once) before moving on, so
    *   two partitions' batches genuinely alternate and a DDL parking one
    *   partition leaves the others streaming — the coordinator-fidelity mode.
    *   false (default) = each partition drains all available data per turn.
    */
  def runDistributed(
      partitionIds: Seq[String],
      maxRestarts: Int = 1000,
      interleaved: Boolean = false): Int = {
    require(pdef.config.contains("checkpoint.dir"),
      "runDistributed requires pipeline.checkpoint.dir (restarts must resume)")
    import DistributedSchemaReducer.PartitionSchemaReport
    val (views, known) = distributedState match {
      case Some(st) => st
      case None =>
        val vs = scala.collection.mutable.LinkedHashMap(partitionIds.map { id =>
          val src = ChangeSourceRegistry.get(id)
          val m = new graft.core.SchemaManager
          m.register(src.tableId, src.schema)
          id -> (src.tableId, m)
        }: _*)
        val kn = new graft.core.SchemaManager
        // initial creates: the reduce over every partition's initial view
        val reports = vs.zipWithIndex.map { case ((_, (t, m)), k) =>
          PartitionSchemaReport(k, t, m.latest(t).get)
        }.toSeq
        val creates = DistributedSchemaReducer.deriveEvents(kn, reports)
        creates.foreach(kn.applySchemaChange)
        composer.createTables(creates.collect {
          case graft.core.CreateTableEvent(t, sch) => t -> sch
        }.toMap)
        val st = (vs, kn)
        distributedState = Some(st)
        st
    }
    var applied = 0
    var restarts = 0
    var progress = true
    while (progress && restarts <= maxRestarts) {
      progress = false
      views.foreach { case (id, (tableId, viewMgr)) =>
        val q = CdcStream.start(
          readerFor(id).load(), composer,
          queryName = s"${pdef.name}-${checkpointSafe(id)}",
          checkpointDir = pdef.config.get("checkpoint.dir")
            .map(d => s"$d/${checkpointSafe(id)}"),
          singleBatch = interleaved,
          tables = Seq(tableId))
        if (interleaved) {
          // the Trigger.Once query terminates itself after one micro-batch;
          // a non-empty batch counts as progress so the round-robin keeps
          // cycling until every partition runs dry
          q.awaitTermination()
          val rows = Option(q.lastProgress).map(_.numInputRows).getOrElse(0L)
          if (rows > 0) progress = true
        } else q.processAllAvailable()
        q.stop()
        ChangeSourceRegistry.pendingDdl(id) match {
          case Some((_, ddl)) =>
            // the partition's OWN view evolves; the sink sees the REDUCED
            // diff. TRUNCATE leaves the view unchanged and DROP TABLE
            // removes it — both reduce to NO diff, so table-level events
            // are swallowed in the distributed topology (the coordinator
            // cannot truncate safely while other partitions still stream —
            // `distributed/SchemaOperator` forwards only reduced column
            // changes, `SchemaEvolveTest.testLenientSchemaEvolution:62`
            // expects neither event downstream).
            viewMgr.applySchemaChange(ddl)
            val reports = views.values.zipWithIndex.collect {
              case ((t, m), k) if t == tableId && m.latest(t).isDefined =>
                PartitionSchemaReport(k, t, m.latest(t).get)
            }.toSeq
            val derived =
              if (reports.isEmpty) Seq.empty
              else DistributedSchemaReducer.deriveEvents(known, reports)
            derived.foreach { e =>
              known.applySchemaChange(e)
              composer.processSchemaChange(e)
              applied += 1
            }
            ChangeSourceRegistry.ackPendingDdl(id)
            restarts += 1
            progress = true
          case None => ()
        }
      }
    }
    if (progress)
      throw new IllegalStateException(
        s"runDistributed exhausted $maxRestarts restarts with schema changes " +
          s"still arriving (applied $applied)")
    applied
  }

  private var distributedState: Option[(
      scala.collection.mutable.LinkedHashMap[String, (TableId, graft.core.SchemaManager)],
      graft.core.SchemaManager)] = None

  /** `scan.newly-added-table.enabled` analog (`MySqlDataSourceOptions.java:239`):
    * a table that appears mid-run is picked up WITHOUT disturbing running
    * streams — the driver routes + creates its sink tables and starts a
    * dedicated per-table stream that snapshots the new table from scratch
    * while existing streams keep their checkpoints. The reference's assigner
    * re-enumerates matched tables and snapshots the new ones while the binlog
    * split continues; per-table DSv2 streams give the same effect with
    * driver-side discovery.
    */
  /** Drain an ADDITIONAL source to completion with the same park/evolve/ack
    * loop as [[runHandlingDdl]] — for multi-source pipelines whose secondary
    * logs also carry DDL (the kafka-partition drain stays data-only; this is
    * the multi-database merge shape). Returns schema changes applied.
    */
  def drainTableHandlingDdl(newSourceId: String, maxRestarts: Int = 100): Int = {
    var applied = 0
    var restarts = 0
    var continue = true
    while (continue && restarts <= maxRestarts) {
      val q = addTable(newSourceId)
      q.processAllAvailable()
      q.stop()
      ChangeSourceRegistry.pendingDdl(newSourceId) match {
        case Some((_, ddl)) =>
          composer.processSchemaChange(ddl)
          ChangeSourceRegistry.ackPendingDdl(newSourceId)
          applied += 1
          restarts += 1
        case None => continue = false
      }
    }
    if (continue)
      throw new IllegalStateException(
        s"drainTableHandlingDdl($newSourceId) exhausted $maxRestarts restarts " +
          s"with schema changes still arriving (applied $applied)")
    applied
  }

  /** Drain the primary + `extraSourceIds` sources through ONE checkpointed
    * streaming query — the union of their DSv2 readers. The reference runs a
    * SINGLE job whose source covers every captured table, so table count must
    * not multiply stream start/stop cost; per-table streams
    * ([[drainTableHandlingDdl]]) are O(tables) restarts per drain, this is
    * O(1). Each `AvailableNow` pass drains all sources (per-source offsets
    * live in the shared checkpoint); a DDL parked on ANY source is applied at
    * the batch boundary and the single query restarts. Requires the sources'
    * envelope schemas to be union-compatible (the per-table `before`/`after`
    * structs must agree) — heterogeneous table sets stay on the per-table
    * path.
    */
  def runMultiplexedHandlingDdl(
      extraSourceIds: Seq[String], maxRestarts: Int = 100): Int = {
    require(pdef.config.contains("checkpoint.dir"),
      "runMultiplexedHandlingDdl requires pipeline.checkpoint.dir")
    val extras = extraSourceIds.map { id =>
      addedSourceIds.add(id)
      val src = ChangeSourceRegistry.get(id)
      src.tableId -> src.schema
    }
    composer.createTables(sourceSchemas ++ extras.toMap)
    val allIds = sourceId +: extraSourceIds
    var applied = 0
    var restarts = 0
    var continue = true
    while (continue && restarts <= maxRestarts) {
      val df = allIds.map(readerFor(_).load()).reduce(_ unionByName _)
      val q = CdcStream.start(df, composer,
        queryName = s"${pdef.name}-multiplex",
        checkpointDir = pdef.config.get("checkpoint.dir").map(d => s"$d/multiplex"),
        tables = tablesOf(allIds))
      q.processAllAvailable()
      q.stop()
      allIds.iterator
        .flatMap(id => ChangeSourceRegistry.pendingDdl(id).map(id -> _._2))
        .nextOption() match {
        case Some((id, ddl)) =>
          composer.processSchemaChange(ddl)
          ChangeSourceRegistry.ackPendingDdl(id)
          applied += 1
          restarts += 1
        case None => continue = false
      }
    }
    if (continue)
      throw new IllegalStateException(
        s"runMultiplexedHandlingDdl exhausted $maxRestarts restarts " +
          s"with schema changes still arriving (applied $applied)")
    applied
  }

  def addTable(newSourceId: String): StreamingQuery = {
    addedSourceIds.add(newSourceId)
    val src = ChangeSourceRegistry.get(newSourceId)
    composer.createTables(Map(src.tableId -> src.schema))
    CdcStream.start(
      readerFor(newSourceId).load(),
      composer,
      queryName = s"${pdef.name}-${src.tableId.tableName}",
      checkpointDir = pdef.config.get("checkpoint.dir").map(d => s"$d/$newSourceId"),
      tables = Seq(src.tableId))
  }
}

object PipelineRunner {
  /** Parse + run in one call — the `flink-cdc.sh pipeline.yaml` analog. */
  def run(yaml: String)(implicit spark: SparkSession): (PipelineRunner, StreamingQuery) = {
    val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
    (runner, runner.run())
  }
}
