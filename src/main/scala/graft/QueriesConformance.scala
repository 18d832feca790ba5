package graft

import graft.core._
import graft.functions.Dialect
import graft.operators.{Envelope, EnvelopeTransform, TransformRule}
import graft.pipeline._
import graft.sinks.MemoryDatabase
import graft.sources.cdc.{ChangeSourceRegistry, ScriptedChangeSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.types._

/** Reference conformance corpus: the scripted event sets of the reference's
  * composer integration tests, re-expressed as oracle gates over THIS
  * pipeline. Each gate scripts the exact event sequence of one reference
  * ITCase (fixtures: `flink-cdc-pipeline-connector-values/.../ValuesDataSourceHelper.java:52-540`;
  * expectations: `flink-cdc-composer/src/test/.../FlinkPipelineComposerITCase.java`,
  * `FlinkPipelineComposerLenientITCase.java`) through
  * [[graft.pipeline.PipelineRunner]] and asserts the reference's expected
  * FINAL MATERIALIZED STATE — the strongest offline-runnable parity evidence:
  * same events in, same table out.
  *
  * Events flow through the RUNNING pipeline in order, exactly as the
  * reference's in-band event stream does: the script receives a `drain`
  * callback and calls it at each epoch boundary (before appending DDL and
  * after), so every data window is read under the schema it was written in
  * — the park/evolve/ack loop then applies each DDL at a batch boundary.
  * Fixtures that interleave two tables in one split run as two sources here
  * (each table's own order intact — final state is insensitive to
  * cross-table interleave because key spaces are disjoint and schema
  * evolution is per-table).
  */
object QueriesConformance {

  private val Str = StringType

  private[graft] def schemaOf(cols: (String, DataType)*)(pks: String*): TableSchema =
    TableSchema(
      StructType(cols.map { case (n, t) => StructField(n, t) }),
      primaryKeys = pks.toSeq)

  /** The SINGLE_SPLIT_SINGLE_TABLE event script (ValuesDataSourceHelper
    * .java:173-265): 3 inserts, add col3, rename {col2->newCol2,
    * col3->newCol3}, drop newCol2, delete key 1, update key 2.
    */
  private def scriptSingleTable(
      src: ScriptedChangeSource, t: TableId, drain: () => Unit,
      opTs: Boolean = false): Unit = {
    // TRANSFORM_TABLE's variant of this script stamps per-event `op_ts`
    // connector metadata (ValuesDataSourceHelper.java:574-690) which the
    // transform ITCases assert in the rendered events (`meta=({op_ts=N})`)
    def m(i: Int): Map[String, String] =
      if (opTs) Map("op_ts" -> i.toString) else Map.empty
    def ins(i: Int, vals: (String, Any)*) =
      src.append(DataChangeEvent.insert(t, vals.toMap).copy(meta = m(i)))
    ins(1, "col1" -> "1", "col2" -> "1")
    ins(2, "col1" -> "2", "col2" -> "2")
    ins(3, "col1" -> "3", "col2" -> "3")
    drain()
    src.appendDdl(AddColumnEvent(t,
      Seq(AddColumnEvent.ColumnWithPosition("col3", CdcTypes.StringT()))))
    src.appendDdl(RenameColumnEvent(t, Map("col2" -> "newCol2", "col3" -> "newCol3")))
    src.appendDdl(DropColumnEvent(t, Seq("newCol2")))
    drain()
    src.append(DataChangeEvent.delete(t, Map("col1" -> "1", "newCol3" -> "1"))
      .copy(meta = m(4)))
    src.append(DataChangeEvent.update(t,
      Map("col1" -> "2", "newCol3" -> ""),
      Map("col1" -> "2", "newCol3" -> "x")).copy(meta = m(5)))
  }

  /** Run a scripted conformance case: start the pipeline on EMPTY sources
    * (tables register with their INITIAL schemas, the snapshot pass drains
    * nothing, the log phase starts at offset 0), then run `script`, which
    * appends the fixture's event sequence and calls the provided callback to
    * drain every source — park/evolve/ack on DDL — at each epoch boundary.
    */
  private[graft] def runPipeline(
      s: SparkSession,
      sources: Seq[(String, ScriptedChangeSource)],
      behavior: String,
      extraYaml: String = "",
      pipelineExtra: String = "")(script: (() => Unit) => Unit): MemoryDatabase =
    runPipelineR(s, sources, behavior, extraYaml, pipelineExtra)(
      (_, drain) => script(drain))

  /** [[runPipeline]] variant exposing the RUNNER so a script can register a
    * source table MID-STREAM (`runner.drainTableHandlingDdl(id)`) — the
    * offline analog of a fixture whose CreateTableEvent arrives in-band
    * between data events (e.g. `testMergingWithRoute`'s mytable2, whose
    * late create derives the merge-widening DDL AFTER mytable1's traffic).
    * Sources beyond `sources` must be pre-registered in the registry and are
    * drained only when the script says so.
    */
  private[graft] def runPipelineR(
      s: SparkSession,
      sources: Seq[(String, ScriptedChangeSource)],
      behavior: String,
      extraYaml: String = "",
      pipelineExtra: String = "",
      sinkExtra: String = "")(
      script: (PipelineRunner, () => Unit) => Unit): MemoryDatabase = {
    implicit val spark: SparkSession = s
    val ckpt = java.nio.file.Files.createTempDirectory("graft_conformance").toString
    val yaml =
      s"""source:
         |  type: cdc
         |  sourceId: ${sources.head._1}
         |  chunk.size: 10
         |sink:
         |  type: values
         |  record.events: true
         |$sinkExtra
         |$extraYaml
         |pipeline:
         |  checkpoint.dir: $ckpt
         |  schema.change.behavior: $behavior
         |$pipelineExtra
         |""".stripMargin
    val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
    def drainAll(): Unit = {
      runner.runHandlingDdl()
      sources.drop(1).foreach { case (id, _) => runner.drainTableHandlingDdl(id) }
    }
    drainAll() // empty snapshot pass: log phase starts at offset 0
    script(runner, () => drainAll())
    drainAll()
    runner.sink.asInstanceOf[MemoryDatabase]
  }

  /** [[runPipeline]] variant for DISTRIBUTED sources: every entry in
    * `partitions` is one PARTITION of the same upstream table, drained
    * through [[PipelineRunner.runDistributed]] — the coordinator-style
    * least-common-schema reduce, running the REAL streaming loop at
    * parallelism = `partitions.size`.
    */
  private[graft] def runDistributedPipeline(
      s: SparkSession,
      partitions: Seq[(String, ScriptedChangeSource)],
      behavior: String,
      interleaved: Boolean = false)(script: (() => Unit) => Unit): MemoryDatabase = {
    implicit val spark: SparkSession = s
    val ckpt = java.nio.file.Files.createTempDirectory("graft_distributed").toString
    val yaml =
      s"""source:
         |  type: cdc
         |  sourceId: ${partitions.head._1}
         |  chunk.size: 10
         |sink:
         |  type: values
         |  record.events: true
         |pipeline:
         |  checkpoint.dir: $ckpt
         |  schema.change.behavior: $behavior
         |""".stripMargin
    val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
    val drain = () =>
      { runner.runDistributed(partitions.map(_._1), interleaved = interleaved); () }
    drain()
    script(drain)
    drain()
    runner.sink.asInstanceOf[MemoryDatabase]
  }

  private[graft] def registered[A](sources: (String, ScriptedChangeSource)*)(
      body: => A): A =
    try {
      sources.foreach { case (id, src) => ChangeSourceRegistry.register(id, src) }
      body
    } finally sources.foreach { case (id, _) => ChangeSourceRegistry.remove(id) }

  private[graft] def freshId(tag: String) = s"conformance-$tag-${java.util.UUID.randomUUID()}"

  /** The DistributedSourceFunction dummy-type table
    * (`FlinkParallelizedPipelineITCase` fixture,
    * `DistributedSourceFunction.java:149-200`) in graft's type models —
    * TIME(p) is INT millis-of-day, TIMESTAMP_TZ is
    * struct&lt;instant, offsetSeconds&gt; (SURVEY §1.3). The values render to
    * the ITCase's expectedTokens (:925-945): `18:00:01`,
    * `2020-07-17T18:00`, base64 `Q2ljYWRh`, `1088.00000000000`, … (the
    * zoned token renders micros, not nanos — Spark's timestamp resolution).
    */
  private val parallelizedTypes: Seq[(String, CdcType, Any)] = Seq(
    ("booleantype", CdcTypes.BooleanT(), true),
    ("tinyinttype", CdcTypes.TinyIntT(), 17.toByte),
    ("smallinttype", CdcTypes.SmallIntT(), 34.toShort),
    ("inttype", CdcTypes.IntT(), 68),
    ("biginttype", CdcTypes.BigIntT(), 136L),
    ("floattype", CdcTypes.FloatT(), 272.0f),
    ("doubletype", CdcTypes.DoubleT(), 544.0),
    ("decimaltype", CdcTypes.DecimalT(17, 11), new java.math.BigDecimal("1088.000")),
    ("chartype", CdcTypes.CharT(17), "Alice"),
    ("varchartype", CdcTypes.VarCharT(17), "Bob"),
    ("binarytype", CdcTypes.BinaryT(17), "Cicada".getBytes("UTF-8")),
    ("varbinarytype", CdcTypes.VarBinaryT(17), "Derrida".getBytes("UTF-8")),
    ("timetype", CdcTypes.TimeT(9), 64801000),
    ("timestamptype", CdcTypes.TimestampT(9),
      java.time.LocalDateTime.parse("2020-07-17T18:00")),
    ("zonedtimestamptype", CdcTypes.ZonedTimestampT(9),
      Row(java.sql.Timestamp.from(java.time.Instant.parse("1970-01-04T21:20:00.000123Z")),
        28800)),
    ("localzonedtimestamptype", CdcTypes.LocalZonedTimestampT(9),
      java.sql.Timestamp.from(java.time.Instant.parse("2019-12-31T18:00:00Z"))))

  /** dummy value for a `col_<type>` / `subtask_<k>_col_<type>` column —
    * type-name suffixes are unambiguous (`_zonedtimestamptype` does not
    * match `…local…`: the preceding char is `l`, not `_`). */
  private def parallelizedValueOf(colName: String): Any =
    parallelizedTypes.find { case (n, _, _) => colName.endsWith(s"_$n") }
      .map(_._3)
      .getOrElse(throw new IllegalArgumentException(s"no dummy value for $colName"))

  /** render a stored value the way the ITCase's expectedTokens spell it */
  private def renderParallelizedValue(colName: String, v: Any): String = (colName, v) match {
    case (_, null) => "null"
    case (c, i: Int) if c.endsWith("_timetype") =>
      java.time.LocalTime.ofNanoOfDay(i * 1000000L).toString
    case (_, b: Array[Byte]) => java.util.Base64.getEncoder.encodeToString(b)
    case (_, d: java.math.BigDecimal) => d.toPlainString
    case (_, ldt: java.time.LocalDateTime) => ldt.toString
    case (_, ts: java.sql.Timestamp) =>
      java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC).toString
    case (_, r: Row) =>
      java.time.OffsetDateTime
        .ofInstant(r.getTimestamp(0).toInstant,
          java.time.ZoneOffset.ofTotalSeconds(r.getInt(1))).toString
    case (_, other) => String.valueOf(other)
  }

  /** MemoryDatabase rows -> DataFrame with explicit schema (values arrive
    * with the sink table's evolved types). */
  private[graft] def stateDf(
      s: SparkSession, db: MemoryDatabase, t: TableId): DataFrame = {
    val schema = db.schemaOf(t).getOrElse(
      throw new IllegalStateException(s"sink table $t missing"))
    val rows = db.rowsOf(t).map(Row.fromSeq)
    s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(schema.struct.fields.map(_.copy(nullable = true))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // FlinkPipelineComposerITCase.testSingleSplitSingleTable:129-184 (EVOLVE):
    // final table1 = (col1, newCol3): ("2","x"), ("3",null)
    "c_conformance_single_table" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("single")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE") { drain =>
          scriptSingleTable(src, t, drain)
        }
        // derived events verbatim (ComposerITCase :160-165): raw LAST add,
        // rename applied as-is, drop applied as-is
        requireDdlSequence(db, t, Seq(
          "create:col1,col2",
          "add:col3",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2"))
        // FULL event sequence incl. image pairs (ComposerITCase :173-184):
        // the post-drop DELETE's before is [1, 1] (col1, newCol3) and the
        // UPDATE's images carry the empty-string -> "x" pair — final-state
        // equality cannot distinguish these from compensating wrong pairs
        requireEventSequence(db, t, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()",
          "add:col3",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1], after=[], op=DELETE, meta=()",
          "before=[2, ], after=[2, x], op=UPDATE, meta=()"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("col1", "newCol3")),
          s"evolved shape, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testSingleSplitSingleTable:119-172
    // (default LENIENT): rename -> additive newCol2+newCol3, drop swallowed;
    // full-row upserts null the columns the post-rename images no longer
    // carry. Final: (2,null,null,null,"x"), (3,"3",null,null,null)
    "c_conformance_lenient_single_table" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("lenient")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT") { drain =>
          scriptSingleTable(src, t, drain)
        }
        // derived events verbatim (LenientITCase :150-153): the rename
        // lenient-izes into an ADD of the new names, the drop is swallowed
        requireDdlSequence(db, t, Seq(
          "create:col1,col2",
          "add:col3",
          "add:newCol2,newCol3"))
        // FULL event sequence (LenientITCase :163-172): post-rename images
        // null col2/col3/newCol2 and carry the live value under newCol3
        requireEventSequence(db, t, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()",
          "add:col3",
          "add:newCol2,newCol3",
          "before=[1, null, null, null, 1], after=[], op=DELETE, meta=()",
          "before=[2, null, null, null, ], after=[2, null, null, null, x], op=UPDATE, meta=()"))
        require(db.schemaOf(t).exists(
          _.columnNames == Seq("col1", "col2", "col3", "newCol2", "newCol3")),
          s"lenient additive shape, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineComposerLenientITCase
    // .testSingleSplitSingleTableWithDefaultValue:176 — the single-table
    // script plus an ADD with a column DEFAULT ('flink') and a RENAME of that
    // column: under LENIENT the default rides the add as-is AND carries into
    // the rename-derived ADD of the new name (:230-235); neither backfills
    // existing rows (final colWithDefault/newColWithDefault are null).
    "c_conformance_lenient_default_value" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("ldflt")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT") { drain =>
          scriptSingleTable(src, t, drain)
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition(
            "colWithDefault", CdcTypes.StringT(), defaultExpr = Some("flink")))))
          src.appendDdl(RenameColumnEvent(t, Map("colWithDefault" -> "newColWithDefault")))
        }
        requireEventSequence(db, t, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()",
          "add:col3",
          "add:newCol2,newCol3",
          "before=[1, null, null, null, 1], after=[], op=DELETE, meta=()",
          "before=[2, null, null, null, ], after=[2, null, null, null, x], op=UPDATE, meta=()",
          "add:colWithDefault DEFAULT 'flink'",
          "add:newColWithDefault DEFAULT 'flink'"))
        require(db.schemaOf(t).exists(_.columnNames == Seq(
          "col1", "col2", "col3", "newCol2", "newCol3",
          "colWithDefault", "newColWithDefault")),
          s"default-value lenient shape per ITCase:212, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineComposerITCase.testSingleSplitMultipleTables:188-253
    // (EVOLVE): table1 evolves (add/rename/drop), table2 untouched.
    // Emitted as (tbl, col1, v): v = newCol3 for table1, col2 for table2.
    "c_conformance_multi_tables" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val (id1, id2) = (freshId("multi1"), freshId("multi2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE") { drain =>
          Seq("1", "2", "3").foreach(k =>
            src2.append(DataChangeEvent.insert(t2, Map("col1" -> k, "col2" -> k))))
          scriptSingleTable(src1, t1, drain)
        }
        import s.implicits._
        val a = stateDf(s, db, t1).collect().toSeq
          .map(r => ("table1", r.getString(0), r.getString(1)))
        val b = stateDf(s, db, t2).collect().toSeq
          .map(r => ("table2", r.getString(0), r.getString(1)))
        (a ++ b).toDF("tbl", "col1", "v").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineComposerITCase.testMultiSplitsSingleTable:257-297: splits
    // are parallel slices of one table; the final state is split-interleave
    // insensitive, so the four splits run as one ordered log here. Final:
    // (1,1,x), (3,3,x), (5,5,null) — 2,4,6 deleted.
    "c_conformance_multi_splits" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("splits")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE") { drain =>
          Seq("1", "2", "3", "4", "5", "6").foreach(k =>
            src.append(DataChangeEvent.insert(t, Map("col1" -> k, "col2" -> k))))
          Seq("2", "4", "6").foreach(k =>
            src.append(DataChangeEvent.delete(t, Map("col1" -> k, "col2" -> k))))
          drain()
          src.appendDdl(AddColumnEvent(t,
            Seq(AddColumnEvent.ColumnWithPosition("col3", CdcTypes.StringT()))))
          drain()
          Seq("1", "3").foreach(k =>
            src.append(DataChangeEvent.update(t,
              Map("col1" -> k, "col2" -> k, "col3" -> ""),
              Map("col1" -> k, "col2" -> k, "col3" -> "x"))))
        }
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineComposerITCase.testOneToOneRouting:499-572 (EVOLVE):
    // table1->routed1 (evolves), table2->routed2 (static).
    "c_conformance_route_one_to_one" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val (id1, id2) = (freshId("route1"), freshId("route2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.table1
              |    sink-table: default_schema.routed1
              |  - source-table: default_schema.table2
              |    sink-table: default_schema.routed2""".stripMargin) { drain =>
          Seq("1", "2", "3").foreach(k =>
            src2.append(DataChangeEvent.insert(t2, Map("col1" -> k, "col2" -> k))))
          scriptSingleTable(src1, t1, drain)
        }
        import s.implicits._
        val a = stateDf(s, db, TableId.parse("default_schema.routed1")).collect().toSeq
          .map(r => ("routed1", r.getString(0), r.getString(1)))
        val b = stateDf(s, db, TableId.parse("default_schema.routed2")).collect().toSeq
          .map(r => ("routed2", r.getString(0), r.getString(1)))
        (a ++ b).toDF("tbl", "col1", "v").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineComposerITCase.testIdenticalOneToOneRouting:576 (EVOLVE):
    // routes mapping each table to ITSELF must be exact no-ops — per-table
    // event sequences identical to the unrouted single-table case
    // (:611-652).
    "c_conformance_route_identical" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val (id1, id2) = (freshId("ident1"), freshId("ident2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.table1
              |    sink-table: default_schema.table1
              |  - source-table: default_schema.table2
              |    sink-table: default_schema.table2""".stripMargin) { drain =>
          Seq("1", "2", "3").foreach(k =>
            src2.append(DataChangeEvent.insert(t2, Map("col1" -> k, "col2" -> k))))
          scriptSingleTable(src1, t1, drain)
        }
        requireEventSequence(db, t1, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()",
          "add:col3",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1], after=[], op=DELETE, meta=()",
          "before=[2, ], after=[2, x], op=UPDATE, meta=()"))
        requireEventSequence(db, t2, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()"))
        import s.implicits._
        val a = stateDf(s, db, t1).collect().toSeq
          .map(r => ("table1", r.getString(0), r.getString(1)))
        val b = stateDf(s, db, t2).collect().toSeq
          .map(r => ("table2", r.getString(0), r.getString(1)))
        (a ++ b).toDF("tbl", "col1", "v").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineComposerITCase.testRouteWithReplaceSymbol:1258-1315
    // (EVOLVE): pattern route `table[0-9]` -> `replaced.<>` keeps per-table
    // identity under a new namespace.
    "c_conformance_route_replace" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val (id1, id2) = (freshId("repl1"), freshId("repl2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.table\.*
              |    sink-table: replaced_schema.<>
              |    replace-symbol: <>""".stripMargin) { drain =>
          Seq("1", "2", "3").foreach(k =>
            src2.append(DataChangeEvent.insert(t2, Map("col1" -> k, "col2" -> k))))
          scriptSingleTable(src1, t1, drain)
        }
        import s.implicits._
        val a = stateDf(s, db, TableId.parse("replaced_schema.table1")).collect().toSeq
          .map(r => ("table1", r.getString(0), r.getString(1)))
        val b = stateDf(s, db, TableId.parse("replaced_schema.table2")).collect().toSeq
          .map(r => ("table2", r.getString(0), r.getString(1)))
        (a ++ b).toDF("tbl", "col1", "v").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineComposerITCase.testMergingWithRoute:653-847 (EVOLVE):
    // mytable1 (id INT, name, age INT) + mytable2 (id BIGINT, name
    // VARCHAR(255), age TINYINT, description) route-merge into `merged`;
    // id widens INT->BIGINT, description appends, the mytable1 rename
    // name->last_name surfaces as ADD last_name (merged sinks evolve by
    // least-common-schema DIFFERENCE, `SchemaCoordinator.java:297-322`),
    // mytable2's ADD gender appends. Final merged rows reproduce
    // ITCase :819-846.
    "c_conformance_merge_route" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq.empty)
      val (id1, id2) = (freshId("merge1"), freshId("merge2"))
      registered(id1 -> src1, id2 -> src2) {
        // mytable2 joins MID-STREAM (runPipelineR + drainTableHandlingDdl),
        // reproducing the fixture's in-band CreateTableEvent order: the
        // merge-widening DDL (add description, widen id) derives AFTER
        // mytable1's traffic and BEFORE mytable2's — the exact interleave
        // the ITCase asserts (:832-846)
        val db = runPipelineR(s, Seq(id1 -> src1), "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.mytable\.*
              |    sink-table: default_schema.merged""".stripMargin) { (runner, drain) =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          drain()
          // mytable2 announces EMPTY (its create derives the widening DDL
          // here), then its traffic rides the log so every event —
          // including Donald's net-zero insert+delete — reaches the sink
          runner.drainTableHandlingDdl(id2)
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          runner.drainTableHandlingDdl(id2)
          src1.appendDdl(RenameColumnEvent(t1, Map("name" -> "last_name")))
          drain()
          src2.appendDdl(AddColumnEvent(t2,
            Seq(AddColumnEvent.ColumnWithPosition("gender", CdcTypes.StringT()))))
          runner.drainTableHandlingDdl(id2)
          src1.append(DataChangeEvent.insert(t1,
            Map("id" -> 5, "last_name" -> "Eliza", "age" -> 24)))
          drain()
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 6L, "name" -> "Frank", "age" -> 30.toByte,
              "description" -> "student", "gender" -> "male")))
          runner.drainTableHandlingDdl(id2)
        }
        val merged = TableId.parse("default_schema.merged")
        // the DERIVED event sequence the reference asserts (:832-846):
        // create, ADD description AFTER age + widen id BEFORE any mytable2
        // data, then the rename surfacing as ADD last_name, then ADD gender
        requireDdlSequence(db, merged, Seq(
          "create:id,name,age",
          "add:description AFTER age",
          "alter:id->bigint",
          "add:last_name AFTER description",
          "add:gender AFTER last_name"))
        // the FULL 13-event sequence of ITCase :832-846 — DDL interleaved
        // with data at the reference's exact points, image pairs included
        // (Bob's 3-col -U/+U pair pre-widening, Eliza's post-rename image
        // with name nulled and last_name carried)
        requireEventSequence(db, merged, Seq(
          "create:id,name,age",
          "before=[], after=[1, Alice, 18], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20], op=INSERT, meta=()",
          "before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE, meta=()",
          "add:description AFTER age",
          "alter:id->bigint",
          "before=[], after=[3, Charlie, 15, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, student], op=INSERT, meta=()",
          "before=[4, Donald, 25, student], after=[], op=DELETE, meta=()",
          "add:last_name AFTER description",
          "add:gender AFTER last_name",
          "before=[], after=[5, null, 24, null, Eliza, null], op=INSERT, meta=()",
          "before=[], after=[6, Frank, 30, student, null, male], op=INSERT, meta=()"))
        require(db.schemaOf(merged).exists(
          _.columnNames == Seq("id", "name", "age", "description", "last_name", "gender")),
          s"merged shape per ITCase:819-830, got ${db.schemaOf(merged).map(_.columnNames)}")
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // FlinkPipelineComposerITCase.testTransformMergingWithRoute:851 (EVOLVE):
    // the transform (`*,'last_name' as last_name`) rides the route-merge with
    // mytable2's create arriving MID-STREAM — the widening DDL (add
    // description AFTER last_name, widen id) derives after mytable1's
    // traffic; no rename in this variant. Full 12-event sequence
    // (:1042-1058).
    "c_conformance_transform_merge_events" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq.empty)
      val (id1, id2) = (freshId("tme1"), freshId("tme2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipelineR(s, Seq(id1 -> src1), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable\.*
              |    projection: "*,'last_name' as last_name"
              |route:
              |  - source-table: default_schema.mytable\.*
              |    sink-table: default_schema.merged""".stripMargin) { (runner, drain) =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          drain()
          runner.drainTableHandlingDdl(id2) // t2 joins empty: widening DDL here
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          runner.drainTableHandlingDdl(id2)
          src2.appendDdl(AddColumnEvent(t2,
            Seq(AddColumnEvent.ColumnWithPosition("gender", CdcTypes.StringT()))))
          runner.drainTableHandlingDdl(id2)
          src1.append(DataChangeEvent.insert(t1,
            Map("id" -> 5, "name" -> "Eliza", "age" -> 24)))
          drain()
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 6L, "name" -> "Frank", "age" -> 30.toByte,
              "description" -> "student", "gender" -> "male")))
          runner.drainTableHandlingDdl(id2)
        }
        val merged = TableId.parse("default_schema.merged")
        requireEventSequence(db, merged, Seq(
          "create:id,name,age,last_name",
          "before=[], after=[1, Alice, 18, last_name], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20, last_name], op=INSERT, meta=()",
          "before=[2, Bob, 20, last_name], after=[2, Bob, 30, last_name], op=UPDATE, meta=()",
          "add:description AFTER last_name",
          "alter:id->bigint",
          "before=[], after=[3, Charlie, 15, last_name, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, last_name, student], op=INSERT, meta=()",
          "before=[4, Donald, 25, last_name, student], after=[], op=DELETE, meta=()",
          "add:gender AFTER description",
          "before=[], after=[5, Eliza, 24, last_name, null, null], op=INSERT, meta=()",
          "before=[], after=[6, Frank, 30, last_name, student, male], op=INSERT, meta=()"))
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // FlinkPipelineComposerITCase.testTransformMergingWithRouteChangeOrder
    // :1061 — the CHANGE-ORDER twin of the transform route-merge: both
    // CreateTableEvents arrive UP FRONT (the widening DDL derives before any
    // data flows), the rename is absent, and the computed `last_name` rides
    // the transform into the merged schema — the classic spot where
    // batch-boundary semantics could diverge from event-at-a-time order.
    // Asserts the full 12-event sequence (:1146-1158).
    "c_conformance_merge_change_order" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq.empty)
      val (id1, id2) = (freshId("chord1"), freshId("chord2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable\.*
              |    projection: "*,'last_name' as last_name"
              |route:
              |  - source-table: default_schema.mytable\.*
              |    sink-table: default_schema.merged""".stripMargin) { drain =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          drain()
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          drain()
          src2.appendDdl(AddColumnEvent(t2,
            Seq(AddColumnEvent.ColumnWithPosition("gender", CdcTypes.StringT()))))
          drain()
          src1.append(DataChangeEvent.insert(t1,
            Map("id" -> 5, "name" -> "Eliza", "age" -> 24)))
          drain()
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 6L, "name" -> "Frank", "age" -> 30.toByte,
              "description" -> "student", "gender" -> "male")))
        }
        val merged = TableId.parse("default_schema.merged")
        requireEventSequence(db, merged, Seq(
          "create:id,name,age,last_name",
          "add:description AFTER last_name",
          "alter:id->bigint",
          "before=[], after=[1, Alice, 18, last_name, null], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20, last_name, null], op=INSERT, meta=()",
          "before=[2, Bob, 20, last_name, null], after=[2, Bob, 30, last_name, null], op=UPDATE, meta=()",
          "before=[], after=[3, Charlie, 15, last_name, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, last_name, student], op=INSERT, meta=()",
          "before=[4, Donald, 25, last_name, student], after=[], op=DELETE, meta=()",
          "add:gender AFTER description",
          "before=[], after=[5, Eliza, 24, last_name, null, null], op=INSERT, meta=()",
          "before=[], after=[6, Frank, 30, last_name, student, male], op=INSERT, meta=()"))
        require(db.schemaOf(merged).exists(
          _.columnNames == Seq("id", "name", "age", "last_name", "description", "gender")),
          s"change-order merged shape per ITCase:1228-1240, got ${db.schemaOf(merged).map(_.columnNames)}")
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testMergingWithRoute:684: the SAME
    // event script as the EVOLVE merge gate, under default-LENIENT — the
    // derived adds are normalized to position LAST (:745-760 expect
    // `position=LAST, existedColumnName=null`), and the final materialized
    // state is identical.
    "c_conformance_lenient_merge_route" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq.empty)
      val (id1, id2) = (freshId("lmerge1"), freshId("lmerge2"))
      registered(id1 -> src1, id2 -> src2) {
        // mytable2 joins mid-stream like the EVOLVE twin — the LENIENT
        // derivation differs only in add POSITIONS (LAST, :862-875)
        val db = runPipelineR(s, Seq(id1 -> src1), "LENIENT",
          extraYaml =
            """route:
              |  - source-table: default_schema.mytable\.*
              |    sink-table: default_schema.merged_lenient""".stripMargin) { (runner, drain) =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          drain()
          runner.drainTableHandlingDdl(id2)
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          runner.drainTableHandlingDdl(id2)
          src1.appendDdl(RenameColumnEvent(t1, Map("name" -> "last_name")))
          drain()
          src2.appendDdl(AddColumnEvent(t2,
            Seq(AddColumnEvent.ColumnWithPosition("gender", CdcTypes.StringT()))))
          runner.drainTableHandlingDdl(id2)
          src1.append(DataChangeEvent.insert(t1,
            Map("id" -> 5, "last_name" -> "Eliza", "age" -> 24)))
          drain()
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 6L, "name" -> "Frank", "age" -> 30.toByte,
              "description" -> "student", "gender" -> "male")))
          runner.drainTableHandlingDdl(id2)
        }
        val merged = TableId.parse("default_schema.merged_lenient")
        // full 13-event sequence (LenientITCase :862-875): LAST-positioned
        // lenient adds at the reference's exact interleave points
        requireEventSequence(db, merged, Seq(
          "create:id,name,age",
          "before=[], after=[1, Alice, 18], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20], op=INSERT, meta=()",
          "before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE, meta=()",
          "add:description",
          "alter:id->bigint",
          "before=[], after=[3, Charlie, 15, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, student], op=INSERT, meta=()",
          "before=[4, Donald, 25, student], after=[], op=DELETE, meta=()",
          "add:last_name",
          "add:gender",
          "before=[], after=[5, null, 24, null, Eliza, null], op=INSERT, meta=()",
          "before=[], after=[6, Frank, 30, student, null, male], op=INSERT, meta=()"))
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testTransformMergingWithRoute:879:
    // transform (`*,'last_name' as last_name` on BOTH tables) BEFORE the
    // route-merge — the computed column rides into the merged schema, the
    // deduced adds (description, gender) append LAST, id widens.
    "c_conformance_transform_merge_route" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq.empty)
      val (id1, id2) = (freshId("tmerge1"), freshId("tmerge2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "LENIENT",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable\.*
              |    projection: "*,'last_name' as last_name"
              |route:
              |  - source-table: default_schema.mytable\.*
              |    sink-table: default_schema.merged_transform""".stripMargin) { drain =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte, "description" -> "student")))
          drain()
          src2.appendDdl(AddColumnEvent(t2,
            Seq(AddColumnEvent.ColumnWithPosition("gender", CdcTypes.StringT()))))
          drain()
          src1.append(DataChangeEvent.insert(t1,
            Map("id" -> 5, "name" -> "Eliza", "age" -> 24)))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 6L, "name" -> "Frank", "age" -> 30.toByte,
              "description" -> "student", "gender" -> "male")))
        }
        val merged = TableId.parse("default_schema.merged_transform")
        requireDdlSequence(db, merged, Seq(
          "create:id,name,age,last_name",
          "add:description",
          "alter:id->bigint",
          "add:gender"))
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // SchemaEvolveTest.testIgnoreEvolveSchema (runtime :727-1020, the
    // create/add/rename stages): under IGNORE only CREATEs reach the sink
    // (`SchemaDerivator.rewriteSchemaChangeEvents:197-200`); data written
    // after an ignored ADD drops the extra columns, and data written after
    // an ignored RENAME nulls the sink's old column (no rename is pending,
    // so no coercion bridge — the reference coerces the missing name to
    // NULL, :920-930).
    "c_conformance_ignore_behavior" -> ((s, _) => {
      val t = TableId.parse("db.customers")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
      val id = freshId("ignore")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "IGNORE") { drain =>
          src.append(DataChangeEvent.insert(t, Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
          src.append(DataChangeEvent.insert(t, Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
          src.append(DataChangeEvent.insert(t, Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()),
            AddColumnEvent.ColumnWithPosition("height", CdcTypes.DoubleT()))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 4, "name" -> "Derrida", "age" -> 20.toShort,
            "score" -> 100, "height" -> 173.25)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 5, "name" -> "Eve", "age" -> 21.toShort,
            "score" -> 97, "height" -> 160.0)))
          drain()
          src.appendDdl(RenameColumnEvent(t, Map("name" -> "namae")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 6, "namae" -> "Fiona", "age" -> 22.toShort,
            "score" -> 93, "height" -> 161.0)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 7, "namae" -> "Gloria", "age" -> 23.toShort,
            "score" -> 95, "height" -> 162.0)))
        }
        // the sink NEVER evolves: one CREATE, nothing else
        requireDdlSequence(db, t, Seq("create:id,name,age"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("id", "name", "age")),
          s"IGNORE keeps the V1 shape, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t)
          .select(col("id"), col("name"), col("age").cast("int").as("age"))
          .orderBy("id")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testOpTypeMetadataColumn:408:
    // transform (computed col12 + `__data_event_type__ AS rk`) under
    // default-LENIENT over the evolving single-table script — the per-image
    // RowKind rides as a DATA column (the update materializes rk = '+U'),
    // the filter drops key 3's insert but PASSES key 1's delete, and the
    // lenient evolution appends col3 then newCol2/newCol3. Final state is
    // ONE row (:462).
    "c_conformance_lenient_optype_metadata" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("optype")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, concat(col1,'0') as col12, __data_event_type__ as rk"
              |    filter: "col1 <> '3'"
              |    primary-keys: col1
              |    partition-keys: col12
              |    table-options: key1=value1""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        requireDdlSequence(db, t, Seq(
          "create:col1,col2,col12,rk",
          "add:col3",
          "add:newCol2,newCol3"))
        // FULL event sequence (LenientITCase :455-464): per-image RowKind
        // tokens (-D on the delete's before, -U/+U on the update pair), the
        // computed col12 evaluated per image, op_ts metadata riding through,
        // and key 3's insert dropped by the filter (no op_ts=3 line)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,col12,rk",
          "before=[], after=[1, 1, 10, +I], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, 20, +I], op=INSERT, meta=({op_ts=2})",
          "add:col3",
          "add:newCol2,newCol3",
          "before=[1, null, 10, -D, null, null, 1], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, null, 20, -U, null, null, ], after=[2, null, 20, +U, null, null, x], " +
            "op=UPDATE, meta=({op_ts=5})"))
        require(db.schemaOf(t).exists(sch =>
          sch.columnNames == Seq("col1", "col2", "col12", "rk", "col3", "newCol2", "newCol3") &&
            sch.partitionKeys == Seq("col12") &&
            sch.options.get("key1").contains("value1")),
          s"lenient optype shape per ITCase:452, got ${db.schemaOf(t)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // SchemaEvolveTest.testExceptionEvolveSchema:633 (EXCEPTION behavior):
    // the CREATE and its data pass; the FIRST subsequent schema change
    // faults the pipeline ("Failed to apply schema change event") and the
    // sink stays frozen at schema v1 with exactly the pre-DDL rows.
    "c_conformance_exception_behavior" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
      val id = freshId("exbeh")
      var faulted: Option[Throwable] = None
      registered(id -> src) {
        try {
          runPipeline(s, Seq(id -> src), "EXCEPTION") { drain =>
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
            drain()
            src.appendDdl(AddColumnEvent(t, Seq(
              AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()),
              AddColumnEvent.ColumnWithPosition("height", CdcTypes.DoubleT()))))
            try drain()
            catch { case e: Throwable => faulted = Some(e); throw e }
          }
          sys.error("EXCEPTION behavior must fault on the AddColumnEvent")
        } catch {
          case _: Throwable if faulted.isDefined => ()
        }
        require(faulted.exists(e =>
          String.valueOf(e.getMessage).contains("EXCEPTION") ||
            Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("EXCEPTION"))),
          s"fault must cite the EXCEPTION behavior, got $faulted")
        // the sink never saw the add: replay the same script under a FRESH
        // pipeline to materialize the pre-fault state deterministically
        val src2 = new ScriptedChangeSource(t,
          schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
        val id2 = freshId("exbeh2")
        registered(id2 -> src2) {
          val db2 = runPipeline(s, Seq(id2 -> src2), "EXCEPTION") { drain =>
            src2.append(DataChangeEvent.insert(t,
              Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
            src2.append(DataChangeEvent.insert(t,
              Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
            src2.append(DataChangeEvent.insert(t,
              Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
          }
          requireEventSequence(db2, t, Seq(
            "create:id,name,age",
            "before=[], after=[1, Alice, 17], op=INSERT, meta=()",
            "before=[], after=[2, Bob, 18], op=INSERT, meta=()",
            "before=[], after=[3, Carol, 19], op=INSERT, meta=()"))
          require(db2.schemaOf(t).exists(_.columnNames == Seq("id", "name", "age")),
            "schema must stay at v1 under EXCEPTION")
          stateDf(s, db2, t).orderBy("id")
        }
      }
    }),

    // FlinkPipelineTransformITCase.testMetadataInfo:536 — a wildcard
    // transform whose only job is the metadata override block: COMPOSITE
    // primary key (id,name), partition key, and two table options reach both
    // sink tables' schemas while the data stream passes through untouched
    // (:550-558).
    "c_conformance_metadata_info" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "metainfo",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*"
          |    primary-keys: id,name
          |    partition-keys: id
          |    table-options: replication_num=1,bucket=17""".stripMargin)
      Seq(t1, t2).foreach { t =>
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.primaryKeys == Seq("id", "name") && sch.partitionKeys == Seq("id") &&
          sch.options.get("replication_num").contains("1") &&
          sch.options.get("bucket").contains("17"),
          s"$t metadata overrides per ITCase:550, got $sch")
      }
      requireEventSequence(db, t1, Seq(
        "create:id,name,age",
        "before=[], after=[1, Alice, 18], op=INSERT, meta=()",
        "before=[], after=[2, Bob, 20], op=INSERT, meta=()",
        "before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE, meta=()"))
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description",
        "before=[], after=[3, Carol, 15, student], op=INSERT, meta=()",
        "before=[], after=[4, Derrida, 25, student], op=INSERT, meta=()",
        "before=[4, Derrida, 25, student], after=[], op=DELETE, meta=()"))
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // SchemaEvolveTest.testTryEvolveSchemaWithFailure:1121 — fine-grained
    // failure injection: the sink REFUSES ALTER_COLUMN_TYPE and DROP_COLUMN.
    // Under TRY_EVOLVE the adds evolve normally, the refused changes are
    // swallowed WITHOUT trace (the sink schema keeps age SMALLINT and keeps
    // height), and later data coerces back to the sink's older shape —
    // degraded, never faulted.
    "c_conformance_try_evolve_failure" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
      val id = freshId("tryfail")
      registered(id -> src) {
        val db = runPipelineR(s, Seq(id -> src), "TRY_EVOLVE",
          sinkExtra = "  reject.ddl: ALTER_COLUMN_TYPE,DROP_COLUMN") { (_, drain) =>
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()),
            AddColumnEvent.ColumnWithPosition("height", CdcTypes.DoubleT()))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 4, "name" -> "Derrida", "age" -> 20.toShort,
            "score" -> 100, "height" -> 173.25)))
          drain()
          src.appendDdl(AlterColumnTypeEvent(t, Map("age" -> CdcTypes.IntT())))
          drain() // refused by the sink; TRY_EVOLVE degrades, never faults
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 5, "name" -> "Eve", "age" -> 21,
            "score" -> 97, "height" -> 160.0)))
          drain()
          src.appendDdl(DropColumnEvent(t, Seq("height")))
          drain() // refused too
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 6, "name" -> "Fiona", "age" -> 22, "score" -> 95)))
        }
        // the refused changes leave NO trace in the sink's event stream
        requireDdlSequence(db, t, Seq("create:id,name,age", "add:score,height"))
        require(db.schemaOf(t).exists(sch =>
          sch.columnNames == Seq("id", "name", "age", "score", "height") &&
            sch.struct("age").dataType == ShortType),
          s"sink must keep SMALLINT age and the height column, got ${db.schemaOf(t)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // SchemaEvolveTest.testFineGrainedSchemaEvolves:1451 — EVOLVE with a
    // sink that only SUPPORTS {CREATE_TABLE, ADD_COLUMN, RENAME_COLUMN}:
    // supported changes evolve, unsupported ALTER/DROP are silently
    // filtered, and later data written under the altered source shape
    // coerces back TOLERANTLY — FLOAT age into the kept SMALLINT column and
    // BIGINT sukoa into the kept INT column are REFUSED and NULLED
    // (`SchemaMergingUtils.coerceObject:616`, toleranceMode), never
    // truncating-cast.
    "c_conformance_fine_grained" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
      val id = freshId("finegrain")
      registered(id -> src) {
        val db = runPipelineR(s, Seq(id -> src), "EVOLVE",
          sinkExtra = "  include.schema.changes: create.table,add.column,rename.column") {
          (_, drain) =>
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
            drain()
            src.appendDdl(AddColumnEvent(t, Seq(
              AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT(),
                comment = Some("Score data")),
              AddColumnEvent.ColumnWithPosition("height", CdcTypes.DoubleT(),
                comment = Some("Height data")))))
            drain()
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 4, "name" -> "Derrida", "age" -> 20.toShort,
              "score" -> 100, "height" -> 173.25)))
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 5, "name" -> "Eve", "age" -> 21.toShort,
              "score" -> 97, "height" -> 160.0)))
            drain()
            src.appendDdl(RenameColumnEvent(t,
              Map("name" -> "namae", "score" -> "sukoa")))
            drain()
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 6, "namae" -> "Fiona", "age" -> 22.toShort,
              "sukoa" -> 100, "height" -> 173.25)))
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 7, "namae" -> "Gloria", "age" -> 23.toShort,
              "sukoa" -> 97, "height" -> 160.0)))
            drain()
            // unsupported by the sink: filtered, leaves NO trace
            src.appendDdl(AlterColumnTypeEvent(t,
              Map("sukoa" -> CdcTypes.BigIntT(), "age" -> CdcTypes.FloatT())))
            drain()
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 8, "namae" -> "Helen", "age" -> 22.0f,
              "sukoa" -> 100L, "height" -> 173.25)))
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 9, "namae" -> "Iva", "age" -> 23.0f,
              "sukoa" -> 97L, "height" -> 160.0)))
            drain()
            src.appendDdl(DropColumnEvent(t, Seq("sukoa", "height")))
            drain()
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 12, "namae" -> "Jane", "age" -> 11.0f)))
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> 13, "namae" -> "Kryo", "age" -> 23.0f)))
        }
        // sink DDL: only the SUPPORTED types ever reached it
        requireDdlSequence(db, t, Seq(
          "create:id,name,age",
          "add:score,height",
          "rename:name->namae,score->sukoa"))
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.columnNames == Seq("id", "namae", "age", "sukoa", "height") &&
          sch.struct("age").dataType == ShortType &&
          sch.struct("sukoa").dataType == IntegerType,
          s"sink must keep SMALLINT age / INT sukoa (schemaV5E), got $sch")
        // the full stream: rows 8/9 NULL the refused FLOAT->SMALLINT and
        // BIGINT->INT cells; rows 12/13 null-pad the kept columns
        requireEventSequence(db, t, Seq(
          "create:id,name,age",
          "before=[], after=[1, Alice, 17], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 18], op=INSERT, meta=()",
          "before=[], after=[3, Carol, 19], op=INSERT, meta=()",
          "add:score,height",
          "before=[], after=[4, Derrida, 20, 100, 173.25], op=INSERT, meta=()",
          "before=[], after=[5, Eve, 21, 97, 160.0], op=INSERT, meta=()",
          "rename:name->namae,score->sukoa",
          "before=[], after=[6, Fiona, 22, 100, 173.25], op=INSERT, meta=()",
          "before=[], after=[7, Gloria, 23, 97, 160.0], op=INSERT, meta=()",
          "before=[], after=[8, Helen, null, null, 173.25], op=INSERT, meta=()",
          "before=[], after=[9, Iva, null, null, 160.0], op=INSERT, meta=()",
          "before=[], after=[12, Jane, null, null, null], op=INSERT, meta=()",
          "before=[], after=[13, Kryo, null, null, null], op=INSERT, meta=()"))
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // PostTransformOperatorTest.testFromUnixTimeTransform:~940,
    // .testUnixTimestampTransformInBerlin:1010 / InShanghai:1130:
    // FROM_UNIXTIME renders the epoch SECOND through SimpleDateFormat in
    // the PIPELINE zone; UNIX_TIMESTAMP parses in the PIPELINE zone with
    // SDF prefix semantics (trailing text ignored), an explicit offset in
    // the PATTERN overrides the zone, and a parse failure returns the
    // Long.MIN_VALUE sentinel — all pinned across UTC/Berlin/Shanghai.
    "c_conformance_unixtime_functions" -> ((s, _) => {
      import s.implicits._
      def run(zone: String, rows: Seq[(Int, Long, String, String)]): Seq[Row] = {
        val t = TableId.parse("default_schema.tstable")
        val src = new ScriptedChangeSource(t,
          schemaOf("id" -> IntegerType, "secs" -> LongType,
            "dts" -> Str, "fmt" -> Str)("id"), Seq.empty)
        val id = freshId(s"unixts-${zone.replaceAll("[^A-Za-z]", "")}")
        registered(id -> src) {
          val db = runPipeline(s, Seq(id -> src), "EVOLVE",
            extraYaml =
              """transform:
                |  - source-table: default_schema.tstable
                |    projection: "id, FROM_UNIXTIME(secs) AS fut, FROM_UNIXTIME(secs, 'yyyy/MM/dd HH-mm-ss') AS futf, UNIX_TIMESTAMP(dts) AS uts, UNIX_TIMESTAMP(dts, fmt) AS utsf"""".stripMargin,
            pipelineExtra = s"  local-time-zone: $zone") { _ =>
            rows.foreach { case (i, secs, dts, fmt) =>
              src.append(DataChangeEvent.insert(t,
                Map("id" -> i, "secs" -> secs, "dts" -> dts, "fmt" -> fmt)))
            }
          }
          stateDf(s, db, t).collect().toSeq.map(r =>
            Row(zone, r.getInt(0), r.getString(1), r.getString(2),
              r.getLong(3), r.getLong(4)))
        }
      }
      val rows =
        run("UTC", Seq(
          (1, 0L, "1970-01-01 00:00:44", "yyyy-MM-dd HH:mm:ss"),
          (2, 44L, "bogus", "yyyy-MM-dd"))) ++
        run("Europe/Berlin", Seq(
          (1, 44L, "1970-01-01 08:00:01.001", "yyyy-MM-dd HH:mm:ss.SSS"),
          (2, 0L, "1970-01-01 08:00:01.001 +0800", "yyyy-MM-dd HH:mm:ss.SSS X"))) ++
        run("Asia/Shanghai", Seq(
          (1, 44L, "1970-01-01 08:00:01.001", "yyyy-MM-dd HH:mm:ss.SSS"),
          (2, 0L, "1970-01-01 08:00:01.001 +0100", "yyyy-MM-dd HH:mm:ss.SSS X"),
          (3, 0L, "1970-01-01 08:00:01.001", "yyyy-MM-dd HH:mm:ss.SSS X")))
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("zone", StringType), StructField("id", IntegerType),
          StructField("fut", StringType), StructField("futf", StringType),
          StructField("uts", LongType), StructField("utsf", LongType))))
        .orderBy("zone", "id")
    }),

    // UnifiedTransformOperatorTest.testSchemaNullabilityTransform: the
    // transform processor's derived schema marks PRIMARY-KEY columns
    // NOT NULL (nullable source id -> `id` INT NOT NULL post-transform),
    // keeps passthrough columns' declared nullability (name/age stay
    // NOT NULL), and computed columns are nullable.
    "c_conformance_schema_nullability" -> ((s, _) => {
      val t = TableId.parse("default_schema.schema_nullability")
      val src = new ScriptedChangeSource(t,
        TableSchema(
          StructType(Seq(
            StructField("id", IntegerType),
            StructField("name", Str, nullable = false),
            StructField("age", IntegerType, nullable = false))),
          primaryKeys = Seq("id")), Seq.empty)
      val id = freshId("nullab")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.schema_nullability
              |    projection: "id, name, age, id + age as computed"
              |    filter: "id > 100"""".stripMargin) { _ =>
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 1000, "name" -> "Alice", "age" -> 17)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 2000, "name" -> "Bob", "age" -> 18)))
          src.append(DataChangeEvent.update(t,
            Map("id" -> 2000, "name" -> "Bob", "age" -> 18),
            Map("id" -> 2000, "name" -> "Barcarolle", "age" -> 16)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 50, "name" -> "Carol", "age" -> 19))) // filtered
          src.append(DataChangeEvent.delete(t,
            Map("id" -> 1000, "name" -> "Alice", "age" -> 17)))
        }
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(!sch.struct("id").nullable,
          s"pk id must force NOT NULL post-transform, got ${sch.struct("id")}")
        require(!sch.struct("name").nullable && !sch.struct("age").nullable,
          s"passthrough NOT NULL columns keep their declaration, got $sch")
        require(sch.struct("computed").nullable,
          s"computed columns are nullable, got ${sch.struct("computed")}")
        requireEventSequence(db, t, Seq(
          "create:id,name,age,computed",
          "before=[], after=[1000, Alice, 17, 1017], op=INSERT, meta=()",
          "before=[], after=[2000, Bob, 18, 2018], op=INSERT, meta=()",
          "before=[2000, Bob, 18, 2018], after=[2000, Barcarolle, 16, 2016], " +
            "op=UPDATE, meta=()",
          "before=[1000, Alice, 17, 1017], after=[], op=DELETE, meta=()"))
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // PostTransformOperatorTest.testTimestampTransform/.testTimezoneTransform
    // :~880/2020 + SystemFunctionUtils.toTimestamp:131/toDate:123:
    // TO_TIMESTAMP parses through SimpleDateFormat in the PIPELINE zone and
    // reinterprets the epoch millis ZONE-LESS (TimestampData.fromMillis) —
    // so under Asia/Shanghai the result is the parsed instant's UTC wall
    // clock, 8h behind the input string; TO_DATE round-trips instant →
    // local date at the zone, so the string's own date survives any zone.
    // DATE_FORMAT(TO_TIMESTAMP(...)) composes (testTimezoneTransform).
    "c_conformance_to_timestamp" -> ((s, _) => {
      import s.implicits._
      def run(zone: String): Seq[(String, Int, String, String, String, String)] = {
        val t = TableId.parse("default_schema.t2ts")
        val src = new ScriptedChangeSource(t,
          schemaOf("id" -> IntegerType, "v" -> Str)("id"), Seq.empty)
        val id = freshId(s"tots-${zone.replaceAll("[^A-Za-z]", "")}")
        registered(id -> src) {
          val db = runPipeline(s, Seq(id -> src), "EVOLVE",
            extraYaml =
              """transform:
                |  - source-table: default_schema.t2ts
                |    projection: "id, CAST(TO_TIMESTAMP('2024-08-01 00:00:00') AS STRING) AS ts_s, CAST(TO_TIMESTAMP('2024/08/01 12.34.56', 'yyyy/MM/dd HH.mm.ss') AS STRING) AS tsf_s, CAST(TO_DATE('2024-08-01') AS STRING) AS dt_s, DATE_FORMAT(TO_TIMESTAMP('2024-08-01 00:00:00'), 'yyyy-MM-dd HH:mm:ss') AS dfmt"""".stripMargin,
            pipelineExtra = s"  local-time-zone: $zone") { _ =>
            src.append(DataChangeEvent.insert(t, Map("id" -> 1, "v" -> "x")))
          }
          stateDf(s, db, t).collect().toSeq.map(r =>
            (zone, r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
              r.getString(4)))
        }
      }
      (run("UTC") ++ run("Asia/Shanghai"))
        .toDF("zone", "id", "ts_s", "tsf_s", "dt_s", "dfmt").orderBy("zone")
    }),

    // SchemaEvolveTest.testLenientSchemaEvolves:1785-2184 — LENIENT over a
    // source with a NOT-NULL column: a rename of {name NOT NULL, age}
    // derives ADD(namae, toshi) PLUS AlterColumnType(name -> nullable
    // STRING) (`SchemaDerivator.lenientizeRenameColumnEvent:223` — the old
    // name's future values are null and a NOT-NULL sink column would
    // reject them); a later ALTER of renamed columns passes through; the
    // lenient DROP leaves already-nullable columns untouched. Evolved
    // schema = schemaV5E (7 columns, name nullable).
    "c_conformance_lenient_evolves" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        TableSchema(
          StructType(Seq(
            StructField("id", IntegerType),
            StructField("name", Str, nullable = false),
            StructField("age", ShortType))),
          primaryKeys = Seq("id")), Seq.empty)
      val id = freshId("lenevo")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT") { drain =>
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 2, "name" -> "Bob", "age" -> 18.toShort)))
          src.append(DataChangeEvent.insert(t,
            Map("id" -> 3, "name" -> "Carol", "age" -> 19.toShort)))
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT(),
              comment = Some("Score data")),
            AddColumnEvent.ColumnWithPosition("height", CdcTypes.DoubleT(),
              comment = Some("Height data")))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 4, "name" -> "Derrida", "age" -> 20.toShort,
            "score" -> 100, "height" -> 173.25)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 5, "name" -> "Eve", "age" -> 21.toShort,
            "score" -> 97, "height" -> 160.0)))
          drain()
          src.appendDdl(RenameColumnEvent(t, Map("name" -> "namae", "age" -> "toshi")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 6, "namae" -> "Fiona", "toshi" -> 22.toShort,
            "score" -> 100, "height" -> 173.25)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 7, "namae" -> "Gloria", "toshi" -> 23.toShort,
            "score" -> 97, "height" -> 160.0)))
          drain()
          src.appendDdl(AlterColumnTypeEvent(t,
            Map("score" -> CdcTypes.BigIntT(), "toshi" -> CdcTypes.FloatT())))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 8, "namae" -> "Helen", "toshi" -> 22.0f,
            "score" -> 100L, "height" -> 173.25)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 9, "namae" -> "Iva", "toshi" -> 23.0f,
            "score" -> 97L, "height" -> 160.0)))
          drain()
          src.appendDdl(DropColumnEvent(t, Seq("score", "height")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 12, "namae" -> "Jane", "toshi" -> 11.0f)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 13, "namae" -> "Kryo", "toshi" -> 23.0f)))
        }
        requireEventSequence(db, t, Seq(
          "create:id,name,age",
          "before=[], after=[1, Alice, 17], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 18], op=INSERT, meta=()",
          "before=[], after=[3, Carol, 19], op=INSERT, meta=()",
          "add:score,height",
          "before=[], after=[4, Derrida, 20, 100, 173.25], op=INSERT, meta=()",
          "before=[], after=[5, Eve, 21, 97, 160.0], op=INSERT, meta=()",
          "add:namae,toshi",
          "alter:name->string",
          "before=[], after=[6, null, null, 100, 173.25, Fiona, 22], op=INSERT, meta=()",
          "before=[], after=[7, null, null, 97, 160.0, Gloria, 23], op=INSERT, meta=()",
          "alter:score->bigint,toshi->float",
          "before=[], after=[8, null, null, 100, 173.25, Helen, 22.0], op=INSERT, meta=()",
          "before=[], after=[9, null, null, 97, 160.0, Iva, 23.0], op=INSERT, meta=()",
          "before=[], after=[12, null, null, null, null, Jane, 11.0], op=INSERT, meta=()",
          "before=[], after=[13, null, null, null, null, Kryo, 23.0], op=INSERT, meta=()"))
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.columnNames ==
          Seq("id", "name", "age", "score", "height", "namae", "toshi"),
          s"evolved shape per schemaV5E, got ${sch.columnNames}")
        require(sch.struct("name").nullable,
          "lenient rename must nullable-ize the NOT-NULL old column " +
            s"(lenientizeRenameColumnEvent:240), got ${sch.struct("name")}")
        require(sch.struct("score").dataType == LongType &&
          sch.struct("toshi").dataType == FloatType,
          s"alters of renamed/added columns pass through, got $sch")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // SchemaEvolveTest.testLenientEvolveTweaks:2185-2560 — the lenient
    // tweak corners: DROPPING a NOT-NULL column derives ONLY the
    // nullable-izing AlterColumnType (`lenientizeDropColumnEvent:259`);
    // ADDING a NOT-NULL column mid-schema lands LAST and NULLABLE;
    // RENAMING a NOT-NULL column derives ADD(new, nullable) + Alter(old ->
    // nullable). Re-used pks (12/13) upsert-overwrite across stages.
    "c_conformance_lenient_tweaks" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        TableSchema(
          StructType(Seq(
            StructField("id", IntegerType),
            StructField("iina", IntegerType, nullable = false),
            StructField("name", Str, nullable = false),
            StructField("age", ShortType))),
          primaryKeys = Seq("id")), Seq.empty)
      val id = freshId("lentweak")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT") { drain =>
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 1, "iina" -> 0, "name" -> "Alice", "age" -> 17.toShort)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 2, "iina" -> 0, "name" -> "Bob", "age" -> 18.toShort)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 3, "iina" -> 0, "name" -> "Carol", "age" -> 19.toShort)))
          drain()
          // drop a NOT-NULL column
          src.appendDdl(DropColumnEvent(t, Seq("name")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 12, "iina" -> 0, "age" -> 11.toShort)))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 13, "iina" -> 0, "age" -> 23.toShort)))
          drain()
          // insert a nullable column MID-schema + a NOT-NULL column LAST
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("nickname", CdcTypes.StringT(),
              AddColumnEvent.After("id")),
            AddColumnEvent.ColumnWithPosition("extra", CdcTypes.StringT(nullable = false)))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 12, "nickname" -> "Alice", "iina" -> 0,
            "age" -> 11.toShort, "extra" -> "ailisi")))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 13, "nickname" -> "Bob", "iina" -> 0,
            "age" -> 23.toShort, "extra" -> "baobo")))
          drain()
          // rename a NOT-NULL column
          src.appendDdl(RenameColumnEvent(t, Map("iina" -> "yina")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 41, "nickname" -> "Carol", "yina" -> 0,
            "age" -> 11.toShort, "extra" -> "kaluo")))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 42, "nickname" -> "Dorothy", "yina" -> 0,
            "age" -> 11.toShort, "extra" -> "duoluoxi")))
        }
        requireEventSequence(db, t, Seq(
          "create:id,iina,name,age",
          "before=[], after=[1, 0, Alice, 17], op=INSERT, meta=()",
          "before=[], after=[2, 0, Bob, 18], op=INSERT, meta=()",
          "before=[], after=[3, 0, Carol, 19], op=INSERT, meta=()",
          "alter:name->string",
          "before=[], after=[12, 0, null, 11], op=INSERT, meta=()",
          "before=[], after=[13, 0, null, 23], op=INSERT, meta=()",
          "add:nickname,extra",
          "before=[], after=[12, 0, null, 11, Alice, ailisi], op=INSERT, meta=()",
          "before=[], after=[13, 0, null, 23, Bob, baobo], op=INSERT, meta=()",
          "add:yina",
          "alter:iina->int",
          "before=[], after=[41, null, null, 11, Carol, kaluo, 0], op=INSERT, meta=()",
          "before=[], after=[42, null, null, 11, Dorothy, duoluoxi, 0], op=INSERT, meta=()"))
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.columnNames ==
          Seq("id", "iina", "name", "age", "nickname", "extra", "yina"),
          s"evolved shape per schemaV4E, got ${sch.columnNames}")
        require(sch.struct("name").nullable && sch.struct("iina").nullable &&
          sch.struct("extra").nullable,
          s"dropped/renamed NOT-NULL columns and lenient adds are nullable, got $sch")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // SchemaEvolveTest.testEvolveSchemaWithFailure:1023 — the SAME refusal
    // under EVOLVE faults the pipeline instead of degrading.
    "c_conformance_evolve_failure" -> ((s, _) => {
      val t = TableId.parse("default_schema.customers")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> ShortType)("id"), Seq.empty)
      val id = freshId("evofail")
      var faulted: Option[Throwable] = None
      registered(id -> src) {
        try {
          runPipelineR(s, Seq(id -> src), "EVOLVE",
            sinkExtra = "  reject.ddl: ALTER_COLUMN_TYPE") { (_, drain) =>
            src.append(DataChangeEvent.insert(t,
              Map("id" -> 1, "name" -> "Alice", "age" -> 17.toShort)))
            drain()
            src.appendDdl(AlterColumnTypeEvent(t, Map("age" -> CdcTypes.IntT())))
            try drain()
            catch { case e: Throwable => faulted = Some(e); throw e }
          }
          sys.error("EVOLVE must fault when the sink refuses the change")
        } catch { case _: Throwable if faulted.isDefined => () }
        def cites(e: Throwable): Boolean =
          (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists(c => String.valueOf(c.getMessage).contains("ALTER_COLUMN_TYPE")))
        require(faulted.exists(cites),
          s"fault must cite the refused ALTER_COLUMN_TYPE, got $faulted")
        import s.implicits._
        Seq(("EVOLVE", true)).toDF("behavior", "faulted")
      }
    }),

    // SchemaEvolveTest.testTryEvolveSchema:355: with a COOPERATING sink,
    // TRY_EVOLVE evolves exactly like EVOLVE (the behaviors differ only in
    // whether a sink REJECTION faults or degrades) — the five-stage script
    // derives the same event sequence as the EVOLVE twin.
    "c_conformance_try_evolve_behavior" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("tryevo")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "TRY_EVOLVE") { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        requireDdlSequence(db, t, Seq(
          "create:id,name,age",
          "add:rank FIRST,gender",
          "alter:age->double,gender->int,name->string",
          "rename:age->toshi,gender->biological_sex",
          "drop:biological_sex,toshi"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name")),
          s"TRY_EVOLVE with a cooperating sink must equal EVOLVE, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testTransform:347: computed col12 +
    // filter under default-LENIENT over the evolving TRANSFORM_TABLE script —
    // asserts the full event sequence (:389-399): key 3 filtered, lenient
    // adds LAST, post-rename images null col2/col3/newCol2 with col12
    // computed per image.
    "c_conformance_lenient_transform" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("ltrans")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, concat(col1,'0') as col12"
              |    filter: "col1 <> '3'"
              |    primary-keys: col1
              |    partition-keys: col12
              |    table-options: key1=value1""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        requireEventSequence(db, t, Seq(
          "create:col1,col2,col12",
          "before=[], after=[1, 1, 10], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, 20], op=INSERT, meta=({op_ts=2})",
          "add:col3",
          "add:newCol2,newCol3",
          "before=[1, null, 10, null, null, 1], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, null, 20, null, null, ], after=[2, null, 20, null, null, x], " +
            "op=UPDATE, meta=({op_ts=5})"))
        require(db.schemaOf(t).exists(sch =>
          sch.partitionKeys == Seq("col12") && sch.options.get("key1").contains("value1")),
          s"lenient transform pk/partition/options per ITCase:389, got ${db.schemaOf(t)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineComposerLenientITCase.testTransformTwice:469: TWO
    // dispatching rules on one table (different computed col12 per filter;
    // only the FIRST declares pk/partition/options), default-LENIENT, over
    // the evolving script — key 3 matches neither filter; key 1's delete
    // dispatches through rule 1; final state is rule 2's updated row.
    "c_conformance_lenient_transform_twice" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("twice")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "LENIENT",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, concat(col1,'1') as col12"
              |    filter: "col1 = '1' OR col1 = '999'"
              |    primary-keys: col1
              |    partition-keys: col12
              |    table-options: key1=value1
              |  - source-table: default_schema.table1
              |    projection: "*, concat(col1,'2') as col12"
              |    filter: "col1 = '2'"""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain)
        }
        requireDdlSequence(db, t, Seq(
          "create:col1,col2,col12",
          "add:col3",
          "add:newCol2,newCol3"))
        require(db.schemaOf(t).exists(sch =>
          sch.columnNames == Seq("col1", "col2", "col12", "col3", "newCol2", "newCol3") &&
            sch.partitionKeys == Seq("col12") &&
            sch.options.get("key1").contains("value1")),
          s"transform-twice shape per ITCase:521, got ${db.schemaOf(t)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testSingleSplitSingleTableInBatchMode
    // :182: `execution.runtime-mode: BATCH` — one bounded materialization of
    // the snapshot, no log phase.
    "c_conformance_batch_single_table" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"),
        Seq("1", "2", "3").map(k => Map[String, Any]("col1" -> k, "col2" -> k)))
      val id = freshId("batch1")
      registered(id -> src) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |sink:
             |  type: values
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch()
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testTransformInBatchMode:348: batch
    // mode + transform (computed col12, filter drops key 3, pk col1,
    // PARTITION-KEYS col12, table-options).
    "c_conformance_batch_transform" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t = TableId.parse("default_schema.table1")
      // the TRANSFORM_BATCH_TABLE fixture stamps op_ts per insert
      // (ValuesDataSourceHelper:1034-1100); appended (not constructor) rows
      // keep the stamped metadata for the bounded snapshot replay
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"),
        Seq.empty)
      Seq("1", "2", "3").foreach(k => src.append(
        DataChangeEvent.insert(t, Map("col1" -> k, "col2" -> k))
          .copy(meta = Map("op_ts" -> k))))
      val id = freshId("batch2")
      registered(id -> src) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |sink:
             |  type: values
             |  record.events: true
             |transform:
             |  - source-table: default_schema.table1
             |    projection: "*, concat(col1,'0') as col12"
             |    filter: "col1 <> '3'"
             |    primary-keys: col1
             |    partition-keys: col12
             |    table-options: key1=value1
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch()
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        require(db.schemaOf(t).exists(sch =>
          sch.columnNames == Seq("col1", "col2", "col12") &&
            sch.partitionKeys == Seq("col12") &&
            sch.options.get("key1").contains("value1")),
          s"batch transform shape per ITCase:392, got ${db.schemaOf(t)}")
        // the reference's full batch event stream (:399-404): key 3 filtered,
        // op_ts metadata riding the bounded replay
        requireEventSequence(db, t, Seq(
          "create:col1,col2,col12",
          "before=[], after=[1, 1, 10], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, 20], op=INSERT, meta=({op_ts=2})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testSingleSplitSingleTableInStreamingMode
    // :126-180: the BOUNDED batch fixture through the STREAMING runtime —
    // mode orthogonality: the same 3-insert event set produces the identical
    // event stream whether executed bounded or micro-batch.
    "c_conformance_batch_streaming_mode" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("bstream")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE") { _ =>
          Seq("1", "2", "3").foreach(k => src.append(
            DataChangeEvent.insert(t, Map("col1" -> k, "col2" -> k))))
        }
        requireEventSequence(db, t, Seq(
          "create:col1,col2",
          "before=[], after=[1, 1], op=INSERT, meta=()",
          "before=[], after=[2, 2], op=INSERT, meta=()",
          "before=[], after=[3, 3], op=INSERT, meta=()"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testMultiSplitsSingleTableInBatchMode
    // :302-345: one bounded table split into MULTIPLE chunks (parallelism 4,
    // one split empty in the fixture) — every chunk's rows land exactly once.
    "c_conformance_batch_multi_splits" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"),
        (1 to 6).map(k => Map[String, Any]("col1" -> k.toString, "col2" -> k.toString)))
      val id = freshId("bsplits")
      registered(id -> src) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |  chunk.size: 2
             |sink:
             |  type: values
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch()
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        val rows = db.rowsOf(t)
        require(rows.size == 6, s"all 6 rows across 3 chunks must land once, got ${rows.size}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testTwoTransformInBatchMode:406-557:
    // two rules on DIFFERENT tables under BATCH — each sink create carries
    // its own rule's appended literal column; full event streams asserted.
    "c_conformance_batch_two_transform" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"),
        Seq(
          Map[String, Any]("id" -> 1, "name" -> "Alice", "age" -> 18),
          Map[String, Any]("id" -> 2, "name" -> "Bob", "age" -> 20)))
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "description" -> Str)("id"),
        Seq(
          Map[String, Any]("id" -> 3L, "name" -> "Charlie", "description" -> "student"),
          Map[String, Any]("id" -> 4L, "name" -> "Donald", "description" -> "student")))
      val (id1, id2) = (freshId("btwo1"), freshId("btwo2"))
      registered(id1 -> src1, id2 -> src2) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |transform:
             |  - source-table: default_schema.mytable1
             |    projection: "*,'last_name' as last_name"
             |  - source-table: default_schema.mytable2
             |    projection: "*,'new_address' as new_address"
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        requireEventSequence(db, t1, Seq(
          "create:id,name,age,last_name",
          "before=[], after=[1, Alice, 18, last_name], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20, last_name], op=INSERT, meta=()"))
        requireEventSequence(db, t2, Seq(
          "create:id,name,description,new_address",
          "before=[], after=[3, Charlie, student, new_address], op=INSERT, meta=()",
          "before=[], after=[4, Donald, student, new_address], op=INSERT, meta=()"))
        import s.implicits._
        (stateDf(s, db, t1).collect().toSeq.map(r =>
          ("mytable1", r.getInt(0).toLong, r.getString(1), r.getString(3))) ++
          stateDf(s, db, t2).collect().toSeq.map(r =>
            ("mytable2", r.getLong(0), r.getString(1), r.getString(3))))
          .toDF("tbl", "id", "name", "extra").orderBy("id")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testOpTypeMetadataColumnInBatchMode
    // :560-616: `__data_event_type__ AS rk` renders +I for bounded inserts
    // and the source-metadata column `op_ts AS opts` types BIGINT per the
    // SupportedMetadataColumn contract (`OpTsMetadataColumn`) — both ride
    // the batch STATIC create (partition keys + options intact).
    "c_conformance_batch_optype_metadata" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"),
        Seq.empty)
      Seq("1", "2", "3").foreach(k => src.append(
        DataChangeEvent.insert(t, Map("col1" -> k, "col2" -> k))
          .copy(meta = Map("op_ts" -> k))))
      val id = freshId("boptype")
      registered(id -> src) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |sink:
             |  type: values
             |  record.events: true
             |transform:
             |  - source-table: default_schema.table1
             |    projection: "*, concat(col1,'0') as col12, __data_event_type__ as rk, `op_ts` as opts"
             |    filter: "col1 <> '3'"
             |    primary-keys: col1
             |    partition-keys: col12
             |    table-options: key1=value1
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch()
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        val sch = db.schemaOf(t).getOrElse(sys.error(s"sink table $t missing"))
        require(sch.columnNames == Seq("col1", "col2", "col12", "rk", "opts") &&
          sch.partitionKeys == Seq("col12") && sch.options.get("key1").contains("value1"),
          s"batch optype shape per ITCase:611, got $sch")
        require(sch.struct("opts").dataType == LongType,
          s"opts must type BIGINT per OpTsMetadataColumn, got ${sch.struct("opts").dataType}")
        requireEventSequence(db, t, Seq(
          "create:col1,col2,col12,rk,opts",
          "before=[], after=[1, 1, 10, +I, 1], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, 20, +I, 2], op=INSERT, meta=({op_ts=2})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testOneToOneRoutingInBatchMode
    // :685-757: two bounded tables each route to a RENAMED sink table; the
    // routed creates and inserts are byte-identical minus the table id.
    "c_conformance_batch_route_one_to_one" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val r1 = TableId.parse("default_schema.routed1")
      val r2 = TableId.parse("default_schema.routed2")
      val rows3 = Seq("1", "2", "3").map(k => Map[String, Any]("col1" -> k, "col2" -> k))
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val (id1, id2) = (freshId("broute1"), freshId("broute2"))
      registered(id1 -> src1, id2 -> src2) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |route:
             |  - source-table: default_schema.table1
             |    sink-table: default_schema.routed1
             |  - source-table: default_schema.table2
             |    sink-table: default_schema.routed2
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        Seq(r1, r2).foreach { t =>
          requireEventSequence(db, t, Seq(
            "create:col1,col2",
            "before=[], after=[1, 1], op=INSERT, meta=()",
            "before=[], after=[2, 2], op=INSERT, meta=()",
            "before=[], after=[3, 3], op=INSERT, meta=()"))
        }
        import s.implicits._
        (stateDf(s, db, r1).collect().toSeq.map(r => ("routed1", r.getString(0), r.getString(1))) ++
          stateDf(s, db, r2).collect().toSeq.map(r => ("routed2", r.getString(0), r.getString(1))))
          .toDF("tbl", "col1", "col2").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testIdenticalOneToOneRoutingInBatchMode
    // :758-830: routes whose sink id EQUALS the source id are per-table
    // no-ops under BATCH — identical to the unrouted run.
    "c_conformance_batch_route_identical" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val rows3 = Seq("1", "2", "3").map(k => Map[String, Any]("col1" -> k, "col2" -> k))
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val (id1, id2) = (freshId("bident1"), freshId("bident2"))
      registered(id1 -> src1, id2 -> src2) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |route:
             |  - source-table: default_schema.table1
             |    sink-table: default_schema.table1
             |  - source-table: default_schema.table2
             |    sink-table: default_schema.table2
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        Seq(t1, t2).foreach { t =>
          requireEventSequence(db, t, Seq(
            "create:col1,col2",
            "before=[], after=[1, 1], op=INSERT, meta=()",
            "before=[], after=[2, 2], op=INSERT, meta=()",
            "before=[], after=[3, 3], op=INSERT, meta=()"))
        }
        import s.implicits._
        (stateDf(s, db, t1).collect().toSeq.map(r => ("table1", r.getString(0), r.getString(1))) ++
          stateDf(s, db, t2).collect().toSeq.map(r => ("table2", r.getString(0), r.getString(1))))
          .toDF("tbl", "col1", "col2").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testSingleSplitMultipleTablesInBatchMode
    // :237: two bounded tables through one BATCH pass — each keeps its own
    // create + insert stream (:283-296).
    "c_conformance_batch_multi_tables" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.table1")
      val t2 = TableId.parse("default_schema.table2")
      val rows3 = Seq("1", "2", "3").map(k => Map[String, Any]("col1" -> k, "col2" -> k))
      val src1 = new ScriptedChangeSource(t1, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val src2 = new ScriptedChangeSource(t2, schemaOf("col1" -> Str, "col2" -> Str)("col1"), rows3)
      val (id1, id2) = (freshId("bmulti1"), freshId("bmulti2"))
      registered(id1 -> src1, id2 -> src2) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        Seq(t1, t2).foreach { t =>
          requireEventSequence(db, t, Seq(
            s"create:col1,col2",
            "before=[], after=[1, 1], op=INSERT, meta=()",
            "before=[], after=[2, 2], op=INSERT, meta=()",
            "before=[], after=[3, 3], op=INSERT, meta=()"))
        }
        import s.implicits._
        (stateDf(s, db, t1).collect().toSeq.map(r => ("table1", r.getString(0), r.getString(1))) ++
          stateDf(s, db, t2).collect().toSeq.map(r => ("table2", r.getString(0), r.getString(1))))
          .toDF("tbl", "col1", "col2").orderBy("tbl", "col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testTransformTwiceInBatchMode:618: the
    // two-rule first-match dispatch under BATCH — rule 1 takes key 1 (and
    // declares pk/partition/options), rule 2 takes key 2, key 3 matches
    // neither and drops (:666-673). Bounded reads are table READS, not log
    // records, so connector metadata is absent here (the reference's values
    // fixture replays op_ts-stamped events; graft's batch source snapshots
    // state — `GraftCdcSource`'s documented model).
    "c_conformance_batch_transform_twice" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"),
        Seq("1", "2", "3").map(k => Map[String, Any]("col1" -> k, "col2" -> k)))
      val id = freshId("btwice")
      registered(id -> src) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |sink:
             |  type: values
             |  record.events: true
             |transform:
             |  - source-table: default_schema.table1
             |    projection: "*,concat(col1,'1') as col12"
             |    filter: "col1 = '1' OR col1 = '999'"
             |    primary-keys: col1
             |    partition-keys: col12
             |    table-options: key1=value1
             |  - source-table: default_schema.table1
             |    projection: "*,concat(col1,'2') as col12"
             |    filter: "col1 = '2'"
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch()
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        requireEventSequence(db, t, Seq(
          "create:col1,col2,col12",
          "before=[], after=[1, 1, 11], op=INSERT, meta=()",
          "before=[], after=[2, 2, 22], op=INSERT, meta=()"))
        require(db.schemaOf(t).exists(sch =>
          sch.partitionKeys == Seq("col12") && sch.options.get("key1").contains("value1")),
          s"batch transform-twice pk/partition/options per ITCase:664, got ${db.schemaOf(t)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testMergingWithRouteInBatchMode:831:
    // BATCH route-merge derives the sink schema STATICALLY — one
    // CreateTableEvent with the fully-merged (id BIGINT, name, age INT,
    // description) schema, never create-then-widenings (:949-956); mytable1's
    // rows pad description null.
    "c_conformance_batch_merge_route" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"),
        Seq(
          Map[String, Any]("id" -> 1, "name" -> "Alice", "age" -> 18),
          Map[String, Any]("id" -> 2, "name" -> "Bob", "age" -> 20)))
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq(
          Map[String, Any]("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte,
            "description" -> "student"),
          Map[String, Any]("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte,
            "description" -> "student")))
      val (id1, id2) = (freshId("bmerge1"), freshId("bmerge2"))
      registered(id1 -> src1, id2 -> src2) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |route:
             |  - source-table: default_schema.mytable\\.*
             |    sink-table: default_schema.merged
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        val merged = TableId.parse("default_schema.merged")
        requireEventSequence(db, merged, Seq(
          "create:id,name,age,description",
          "before=[], after=[1, Alice, 18, null], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20, null], op=INSERT, meta=()",
          "before=[], after=[3, Charlie, 15, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, student], op=INSERT, meta=()"))
        stateDf(s, db, merged).orderBy("id")
      }
    }),

    // FlinkPipelineBatchComposerITCase.testTransformMergingWithRoute:958:
    // transform (`*,'last_name' as last_name` on mytable[0-9]) + route-merge
    // under BATCH, with an UNMATCHED third table riding the same pass — the
    // merged create is the static union WITH the computed column
    // (id BIGINT, name, age, last_name, description, :1131-1140), and
    // mytable_other passes through untransformed.
    "c_conformance_batch_transform_merge" -> ((s, _) => {
      implicit val spark: SparkSession = s
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      val tOther = TableId.parse("default_schema.mytable_other")
      val src1 = new ScriptedChangeSource(t1,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"),
        Seq(
          Map[String, Any]("id" -> 1, "name" -> "Alice", "age" -> 18),
          Map[String, Any]("id" -> 2, "name" -> "Bob", "age" -> 20)))
      val src2 = new ScriptedChangeSource(t2,
        schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
        Seq(
          Map[String, Any]("id" -> 3L, "name" -> "Charlie", "age" -> 15.toByte,
            "description" -> "student"),
          Map[String, Any]("id" -> 4L, "name" -> "Donald", "age" -> 25.toByte,
            "description" -> "student")))
      val srcOther = new ScriptedChangeSource(tOther,
        schemaOf("id" -> IntegerType, "name" -> Str, "address" -> Str)("id"),
        Seq(
          Map[String, Any]("id" -> 5, "name" -> "E", "address" -> "Beijing"),
          Map[String, Any]("id" -> 6, "name" -> "F", "address" -> "Hangzhou")))
      val (id1, id2, idO) = (freshId("btm1"), freshId("btm2"), freshId("btmo"))
      registered(id1 -> src1, id2 -> src2, idO -> srcOther) {
        val runner = new PipelineRunner(YamlPipelineParser.parse(
          s"""source:
             |  type: cdc
             |  sourceId: $id1
             |sink:
             |  type: values
             |  record.events: true
             |transform:
             |  - source-table: default_schema.mytable[0-9]
             |    projection: "*,'last_name' as last_name"
             |route:
             |  - source-table: default_schema.mytable[0-9]
             |    sink-table: default_schema.merged
             |pipeline:
             |  execution.runtime-mode: BATCH
             |""".stripMargin))
        runner.runBatch(extraSourceIds = Seq(id2, idO))
        val db = runner.sink.asInstanceOf[MemoryDatabase]
        val merged = TableId.parse("default_schema.merged")
        requireEventSequence(db, merged, Seq(
          "create:id,name,age,last_name,description",
          "before=[], after=[1, Alice, 18, last_name, null], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 20, last_name, null], op=INSERT, meta=()",
          "before=[], after=[3, Charlie, 15, last_name, student], op=INSERT, meta=()",
          "before=[], after=[4, Donald, 25, last_name, student], op=INSERT, meta=()"))
        requireEventSequence(db, tOther, Seq(
          "create:id,name,address",
          "before=[], after=[5, E, Beijing], op=INSERT, meta=()",
          "before=[], after=[6, F, Hangzhou], op=INSERT, meta=()"))
        import s.implicits._
        (stateDf(s, db, merged).collect().toSeq.map(r =>
          ("merged", r.getLong(0), r.getString(1), String.valueOf(r.getInt(2)),
            r.getString(3), r.getString(4))) ++
          stateDf(s, db, tOther).collect().toSeq.map(r =>
            ("mytable_other", r.getInt(0).toLong, r.getString(1), null: String,
              null: String, r.getString(2))))
          .toDF("tbl", "id", "name", "age", "last_name", "extra").orderBy("id")
      }
    }),

    // FlinkParallelizedPipelineITCase
    // .testDistributedTablesSourceInSingleParallelismWithLenientBehavior:162
    // — the DistributedSourceFunction fixture (:149-290): 4 tables, each
    // created as (id STRING pk) + 10 seeded inserts, then for each of the 16
    // dummy types an ADD `col_<type>` + full-row insert followed by an ADD
    // `subtask_0_col_<type>` + full-row insert. Asserts the EXACT interleaved
    // 33-column order the ITCase pins (:168-215) and the dummy VALUE
    // renderings of its expectedTokens (:925-945; iota ids adapt to numeric
    // strings — the scripted source keys on a numeric pk — preserving the
    // fixture's every-(subtask,seq)-exactly-once integrity intent; scaled
    // to 2 of the fixture's 4 identical tables — each table restarts the
    // stream 33 times through the park/evolve/ack loop, and the per-table
    // assertions are independent).
    "c_conformance_parallelized_single" -> ((s, _) => {
      val tables = (0 until 2).map(i => TableId.parse(s"default_database.table_$i"))
      val srcs = tables.map(t => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = tables.indices.map(i => freshId(s"par1t$i"))
      registered(ids.zip(srcs): _*) {
        var iota = -1
        def nextId(): String = { iota += 1; String.valueOf(iota) }
        val db = runPipeline(s, ids.zip(srcs), "LENIENT") { drain =>
          // initial stage: 10 seeded inserts per table, fixture order 0..3
          srcs.zip(tables).foreach { case (src, t) =>
            (0 until 10).foreach { _ =>
              src.append(DataChangeEvent.insert(t, Map("id" -> nextId())))
            }
          }
          drain()
          // 16 type stages × (shared col, then subtask_0 col), each add
          // followed by a full-row insert — the park/evolve/ack loop applies
          // every DDL at its own batch boundary within one drain
          parallelizedTypes.foreach { case (typeName, cdcT, _) =>
            Seq(s"col_$typeName", s"subtask_0_col_$typeName").foreach { colName =>
              srcs.zip(tables).foreach { case (src, t) =>
                src.appendDdl(AddColumnEvent(t,
                  Seq(AddColumnEvent.ColumnWithPosition(colName, cdcT))))
                val vals: Map[String, Any] =
                  src.schema.struct.fieldNames.toSeq.map {
                    case "id" => "id" -> (nextId(): Any)
                    case c => c -> parallelizedValueOf(c)
                  }.toMap
                src.append(DataChangeEvent.insert(t, vals))
              }
            }
            drain()
          }
        }
        // the ITCase's pinned interleaved order: id, then col_X followed by
        // subtask_0_col_X per type in fixture declaration order
        val expectedCols = "id" +: parallelizedTypes.flatMap { case (n, _, _) =>
          Seq(s"col_$n", s"subtask_0_col_$n") }
        tables.foreach { t =>
          val got = db.schemaOf(t).map(_.columnNames).getOrElse(Seq.empty)
          require(got == expectedCols,
            s"parallelized single column order for $t:\n  got      $got\n  expected $expectedCols")
        }
        import s.implicits._
        tables.zipWithIndex.map { case (t, i) =>
          val rows = db.rowsOf(t)
          val full = rows.filter(_.forall(_ != null))
          // exactly one row carries every column: the final stage's insert
          require(full.size == 1, s"$t: expected 1 fully-populated row, got ${full.size}")
          val colNames = db.schemaOf(t).get.columnNames.drop(1)
          (s"table_$i", rows.size.toLong,
            full.head.drop(1).zip(colNames)
              .map { case (v, c) => renderParallelizedValue(c, v) }.mkString("|"))
        }.toDF("tbl", "n_rows", "full_row").orderBy("tbl")
      }
    }),

    // FlinkParallelizedPipelineITCase
    // .testDistributedTablesSourceInMultipleParallelismWithLenientBehavior
    // :230 — four PARTITIONS observe the SAME tables and evolve them
    // independently (each adds its own `subtask_<k>_col_<type>` columns, in a
    // per-partition order — the reference shuffles; a deterministic
    // per-subtask rotation stands in). Driven through the DISTRIBUTED schema
    // variant ([[graft.pipeline.DistributedSchemaReducer]]): per batch the
    // driver reduces the partitions' observed schemas to the least common
    // schema, derives the sink diff, applies it, then coerces and writes each
    // partition's rows — the micro-batch form of the reference's
    // SchemaCoordinator#handleReduceSchemaRequest. Asserts the ITCase's
    // order-INsensitive 81-column union (:243-910) and its
    // every-(subtask,seq)-present token-count integrity (:911-954), scaled
    // to 2 tables.
    "c_conformance_parallelized_multi" -> ((s, _) => {
      import graft.pipeline.DistributedSchemaReducer
      import DistributedSchemaReducer.PartitionSchemaReport
      val nSubtasks = 4
      val tables = (0 until 2).map(i => TableId.parse(s"default_database.table_$i"))
      val idSchema = TableSchema(
        StructType(Seq(StructField("id", StringType))),
        primaryKeys = Seq("id"), partitionKeys = Seq("id"))
      val db = new MemoryDatabase(recordEvents = true)
      val known = new SchemaManager
      // per-partition live schema per table (each partition's own view)
      val partSchemas = Array.fill(nSubtasks)(
        scala.collection.mutable.Map(tables.map(_ -> idSchema): _*))
      // stage rows accumulated per partition per table, flushed per batch
      def flushBatch(rowsOf: (Int, TableId) => Seq[Map[String, Any]]): Unit = {
        val reports = for {
          k <- 0 until nSubtasks; t <- tables
        } yield PartitionSchemaReport(k, t, partSchemas(k)(t))
        val events = DistributedSchemaReducer.deriveEvents(known, reports)
        events.foreach { e => known.applySchemaChange(e); db.applySchemaChange(e) }
        tables.foreach { t =>
          val evolved = known.latest(t).get
          val rows = (0 until nSubtasks).flatMap(k => rowsOf(k, t))
          if (rows.nonEmpty) {
            val data = rows.map(m => Row.fromSeq(
              evolved.struct.fieldNames.toSeq.map(c => m.getOrElse(c, null))))
            val df = s.createDataFrame(
              new java.util.ArrayList[Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
              StructType(evolved.struct.fields.map(_.copy(nullable = true))))
            val noDeletes = s.createDataFrame(
              new java.util.ArrayList[Row](),
              StructType(Seq(StructField("id", StringType))))
            db.writeBatch(t, df, noDeletes)
          }
        }
      }
      val iotas = Array.fill(nSubtasks)(-1)
      def nextId(k: Int): String = { iotas(k) += 1; s"${k}000${iotas(k)}" }
      // initial batch: every partition announces (id) and seeds 10 rows/table
      flushBatch((k, t) => (0 until 10).map(_ => Map("id" -> nextId(k))))
      // each partition works the 16 types in its OWN order (rotation by k)
      val perPart = (0 until nSubtasks).map(k =>
        parallelizedTypes.drop(k) ++ parallelizedTypes.take(k))
      (0 until parallelizedTypes.size).foreach { stage =>
        Seq(false, true).foreach { subtaskCol =>
          // every partition adds its stage column to ITS schema view...
          (0 until nSubtasks).foreach { k =>
            val (typeName, cdcT, _) = perPart(k)(stage)
            val colName =
              if (subtaskCol) s"subtask_${k}_col_$typeName" else s"col_$typeName"
            tables.foreach { t =>
              val cur = partSchemas(k)(t)
              if (!cur.struct.fieldNames.contains(colName))
                partSchemas(k)(t) = TableSchema(
                  StructType(cur.struct.fields :+
                    StructField(colName, cdcT.toSpark)),
                  primaryKeys = cur.primaryKeys,
                  partitionKeys = cur.partitionKeys)
            }
          }
          // ...then writes one full row under its OWN view
          flushBatch((k, t) => Seq(
            partSchemas(k)(t).struct.fieldNames.toSeq.map {
              case "id" => "id" -> (nextId(k): Any)
              case c => c -> parallelizedValueOf(c)
            }.toMap))
        }
      }
      // the ITCase's union assertion, order-insensitive (:243-910)
      val expectedCols = ("id" +: parallelizedTypes.flatMap { case (n, _, _) =>
        s"col_$n" +: (0 until nSubtasks).map(k => s"subtask_${k}_col_$n")
      }).toSet
      tables.foreach { t =>
        val got = db.schemaOf(t).map(_.columnNames.toSet).getOrElse(Set.empty)
        require(got == expectedCols,
          s"parallelized multi column UNION for $t: missing ${expectedCols -- got}, " +
            s"extra ${got -- expectedCols}")
      }
      // token-count integrity (:925-954): every dummy value appears at least
      // tables × parallelism times; every (subtask, seq) id exactly once
      import s.implicits._
      tables.zipWithIndex.map { case (t, i) =>
        val rows = db.rowsOf(t)
        val ids = rows.map(_.head.asInstanceOf[String])
        require(ids.distinct.size == ids.size, s"$t: duplicate iota ids")
        val perSubtask = ids.groupBy(_.take(1)).view.mapValues(_.size).toMap
        require((0 until nSubtasks).forall(k => perSubtask.getOrElse(k.toString, 0) > 0),
          s"$t: some partition contributed no rows: $perSubtask")
        (s"table_$i", rows.size.toLong, ids.map(_.toLong).max)
      }.toDF("tbl", "n_rows", "max_iota").orderBy("tbl")
    }),

    // FlinkParallelizedPipelineITCase
    // .testDistributedTablesSourceInMultipleParallelismWithLenientBehavior
    // :230-407, through the REAL STREAMING RUNNER at parallelism 2
    // ([[PipelineRunner.runDistributed]]): two PARTITIONS of the same table
    // run as independent checkpointed streams, each evolving its own schema
    // view in its OWN rotated order; a parked partition DDL updates only
    // that partition's view and the sink evolves by the coordinator-style
    // least-common-schema REDUCE — this executes the full park/reduce/
    // evolve/ack/restart loop per partition, not the reducer component in
    // isolation. Asserts the ITCase's order-insensitive column UNION and
    // that every partition's rows landed null-padded to the union.
    "c_conformance_distributed_runner_multi" -> ((s, _) => {
      val nParts = 2
      val t = TableId.parse("default_namespace.default_database.table_0")
      val srcs = (0 until nParts).map(_ => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until nParts).map(k => freshId(s"distrun$k"))
      val iotas = Array.fill(nParts)(-1)
      def nextId(k: Int): String = { iotas(k) += 1; s"${(k + 1) * 100000 + iotas(k)}" }
      registered(ids.zip(srcs): _*) {
        val db = runDistributedPipeline(s, ids.zip(srcs), "LENIENT") { drain =>
          // initial: each partition seeds 5 id-only rows
          (0 until nParts).foreach { k =>
            (0 until 5).foreach(_ =>
              srcs(k).append(DataChangeEvent.insert(t, Map("id" -> nextId(k)))))
          }
          drain()
          // each partition works the 16 types in its OWN rotated order —
          // the reduce must union views that disagree mid-flight
          val perPart = (0 until nParts).map(k =>
            parallelizedTypes.drop(k) ++ parallelizedTypes.take(k))
          parallelizedTypes.indices.foreach { stage =>
            Seq(false, true).foreach { subtaskCol =>
              (0 until nParts).foreach { k =>
                val (typeName, cdcT, _) = perPart(k)(stage)
                val colName =
                  if (subtaskCol) s"subtask_${k}_col_$typeName" else s"col_$typeName"
                if (!srcs(k).schema.struct.fieldNames.contains(colName))
                  srcs(k).appendDdl(AddColumnEvent(t,
                    Seq(AddColumnEvent.ColumnWithPosition(colName, cdcT))))
                val vals: Map[String, Any] = srcs(k).schema.struct.fieldNames.toSeq.map {
                  case "id" => "id" -> (nextId(k): Any)
                  case c => c -> parallelizedValueOf(c)
                }.toMap
                srcs(k).append(DataChangeEvent.insert(t, vals))
              }
              drain()
            }
          }
        }
        // the ITCase's union assertion, order-insensitive (:243-910)
        val expectedCols = ("id" +: parallelizedTypes.flatMap { case (n, _, _) =>
          s"col_$n" +: (0 until nParts).map(k => s"subtask_${k}_col_$n")
        }).toSet
        val got = db.schemaOf(t).map(_.columnNames.toSet).getOrElse(Set.empty)
        require(got == expectedCols,
          s"distributed runner column UNION: missing ${expectedCols -- got}, " +
            s"extra ${got -- expectedCols}")
        val rows = db.rowsOf(t)
        val byPart = rows.map(_.head.asInstanceOf[String])
          .groupBy(id => id.head).view.mapValues(_.size).toMap
        (0 until nParts).foreach { k =>
          require(byPart.getOrElse((k + 1).toString.head, 0) == 5 + 32,
            s"partition $k must land 37 rows, got $byPart")
        }
        // each partition's FINAL insert is fully populated under its own
        // final view (id + all 48 type columns it declared by then)
        (0 until nParts).foreach { k =>
          val lastId = s"${(k + 1) * 100000 + iotas(k)}"
          val schemaCols = db.schemaOf(t).get.columnNames
          val row = rows.find(_.head == lastId).get
          val nonNull = schemaCols.zip(row).filter(_._2 != null).map(_._1).toSet
          val ownCols = srcs(k).schema.struct.fieldNames.toSet
          require(ownCols.subsetOf(nonNull),
            s"partition $k final row must populate its full view; missing " +
              s"${ownCols -- nonNull}")
        }
        import s.implicits._
        Seq(("table_0", rows.size.toLong, got.size)).toDF("tbl", "n_rows", "n_cols")
      }
    }),

    // The INTERLEAVED round-robin drain of the distributed topology (the
    // reference's true coordinator concurrency — partitions' micro-batches
    // alternate; `schema/distributed/SchemaOperator` parks ONE subtask at
    // its DDL while the others keep streaming): both partitions' whole
    // multi-stage scripts are appended up front and ONE
    // runDistributed(interleaved=true) call drains them turn by turn —
    // partition 0's park-at-ADD happens between partition 1's batches. The
    // reduce semantics must be EXACTLY those of the serial drain.
    "c_conformance_distributed_interleaved" -> ((s, _) => {
      val t = TableId.parse("default_namespace.default_database.table_0")
      val srcs = (0 until 2).map(_ => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until 2).map(k => freshId(s"distint$k"))
      registered(ids.zip(srcs): _*) {
        val db = runDistributedPipeline(s, ids.zip(srcs), "LENIENT",
          interleaved = true) { drain =>
          // partition 0: rows, ADD col_a, rows; partition 1: rows, ADD
          // col_b, rows, ADD col_c, row — all appended BEFORE the single
          // drain, so the round-robin itself sequences the turns
          (0 until 3).foreach(i =>
            srcs(0).append(DataChangeEvent.insert(t, Map("id" -> s"10000$i"))))
          srcs(0).appendDdl(AddColumnEvent(t,
            Seq(AddColumnEvent.ColumnWithPosition("col_a", CdcTypes.StringT()))))
          (3 until 5).foreach(i =>
            srcs(0).append(DataChangeEvent.insert(t,
              Map("id" -> s"10000$i", "col_a" -> "a"))))
          (0 until 3).foreach(i =>
            srcs(1).append(DataChangeEvent.insert(t, Map("id" -> s"20000$i"))))
          srcs(1).appendDdl(AddColumnEvent(t,
            Seq(AddColumnEvent.ColumnWithPosition("col_b", CdcTypes.StringT()))))
          (3 until 5).foreach(i =>
            srcs(1).append(DataChangeEvent.insert(t,
              Map("id" -> s"20000$i", "col_b" -> "b"))))
          srcs(1).appendDdl(AddColumnEvent(t,
            Seq(AddColumnEvent.ColumnWithPosition("col_c", CdcTypes.StringT()))))
          srcs(1).append(DataChangeEvent.insert(t,
            Map("id" -> "200005", "col_b" -> "b", "col_c" -> "c")))
          drain()
        }
        val got = db.schemaOf(t).map(_.columnNames).getOrElse(Seq.empty)
        require(got.toSet == Set("id", "col_a", "col_b", "col_c"),
          s"interleaved reduce must union both partitions' views, got $got")
        val rows = db.rowsOf(t)
        require(rows.size == 11, s"11 rows expected, got ${rows.size}")
        // the final row of each partition is populated under its own view
        val schemaCols = db.schemaOf(t).get.columnNames
        def nonNullCols(id: String): Set[String] = {
          val row = rows.find(_.head == id).get
          schemaCols.zip(row).filter(_._2 != null).map(_._1).toSet
        }
        require(nonNullCols("100004") == Set("id", "col_a"),
          s"p0 final row shape, got ${nonNullCols("100004")}")
        require(nonNullCols("200005") == Set("id", "col_b", "col_c"),
          s"p1 final row shape, got ${nonNullCols("200005")}")
        import s.implicits._
        Seq(("table_0", rows.size.toLong, got.size)).toDF("tbl", "n_rows", "n_cols")
      }
    }),

    // FlinkParallelizedPipelineITCase
    // .testDistributedTablesSourceInSingleParallelismWithIgnoreBehavior:410 +
    // .testDistributedTablesSourceInMultipleParallelismWithIgnoreBehavior
    // :436-455: under IGNORE the sink schema NEVER grows past the initial
    // `id` column — every partition's adds are reduced, derived, and then
    // dropped by the behavior filter; data still lands, trimmed to `id`.
    "c_conformance_distributed_ignore" -> ((s, _) => {
      val nParts = 2
      val t = TableId.parse("default_namespace.default_database.table_0")
      val srcs = (0 until nParts).map(_ => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until nParts).map(k => freshId(s"distign$k"))
      val iotas = Array.fill(nParts)(-1)
      def nextId(k: Int): String = { iotas(k) += 1; s"${(k + 1) * 100000 + iotas(k)}" }
      registered(ids.zip(srcs): _*) {
        val db = runDistributedPipeline(s, ids.zip(srcs), "IGNORE") { drain =>
          (0 until nParts).foreach { k =>
            (0 until 5).foreach(_ =>
              srcs(k).append(DataChangeEvent.insert(t, Map("id" -> nextId(k)))))
          }
          drain()
          parallelizedTypes.take(4).foreach { case (typeName, cdcT, _) =>
            (0 until nParts).foreach { k =>
              Seq(s"col_$typeName", s"subtask_${k}_col_$typeName").foreach { colName =>
                if (!srcs(k).schema.struct.fieldNames.contains(colName))
                  srcs(k).appendDdl(AddColumnEvent(t,
                    Seq(AddColumnEvent.ColumnWithPosition(colName, cdcT))))
              }
              val vals: Map[String, Any] = srcs(k).schema.struct.fieldNames.toSeq.map {
                case "id" => "id" -> (nextId(k): Any)
                case c => c -> parallelizedValueOf(c)
              }.toMap
              srcs(k).append(DataChangeEvent.insert(t, vals))
            }
            drain()
          }
        }
        require(db.schemaOf(t).exists(_.columnNames == Seq("id")),
          s"IGNORE must keep the initial id-only schema, got ${db.schemaOf(t).map(_.columnNames)}")
        require(db.ddlHistory(t).size == 1,
          s"IGNORE sink sees ONLY the create, got ${db.ddlHistory(t).size} DDLs")
        val rows = db.rowsOf(t)
        require(rows.size == nParts * (5 + 4), s"expected 18 id-only rows, got ${rows.size}")
        import s.implicits._
        Seq(("table_0", rows.size.toLong, db.schemaOf(t).get.columnNames.size))
          .toDF("tbl", "n_rows", "n_cols")
      }
    }),

    // FlinkParallelizedPipelineITCase
    // .testDistributedTablesSourceInSingleParallelismWithExceptionBehavior:458
    // + .testDistributedTablesSourceInMultipleParallelismWithExceptionBehavior
    // :482-500: the FIRST reduced schema change faults the job with the
    // reference's exact message (`distributed/SchemaOperator.java:147`).
    "c_conformance_distributed_exception" -> ((s, _) => {
      val nParts = 2
      val t = TableId.parse("default_namespace.default_database.table_0")
      val srcs = (0 until nParts).map(_ => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until nParts).map(k => freshId(s"distexc$k"))
      var faulted: Option[Throwable] = None
      registered(ids.zip(srcs): _*) {
        try {
          runDistributedPipeline(s, ids.zip(srcs), "EXCEPTION") { drain =>
            (0 until nParts).foreach { k =>
              (0 until 3).foreach(i =>
                srcs(k).append(DataChangeEvent.insert(t,
                  Map("id" -> s"${(k + 1) * 100 + i}"))))
            }
            drain()
            srcs(0).appendDdl(AddColumnEvent(t,
              Seq(AddColumnEvent.ColumnWithPosition("col_booleantype", CdcTypes.BooleanT()))))
            try drain()
            catch { case e: Throwable => faulted = Some(e); throw e }
          }
          sys.error("EXCEPTION behavior must fault on the first reduced change")
        } catch { case _: Throwable if faulted.isDefined => () }
        val expectMsg =
          "Unexpected schema change events occurred in EXCEPTION mode. Job will fail now."
        def cites(e: Throwable): Boolean =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists(c => String.valueOf(c.getMessage).contains(expectMsg))
        require(faulted.exists(cites),
          s"fault must carry the reference's EXCEPTION message, got $faulted")
        import s.implicits._
        Seq(("EXCEPTION", true)).toDF("behavior", "faulted")
      }
    }),

    // distributed/SchemaEvolveTest.testLenientSchemaEvolution:62-222 — the
    // DISTRIBUTED topology's LENIENT evolution through the real runner:
    // positioned adds land LAST (the reduce appends new columns), a rename
    // appears as ADD of the new name (old kept, later rows null it), an
    // ALTER widens through the reduce, a column DROP is swallowed, and the
    // TABLE-level TRUNCATE/DROP TABLE events reduce to NO diff — neither
    // reaches the sink.
    "c_conformance_distributed_lenient" -> ((s, _) => {
      val t = TableId.parse("foo.bar.baz")
      val src = new ScriptedChangeSource(t,
        TableSchema(
          StructType(Seq(
            StructField("id", IntegerType, nullable = false),
            StructField("name", Str),
            StructField("age", FloatType),
            StructField("notes", Str, nullable = false))),
          primaryKeys = Seq("id")), Seq.empty)
      val id = freshId("distlen")
      registered(id -> src) {
        val db = runDistributedPipeline(s, Seq(id -> src), "LENIENT") { drain =>
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 1, "name" -> "Alice", "age" -> 17.1828f, "notes" -> "Hello")))
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("added_flag", CdcTypes.BooleanT(),
              AddColumnEvent.After("id")))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 2, "added_flag" -> false, "name" -> "Bob",
            "age" -> 31.415926f, "notes" -> "Bye-bye")))
          drain()
          src.appendDdl(RenameColumnEvent(t, Map("notes" -> "footnotes")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 3, "added_flag" -> true, "name" -> "Cicada",
            "age" -> 123.456f, "footnotes" -> "Ok")))
          drain()
          src.appendDdl(AlterColumnTypeEvent(t, Map("age" -> CdcTypes.DoubleT())))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 4, "added_flag" -> false, "name" -> "Derrida",
            "age" -> 7.81876754837, "footnotes" -> "Nah")))
          drain()
          src.appendDdl(DropColumnEvent(t, Seq("footnotes")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 5, "added_flag" -> true, "name" -> "Eve", "age" -> 1.414)))
          drain()
          src.appendDdl(TruncateTableEvent(t))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 6, "added_flag" -> false, "name" -> "Ferris", "age" -> 0.001)))
          drain()
          src.appendDdl(DropTableEvent(t))
        }
        requireEventSequence(db, t, Seq(
          "create:id,name,age,notes",
          "before=[], after=[1, Alice, 17.1828, Hello], op=INSERT, meta=()",
          "add:added_flag",
          "before=[], after=[2, Bob, 31.415926, Bye-bye, false], op=INSERT, meta=()",
          "add:footnotes",
          "before=[], after=[3, Cicada, 123.456, null, true, Ok], op=INSERT, meta=()",
          "alter:age->double",
          "before=[], after=[4, Derrida, 7.81876754837, null, false, Nah], op=INSERT, meta=()",
          "before=[], after=[5, Eve, 1.414, null, true, null], op=INSERT, meta=()",
          "before=[], after=[6, Ferris, 0.001, null, false, null], op=INSERT, meta=()"))
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.columnNames ==
          Seq("id", "name", "age", "notes", "added_flag", "footnotes"),
          s"distributed lenient shape, got ${sch.columnNames}")
        require(sch.struct("age").dataType == DoubleType,
          s"alter must widen age to DOUBLE, got ${sch.struct("age").dataType}")
        import s.implicits._
        stateDf(s, db, t).collect().toSeq.map(r =>
          (r.getInt(0), r.getString(1), r.getDouble(2), r.getString(3),
            if (r.isNullAt(4)) null.asInstanceOf[java.lang.Boolean]
            else java.lang.Boolean.valueOf(r.getBoolean(4)),
            r.getString(5)))
          .toDF("id", "name", "age", "notes", "added_flag", "footnotes")
          .orderBy("id")
      }
    }),

    // distributed/SchemaEvolveTest.testIgnoreSchemaEvolution:225-334 — the
    // SAME script under IGNORE: the sink schema never grows past the
    // create; rows trim to the initial shape and the reduced-away column
    // values NULL — including the post-ALTER DOUBLE age values, which the
    // tolerant coercion REFUSES into the kept FLOAT column (row 4+ age
    // null, per the ITCase's `genInsert(..., "ISFS", 4, "Derrida", null,
    // null)`). The EXCEPTION twin (testExceptionSchemaEvolution:336) rides
    // [[c_conformance_distributed_exception]].
    "c_conformance_distributed_ignore_trim" -> ((s, _) => {
      val t = TableId.parse("foo.bar.baz")
      val src = new ScriptedChangeSource(t,
        TableSchema(
          StructType(Seq(
            StructField("id", IntegerType, nullable = false),
            StructField("name", Str),
            StructField("age", FloatType),
            StructField("notes", Str, nullable = false))),
          primaryKeys = Seq("id")), Seq.empty)
      val id = freshId("distigtrim")
      registered(id -> src) {
        val db = runDistributedPipeline(s, Seq(id -> src), "IGNORE") { drain =>
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 1, "name" -> "Alice", "age" -> 17.1828f, "notes" -> "Hello")))
          drain()
          src.appendDdl(AddColumnEvent(t, Seq(
            AddColumnEvent.ColumnWithPosition("added_flag", CdcTypes.BooleanT(),
              AddColumnEvent.After("id")))))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 2, "added_flag" -> false, "name" -> "Bob",
            "age" -> 31.415926f, "notes" -> "Bye-bye")))
          drain()
          src.appendDdl(RenameColumnEvent(t, Map("notes" -> "footnotes")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 3, "added_flag" -> true, "name" -> "Cicada",
            "age" -> 123.456f, "footnotes" -> "Ok")))
          drain()
          src.appendDdl(AlterColumnTypeEvent(t, Map("age" -> CdcTypes.DoubleT())))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 4, "added_flag" -> false, "name" -> "Derrida",
            "age" -> 7.81876754837, "footnotes" -> "Nah")))
          drain()
          src.appendDdl(DropColumnEvent(t, Seq("footnotes")))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 5, "added_flag" -> true, "name" -> "Eve", "age" -> 1.414)))
          drain()
          src.appendDdl(TruncateTableEvent(t))
          drain()
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 6, "added_flag" -> false, "name" -> "Ferris", "age" -> 0.001)))
          drain()
          src.appendDdl(DropTableEvent(t))
        }
        requireEventSequence(db, t, Seq(
          "create:id,name,age,notes",
          "before=[], after=[1, Alice, 17.1828, Hello], op=INSERT, meta=()",
          "before=[], after=[2, Bob, 31.415926, Bye-bye], op=INSERT, meta=()",
          "before=[], after=[3, Cicada, 123.456, null], op=INSERT, meta=()",
          "before=[], after=[4, Derrida, null, null], op=INSERT, meta=()",
          "before=[], after=[5, Eve, null, null], op=INSERT, meta=()",
          "before=[], after=[6, Ferris, null, null], op=INSERT, meta=()"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("id", "name", "age", "notes")),
          s"IGNORE keeps the initial shape, got ${db.schemaOf(t).map(_.columnNames)}")
        import s.implicits._
        stateDf(s, db, t).collect().toSeq.map(r =>
          (r.getInt(0), r.getString(1),
            if (r.isNullAt(2)) null.asInstanceOf[java.lang.Float]
            else java.lang.Float.valueOf(r.getFloat(2)),
            r.getString(3)))
          .toDF("id", "name", "age", "notes").orderBy("id")
      }
    }),

    // FlinkParallelizedPipelineITCase.testRegularTablesSourceInSingleParallelism
    // :505 + .testRegularTablesSourceInMultipleParallelism:574-725: REGULAR tables live in per-subtask
    // namespaces (`default_namespace_subtask_<k>`), so no reduce is needed —
    // each partition's table evolves independently through the standard
    // park/evolve/ack loop at parallelism 2. Asserts each table's pinned
    // per-partition column ORDER (single-parallelism determinism, :518-565).
    "c_conformance_regular_parallelism" -> ((s, _) => {
      val nParts = 2
      val nTypes = 6
      val tables = (0 until nParts).map(k =>
        TableId.parse(s"default_namespace_subtask_$k.default_database.table_0"))
      val srcs = tables.map(t => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until nParts).map(k => freshId(s"regpar$k"))
      val iotas = Array.fill(nParts)(-1)
      def nextId(k: Int): String = { iotas(k) += 1; s"${(k + 1) * 100000 + iotas(k)}" }
      registered(ids.zip(srcs): _*) {
        val db = runPipeline(s, ids.zip(srcs), "LENIENT") { drain =>
          (0 until nParts).foreach { k =>
            (0 until 5).foreach(_ =>
              srcs(k).append(DataChangeEvent.insert(tables(k), Map("id" -> nextId(k)))))
          }
          drain()
          parallelizedTypes.take(nTypes).foreach { case (typeName, cdcT, _) =>
            (0 until nParts).foreach { k =>
              Seq(s"col_$typeName", s"subtask_${k}_col_$typeName").foreach { colName =>
                srcs(k).appendDdl(AddColumnEvent(tables(k),
                  Seq(AddColumnEvent.ColumnWithPosition(colName, cdcT))))
                val vals: Map[String, Any] = srcs(k).schema.struct.fieldNames.toSeq.map {
                  case "id" => "id" -> (nextId(k): Any)
                  case c => c -> parallelizedValueOf(c)
                }.toMap
                srcs(k).append(DataChangeEvent.insert(tables(k), vals))
              }
            }
            drain()
          }
        }
        // single-parallelism determinism: each partition's table carries ITS
        // OWN interleaved column order — col_X then subtask_<k>_col_X
        (0 until nParts).foreach { k =>
          val expect = "id" +: parallelizedTypes.take(nTypes).flatMap { case (n, _, _) =>
            Seq(s"col_$n", s"subtask_${k}_col_$n") }
          val got = db.schemaOf(tables(k)).map(_.columnNames).getOrElse(Seq.empty)
          require(got == expect,
            s"regular table $k column order:\n  got      $got\n  expected $expect")
        }
        import s.implicits._
        tables.zipWithIndex.map { case (t, k) =>
          (s"subtask_$k", db.rowsOf(t).size.toLong,
            db.schemaOf(t).get.columnNames.size)
        }.toDF("tbl", "n_rows", "n_cols").orderBy("tbl")
      }
    }),

    // FlinkParallelizedPipelineITCase.testRegularTablesSourceMergedInSingleParallelism
    // :708-775 (+ the @Disabled .testRegularTablesSourceMergedInMultipleParallelism
    // twin :778): the
    // MERGING trait routes every per-subtask table into ONE sink table
    // (`default_namespace_subtask_\d.… -> default_namespace.…`), so the
    // sink's schema is the least-common UNION of the partitions' shapes —
    // the regular-topology route-merge equivalent of the distributed reduce.
    "c_conformance_regular_merged" -> ((s, _) => {
      val nParts = 2
      val nTypes = 6
      val sinkT = TableId.parse("default_namespace.default_database.table_0")
      val tables = (0 until nParts).map(k =>
        TableId.parse(s"default_namespace_subtask_$k.default_database.table_0"))
      val srcs = tables.map(t => new ScriptedChangeSource(
        t,
        TableSchema(
          StructType(Seq(StructField("id", StringType))),
          primaryKeys = Seq("id"), partitionKeys = Seq("id")),
        Seq.empty))
      val ids = (0 until nParts).map(k => freshId(s"regmerge$k"))
      val iotas = Array.fill(nParts)(-1)
      def nextId(k: Int): String = { iotas(k) += 1; s"${(k + 1) * 100000 + iotas(k)}" }
      registered(ids.zip(srcs): _*) {
        val db = runPipeline(s, ids.zip(srcs), "LENIENT",
          extraYaml =
            """route:
              |  - source-table: default_namespace_subtask_\d.default_database.table_0
              |    sink-table: default_namespace.default_database.table_0""".stripMargin) { drain =>
          (0 until nParts).foreach { k =>
            (0 until 5).foreach(_ =>
              srcs(k).append(DataChangeEvent.insert(tables(k), Map("id" -> nextId(k)))))
          }
          drain()
          parallelizedTypes.take(nTypes).foreach { case (typeName, cdcT, _) =>
            (0 until nParts).foreach { k =>
              Seq(s"col_$typeName", s"subtask_${k}_col_$typeName").foreach { colName =>
                srcs(k).appendDdl(AddColumnEvent(tables(k),
                  Seq(AddColumnEvent.ColumnWithPosition(colName, cdcT))))
                val vals: Map[String, Any] = srcs(k).schema.struct.fieldNames.toSeq.map {
                  case "id" => "id" -> (nextId(k): Any)
                  case c => c -> parallelizedValueOf(c)
                }.toMap
                srcs(k).append(DataChangeEvent.insert(tables(k), vals))
              }
            }
            drain()
          }
        }
        val expectedCols = ("id" +: parallelizedTypes.take(nTypes).flatMap { case (n, _, _) =>
          s"col_$n" +: (0 until nParts).map(k => s"subtask_${k}_col_$n")
        }).toSet
        val got = db.schemaOf(sinkT).map(_.columnNames.toSet).getOrElse(Set.empty)
        require(got == expectedCols,
          s"merged sink column UNION: missing ${expectedCols -- got}, " +
            s"extra ${got -- expectedCols}")
        val rows = db.rowsOf(sinkT)
        require(rows.size == nParts * (5 + nTypes * 2),
          s"expected ${nParts * (5 + nTypes * 2)} merged rows, got ${rows.size}")
        import s.implicits._
        Seq(("table_0", rows.size.toLong, got.size)).toDF("tbl", "n_rows", "n_cols")
      }
    }),

    // FlinkPipelineUdfITCase.testTransformWithUdf:111: a YAML-declared UDF
    // (classpath-resolved `format` = String.format) computed in the
    // projection, with per-rule pk + table-options overrides, over the
    // TRANSFORM_TABLE evolution script.
    "c_conformance_udf_transform" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udftr")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, format('from %s to %s is %s', col1, 'z', 'lie') AS fmt"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: format
              |    classpath: graft.functions.udfexamples.FormatFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        require(db.schemaOf(t).exists(sch =>
          sch.columnNames == Seq("col1", "newCol3", "fmt") &&
            sch.options.get("key1").contains("value1")),
          s"udf-transform shape + options per ITCase:150, got ${db.schemaOf(t)}")
        // full event sequence (ITCase :150-160)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,fmt",
          "before=[], after=[1, 1, from 1 to z is lie], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, from 2 to z is lie], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, from 3 to z is lie], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1, from 1 to z is lie], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, , from 2 to z is lie], after=[2, x, from 2 to z is lie], " +
            "op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testFilterWithUdf:182: the UDF referenced by
    // BOTH projection and filter (`addone(col1) <> '2'` drops key 1's insert
    // AND delete — string vs string, value semantics).
    "c_conformance_udf_filter" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udffl")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, addone(col1) as collen"
              |    filter: "addone(col1) <> '2'"
              |    primary-keys: col1
              |user-defined-function:
              |  - name: addone
              |    classpath: graft.functions.udfexamples.AddOneFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        require(db.schemaOf(t).exists(_.columnNames == Seq("col1", "newCol3", "collen")),
          s"udf-filter shape per ITCase:221, got ${db.schemaOf(t).map(_.columnNames)}")
        // full event sequence (ITCase :221-229): key 1's insert AND delete
        // drop at the filter (addone('1') = '2'), key 3's insert survives
        requireEventSequence(db, t, Seq(
          "create:col1,col2,collen",
          "before=[], after=[2, 2, 3], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, 4], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[2, , 3], after=[2, x, 3], op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineTransformITCase.testFloorCeilAndRoundFunction:2436 — the
    // 42-column CEIL/CEILING/FLOOR/ROUND(,2)/ROUND(,0) matrix over all seven
    // numeric types, values transcribed from the asserted rows (:2525-2531):
    // type-preserving ceil/floor (CEIL(1.1f) = 2.0 FLOAT), HALF_UP rounding
    // (5.555 -> 5.56), the float 9999999.999f = 1.0E7 collapse, decimal
    // scale renderings (1.100 / 1.10 / 2), and the all-NULL row.
    "c_conformance_floor_ceil_round" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "tinyint_col" -> ByteType,
          "smallint_col" -> ShortType, "int_col" -> IntegerType,
          "bigint_col" -> LongType, "float_col" -> FloatType,
          "double_col" -> DoubleType, "decimal_col" -> DecimalType(10, 3))("id"),
        Seq.empty)
      val id = freshId("fcround")
      registered(id -> src) {
        val fns = Seq("CEIL" -> "ceil", "CEILING" -> "ceiling", "FLOOR" -> "floor")
          .flatMap { case (fn, p) => Seq(
            s"$fn(tinyint_col) AS ${p}_tinyint", s"$fn(smallint_col) AS ${p}_smallint",
            s"$fn(int_col) AS ${p}_int", s"$fn(bigint_col) AS ${p}_bigint",
            s"$fn(float_col) AS ${p}_float", s"$fn(double_col) AS ${p}_double",
            s"$fn(decimal_col) AS ${p}_decimal") } ++
          Seq(2 -> "round", 0 -> "round_0").flatMap { case (sc, p) => Seq(
            s"ROUND(tinyint_col, $sc) AS ${p}_tinyint", s"ROUND(smallint_col, $sc) AS ${p}_smallint",
            s"ROUND(int_col, $sc) AS ${p}_int", s"ROUND(bigint_col, $sc) AS ${p}_bigint",
            s"ROUND(float_col, $sc) AS ${p}_float", s"ROUND(double_col, $sc) AS ${p}_double",
            s"ROUND(decimal_col, $sc) AS ${p}_decimal") }
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            s"""transform:
               |  - source-table: default_schema.mytable1
               |    projection: "*, ${fns.mkString(", ")}"
               |    primary-keys: id""".stripMargin) { drain =>
          def ins(id0: Int, b: Any, sh: Any, i: Any, l: Any, f: Any, d: Any, dec: Any) =
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> id0, "tinyint_col" -> b, "smallint_col" -> sh, "int_col" -> i,
              "bigint_col" -> l, "float_col" -> f, "double_col" -> d, "decimal_col" -> dec)))
          ins(1, 1.toByte, 1.toShort, 1, 1L, 1.1f, 1.1d, new java.math.BigDecimal("1.100"))
          ins(4, 4.toByte, 4.toShort, 4, 4L, 4.44f, 4.44d, new java.math.BigDecimal("4.440"))
          ins(5, 5.toByte, 5.toShort, 5, 5L, 5.555f, 5.555d, new java.math.BigDecimal("5.555"))
          ins(9, 9.toByte, 9.toShort, 9, 9L, 9999999.999f, 9999999.999d,
            new java.math.BigDecimal("9999999.999"))
          ins(0, null, null, null, null, null, null, null)
          drain()
        }
        requireEventSequence(db, t, Seq(
          "create:id,tinyint_col,smallint_col,int_col,bigint_col,float_col,double_col," +
            "decimal_col," + fns.map(_.split(" AS ")(1)).mkString(","),
          "before=[], after=[1, 1, 1, 1, 1, 1.1, 1.1, 1.100, 1, 1, 1, 1, 2.0, 2.0, 2, " +
            "1, 1, 1, 1, 2.0, 2.0, 2, 1, 1, 1, 1, 1.0, 1.0, 1, 1, 1, 1, 1, 1.1, 1.1, 1.10, " +
            "1, 1, 1, 1, 1.0, 1.0, 1], op=INSERT, meta=()",
          "before=[], after=[4, 4, 4, 4, 4, 4.44, 4.44, 4.440, 4, 4, 4, 4, 5.0, 5.0, 5, " +
            "4, 4, 4, 4, 5.0, 5.0, 5, 4, 4, 4, 4, 4.0, 4.0, 4, 4, 4, 4, 4, 4.44, 4.44, 4.44, " +
            "4, 4, 4, 4, 4.0, 4.0, 4], op=INSERT, meta=()",
          "before=[], after=[5, 5, 5, 5, 5, 5.555, 5.555, 5.555, 5, 5, 5, 5, 6.0, 6.0, 6, " +
            "5, 5, 5, 5, 6.0, 6.0, 6, 5, 5, 5, 5, 5.0, 5.0, 5, 5, 5, 5, 5, 5.56, 5.56, 5.56, " +
            "5, 5, 5, 5, 6.0, 6.0, 6], op=INSERT, meta=()",
          "before=[], after=[9, 9, 9, 9, 9, 1.0E7, 9999999.999, 9999999.999, 9, 9, 9, 9, " +
            "1.0E7, 1.0E7, 10000000, 9, 9, 9, 9, 1.0E7, 1.0E7, 10000000, 9, 9, 9, 9, 1.0E7, " +
            "9999999.0, 9999999, 9, 9, 9, 9, 1.0E7, 1.0E7, 10000000.00, 9, 9, 9, 9, 1.0E7, " +
            "1.0E7, 10000000], op=INSERT, meta=()",
          "before=[], after=[0, " + Seq.fill(42)("null").mkString(", ") + "], op=INSERT, meta=()"))
        // compact stringified comparison surface (decimals are
        // driver-hash-unsafe; every individual value is already pinned by
        // the event-sequence assertion above)
        import s.implicits._
        stateDf(s, db, t).collect().toSeq.map { r =>
          (r.getInt(0).toLong, r.toSeq.drop(1).map {
            case null => "null"
            case v => String.valueOf(v)
          }.mkString(","))
        }.toDF("id", "vals").orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testTransformWithCommentsAndDefaultExpr
    // :2076 — source columns carry COMMENTs and DEFAULT expressions; an
    // ALIASED source column (`name AS new_name`) INHERITS both while a
    // computed column (`age + 1 AS new_age`) carries neither, and the
    // source's partition keys ride through (:2149-2158).
    "c_conformance_comments_default_expr" -> ((s, _) => {
      val t1 = TableId.parse("default_schema.mytable1")
      val t2 = TableId.parse("default_schema.mytable2")
      def fld(n: String, dt: DataType, comment: String, dflt: String) =
        StructField(n, dt, nullable = true,
          new MetadataBuilder().putString("comment", comment)
            .putString(AddColumnEvent.DefaultKey, dflt).build())
      val src1 = new ScriptedChangeSource(t1, TableSchema(
        StructType(Seq(
          fld("id", IntegerType, "id column", "AUTO_INCREMENT()"),
          fld("name", StringType, "name column", "Jane Doe"),
          fld("age", IntegerType, "age column", "17"))),
        primaryKeys = Seq("id"), partitionKeys = Seq("id", "age")), Seq.empty)
      val src2 = new ScriptedChangeSource(t2, TableSchema(
        StructType(Seq(
          fld("id", LongType, "column for id", "AUTO_DECREMENT()"),
          fld("name", StringType, "column for name", "John Smith"),
          fld("age", ByteType, "column for age", "91"),
          fld("description", StringType, "column for descriptions", "not important"))),
        primaryKeys = Seq("id"), partitionKeys = Seq("id", "name")), Seq.empty)
      val (id1, id2) = (freshId("cmtdf1"), freshId("cmtdf2"))
      registered(id1 -> src1, id2 -> src2) {
        val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable\.*
              |    projection: "*, name AS new_name, age + 1 AS new_age, 'extras' AS extras"""".stripMargin) { _ =>
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
          src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
          src1.append(DataChangeEvent.update(t1,
            Map("id" -> 2, "name" -> "Bob", "age" -> 20),
            Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 3L, "name" -> "Carol", "age" -> 15.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.insert(t2,
            Map("id" -> 4L, "name" -> "Derrida", "age" -> 25.toByte, "description" -> "student")))
          src2.append(DataChangeEvent.delete(t2,
            Map("id" -> 4L, "name" -> "Derrida", "age" -> 25.toByte, "description" -> "student")))
        }
        Seq(t1 -> Seq("id", "age"), t2 -> Seq("id", "name")).foreach { case (t, parts) =>
          val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
          require(sch.partitionKeys == parts,
            s"$t partition keys must ride through, got ${sch.partitionKeys}")
          def meta(c: String) = sch.struct(c).metadata
          val srcComment = if (t == t1) "name column" else "column for name"
          val srcDefault = if (t == t1) "Jane Doe" else "John Smith"
          require(meta("new_name").contains("comment") &&
            meta("new_name").getString("comment") == srcComment &&
            meta("new_name").getString(AddColumnEvent.DefaultKey) == srcDefault,
            s"$t: aliased new_name must inherit comment+default, got ${meta("new_name")}")
          require(!meta("new_age").contains("comment") &&
            !meta("new_age").contains(AddColumnEvent.DefaultKey),
            s"$t: computed new_age must carry no comment/default, got ${meta("new_age")}")
        }
        import s.implicits._
        val a = stateDf(s, db, t1).collect().toSeq.map(r =>
          ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String,
            r.getString(3), r.getInt(4), r.getString(5)))
        val b = stateDf(s, db, t2).collect().toSeq.map(r =>
          ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3),
            r.getString(4), r.getInt(5), r.getString(6)))
        (a ++ b).toDF("tbl", "id", "name", "age", "description",
          "new_name", "new_age", "extras").orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testTransformWithTimestamps:1039 —
    // DATE_FORMAT over TIMESTAMP and TIMESTAMP_LTZ with SDF-style patterns
    // under PIPELINE_LOCAL_TIME_ZONE=America/Los_Angeles: the LTZ operand
    // renders its instant AT the pipeline zone (the fixture builds the
    // instants from LA wall-clocks, so the asserted strings :1113-1117 are
    // zone-invariant), TIMESTAMPADD composes, NULL operands render null.
    "c_conformance_timestamp_formats" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "ts" -> TimestampNTZType,
          "ts_ltz" -> TimestampType)("id"), Seq.empty)
      val id = freshId("tsfmt")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    projection: "id, DATE_FORMAT(ts, 'yyyy~MM~dd') AS df1, DATE_FORMAT(ts_ltz, 'yyyy~MM~dd') AS df2, DATE_FORMAT(ts, 'yyyy->MM->dd / HH->mm->ss') AS df3, DATE_FORMAT(ts_ltz, 'yyyy->MM->dd / HH->mm->ss') AS df4, DATE_FORMAT(TIMESTAMPADD(SECOND, 17, ts), 'yyyy->MM->dd / HH->mm->ss') AS df5, DATE_FORMAT(TIMESTAMPADD(SECOND, 17, ts_ltz), 'yyyy->MM->dd / HH->mm->ss') AS df6"""".stripMargin,
          pipelineExtra = "  local-time-zone: America/Los_Angeles") { drain =>
          def ltz(isoUtc: String) =
            java.sql.Timestamp.from(java.time.Instant.parse(isoUtc))
          // instants built from LA wall-clocks like the fixture's
          // toInstant(local, timezone): 2020-07-17 18:00:22 PDT(-7) and
          // 2019-12-31 21:00:22 PST(-8)
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 1, "ts" -> java.time.LocalDateTime.parse("2023-11-27T20:12:31"),
            "ts_ltz" -> ltz("2020-07-18T01:00:22Z"))))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 2, "ts" -> java.time.LocalDateTime.parse("2018-02-01T04:14:01"),
            "ts_ltz" -> ltz("2020-01-01T05:00:22Z"))))
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 3, "ts" -> null, "ts_ltz" -> null)))
          drain()
        }
        requireEventSequence(db, t, Seq(
          "create:id,df1,df2,df3,df4,df5,df6",
          "before=[], after=[1, 2023~11~27, 2020~07~17, 2023->11->27 / 20->12->31, " +
            "2020->07->17 / 18->00->22, 2023->11->27 / 20->12->48, " +
            "2020->07->17 / 18->00->39], op=INSERT, meta=()",
          "before=[], after=[2, 2018~02~01, 2019~12~31, 2018->02->01 / 04->14->01, " +
            "2019->12->31 / 21->00->22, 2018->02->01 / 04->14->18, " +
            "2019->12->31 / 21->00->39], op=INSERT, meta=()",
          "before=[], after=[3, null, null, null, null, null, null], op=INSERT, meta=()"))
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testAbsFunction:2534 — type-preserving ABS
    // over all seven numeric types incl. the all-NULL row and the float
    // -99999999.99f = -1.0E8 collapse (:2594-2599).
    "c_conformance_abs_function" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "tinyint_col" -> ByteType,
          "smallint_col" -> ShortType, "int_col" -> IntegerType,
          "bigint_col" -> LongType, "float_col" -> FloatType,
          "double_col" -> DoubleType, "decimal_col" -> DecimalType(10, 2))("id"),
        Seq.empty)
      val id = freshId("absfn")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    projection: "*, ABS(tinyint_col) AS abs_tinyint, ABS(smallint_col) AS abs_smallint, ABS(int_col) AS abs_int, ABS(bigint_col) AS abs_bigint, ABS(float_col) AS abs_float, ABS(double_col) AS abs_double, ABS(decimal_col) AS abs_decimal"
              |    primary-keys: id""".stripMargin) { drain =>
          def ins(id0: Int, b: Any, sh: Any, i: Any, l: Any, f: Any, d: Any, dec: Any) =
            src.append(DataChangeEvent.insert(t, Map(
              "id" -> id0, "tinyint_col" -> b, "smallint_col" -> sh, "int_col" -> i,
              "bigint_col" -> l, "float_col" -> f, "double_col" -> d, "decimal_col" -> dec)))
          ins(1, 1.toByte, 1.toShort, 1, 1L, 1.1f, 1.1d, new java.math.BigDecimal("1.10"))
          ins(-4, (-4).toByte, (-4).toShort, -4, -4L, -4.44f, -4.44d,
            new java.math.BigDecimal("-4.44"))
          ins(-9, (-9).toByte, (-9).toShort, -9, -9L, -99999999.99f, -99999999.99d,
            new java.math.BigDecimal("-99999999.99"))
          ins(0, null, null, null, null, null, null, null)
          drain()
        }
        requireEventSequence(db, t, Seq(
          "create:id,tinyint_col,smallint_col,int_col,bigint_col,float_col,double_col," +
            "decimal_col,abs_tinyint,abs_smallint,abs_int,abs_bigint,abs_float," +
            "abs_double,abs_decimal",
          "before=[], after=[1, 1, 1, 1, 1, 1.1, 1.1, 1.10, 1, 1, 1, 1, 1.1, 1.1, 1.10], " +
            "op=INSERT, meta=()",
          "before=[], after=[-4, -4, -4, -4, -4, -4.44, -4.44, -4.44, 4, 4, 4, 4, 4.44, " +
            "4.44, 4.44], op=INSERT, meta=()",
          "before=[], after=[-9, -9, -9, -9, -9, -1.0E8, -9.999999999E7, -99999999.99, " +
            "9, 9, 9, 9, 1.0E8, 9.999999999E7, 99999999.99], op=INSERT, meta=()",
          "before=[], after=[0, " + Seq.fill(14)("null").mkString(", ") + "], op=INSERT, meta=()"))
        import s.implicits._
        stateDf(s, db, t).collect().toSeq.map { r =>
          (r.getInt(0).toLong, r.toSeq.drop(1).map {
            case null => "null"
            case v => String.valueOf(v)
          }.mkString(","))
        }.toDF("id", "vals").orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testTransformWithColumnNameMap:975 —
    // DASHED column names (`foo-bar`, `bar-foo`, `import-package`) through
    // projection, filter, ADD/RENAME/DROP, and a SOURCE-DEFINED metadata
    // column (`timestamp-type`, the values source's SupportedMetadataColumn)
    // projected from the event's meta map. Full event sequence (:1027-1036);
    // pk values adapt to numeric strings (class0/1/2 -> 0/1/2, new-class2 ->
    // 20 — the scripted source keys numerically; the pk-CHANGING update is
    // preserved and, like the reference's ValuesDatabase.update = insert
    // (ValuesDatabase.java:382), leaves the old key's row in place).
    "c_conformance_column_name_map" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t,
        schemaOf("class" -> Str, "foo-bar" -> IntegerType, "bar-foo" -> IntegerType)("class"),
        Seq.empty)
      val id = freshId("colmap")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, `timestamp-type`"
              |    filter: "`foo-bar` > 0"""".stripMargin) { drain =>
          def m(v: String) = Map("timestamp-type" -> v)
          src.append(DataChangeEvent.insert(t,
            Map("class" -> "0", "foo-bar" -> 0, "bar-foo" -> 0)).copy(meta = m("type0")))
          src.append(DataChangeEvent.insert(t,
            Map("class" -> "1", "foo-bar" -> 1, "bar-foo" -> 10)).copy(meta = m("type1")))
          src.append(DataChangeEvent.insert(t,
            Map("class" -> "2", "foo-bar" -> 2, "bar-foo" -> 100)).copy(meta = m("type2")))
          drain()
          src.appendDdl(AddColumnEvent(t,
            Seq(AddColumnEvent.ColumnWithPosition("import-package", CdcTypes.StringT()))))
          src.appendDdl(RenameColumnEvent(t, Map("bar-foo" -> "bar-baz")))
          src.appendDdl(DropColumnEvent(t, Seq("bar-baz")))
          drain()
          src.append(DataChangeEvent.delete(t,
            Map("class" -> "1", "foo-bar" -> 1, "import-package" -> ""))
            .copy(meta = m("type1")))
          src.append(DataChangeEvent.update(t,
            Map("class" -> "2", "foo-bar" -> 2, "import-package" -> ""),
            Map("class" -> "20", "foo-bar" -> 20, "import-package" -> "new-package2"))
            .copy(meta = m("type2")))
        }
        requireEventSequence(db, t, Seq(
          "create:class,foo-bar,bar-foo,timestamp-type",
          "before=[], after=[1, 1, 10, type1], op=INSERT, meta=({timestamp-type=type1})",
          "before=[], after=[2, 2, 100, type2], op=INSERT, meta=({timestamp-type=type2})",
          "add:import-package AFTER bar-foo",
          "rename:bar-foo->bar-baz",
          "drop:bar-baz",
          "before=[1, 1, , type1], after=[], op=DELETE, meta=({timestamp-type=type1})",
          "before=[2, 2, , type2], after=[20, 20, new-package2, type2], " +
            "op=UPDATE, meta=({timestamp-type=type2})"))
        stateDf(s, db, t).orderBy("class")
      }
    }),

    // FlinkPipelineUdfITCase.testComplicatedUdfReturnTypes:914: eight
    // arity-0 UDFs whose DECLARED return types (CHAR/VARCHAR/BINARY/
    // VARBINARY/TIMESTAMP(2)/TIMESTAMP_LTZ(2)/DECIMAL(10,3)[ NOT NULL])
    // drive the sink schema; values render byte-for-byte as the ITCase
    // asserts (:1038-1050): base64 `eHl6enk=`, `1970-01-02T00:00`, `12.315`.
    "c_conformance_udf_return_types" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udfret")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, get_char() AS char_col, get_varchar() AS varchar_col, get_binary() AS binary_col, get_varbinary() AS varbinary_col, get_ts() AS ts_col, get_ts_ltz() AS ts_ltz_col, get_decimal() AS decimal_col, get_non_null() AS non_null_col"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: get_char
              |    classpath: graft.functions.udfexamples.precision.CharTypeReturningClass
              |  - name: get_varchar
              |    classpath: graft.functions.udfexamples.precision.VarCharTypeReturningClass
              |  - name: get_binary
              |    classpath: graft.functions.udfexamples.precision.BinaryTypeReturningClass
              |  - name: get_varbinary
              |    classpath: graft.functions.udfexamples.precision.VarBinaryTypeReturningClass
              |  - name: get_ts
              |    classpath: graft.functions.udfexamples.precision.TimestampTypeReturningClass
              |  - name: get_ts_ltz
              |    classpath: graft.functions.udfexamples.precision.LocalZonedTimestampTypeReturningClass
              |  - name: get_decimal
              |    classpath: graft.functions.udfexamples.precision.DecimalTypeReturningClass
              |  - name: get_non_null
              |    classpath: graft.functions.udfexamples.precision.DecimalTypeNonNullReturningClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain)
        }
        val u = "This is a string., This is a string., eHl6enk=, eHl6enk=, " +
          "1970-01-02T00:00, 1970-01-02T00:00, 12.315, 12.315"
        requireEventSequence(db, t, Seq(
          "create:col1,col2,char_col,varchar_col,binary_col,varbinary_col," +
            "ts_col,ts_ltz_col,decimal_col,non_null_col",
          s"before=[], after=[1, 1, $u], op=INSERT, meta=()",
          s"before=[], after=[2, 2, $u], op=INSERT, meta=()",
          s"before=[], after=[3, 3, $u], op=INSERT, meta=()",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          s"before=[1, 1, $u], after=[], op=DELETE, meta=()",
          s"before=[2, , $u], after=[2, x, $u], op=UPDATE, meta=()"))
        // stringify for the hash-safe comparison surface (decimals are
        // driver-hash-unsafe; binaries/timestamps normalize)
        stateDf(s, db, t).selectExpr(
          "col1", "newCol3", "char_col", "varchar_col",
          "base64(binary_col) AS binary_b64", "base64(varbinary_col) AS varbinary_b64",
          "CAST(ts_col AS STRING) AS ts_s",
          "date_format(ts_ltz_col, 'yyyy-MM-dd HH:mm:ss') AS ts_ltz_s",
          "CAST(decimal_col AS STRING) AS decimal_s",
          "CAST(non_null_col AS STRING) AS non_null_s")
          .orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testOverloadedUdf:251: a UDF with TYPED eval
    // overloads dispatched by the call-site argument class — boolean/
    // integer/fractional/string literals each hit their own overload
    // (fractional literals are Janino doubles at the reference call site).
    "c_conformance_udf_overloaded" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udfov")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, typeof(true) as tob, typeof(1) as toi, typeof(3.14) as tof, typeof('str') as tos"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: typeof
              |    classpath: graft.functions.udfexamples.TypeOfFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        val to = "Boolean: true, Integer: 1, Double: 3.14, String: str"
        // full event sequence (ITCase :307-318)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,tob,toi,tof,tos",
          s"before=[], after=[1, 1, $to], op=INSERT, meta=({op_ts=1})",
          s"before=[], after=[2, 2, $to], op=INSERT, meta=({op_ts=2})",
          s"before=[], after=[3, 3, $to], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          s"before=[1, 1, $to], after=[], op=DELETE, meta=({op_ts=4})",
          s"before=[2, , $to], after=[2, x, $to], op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testUdfLifecycle:322: open() runs before the
    // first eval, every eval returns `#<counter++>`, close() reports the
    // count. Spark evaluates projection expressions per-image and per-plan-
    // node, so absolute counter values are an engine detail — the gate
    // asserts the lifecycle (open ran) and the `#N` value shape, normalized.
    "c_conformance_udf_lifecycle" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udflc")
      val openedBefore = graft.functions.udfexamples.LifecycleFunctionClass.openedCount.get
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, lifecycle() as stt"
              |    primary-keys: col1
              |user-defined-function:
              |  - name: lifecycle
              |    classpath: graft.functions.udfexamples.LifecycleFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        require(
          graft.functions.udfexamples.LifecycleFunctionClass.openedCount.get > openedBefore,
          "lifecycle open() must run before the first eval (ITCase :360)")
        require(db.schemaOf(t).exists(_.columnNames == Seq("col1", "newCol3", "stt")),
          s"lifecycle shape per ITCase:359, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t)
          .selectExpr("col1", "newCol3",
            "regexp_replace(stt, '#[0-9]+', '#N') AS stt")
          .orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testTypeHintedUdf:395: an Object-typed eval
    // whose STRING return type comes from the declared hint (getReturnType),
    // not the signature — every record gets 'Forty-two'.
    "c_conformance_udf_typehint" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("udfth")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, answer() as ans"
              |    primary-keys: col1
              |user-defined-function:
              |  - name: answer
              |    classpath: graft.functions.udfexamples.TypeHintFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        // full event sequence (ITCase :448-459)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,ans",
          "before=[], after=[1, 1, Forty-two], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, Forty-two], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, Forty-two], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1, Forty-two], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, , Forty-two], after=[2, x, Forty-two], op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testTransformWithFlinkUdf:555: a VANILLA
    // ScalarFunction-SHAPED class (typed eval overloads incl. the variadic
    // `eval(String, Object...)`, no CDC UDF interface) accepted through the
    // same YAML — the reference detects the ScalarFunction superclass
    // (`UserDefinedFunctionDescriptor.java:85-103`); graft introspects the
    // public eval surface ([[graft.functions.ReflectiveUdf]]).
    "c_conformance_udf_flink_transform" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("fudftr")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, format('from %s to %s is %s', col1, 'z', 'lie') AS fmt"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: format
              |    classpath: graft.functions.udfexamples.flinkshaped.FormatFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        // full event sequence (ITCase :594-605) — identical to the CDC-UDF
        // twin: the registration path differs, the data plane must not
        requireEventSequence(db, t, Seq(
          "create:col1,col2,fmt",
          "before=[], after=[1, 1, from 1 to z is lie], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, from 2 to z is lie], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, from 3 to z is lie], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1, from 1 to z is lie], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, , from 2 to z is lie], after=[2, x, from 2 to z is lie], " +
            "op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testComplicatedFlinkUdf:764-839: THREE
    // ScalarFunction-shaped UDFs in one projection — NESTED calls
    // (`addone(addone(col1))`), an int-literal dispatch (`typeof(42)` picks
    // the Integer overload), and the VARIADIC format with a mixed
    // String/int argument list — over the full TRANSFORM_TABLE evolution.
    // Also covers FlinkPipelineUdfITCase.testComplicatedUdf:466: the same
    // projection and asserted events, declared through the CDC
    // `UserDefinedFunction` interface instead of ScalarFunction — in graft
    // both interfaces resolve through the same UdfRegistry dispatch
    // (PipelineRunner udf wiring), so this gate pins both entry points.
    "c_conformance_complicated_udf" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("cudf")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, addone(addone(col1)) as inccol, typeof(42) as typ, format('%s-%d', col1, 42) as fmt"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: addone
              |    classpath: graft.functions.udfexamples.flinkshaped.AddOneFunctionClass
              |  - name: typeof
              |    classpath: graft.functions.udfexamples.flinkshaped.TypeOfFunctionClass
              |  - name: format
              |    classpath: graft.functions.udfexamples.flinkshaped.FormatFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        // full event sequence (ITCase :828-838)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,inccol,typ,fmt",
          "before=[], after=[1, 1, 3, Integer: 42, 1-42], op=INSERT, meta=({op_ts=1})",
          "before=[], after=[2, 2, 4, Integer: 42, 2-42], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, 5, Integer: 42, 3-42], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[1, 1, 3, Integer: 42, 1-42], after=[], op=DELETE, meta=({op_ts=4})",
          "before=[2, , 4, Integer: 42, 2-42], after=[2, x, 4, Integer: 42, 2-42], " +
            "op=UPDATE, meta=({op_ts=5})"))
        require(db.schemaOf(t).exists(_.options.get("key1").contains("value1")),
          s"table-options must reach the sink, got ${db.schemaOf(t).map(_.options)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testTransformWithModel:844-908: a YAML
    // `model:` entry (`model-name: CHAT`, `class-name: OpenAIChatModel`,
    // openai.* options) makes `CHAT(col1)` a chat completion inside the
    // projection — served here by the loopback OpenAI-protocol double
    // speaking the genuine wire format (the reference's @Disabled note is
    // quota, not semantics; the deterministic double pins the full stream
    // where the reference could only pin hasSize(9)).
    "c_conformance_transform_model" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("tmodel")
      val ep = graft.functions.MockModelServer.endpoint("gpt-4o-mini")
      def chat(v: String) = graft.functions.ModelFunctions.deterministicChat("gpt-4o-mini", v)
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            s"""transform:
               |  - source-table: default_schema.table1
               |    projection: "*, CHAT(col1) AS emb"
               |    primary-keys: col1
               |    table-options: key1=value1
               |model:
               |  - model-name: CHAT
               |    class-name: OpenAIChatModel
               |    openai.model: gpt-4o-mini
               |    openai.host: ${ep.baseUrl}
               |    openai.apikey: ${ep.apiKey.get}""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        // the reference asserts the create line + hasSize(9); the
        // deterministic double lets the remaining 8 lines pin exactly
        requireEventSequence(db, t, Seq(
          "create:col1,col2,emb",
          s"before=[], after=[1, 1, ${chat("1")}], op=INSERT, meta=({op_ts=1})",
          s"before=[], after=[2, 2, ${chat("2")}], op=INSERT, meta=({op_ts=2})",
          s"before=[], after=[3, 3, ${chat("3")}], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          s"before=[1, 1, ${chat("1")}], after=[], op=DELETE, meta=({op_ts=4})",
          s"before=[2, , ${chat("2")}], after=[2, x, ${chat("2")}], " +
            "op=UPDATE, meta=({op_ts=5})"))
        require(db.schemaOf(t).exists(_.options.get("key1").contains("value1")),
          s"table-options must reach the sink, got ${db.schemaOf(t).map(_.options)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testFilterWithFlinkUdf:626: the ScalarFunction-
    // shaped addone (two typed overloads) referenced by projection AND
    // filter.
    "c_conformance_udf_flink_filter" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("fudffl")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, addone(col1) as collen"
              |    filter: "addone(col1) <> '2'"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: addone
              |    classpath: graft.functions.udfexamples.flinkshaped.AddOneFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        // full event sequence (ITCase :665-673)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,collen",
          "before=[], after=[2, 2, 3], op=INSERT, meta=({op_ts=2})",
          "before=[], after=[3, 3, 4], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          "before=[2, , 3], after=[2, x, 3], op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineUdfITCase.testOverloadedFlinkUdf:694: overload dispatch
    // through the ScalarFunction-shaped registration path.
    "c_conformance_udf_flink_overloaded" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("fudfov")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, typeof(true) as tob, typeof(1) as toi, typeof(3.14) as tof, typeof('str') as tos"
              |    primary-keys: col1
              |    table-options: key1=value1
              |user-defined-function:
              |  - name: typeof
              |    classpath: graft.functions.udfexamples.flinkshaped.TypeOfFunctionClass""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain, opTs = true)
        }
        val to = "Boolean: true, Integer: 1, Double: 3.14, String: str"
        // full event sequence (ITCase :750-761)
        requireEventSequence(db, t, Seq(
          "create:col1,col2,tob,toi,tof,tos",
          s"before=[], after=[1, 1, $to], op=INSERT, meta=({op_ts=1})",
          s"before=[], after=[2, 2, $to], op=INSERT, meta=({op_ts=2})",
          s"before=[], after=[3, 3, $to], op=INSERT, meta=({op_ts=3})",
          "add:col3 AFTER col2",
          "rename:col2->newCol2,col3->newCol3",
          "drop:newCol2",
          s"before=[1, 1, $to], after=[], op=DELETE, meta=({op_ts=4})",
          s"before=[2, , $to], after=[2, x, $to], op=UPDATE, meta=({op_ts=5})"))
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineTransformITCase.testVanillaTransformWithSchemaEvolution
    // :1336-1419 (EVOLVE, generateSchemaEvolutionEvents :3118-3245): five
    // stages — initial, ADD (rank FIRST + gender LAST), ALTER TYPE
    // (gender->INT, name->VARCHAR(17), age->DOUBLE), RENAME
    // (gender->biological_sex, age->toshi), DROP (both) — each with its own
    // insert/update/delete traffic. Final shape (rank, id, name).
    "c_conformance_schema_evolution" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("evo")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE") { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        // a transform-LESS pipeline has no Pre operator: the fixture's raw
        // FIRST/LAST positions reach the sink unanchored
        requireDdlSequence(db, t, Seq(
          "create:id,name,age",
          "add:rank FIRST,gender",
          "alter:age->double,gender->int,name->string",
          "rename:age->toshi,gender->biological_sex",
          "drop:biological_sex,toshi"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name")),
          s"final shape per ITCase, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testWildcardTransformWithSchemaEvolution
    // :1422-1514: the SAME five-stage event set through a `*` transform —
    // every schema event must project through the wildcard rule unchanged
    // and produce the identical final state.
    "c_conformance_wildcard_evolution" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("wild")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    projection: "*"""".stripMargin) { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        // with a transform in the chain (plain `*` included), FIRST/LAST
        // anchor to the pre-transform schema (BEFORE id / AFTER age)
        requireDdlSequence(db, t, Seq(
          "create:id,name,age",
          "add:rank BEFORE id,gender AFTER age",
          "alter:age->double,gender->int,name->string",
          "rename:age->toshi,gender->biological_sex",
          "drop:biological_sex,toshi"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name")),
          s"final shape per ITCase, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testCalculatedColumns:145-168: computed
    // columns `*, id || name AS uid, age * 2 AS double_age` appended to two
    // differently-shaped tables (getTestEvents :1274).
    "c_conformance_calculated_columns" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "calc",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, id || name AS uid, age * 2 AS double_age"""".stripMargin)
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, r.getString(3), r.getInt(4)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), r.getString(4), r.getInt(5)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "uid", "double_age")
        .orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testFilteringRules:222-247: filter-only
    // rule `CHAR_LENGTH(name) > 3` — drops Bob's insert AND update (so the
    // row never lands), keeps Carol, lets Derrida's delete through.
    "c_conformance_filter_rules" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "filter",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    filter: "CHAR_LENGTH(name) > 3"""".stripMargin)
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultipleDispatchTransform:250-281:
    // TWO rules match every table; each record goes to the FIRST rule
    // whose filter accepts it (age<20 -> YOUNG, else OLD).
    "c_conformance_multi_dispatch" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "dispatch",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, 'YOUNG' AS category"
          |    filter: "age < 20"
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, 'OLD' AS category"
          |    filter: "age >= 20"""".stripMargin)
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, r.getString(3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), r.getString(4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "category")
        .orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultipleTransformWithDiffRefColumn
    // :285-316: dispatched rules whose projections REFERENCE DIFFERENT
    // columns for the same output (constant 'Juvenile' vs `name`).
    "c_conformance_dispatch_ref_cols" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "refcols",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "id, age, 'Juvenile' AS roleName"
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable\.*
          |    projection: "id, age, name AS roleName"
          |    filter: "age >= 18"""".stripMargin)
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getInt(1), r.getString(2)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getByte(1).toInt, r.getString(2)))
      (a ++ b).toDF("tbl", "id", "age", "roleName").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultipleReferencedColumnsInProjection
    // :172-196: one column referenced THREE times in a single projection
    // expression (`CAST(age * age * age AS INT) AS cubic_age`) — pins the
    // full event sequence incl. the update's 8000 -> 27000 image pair.
    "c_conformance_multi_ref_projection" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "multiref",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, CAST(age * age * age AS INT) AS cubic_age"""".stripMargin)
      requireEventSequence(db, t1, Seq(
        "create:id,name,age,cubic_age",
        "before=[], after=[1, Alice, 18, 5832], op=INSERT, meta=()",
        "before=[], after=[2, Bob, 20, 8000], op=INSERT, meta=()",
        "before=[2, Bob, 20, 8000], after=[2, Bob, 30, 27000], op=UPDATE, meta=()"))
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description,cubic_age",
        "before=[], after=[3, Carol, 15, student, 3375], op=INSERT, meta=()",
        "before=[], after=[4, Derrida, 25, student, 15625], op=INSERT, meta=()",
        "before=[4, Derrida, 25, student, 15625], after=[], op=DELETE, meta=()"))
      require(db.schemaOf(t1).exists(_.struct("cubic_age").dataType == IntegerType),
        s"cubic_age must type INT per the explicit cast, got ${db.schemaOf(t1)}")
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, r.getInt(3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), r.getInt(4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "cubic_age")
        .orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultipleReferencedColumnsInFilter
    // :200-219: one column referenced twice in the filter
    // (`id > 2 AND id < 4`) — mytable1 loses ALL rows (its CreateTableEvent
    // still reaches the sink), mytable2 keeps only Carol's insert (Derrida's
    // insert AND delete are both dropped).
    "c_conformance_multi_ref_filter" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "multireff",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    filter: "id > 2 AND id < 4"""".stripMargin)
      requireEventSequence(db, t1, Seq("create:id,name,age"))
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description",
        "before=[], after=[3, Carol, 15, student], op=INSERT, meta=()"))
      import s.implicits._
      stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
        .toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultiTransformWithAsterisk:320-351:
    // two rules on mytable2 — `*,'Juvenile' AS roleName` (age < 18) vs an
    // EXPLICIT equivalent list `id,name,age,description,name AS roleName`
    // (age >= 18). The wildcard and explicit shapes merge into ONE sink
    // schema; dispatch picks the first accepting rule per record.
    "c_conformance_multi_transform_asterisk" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "mtast",
        """transform:
          |  - source-table: default_schema.mytable2
          |    projection: "*,'Juvenile' AS roleName"
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable2
          |    projection: "id,name,age,description,name AS roleName"
          |    filter: "age >= 18"""".stripMargin)
      // mytable1 is matched by NO rule: raw passthrough
      requireEventSequence(db, t1, Seq(
        "create:id,name,age",
        "before=[], after=[1, Alice, 18], op=INSERT, meta=()",
        "before=[], after=[2, Bob, 20], op=INSERT, meta=()",
        "before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE, meta=()"))
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description,roleName",
        "before=[], after=[3, Carol, 15, student, Juvenile], op=INSERT, meta=()",
        "before=[], after=[4, Derrida, 25, student, Derrida], op=INSERT, meta=()",
        "before=[4, Derrida, 25, student, Derrida], after=[], op=DELETE, meta=()"))
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, null: String))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), r.getString(4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "roleName")
        .orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultiTransformMissingProjection
    // :355-388: rule 1 has NO projection (identity passthrough) + filter
    // age < 18; rule 2 projects `id,UPPER(name) AS name,age,description`
    // for age >= 18. The merged sink schema widens name to STRING; Carol
    // rides rule 1 unchanged, Derrida rides rule 2 uppercased.
    "c_conformance_multi_transform_missing_proj" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "mtmiss",
        """transform:
          |  - source-table: default_schema.mytable2
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable2
          |    projection: "id,UPPER(name) AS name,age,description"
          |    filter: "age >= 18"""".stripMargin)
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description",
        "before=[], after=[3, Carol, 15, student], op=INSERT, meta=()",
        "before=[], after=[4, DERRIDA, 25, student], op=INSERT, meta=()",
        "before=[4, DERRIDA, 25, student], after=[], op=DELETE, meta=()"))
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testMultiTransformWithNullEmptyAsteriskProjections
    // :470-532: null, "" and "*" projections are all the SAME identity rule —
    // three equivalent age<18 rules stack in front of an explicit age>=18
    // rule and the result is identical to the two-rule missing-projection
    // case (first-match dispatch walks past the non-accepting clones).
    "c_conformance_multi_transform_null_empty_asterisk" -> ((s, _) => {
      val (db, _, t2) = runTwoTableTransform(s, "mtnull",
        """transform:
          |  - source-table: default_schema.mytable2
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable2
          |    projection: ""
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable2
          |    projection: "*"
          |    filter: "age < 18"
          |  - source-table: default_schema.mytable2
          |    projection: "id,UPPER(name) AS name,age,description"
          |    filter: "age >= 18"""".stripMargin)
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description",
        "before=[], after=[3, Carol, 15, student], op=INSERT, meta=()",
        "before=[], after=[4, DERRIDA, 25, student], op=INSERT, meta=()",
        "before=[4, DERRIDA, 25, student], after=[], op=DELETE, meta=()"))
      import s.implicits._
      stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
        .toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // FlinkPipelineTransformITCase
    // .testMultiTransformSchemaColumnsCompatibilityWithNullProjection:391 +
    // .testMultiTransformSchemaColumnsCompatibilityWithEmptyProjection:431-467: an identity rule
    // (null or "" projection) stacked with a PARTIAL projection
    // (`id,UPPER(name) AS name`) cannot merge — the column-name views
    // differ (4 columns vs 2) and composition must fail loudly, never
    // silently pick one shape (`SchemaMergingUtils.strictlyMergeSchemas:371`).
    "c_conformance_multi_transform_incompatible" -> ((s, _) => {
      def attempt(projYaml: String): Option[String] =
        try {
          runTwoTableTransform(s, "mtbad",
            s"""transform:
               |  - source-table: default_schema.mytable2
               |$projYaml
               |    filter: "age < 18"
               |  - source-table: default_schema.mytable2
               |    projection: "id,UPPER(name) AS name"
               |    filter: "age >= 18"""".stripMargin)
          None
        } catch { case e: Throwable =>
          Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .map(c => String.valueOf(c.getMessage)).mkString(" | "))
        }
      val results = Seq(
        "null_projection" -> attempt("    # no projection key at all"),
        "empty_projection" -> attempt("    projection: \"\""))
      results.foreach { case (tag, err) =>
        require(err.exists(m => m.contains("more than one column name views") &&
          m.contains("[id, name, age, description]") && m.contains("[id, name]")),
          s"$tag must fail citing both column name views, got $err")
      }
      import s.implicits._
      results.map { case (tag, err) => (tag, err.isDefined) }
        .toDF("projection_case", "merge_rejected").orderBy("projection_case")
    }),

    // FlinkPipelineTransformITCase.testTransformMergingIncompatibleRules
    // :1142-1171: a table-specific rule (`*, 'rule_1_matched' ...`, id > 0)
    // plus a catch-all fallback (`*, 'rule_fallback' ...`) both match
    // mytable1 with DIFFERENT appended column names — composition fails
    // citing both name views, per the reference's exact failure mode.
    "c_conformance_merging_incompatible_rules" -> ((s, _) => {
      val err =
        try {
          runTwoTableTransform(s, "mergebad",
            """transform:
              |  - source-table: \.*.mytable1
              |    projection: "*, 'rule_1_matched' AS rule_1_matched"
              |    filter: "id > 0"
              |    primary-keys: id
              |  - source-table: \.*.\.*
              |    projection: "*, 'rule_fallback' AS rule_fallback"
              |    primary-keys: id""".stripMargin)
          None
        } catch { case e: Throwable =>
          Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .map(c => String.valueOf(c.getMessage)).mkString(" | "))
        }
      require(err.exists(m => m.contains("more than one column name views") &&
        m.contains("[id, name, age, rule_1_matched]") &&
        m.contains("[id, name, age, rule_fallback]")),
        s"incompatible rules must fail citing both column name views, got $err")
      import s.implicits._
      Seq(("incompatible_rules", true)).toDF("rule_case", "merge_rejected")
    }),

    // FlinkPipelineTransformITCase.testTransformWithLargeLiterals:2337-2433:
    // boundary integer literals must type like the reference dialect —
    // 2147483647 INT, 2147483648 BIGINT, -2147483648 INT (unary minus folds
    // INTO the literal, it is not BIGINT-widened), -2147483649 BIGINT, and
    // an explicit CAST to DECIMAL(19, 0) — through the full five-stage
    // schema-evolution script with a BIGINT-overflow-proof filter
    // (`CAST(id AS BIGINT) + 2147483648 > 2147483649`, i.e. id > 1).
    "c_conformance_large_literals" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("biglit")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    projection: "*, 2147483647 AS int_max, 2147483648 AS greater_than_int_max, -2147483648 AS int_min, -2147483649 AS less_than_int_min, CAST(1234567890123456789 AS DECIMAL(19, 0)) AS really_big_decimal"
              |    filter: "CAST(id AS BIGINT) + 2147483648 > 2147483649"""".stripMargin) { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        // the literal-typed sink schema is the point: INT/BIGINT straddle
        // the int boundary exactly like Calcite's literal typing
        val st = db.schemaOf(t).get.struct
        val expectTypes = Seq(
          "int_max" -> IntegerType, "greater_than_int_max" -> LongType,
          "int_min" -> IntegerType, "less_than_int_min" -> LongType,
          "really_big_decimal" -> DecimalType(19, 0))
        expectTypes.foreach { case (n, dt) =>
          require(st(n).dataType == dt,
            s"$n must type ${dt.simpleString}, got ${st(n).dataType.simpleString}")
        }
        val L = "2147483647, 2147483648, -2147483648, -2147483649, 1234567890123456789"
        requireEventSequence(db, t, Seq(
          "create:id,name,age,int_max,greater_than_int_max,int_min,less_than_int_min,really_big_decimal",
          s"before=[], after=[2, Barcarolle, 22, $L], op=INSERT, meta=()",
          s"before=[], after=[3, Cecily, 23, $L], op=INSERT, meta=()",
          s"before=[3, Cecily, 23, $L], after=[3, Colin, 24, $L], op=UPDATE, meta=()",
          s"before=[2, Barcarolle, 22, $L], after=[], op=DELETE, meta=()",
          "add:rank BEFORE id,gender AFTER age",
          s"before=[], after=[1st, 4, Derrida, 24, 0, $L], op=INSERT, meta=()",
          s"before=[], after=[2nd, 5, Eve, 25, 1, $L], op=INSERT, meta=()",
          s"before=[2nd, 5, Eve, 25, 1, $L], after=[2nd, 5, Eva, 20, 2, $L], op=UPDATE, meta=()",
          s"before=[], after=[3rd, 6, Fiona, 26, 3, $L], op=INSERT, meta=()",
          s"before=[3rd, 6, Fiona, 26, 3, $L], after=[], op=DELETE, meta=()",
          "alter:age->double,gender->int,name->string",
          s"before=[], after=[4th, 7, Gem, 19.0, -1, $L], op=INSERT, meta=()",
          s"before=[], after=[5th, 8, Helen, 18.0, -2, $L], op=INSERT, meta=()",
          s"before=[5th, 8, Helen, 18.0, -2, $L], after=[5th, 8, Harry, 18.0, -3, $L], op=UPDATE, meta=()",
          s"before=[], after=[6th, 9, IINA, 17.0, 0, $L], op=INSERT, meta=()",
          s"before=[6th, 9, IINA, 17.0, 0, $L], after=[], op=DELETE, meta=()",
          "rename:age->toshi,gender->biological_sex",
          s"before=[], after=[7th, 10, Julia, 24.0, 1, $L], op=INSERT, meta=()",
          s"before=[], after=[8th, 11, Kalle, 23.0, 0, $L], op=INSERT, meta=()",
          s"before=[8th, 11, Kalle, 23.0, 0, $L], after=[8th, 11, Kella, 18.0, 0, $L], op=UPDATE, meta=()",
          s"before=[], after=[9th, 12, Lynx, 17.0, 0, $L], op=INSERT, meta=()",
          s"before=[9th, 12, Lynx, 17.0, 0, $L], after=[], op=DELETE, meta=()",
          "drop:biological_sex,toshi",
          s"before=[], after=[10th, 13, Munroe, $L], op=INSERT, meta=()",
          s"before=[], after=[11th, 14, Neko, $L], op=INSERT, meta=()",
          s"before=[11th, 14, Neko, $L], after=[11th, 14, Nein, $L], op=UPDATE, meta=()",
          s"before=[], after=[12th, 15, Oops, $L], op=INSERT, meta=()",
          s"before=[12th, 15, Oops, $L], after=[], op=DELETE, meta=()"))
        // DECIMAL(19, 0) is asserted above at the schema surface; the
        // comparison surface renders it as STRING (exact digits — a DOUBLE
        // cast would round 1234567890123456789)
        stateDf(s, db, t)
          .withColumn("really_big_decimal", col("really_big_decimal").cast("string"))
          .orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testMetadataInfoWithoutChangingSchema
    // :566-590: a transform block with NEITHER projection NOR filter — only
    // pk/partition/options overrides — leaves every data image untouched
    // while the creates carry the overridden metadata.
    "c_conformance_metadata_info_unchanged" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "metaonly",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    primary-keys: id,name
          |    partition-keys: id
          |    table-options: replication_num=1,bucket=17""".stripMargin)
      requireEventSequence(db, t1, Seq(
        "create:id,name,age",
        "before=[], after=[1, Alice, 18], op=INSERT, meta=()",
        "before=[], after=[2, Bob, 20], op=INSERT, meta=()",
        "before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE, meta=()"))
      requireEventSequence(db, t2, Seq(
        "create:id,name,age,description",
        "before=[], after=[3, Carol, 15, student], op=INSERT, meta=()",
        "before=[], after=[4, Derrida, 25, student], op=INSERT, meta=()",
        "before=[4, Derrida, 25, student], after=[], op=DELETE, meta=()"))
      Seq(t1, t2).foreach { t =>
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.primaryKeys == Seq("id", "name") &&
          sch.partitionKeys == Seq("id") &&
          sch.options.get("replication_num").contains("1") &&
          sch.options.get("bucket").contains("17"),
          s"metadata-info overrides must reach $t, got $sch")
      }
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testExplicitPrimaryKeyWithNullable
    // :1981-2073: an explicit pk override onto a NULLABLE column (`name`)
    // plus partition keys `id,name`, through the full five-stage evolution —
    // the override does NOT rewrite images or force NOT NULL, and the sink
    // materializes BY NAME (pk-changing updates follow update-is-insert,
    // ValuesDatabase.java:382 — both Cecily and Colin survive the update).
    "c_conformance_explicit_pk_nullable" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("pknull")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    primary-keys: name
              |    partition-keys: id,name""".stripMargin) { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        val sch = db.schemaOf(t).getOrElse(sys.error(s"missing $t"))
        require(sch.primaryKeys == Seq("name") && sch.partitionKeys == Seq("id", "name"),
          s"explicit nullable pk must override, got $sch")
        requireEventSequence(db, t, Seq(
          "create:id,name,age",
          "before=[], after=[1, Alice, 21], op=INSERT, meta=()",
          "before=[], after=[2, Barcarolle, 22], op=INSERT, meta=()",
          "before=[], after=[3, Cecily, 23], op=INSERT, meta=()",
          "before=[3, Cecily, 23], after=[3, Colin, 24], op=UPDATE, meta=()",
          "before=[2, Barcarolle, 22], after=[], op=DELETE, meta=()",
          "add:rank BEFORE id,gender AFTER age",
          "before=[], after=[1st, 4, Derrida, 24, 0], op=INSERT, meta=()",
          "before=[], after=[2nd, 5, Eve, 25, 1], op=INSERT, meta=()",
          "before=[2nd, 5, Eve, 25, 1], after=[2nd, 5, Eva, 20, 2], op=UPDATE, meta=()",
          "before=[], after=[3rd, 6, Fiona, 26, 3], op=INSERT, meta=()",
          "before=[3rd, 6, Fiona, 26, 3], after=[], op=DELETE, meta=()",
          "alter:age->double,gender->int,name->string",
          "before=[], after=[4th, 7, Gem, 19.0, -1], op=INSERT, meta=()",
          "before=[], after=[5th, 8, Helen, 18.0, -2], op=INSERT, meta=()",
          "before=[5th, 8, Helen, 18.0, -2], after=[5th, 8, Harry, 18.0, -3], op=UPDATE, meta=()",
          "before=[], after=[6th, 9, IINA, 17.0, 0], op=INSERT, meta=()",
          "before=[6th, 9, IINA, 17.0, 0], after=[], op=DELETE, meta=()",
          "rename:age->toshi,gender->biological_sex",
          "before=[], after=[7th, 10, Julia, 24.0, 1], op=INSERT, meta=()",
          "before=[], after=[8th, 11, Kalle, 23.0, 0], op=INSERT, meta=()",
          "before=[8th, 11, Kalle, 23.0, 0], after=[8th, 11, Kella, 18.0, 0], op=UPDATE, meta=()",
          "before=[], after=[9th, 12, Lynx, 17.0, 0], op=INSERT, meta=()",
          "before=[9th, 12, Lynx, 17.0, 0], after=[], op=DELETE, meta=()",
          "drop:biological_sex,toshi",
          "before=[], after=[10th, 13, Munroe], op=INSERT, meta=()",
          "before=[], after=[11th, 14, Neko], op=INSERT, meta=()",
          "before=[11th, 14, Neko], after=[11th, 14, Nein], op=UPDATE, meta=()",
          "before=[], after=[12th, 15, Oops], op=INSERT, meta=()",
          "before=[12th, 15, Oops], after=[], op=DELETE, meta=()"))
        stateDf(s, db, t).orderBy("name")
      }
    }),

    // FlinkPipelineTransformITCase.testTransformProjectionWithUnicodeCharacters
    // :2817-2851: non-ASCII literals survive the whole YAML → dialect →
    // Catalyst → envelope → sink path byte-identically, composed into
    // computed columns BEFORE and AFTER the wildcard. A representative
    // subset runs the reference's per-string pipeline loop (ASCII-punct,
    // CJK, RTL); the full 12-string matrix rides
    // [[c_conformance_unicode_matrix]] in one run.
    "c_conformance_unicode_projection" -> ((s, _) => {
      import s.implicits._
      val rows = Seq("ascii test!?", "测试数据", "בבקשה").flatMap { u =>
        val (db, t1, t2) = runTwoTableTransform(s, "uproj",
          s"""transform:
             |  - source-table: default_schema.mytable\\.*
             |    projection: "'$u' || ' -> ' || id AS prefix, *, id || ' <- ' || '$u' AS suffix"
             |    partition-keys: id""".stripMargin)
        requireEventSequence(db, t1, Seq(
          "create:prefix,id,name,age,suffix",
          s"before=[], after=[$u -> 1, 1, Alice, 18, 1 <- $u], op=INSERT, meta=()",
          s"before=[], after=[$u -> 2, 2, Bob, 20, 2 <- $u], op=INSERT, meta=()",
          s"before=[$u -> 2, 2, Bob, 20, 2 <- $u], after=[$u -> 2, 2, Bob, 30, 2 <- $u], " +
            "op=UPDATE, meta=()"))
        requireEventSequence(db, t2, Seq(
          "create:prefix,id,name,age,description,suffix",
          s"before=[], after=[$u -> 3, 3, Carol, 15, student, 3 <- $u], op=INSERT, meta=()",
          s"before=[], after=[$u -> 4, 4, Derrida, 25, student, 4 <- $u], op=INSERT, meta=()",
          s"before=[$u -> 4, 4, Derrida, 25, student, 4 <- $u], after=[], op=DELETE, meta=()"))
        stateDf(s, db, t1).collect().toSeq.map(r =>
          (u, "mytable1", r.getInt(1).toLong, r.getString(0), r.getString(4))) ++
          stateDf(s, db, t2).collect().toSeq.map(r =>
            (u, "mytable2", r.getLong(1), r.getString(0), r.getString(5)))
      }
      rows.toDF("ustr", "tbl", "id", "prefix", "suffix").orderBy("ustr", "id")
    }),

    // FlinkPipelineTransformITCase.testTransformFilterWithUnicodeCharacters
    // :2854-2901: a unicode literal in the FILTER — equality keeps every row
    // (the computed extras equals the literal), inequality drops them ALL
    // (creates still reach the sink).
    "c_conformance_unicode_filter" -> ((s, _) => {
      import s.implicits._
      val keep = Seq("ascii test!?", "测试数据", "בבקשה").flatMap { u =>
        val (db, t1, t2) = runTwoTableTransform(s, "ufilt",
          s"""transform:
             |  - source-table: default_schema.mytable\\.*
             |    projection: "*, '$u' AS extras"
             |    filter: "extras = '$u'"
             |    partition-keys: id""".stripMargin)
        requireEventSequence(db, t1, Seq(
          "create:id,name,age,extras",
          s"before=[], after=[1, Alice, 18, $u], op=INSERT, meta=()",
          s"before=[], after=[2, Bob, 20, $u], op=INSERT, meta=()",
          s"before=[2, Bob, 20, $u], after=[2, Bob, 30, $u], op=UPDATE, meta=()"))
        stateDf(s, db, t1).collect().toSeq.map(r =>
          (u, "mytable1", r.getInt(0).toLong, r.getString(3))) ++
          stateDf(s, db, t2).collect().toSeq.map(r =>
            // mytable2 carries description before extras: (id, name, age,
            // description, extras)
            (u, "mytable2", r.getLong(0), r.getString(4)))
      }
      // inequality variant: both tables keep ONLY their create events
      val u = "测试数据"
      val (db, t1, t2) = runTwoTableTransform(s, "ufiltneg",
        s"""transform:
           |  - source-table: default_schema.mytable\\.*
           |    projection: "*, '$u' AS extras"
           |    filter: "extras <> '$u'"
           |    partition-keys: id""".stripMargin)
      requireEventSequence(db, t1, Seq("create:id,name,age,extras"))
      requireEventSequence(db, t2, Seq("create:id,name,age,description,extras"))
      keep.toDF("ustr", "tbl", "id", "extras").orderBy("ustr", "id")
    }),

    // The reference's full UNICODE_STRINGS matrix (:2800-2813) in ONE run:
    // all 12 literals as computed columns through the same path, each
    // asserted byte-identical at the sink.
    "c_conformance_unicode_matrix" -> ((s, _) => {
      val ustrs = Seq(
        "ascii test!?", "大五", "测试数据", "ひびぴ", "죠주쥬", "ÀÆÉ",
        "ÓÔŐÖ", "αβγδε", "בבקשה", "твой", "ภาษาไทย", "piedzimst brīvi")
      val cols = ustrs.indices.map(i => s"u$i")
      val proj = "*, " + ustrs.zip(cols).map { case (u, c) => s"'$u' AS $c" }.mkString(", ")
      val (db, t1, _) = runTwoTableTransform(s, "umatrix",
        s"""transform:
           |  - source-table: default_schema.mytable1
           |    projection: "$proj"""".stripMargin)
      val us = ustrs.mkString(", ")
      requireEventSequence(db, t1, Seq(
        "create:id,name,age," + cols.mkString(","),
        s"before=[], after=[1, Alice, 18, $us], op=INSERT, meta=()",
        s"before=[], after=[2, Bob, 20, $us], op=INSERT, meta=()",
        s"before=[2, Bob, 20, $us], after=[2, Bob, 30, $us], op=UPDATE, meta=()"))
      stateDf(s, db, t1).orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testTransformErrorMessage:2603-2738: the
    // transform failure surfaces — unknown columns in projection/filter,
    // a primary key missing from the projected shape (the reference's exact
    // wording), a pk that never existed, and string arithmetic faulting at
    // evaluation instead of silently nulling.
    "c_conformance_transform_error_message" -> ((s, _) => {
      def attempt(
          tag: String, projection: Option[String], filter: Option[String],
          pk: String): (String, Boolean, String) = {
        val t = TableId.parse("default_schema.mytable1")
        val src = new ScriptedChangeSource(t,
          schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
        val id = freshId(s"terr-$tag")
        registered(id -> src) {
          try {
            runPipeline(s, Seq(id -> src), "EVOLVE",
              extraYaml =
                s"""transform:
                   |  - source-table: default_schema.mytable1
                   |${projection.map(p => s"    projection: \"$p\"\n").getOrElse("")}${
                  filter.map(f => s"    filter: \"$f\"\n").getOrElse("")}    primary-keys: $pk""".stripMargin) { _ =>
              src.append(DataChangeEvent.insert(t,
                Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
            }
            (tag, false, "")
          } catch { case e: Throwable =>
            (tag, true,
              Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
                .map(c => String.valueOf(c.getMessage)).mkString(" | "))
          }
        }
      }
      val cases = Seq(
        attempt("unknown_projection_column", Some("id1"), None, "id"),
        attempt("unknown_filter_column", Some("*"), Some("id1 > 0"), "id"),
        attempt("pk_not_in_projection", Some("name"), None, "id"),
        attempt("string_arithmetic_projection", Some("id, name + 1 AS new_name"), None, "id"),
        attempt("string_arithmetic_filter", Some("*"), Some("name + 1 > 0"), "id"),
        attempt("pk_not_exist", Some("*"), None, "not_even_exist"))
      cases.foreach { case (tag, faulted, msg) =>
        require(faulted, s"$tag must fault, produced a running pipeline instead")
        tag match {
          case "unknown_projection_column" | "unknown_filter_column" =>
            require(msg.contains("id1"), s"$tag must cite the unknown column, got $msg")
          case "pk_not_in_projection" =>
            require(msg.contains("Unable to find column \"id\" which is defined as primary key"),
              s"$tag must carry the reference's wording, got $msg")
          case "pk_not_exist" =>
            require(msg.contains(
              "Unable to find column \"not_even_exist\" which is defined as primary key"),
              s"$tag must carry the reference's wording, got $msg")
          case _ => // string arithmetic: faulting (not silent NULL) is the pin
        }
      }
      import s.implicits._
      cases.map { case (tag, faulted, _) => (tag, faulted) }
        .toDF("err_case", "faulted").orderBy("err_case")
    }),

    // FlinkPipelineTransformITCase.testMetadataColumnWithWildcard:620-647:
    // `*, __namespace_name__, __schema_name__, __table_name__` appends the
    // metadata columns per 3-part table id. Subsumes the wildcard-less
    // FlinkPipelineTransformITCase.testMetadataColumn:593 (same metadata
    // identifiers with the columns spelled explicitly instead of `*` — a
    // strict subset of this projection over the same fixture).
    "c_conformance_metadata_wildcard" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "metaw",
        """transform:
          |  - source-table: default_namespace.default_schema.mytable\.*
          |    projection: "*, __namespace_name__, __schema_name__, __table_name__"""".stripMargin,
        idPrefix = "default_namespace.default_schema")
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String,
          r.getString(3), r.getString(4), r.getString(5)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3),
          r.getString(4), r.getString(5), r.getString(6)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description",
        "namespace_name", "schema_name", "table_name").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testTransformWithFallbackRules:1175: a
    // specific rule + catch-all fallback, BOTH filter-less, project DIFFERENT
    // shapes — first-match truncation (`getEffectiveTransformers:399-414`)
    // makes exactly one rule effective per table.
    "c_conformance_fallback_rules" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "fallback",
        """transform:
          |  - source-table: default_schema.mytable1
          |    projection: "*, 'rule_1_matched' AS rule_1_matched"
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, 'rule_fallback' AS rule_fallback"""".stripMargin)
      require(db.schemaOf(t1).exists(
        _.columnNames == Seq("id", "name", "age", "rule_1_matched")),
        s"mytable1 takes rule 1's shape ONLY, got ${db.schemaOf(t1).map(_.columnNames)}")
      require(db.schemaOf(t2).exists(
        _.columnNames == Seq("id", "name", "age", "description", "rule_fallback")),
        s"mytable2 takes the fallback shape, got ${db.schemaOf(t2).map(_.columnNames)}")
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, r.getString(3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), r.getString(4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "rule_col")
        .orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testExplicitTransformWithSchemaEvolution
    // :1517: an EXPLICIT projection (no wildcard) over the five-stage
    // evolution script — the ADD never surfaces, the ALTER narrows to the
    // projected column (name only), RENAME/DROP of projected-away columns
    // vanish. Final shape (id, name, extend_id).
    "c_conformance_explicit_evolution" -> ((s, _) => {
      val db = runEvolutionTransform(s, "explevo",
        "id, name, CAST(id AS VARCHAR) || ' -> ' || name AS extend_id")
      val t = TableId.parse("default_schema.mytable1")
      // the ONLY surfaced schema event is the ALTER narrowed to the
      // projected column (ITCase :1554 expects AlterColumnTypeEvent{name});
      // ADD/RENAME/DROP of projected-away columns never reach the sink
      requireDdlSequence(db, t, Seq(
        "create:id,name,extend_id",
        "alter:name->string"))
      // FULL 27-event sequence (ITCase :1569-1595): a fixed projection keeps
      // every image 3-col through all five evolution stages — adds/renames/
      // drops of projected-away columns leave NO trace in the data stream,
      // and the only surfaced DDL is the narrowed ALTER
      requireEventSequence(db, t, Seq(
        "create:id,name,extend_id",
        "before=[], after=[1, Alice, 1 -> Alice], op=INSERT, meta=()",
        "before=[], after=[2, Barcarolle, 2 -> Barcarolle], op=INSERT, meta=()",
        "before=[], after=[3, Cecily, 3 -> Cecily], op=INSERT, meta=()",
        "before=[3, Cecily, 3 -> Cecily], after=[3, Colin, 3 -> Colin], op=UPDATE, meta=()",
        "before=[2, Barcarolle, 2 -> Barcarolle], after=[], op=DELETE, meta=()",
        "before=[], after=[4, Derrida, 4 -> Derrida], op=INSERT, meta=()",
        "before=[], after=[5, Eve, 5 -> Eve], op=INSERT, meta=()",
        "before=[5, Eve, 5 -> Eve], after=[5, Eva, 5 -> Eva], op=UPDATE, meta=()",
        "before=[], after=[6, Fiona, 6 -> Fiona], op=INSERT, meta=()",
        "before=[6, Fiona, 6 -> Fiona], after=[], op=DELETE, meta=()",
        "alter:name->string",
        "before=[], after=[7, Gem, 7 -> Gem], op=INSERT, meta=()",
        "before=[], after=[8, Helen, 8 -> Helen], op=INSERT, meta=()",
        "before=[8, Helen, 8 -> Helen], after=[8, Harry, 8 -> Harry], op=UPDATE, meta=()",
        "before=[], after=[9, IINA, 9 -> IINA], op=INSERT, meta=()",
        "before=[9, IINA, 9 -> IINA], after=[], op=DELETE, meta=()",
        "before=[], after=[10, Julia, 10 -> Julia], op=INSERT, meta=()",
        "before=[], after=[11, Kalle, 11 -> Kalle], op=INSERT, meta=()",
        "before=[11, Kalle, 11 -> Kalle], after=[11, Kella, 11 -> Kella], op=UPDATE, meta=()",
        "before=[], after=[12, Lynx, 12 -> Lynx], op=INSERT, meta=()",
        "before=[12, Lynx, 12 -> Lynx], after=[], op=DELETE, meta=()",
        "before=[], after=[13, Munroe, 13 -> Munroe], op=INSERT, meta=()",
        "before=[], after=[14, Neko, 14 -> Neko], op=INSERT, meta=()",
        "before=[14, Neko, 14 -> Neko], after=[14, Nein, 14 -> Nein], op=UPDATE, meta=()",
        "before=[], after=[15, Oops, 15 -> Oops], op=INSERT, meta=()",
        "before=[15, Oops, 15 -> Oops], after=[], op=DELETE, meta=()"))
      require(db.schemaOf(t).exists(_.columnNames == Seq("id", "name", "extend_id")),
        s"explicit shape per ITCase:1554, got ${db.schemaOf(t).map(_.columnNames)}")
      stateDf(s, db, t).orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testPreAsteriskWithSchemaEvolution:1600:
    // `*, computed` — every schema event surfaces; FIRST/LAST add positions
    // anchor to the PRE-transform schema (`rank FIRST` → BEFORE id,
    // `gender LAST` → AFTER age) so extend_id stays the trailing column.
    // Final shape (rank, id, name, extend_id).
    // TransformOperatorWithSchemaEvolveTest.testSchemaChangeWithMidWildcard:
    // a wildcard with computed columns on BOTH sides (`c1, *, c2`) through
    // the full five-stage evolution — adds anchor INSIDE the wildcard span
    // (FIRST -> BEFORE id, LAST -> AFTER age, exactly like the pre/post
    // asterisk shapes), alters/renames/drops pass through, and both flanks
    // recompute per image at every stage.
    "c_conformance_mid_asterisk_evolution" -> ((s, _) => {
      val db = runEvolutionTransform(s, "midast",
        "CAST(id AS VARCHAR) || '<' AS c1, *, name || '>' AS c2")
      val t = TableId.parse("default_schema.mytable1")
      requireDdlSequence(db, t, Seq(
        "create:c1,id,name,age,c2",
        "add:rank BEFORE id,gender AFTER age",
        "alter:age->double,gender->int,name->string",
        "rename:age->toshi,gender->biological_sex",
        "drop:biological_sex,toshi"))
      def i0(id: Int, n: String, a: Any) = s"$id<, $id, $n, $a, $n>"
      def i1(r: String, id: Int, n: String, a: Any, g: Any) =
        s"$id<, $r, $id, $n, $a, $g, $n>"
      def i2(r: String, id: Int, n: String) = s"$id<, $r, $id, $n, $n>"
      requireEventSequence(db, t, Seq(
        "create:c1,id,name,age,c2",
        s"before=[], after=[${i0(1, "Alice", 21)}], op=INSERT, meta=()",
        s"before=[], after=[${i0(2, "Barcarolle", 22)}], op=INSERT, meta=()",
        s"before=[], after=[${i0(3, "Cecily", 23)}], op=INSERT, meta=()",
        s"before=[${i0(3, "Cecily", 23)}], after=[${i0(3, "Colin", 24)}], op=UPDATE, meta=()",
        s"before=[${i0(2, "Barcarolle", 22)}], after=[], op=DELETE, meta=()",
        "add:rank BEFORE id,gender AFTER age",
        s"before=[], after=[${i1("1st", 4, "Derrida", 24, 0)}], op=INSERT, meta=()",
        s"before=[], after=[${i1("2nd", 5, "Eve", 25, 1)}], op=INSERT, meta=()",
        s"before=[${i1("2nd", 5, "Eve", 25, 1)}], after=[${i1("2nd", 5, "Eva", 20, 2)}], " +
          "op=UPDATE, meta=()",
        s"before=[], after=[${i1("3rd", 6, "Fiona", 26, 3)}], op=INSERT, meta=()",
        s"before=[${i1("3rd", 6, "Fiona", 26, 3)}], after=[], op=DELETE, meta=()",
        "alter:age->double,gender->int,name->string",
        s"before=[], after=[${i1("4th", 7, "Gem", 19.0, -1)}], op=INSERT, meta=()",
        s"before=[], after=[${i1("5th", 8, "Helen", 18.0, -2)}], op=INSERT, meta=()",
        s"before=[${i1("5th", 8, "Helen", 18.0, -2)}], after=[${i1("5th", 8, "Harry", 18.0, -3)}], " +
          "op=UPDATE, meta=()",
        s"before=[], after=[${i1("6th", 9, "IINA", 17.0, 0)}], op=INSERT, meta=()",
        s"before=[${i1("6th", 9, "IINA", 17.0, 0)}], after=[], op=DELETE, meta=()",
        "rename:age->toshi,gender->biological_sex",
        s"before=[], after=[${i1("7th", 10, "Julia", 24.0, 1)}], op=INSERT, meta=()",
        s"before=[], after=[${i1("8th", 11, "Kalle", 23.0, 0)}], op=INSERT, meta=()",
        s"before=[${i1("8th", 11, "Kalle", 23.0, 0)}], after=[${i1("8th", 11, "Kella", 18.0, 0)}], " +
          "op=UPDATE, meta=()",
        s"before=[], after=[${i1("9th", 12, "Lynx", 17.0, 0)}], op=INSERT, meta=()",
        s"before=[${i1("9th", 12, "Lynx", 17.0, 0)}], after=[], op=DELETE, meta=()",
        "drop:biological_sex,toshi",
        s"before=[], after=[${i2("10th", 13, "Munroe")}], op=INSERT, meta=()",
        s"before=[], after=[${i2("11th", 14, "Neko")}], op=INSERT, meta=()",
        s"before=[${i2("11th", 14, "Neko")}], after=[${i2("11th", 14, "Nein")}], op=UPDATE, meta=()",
        s"before=[], after=[${i2("12th", 15, "Oops")}], op=INSERT, meta=()",
        s"before=[${i2("12th", 15, "Oops")}], after=[], op=DELETE, meta=()"))
      require(db.schemaOf(t).exists(_.columnNames == Seq("c1", "rank", "id", "name", "c2")),
        s"mid-wildcard final shape, got ${db.schemaOf(t).map(_.columnNames)}")
      stateDf(s, db, t).orderBy("id")
    }),

    "c_conformance_pre_asterisk_evolution" -> ((s, _) => {
      val db = runEvolutionTransform(s, "preast",
        "*, CAST(id AS VARCHAR) || ' -> ' || name AS extend_id")
      val t = TableId.parse("default_schema.mytable1")
      // derived events with REWRITTEN positions (ITCase :1731-1766):
      // rank FIRST -> BEFORE id, gender LAST -> AFTER age
      requireDdlSequence(db, t, Seq(
        "create:id,name,age,extend_id",
        "add:rank BEFORE id,gender AFTER age",
        "alter:age->double,gender->int,name->string",
        "rename:age->toshi,gender->biological_sex",
        "drop:biological_sex,toshi"))
      // FULL 30-event sequence (ITCase :1731-1766): images grow/shrink at
      // each stage boundary — 4-col initial, 6-col after the anchored adds,
      // DOUBLE ages after the alter, renamed columns carry values, and the
      // drop narrows images back to 4-col with extend_id trailing throughout
      requireEventSequence(db, t, Seq(
        "create:id,name,age,extend_id",
        "before=[], after=[1, Alice, 21, 1 -> Alice], op=INSERT, meta=()",
        "before=[], after=[2, Barcarolle, 22, 2 -> Barcarolle], op=INSERT, meta=()",
        "before=[], after=[3, Cecily, 23, 3 -> Cecily], op=INSERT, meta=()",
        "before=[3, Cecily, 23, 3 -> Cecily], after=[3, Colin, 24, 3 -> Colin], op=UPDATE, meta=()",
        "before=[2, Barcarolle, 22, 2 -> Barcarolle], after=[], op=DELETE, meta=()",
        "add:rank BEFORE id,gender AFTER age",
        "before=[], after=[1st, 4, Derrida, 24, 0, 4 -> Derrida], op=INSERT, meta=()",
        "before=[], after=[2nd, 5, Eve, 25, 1, 5 -> Eve], op=INSERT, meta=()",
        "before=[2nd, 5, Eve, 25, 1, 5 -> Eve], after=[2nd, 5, Eva, 20, 2, 5 -> Eva], op=UPDATE, meta=()",
        "before=[], after=[3rd, 6, Fiona, 26, 3, 6 -> Fiona], op=INSERT, meta=()",
        "before=[3rd, 6, Fiona, 26, 3, 6 -> Fiona], after=[], op=DELETE, meta=()",
        "alter:age->double,gender->int,name->string",
        "before=[], after=[4th, 7, Gem, 19.0, -1, 7 -> Gem], op=INSERT, meta=()",
        "before=[], after=[5th, 8, Helen, 18.0, -2, 8 -> Helen], op=INSERT, meta=()",
        "before=[5th, 8, Helen, 18.0, -2, 8 -> Helen], after=[5th, 8, Harry, 18.0, -3, 8 -> Harry], op=UPDATE, meta=()",
        "before=[], after=[6th, 9, IINA, 17.0, 0, 9 -> IINA], op=INSERT, meta=()",
        "before=[6th, 9, IINA, 17.0, 0, 9 -> IINA], after=[], op=DELETE, meta=()",
        "rename:age->toshi,gender->biological_sex",
        "before=[], after=[7th, 10, Julia, 24.0, 1, 10 -> Julia], op=INSERT, meta=()",
        "before=[], after=[8th, 11, Kalle, 23.0, 0, 11 -> Kalle], op=INSERT, meta=()",
        "before=[8th, 11, Kalle, 23.0, 0, 11 -> Kalle], after=[8th, 11, Kella, 18.0, 0, 11 -> Kella], op=UPDATE, meta=()",
        "before=[], after=[9th, 12, Lynx, 17.0, 0, 12 -> Lynx], op=INSERT, meta=()",
        "before=[9th, 12, Lynx, 17.0, 0, 12 -> Lynx], after=[], op=DELETE, meta=()",
        "drop:biological_sex,toshi",
        "before=[], after=[10th, 13, Munroe, 13 -> Munroe], op=INSERT, meta=()",
        "before=[], after=[11th, 14, Neko, 14 -> Neko], op=INSERT, meta=()",
        "before=[11th, 14, Neko, 14 -> Neko], after=[11th, 14, Nein, 14 -> Nein], op=UPDATE, meta=()",
        "before=[], after=[12th, 15, Oops, 15 -> Oops], op=INSERT, meta=()",
        "before=[12th, 15, Oops, 15 -> Oops], after=[], op=DELETE, meta=()"))
      require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name", "extend_id")),
        s"pre-asterisk shape per ITCase:1691, got ${db.schemaOf(t).map(_.columnNames)}")
      stateDf(s, db, t).orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testPostAsteriskWithSchemaEvolution:1695:
    // `computed, *` — same, with extend_id LEADING: the FIRST-positioned add
    // still lands BEFORE id, inside the wildcard span. Final shape
    // (extend_id, rank, id, name).
    "c_conformance_post_asterisk_evolution" -> ((s, _) => {
      val db = runEvolutionTransform(s, "postast",
        "CAST(id AS VARCHAR) || ' -> ' || name AS extend_id, *")
      val t = TableId.parse("default_schema.mytable1")
      require(db.schemaOf(t).exists(_.columnNames == Seq("extend_id", "rank", "id", "name")),
        s"post-asterisk shape per ITCase:1786, got ${db.schemaOf(t).map(_.columnNames)}")
      stateDf(s, db, t).orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testTransformUnmatchedSchemaEvolution:1885:
    // a transform whose selector matches NOTHING leaves the pipeline
    // untouched — identical to the no-transform evolution run.
    "c_conformance_unmatched_evolution" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("unmatched")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: foo.bar.baz
              |    projection: "*"""".stripMargin) { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        // even an UNMATCHED transform puts the Pre operator in the chain:
        // positions anchor (ITCase :1951 expects BEFORE id / AFTER age)
        requireDdlSequence(db, t, Seq(
          "create:id,name,age",
          "add:rank BEFORE id,gender AFTER age",
          "alter:age->double,gender->int,name->string",
          "rename:age->toshi,gender->biological_sex",
          "drop:biological_sex,toshi"))
        require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name")),
          s"unmatched transform must not perturb evolution, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testShadeOriginalColumnsWithDifferentType
    // :2755: `*, 0.5 + CAST(col1 AS DOUBLE) AS col1` REDEFINES the pk column
    // in place with a DIFFERENT type (later projection columns override
    // earlier ones, TransformParser.java:370-380); filter `col1 > 1.5` sees
    // the computed value, dropping key "1"'s insert AND delete. Final:
    // (2.5, 'x'), (3.5, null) under (col1 DOUBLE, newCol3).
    "c_conformance_shade_different_type" -> ((s, _) => {
      val t = TableId.parse("default_schema.table1")
      val src = new ScriptedChangeSource(t, schemaOf("col1" -> Str, "col2" -> Str)("col1"), Seq.empty)
      val id = freshId("shade")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.table1
              |    projection: "*, 0.5 + CAST(col1 AS DOUBLE) AS col1"
              |    filter: "col1 > 1.5"""".stripMargin) { drain =>
          scriptSingleTable(src, t, drain)
        }
        require(db.schemaOf(t).exists(_.columnNames == Seq("col1", "newCol3")),
          s"shaded shape per ITCase:2791, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("col1")
      }
    }),

    // FlinkPipelineTransformITCase.testBuiltinComparisonFunctions:705: the
    // 14-operator comparison block, incl. the dialect's LIKE-as-regex-find
    // (`name LIKE 'li'` is TRUE for Alice — SystemFunctionUtils.like:458).
    "c_conformance_comparison_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "cmpfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, id = 2 AS col1, id <> 3 AS col2, id > 2 AS col3, id >= 2 AS col4, id < 3 AS col5, id <= 4 AS col6, name IS NULL AS col7, name IS NOT NULL AS col8, id BETWEEN 1 AND 3 AS col9, id NOT BETWEEN 2 AND 4 AS col10, name LIKE 'li' AS col11, name LIKE 'ro' AS col12, CAST(id AS INT) IN (1, 3, 5) AS col13, name IN ('Bob', 'Derrida') AS col14"""".stripMargin)
      import s.implicits._
      def bools(r: Row, from: Int): Seq[Boolean] =
        (from until from + 14).map(r.getBoolean)
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, bools(r, 3).mkString(",")))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), bools(r, 4).mkString(",")))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "cmp").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testTransformWithFilterButNoProjection
    // :274: a filter-only rule (`id > 1`) over the five-stage evolution
    // script — schema events all pass through (no projection to narrow
    // them), Alice's id=1 traffic drops at every stage.
    "c_conformance_filter_no_projection" -> ((s, _) => {
      val t = TableId.parse("default_schema.mytable1")
      val src = new ScriptedChangeSource(t,
        schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
      val id = freshId("filtnoproj")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.mytable1
              |    filter: "id > 1"""".stripMargin) { drain =>
          scriptSchemaEvolution(src, t, drain)
        }
        require(db.schemaOf(t).exists(_.columnNames == Seq("rank", "id", "name")),
          s"filter-only keeps the evolved shape, got ${db.schemaOf(t).map(_.columnNames)}")
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testDateAndTimeCastingFunctions:2904:
    // DATE and TIME(p) string-casts. TIME(p) is modelled as INT millis-of-day
    // with a StructField tag (no Spark TIME type — SURVEY §1.3), and
    // CAST(time AS VARCHAR) renders `LocalTime.toString` at millisecond
    // precision exactly like the reference's TimeData (`21:48:25.123` for
    // p=3/6/9 — TimeData itself truncates to millis — and `21:48:25` for
    // p=0). The raw TIME columns materialize as their INT millis (the
    // documented representation cap); the casted strings are the
    // reference-pinned surface.
    "c_conformance_datetime_casting" -> ((s, _) => {
      val t = TableId.parse("default_schema.my_table")
      val timeMeta = new MetadataBuilder()
        .putLong(graft.functions.DialectCastExpr.TimeTypeKey, 0L).build()
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", IntegerType, nullable = false),
          StructField("date_0", DateType),
          StructField("time_0", IntegerType, nullable = true, timeMeta),
          StructField("time_3", IntegerType, nullable = true, timeMeta),
          StructField("time_6", IntegerType, nullable = true, timeMeta),
          StructField("time_9", IntegerType, nullable = true, timeMeta))),
        primaryKeys = Seq("id"))
      val src = new ScriptedChangeSource(t, schema, Seq.empty)
      val id = freshId("dtcast")
      registered(id -> src) {
        val db = runPipeline(s, Seq(id -> src), "EVOLVE",
          extraYaml =
            """transform:
              |  - source-table: default_schema.my_table
              |    projection: "*, CAST(date_0 AS VARCHAR) AS date_0_str, CAST(time_0 AS VARCHAR) AS time_0_str, CAST(time_3 AS VARCHAR) AS time_3_str, CAST(time_6 AS VARCHAR) AS time_6_str, CAST(time_9 AS VARCHAR) AS time_9_str"""".stripMargin) { _ =>
          // 21:48:25 = 78505000 ms; TimeData truncates sub-ms, so the
          // p=3/6/9 fixture values all land on .123 (78505123)
          src.append(DataChangeEvent.insert(t, Map(
            "id" -> 1, "date_0" -> java.sql.Date.valueOf("1999-12-31"),
            "time_0" -> 78505000, "time_3" -> 78505123,
            "time_6" -> 78505123, "time_9" -> 78505123)))
          src.append(DataChangeEvent.insert(t, Map[String, Any]("id" -> 2)))
        }
        stateDf(s, db, t).orderBy("id")
      }
    }),

    // FlinkPipelineTransformITCase.testConvertDeleteAsInsert:678: explicit
    // metadata projection incl. `__data_event_type__` (per-image RowKind
    // tokens) + SOFT_DELETE — the DELETE projects its before-image with
    // `-D`, then converts to an INSERT, so the deleted row is RETAINED
    // carrying the -D marker.
    "c_conformance_delete_as_insert" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "delins",
        """transform:
          |  - source-table: default_namespace.default_schema.mytable\.*
          |    projection: "id, name, age, __namespace_name__, __schema_name__, __table_name__, __data_event_type__"
          |    converter-after-transform: SOFT_DELETE""".stripMargin,
        idPrefix = "default_namespace.default_schema")
      import s.implicits._
      def row(r: Row, tbl: String, id: Long, age: Int) =
        (tbl, id, r.getString(1), age, r.getString(3), r.getString(4),
          r.getString(5), r.getString(6))
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        row(r, "mytable1", r.getInt(0).toLong, r.getInt(2)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        row(r, "mytable2", r.getLong(0), r.getByte(2).toInt))
      (a ++ b).toDF("tbl", "id", "name", "age", "namespace_name", "schema_name",
        "table_name", "event_type").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testBuiltinLogicalFunctions:~745:
    // OR/AND/NOT and the IS [NOT] TRUE/FALSE predicates, over the dialect's
    // type-strict equality (BIGINT id = 3 is FALSE even when id is 3).
    "c_conformance_logical_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "logicfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, id = 2 OR true AS col1, id <> 3 OR false AS col2, name = 'Alice' AND true AS col4, name <> 'Bob' AND false AS col5, NOT id = 1 AS col6, id = 3 IS FALSE AS col7, name = 'Derrida' IS TRUE AS col8, name <> 'Carol' IS NOT FALSE AS col9, name <> 'Eve' IS NOT TRUE AS col10"""".stripMargin)
      import s.implicits._
      def bools(r: Row, from: Int): String =
        (from until from + 9).map(r.getBoolean).mkString(",")
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, bools(r, 3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), bools(r, 4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "logic").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testBuiltinStringFunctions:~795:
    // ||, CHAR_LENGTH, UPPER, LOWER, TRIM, REGEXP_REPLACE (Java regex),
    // SUBSTR 2- and 3-arg, CONCAT, CAST AS VARCHAR.
    "c_conformance_string_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "strfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, 'Dear ' || name AS col1, CHAR_LENGTH(name) AS col2, UPPER(name) AS col3, LOWER(name) AS col4, TRIM(name) AS col5, REGEXP_REPLACE(name, 'Al|Bo', '**') AS col6, SUBSTR(name, 1, 1) AS col7, SUBSTR(name, 2, 1) AS col8, SUBSTR(name, 3) AS col9, CONCAT(name, ' - ', CAST(id AS VARCHAR)) AS col10"""".stripMargin)
      import s.implicits._
      def strs(r: Row, from: Int): Seq[String] =
        (from until from + 10).map(i => if (i == from + 1) r.getInt(i).toString else r.getString(i))
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, strs(r, 3).mkString("|")))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), strs(r, 4).mkString("|")))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "strs").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testBuiltinArithmeticFunctions:~770:
    // + - * / % ABS, type-PRESERVING CEIL/FLOOR (DOUBLE in, DOUBLE out —
    // Spark's would return BIGINT), ROUND, CHAR_LENGTH(UUID()) = 36.
    "c_conformance_arithmetic_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "arithfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, id + 17 AS col1, id - 17 AS col2, id * 17 AS col3, CAST(id AS DOUBLE) / 1.7 AS col4, CAST(id AS INT) % 3 AS col5, ABS(id - 17) AS col6, CEIL(CAST(id AS DOUBLE) / 1.7) AS col7, FLOOR(CAST(id AS DOUBLE) / 1.7) AS col8, ROUND(CAST(id AS DOUBLE) / 1.7, 0) AS col9, CHAR_LENGTH(UUID()) AS col10"""".stripMargin)
      import s.implicits._
      def vals(r: Row, from: Int): String =
        (from until from + 10).map(i => String.valueOf(r.get(i))).mkString(",")
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2),
          null: String, vals(r, 3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt,
          r.getString(3), vals(r, 4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "arith").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testTransformWithTemporalFunction:902 —
    // the whole now-family over the two-table fixture with
    // PIPELINE_LOCAL_TIME_ZONE=America/Los_Angeles. The ITCase asserts
    // per-record CONSISTENCY (LOCALTIME == CURRENT_TIME; CAST(CURRENT_
    // TIMESTAMP) == CAST(NOW()) == LOCALTIMESTAMP; LOCALTIME/CURRENT_DATE
    // are that timestamp's time/date parts — verifyDataRecord:3378-3416,
    // semantics SystemFunctionUtils.java:56-82). A pinned per-record epoch
    // (the reference's `__epoch_time__`) makes the VALUES assertable too:
    // 2024-01-01T00:00:00Z renders 2023-12-31 16:00:00 in PST.
    "c_conformance_temporal_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "temporalfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, LOCALTIME as lcl_t, CURRENT_TIME as cur_t, CAST(CURRENT_TIMESTAMP AS TIMESTAMP) as cur_ts, CAST(NOW() AS TIMESTAMP) as now_ts, LOCALTIMESTAMP as lcl_ts, CURRENT_DATE as cur_dt"""".stripMargin,
        pipelineExtra =
          """  local-time-zone: America/Los_Angeles
            |  epoch.millis: 1704067200000""".stripMargin)
      def shaped(t: TableId, tbl: String) =
        stateDf(s, db, t).selectExpr(
          s"'$tbl' AS tbl", "CAST(id AS BIGINT) AS id", "lcl_t", "cur_t",
          "date_format(cur_ts, 'yyyy-MM-dd HH:mm:ss') AS cur_ts_s",
          "date_format(now_ts, 'yyyy-MM-dd HH:mm:ss') AS now_ts_s",
          "date_format(lcl_ts, 'yyyy-MM-dd HH:mm:ss') AS lcl_ts_s",
          "CAST(cur_dt AS STRING) AS cur_dt_s")
      val out = shaped(t1, "mytable1").unionByName(shaped(t2, "mytable2"))
      // the ITCase's per-record invariants, independent of the pinned values
      out.collect().foreach { r =>
        require(r.getString(2) == r.getString(3), s"LOCALTIME != CURRENT_TIME in $r")
        require(r.getString(4) == r.getString(5) && r.getString(5) == r.getString(6),
          s"CURRENT_TIMESTAMP / NOW() / LOCALTIMESTAMP differ in $r")
        require(r.getString(4).startsWith(r.getString(7)),
          s"CURRENT_DATE is not the timestamp's date part in $r")
        require(r.getString(4).endsWith(r.getString(2)),
          s"LOCALTIME is not the timestamp's time part in $r")
      }
      out.orderBy("tbl", "id")
    }),

    // FlinkPipelineTransformITCase.testSubstringFunctions:842 — @Disabled in
    // the reference (FLINK-35985) with PLACEHOLDER expectations, so there are
    // no ITCase-authored rows to transcribe; the expressions are live runtime
    // surface regardless, and the expected values here derive from
    // `SystemFunctionUtils.substring:478-520`: 1-based, beginIndex 0 reads
    // from position 1, negative counts from the end, out-of-range clamps to
    // empty — identical to Spark's substring for every exercised shape.
    "c_conformance_substring_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "substrfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, SUBSTR(name, 0, 1) AS col1, SUBSTR(name, 2, 1) AS col2, SUBSTR(name, 3) AS col3, SUBSTRING(name FROM 0 FOR 1) AS col4, SUBSTRING(name FROM 2 FOR 1) AS col5, SUBSTRING(name FROM 3) AS col6, SUBSTR(name, -3, 2) AS col7"""".stripMargin)
      import s.implicits._
      def vals(r: Row, from: Int): Seq[String] =
        (from until from + 7).map(i => String.valueOf(r.get(i)))
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1)) match {
          case (tbl, id, name) => (tbl, id, name, vals(r, 3).mkString(","))
        })
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), vals(r, 4).mkString(",")))
      (a ++ b).toDF("tbl", "id", "name", "subs").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testConditionalFunctions:868 — @Disabled
    // in the reference (FLINK-35986) with placeholder expectations; the
    // expressions are live runtime surface (CASE/COALESCE/IF,
    // `SystemFunctionUtils.coalesce:758` returns the first non-null), and
    // the expected values derive from those semantics over the two-table
    // fixture. `id = 1` inside the nested IF keeps the dialect's
    // Object.equals behavior: live for mytable1's INT id, constant-false
    // for mytable2's BIGINT id.
    "c_conformance_conditional_functions" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "condfn",
        """transform:
          |  - source-table: default_schema.mytable\.*
          |    projection: "*, CASE UPPER(name) WHEN 'ALICE' THEN 'A - Alice' WHEN 'BOB' THEN 'B - Bob' WHEN 'CAROL' THEN 'C - Carol' ELSE 'D - Derrida' END AS col1, CASE WHEN id = 1 THEN '1 - One' WHEN id = 2 THEN '2 - Two' WHEN id = 3 THEN '3 - Three' ELSE '4 - Four' END AS col2, COALESCE(name, 'FALLBACK') AS col3, COALESCE(NULL, NULL, id, 42, NULL) AS col4, IF(TRUE, 'true', 'false') AS col6, IF(id < 3, 'ID < 3', 'ID >= 3') AS col7, IF(name = 'Alice', IF(CAST(id AS INT) = 1, 'YES', 'NO'), 'NO') AS col8"""".stripMargin)
      import s.implicits._
      def vals(r: Row, from: Int): Seq[String] =
        (from until from + 7).map(i => String.valueOf(r.get(i)))
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), vals(r, 3).mkString("|")))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), vals(r, 4).mkString("|")))
      (a ++ b).toDF("tbl", "id", "name", "conds").orderBy("id")
    }),

    // FlinkPipelineTransformITCase.testNumericCastingsWithTruncation:2238:
    // the dialect CAST matrix — never throws; integral truncation, lenient
    // string parses, NULL on failure/precision overflow, Boolean.valueOf
    // strings (SystemFunctionUtils.java:767-1047). Driven through the real
    // envelope transform operator, one projection per target type; results
    // stringified for the cross-type union.
    "c_conformance_numeric_castings" -> ((s, _) => castingMatrix(s)),

    // FlinkPipelineComposerITCase.testMergingDecimalWithVariousPrecisions
    // :1433: eight tables (TINYINT → DECIMAL(29,19)) route-merge into one
    // sink; the widening chain TINYINT → SMALLINT → INT → BIGINT →
    // DECIMAL(19,0) → DECIMAL(24,5) → DECIMAL(38,19) fires as successive
    // AlterColumnType events, and every committed row reads back in the
    // final DECIMAL(38,19).
    "c_conformance_merge_decimal_precisions" -> ((s, _) => {
      val names = Seq("tiny", "small", "vanilla", "big",
        "dec_15_0", "decimal_10_5", "decimal_16_2", "decimal_29_19")
      val types: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType,
        DecimalType(15, 0), DecimalType(10, 5), DecimalType(16, 2), DecimalType(29, 19))
      def dec(v: String) = new java.math.BigDecimal(v)
      val values: Seq[Any] = Seq(1.toByte, 22.toShort, 3333, 44444444L,
        dec("555555555555555"), dec("66666.66666"), dec("77777777.17"),
        dec("888888888.8888888888888888888"))
      val sources = names.zip(types).map { case (n, ty) =>
        val t = TableId.parse(s"default_schema.default_table_$n")
        freshId(s"decmerge-$n") ->
          new ScriptedChangeSource(t, schemaOf(
            "id" -> IntegerType, "name" -> Str, "age" -> IntegerType, "fav_num" -> ty)("id"),
            Seq.empty)
      }
      registered(sources: _*) {
        val db = runPipeline(s, sources, "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.default_table_\.*
              |    sink-table: default_schema.default_everything_merged""".stripMargin) { _ =>
          sources.zipWithIndex.foreach { case ((_, src), i) =>
            src.append(DataChangeEvent.insert(src.tableId, Map(
              "id" -> (1 + i), "name" -> "Alice", "age" -> 17, "fav_num" -> values(i))))
          }
          sources.zipWithIndex.foreach { case ((_, src), i) =>
            src.append(DataChangeEvent.insert(src.tableId, Map(
              "id" -> (101 + i), "name" -> "Zen", "age" -> 19, "fav_num" -> values(i))))
          }
        }
        val merged = TableId.parse("default_schema.default_everything_merged")
        // the widening chain as successive AlterColumnType events (:1502)
        requireDdlSequence(db, merged, Seq(
          "create:id,name,age,fav_num",
          "alter:fav_num->smallint",
          "alter:fav_num->int",
          "alter:fav_num->bigint",
          "alter:fav_num->decimal(19,0)",
          "alter:fav_num->decimal(24,5)",
          "alter:fav_num->decimal(38,19)"))
        require(db.schemaOf(merged).exists(sch =>
          sch.columnNames == Seq("id", "name", "age", "fav_num") &&
            sch.struct("fav_num").dataType == DecimalType(38, 19)),
          s"DECIMAL(38,19) merged shape per ITCase:1502, got ${db.schemaOf(merged)}")
        // decimals stringify at the comparison surface (hash-fragile type,
        // Verify.assertHashSafeSchema) — full 19-digit scale preserved
        stateDf(s, db, merged)
          .select(col("id"), col("name"), col("age"),
            col("fav_num").cast("string").as("fav_num"))
          .orderBy("id")
      }
    }),

    // FlinkPipelineComposerITCase.testMergingTemporalTypesWithPromotedPrecisions
    // :1319, the per-family precision promotions (TIMESTAMP / TIMESTAMP_TZ /
    // TIMESTAMP_LTZ, p=0 merged with higher p). The reference uses p=9; Spark
    // timestamps are microsecond-bound, so this runs the same merge at p=0 vs
    // p=6 — the lattice path and per-row widening are identical, the nanos
    // digits are the environment cap (documented in SURVEY §1.3).
    "c_conformance_merge_temporal_precisions" -> ((s, _) => {
      val lo = java.time.LocalDateTime.parse("2020-01-01T14:28:57")
      val hi = java.time.LocalDateTime.parse("2020-01-01T14:28:57.123456")
      val families = Seq(
        ("ts", TimestampNTZType: DataType,
          (t: java.time.LocalDateTime) => t),
        ("ltz", TimestampType: DataType,
          (t: java.time.LocalDateTime) => java.sql.Timestamp.from(
            t.toInstant(java.time.ZoneOffset.UTC))))
      val sources = families.flatMap { case (fam, ty, _) =>
        Seq(0, 6).map { p =>
          val t = TableId.parse(s"default_schema.default_table_${fam}_$p")
          freshId(s"tsmerge-$fam-$p") ->
            new ScriptedChangeSource(t, schemaOf(
              "id" -> IntegerType, "name" -> Str, "birthday" -> ty)("id"), Seq.empty)
        }
      }
      registered(sources: _*) {
        val db = runPipeline(s, sources, "EVOLVE",
          extraYaml =
            """route:
              |  - source-table: default_schema.default_table_ts_\.*
              |    sink-table: default_schema.ts_merged
              |  - source-table: default_schema.default_table_ltz_\.*
              |    sink-table: default_schema.ltz_merged""".stripMargin) { _ =>
          sources.zipWithIndex.foreach { case ((_, src), i) =>
            val fam = families.find(f => src.tableId.tableName.contains(s"_${f._1}_")).get
            val value = if (src.tableId.tableName.endsWith("_0")) fam._3(lo) else fam._3(hi)
            src.append(DataChangeEvent.insert(src.tableId, Map(
              "id" -> (1 + i), "name" -> "Alice", "birthday" -> value)))
          }
        }
        import s.implicits._
        val a = stateDf(s, db, TableId.parse("default_schema.ts_merged"))
          .collect().toSeq.map(r => ("ts", r.getInt(0),
            r.getAs[java.time.LocalDateTime](2).toString))
        val b = stateDf(s, db, TableId.parse("default_schema.ltz_merged"))
          .collect().toSeq.map(r => ("ltz", r.getInt(0),
            r.getAs[java.sql.Timestamp](2).toInstant.toString))
        (a ++ b).toDF("fam", "id", "birthday").orderBy("fam", "id")
      }
    }),

    // FlinkPipelineTransformITCase.testUsingMetadataColumnLiteralWithWildcard
    // :650-675: a string LITERAL spelled like metadata identifiers must stay
    // a literal — the parser distinguishes identifiers from quoted strings.
    "c_conformance_metadata_literal" -> ((s, _) => {
      val (db, t1, t2) = runTwoTableTransform(s, "metal",
        """transform:
          |  - source-table: default_namespace.default_schema.mytable\.*
          |    projection: "*, '__namespace_name____schema_name____table_name__' AS string_literal"""".stripMargin,
        idPrefix = "default_namespace.default_schema")
      import s.implicits._
      val a = stateDf(s, db, t1).collect().toSeq.map(r =>
        ("mytable1", r.getInt(0).toLong, r.getString(1), r.getInt(2), null: String,
          r.getString(3)))
      val b = stateDf(s, db, t2).collect().toSeq.map(r =>
        ("mytable2", r.getLong(0), r.getString(1), r.getByte(2).toInt, r.getString(3),
          r.getString(4)))
      (a ++ b).toDF("tbl", "id", "name", "age", "description", "string_literal")
        .orderBy("id")
    }))

  /** generateSchemaEvolutionEvents (FlinkPipelineTransformITCase:3118-3245):
    * the five-stage add/alter/rename/drop script with per-stage traffic.
    */
  private def scriptSchemaEvolution(
      src: ScriptedChangeSource, t: TableId, drain: () => Unit): Unit = {
    def ins(vals: (String, Any)*) = src.append(DataChangeEvent.insert(t, vals.toMap))
    def upd(before: Map[String, Any], after: Map[String, Any]) =
      src.append(DataChangeEvent.update(t, before, after))
    def del(vals: (String, Any)*) = src.append(DataChangeEvent.delete(t, vals.toMap))

    // initial stage
    ins("id" -> 1, "name" -> "Alice", "age" -> 21)
    ins("id" -> 2, "name" -> "Barcarolle", "age" -> 22)
    ins("id" -> 3, "name" -> "Cecily", "age" -> 23)
    upd(Map("id" -> 3, "name" -> "Cecily", "age" -> 23),
      Map("id" -> 3, "name" -> "Colin", "age" -> 24))
    del("id" -> 2, "name" -> "Barcarolle", "age" -> 22)
    drain()
    // add column stage: rank FIRST, gender LAST
    src.appendDdl(AddColumnEvent(t, Seq(
      AddColumnEvent.ColumnWithPosition("rank", CdcTypes.StringT(), AddColumnEvent.First),
      AddColumnEvent.ColumnWithPosition("gender", CdcTypes.TinyIntT()))))
    drain()
    ins("rank" -> "1st", "id" -> 4, "name" -> "Derrida", "age" -> 24, "gender" -> 0.toByte)
    ins("rank" -> "2nd", "id" -> 5, "name" -> "Eve", "age" -> 25, "gender" -> 1.toByte)
    upd(Map("rank" -> "2nd", "id" -> 5, "name" -> "Eve", "age" -> 25, "gender" -> 1.toByte),
      Map("rank" -> "2nd", "id" -> 5, "name" -> "Eva", "age" -> 20, "gender" -> 2.toByte))
    ins("rank" -> "3rd", "id" -> 6, "name" -> "Fiona", "age" -> 26, "gender" -> 3.toByte)
    del("rank" -> "3rd", "id" -> 6, "name" -> "Fiona", "age" -> 26, "gender" -> 3.toByte)
    drain()
    // alter column type stage: gender TINYINT->INT, name ->VARCHAR(17), age INT->DOUBLE
    src.appendDdl(AlterColumnTypeEvent(t, Map(
      "gender" -> CdcTypes.IntT(), "name" -> CdcTypes.VarCharT(17),
      "age" -> CdcTypes.DoubleT())))
    drain()
    ins("rank" -> "4th", "id" -> 7, "name" -> "Gem", "age" -> 19.0, "gender" -> -1)
    ins("rank" -> "5th", "id" -> 8, "name" -> "Helen", "age" -> 18.0, "gender" -> -2)
    upd(Map("rank" -> "5th", "id" -> 8, "name" -> "Helen", "age" -> 18.0, "gender" -> -2),
      Map("rank" -> "5th", "id" -> 8, "name" -> "Harry", "age" -> 18.0, "gender" -> -3))
    ins("rank" -> "6th", "id" -> 9, "name" -> "IINA", "age" -> 17.0, "gender" -> 0)
    del("rank" -> "6th", "id" -> 9, "name" -> "IINA", "age" -> 17.0, "gender" -> 0)
    drain()
    // rename column stage
    src.appendDdl(RenameColumnEvent(t, Map("gender" -> "biological_sex", "age" -> "toshi")))
    drain()
    ins("rank" -> "7th", "id" -> 10, "name" -> "Julia", "toshi" -> 24.0, "biological_sex" -> 1)
    ins("rank" -> "8th", "id" -> 11, "name" -> "Kalle", "toshi" -> 23.0, "biological_sex" -> 0)
    upd(Map("rank" -> "8th", "id" -> 11, "name" -> "Kalle", "toshi" -> 23.0, "biological_sex" -> 0),
      Map("rank" -> "8th", "id" -> 11, "name" -> "Kella", "toshi" -> 18.0, "biological_sex" -> 0))
    ins("rank" -> "9th", "id" -> 12, "name" -> "Lynx", "toshi" -> 17.0, "biological_sex" -> 0)
    del("rank" -> "9th", "id" -> 12, "name" -> "Lynx", "toshi" -> 17.0, "biological_sex" -> 0)
    drain()
    // drop column stage
    src.appendDdl(DropColumnEvent(t, Seq("biological_sex", "toshi")))
    drain()
    ins("rank" -> "10th", "id" -> 13, "name" -> "Munroe")
    ins("rank" -> "11th", "id" -> 14, "name" -> "Neko")
    upd(Map("rank" -> "11th", "id" -> 14, "name" -> "Neko"),
      Map("rank" -> "11th", "id" -> 14, "name" -> "Nein"))
    ins("rank" -> "12th", "id" -> 15, "name" -> "Oops")
    del("rank" -> "12th", "id" -> 15, "name" -> "Oops")
  }

  /** getTestEvents (FlinkPipelineTransformITCase:1274-1333): the two-table
    * transform fixture — mytable1 (id INT, name, age INT): Alice, Bob,
    * Bob age 20->30; mytable2 (id BIGINT, name VARCHAR(255), age TINYINT,
    * description): Carol, Derrida inserted, Derrida deleted.
    */
  private def runTwoTableTransform(
      s: SparkSession, tag: String, transformYaml: String,
      idPrefix: String = "default_schema",
      pipelineExtra: String = ""): (MemoryDatabase, TableId, TableId) = {
    val t1 = TableId.parse(s"$idPrefix.mytable1")
    val t2 = TableId.parse(s"$idPrefix.mytable2")
    val src1 = new ScriptedChangeSource(t1,
      schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
    val src2 = new ScriptedChangeSource(t2,
      schemaOf("id" -> LongType, "name" -> Str, "age" -> ByteType, "description" -> Str)("id"),
      Seq.empty)
    val (id1, id2) = (freshId(s"$tag-1"), freshId(s"$tag-2"))
    registered(id1 -> src1, id2 -> src2) {
      val db = runPipeline(s, Seq(id1 -> src1, id2 -> src2), "EVOLVE",
        extraYaml = transformYaml, pipelineExtra = pipelineExtra) { _ =>
        src1.append(DataChangeEvent.insert(t1, Map("id" -> 1, "name" -> "Alice", "age" -> 18)))
        src1.append(DataChangeEvent.insert(t1, Map("id" -> 2, "name" -> "Bob", "age" -> 20)))
        src1.append(DataChangeEvent.update(t1,
          Map("id" -> 2, "name" -> "Bob", "age" -> 20),
          Map("id" -> 2, "name" -> "Bob", "age" -> 30)))
        src2.append(DataChangeEvent.insert(t2,
          Map("id" -> 3L, "name" -> "Carol", "age" -> 15.toByte, "description" -> "student")))
        src2.append(DataChangeEvent.insert(t2,
          Map("id" -> 4L, "name" -> "Derrida", "age" -> 25.toByte, "description" -> "student")))
        src2.append(DataChangeEvent.delete(t2,
          Map("id" -> 4L, "name" -> "Derrida", "age" -> 25.toByte, "description" -> "student")))
      }
      (db, t1, t2)
    }
  }

  /** Compact stable rendering of a derived schema-change event for SEQUENCE
    * assertions — the reference ITCases assert the exact derived-event ORDER
    * and column POSITIONS (`FlinkPipelineComposerITCase.java:832-846`), not
    * just final state; [[MemoryDatabase.ddlHistory]] records what the sink
    * actually applied. Types render as Spark `simpleString` (VARCHAR(n)
    * erases to `string` — the documented environment type cap).
    */
  private[graft] def renderDdl(e: SchemaChangeEvent): String =
    graft.sinks.EventRender.ddl(e)

  private[graft] def requireDdlSequence(
      db: MemoryDatabase, t: TableId, expected: Seq[String]): Unit = {
    val got = db.ddlHistory(t).map(renderDdl)
    require(got == expected,
      s"derived DDL sequence for $t:\n  got      ${got.mkString(" | ")}\n" +
        s"  expected ${expected.mkString(" | ")}")
  }

  /** Assert the table's FULL recorded event sequence — DDL interleaved with
    * data-change events (op + before/after image values + meta), the
    * reference ITCases' `outCaptor` assertion surface. Expected strings
    * transcribe the ITCase's asserted lines: DDL lines in [[renderDdl]]'s
    * compact form, data lines as
    * `before=[...], after=[...], op=OP, meta=(...)` (the reference's
    * `DataChangeEvent.toString` minus the tableId). This distinguishes a
    * correct -U/+U image pair from a compensating wrong one — final-state
    * equality cannot.
    */
  private[graft] def requireEventSequence(
      db: MemoryDatabase, t: TableId, expected: Seq[String]): Unit = {
    val got = db.eventHistory(t)
    require(got == expected,
      s"event sequence for $t:\n  got:\n    ${got.mkString("\n    ")}\n" +
        s"  expected:\n    ${expected.mkString("\n    ")}")
  }

  /** The five-stage evolution script through a single transform rule —
    * shared by the explicit / pre-asterisk / post-asterisk gates.
    */
  private def runEvolutionTransform(
      s: SparkSession, tag: String, projection: String): MemoryDatabase = {
    val t = TableId.parse("default_schema.mytable1")
    val src = new ScriptedChangeSource(t,
      schemaOf("id" -> IntegerType, "name" -> Str, "age" -> IntegerType)("id"), Seq.empty)
    val id = freshId(tag)
    registered(id -> src) {
      runPipeline(s, Seq(id -> src), "EVOLVE",
        extraYaml =
          s"""transform:
             |  - source-table: default_schema.mytable1
             |    projection: "$projection"""".stripMargin) { drain =>
        scriptSchemaEvolution(src, t, drain)
      }
    }
  }

  /** testNumericCastingsWithTruncation's table (ITCase:2178-2237) driven
    * through [[EnvelopeTransform]] once per cast target; results stringified
    * for the cross-type union (the ITCase runs one pipeline per target).
    */
  private def castingMatrix(s: SparkSession): DataFrame = {
    val t = TableId.parse("ns.scm.tbl")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tiny_c", ByteType), StructField("small_c", ShortType),
      StructField("int_c", IntegerType), StructField("bigint_c", LongType),
      StructField("float_c", FloatType), StructField("double_c", DoubleType),
      StructField("decimal_c", DecimalType(10, 2)),
      StructField("valid_char_c", StringType), StructField("invalid_char_c", StringType)))
    def bd(v: String) = new java.math.BigDecimal(v)
    val rows: Seq[Row] = Seq(
      Row(-1L, (-2).toByte, (-3).toShort, -4, -5L, -6.7f, -8.9d, bd("-10.11"), "-12.13", "foo"),
      Row(0L, 0.toByte, 0.toShort, 0, 0L, 0f, 0d, bd("0.00"), "0", "bar"),
      Row(1L, 2.toByte, 3.toShort, 4, 5L, 6.7f, 8.9d, bd("10.11"), "12.13", "baz"),
      Row(2L, null, null, null, null, null, null, null, null, null))
    val df = s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val env = Envelope.fromSnapshot(df, t, monotonically_increasing_id())
    val castCols = Seq("tiny_c", "small_c", "int_c", "bigint_c", "float_c",
      "double_c", "decimal_c", "valid_char_c", "invalid_char_c")
    val targets = Seq("*", "BOOLEAN", "TINYINT", "SMALLINT", "INT", "BIGINT",
      "FLOAT", "DOUBLE", "DECIMAL(1, 0)", "DECIMAL(2, 0)", "DECIMAL(3, 1)",
      "DECIMAL(19, 10)")
    targets.map { tg =>
      val proj =
        if (tg == "*") "*"
        else "id, " + castCols.map(c => s"CAST($c AS $tg) AS $c").mkString(", ")
      val rule = TransformRule("ns.scm.tbl", projection = Some(Dialect.translate(proj)))
      EnvelopeTransform(env, rule, t).select(
        col(s"${Envelope.AfterCol}.id").as("id") +:
          castCols.map(c => col(s"${Envelope.AfterCol}.$c").cast("string").as(c)) :+
          lit(tg).as("cast_to"): _*)
    }.reduce(_ unionByName _).orderBy("cast_to", "id")
  }

  val oracles: Map[String, String] = Map(
    "c_conformance_single_table" ->
      """SELECT * FROM (VALUES ('2', 'x'), ('3', CAST(NULL AS VARCHAR)))
        |AS t(col1, newCol3) ORDER BY col1""".stripMargin,
    "c_conformance_lenient_single_table" ->
      """SELECT * FROM (VALUES
        |  ('2', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'x'),
        |  ('3', '3', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)))
        |AS t(col1, col2, col3, newCol2, newCol3) ORDER BY col1""".stripMargin,
    // pass-through data under the metadata-only transform (ITCase:550-558)
    "c_conformance_metadata_info" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR)),
        |  ('mytable1', 2, 'Bob', 30, NULL),
        |  ('mytable2', 3, 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    // degraded-not-faulted: adds landed, refused alter/drop left age
    // SMALLINT and height in place; post-refusal data coerced back
    // rows 5/6 arrive AFTER the refused ALTER with INT-typed age values —
    // the reference's tolerant coercion refuses INT into the sink's kept
    // SMALLINT column and NULLS the cell (`coerceToShort:756` accepts only
    // TINYINT; `coerceRow:271` tolerance mode), exactly like the
    // `SMALLINT, null` rows of `SchemaEvolveTest.testTryEvolveSchemaWithFailure`
    "c_conformance_try_evolve_failure" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', CAST(17 AS SMALLINT), CAST(NULL AS INT), CAST(NULL AS DOUBLE)),
        |  (2, 'Bob', 18, NULL, NULL),
        |  (3, 'Carol', 19, NULL, NULL),
        |  (4, 'Derrida', 20, 100, 173.25),
        |  (5, 'Eve', NULL, 97, 160.0),
        |  (6, 'Fiona', NULL, 95, NULL))
        |AS t(id, name, age, score, height) ORDER BY id""".stripMargin,
    "c_conformance_evolve_failure" ->
      "SELECT 'EVOLVE' AS behavior, true AS faulted",
    "c_conformance_schema_nullability" ->
      """SELECT * FROM (VALUES
        |  (2000, 'Barcarolle', 16, 2016))
        |AS t(id, name, age, computed)""".stripMargin,
    "c_conformance_to_timestamp" ->
      """SELECT * FROM (VALUES
        |  ('Asia/Shanghai', 1, '2024-07-31 16:00:00', '2024-08-01 04:34:56',
        |   '2024-08-01', '2024-07-31 16:00:00'),
        |  ('UTC', 1, '2024-08-01 00:00:00', '2024-08-01 12:34:56',
        |   '2024-08-01', '2024-08-01 00:00:00'))
        |AS t(zone, id, ts_s, tsf_s, dt_s, dfmt) ORDER BY zone""".stripMargin,
    "c_conformance_unixtime_functions" ->
      """SELECT * FROM (VALUES
        |  ('Asia/Shanghai', 1, '1970-01-01 08:00:44', '1970/01/01 08-00-44',
        |   CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('Asia/Shanghai', 2, '1970-01-01 08:00:00', '1970/01/01 08-00-00', 1, 25201),
        |  ('Asia/Shanghai', 3, '1970-01-01 08:00:00', '1970/01/01 08-00-00', 1,
        |   -9223372036854775808),
        |  ('Europe/Berlin', 1, '1970-01-01 01:00:44', '1970/01/01 01-00-44', 25201, 25201),
        |  ('Europe/Berlin', 2, '1970-01-01 01:00:00', '1970/01/01 01-00-00', 25201, 1),
        |  ('UTC', 1, '1970-01-01 00:00:00', '1970/01/01 00-00-00', 44, 44),
        |  ('UTC', 2, '1970-01-01 00:00:44', '1970/01/01 00-00-44',
        |   -9223372036854775808, -9223372036854775808))
        |AS t(zone, id, fut, futf, uts, utsf) ORDER BY zone, id""".stripMargin,
    "c_conformance_lenient_tweaks" ->
      """SELECT * FROM (VALUES
        |  (1, 0, 'Alice', CAST(17 AS SMALLINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS INT)),
        |  (2, 0, 'Bob', 18, NULL, NULL, NULL),
        |  (3, 0, 'Carol', 19, NULL, NULL, NULL),
        |  (12, 0, NULL, 11, 'Alice', 'ailisi', NULL),
        |  (13, 0, NULL, 23, 'Bob', 'baobo', NULL),
        |  (41, NULL, NULL, 11, 'Carol', 'kaluo', 0),
        |  (42, NULL, NULL, 11, 'Dorothy', 'duoluoxi', 0))
        |AS t(id, iina, name, age, nickname, extra, yina) ORDER BY id""".stripMargin,
    "c_conformance_lenient_evolves" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', CAST(17 AS SMALLINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS FLOAT)),
        |  (2, 'Bob', 18, NULL, NULL, NULL, NULL),
        |  (3, 'Carol', 19, NULL, NULL, NULL, NULL),
        |  (4, 'Derrida', 20, 100, 173.25, NULL, NULL),
        |  (5, 'Eve', 21, 97, 160.0, NULL, NULL),
        |  (6, NULL, NULL, 100, 173.25, 'Fiona', 22.0),
        |  (7, NULL, NULL, 97, 160.0, 'Gloria', 23.0),
        |  (8, NULL, NULL, 100, 173.25, 'Helen', 22.0),
        |  (9, NULL, NULL, 97, 160.0, 'Iva', 23.0),
        |  (12, NULL, NULL, NULL, NULL, 'Jane', 11.0),
        |  (13, NULL, NULL, NULL, NULL, 'Kryo', 23.0))
        |AS t(id, name, age, score, height, namae, toshi) ORDER BY id""".stripMargin,
    "c_conformance_fine_grained" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', CAST(17 AS SMALLINT), CAST(NULL AS INT), CAST(NULL AS DOUBLE)),
        |  (2, 'Bob', 18, NULL, NULL),
        |  (3, 'Carol', 19, NULL, NULL),
        |  (4, 'Derrida', 20, 100, 173.25),
        |  (5, 'Eve', 21, 97, 160.0),
        |  (6, 'Fiona', 22, 100, 173.25),
        |  (7, 'Gloria', 23, 97, 160.0),
        |  (8, 'Helen', NULL, NULL, 173.25),
        |  (9, 'Iva', NULL, NULL, 160.0),
        |  (12, 'Jane', NULL, NULL, NULL),
        |  (13, 'Kryo', NULL, NULL, NULL))
        |AS t(id, namae, age, sukoa, height) ORDER BY id""".stripMargin,
    // pre-fault state only: schema v1 with the three inserts
    "c_conformance_exception_behavior" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', 17), (2, 'Bob', 18), (3, 'Carol', 19))
        |AS t(id, name, age) ORDER BY id""".stripMargin,
    "c_conformance_try_evolve_behavior" -> schemaEvolutionOracle,
    // lenient transform final state (LenientITCase:382-386): rows 2 and 3
    // of (col1, col2, col12, col3, newCol2, newCol3) — key 3 passed only
    // the pre-evolution filter window, key 2 carries the updated newCol3
    "c_conformance_lenient_transform" ->
      """SELECT * FROM (VALUES
        |  ('2', CAST(NULL AS VARCHAR), '20', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'x'))
        |AS t(col1, col2, col12, col3, newCol2, newCol3) ORDER BY col1""".stripMargin,
    // same rows with the two default-carrying columns null (defaults never
    // backfill existing rows, LenientITCase:212-216)
    "c_conformance_lenient_default_value" ->
      """SELECT * FROM (VALUES
        |  ('2', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'x',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  ('3', '3', NULL, NULL, NULL, NULL, NULL))
        |AS t(col1, col2, col3, newCol2, newCol3, colWithDefault, newColWithDefault)
        |ORDER BY col1""".stripMargin,
    "c_conformance_multi_tables" ->
      """SELECT * FROM (VALUES
        |  ('table1', '2', 'x'), ('table1', '3', CAST(NULL AS VARCHAR)),
        |  ('table2', '1', '1'), ('table2', '2', '2'), ('table2', '3', '3'))
        |AS t(tbl, col1, v) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_multi_splits" ->
      """SELECT * FROM (VALUES
        |  ('1', '1', 'x'), ('3', '3', 'x'), ('5', '5', CAST(NULL AS VARCHAR)))
        |AS t(col1, col2, col3) ORDER BY col1""".stripMargin,
    // identical routes are no-ops: same final state as the unrouted case
    // (ITCase:605-608 materializes table1 = (2,x),(3,null); table2 static)
    "c_conformance_route_identical" ->
      """SELECT * FROM (VALUES
        |  ('table1', '2', 'x'), ('table1', '3', CAST(NULL AS VARCHAR)),
        |  ('table2', '1', '1'), ('table2', '2', '2'), ('table2', '3', '3'))
        |AS t(tbl, col1, v) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_route_one_to_one" ->
      """SELECT * FROM (VALUES
        |  ('routed1', '2', 'x'), ('routed1', '3', CAST(NULL AS VARCHAR)),
        |  ('routed2', '1', '1'), ('routed2', '2', '2'), ('routed2', '3', '3'))
        |AS t(tbl, col1, v) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_route_replace" ->
      """SELECT * FROM (VALUES
        |  ('table1', '2', 'x'), ('table1', '3', CAST(NULL AS VARCHAR)),
        |  ('table2', '1', '1'), ('table2', '2', '2'), ('table2', '3', '3'))
        |AS t(tbl, col1, v) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_merge_route" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 30, NULL, NULL, NULL),
        |  (3, 'Charlie', 15, 'student', NULL, NULL),
        |  (5, NULL, 24, NULL, 'Eliza', NULL),
        |  (6, 'Frank', 30, 'student', NULL, 'male'))
        |AS t(id, name, age, description, last_name, gender) ORDER BY id""".stripMargin,
    // the EVOLVE transform-merge (ITCase:851): same final rows as the
    // change-order twin — the interleave differs, the state must not
    "c_conformance_transform_merge_events" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, 'last_name', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 30, 'last_name', NULL, NULL),
        |  (3, 'Charlie', 15, 'last_name', 'student', NULL),
        |  (5, 'Eliza', 24, 'last_name', NULL, NULL),
        |  (6, 'Frank', 30, 'last_name', 'student', 'male'))
        |AS t(id, name, age, last_name, description, gender) ORDER BY id""".stripMargin,
    // change-order twin (ITCase:1228-1256): same merged rows, but the
    // computed last_name is populated everywhere and NO rename ran
    "c_conformance_merge_change_order" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, 'last_name', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 30, 'last_name', NULL, NULL),
        |  (3, 'Charlie', 15, 'last_name', 'student', NULL),
        |  (5, 'Eliza', 24, 'last_name', NULL, NULL),
        |  (6, 'Frank', 30, 'last_name', 'student', 'male'))
        |AS t(id, name, age, last_name, description, gender) ORDER BY id""".stripMargin,
    // SystemFunctionUtils.substring-derived values (the ITCase is @Disabled
    // with placeholder rows): 1-based, beginIndex 0 reads from position 1,
    // -3 counts from the end, clamped
    "c_conformance_substring_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 'A,l,ice,A,l,ice,ic'),
        |  ('mytable1', 2, 'Bob', 'B,o,b,B,o,b,Bo'),
        |  ('mytable2', 3, 'Carol', 'C,a,rol,C,a,rol,ro'))
        |AS t(tbl, id, name, subs) ORDER BY id""".stripMargin,
    // CASE/COALESCE/IF semantics over the fixture (ITCase @Disabled with
    // placeholder rows; runtime semantics SystemFunctionUtils.coalesce:758).
    // Carol falls to '4 - Four': CASE WHEN id = 3 on mytable2's BIGINT id is
    // Object.equals against the Integer literal — constant false, exactly
    // like the enabled comparison block pins for `id <> 3`
    "c_conformance_conditional_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice',
        |   'A - Alice|1 - One|Alice|1|true|ID < 3|YES'),
        |  ('mytable1', 2, 'Bob', 'B - Bob|2 - Two|Bob|2|true|ID < 3|NO'),
        |  ('mytable2', 3, 'Carol', 'C - Carol|4 - Four|Carol|3|true|ID >= 3|NO'))
        |AS t(tbl, id, name, conds) ORDER BY id""".stripMargin,
    // pinned epoch 2024-01-01T00:00:00Z in America/Los_Angeles (PST, UTC-8)
    // renders 2023-12-31 16:00:00 for every record of both tables
    "c_conformance_temporal_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), '16:00:00', '16:00:00',
        |   '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31'),
        |  ('mytable1', 2, '16:00:00', '16:00:00',
        |   '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31'),
        |  ('mytable2', 3, '16:00:00', '16:00:00',
        |   '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31 16:00:00', '2023-12-31'))
        |AS t(tbl, id, lcl_t, cur_t, cur_ts_s, now_ts_s, lcl_ts_s, cur_dt_s)
        |ORDER BY tbl, id""".stripMargin,
    "c_conformance_schema_evolution" -> schemaEvolutionOracle,
    "c_conformance_wildcard_evolution" -> schemaEvolutionOracle,
    "c_conformance_unmatched_evolution" -> schemaEvolutionOracle,
    // identical final state to the EVOLVE merge (LenientITCase:745-760
    // asserts the same rows; only the derived-event POSITIONS differ)
    "c_conformance_lenient_merge_route" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 30, NULL, NULL, NULL),
        |  (3, 'Charlie', 15, 'student', NULL, NULL),
        |  (5, NULL, 24, NULL, 'Eliza', NULL),
        |  (6, 'Frank', 30, 'student', NULL, 'male'))
        |AS t(id, name, age, description, last_name, gender) ORDER BY id""".stripMargin,
    "c_conformance_transform_merge_route" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, 'last_name', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 30, 'last_name', NULL, NULL),
        |  (3, 'Charlie', 15, 'last_name', 'student', NULL),
        |  (5, 'Eliza', 24, 'last_name', NULL, NULL),
        |  (6, 'Frank', 30, 'last_name', 'student', 'male'))
        |AS t(id, name, age, last_name, description, gender) ORDER BY id""".stripMargin,
    "c_conformance_fallback_rules" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), 'rule_1_matched'),
        |  ('mytable1', 2, 'Bob', 30, NULL, 'rule_1_matched'),
        |  ('mytable2', 3, 'Carol', 15, 'student', 'rule_fallback'))
        |AS t(tbl, id, name, age, description, rule_col) ORDER BY id""".stripMargin,
    "c_conformance_explicit_evolution" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', '1 -> Alice'), (3, 'Colin', '3 -> Colin'),
        |  (4, 'Derrida', '4 -> Derrida'), (5, 'Eva', '5 -> Eva'),
        |  (7, 'Gem', '7 -> Gem'), (8, 'Harry', '8 -> Harry'),
        |  (10, 'Julia', '10 -> Julia'), (11, 'Kella', '11 -> Kella'),
        |  (13, 'Munroe', '13 -> Munroe'), (14, 'Nein', '14 -> Nein'))
        |AS t(id, name, extend_id) ORDER BY id""".stripMargin,
    "c_conformance_mid_asterisk_evolution" ->
      """SELECT * FROM (VALUES
        |  ('1<', CAST(NULL AS VARCHAR), 1, 'Alice', 'Alice>'),
        |  ('3<', NULL, 3, 'Colin', 'Colin>'),
        |  ('4<', '1st', 4, 'Derrida', 'Derrida>'),
        |  ('5<', '2nd', 5, 'Eva', 'Eva>'),
        |  ('7<', '4th', 7, 'Gem', 'Gem>'),
        |  ('8<', '5th', 8, 'Harry', 'Harry>'),
        |  ('10<', '7th', 10, 'Julia', 'Julia>'),
        |  ('11<', '8th', 11, 'Kella', 'Kella>'),
        |  ('13<', '10th', 13, 'Munroe', 'Munroe>'),
        |  ('14<', '11th', 14, 'Nein', 'Nein>'))
        |AS t(c1, "rank", id, name, c2) ORDER BY id""".stripMargin,
    "c_conformance_pre_asterisk_evolution" ->
      """SELECT * FROM (VALUES
        |  (CAST(NULL AS VARCHAR), 1, 'Alice', '1 -> Alice'),
        |  (NULL, 3, 'Colin', '3 -> Colin'),
        |  ('1st', 4, 'Derrida', '4 -> Derrida'),
        |  ('2nd', 5, 'Eva', '5 -> Eva'),
        |  ('4th', 7, 'Gem', '7 -> Gem'),
        |  ('5th', 8, 'Harry', '8 -> Harry'),
        |  ('7th', 10, 'Julia', '10 -> Julia'),
        |  ('8th', 11, 'Kella', '11 -> Kella'),
        |  ('10th', 13, 'Munroe', '13 -> Munroe'),
        |  ('11th', 14, 'Nein', '14 -> Nein'))
        |AS t("rank", id, name, extend_id) ORDER BY id""".stripMargin,
    "c_conformance_post_asterisk_evolution" ->
      """SELECT * FROM (VALUES
        |  ('1 -> Alice', CAST(NULL AS VARCHAR), 1, 'Alice'),
        |  ('3 -> Colin', NULL, 3, 'Colin'),
        |  ('4 -> Derrida', '1st', 4, 'Derrida'),
        |  ('5 -> Eva', '2nd', 5, 'Eva'),
        |  ('7 -> Gem', '4th', 7, 'Gem'),
        |  ('8 -> Harry', '5th', 8, 'Harry'),
        |  ('10 -> Julia', '7th', 10, 'Julia'),
        |  ('11 -> Kella', '8th', 11, 'Kella'),
        |  ('13 -> Munroe', '10th', 13, 'Munroe'),
        |  ('14 -> Nein', '11th', 14, 'Nein'))
        |AS t(extend_id, "rank", id, name) ORDER BY id""".stripMargin,
    "c_conformance_shade_different_type" ->
      """SELECT * FROM (VALUES
        |  (CAST(2.5 AS DOUBLE), 'x'),
        |  (3.5, CAST(NULL AS VARCHAR)))
        |AS t(col1, newCol3) ORDER BY col1""".stripMargin,
    "c_conformance_comparison_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   'false,true,false,false,true,true,false,true,true,true,true,false,true,false'),
        |  ('mytable1', 2, 'Bob', 30, NULL,
        |   'true,true,false,true,true,true,false,true,true,false,false,false,false,true'),
        |  ('mytable2', 3, 'Carol', 15, 'student',
        |   'false,true,true,true,false,true,false,true,true,false,false,true,true,false'))
        |AS t(tbl, id, name, age, description, cmp) ORDER BY id""".stripMargin,
    "c_conformance_numeric_castings" -> numericCastingsOracle,
    "c_conformance_lenient_optype_metadata" ->
      """SELECT * FROM (VALUES
        |  ('2', CAST(NULL AS VARCHAR), '20', '+U', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), 'x'))
        |AS t(col1, col2, col12, rk, col3, newCol2, newCol3) ORDER BY col1""".stripMargin,
    "c_conformance_ignore_behavior" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', 17), (2, 'Bob', 18), (3, 'Carol', 19),
        |  (4, 'Derrida', 20), (5, 'Eve', 21),
        |  (6, CAST(NULL AS VARCHAR), 22), (7, NULL, 23))
        |AS t(id, name, age) ORDER BY id""".stripMargin,
    "c_conformance_lenient_transform_twice" ->
      """SELECT * FROM (VALUES
        |  ('2', CAST(NULL AS VARCHAR), '22', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), 'x'))
        |AS t(col1, col2, col12, col3, newCol2, newCol3) ORDER BY col1""".stripMargin,
    "c_conformance_batch_single_table" ->
      """SELECT * FROM (VALUES
        |  ('1', '1'), ('2', '2'), ('3', '3'))
        |AS t(col1, col2) ORDER BY col1""".stripMargin,
    // the fully-typed final row per table: col_X and subtask_0_col_X carry
    // the SAME dummy per type, so each expectedToken appears as a pair —
    // values transcribed from FlinkParallelizedPipelineITCase:925-945
    // (zoned renders micros, Spark's timestamp resolution)
    "c_conformance_parallelized_single" ->
      ("""SELECT * FROM (VALUES
        |  ('table_0', CAST(42 AS BIGINT), '@ROW@'),
        |  ('table_1', 42, '@ROW@'))
        |AS t(tbl, n_rows, full_row) ORDER BY tbl""".stripMargin
        .replace("@ROW@", Seq(
          "true", "17", "34", "68", "136", "272.0", "544.0", "1088.00000000000",
          "Alice", "Bob", "Q2ljYWRh", "RGVycmlkYQ==", "18:00:01",
          "2020-07-17T18:00", "1970-01-05T05:20:00.000123+08:00", "2019-12-31T18:00")
          .flatMap(v => Seq(v, v)).mkString("|"))),
    // 4 partitions x (10 seed + 32 stage rows) x 2 tables; iota ids encode
    // (subtask, seq) so the max pins every partition's full contribution
    "c_conformance_parallelized_multi" ->
      """SELECT * FROM (VALUES
        |  ('table_0', CAST(168 AS BIGINT), CAST(300082 AS BIGINT)),
        |  ('table_1', 168, 300083))
        |AS t(tbl, n_rows, max_iota) ORDER BY tbl""".stripMargin,
    "c_conformance_distributed_runner_multi" ->
      """SELECT * FROM (VALUES
        |  ('table_0', CAST(74 AS BIGINT), 49))
        |AS t(tbl, n_rows, n_cols)""".stripMargin,
    "c_conformance_distributed_interleaved" ->
      """SELECT * FROM (VALUES
        |  ('table_0', CAST(11 AS BIGINT), 4))
        |AS t(tbl, n_rows, n_cols)""".stripMargin,
    "c_conformance_batch_streaming_mode" ->
      """SELECT * FROM (VALUES
        |  ('1', '1'), ('2', '2'), ('3', '3'))
        |AS t(col1, col2) ORDER BY col1""".stripMargin,
    "c_conformance_batch_multi_splits" ->
      """SELECT * FROM (VALUES
        |  ('1', '1'), ('2', '2'), ('3', '3'), ('4', '4'), ('5', '5'), ('6', '6'))
        |AS t(col1, col2) ORDER BY col1""".stripMargin,
    "c_conformance_batch_two_transform" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 'last_name'),
        |  ('mytable1', 2, 'Bob', 'last_name'),
        |  ('mytable2', 3, 'Charlie', 'new_address'),
        |  ('mytable2', 4, 'Donald', 'new_address'))
        |AS t(tbl, id, name, extra) ORDER BY id""".stripMargin,
    "c_conformance_batch_optype_metadata" ->
      """SELECT * FROM (VALUES
        |  ('1', '1', '10', '+I', CAST(1 AS BIGINT)),
        |  ('2', '2', '20', '+I', 2))
        |AS t(col1, col2, col12, rk, opts) ORDER BY col1""".stripMargin,
    "c_conformance_batch_route_one_to_one" ->
      """SELECT * FROM (VALUES
        |  ('routed1', '1', '1'), ('routed1', '2', '2'), ('routed1', '3', '3'),
        |  ('routed2', '1', '1'), ('routed2', '2', '2'), ('routed2', '3', '3'))
        |AS t(tbl, col1, col2) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_batch_route_identical" ->
      """SELECT * FROM (VALUES
        |  ('table1', '1', '1'), ('table1', '2', '2'), ('table1', '3', '3'),
        |  ('table2', '1', '1'), ('table2', '2', '2'), ('table2', '3', '3'))
        |AS t(tbl, col1, col2) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_complicated_udf" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', '4', 'Integer: 42', '2-42'),
        |  ('3', CAST(NULL AS VARCHAR), '5', 'Integer: 42', '3-42'))
        |AS t(col1, newCol3, inccol, typ, fmt) ORDER BY col1""".stripMargin,
    // deterministicChat("gpt-4o-mini", v) = '[gpt-4o-mini] ' || hex(hashCode)
    "c_conformance_transform_model" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', '[gpt-4o-mini] 32'),
        |  ('3', CAST(NULL AS VARCHAR), '[gpt-4o-mini] 33'))
        |AS t(col1, newCol3, emb) ORDER BY col1""".stripMargin,
    "c_conformance_metadata_info_unchanged" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR)),
        |  ('mytable1', 2, 'Bob', 30, NULL),
        |  ('mytable2', 3, 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_explicit_pk_nullable" ->
      """SELECT * FROM (VALUES
        |  (CAST(NULL AS VARCHAR), 1, 'Alice'),
        |  (NULL, 3, 'Cecily'),
        |  (NULL, 3, 'Colin'),
        |  ('1st', 4, 'Derrida'),
        |  ('2nd', 5, 'Eva'),
        |  ('2nd', 5, 'Eve'),
        |  ('4th', 7, 'Gem'),
        |  ('5th', 8, 'Harry'),
        |  ('5th', 8, 'Helen'),
        |  ('7th', 10, 'Julia'),
        |  ('8th', 11, 'Kalle'),
        |  ('8th', 11, 'Kella'),
        |  ('10th', 13, 'Munroe'),
        |  ('11th', 14, 'Nein'),
        |  ('11th', 14, 'Neko'))
        |AS t("rank", id, name) ORDER BY name""".stripMargin,
    "c_conformance_unicode_projection" ->
      """SELECT * FROM (VALUES
        |  ('ascii test!?', 'mytable1', CAST(1 AS BIGINT), 'ascii test!? -> 1', '1 <- ascii test!?'),
        |  ('ascii test!?', 'mytable1', 2, 'ascii test!? -> 2', '2 <- ascii test!?'),
        |  ('ascii test!?', 'mytable2', 3, 'ascii test!? -> 3', '3 <- ascii test!?'),
        |  ('测试数据', 'mytable1', 1, '测试数据 -> 1', '1 <- 测试数据'),
        |  ('测试数据', 'mytable1', 2, '测试数据 -> 2', '2 <- 测试数据'),
        |  ('测试数据', 'mytable2', 3, '测试数据 -> 3', '3 <- 测试数据'),
        |  ('בבקשה', 'mytable1', 1, 'בבקשה -> 1', '1 <- בבקשה'),
        |  ('בבקשה', 'mytable1', 2, 'בבקשה -> 2', '2 <- בבקשה'),
        |  ('בבקשה', 'mytable2', 3, 'בבקשה -> 3', '3 <- בבקשה'))
        |AS t(ustr, tbl, id, prefix, suffix) ORDER BY ustr, id""".stripMargin,
    "c_conformance_unicode_filter" ->
      """SELECT * FROM (VALUES
        |  ('ascii test!?', 'mytable1', CAST(1 AS BIGINT), 'ascii test!?'),
        |  ('ascii test!?', 'mytable1', 2, 'ascii test!?'),
        |  ('ascii test!?', 'mytable2', 3, 'ascii test!?'),
        |  ('测试数据', 'mytable1', 1, '测试数据'),
        |  ('测试数据', 'mytable1', 2, '测试数据'),
        |  ('测试数据', 'mytable2', 3, '测试数据'),
        |  ('בבקשה', 'mytable1', 1, 'בבקשה'),
        |  ('בבקשה', 'mytable1', 2, 'בבקשה'),
        |  ('בבקשה', 'mytable2', 3, 'בבקשה'))
        |AS t(ustr, tbl, id, extras) ORDER BY ustr, id""".stripMargin,
    "c_conformance_unicode_matrix" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', 18, 'ascii test!?', '大五', '测试数据', 'ひびぴ', '죠주쥬',
        |   'ÀÆÉ', 'ÓÔŐÖ', 'αβγδε', 'בבקשה', 'твой', 'ภาษาไทย', 'piedzimst brīvi'),
        |  (2, 'Bob', 30, 'ascii test!?', '大五', '测试数据', 'ひびぴ', '죠주쥬',
        |   'ÀÆÉ', 'ÓÔŐÖ', 'αβγδε', 'בבקשה', 'твой', 'ภาษาไทย', 'piedzimst brīvi'))
        |AS t(id, name, age, u0, u1, u2, u3, u4, u5, u6, u7, u8, u9, u10, u11)
        |ORDER BY id""".stripMargin,
    "c_conformance_transform_error_message" ->
      """SELECT * FROM (VALUES
        |  ('pk_not_exist', true),
        |  ('pk_not_in_projection', true),
        |  ('string_arithmetic_filter', true),
        |  ('string_arithmetic_projection', true),
        |  ('unknown_filter_column', true),
        |  ('unknown_projection_column', true))
        |AS t(err_case, faulted) ORDER BY err_case""".stripMargin,
    "c_conformance_distributed_ignore" ->
      """SELECT * FROM (VALUES
        |  ('table_0', CAST(18 AS BIGINT), 1))
        |AS t(tbl, n_rows, n_cols)""".stripMargin,
    // ages 1-3 are FLOAT values widened to DOUBLE by the alter — spell the
    // same float->double widening so binary representations agree
    "c_conformance_distributed_lenient" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', CAST(CAST(17.1828 AS FLOAT) AS DOUBLE), 'Hello',
        |   CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', CAST(CAST(31.415926 AS FLOAT) AS DOUBLE), 'Bye-bye', false, NULL),
        |  (3, 'Cicada', CAST(CAST(123.456 AS FLOAT) AS DOUBLE), NULL, true, 'Ok'),
        |  (4, 'Derrida', 7.81876754837, NULL, false, 'Nah'),
        |  (5, 'Eve', 1.414, NULL, true, NULL),
        |  (6, 'Ferris', 0.001, NULL, false, NULL))
        |AS t(id, name, age, notes, added_flag, footnotes) ORDER BY id""".stripMargin,
    "c_conformance_distributed_ignore_trim" ->
      """SELECT * FROM (VALUES
        |  (1, 'Alice', CAST(17.1828 AS FLOAT), 'Hello'),
        |  (2, 'Bob', CAST(31.415926 AS FLOAT), 'Bye-bye'),
        |  (3, 'Cicada', CAST(123.456 AS FLOAT), NULL),
        |  (4, 'Derrida', CAST(NULL AS FLOAT), NULL),
        |  (5, 'Eve', NULL, NULL),
        |  (6, 'Ferris', NULL, NULL))
        |AS t(id, name, age, notes) ORDER BY id""".stripMargin,
    "c_conformance_distributed_exception" ->
      """SELECT * FROM (VALUES ('EXCEPTION', true))
        |AS t(behavior, faulted)""".stripMargin,
    "c_conformance_regular_parallelism" ->
      """SELECT * FROM (VALUES
        |  ('subtask_0', CAST(17 AS BIGINT), 13),
        |  ('subtask_1', 17, 13))
        |AS t(tbl, n_rows, n_cols) ORDER BY tbl""".stripMargin,
    "c_conformance_regular_merged" ->
      """SELECT * FROM (VALUES
        |  ('table_0', CAST(34 AS BIGINT), 19))
        |AS t(tbl, n_rows, n_cols)""".stripMargin,
    "c_conformance_batch_multi_tables" ->
      """SELECT * FROM (VALUES
        |  ('table1', '1', '1'), ('table1', '2', '2'), ('table1', '3', '3'),
        |  ('table2', '1', '1'), ('table2', '2', '2'), ('table2', '3', '3'))
        |AS t(tbl, col1, col2) ORDER BY tbl, col1""".stripMargin,
    "c_conformance_batch_transform_twice" ->
      """SELECT * FROM (VALUES
        |  ('1', '1', '11'), ('2', '2', '22'))
        |AS t(col1, col2, col12) ORDER BY col1""".stripMargin,
    "c_conformance_batch_merge_route" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR)),
        |  (2, 'Bob', 20, NULL),
        |  (3, 'Charlie', 15, 'student'),
        |  (4, 'Donald', 25, 'student'))
        |AS t(id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_batch_transform_merge" ->
      """SELECT * FROM (VALUES
        |  ('merged', CAST(1 AS BIGINT), 'Alice', '18', 'last_name', CAST(NULL AS VARCHAR)),
        |  ('merged', 2, 'Bob', '20', 'last_name', NULL),
        |  ('merged', 3, 'Charlie', '15', 'last_name', 'student'),
        |  ('merged', 4, 'Donald', '25', 'last_name', 'student'),
        |  ('mytable_other', 5, 'E', CAST(NULL AS VARCHAR), NULL, 'Beijing'),
        |  ('mytable_other', 6, 'F', NULL, NULL, 'Hangzhou'))
        |AS t(tbl, id, name, age, last_name, extra) ORDER BY id""".stripMargin,
    "c_conformance_batch_transform" ->
      """SELECT * FROM (VALUES
        |  ('1', '1', '10'), ('2', '2', '20'))
        |AS t(col1, col2, col12) ORDER BY col1""".stripMargin,
    "c_conformance_udf_transform" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'from 2 to z is lie'),
        |  ('3', CAST(NULL AS VARCHAR), 'from 3 to z is lie'))
        |AS t(col1, newCol3, fmt) ORDER BY col1""".stripMargin,
    "c_conformance_udf_filter" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', '3'),
        |  ('3', CAST(NULL AS VARCHAR), '4'))
        |AS t(col1, newCol3, collen) ORDER BY col1""".stripMargin,
    // final rows per ITCase :2150-2157 (mytable1: Alice/Bob with +1 ages;
    // mytable2: Carol; Derrida deleted)
    "c_conformance_comments_default_expr" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), 'Alice', 19, 'extras'),
        |  ('mytable1', 2, 'Bob', 30, NULL, 'Bob', 31, 'extras'),
        |  ('mytable2', 3, 'Carol', 15, 'student', 'Carol', 16, 'extras'))
        |AS t(tbl, id, name, age, description, new_name, new_age, extras)
        |ORDER BY id""".stripMargin,
    "c_conformance_timestamp_formats" ->
      """SELECT * FROM (VALUES
        |  (1, '2023~11~27', '2020~07~17', '2023->11->27 / 20->12->31',
        |   '2020->07->17 / 18->00->22', '2023->11->27 / 20->12->48',
        |   '2020->07->17 / 18->00->39'),
        |  (2, '2018~02~01', '2019~12~31', '2018->02->01 / 04->14->01',
        |   '2019->12->31 / 21->00->22', '2018->02->01 / 04->14->18',
        |   '2019->12->31 / 21->00->39'),
        |  (3, CAST(NULL AS VARCHAR), NULL, NULL, NULL, NULL, NULL))
        |AS t(id, df1, df2, df3, df4, df5, df6) ORDER BY id""".stripMargin,
    "c_conformance_abs_function" ->
      ("""SELECT * FROM (VALUES
        |  (CAST(-9 AS BIGINT), '-9,-9,-9,-9,-1.0E8,-9.999999999E7,-99999999.99,9,9,9,9,1.0E8,9.999999999E7,99999999.99'),
        |  (-4, '-4,-4,-4,-4,-4.44,-4.44,-4.44,4,4,4,4,4.44,4.44,4.44'),
        |  (0, '@NULLS@'),
        |  (1, '1,1,1,1,1.1,1.1,1.10,1,1,1,1,1.1,1.1,1.10'))
        |AS t(id, vals) ORDER BY id""".stripMargin
        .replace("@NULLS@", Seq.fill(14)("null").mkString(","))),
    // joined per-row values, transcribed from the ITCase's asserted
    // after-images (:2525-2531) minus the id
    "c_conformance_floor_ceil_round" ->
      ("""SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), '@NULLS@'),
        |  (1, '1,1,1,1,1.1,1.1,1.100,1,1,1,1,2.0,2.0,2,1,1,1,1,2.0,2.0,2,1,1,1,1,1.0,1.0,1,1,1,1,1,1.1,1.1,1.10,1,1,1,1,1.0,1.0,1'),
        |  (4, '4,4,4,4,4.44,4.44,4.440,4,4,4,4,5.0,5.0,5,4,4,4,4,5.0,5.0,5,4,4,4,4,4.0,4.0,4,4,4,4,4,4.44,4.44,4.44,4,4,4,4,4.0,4.0,4'),
        |  (5, '5,5,5,5,5.555,5.555,5.555,5,5,5,5,6.0,6.0,6,5,5,5,5,6.0,6.0,6,5,5,5,5,5.0,5.0,5,5,5,5,5,5.56,5.56,5.56,5,5,5,5,6.0,6.0,6'),
        |  (9, '9,9,9,9,1.0E7,9999999.999,9999999.999,9,9,9,9,1.0E7,1.0E7,10000000,9,9,9,9,1.0E7,1.0E7,10000000,9,9,9,9,1.0E7,9999999.0,9999999,9,9,9,9,1.0E7,1.0E7,10000000.00,9,9,9,9,1.0E7,1.0E7,10000000'))
        |AS t(id, vals) ORDER BY id""".stripMargin
        .replace("@NULLS@", Seq.fill(42)("null").mkString(","))),
    // final state: the pre-update key keeps its row (update = insert(after),
    // ValuesDatabase.java:382); quoted dashed names in the oracle too
    "c_conformance_column_name_map" ->
      """SELECT * FROM (VALUES
        |  ('2', 2, CAST(NULL AS VARCHAR), 'type2'),
        |  ('20', 20, 'new-package2', 'type2'))
        |AS t(class, "foo-bar", "import-package", "timestamp-type")
        |ORDER BY class""".stripMargin,
    // CAST(ts NTZ AS STRING) renders '1970-01-02 00:00:00'; the LTZ column
    // formats in the UTC session
    "c_conformance_udf_return_types" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'This is a string.', 'This is a string.', 'eHl6enk=', 'eHl6enk=',
        |   '1970-01-02 00:00:00', '1970-01-02 00:00:00', '12.315', '12.315'),
        |  ('3', CAST(NULL AS VARCHAR), 'This is a string.', 'This is a string.',
        |   'eHl6enk=', 'eHl6enk=', '1970-01-02 00:00:00', '1970-01-02 00:00:00',
        |   '12.315', '12.315'))
        |AS t(col1, newCol3, char_col, varchar_col, binary_b64, varbinary_b64,
        |     ts_s, ts_ltz_s, decimal_s, non_null_s) ORDER BY col1""".stripMargin,
    "c_conformance_udf_overloaded" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'Boolean: true', 'Integer: 1', 'Double: 3.14', 'String: str'),
        |  ('3', CAST(NULL AS VARCHAR), 'Boolean: true', 'Integer: 1', 'Double: 3.14', 'String: str'))
        |AS t(col1, newCol3, tob, toi, tof, tos) ORDER BY col1""".stripMargin,
    // counter values are engine-specific (per-image/per-node evaluation) —
    // normalized to '#N'; the gate separately asserts open() ran
    "c_conformance_udf_lifecycle" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', '#N'),
        |  ('3', CAST(NULL AS VARCHAR), '#N'))
        |AS t(col1, newCol3, stt) ORDER BY col1""".stripMargin,
    "c_conformance_udf_typehint" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'Forty-two'),
        |  ('3', CAST(NULL AS VARCHAR), 'Forty-two'))
        |AS t(col1, newCol3, ans) ORDER BY col1""".stripMargin,
    // the ScalarFunction-shaped twins materialize identically to the
    // CDC-UDF-interface gates (ITCase asserts the same rows for both paths)
    "c_conformance_udf_flink_transform" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'from 2 to z is lie'),
        |  ('3', CAST(NULL AS VARCHAR), 'from 3 to z is lie'))
        |AS t(col1, newCol3, fmt) ORDER BY col1""".stripMargin,
    "c_conformance_udf_flink_filter" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', '3'),
        |  ('3', CAST(NULL AS VARCHAR), '4'))
        |AS t(col1, newCol3, collen) ORDER BY col1""".stripMargin,
    "c_conformance_udf_flink_overloaded" ->
      """SELECT * FROM (VALUES
        |  ('2', 'x', 'Boolean: true', 'Integer: 1', 'Double: 3.14', 'String: str'),
        |  ('3', CAST(NULL AS VARCHAR), 'Boolean: true', 'Integer: 1', 'Double: 3.14', 'String: str'))
        |AS t(col1, newCol3, tob, toi, tof, tos) ORDER BY col1""".stripMargin,
    // values transcribed from the ITCase's asserted rows (col1..col10)
    "c_conformance_arithmetic_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   '18,-16,17,0.5882352941176471,1,16,1.0,0.0,1.0,36'),
        |  ('mytable1', 2, 'Bob', 30, NULL,
        |   '19,-15,34,1.1764705882352942,2,15,2.0,1.0,1.0,36'),
        |  ('mytable2', 3, 'Carol', 15, 'student',
        |   '20,-14,51,1.7647058823529411,0,14,2.0,1.0,2.0,36'))
        |AS t(tbl, id, name, age, description, arith) ORDER BY id""".stripMargin,
    "c_conformance_filter_no_projection" ->
      """SELECT * FROM (VALUES
        |  (CAST(NULL AS VARCHAR), 3, 'Colin'),
        |  ('1st', 4, 'Derrida'),
        |  ('2nd', 5, 'Eva'),
        |  ('4th', 7, 'Gem'),
        |  ('5th', 8, 'Harry'),
        |  ('7th', 10, 'Julia'),
        |  ('8th', 11, 'Kella'),
        |  ('10th', 13, 'Munroe'),
        |  ('11th', 14, 'Nein'))
        |AS t("rank", id, name) ORDER BY id""".stripMargin,
    "c_conformance_datetime_casting" ->
      """SELECT * FROM (VALUES
        |  (1, DATE '1999-12-31', 78505000, 78505123, 78505123, 78505123,
        |   '1999-12-31', '21:48:25', '21:48:25.123', '21:48:25.123', '21:48:25.123'),
        |  (2, CAST(NULL AS DATE), CAST(NULL AS INT), NULL, NULL, NULL,
        |   CAST(NULL AS VARCHAR), NULL, NULL, NULL, NULL))
        |AS t(id, date_0, time_0, time_3, time_6, time_9,
        |     date_0_str, time_0_str, time_3_str, time_6_str, time_9_str)
        |ORDER BY id""".stripMargin,
    "c_conformance_delete_as_insert" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, 'default_namespace', 'default_schema', 'mytable1', '+I'),
        |  ('mytable1', 2, 'Bob', 30, 'default_namespace', 'default_schema', 'mytable1', '+U'),
        |  ('mytable2', 3, 'Carol', 15, 'default_namespace', 'default_schema', 'mytable2', '+I'),
        |  ('mytable2', 4, 'Derrida', 25, 'default_namespace', 'default_schema', 'mytable2', '-D'))
        |AS t(tbl, id, name, age, namespace_name, schema_name, table_name, event_type)
        |ORDER BY id""".stripMargin,
    "c_conformance_logical_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   'true,true,true,false,false,true,false,true,false'),
        |  ('mytable1', 2, 'Bob', 30, NULL,
        |   'true,true,false,false,true,true,false,true,false'),
        |  ('mytable2', 3, 'Carol', 15, 'student',
        |   'true,true,false,false,true,true,false,false,false'))
        |AS t(tbl, id, name, age, description, logic) ORDER BY id""".stripMargin,
    "c_conformance_string_functions" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   'Dear Alice|5|ALICE|alice|Alice|**ice|A|l|ice|Alice - 1'),
        |  ('mytable1', 2, 'Bob', 30, NULL,
        |   'Dear Bob|3|BOB|bob|Bob|**b|B|o|b|Bob - 2'),
        |  ('mytable2', 3, 'Carol', 15, 'student',
        |   'Dear Carol|5|CAROL|carol|Carol|Carol|C|a|rol|Carol - 3'))
        |AS t(tbl, id, name, age, description, strs) ORDER BY id""".stripMargin,
    "c_conformance_merge_decimal_precisions" ->
      """SELECT id, name, age, CAST(CAST(v AS DECIMAL(38,19)) AS VARCHAR) AS fav_num FROM (VALUES
        |  (1, 'Alice', 17, '1'), (2, 'Alice', 17, '22'),
        |  (3, 'Alice', 17, '3333'), (4, 'Alice', 17, '44444444'),
        |  (5, 'Alice', 17, '555555555555555'), (6, 'Alice', 17, '66666.66666'),
        |  (7, 'Alice', 17, '77777777.17'),
        |  (8, 'Alice', 17, '888888888.8888888888888888888'),
        |  (101, 'Zen', 19, '1'), (102, 'Zen', 19, '22'),
        |  (103, 'Zen', 19, '3333'), (104, 'Zen', 19, '44444444'),
        |  (105, 'Zen', 19, '555555555555555'), (106, 'Zen', 19, '66666.66666'),
        |  (107, 'Zen', 19, '77777777.17'),
        |  (108, 'Zen', 19, '888888888.8888888888888888888'))
        |AS t(id, name, age, v) ORDER BY id""".stripMargin,
    "c_conformance_merge_temporal_precisions" ->
      """SELECT * FROM (VALUES
        |  ('ltz', 3, '2020-01-01T14:28:57Z'),
        |  ('ltz', 4, '2020-01-01T14:28:57.123456Z'),
        |  ('ts', 1, '2020-01-01T14:28:57'),
        |  ('ts', 2, '2020-01-01T14:28:57.123456'))
        |AS t(fam, id, birthday) ORDER BY fam, id""".stripMargin,
    "c_conformance_calculated_columns" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), '1Alice', 36),
        |  ('mytable1', 2, 'Bob', 30, NULL, '2Bob', 60),
        |  ('mytable2', 3, 'Carol', 15, 'student', '3Carol', 30))
        |AS t(tbl, id, name, age, description, uid, double_age) ORDER BY id""".stripMargin,
    "c_conformance_filter_rules" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR)),
        |  ('mytable2', 3, 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_multi_dispatch" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), 'YOUNG'),
        |  ('mytable1', 2, 'Bob', 30, NULL, 'OLD'),
        |  ('mytable2', 3, 'Carol', 15, 'student', 'YOUNG'))
        |AS t(tbl, id, name, age, description, category) ORDER BY id""".stripMargin,
    "c_conformance_dispatch_ref_cols" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 18, 'Alice'),
        |  ('mytable1', 2, 30, 'Bob'),
        |  ('mytable2', 3, 15, 'Juvenile'))
        |AS t(tbl, id, age, roleName) ORDER BY id""".stripMargin,
    "c_conformance_multi_ref_projection" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), 5832),
        |  ('mytable1', 2, 'Bob', 30, NULL, 27000),
        |  ('mytable2', 3, 'Carol', 15, 'student', 3375))
        |AS t(tbl, id, name, age, description, cubic_age) ORDER BY id""".stripMargin,
    "c_conformance_multi_ref_filter" ->
      """SELECT * FROM (VALUES
        |  ('mytable2', CAST(3 AS BIGINT), 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_multi_transform_asterisk" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  ('mytable1', 2, 'Bob', 30, NULL, NULL),
        |  ('mytable2', 3, 'Carol', 15, 'student', 'Juvenile'))
        |AS t(tbl, id, name, age, description, roleName) ORDER BY id""".stripMargin,
    "c_conformance_multi_transform_missing_proj" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR)),
        |  ('mytable1', 2, 'Bob', 30, NULL),
        |  ('mytable2', 3, 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_multi_transform_null_empty_asterisk" ->
      """SELECT * FROM (VALUES
        |  ('mytable2', CAST(3 AS BIGINT), 'Carol', 15, 'student'))
        |AS t(tbl, id, name, age, description) ORDER BY id""".stripMargin,
    "c_conformance_multi_transform_incompatible" ->
      """SELECT * FROM (VALUES
        |  ('empty_projection', true), ('null_projection', true))
        |AS t(projection_case, merge_rejected) ORDER BY projection_case""".stripMargin,
    "c_conformance_merging_incompatible_rules" ->
      """SELECT * FROM (VALUES ('incompatible_rules', true))
        |AS t(rule_case, merge_rejected)""".stripMargin,
    "c_conformance_large_literals" ->
      """SELECT "rank", id, name,
        |  CAST(2147483647 AS INT) AS int_max,
        |  CAST(2147483648 AS BIGINT) AS greater_than_int_max,
        |  CAST(-2147483648 AS INT) AS int_min,
        |  CAST(-2147483649 AS BIGINT) AS less_than_int_min,
        |  CAST(CAST(1234567890123456789 AS DECIMAL(19,0)) AS VARCHAR) AS really_big_decimal
        |FROM (VALUES
        |  (CAST(NULL AS VARCHAR), 3, 'Colin'),
        |  ('1st', 4, 'Derrida'),
        |  ('2nd', 5, 'Eva'),
        |  ('4th', 7, 'Gem'),
        |  ('5th', 8, 'Harry'),
        |  ('7th', 10, 'Julia'),
        |  ('8th', 11, 'Kella'),
        |  ('10th', 13, 'Munroe'),
        |  ('11th', 14, 'Nein')) AS t("rank", id, name)
        |ORDER BY id""".stripMargin,
    "c_conformance_metadata_wildcard" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   'default_namespace', 'default_schema', 'mytable1'),
        |  ('mytable1', 2, 'Bob', 30, NULL, 'default_namespace', 'default_schema', 'mytable1'),
        |  ('mytable2', 3, 'Carol', 15, 'student', 'default_namespace', 'default_schema', 'mytable2'))
        |AS t(tbl, id, name, age, description, namespace_name, schema_name, table_name)
        |ORDER BY id""".stripMargin,
    "c_conformance_metadata_literal" ->
      """SELECT * FROM (VALUES
        |  ('mytable1', CAST(1 AS BIGINT), 'Alice', 18, CAST(NULL AS VARCHAR),
        |   '__namespace_name____schema_name____table_name__'),
        |  ('mytable1', 2, 'Bob', 30, NULL, '__namespace_name____schema_name____table_name__'),
        |  ('mytable2', 3, 'Carol', 15, 'student', '__namespace_name____schema_name____table_name__'))
        |AS t(tbl, id, name, age, description, string_literal) ORDER BY id""".stripMargin)

  /** Expected values of testNumericCastingsWithTruncation, transcribed
    * LITERALLY from the ITCase's asserted event strings (:2238-2343) — one
    * row group of (-1, 0, 1, 2) per cast target, nine cast columns each.
    * The strings below are the reference's own printed values; only the
    * VALUES-table formatting is generated.
    */
  private def numericCastingsOracle: String = {
    val N = null: String
    def g(rows: Seq[String]*): Seq[Seq[String]] = rows.toSeq
    val allNull = Seq(N, N, N, N, N, N, N, N, N)
    val intLike = g(
      Seq("-2", "-3", "-4", "-5", "-6", "-8", "-10", "-12", N),
      Seq("0", "0", "0", "0", "0", "0", "0", "0", N),
      Seq("2", "3", "4", "5", "6", "8", "10", "12", N),
      allNull)
    val expected: Seq[(String, Seq[Seq[String]])] = Seq(
      "*" -> g(
        Seq("-2", "-3", "-4", "-5", "-6.7", "-8.9", "-10.11", "-12.13", "foo"),
        Seq("0", "0", "0", "0", "0.0", "0.0", "0.00", "0", "bar"),
        Seq("2", "3", "4", "5", "6.7", "8.9", "10.11", "12.13", "baz"),
        allNull),
      "BOOLEAN" -> g(
        Seq("true", "true", "true", "true", "true", "true", "true", "false", "false"),
        Seq("false", "false", "false", "false", "false", "false", "false", "false", "false"),
        Seq("true", "true", "true", "true", "true", "true", "true", "false", "false"),
        allNull),
      "TINYINT" -> intLike,
      "SMALLINT" -> intLike,
      "INT" -> intLike,
      "BIGINT" -> intLike,
      "FLOAT" -> g(
        Seq("-2.0", "-3.0", "-4.0", "-5.0", "-6.7", "-8.9", "-10.11", "-12.13", N),
        Seq("0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", N),
        Seq("2.0", "3.0", "4.0", "5.0", "6.7", "8.9", "10.11", "12.13", N),
        allNull),
      "DOUBLE" -> g(
        Seq("-2.0", "-3.0", "-4.0", "-5.0", "-6.699999809265137", "-8.9", "-10.11", "-12.13", N),
        Seq("0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", N),
        Seq("2.0", "3.0", "4.0", "5.0", "6.699999809265137", "8.9", "10.11", "12.13", N),
        allNull),
      "DECIMAL(1, 0)" -> g(
        Seq("-2", "-3", "-4", "-5", "-7", "-9", N, N, N),
        Seq("0", "0", "0", "0", "0", "0", "0", "0", N),
        Seq("2", "3", "4", "5", "7", "9", N, N, N),
        allNull),
      "DECIMAL(2, 0)" -> g(
        Seq("-2", "-3", "-4", "-5", "-7", "-9", "-10", "-12", N),
        Seq("0", "0", "0", "0", "0", "0", "0", "0", N),
        Seq("2", "3", "4", "5", "7", "9", "10", "12", N),
        allNull),
      "DECIMAL(3, 1)" -> g(
        Seq("-2.0", "-3.0", "-4.0", "-5.0", "-6.7", "-8.9", "-10.1", "-12.1", N),
        Seq("0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", "0.0", N),
        Seq("2.0", "3.0", "4.0", "5.0", "6.7", "8.9", "10.1", "12.1", N),
        allNull),
      "DECIMAL(19, 10)" -> g(
        Seq("-2.0000000000", "-3.0000000000", "-4.0000000000", "-5.0000000000",
          "-6.7000000000", "-8.9000000000", "-10.1100000000", "-12.1300000000", N),
        Seq("0.0000000000", "0.0000000000", "0.0000000000", "0.0000000000",
          "0.0000000000", "0.0000000000", "0.0000000000", "0.0000000000", N),
        Seq("2.0000000000", "3.0000000000", "4.0000000000", "5.0000000000",
          "6.7000000000", "8.9000000000", "10.1100000000", "12.1300000000", N),
        allNull))
    val ids = Seq(-1, 0, 1, 2)
    def sqlStr(v: String) = if (v == null) "NULL" else s"'${v.replace("'", "''")}'"
    val valueRows = expected.flatMap { case (tg, rows) =>
      rows.zip(ids).map { case (vs, id) =>
        (Seq(s"$id") ++ vs.map(sqlStr) :+ sqlStr(tg)).mkString("(", ", ", ")")
      }
    }
    s"""SELECT CAST(id AS BIGINT) AS id, tiny_c, small_c, int_c, bigint_c, float_c,
       |  double_c, decimal_c, valid_char_c, invalid_char_c, cast_to
       |FROM (VALUES
       |${valueRows.mkString(",\n")})
       |AS t(id, tiny_c, small_c, int_c, bigint_c, float_c, double_c, decimal_c,
       |     valid_char_c, invalid_char_c, cast_to) ORDER BY cast_to, id""".stripMargin
  }

  /** Final state of generateSchemaEvolutionEvents under EVOLVE (identical for
    * the vanilla and wildcard-transform pipelines — ITCase asserts the same
    * event stream for both).
    */
  private def schemaEvolutionOracle: String =
    """SELECT * FROM (VALUES
      |  (CAST(NULL AS VARCHAR), 1, 'Alice'),
      |  (NULL, 3, 'Colin'),
      |  ('1st', 4, 'Derrida'),
      |  ('2nd', 5, 'Eva'),
      |  ('4th', 7, 'Gem'),
      |  ('5th', 8, 'Harry'),
      |  ('7th', 10, 'Julia'),
      |  ('8th', 11, 'Kella'),
      |  ('10th', 13, 'Munroe'),
      |  ('11th', 14, 'Nein'))
      |AS t("rank", id, name) ORDER BY id""".stripMargin
}
