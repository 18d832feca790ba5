package graft.streaming

import graft.core._
import graft.pipeline._
import graft.sinks.MemoryDatabase
import graft.sources.cdc._
import graft.SparkTestBase
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Mid-stream DDL semantics the reference gets for free from strict in-order
  * event processing, reproduced here over offset-windowed batch reads:
  *
  *  - a RENAME parked ahead of in-flight old-shape rows must not drop their
  *    values (reader translates record-epoch names forward; batch coercion
  *    bridges the one-epoch-behind sink through the pending rename chain);
  *  - a multi-clause ALTER is ONE statement offset carrying one
  *    SchemaChangeEvent per clause, applied in clause order through the
  *    park/evolve/ack/resume path
  *    (`CustomAlterTableParserListener.java:64,249-328`).
  */
class MidStreamDdlSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private def mkSchema = TableSchema(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("id"))

  private def yamlFor(srcId: String, ckpt: String) =
    s"""source:
       |  type: cdc
       |  sourceId: $srcId
       |  chunk.size: 10
       |sink:
       |  type: values
       |pipeline:
       |  checkpoint.dir: $ckpt
       |  schema.change.behavior: EVOLVE
       |""".stripMargin

  test("mid-stream rename keeps in-flight old-shape values (EVOLVE)") {
    val t = TableId.parse("app.renflow")
    val src = new ScriptedChangeSource(t, mkSchema,
      (1L to 3L).map(i => Map[String, Any]("id" -> i, "v" -> s"v$i")))
    ChangeSourceRegistry.register("renflow", src)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("renflow-ckpt").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(yamlFor("renflow", ckpt)))
      assert(runner.runHandlingDdl() == 0)
      val sink = runner.sink.asInstanceOf[MemoryDatabase]

      // old-shape update BEFORE the rename, then the rename, then new-shape
      src.append(DataChangeEvent.update(t, Map("id" -> 1L), Map("id" -> 1L, "v" -> "one")))
      src.appendDdl(RenameColumnEvent(t, Map("v" -> "label")))
      src.append(DataChangeEvent.update(t,
        Map("id" -> 2L), Map("id" -> 2L, "label" -> "two")))

      assert(runner.runHandlingDdl() == 1)
      assert(sink.schemaOf(t).get.columnNames == Seq("id", "label"))
      val rows = sink.rowsOf(t).map(_.mkString(",")).sorted
      assert(rows == Seq("1,one", "2,two", "3,v3"), s"got $rows")
    } finally ChangeSourceRegistry.remove("renflow")
  }

  test("reader bounds rename translation at its payload schema epoch") {
    // A stream's payload schema is fixed at stream CREATION; a rename that
    // lands in renameHistory afterwards (live source, rename arrives
    // mid-drain) must not translate record keys past what that schema can
    // address — payloadRow's getOrElse would silently null the value and
    // commit wrong data BEFORE any restart. Drive the partition reader
    // directly with a pre-rename payload schema (deterministic — the e2e
    // shape races the AvailableNow drain against the append).
    val t = TableId.parse("app.renepoch")
    val src = new ScriptedChangeSource(t, mkSchema,
      Seq(Map[String, Any]("id" -> 1L, "v" -> "v1")))
    ChangeSourceRegistry.register("renepoch", src)
    try {
      val oldPayload = mkSchema.struct // the stream's epoch: pre-rename names
      src.append(DataChangeEvent.update(t, Map("id" -> 1L), Map("id" -> 1L, "v" -> "one")))
      src.appendDdl(RenameColumnEvent(t, Map("v" -> "label"))) // after the epoch
      val env = graft.operators.Envelope.envelopeSchema(oldPayload)
      val reader = new CdcReaderFactory(env, oldPayload)
        .createReader(LogRangePartition("renepoch", 0L, 1L, Array.empty))
      assert(reader.next(), "the in-flight update must be in the window")
      val after = reader.get().getStruct(3, oldPayload.size) // AfterCol
      assert(after.getLong(0) == 1L)
      assert(!after.isNullAt(1) && after.getUTF8String(1).toString == "one",
        "rename translation crossed the reader's schema epoch — value nulled")
      assert(!reader.next())
    } finally ChangeSourceRegistry.remove("renepoch")
  }

  test("addTable'd source gets the pending-rename coercion bridge") {
    // The multi-database merge shape: a source drained via addTable /
    // drainTableHandlingDdl must be found by renameHistoryFor, or its
    // post-restart batches (payload = NEW names, sink one epoch behind)
    // null-pad the renamed column instead of bridging.
    val tA = TableId.parse("app.addmain")
    val tB = TableId.parse("app.addsec")
    val srcA = new ScriptedChangeSource(tA, mkSchema,
      Seq(Map[String, Any]("id" -> 1L, "v" -> "a1")))
    val srcB = new ScriptedChangeSource(tB, mkSchema,
      (1L to 2L).map(i => Map[String, Any]("id" -> i, "v" -> s"b$i")))
    ChangeSourceRegistry.register("addmain", srcA)
    ChangeSourceRegistry.register("addsec", srcB)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("addtbl-ckpt").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(yamlFor("addmain", ckpt)))
      assert(runner.runHandlingDdl() == 0)
      assert(runner.drainTableHandlingDdl("addsec") == 0) // B's snapshot, checkpointed
      // old-shape update in flight, then the rename: the NEXT drain's stream
      // is created after the rename (payload = new names), the sink is still
      // old-shape while the DDL is parked — only the bridge preserves "one"
      srcB.append(DataChangeEvent.update(tB, Map("id" -> 1L), Map("id" -> 1L, "v" -> "one")))
      srcB.appendDdl(RenameColumnEvent(tB, Map("v" -> "label")))
      assert(runner.drainTableHandlingDdl("addsec") == 1)
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      assert(sink.schemaOf(tB).get.columnNames == Seq("id", "label"))
      val rows = sink.rowsOf(tB).map(_.mkString(",")).sorted
      assert(rows == Seq("1,one", "2,b2"), s"got $rows")
    } finally {
      ChangeSourceRegistry.remove("addmain")
      ChangeSourceRegistry.remove("addsec")
    }
  }

  test("a restart budget exhausted at a parked DDL throws, never passes for a full drain") {
    val ids = Seq("budget-main", "budget-added", "budget-mux-a", "budget-mux-b")
    val sources = ids.map { id =>
      val t = TableId.parse(s"app.${id.replace('-', '_')}")
      val src = new ScriptedChangeSource(t, mkSchema,
        Seq(Map[String, Any]("id" -> 1L, "v" -> "v1")))
      ChangeSourceRegistry.register(id, src)
      id -> (t, src)
    }.toMap
    // after a first full drain, a DDL parks with a row behind it (a
    // TRUNCATE for the multiplexed drain, whose union needs one envelope
    // shape across its sources)
    def park(id: String, addColumn: Boolean = true): Unit = {
      val (t, src) = sources(id)
      src.appendDdl(if (addColumn)
        AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition("extra", CdcTypes.IntT())))
      else TruncateTableEvent(t))
      src.append(DataChangeEvent.insert(t, Map("id" -> 2L, "v" -> "v2")))
    }
    def runner(id: String) = new PipelineRunner(YamlPipelineParser.parse(yamlFor(id,
      java.nio.file.Files.createTempDirectory(s"$id-ckpt").toString)))
    try {
      // maxRestarts = 0: the one pass applies the DDL, and no restart is left
      // to drain the row behind it
      val main = runner("budget-main")
      assert(main.runHandlingDdl() == 0)
      park("budget-main")
      val single = intercept[IllegalStateException](main.runHandlingDdl(0))
      assert(single.getMessage == "runHandlingDdl exhausted 0 restarts with schema changes " +
        "still arriving (applied 1); raise maxRestarts or inspect the DDL stream")
      assert(main.drainTableHandlingDdl("budget-added") == 0)
      park("budget-added")
      val added = intercept[IllegalStateException](main.drainTableHandlingDdl("budget-added", 0))
      assert(added.getMessage == "drainTableHandlingDdl(budget-added) exhausted 0 restarts " +
        "with schema changes still arriving (applied 1)")
      val mux = runner("budget-mux-a")
      assert(mux.runMultiplexedHandlingDdl(Seq("budget-mux-b")) == 0)
      park("budget-mux-b", addColumn = false)
      val multiplexed = intercept[IllegalStateException](
        mux.runMultiplexedHandlingDdl(Seq("budget-mux-b"), 0))
      assert(multiplexed.getMessage == "runMultiplexedHandlingDdl exhausted 0 restarts " +
        "with schema changes still arriving (applied 1)")
    } finally ids.foreach(ChangeSourceRegistry.remove)
  }

  test("registry parks a clause queue: head served, acks pop in order") {
    val t = TableId.parse("app.q")
    val e1 = AddColumnEvent(t, Seq(AddColumnEvent.ColumnWithPosition("a", CdcTypes.IntT())))
    val e2 = RenameColumnEvent(t, Map("v" -> "w"))
    val e3 = AlterColumnTypeEvent(t, Map("a" -> CdcTypes.BigIntT()))
    ChangeSourceRegistry.postPendingDdl("q-test", 7L, Seq(e1, e2, e3))
    try {
      assert(ChangeSourceRegistry.pendingDdl("q-test").contains((7L, e1)))
      ChangeSourceRegistry.ackPendingDdl("q-test")
      assert(ChangeSourceRegistry.pendingDdl("q-test").contains((7L, e2)))
      ChangeSourceRegistry.ackPendingDdl("q-test")
      assert(ChangeSourceRegistry.pendingDdl("q-test").contains((7L, e3)))
      ChangeSourceRegistry.ackPendingDdl("q-test")
      assert(ChangeSourceRegistry.pendingDdl("q-test").isEmpty)
    } finally ChangeSourceRegistry.ackPendingDdl("q-test")
  }

  test("multi-clause ALTER over the binlog socket: per-clause events, in order, one drain") {
    import graft.sources.mysql.{BinlogServerDouble, BinlogSocketChangeSource}
    val t = TableId.parse("app.users")
    val double = new BinlogServerDouble(t, mkSchema,
      (1L to 3L).map(i => Map[String, Any]("id" -> i, "v" -> s"v$i")), rotateEvery = 100)
    double.start()
    val src = new BinlogSocketChangeSource(double)
    ChangeSourceRegistry.register("mclause", src)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("mclause-ckpt").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(yamlFor("mclause", ckpt)))
      assert(runner.runHandlingDdl() == 0)
      val sink = runner.sink.asInstanceOf[MemoryDatabase]

      // old-shape row, then ONE statement with three clause events
      // (consecutive ADDs batch into one event like the reference listener,
      // so ADD+RENAME+MODIFY exercises three distinct kinds), then new-shape
      double.commitTx(Seq(DataChangeEvent.update(
        t, Map("id" -> 1L, "v" -> "v1"), Map("id" -> 1L, "v" -> "one"))))
      val ddlOff = double.appendDdl(
        "ALTER TABLE app.users ADD COLUMN score INT, " +
          "RENAME COLUMN v TO label, MODIFY COLUMN score BIGINT")
      // control-path shape: one offset, three events, clause order preserved
      val Some((off, evs)) = double.firstDdlOffset(0L, double.currentOffset)
      assert(off == ddlOff && evs.size == 3)
      assert(evs(0).isInstanceOf[AddColumnEvent])
      assert(evs(1).isInstanceOf[RenameColumnEvent])
      assert(evs(2).isInstanceOf[AlterColumnTypeEvent])
      double.commitTx(Seq(DataChangeEvent.update(
        t, Map("id" -> 2L, "label" -> "v2"),
        Map("id" -> 2L, "label" -> "two", "score" -> 9L))))

      // one drain: parks at the statement, applies all three clauses in
      // order (one ack each), resumes evolved
      assert(runner.runHandlingDdl() == 3)
      assert(sink.schemaOf(t).get.columnNames == Seq("id", "label", "score"))
      val rows = sink.rowsOf(t).map(_.mkString(",")).sorted
      assert(rows == Seq("1,one,null", "2,two,9", "3,v3,null"), s"got $rows")
    } finally {
      ChangeSourceRegistry.remove("mclause")
      double.stop()
    }
  }
}
