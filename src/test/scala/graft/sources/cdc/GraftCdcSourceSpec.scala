package graft.sources.cdc

import graft.SparkTestBase
import graft.core._
import graft.operators.Upsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftCdcSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def schema = {
    import org.apache.spark.sql.types._
    TableSchema(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("id"))
  }

  private def row(id: Long, v: String): Map[String, Any] = Map("id" -> id, "v" -> v)

  private def collectStream(sourceId: String, opts: Map[String, String]): Seq[
    (String, Long, Option[String])] = {
    // (op, seq, after.v) rows collected through foreachBatch
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Option[String], Long)]
    var reader = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", sourceId)
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select($"op", $"seq", $"after.v", $"after.id", $"before.id").collect().foreach {
          r =>
            val id = if (!r.isNullAt(3)) r.getLong(3) else r.getLong(4)
            buf += ((r.getString(0), r.getLong(1), Option(r.getString(2)), id))
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    buf.toSeq.map(t => (t._1, t._2, t._3))
  }

  private def runAndMaterialize(sourceId: String, opts: Map[String, String]): Map[Long, String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var reader = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", sourceId)
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        buf ++= batch.collect(); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // materialize: per key, the highest-seq surviving row
    val byKey = scala.collection.mutable.Map.empty[Long, (Long, Option[String])]
    buf.foreach { r =>
      val op = r.getString(1)
      val before = r.getStruct(2); val after = r.getStruct(3)
      val seq = r.getLong(4)
      val id = if (after != null) after.getLong(0) else before.getLong(0)
      val cur = byKey.get(id)
      if (cur.forall(_._1 <= seq))
        byKey(id) = (seq, if (op == "DELETE") None else Some(after.getString(1)))
    }
    byKey.collect { case (k, (_, Some(v))) => k -> v }.toMap
  }

  test("source metrics: phase, chunk progress, and log lag in StreamingQueryProgress") {
    val t = TableId.parse("m.t")
    val src = new ScriptedChangeSource(t, schema, (0L until 100L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register("metrics-src", src)
    try {
      val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", "metrics-src").option("chunk.size", "25")
        .load().writeStream
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .start()
      try {
        q.processAllAvailable()
        src.append(DataChangeEvent.update(t, row(1L, "v1"), row(1L, "x")))
        src.append(DataChangeEvent.update(t, row(2L, "v2"), row(2L, "y")))
        q.processAllAvailable()
        val m = q.lastProgress.sources.head.metrics
        assert(m.get("phase") == "stream")
        assert(m.get("numChunksTotal") == "4" && m.get("numChunksDone") == "4")
        assert(m.get("logOffsetConsumed") == "2" && m.get("logOffsetAvailable") == "2")
        assert(m.get("sourceLagEvents") == "0")
      } finally q.stop()
    } finally ChangeSourceRegistry.remove("metrics-src")
  }

  test("log.max-events-per-trigger drains a backlog in bounded batches, exactly once") {
    val t = TableId.parse("m.rl")
    val src = new ScriptedChangeSource(t, schema, (0L until 10L).map(i => row(i, "init")))
    ChangeSourceRegistry.register("ratelimit-src", src)
    try {
      // backlog of 35 log events BEFORE the stream starts
      (0 until 35).foreach(i =>
        src.append(DataChangeEvent.update(t, row(i % 10, "init"), row(i % 10, s"e$i"))))
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", "ratelimit-src")
        .option("chunk.size", "100")
        .option("startup.mode", "earliest")
        .option("log.max-events-per-trigger", "10")
        .load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) batchSizes += n; ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // 35 events at <=10 per trigger: at least 4 log batches, none above the
      // cap, every event delivered exactly once
      assert(batchSizes.sum == 35, s"batches: $batchSizes")
      assert(batchSizes.length >= 4 && batchSizes.forall(_ <= 10), s"batches: $batchSizes")
    } finally ChangeSourceRegistry.remove("ratelimit-src")
  }

  test("initial mode: chunked snapshot then log tail, exactly-once under concurrent writes") {
    val id = "cdc-initial"
    val src = new ScriptedChangeSource(TableId.parse("db.t"), schema,
      (1L to 100L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    // concurrent changes BEFORE the stream starts reading chunks land in the
    // live table AND the log: the chunk read sees them, the HW filter must
    // suppress their re-emission in the log phase
    src.append(DataChangeEvent.update(TableId.parse("db.t"),
      row(10L, "v10"), row(10L, "v10-upd")))
    src.append(DataChangeEvent.delete(TableId.parse("db.t"), row(20L, "v20")))
    src.append(DataChangeEvent.insert(TableId.parse("db.t"), row(200L, "v200")))

    val events = collectStream(id, Map("chunk.size" -> "30", "chunks.per-batch" -> "2"))
    // snapshot emits 100 - 1 deleted + 1 inserted = 100 rows as INSERT
    val snapshotRows = events.filter(_._1 == "INSERT")
    assert(snapshotRows.size == 100)
    // the updated value appears exactly once, already updated
    assert(events.count(e => e._3.contains("v10-upd")) == 1)
    assert(!events.exists(e => e._3.contains("v10") && e._3.get == "v10"))
    // no DELETE event emitted (merged into snapshot)
    assert(!events.exists(_._1 == "DELETE"))
    ChangeSourceRegistry.remove(id)
  }

  test("log events after snapshot flow through and win over chunk rows") {
    val id = "cdc-log"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema, (1L to 50L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)

    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id).option("chunk.size", "20")
      .load().writeStream
      .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      .start()
    q.processAllAvailable() // snapshot done
    src.append(DataChangeEvent.update(t, row(5L, "v5"), row(5L, "v5-new")))
    src.append(DataChangeEvent.delete(t, row(6L, "v6")))
    src.append(DataChangeEvent.insert(t, row(300L, "v300")))
    q.processAllAvailable() // log phase
    q.stop()

    val ups = buf.filter(_.getString(1) == "UPDATE")
    assert(ups.size == 1 && ups.head.getStruct(3).getString(1) == "v5-new")
    assert(buf.count(_.getString(1) == "DELETE") == 1)
    // materialized state correct: v5 updated, 6 gone, 300 added
    val state = buf.groupBy { r =>
      val a = r.getStruct(3); val b = r.getStruct(2)
      if (a != null) a.getLong(0) else b.getLong(0)
    }.map { case (k, rows) => k -> rows.maxBy(_.getLong(4)) }
    assert(state(5L).getStruct(3).getString(1) == "v5-new")
    assert(state(6L).getString(1) == "DELETE")
    assert(state(300L).getStruct(3).getString(1) == "v300")
    ChangeSourceRegistry.remove(id)
  }

  test("snapshot mode is bounded; latest skips history; earliest replays it") {
    val t = TableId.parse("db.t")
    for ((mode, expectOps) <- Seq(
        ("snapshot", Set("INSERT")),
        ("earliest", Set("INSERT", "UPDATE")),
        // no committed-offset store in this environment: committed ≡ latest,
        // so pre-subscription history is skipped and nothing is emitted
        ("committed", Set.empty[String]))) {
      val id = s"cdc-$mode"
      val src = new ScriptedChangeSource(t, schema, Seq(row(1L, "a")))
      ChangeSourceRegistry.register(id, src)
      src.append(DataChangeEvent.insert(t, row(2L, "b")))
      src.append(DataChangeEvent.update(t, row(1L, "a"), row(1L, "a2")))
      val events = collectStream(id, Map("startup.mode" -> mode))
      assert(events.map(_._1).toSet == expectOps, s"mode=$mode got $events")
      ChangeSourceRegistry.remove(id)
    }
  }

  test("latest mode emits only post-subscription events") {
    val t = TableId.parse("db.t")
    val id = "cdc-latest"
    val src = new ScriptedChangeSource(t, schema, Seq(row(1L, "a")))
    ChangeSourceRegistry.register(id, src)
    src.append(DataChangeEvent.update(t, row(1L, "a"), row(1L, "a2"))) // pre-subscribe

    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id).option("startup.mode", "latest")
      .load().writeStream
      .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      .start()
    q.processAllAvailable()
    assert(buf.isEmpty) // history skipped
    src.append(DataChangeEvent.update(t, row(1L, "a2"), row(1L, "a3")))
    q.processAllAvailable()
    q.stop()
    assert(buf.size == 1 && buf.head.getStruct(3).getString(1) == "a3")
    ChangeSourceRegistry.remove(id)
  }

  test("specific-offset and timestamp startup modes") {
    val t = TableId.parse("db.t")
    val id = "cdc-offset"
    val src = new ScriptedChangeSource(t, schema, Seq.empty)
    ChangeSourceRegistry.register(id, src)
    src.append(DataChangeEvent.insert(t, row(1L, "a")), tsMillis = 1000)
    src.append(DataChangeEvent.insert(t, row(2L, "b")), tsMillis = 2000)
    src.append(DataChangeEvent.insert(t, row(3L, "c")), tsMillis = 3000)

    val fromOffset = collectStream(id,
      Map("startup.mode" -> "specific-offset", "startup.specific-offset" -> "2"))
    assert(fromOffset.map(_._3.get) == Seq("c"))

    val fromTs = collectStream(id,
      Map("startup.mode" -> "timestamp", "startup.timestamp" -> "2000"))
    assert(fromTs.map(_._3.get) == Seq("b", "c"))
    ChangeSourceRegistry.remove(id)
  }

  test("insert at exact chunk boundary during backfill window is emitted exactly once") {
    // keys 1..60 minus 21 with chunk.size=20 split evenly into
    // [None,21) [21,41) [41,None) — 21 is the first chunk boundary. An INSERT
    // of key 21 landing between chunk 0's LW and HW must NOT be merged into
    // chunk 0's backfill (half-open [lo, hi)); it belongs to chunk 1's
    // snapshot read. The buggy inclusive filter emitted it twice.
    val id = "cdc-boundary"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema,
      (1L to 60L).filter(_ != 21L).map(i => row(i, s"v$i"))) {
      private var injected = false
      override def snapshotRead(
          lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] = {
        // first bounded read = chunk 0's range select, after its LW was taken
        if (!injected && hiExclusive.isDefined) {
          injected = true
          append(DataChangeEvent.insert(t, row(21L, "boundary")))
        }
        super.snapshotRead(lo, hiExclusive)
      }
    }
    ChangeSourceRegistry.register(id, src)

    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id).option("chunk.size", "20").option("chunks.per-batch", "1")
      .load().writeStream
      .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      .start()
    q.processAllAvailable()
    q.stop()

    // raw envelope (pre-upsert): the boundary key appears exactly once
    val boundaryRows = buf.filter { r =>
      val a = r.getStruct(3)
      a != null && a.getLong(0) == 21L
    }
    assert(boundaryRows.size == 1,
      s"key 21 emitted ${boundaryRows.size} times: $boundaryRows")
    assert(boundaryRows.head.getStruct(3).getString(1) == "boundary")
    // total row count: 59 initial + 1 boundary insert, no duplicates
    assert(buf.size == 60)
    ChangeSourceRegistry.remove(id)
  }

  test("backfill.skip: an update during the select replays in the stream phase (HW = LW)") {
    // skip-backfill's contract is at-least-once (reference
    // AbstractScanFetchTask:76 "Directly set HW = LW if backfill is
    // skipped"): an event landing during the chunk select is NOT merged
    // into the snapshot rows, so it MUST replay in the log phase.
    // Reporting the post-select offset as the chunk HW would suppress it
    // there (off <= HW), and the stale snapshot row (stamped seq = HW)
    // would outrank the update in the downstream max_by(seq) — the change
    // would be lost forever.
    val id = "cdc-skipbf"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema,
      (1L to 20L).map(i => row(i, s"v$i"))) {
      private var injected = false
      override def snapshotRead(
          lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] = {
        // read the STALE view first, then let the update land "during" the
        // select — inside the LW/HW window, invisible to the chunk rows
        val out = super.snapshotRead(lo, hiExclusive)
        if (!injected) {
          injected = true
          append(DataChangeEvent.update(t, row(5L, "v5"), row(5L, "v5-live")))
        }
        out
      }
    }
    ChangeSourceRegistry.register(id, src)
    val events = collectStream(id,
      Map("chunk.size" -> "50", "backfill.skip" -> "true"))
    val updates = events.filter(_._1 == "UPDATE")
    assert(updates.size == 1 && updates.head._3.contains("v5-live"),
      s"the skipped-backfill update must replay in the stream phase: $events")
    // seq ordering: the update's seq outranks the stale snapshot row's, so
    // the downstream max_by(seq) upsert lands on the live value
    val staleSeq = events.find(_._3.contains("v5")).map(_._2).get
    val liveSeq = updates.head._2
    assert(liveSeq > staleSeq,
      s"the log event (seq $liveSeq) must outrank the stale snapshot row " +
        s"(seq $staleSeq)")
    ChangeSourceRegistry.remove(id)
  }

  test("chunk partition re-read is deterministic (Spark retry idempotence)") {
    // SURVEY §7 hard-list (a): Spark may re-run a partition after failure —
    // the chunk reader (LW/select/HW/backfill) must produce identical rows
    // for identical source state
    val id = "cdc-retry"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema, (1L to 30L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    src.append(DataChangeEvent.update(t, row(3L, "v3"), row(3L, "x3")))
    try {
      val factory = new CdcReaderFactory(
        graft.operators.Envelope.envelopeSchema(schema.struct), schema.struct)
      def readAll(p: org.apache.spark.sql.connector.read.InputPartition): Seq[String] = {
        val r = factory.createReader(p)
        val buf = Seq.newBuilder[String]
        while (r.next()) buf += r.get().copy().toString
        buf.result()
      }
      val part = SnapshotChunkPartition(id, 0, Some(1L), Some(16L), backfillSkip = false)
      val first = readAll(part)
      val second = readAll(part) // the "retry"
      assert(first == second)
      assert(first.size == 15) // [1, 16)
      val logPart = LogRangePartition(id, 0L, src.currentOffset, Array((Some(1L), Some(16L))))
      assert(readAll(logPart) == readAll(logPart))
    } finally ChangeSourceRegistry.remove(id)
  }

  test("sparse keys take the uneven chunk path: probe-driven splits, exactly-once") {
    // 50 keys spread over 500k: distribution factor (max-min+1)/count ≈ 10k
    // >> upper bound 1000 -> splitUnevenlySizedChunks with per-chunk MAX
    // probes (the JdbcSourceChunkSplitter uneven path), not arithmetic steps
    val id = "cdc-sparse"
    val t = TableId.parse("db.t")
    val keys = (0 until 50).map(i => i.toLong * 10000L)
    val src = new ScriptedChangeSource(t, schema, keys.map(k => row(k, s"v$k")))
    ChangeSourceRegistry.register(id, src)

    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id).option("chunk.size", "8").option("chunks.per-batch", "3")
      .load().writeStream
      .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      .start()
    q.processAllAvailable()
    q.stop()
    val emitted = buf.map(_.getStruct(3).getLong(0)).sorted
    assert(emitted == keys, s"uneven-path snapshot coverage wrong: $emitted")
    assert(emitted.distinct.size == keys.size) // exactly once
    ChangeSourceRegistry.remove(id)
  }

  test("the change sources chunk on one primary-key column and refuse any other key") {
    // the reference refuses a PK-less table without a configured chunk key
    // column; the engine has no such option, so every source needs exactly
    // one PK column to chunk on
    Seq(Seq.empty[String], Seq("id", "v")).foreach { pks =>
      val keyed = schema.copy(primaryKeys = pks)
      val scripted = intercept[IllegalArgumentException] {
        new ScriptedChangeSource(TableId.parse("k.t"), keyed, Seq(row(1L, "a")))
      }
      assert(scripted.getMessage.contains("scripted source uses a single numeric PK"))
      val jdbc = intercept[IllegalArgumentException] {
        new JdbcChangeSource("jdbc:derby:memory:unused", TableId.parse("k.t"), keyed)
      }
      assert(jdbc.getMessage.contains("jdbc change source uses a single numeric PK"))
    }
  }

  test("mid-snapshot resume replays the checkpointed chunk plan and log base") {
    // Run 1 stops after ONE chunk batch (Trigger.Once). The table then
    // mutates: an insert at key 100 changes keyStats so a RECOMPUTED plan
    // would have different boundaries ([1,33) [33,65) [65,...) instead of
    // [1,21) [21,41) [41,...)) — resuming chunksDone=1 against it would skip
    // keys 21-32. An update to key 5 (inside the already-finished chunk 0)
    // lands in the log while the stream is down — it must still be emitted,
    // which requires the ORIGINAL log base from the checkpoint, not a
    // recomputed one. The in-JVM HW registry is cleared between runs so HW
    // suppression must come from the persisted state too.
    val id = "cdc-resume"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema, (1L to 60L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-resume-ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      var w = spark.readStream.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", id).option("chunk.size", "20").option("chunks.per-batch", "1")
        .load().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      trigger.foreach(tr => w = w.trigger(tr))
      w.start()
    }

    val q1 = start(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    q1.awaitTermination()
    assert(buf.size == 20, s"run 1 should emit exactly chunk 0 (20 rows), got ${buf.size}")

    // stream down: table mutates
    src.append(DataChangeEvent.update(t, row(5L, "v5"), row(5L, "v5-down")))
    src.append(DataChangeEvent.insert(t, row(100L, "v100")))
    // simulate process restart: HW registry state is lost
    ChangeSourceRegistry.remove(id)
    ChangeSourceRegistry.register(id, src)

    val q2 = start(None)
    q2.processAllAvailable()
    q2.stop()

    def idOf(r: org.apache.spark.sql.Row): Long = {
      val a = r.getStruct(3)
      if (a != null) a.getLong(0) else r.getStruct(2).getLong(0)
    }
    // every original key emitted exactly once as a snapshot INSERT; no range
    // skipped (the recomputed-plan failure mode drops keys 21-32)
    val inserts = buf.filter(_.getString(1) == "INSERT").map(idOf)
    assert(inserts.sorted == ((1L to 60L) :+ 100L).sorted,
      s"snapshot coverage wrong: ${inserts.sorted.mkString(",")}")
    // the while-down update to the finished chunk's key is emitted exactly once
    val updates = buf.filter(_.getString(1) == "UPDATE")
    assert(updates.size == 1 && idOf(updates.head) == 5L)
    assert(updates.head.getStruct(3).getString(1) == "v5-down")
    // materialized state equals live table
    val state = buf.groupBy(idOf).map { case (k, rows) => k -> rows.maxBy(_.getLong(4)) }
    assert(state(5L).getStruct(3).getString(1) == "v5-down")
    assert(state(100L).getStruct(3).getString(1) == "v100")
    ChangeSourceRegistry.remove(id)
  }

  test("mid-stream DDL parks the stream, surfaces on the control path, resumes evolved") {
    import org.apache.spark.sql.types._
    val id = "cdc-streamddl"
    val t = TableId.parse("db.t")
    val src = new ScriptedChangeSource(t, schema, (1L to 10L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-ddl-ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def start() = spark.readStream.format(classOf[GraftCdcProvider].getName)
      .option("sourceId", id).option("chunk.size", "100")
      .load().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
      .start()

    val q1 = start()
    q1.processAllAvailable() // snapshot done (10 rows)
    // log: data(old shape), DDL, data(new shape)
    src.append(DataChangeEvent.update(t, row(1L, "v1"), row(1L, "v1b")))
    src.appendDdl(AddColumnEvent(t,
      Seq(AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()))))
    src.append(DataChangeEvent.update(t,
      Map("id" -> 2L), Map("id" -> 2L, "v" -> "v2b", "score" -> 42)))
    q1.processAllAvailable()
    // pre-DDL data was emitted; the stream is parked AT the DDL offset
    assert(buf.count(_.getString(1) == "UPDATE") == 1)
    val pending = ChangeSourceRegistry.pendingDdl(id)
    assert(pending.isDefined && pending.get._2.isInstanceOf[AddColumnEvent])
    // the post-DDL row is NOT emitted through the old-shape envelope
    assert(!buf.exists(r => r.getStruct(3) != null && r.getStruct(3).getString(1) == "v2b"))
    q1.stop()

    // driver handles the DDL at the batch boundary, acks, restarts evolved
    ChangeSourceRegistry.ackPendingDdl(id)
    assert(src.schema.struct.fieldNames.toSeq == Seq("id", "v", "score"))
    val before = buf.size
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val post = buf.drop(before)
    assert(post.size == 1, s"resume should emit only the post-DDL row, got $post")
    val after = post.head.getStruct(3)
    assert(after.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(after.getLong(0) == 2L && after.getString(1) == "v2b" && after.getInt(2) == 42)
    ChangeSourceRegistry.remove(id)
  }

  test("PK-changing UPDATE removes the stale row under the old key") {
    val t = TableId.parse("db.t")
    val id = "cdc-pkchange"
    val src = new ScriptedChangeSource(t, schema, Seq(row(1L, "a"), row(2L, "b")))
    ChangeSourceRegistry.register(id, src)
    // UPDATE that moves key 1 -> 9 (the reference models this delete+insert)
    src.append(DataChangeEvent.update(t, row(1L, "a"), row(9L, "a-moved")))
    // live table must not retain the old key
    val live = src.snapshotRead(None, None).map(r => r("id").toString.toLong).sorted
    assert(live == Seq(2L, 9L))
    ChangeSourceRegistry.remove(id)
  }

  test("end-to-end: cdc source -> Upsert.materialize equals live table state") {
    val t = TableId.parse("db.t")
    val id = "cdc-e2e"
    val src = new ScriptedChangeSource(t, schema, (1L to 40L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    src.append(DataChangeEvent.update(t, row(7L, "v7"), row(7L, "x")))
    src.append(DataChangeEvent.delete(t, row(8L, "v8")))

    val state = runAndMaterialize(id, Map("chunk.size" -> "16"))
    val expected = src.snapshotRead(None, None)
      .map(r => r("id").toString.toLong -> r("v").toString).toMap
    assert(state == expected)
    assert(state(7L) == "x"); assert(!state.contains(8L))
    ChangeSourceRegistry.remove(id)
  }

  test("batch scan (runtime-mode BATCH): spark.read plans one partition per chunk") {
    val t = TableId.parse("db.t")
    val id = "cdc-batch"
    val src = new ScriptedChangeSource(t, schema, (1L to 40L).map(i => row(i, s"v$i")))
    ChangeSourceRegistry.register(id, src)
    try {
      val df = spark.read.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", id).option("chunk.size", "16").load()
      // bounded: 40 snapshot INSERT envelopes, distributed over ceil(40/16)=3 chunks
      assert(df.rdd.getNumPartitions == 3)
      val rows = df.select($"op", $"after.id", $"after.v").collect()
      assert(rows.length == 40)
      assert(rows.forall(_.getString(0) == OperationType.INSERT.toString))
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 40L))
      // a change committed AFTER the batch read is NOT in the earlier result
      // but a re-read (new bounded job) sees the new live state
      src.append(DataChangeEvent.update(t, row(7L, "v7"), row(7L, "x")))
      val again = spark.read.format(classOf[GraftCdcProvider].getName)
        .option("sourceId", id).option("chunk.size", "16").load()
        .select($"after.id", $"after.v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again(7L) == "x")
      assert(rows.collectFirst { case r if r.getLong(1) == 7L => r.getString(2) }
        .contains("v7"))
    } finally ChangeSourceRegistry.remove(id)
  }
}
