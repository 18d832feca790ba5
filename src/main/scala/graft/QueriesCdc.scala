package graft

import graft.core._
import graft.sources.Tables
import graft.sources.cdc._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** End-to-end correctness entry for the DSv2 incremental-snapshot source: a
  * scripted change source seeded from the `events` table runs through the real
  * Structured-Streaming runtime (chunked snapshot phase, then a log phase fed
  * between micro-batches), the emitted envelope is PK-materialized, and the
  * result equals a plain SQL reduction of the same events — verified by the
  * DuckDB oracle.
  */
object QueriesCdc {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_incremental" -> ((s, dir) => {
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new ScriptedChangeSource(t, schema, initial)
      val srcId = s"verify-incremental-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (pre, post) = ev.splitAt(ev.length / 2)
        def append(r: Row): Unit = src.append(DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")))

        // phase A: changes while "the snapshot is running" (merged by backfill)
        pre.foreach(append)

        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        val q = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()
        q.processAllAvailable() // snapshot phase done
        // phase B: post-snapshot log events flow through the stream phase
        post.foreach(append)
        q.processAllAvailable()
        q.stop()

        // PK-materialize the emitted envelope (max seq wins, DELETE drops)
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // `committed`-offsets startup (`StartupOptions.committed()`,
    // `base/options/StartupOptions.java:66-74`): first start with no
    // committed position falls back to `latest` (batch A, appended before
    // start, is never emitted); a RESTART against the same checkpoint
    // resumes from the committed log position — replaying exactly the
    // events appended while the stream was down, re-emitting nothing. The
    // emitted-event count is asserted equal to |B| + |C|, so any
    // re-emission or loss fails before the oracle comparison.
    "c_startup_committed" -> ((s, dir) => {
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new ScriptedChangeSource(t, schema, initial)
      val srcId = s"verify-committed-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def append(r: Row): Unit = src.append(DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")))
        val (a, bc) = ev.partition(_.getLong(0) < 100)
        val (b, c) = bc.partition(_.getLong(0) < 200)

        val ckpt = java.nio.file.Files.createTempDirectory("graft_committed").toString
        def run(body: => Unit): Seq[Row] = {
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("startup.mode", "committed")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (bt: DataFrame, _: Long) => buf ++= bt.collect(); () }
            .start()
          // drain the startup batch first: the source (and its latest-offset
          // anchor) is constructed on the stream-execution thread, so events
          // appended before this fence race query initialization
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
          buf.toSeq
        }

        a.foreach(append) // batch A: before first start, never emitted
        val run1 = run { b.foreach(append) } // no committed position -> latest
        // batch C lands while the stream is DOWN
        c.foreach(append)
        val run2 = run(())

        require(run1.forall(_.getString(1) == "UPDATE") && run1.size == b.length,
          s"first start must emit exactly batch B (${b.length}), got ${run1.size}")
        require(run2.size == c.length,
          s"restart must emit exactly the down-time batch C (${c.length}), got ${run2.size}")
        require(run2.forall(r => r.getStruct(3).getString(1).drop(1).toLong >= 200),
          "restart re-emitted pre-committed events")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        (run1 ++ run2).foreach { r =>
          val after = r.getStruct(3)
          val seq = r.getLong(4)
          if (byKey.get(after.getLong(0)).forall(_._1 <= seq))
            byKey(after.getLong(0)) = (seq, after.getString(1))
        }
        import s.implicits._
        byKey.toSeq.map { case (id, (_, v)) => (id, v) }.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The MongoDB-style DOCUMENT change model through the same incremental
    // source ([[graft.sources.mongo.DocumentChangeSource]]): resume-token
    // offsets, update events resolved by full-document LOOKUP against the
    // live collection (no before-image — the lookup may return later state),
    // deletes carrying ONLY the document key, and schemaless (_id, doc-json)
    // rows. Snapshot chunks + log phase + PK-materialization must converge
    // to the plain SQL final state despite the lookup caveat.
    "c_mongo_style" -> ((s, dir) => {
      val t = TableId.parse("app.collection")
      val initial = (0L until 150L).map(i => (i, """{"v": "init"}"""))
      val src = new graft.sources.mongo.DocumentChangeSource(t, initial)
      val srcId = s"verify-mongo-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (pre, post) = ev.splitAt(ev.length / 2)
        def upd(r: Row): Unit =
          src.updateDoc(r.getLong(1), s"""{"v": "e${r.getLong(0)}"}""")

        // phase A: oplog writes during the snapshot (merged by backfill)
        pre.foreach(upd)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        val q = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()
        q.processAllAvailable()
        // phase B: post-snapshot changes, incl. the document-model edges —
        // key-only deletes and replaces that make earlier updates' lookups
        // resolve to LATER state (the updateLookup caveat)
        post.foreach(upd)
        (140L until 150L).foreach(src.deleteDoc(_))
        (0L until 5L).foreach(i => src.replaceDoc(i, """{"v": "final"}"""))
        q.processAllAvailable()
        q.stop()

        // PK-materialize (max seq wins; DELETE — before carries only _id)
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, d)) if d != null => (id, d) }
        import s.implicits._
        rows.toDF("_id", "doc").orderBy("_id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    "c_delta_interchange" -> ((s, dir) => {
      // ecosystem wire compatibility (the Paimon/Iceberg-connector slice the
      // offline sandbox allows): a lakehouse table built by two merges (the
      // second carrying COW deletes + a txn id) exports as a Delta-readable
      // directory — a real `_delta_log` JSON commit over plain parquet per
      // the public protocol spec — and imports back data-identical, with
      // the exactly-once txn bookkeeping surviving the interchange.
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_delta_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 300 && col("user_id") < 150)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 150), s.range(0).select(col("id").as("k")))
      t.merge(batch(col("event_id") >= 150), s.range(0).select(col("id").as("k")))
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(140, 150).select(col("id").as("k")),
        txn = Some(("delta-gate", 1L)))
      val dest = java.nio.file.Files.createTempDirectory("graft_delta_dst").toString
      DeltaInterchange.export(s, t, dest)
      val back = DeltaInterchange.importDelta(s, dest)
      require(DeltaInterchange.readLog(s, dest).txns - DeltaInterchange.MirrorAppId ==
        Map("delta-gate" -> 1L), "txn bookkeeping must survive the interchange")
      require(back.schema == t.read().schema, "schemaString must round trip")
      back.orderBy("k")
    }),

    "c_delta_mirror" -> ((s, dir) => {
      // continuous Delta mirroring: one Delta commit per lakehouse commit,
      // called after EACH of three merges (the standing-sink cadence) —
      // downstream Delta readers see the same commit granularity, and the
      // mirror's progress txn makes every call idempotent. Final imported
      // state equals the c_delta_interchange oracle.
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_deltam_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_deltam_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 300 && col("user_id") < 150)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 150), s.range(0).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 150), s.range(0).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1, "exactly the new commit mirrors")
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(140, 150).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1)
      require(DeltaInterchange.mirror(s, t, dest) == 0, "a no-op call writes nothing")
      require(DeltaInterchange.readLog(s, dest)
        .txns(DeltaInterchange.MirrorAppId) == t.latestVersion(),
        "mirror progress must track the lakehouse head")
      DeltaInterchange.importDelta(s, dest).orderBy("k")
    }),

    "c_delta_checkpoint" -> ((s, dir) => {
      // metadata scaling of the continuous Delta mirror: after three
      // mirrored commits, write a classic single-file checkpoint, DELETE
      // the pre-checkpoint commit JSONs (cleanupLog), keep mirroring, and
      // read the final state back through the checkpoint seed — with the
      // lakehouse's exactly-once txn bookkeeping surviving checkpoint +
      // cleanup + resume.
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_dck_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_dck_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 300 && col("user_id") < 150)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 150), s.range(0).select(col("id").as("k")),
        txn = Some(("ck-app", 5L)))
      require(DeltaInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 150), s.range(0).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1)
      DeltaInterchange.checkpoint(s, dest)
      require(DeltaInterchange.cleanupLog(dest) >= 2,
        "pre-checkpoint commits must actually be deleted")
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(140, 150).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1,
        "the mirror resumes through the checkpoint")
      val snap = DeltaInterchange.readLog(s, dest)
      require(snap.txns.get("ck-app").contains(5L),
        "exactly-once bookkeeping survives checkpoint + cleanup")
      DeltaInterchange.importDelta(s, dest).orderBy("k")
    }),

    "c_delta_cdf" -> ((s, dir) => {
      // the Delta Change Data Feed surface, oracle-checked row-for-row: a
      // changelog-enabled lakehouse table mirrors its change files as cdc
      // actions, and the windowed feed must reproduce the exact
      // insert / update_preimage / update_postimage rows SQL derives from
      // the two batches (batch 2's per-user max always exceeds batch 1's,
      // so every overlapping user is an update with a known pre-image).
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_cdf_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4, changelog = true)
      val dest = java.nio.file.Files.createTempDirectory("graft_cdf_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 300 && col("user_id") < 150)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      require(DeltaInterchange.mirror(s, t, dest) == 1) // commit 0: create
      t.merge(batch(col("event_id") < 150), s.range(0).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1) // commit 1
      t.merge(batch(col("event_id") >= 150), s.range(0).select(col("id").as("k")))
      require(DeltaInterchange.mirror(s, t, dest) == 1) // commit 2
      DeltaInterchange.readChangeFeed(s, dest, -1L, 2L)
        .select(col("k"), col("v"), col("_change_type"),
          col("_commit_version").cast("long").as("_commit_version"))
        .orderBy("_commit_version", "_change_type", "k")
    }),

    "c_iceberg_interchange" -> ((s, dir) => {
      // the SECOND ecosystem wire format (the reference ships an Iceberg
      // pipeline connector): a lakehouse table built by two merges (the
      // second carrying COW deletes) exports as a complete Iceberg v2
      // table — JSON metadata + Avro manifest list + Avro manifests per
      // the public Table Spec — and imports back data-identical.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ib_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 200), s.range(0).select(col("id").as("k")))
      t.merge(batch(col("event_id") >= 200), s.range(0).select(col("id").as("k")))
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(150, 160).select(col("id").as("k")))
      val dest = java.nio.file.Files.createTempDirectory("graft_ib_dst").toString
      IcebergInterchange.export(s, t, dest)
      val back = IcebergInterchange.importIceberg(s, dest)
      require(back.schema == t.read().schema, "the Iceberg schema must round trip")
      require(IcebergInterchange.readTable(dest).numRecords == back.count(),
        "manifest record counts must match the data")
      back.orderBy("k")
    }),

    "c_paimon_interchange" -> ((s, dir) => {
      // the THIRD ecosystem wire format (the reference ships a first-class
      // Paimon pipeline connector): a lakehouse table built by two merges
      // and a COW delete exports as a complete Paimon table —
      // snapshot/schema JSON + Avro manifests + bucket-N key-value parquet
      // per the public table format — and imports back data-identical
      // through the LSM merge reader.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 200), s.range(0).select(col("id").as("k")))
      t.merge(batch(col("event_id") >= 200), s.range(0).select(col("id").as("k")))
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(150, 160).select(col("id").as("k")))
      val dest = java.nio.file.Files.createTempDirectory("graft_pm_dst").toString
      PaimonInterchange.export(s, t, dest)
      val back = PaimonInterchange.importPaimon(s, dest)
      require(back.schema == t.read().schema, "the Paimon schema must round trip")
      require(PaimonInterchange.readTable(dest).files.forall(_.deleteRows == 0),
        "a compacted export carries no tombstones")
      back.orderBy("k")
    }),

    "c_paimon_partitioned" -> ((s, dir) => {
      // identity-PARTITIONED Paimon: the table partitions by event_type
      // (string identity partition), primary key (event_type, user_id),
      // so the LSM key is the TRIMMED pk (user_id) and files land under
      // `event_type=<v>/bucket-N` with the partition tuple in every
      // manifest entry's _PARTITION BinaryRow. Export -> import is
      // data-identical, and a partition-filtered import proves
      // manifest-level pruning: only the named partition's files open.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmp_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      t.merge(batch(col("event_id") < 200), noKeys)
      t.merge(batch(col("event_id") >= 200), noKeys)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmp_dst").toString
      PaimonInterchange.export(s, t, dest)
      val snap = PaimonInterchange.readTable(dest)
      require(snap.partitionKeys == Seq("event_type") &&
        snap.trimmedKeys == Seq("user_id"),
        "partition keys and the trimmed LSM key must survive the schema")
      val oneType = ev.select(col("event_type")).head().getString(0)
      val pruned = PaimonInterchange.importPaimon(s, dest,
        partitionFilter = Map("event_type" -> oneType))
      require(pruned.inputFiles.nonEmpty &&
        pruned.inputFiles.forall(_.contains(s"event_type=$oneType")),
        "a partition-filtered import must open only that partition's files")
      PaimonInterchange.importPaimon(s, dest).orderBy("event_type", "user_id")
    }),

    "c_paimon_append" -> ((s, dir) => {
      // APPEND-ONLY (no primary key) Paimon: plain rows, no key-value
      // system columns, no merge — two overlapping appends keep every
      // duplicate, which the multiset oracle (UNION ALL) pins exactly.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pma_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_id", LongType, nullable = false),
          StructField("user_id", LongType, nullable = false))),
        primaryKeys = Seq.empty), buckets = 4)
      val ev = Tables.load(s, dir, "events").filter(col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      t.append(ev.filter(col("event_id") < 300))
      t.append(ev.filter(col("event_id") >= 200 && col("event_id") < 400))
      val dest = java.nio.file.Files.createTempDirectory("graft_pma_dst").toString
      PaimonInterchange.export(s, t, dest)
      require(PaimonInterchange.readTable(dest).primaryKeys.isEmpty,
        "the schema must record an append table")
      PaimonInterchange.importPaimon(s, dest).orderBy("event_id", "user_id")
    }),

    "c_paimon_append_mirror" -> ((s, dir) => {
      // CONTINUOUS append-only Paimon mirroring (completing the
      // mirror x {pk, append} matrix across all three formats): each
      // append commit becomes one Paimon snapshot of plain level-0 rows —
      // no key-value system columns, no LSM machinery, duplicates kept.
      // The multiset oracle (UNION ALL of the two overlapping slices)
      // pins exact append semantics.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmam_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_id", LongType, nullable = false),
          StructField("user_id", LongType, nullable = false))),
        primaryKeys = Seq.empty), buckets = 4)
      val ev = Tables.load(s, dir, "events").filter(col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      val dest = java.nio.file.Files.createTempDirectory("graft_pmam_dst").toString
      t.append(ev.filter(col("event_id") < 300))
      require(PaimonInterchange.mirror(s, t, dest) >= 1)
      t.append(ev.filter(col("event_id") >= 200 && col("event_id") < 400))
      require(PaimonInterchange.mirror(s, t, dest) == 1,
        "one snapshot per append commit")
      require(PaimonInterchange.mirror(s, t, dest) == 0, "no-op writes nothing")
      PaimonInterchange.importPaimon(s, dest).orderBy("event_id", "user_id")
    }),

    "c_paimon_mirror" -> ((s, dir) => {
      // continuous Paimon mirroring: one Paimon SNAPSHOT per lakehouse
      // commit (level-0 key-value adds; MOR deletes as LSM tombstone rows
      // whose sequence reproduces the lakehouse masking rule; bucket
      // rewrites as DELETE manifest entries). Final imported state equals
      // the one-shot export; commitIdentifier tracks the lakehouse head.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmm_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 200), s.range(0).select(col("id").as("k")))
      require(PaimonInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 200), s.range(0).select(col("id").as("k")))
      require(PaimonInterchange.mirror(s, t, dest) == 1, "exactly the new commit mirrors")
      // MOR delete -> tombstones at the delete's sequence
      t.deleteWhere(s.range(150, 160).select(col("id").as("k")))
      require(PaimonInterchange.mirror(s, t, dest) == 1)
      require(PaimonInterchange.mirror(s, t, dest) == 0, "a no-op call writes nothing")
      val snap = PaimonInterchange.readTable(dest)
      require(snap.commitIdentifier == t.latestVersion(),
        "commitIdentifier must track the lakehouse head")
      require(snap.files.exists(_.deleteRows > 0),
        "the MOR delete must ride as tombstone rows")
      PaimonInterchange.importPaimon(s, dest).orderBy("k")
    }),

    "c_paimon_changelog" -> ((s, dir) => {
      // the Paimon changelog surface at Delta-CDF parity: a
      // changelog-enabled lakehouse table mirrors its change files as
      // changelog key-value files (per-row RowKind in _VALUE_KIND) under
      // the snapshot's changelogManifestList, and the windowed read must
      // reproduce the exact insert / update pre+post rows SQL derives —
      // same data recipe and oracle shape as c_delta_cdf, different
      // event-id window so the two gates are independent fixtures.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmcl_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4, changelog = true)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmcl_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") >= 300 && col("event_id") < 600 && col("user_id") < 150)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 450), s.range(0).select(col("id").as("k")))
      PaimonInterchange.mirror(s, t, dest)
      t.merge(batch(col("event_id") >= 450), s.range(0).select(col("id").as("k")))
      PaimonInterchange.mirror(s, t, dest)
      val latest = PaimonInterchange.latestSnapshotId(dest).get
      PaimonInterchange.readChangelogBetween(s, dest, 0L, latest)
        .select(col("k"), col("v"), col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "k")
    }),

    "c_paimon_delta" -> ((s, dir) => {
      // Paimon incremental changelog read: a downstream consumer tails the
      // delta manifests between two snapshots and receives UPSERTS AND
      // DELETES (tombstone rows with _VALUE_KIND=3) — the LSM advantage
      // over append-only incremental scans. The gate returns the tailed
      // change rows themselves: kind + key + value.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmd_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmd_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.append(batch(col("event_id") < 200))
      PaimonInterchange.mirror(s, t, dest)
      val s1 = PaimonInterchange.latestSnapshotId(dest).get
      // down-stream window: MOR deletes of 150-159 + an appended batch
      t.deleteWhere(s.range(150, 160).select(col("id").as("k")))
      t.append(batch(col("event_id") >= 200 && col("event_id") < 300
        && col("user_id") < 120))
      PaimonInterchange.mirror(s, t, dest)
      val s2 = PaimonInterchange.latestSnapshotId(dest).get
      PaimonInterchange.readDeltaBetween(s, dest, s1, s2)
        .select(col(PaimonInterchange.KindCol).as("kind"),
          col("_KEY_k").as("k"), col("v"))
        .orderBy("kind", "k")
    }),

    "c_paimon_compact" -> ((s, dir) => {
      // Paimon FULL COMPACTION: a continuously mirrored table fragments
      // (level-0 files + tombstones accrue per commit) and the import
      // pays an LSM merge; compact() rewrites each fragmented bucket to
      // ONE max-level tombstone-free file in a COMPACT snapshot, after
      // which the import takes the no-overlap fast path (plan asserted:
      // no merge window) and incremental readers skip the compaction.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmc_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmc_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") >= 400 && col("event_id") < 800 &&
          col("user_id") < 140)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 600), s.range(0).select(col("id").as("k")))
      PaimonInterchange.mirror(s, t, dest)
      t.merge(batch(col("event_id") >= 600), s.range(0).select(col("id").as("k")))
      PaimonInterchange.mirror(s, t, dest)
      t.deleteWhere(s.range(130, 140).select(col("id").as("k")))
      PaimonInterchange.mirror(s, t, dest)
      require(PaimonInterchange.readTable(dest).files.exists(_.deleteRows > 0),
        "the fixture must carry tombstones before compaction")
      require(PaimonInterchange.compact(s, dest) > 0, "buckets must compact")
      require(PaimonInterchange.compact(s, dest) == 0, "compaction is idempotent")
      val snap = PaimonInterchange.readTable(dest)
      require(snap.files.groupBy(f => (f.partition, f.bucket)).forall(_._2.size == 1),
        "full compaction leaves at most one file per bucket")
      require(snap.files.forall(_.deleteRows == 0), "tombstones merge away")
      require(snap.commitIdentifier == t.latestVersion(),
        "a compaction repeats the head's commitIdentifier")
      val back = PaimonInterchange.importPaimon(s, dest)
      require(!back.queryExecution.optimizedPlan.toString.contains("row_number"),
        "a fully compacted table must import on the no-overlap fast path")
      back.orderBy("k")
    }),

    "c_paimon_partitioned_mirror" -> ((s, dir) => {
      // per-commit mirror of an identity-PARTITIONED Paimon table: adds,
      // COW bucket rewrites (DELETE manifest entries) and MOR tombstones
      // all land under `event_type=<v>/bucket-N` with the partition tuple
      // in every manifest entry; a partition-filtered import of the
      // MIRRORED table prunes at manifest level before any file opens.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmpm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmpm_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      t.merge(batch(col("event_id") < 200), noKeys)
      require(PaimonInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 200), noKeys)
      require(PaimonInterchange.mirror(s, t, dest) == 1,
        "exactly the new commit mirrors")
      // MOR delete of users 150-159 in every partition -> tombstone files
      // under their own partition dirs
      t.deleteWhere(ev.select(col("event_type")).distinct()
        .crossJoin(s.range(150, 160).select(col("id").as("user_id"))))
      require(PaimonInterchange.mirror(s, t, dest) == 1)
      require(PaimonInterchange.mirror(s, t, dest) == 0, "no-op call writes nothing")
      val snap = PaimonInterchange.readTable(dest)
      require(snap.commitIdentifier == t.latestVersion(),
        "commitIdentifier must track the lakehouse head")
      require(snap.partitionKeys == Seq("event_type") &&
        snap.trimmedKeys == Seq("user_id"),
        "partition keys and the trimmed LSM key must survive the mirror")
      require(snap.files.exists(_.deleteRows > 0),
        "the MOR delete must ride as tombstone rows")
      require(snap.files.forall(_.partition.nonEmpty),
        "every live mirrored file carries its partition tuple")
      val oneType = ev.select(col("event_type")).head().getString(0)
      val pruned = PaimonInterchange.importPaimon(s, dest,
        partitionFilter = Map("event_type" -> oneType))
      require(pruned.inputFiles.nonEmpty &&
        pruned.inputFiles.forall(_.contains(s"event_type=$oneType")),
        "a partition-filtered import must open only that partition's files")
      PaimonInterchange.importPaimon(s, dest).orderBy("event_type", "user_id")
    }),

    "c_paimon_partitioned_changelog" -> ((s, dir) => {
      // the Paimon changelog surface on a PARTITIONED table: change files
      // land under partition dirs in the snapshot's changelogManifestList
      // and the windowed read walks `p=v/bucket-N` paths — same CDF recipe
      // as c_paimon_changelog keyed by the full (event_type, user_id) pk.
      import graft.sinks.{LakehouseTable, PaimonInterchange}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmpc_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4, changelog = true)
      val dest = java.nio.file.Files.createTempDirectory("graft_pmpc_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") >= 300 && col("event_id") < 600 &&
          col("user_id") < 150)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      t.merge(batch(col("event_id") < 450), noKeys)
      PaimonInterchange.mirror(s, t, dest)
      t.merge(batch(col("event_id") >= 450), noKeys)
      PaimonInterchange.mirror(s, t, dest)
      val latest = PaimonInterchange.latestSnapshotId(dest).get
      val feed = PaimonInterchange.readChangelogBetween(s, dest, 0L, latest)
      require(feed.inputFiles.nonEmpty &&
        feed.inputFiles.forall(_.contains("event_type=")),
        "changelog files must live under partition directories")
      feed.select(col("event_type"), col("user_id"), col("last_event"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "event_type", "user_id")
    }),

    "c_delta_partitioned_cdf" -> ((s, dir) => {
      // the Delta CDF surface on a PARTITIONED table: each commit's
      // change rows split into per-partition cdc files whose partition
      // tuple rides in the cdc action's partitionValues (files never
      // store event_type), and readChangeFeed projects it back — the
      // partitioned leg of c_delta_cdf, same recipe shape as the Paimon
      // partitioned changelog gate.
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_dpcdf_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4, changelog = true)
      val dest = java.nio.file.Files.createTempDirectory("graft_dpcdf_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") >= 300 && col("event_id") < 600 &&
          col("user_id") < 150)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      t.merge(batch(col("event_id") < 450), noKeys)
      require(DeltaInterchange.mirror(s, t, dest) == 2) // create + commit 1
      t.merge(batch(col("event_id") >= 450), noKeys)
      require(DeltaInterchange.mirror(s, t, dest) == 1) // commit 2
      val feed = DeltaInterchange.readChangeFeed(s, dest, -1L, 2L)
      require(feed.inputFiles.nonEmpty &&
        feed.inputFiles.forall(f =>
          f.contains("_change_data/") && f.contains("cdc-v")),
        "cdc files must be the per-partition split files")
      feed.select(col("event_type"), col("user_id"), col("last_event"),
          col("_change_type"),
          col("_commit_version").cast("long").as("_commit_version"))
        .orderBy("_commit_version", "_change_type", "event_type", "user_id")
    }),

    "c_part_mirror_copy" -> ((s, dir) => {
      // the METADATA-ONLY partitioned-mirror path: a pk-less APPEND-ONLY
      // table (the classic time-partitioned fact stream) appends one
      // partition per commit; the footers prove every add single-
      // partition, so each Iceberg mirror commit HARD-COPIES files with
      // zero Spark jobs. Import equals the plain per-partition union.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_pmc_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("event_id", LongType, nullable = false),
          StructField("user_id", LongType))),
        partitionKeys = Seq("event_type")), buckets = 4)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(col("event_type"), col("event_id"), col("user_id"))
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted
      types.foreach(et => t.append(ev.filter(col("event_type") === et)))
      val dest = java.nio.file.Files.createTempDirectory("graft_pmc_dst").toString
      require(IcebergInterchange.mirror(s, t, dest) == types.length,
        "one copy-path snapshot per appended partition")
      // every mirrored data file is a hard copy: stores the partition
      // column, single-valued (a real Iceberg reader sees exact data)
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(
          java.nio.file.Paths.get(dest, "data")).iterator().asScala.toSeq
      require(files.nonEmpty && files.forall(p =>
        s.read.parquet(p.toString).select("event_type").distinct().count() == 1),
        "copy-path files must be single-partition")
      IcebergInterchange.importIceberg(s, dest)
        .orderBy("event_type", "event_id")
    }),

    "c_delta_partitioned_mirror" -> ((s, dir) => {
      // per-commit mirror of a Hive-partitioned Delta table: adds split
      // per (partition, source lakehouse bucket) with the partition tuple
      // in add.partitionValues (files never store event_type; the import
      // projects it back), metaData.partitionColumns recorded, removals
      // name-mapped through the source bucket each file name encodes,
      // COW merge deletes, checkpoint + log cleanup mid-stream.
      import graft.sinks.{DeltaInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_dlpm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_dlpm_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 600 && col("user_id") < 130)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      val noUpserts = s.range(0).select(lit("").as("event_type"),
        col("id").as("user_id"), col("id").as("last_event"))
      t.merge(batch(col("event_id") < 300), noKeys)
      require(DeltaInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 300), noKeys)
      require(DeltaInterchange.mirror(s, t, dest) == 1,
        "exactly the new commit mirrors")
      // checkpoint + cleanup mid-stream: partition info must survive
      DeltaInterchange.checkpoint(s, dest)
      DeltaInterchange.cleanupLog(dest)
      // COW deletes of users 120-129 in every partition
      t.merge(noUpserts, ev.select(col("event_type")).distinct()
        .crossJoin(s.range(120, 130).select(col("id").as("user_id"))))
      require(DeltaInterchange.mirror(s, t, dest) == 1)
      require(DeltaInterchange.mirror(s, t, dest) == 0, "no-op writes nothing")
      val snap = DeltaInterchange.readLog(s, dest)
      require(snap.partitionColumns == Seq("event_type"),
        "metaData.partitionColumns must record the layout")
      require(snap.files.nonEmpty && snap.files.forall(f =>
        java.nio.file.Paths.get(f).getFileName.toString
          .matches("""part-v\d+-b\d+-\d+\.parquet""")),
        "partitioned adds must split per (partition, source bucket)")
      require(!s.read.parquet(snap.files.min).columns.contains("event_type"),
        "data files never store the partition column")
      DeltaInterchange.importDelta(s, dest).orderBy("event_type", "user_id")
    }),

    "c_iceberg_v1_import" -> ((s, dir) => {
      // a FOREIGN format-version 1 Iceberg table in the LEGACY metadata
      // shape (single `schema`, flat `partition-spec`, manifests without
      // content/sequence fields) — the tables pre-v2 warehouses still
      // hold. Import reads them under the spec's v1 semantics.
      import graft.sinks.IcebergInterchange
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericData, GenericRecord}
      val dest = java.nio.file.Files.createTempDirectory("graft_ibv1").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dest, "metadata"))
      val ev = Tables.load(s, dir, "events").filter(col("event_id") < 1200)
        .select("event_id", "user_id", "event_type")
      val tmp = java.nio.file.Files.createTempDirectory("ibv1f").toString
      ev.write.mode("overwrite").parquet(tmp)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString).zipWithIndex.map { case (p, i) =>
          val out = java.nio.file.Paths.get(dest, s"f$i.parquet")
          java.nio.file.Files.move(p, out); out
        }
      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":["null","long"],"default":null},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
      val listSchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"},
          |{"name":"partition_spec_id","type":"int"},
          |{"name":"added_snapshot_id","type":["null","long"],"default":null}]}"""
          .stripMargin)
      val entries: Seq[GenericRecord] = files.map { f =>
        val df = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        df.put("file_path", f.toString)
        df.put("file_format", "PARQUET")
        df.put("partition", new GenericData.Record(
          df.getSchema.getField("partition").schema()))
        df.put("record_count", 1L) // v1 counts are advisory for this read
        df.put("file_size_in_bytes", java.nio.file.Files.size(f))
        val r = new GenericData.Record(entrySchema)
        r.put("status", 1); r.put("snapshot_id", 9L); r.put("data_file", df)
        r
      }
      val mPath = java.nio.file.Paths.get(dest, "metadata", "m-v1.avro")
      IcebergInterchange.writeAvro(mPath, entrySchema,
        Map("format-version" -> "1"), entries)
      val listPath = java.nio.file.Paths.get(dest, "metadata", "snap-9.avro")
      val mf = new GenericData.Record(listSchema)
      mf.put("manifest_path", mPath.toString)
      mf.put("manifest_length", java.nio.file.Files.size(mPath))
      mf.put("partition_spec_id", 0)
      mf.put("added_snapshot_id", 9L)
      IcebergInterchange.writeAvro(listPath, listSchema,
        Map("format-version" -> "1"), Seq(mf))
      val meta =
        s"""{"format-version":1,"table-uuid":"u","location":"$dest",
           |"last-updated-ms":0,"last-column-id":3,
           |"schema":{"type":"struct","schema-id":0,"fields":[
           |{"id":1,"name":"event_id","required":false,"type":"long"},
           |{"id":2,"name":"user_id","required":false,"type":"long"},
           |{"id":3,"name":"event_type","required":false,"type":"string"}]},
           |"partition-spec":[],"properties":{},
           |"current-snapshot-id":9,
           |"snapshots":[{"snapshot-id":9,"timestamp-ms":0,
           |"manifest-list":"$listPath"}]}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dest, "metadata", "v1.metadata.json"),
        meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dest, "metadata", "version-hint.text"),
        "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      IcebergInterchange.importIceberg(s, dest).orderBy("event_id")
    }),

    "c_time_travel_import" -> ((s, dir) => {
      // TIME TRAVEL on import for all three interchange formats: a
      // lakehouse table takes two data commits, mirrors to Delta /
      // Iceberg / Paimon, and each mirror is read AS OF the FIRST data
      // commit — all three must reproduce exactly the pre-second-commit
      // state, i.e. the batch-1 aggregation.
      import graft.sinks.{DeltaInterchange, IcebergInterchange, PaimonInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_tt_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id")), buckets = 4)
      val ev = Tables.load(s, dir, "events").filter(col("event_id") < 800)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      val dl = java.nio.file.Files.createTempDirectory("graft_tt_dl").toString
      val ib = java.nio.file.Files.createTempDirectory("graft_tt_ib").toString
      val pm = java.nio.file.Files.createTempDirectory("graft_tt_pm").toString
      t.merge(batch(col("event_id") < 400), noKeys)
      // capture each format's head id after the FIRST data commit, before
      // the second commit moves the heads: Delta versions are 0-based
      // commit counts; Iceberg ids list in the metadata; Paimon keeps the
      // LATEST hint
      val n1 = DeltaInterchange.mirror(s, t, dl)
      require(n1 >= 1)
      require(IcebergInterchange.mirror(s, t, ib) >= 1)
      require(PaimonInterchange.mirror(s, t, pm) >= 1)
      val dlV = n1 - 1L
      val ibIds = IcebergInterchange.snapshotIds(ib)
      val pmId = PaimonInterchange.latestSnapshotId(pm).get
      t.merge(batch(col("event_id") >= 400), noKeys)
      require(DeltaInterchange.mirror(s, t, dl) == 1)
      require(IcebergInterchange.mirror(s, t, ib) == 1)
      require(PaimonInterchange.mirror(s, t, pm) == 1)
      def tag(df: DataFrame, fmt: String) =
        df.select(lit(fmt).as("fmt"), col("event_type"), col("user_id"),
          col("last_event"))
      tag(DeltaInterchange.importDelta(s, dl,
          Some(dlV)), "delta")
        .unionAll(tag(IcebergInterchange.importIceberg(s, ib,
          Some(ibIds.last)), "iceberg"))
        .unionAll(tag(PaimonInterchange.importPaimon(s, pm,
          asOfSnapshotId = Some(pmId)), "paimon"))
        .orderBy("fmt", "event_type", "user_id")
    }),

    "c_delta_dv_import" -> ((s, dir) => {
      // a FOREIGN Delta table using DELETION VECTORS (the modern writer's
      // default delete path, reader version 3): two data files over
      // events, one masked by a Z85/portable-roaring SIDECAR deletion
      // vector, the other by an INLINE one — import filters the marked
      // row indexes map-side and must match the row-predicate oracle.
      import graft.sinks.{DeltaInterchange, DeltaReaderFeatures}
      val dest = java.nio.file.Files.createTempDirectory("graft_dvimp").toString
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType)))
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 2000 &&
          col("event_id").isNotNull && col("user_id").isNotNull)
        .select("event_id", "user_id", "event_type")
      def fileOf(name: String, rows: Seq[Row]): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("dvf").toString
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(part, java.nio.file.Paths.get(dest, name))
      }
      // the collected order IS the in-file row order (local-seq
      // DataFrames preserve it), so DV positions derive from the same seq
      val a = ev.filter(col("event_id") < 1000).orderBy("event_id").collect().toSeq
      val b = ev.filter(col("event_id") >= 1000).orderBy("event_id").collect().toSeq
      fileOf("fa.parquet", a); fileOf("fb.parquet", b)
      def deadPositions(rows: Seq[Row]) = rows.zipWithIndex
        .collect { case (r, i) if r.getLong(1) % 7 == 3 => i.toLong }
      val (_, Seq((podA, offA, szA, cardA))) =
        DeltaReaderFeatures.writeDvFile(dest, Seq(deadPositions(a)))
      val (podB, szB, cardB) = DeltaReaderFeatures.inlineDv(deadPositions(b))
      val schemaEsc = schema.json.replace("\"", "\\\"")
      val lines = Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],""" +
          """"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaEsc","partitionColumns":[],""" +
          s""""configuration":{},"createdTime":0}}""",
        s"""{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
          s""""modificationTime":0,"dataChange":true,""" +
          s""""deletionVector":{"storageType":"u","pathOrInlineDv":"$podA",""" +
          s""""offset":$offA,"sizeInBytes":$szA,"cardinality":$cardA}}}""",
        s"""{"add":{"path":"fb.parquet","partitionValues":{},"size":1,""" +
          s""""modificationTime":0,"dataChange":true,""" +
          s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$podB",""" +
          s""""sizeInBytes":$szB,"cardinality":$cardB}}}""")
      val logDir = java.nio.file.Paths.get(dest, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      DeltaInterchange.importDelta(s, dest).orderBy("event_id")
    }),

    "c_delta_colmap_import" -> ((s, dir) => {
      // a FOREIGN column-mapped Delta table (name mode, reader version
      // 2): the parquet files store col-<id> PHYSICAL names; the logical
      // names live only in per-field schemaString metadata. Import reads
      // under the physical schema and surfaces logical names.
      import graft.sinks.DeltaInterchange
      val dest = java.nio.file.Files.createTempDirectory("graft_cmimp").toString
      val ev = Tables.load(s, dir, "events").filter(col("event_id") < 1500)
        .select(col("event_id").as("col-a7f3"),
          col("user_id").as("col-b2c9"), col("event_type").as("col-d511"))
      val tmp = java.nio.file.Files.createTempDirectory("cmf").toString
      ev.write.mode("overwrite").parquet(tmp)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      val names = parts.zipWithIndex.map { case (p, i) =>
        val n = s"f$i.parquet"
        java.nio.file.Files.move(p, java.nio.file.Paths.get(dest, n)); n
      }
      def fm(id: Int, phys: String) =
        s"""{\\"delta.columnMapping.id\\":$id,""" +
          s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}"""
      val schemaEsc =
        s"""{\\"type\\":\\"struct\\",\\"fields\\":[""" +
          s"""{\\"name\\":\\"event_id\\",\\"type\\":\\"long\\",\\"nullable\\":true,\\"metadata\\":${fm(1, "col-a7f3")}},""" +
          s"""{\\"name\\":\\"user_id\\",\\"type\\":\\"long\\",\\"nullable\\":true,\\"metadata\\":${fm(2, "col-b2c9")}},""" +
          s"""{\\"name\\":\\"event_type\\",\\"type\\":\\"string\\",\\"nullable\\":true,\\"metadata\\":${fm(3, "col-d511")}}]}"""
      val lines = Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$schemaEsc","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"3"},"createdTime":0}}""") ++
        names.map(n =>
          s"""{"add":{"path":"$n","partitionValues":{},"size":1,""" +
            s""""modificationTime":0,"dataChange":true}}""")
      val logDir = java.nio.file.Paths.get(dest, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      DeltaInterchange.importDelta(s, dest).orderBy("event_id")
    }),

    "c_iceberg_partitioned_mirror" -> ((s, dir) => {
      // per-commit mirror of an identity-PARTITIONED Iceberg table: each
      // commit's adds split into one data file per (partition, source
      // lakehouse bucket) — partition values in manifest structs (Column
      // Projection restores them; files never store event_type), the
      // source bucket in the file NAME so whole-bucket rewrites map to
      // DELETED entries with no sidecar, MOR deletes as equality-delete
      // manifests on the secondary unpartitioned spec.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ibpm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("user_id", LongType, nullable = false),
          StructField("last_event", LongType))),
        primaryKeys = Seq("event_type", "user_id"),
        partitionKeys = Seq("event_type")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_ibpm_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 500 && col("user_id") < 150)
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(col("event_id")).as("last_event"))
      val noKeys = s.range(0).select(
        lit("").as("event_type"), col("id").as("user_id"))
      t.merge(batch(col("event_id") < 250), noKeys)
      require(IcebergInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 250), noKeys)
      require(IcebergInterchange.mirror(s, t, dest) == 1,
        "exactly the new commit mirrors")
      t.deleteWhere(ev.select(col("event_type")).distinct()
        .crossJoin(s.range(140, 150).select(col("id").as("user_id"))))
      require(IcebergInterchange.mirror(s, t, dest) == 1)
      require(IcebergInterchange.mirror(s, t, dest) == 0, "no-op writes nothing")
      val dataDir = java.nio.file.Paths.get(dest, "data")
      val splitFiles = {
        val it = java.nio.file.Files.list(dataDir).iterator()
        val buf = Seq.newBuilder[String]
        while (it.hasNext) buf += it.next().toString
        buf.result().filter(_.matches(""".*part-s\d+-b\d+-\d+\.parquet"""))
      }
      require(splitFiles.nonEmpty,
        "partitioned adds must split per (partition, source bucket)")
      require(!s.read.parquet(splitFiles.min).columns.contains("event_type"),
        "data files never store the partition column (Column Projection)")
      val back = IcebergInterchange.importIceberg(s, dest)
      require(back.columns.contains("event_type"),
        "the import restores the partition column from the manifests")
      back.orderBy("event_type", "user_id")
    }),

    "c_iceberg_partitioned" -> ((s, dir) => {
      // identity-partitioned Iceberg: the documents table exports
      // partitioned by lang — data files do NOT store the partition column
      // (asserted below); the importer restores it per file from the
      // manifests' partition structs, the spec's Column Projection rule.
      import graft.sinks.IcebergInterchange
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val dest = java.nio.file.Files.createTempDirectory("graft_ibp_dst").toString
      IcebergInterchange.exportPartitioned(s, docs, dest, Seq("lang"))
      val snap = IcebergInterchange.readTable(dest)
      require(snap.partitionCols == Seq("lang" -> "lang"),
        "the default spec must carry the identity partition field")
      require(!s.read.parquet(snap.files.head).columns.contains("lang"),
        "identity partition columns must come from metadata, not the files")
      IcebergInterchange.importIceberg(s, dest).orderBy("doc_id")
    }),

    "c_iceberg_bucket_import" -> ((s, dir) => {
      // NON-identity transforms on import: a foreign table whose spec
      // buckets doc_id and day-partitions n_chars' source column — the
      // importer needs no Column Projection because the spec stores
      // source columns in the data files for derived partition fields;
      // the derived tuple is pruning metadata only. (Export of such specs
      // still refuses — this library never derives transforms.)
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ibb_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("lang", StringType),
          StructField("n_chars", LongType))),
        primaryKeys = Seq("doc_id")), buckets = 4)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      t.merge(docs, s.range(0).select(col("id").as("doc_id")))
      val dest = java.nio.file.Files.createTempDirectory("graft_ibb_dst").toString
      IcebergInterchange.export(s, t, dest)
      // graft a foreign bucket[8] spec over doc_id, as a real engine's
      // ALTER TABLE ADD PARTITION FIELD would record it
      val v = IcebergInterchange.latestMetadataVersion(dest).get
      val root = IcebergInterchange.readMetadata(dest, v)
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val spec = root.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "partition-specs").get(0)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val f = spec.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "fields").addObject()
      f.put("name", "doc_bucket"); f.put("transform", "bucket[8]")
      f.put("source-id", 1); f.put("field-id", 1000)
      IcebergInterchange.writeMetadata(dest, v + 1, root)
      val snap = IcebergInterchange.readTable(dest)
      require(snap.partitionCols.isEmpty,
        "a derived-only spec projects nothing — values come from the files")
      IcebergInterchange.importIceberg(s, dest).orderBy("doc_id")
    }),

    "c_iceberg_v3_dv" -> ((s, dir) => {
      // Iceberg FORMAT-VERSION 3 import, deletion-vector subset: DVs ride
      // in Puffin sidecars as the SAME portable RoaringBitmapArray bytes
      // the Delta reader features decode (the two specs share the
      // serialization), referenced per data file from the manifest's
      // v3 fields (143-145), and apply as a MAP-SIDE bitmap probe against
      // broadcast descriptors — no extra shuffle. Rows with
      // doc_id % 7 == 0 are deleted by DV; the import equals the
      // filtered table. Row lineage / column defaults / v4 still refuse.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_dv_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("lang", StringType),
          StructField("n_chars", LongType))),
        primaryKeys = Seq("doc_id")), buckets = 4)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      t.merge(docs, s.range(0).select(col("id").as("doc_id")))
      val dest = java.nio.file.Files.createTempDirectory("graft_dv_dst").toString
      IcebergInterchange.export(s, t, dest)
      val snap = IcebergInterchange.readTable(dest)
      val pos = s.read.parquet(snap.files: _*)
        .selectExpr("doc_id", "_metadata.file_path AS f",
          "_metadata.row_index AS i")
        .filter(col("doc_id") % 7 === 0)
        .select(regexp_replace(col("f"), "^file:(//)?", "").as("f"), col("i"))
        .collect().groupBy(_.getString(0))
        .map { case (f, rs) => f -> rs.map(_.getLong(1)).toSeq }
      require(pos.nonEmpty, "fixture must delete something")
      IcebergInterchange.attachDeletionVectors(dest, pos)
      IcebergInterchange.importIceberg(s, dest).orderBy("doc_id")
    }),

    "c_iceberg_v3_defaults" -> ((s, dir) => {
      // v3 COLUMN DEFAULTS on import (spec default-values rule):
      // `initial-default` is the value rows in files written BEFORE the
      // column existed must READ; `write-default` is writer-side only and
      // never alters a read. Table A adds the column as METADATA ONLY —
      // the common `ALTER TABLE ADD COLUMN ... DEFAULT` case, no file
      // rewritten — so every row reads 42 (never the write-default 7,
      // never null). Table B rewrites every file to STORE the column:
      // stored values win over the default. Writes into default-bearing
      // tables still refuse (attachDeletionVectors' guard).
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
      import org.apache.spark.sql.types.MetadataBuilder
      import scala.jdk.CollectionConverters._
      def exported(): String = {
        val t = new LakehouseTable(s,
          java.nio.file.Files.createTempDirectory("graft_dflt_src").toString)
        t.create(TableSchema(
          StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("lang", StringType),
            StructField("n_chars", LongType))),
          primaryKeys = Seq("doc_id")), buckets = 4)
        t.merge(Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
          s.range(0).select(col("id").as("doc_id")))
        val dest = java.nio.file.Files.createTempDirectory("graft_dflt_dst").toString
        IcebergInterchange.export(s, t, dest)
        // v2 -> v3 with a defaulted column appended to the schema
        val v = IcebergInterchange.latestMetadataVersion(dest).get
        val root = IcebergInterchange.readMetadata(dest, v).deepCopy[ObjectNode]()
        root.put("format-version", 3)
        root.get("schemas").get(0).get("fields").asInstanceOf[ArrayNode]
          .addObject().put("id", 4).put("name", "score").put("required", false)
          .put("type", "int").put("initial-default", 42).put("write-default", 7)
        if (root.has("last-column-id")) root.put("last-column-id", 4)
        IcebergInterchange.writeMetadata(dest, v + 1, root)
        dest
      }
      val destA = exported()
      val destB = exported()
      // B: every data file rewritten to STORE score = doc_id % 5, footers
      // stamped with Iceberg field ids 1..4 like a real v3 writer
      java.nio.file.Files.list(java.nio.file.Paths.get(destB, "data"))
        .iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
        .foreach { p =>
          val df = s.read.parquet(p.toString)
            .withColumn("score", (col("doc_id") % 5).cast(IntegerType))
          val st = StructType(df.schema.fields.zipWithIndex.map { case (f, j) =>
            f.copy(metadata = new MetadataBuilder()
              .putLong("parquet.field.id", j + 1L).build())
          })
          val tmp = java.nio.file.Files.createTempDirectory("graft_dflt_rw")
          s.createDataFrame(df.rdd, st).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
          java.nio.file.Files.copy(part, p,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      val a = IcebergInterchange.importIceberg(s, destA).withColumn("tbl", lit("A"))
      val b = IcebergInterchange.importIceberg(s, destB).withColumn("tbl", lit("B"))
      a.unionByName(b)
        .select(col("tbl"), col("doc_id"), col("lang"), col("n_chars"), col("score"))
        .orderBy("tbl", "doc_id")
    }),

    "c_iceberg_rename_import" -> ((s, dir) => {
      // A foreign table whose LIVE FILES SPAN A RENAME (lang -> language
      // at field id 2): pre-rename files store `lang`, post-rename files
      // store `language`, all footers stamped with Iceberg field ids as
      // every real Iceberg writer stamps them. NAME-based resolution
      // would silently read NULLs for the renamed column from the
      // pre-rename files; the importer aligns EVERY file's footer to the
      // current schema by field id, so both shapes read correctly.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      import org.apache.spark.sql.types.MetadataBuilder
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ibr_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("lang", StringType),
          StructField("n_chars", LongType))),
        primaryKeys = Seq("doc_id")), buckets = 4)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      t.merge(docs, s.range(0).select(col("id").as("doc_id")))
      val dest = java.nio.file.Files.createTempDirectory("graft_ibr_dst").toString
      IcebergInterchange.export(s, t, dest)
      // the rename lands in the metadata: field id 2 keeps its id
      val v = IcebergInterchange.latestMetadataVersion(dest).get
      val root = IcebergInterchange.readMetadata(dest, v)
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      root.get("schemas").get(0).get("fields").get(1)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("name", "language")
      IcebergInterchange.writeMetadata(dest, v + 1, root)
      // half the files keep the PRE-rename footer (lang), half take the
      // POST-rename footer (language); all carry field ids 1..3
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(
          java.nio.file.Paths.get(dest, "data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
      files.zipWithIndex.foreach { case (p, i) =>
        val names = if (i % 2 == 0) Seq("doc_id", "lang", "n_chars")
                    else Seq("doc_id", "language", "n_chars")
        val df = s.read.parquet(p.toString).toDF(names: _*)
        val st = StructType(df.schema.fields.zipWithIndex.map { case (f, j) =>
          f.copy(metadata = new MetadataBuilder()
            .putLong("parquet.field.id", j + 1L).build())
        })
        val tmp = java.nio.file.Files.createTempDirectory("graft_ibr_rw")
        s.createDataFrame(df.rdd, st).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        java.nio.file.Files.copy(part, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      IcebergInterchange.importIceberg(s, dest).orderBy("doc_id")
    }),

    "c_iceberg_mirror" -> ((s, dir) => {
      // continuous Iceberg mirroring: one Iceberg SNAPSHOT per lakehouse
      // commit (adds in a new manifest, removes rewriting only the
      // affected manifests), called after each of three merges. Final
      // imported state equals the one-shot export; the snapshot history
      // carries one time-travelable entry per commit.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ibm_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_ibm_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 400 && col("user_id") < 160)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 200), s.range(0).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) >= 1)
      t.merge(batch(col("event_id") >= 200), s.range(0).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) == 1, "exactly the new commit mirrors")
      t.merge(s.range(0).select(col("id").as("k"), lit("").as("v")),
        s.range(150, 160).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) == 1)
      require(IcebergInterchange.mirror(s, t, dest) == 0, "a no-op call writes nothing")
      val snap = IcebergInterchange.readTable(dest)
      require(snap.properties(IcebergInterchange.MirrorProperty).toLong ==
        t.latestVersion(), "mirror progress must track the lakehouse head")
      // maintenance: expiring all history but the head must not change
      // the live state the oracle checks
      require(IcebergInterchange.expireSnapshots(dest, 1)._1 == 2,
        "expiry prunes exactly the two superseded snapshots")
      IcebergInterchange.importIceberg(s, dest).orderBy("k")
    }),

    "c_iceberg_mor" -> ((s, dir) => {
      // MERGE-ON-READ interchange: the lakehouse's equality-delete files
      // mirror as real Iceberg v2 delete manifests (content=1,
      // data_file.content=2, PK equality ids), and the importer applies
      // the spec's sequence rule — a delete at sequence S masks data
      // files with sequence < S, so users re-merged AFTER the delete
      // survive while users only present before it stay deleted.
      import graft.sinks.{IcebergInterchange, LakehouseTable}
      val t = new LakehouseTable(s,
        java.nio.file.Files.createTempDirectory("graft_ibd_src").toString)
      t.create(TableSchema(
        StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("k")), buckets = 4)
      val dest = java.nio.file.Files.createTempDirectory("graft_ibd_dst").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 1000)
        .select(col("event_id"), col("user_id"))
      def batch(p: org.apache.spark.sql.Column) = ev.filter(p).groupBy(col("user_id"))
        .agg(max(col("event_id")).as("me"))
        .select(col("user_id").as("k"), concat(lit("e"), col("me")).as("v"))
      t.merge(batch(col("event_id") < 500), s.range(0).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) >= 1)
      t.deleteWhere(s.range(100, 150).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) == 1)
      require(IcebergInterchange.readTable(dest).deletes.nonEmpty,
        "the MOR delete must surface as a live Iceberg delete file")
      t.merge(batch(col("event_id") >= 500), s.range(0).select(col("id").as("k")))
      require(IcebergInterchange.mirror(s, t, dest) == 1)
      IcebergInterchange.importIceberg(s, dest).orderBy("k")
    }),

    "c_mongo_socket" -> ((s, dir) => {
      // the THIRD architecture's live socket: the document change-stream
      // model over real OP_MSG wire bytes — hello, aggregate with a
      // $changeStream stage, getMore cursor paging, resume tokens across
      // sessions — driven through the incremental framework with a
      // kill/restart (the down-time suffix resumes at the checkpointed
      // position's token, exactly how a real change stream resumes).
      // Update events resolve UPDATE_LOOKUP-style ON THE SERVER before
      // they cross the wire.
      import graft.sources.mongo.{DocumentChangeSource, MongoServerDouble,
        MongoSocketChangeSource}
      val t = TableId.parse("appdb.collection")
      val initial = (0L until 150L).map(i => (i, """{"v": "init"}"""))
      val mongo = new DocumentChangeSource(t, initial)
      val double = new MongoServerDouble(mongo)
      double.start()
      val src = new MongoSocketChangeSource(double)
      val srcId = s"verify-mongosock-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): Unit =
          mongo.updateDoc(r.getLong(1), s"""{"v": "e${r.getLong(0)}"}""")
        val (batchA, batchB) = ev.partition(_.getLong(0) < 150)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_mongosock").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }
        // run 1: chunked snapshot, then batch A tailed LIVE over the socket
        run(batchA.foreach(upd))
        require(buf.size == 150 + batchA.length,
          s"run 1 must emit 150 snapshot + ${batchA.length} live rows, got ${buf.size}")
        require(double.sessionCount > 0, "the log phase must use real OP_MSG sessions")
        // while DOWN: batch B, trailing deletes, and replaces whose
        // update-lookups must resolve to the REPLACED state
        batchB.foreach(upd)
        (140L until 150L).foreach(mongo.deleteDoc(_))
        (0L until 5L).foreach(i => mongo.replaceDoc(i, """{"v": "final"}"""))
        // run 2: checkpoint resume — the restarted stream resumes at the
        // checkpointed position's token over the wire
        run(())
        val run2 = buf.size - 150 - batchA.length
        require(run2 == batchB.length + 15,
          s"restart must replay exactly the missed ${batchB.length + 15} events, got $run2")
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, d)) if d != null => (id, d) }
        import s.implicits._
        rows.toDF("_id", "doc").orderBy("_id")
      } finally {
        ChangeSourceRegistry.remove(srcId)
        double.stop()
      }
    }),

    // The Postgres logical-decoding model through the same incremental
    // source ([[graft.sources.postgres.WalChangeSource]]) — the last
    // architecturally distinct offset family: LSN offsets (sparse,
    // content-sized strides, `PostgresOffset.java:97-101` orders by LSN
    // alone) under REPLICATION-SLOT retention (the streaming runtime's
    // commit hook acknowledges each CHECKPOINTED position, the slot
    // recycles WAL behind it — `PostgresStreamFetchTask.java:126-155`).
    // Phases: snapshot chunks over a table with pre-stream commits; a live
    // log phase of multi-change committed transactions; a DOWN-TIME batch
    // replayed from a round-tripped wal2json capture (default REPLICA
    // IDENTITY: key-only oldkeys on update/delete); restart from the same
    // checkpoint must emit exactly the down-time records — nothing lost to
    // slot recycling, nothing re-emitted.
    "c_postgres_wire" -> ((s, dir) => {
      import graft.sources.postgres.{Lsn, Wal2Json, WalChangeSource}
      val t = TableId.parse("public.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new WalChangeSource(t, schema, initial, slotName = "graft_verify_slot")
      val srcId = s"verify-pgwire-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)

        // Q1 committed BEFORE the stream exists: seen only via snapshot chunks
        q1.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))

        val ckpt = java.nio.file.Files.createTempDirectory("graft_pgwire").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable() // fence: source anchors before we mutate
          body
          q.processAllAvailable()
          q.stop()
        }

        // run 1: snapshot + live log phase (multi-change committed txs)
        run { q2.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq)) }
        val run1 = buf.size
        require(run1 == 150 + q2.length,
          s"run 1 must emit 150 snapshot rows + ${q2.length} tx records, got $run1")
        // the checkpoint commit hook advanced the slot and recycled WAL
        require(src.confirmedFlushLsn.isValid, "stream never acknowledged the slot")

        // down-time: a captured wal2json stream (commit positions from the
        // capture survive the round trip), then key-only deletes
        val head = src.currentOffset
        val lines = q3.grouped(9).zipWithIndex.map { case (g, i) =>
          Wal2Json.renderLine(Lsn(head + 100000L * (i + 1)), 700L + i, 0L, g.map(upd).toSeq)
        }.toSeq
        val dels = Wal2Json.renderLine(
          Lsn(head + 100000L * (lines.size + 1)), 900L, 0L,
          (140L until 150L).map(id => DataChangeEvent.delete(t, Map("id" -> id))))
        src.applyCapture(lines :+ dels)

        // run 2: restart against the same checkpoint — exactly the capture
        run(())
        val run2 = buf.size - run1
        require(run2 == q3.length + 10,
          s"restart must emit exactly the down-time capture (${q3.length + 10}), got $run2")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The pgoutput BINARY protocol (PostgreSQL's native plugin — what a
    // stock server streams; wal2json is optional contrib): a down-time
    // capture arrives as framed binary messages, the stateful Decoder
    // rebuilds committed transactions (Relation metadata shipped once,
    // data messages referencing the relid), and the decoded txs land
    // through the same LSN/slot source as wal2json. The restart must emit
    // exactly the capture.
    "c_postgres_pgoutput" -> ((s, dir) => {
      import graft.sources.postgres.{Lsn, PgOutput, WalChangeSource}
      val t = TableId.parse("public.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new WalChangeSource(t, schema, initial, slotName = "graft_pgout_slot")
      val srcId = s"verify-pgout-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 200 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val ckpt = java.nio.file.Files.createTempDirectory("graft_pgout").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }
        // run 1: the snapshot phase only
        run(())
        require(buf.size == 150, s"run 1 must emit the 150 snapshot rows, got ${buf.size}")
        // down-time: a pgoutput binary capture — Relation once, then two
        // update transactions and a delete transaction, each with its end LSN
        val head = src.currentOffset
        val relid = 51234
        val half = (ev.length + 1) / 2
        val updTxs = ev.grouped(half).zipWithIndex.flatMap { case (g, i) =>
          PgOutput.encodeTx(relid, schema, Lsn(head + 100000L * (i + 1)), 800L + i, 0L,
            g.map(upd).toSeq)
        }.toSeq
        val delTx = PgOutput.encodeTx(relid, schema, Lsn(head + 100000L * 3), 900L, 0L,
          (140L until 150L).map(id => DataChangeEvent.delete(t, Map("id" -> id))))
        val frames = PgOutput.encodeRelation(relid, schema, t) +: (updTxs ++ delTx)
        val decoded = new PgOutput.Decoder().feedAll(frames)
        require(decoded.size == 3, s"capture must decode to 3 txs, got ${decoded.size}")
        src.applyCaptureTxs(decoded)
        // run 2: restart against the same checkpoint — exactly the capture
        run(())
        val run2 = buf.size - 150
        require(run2 == ev.length + 10,
          s"restart must emit exactly the decoded capture (${ev.length + 10}), got $run2")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The MySQL binlog REPLICATION SOCKET, end to end: a loopback TCP double
    // speaks the documented client/server + replication wire protocol
    // (handshake V10, COM_REGISTER_SLAVE, COM_BINLOG_DUMP, ROTATE/
    // FORMAT_DESCRIPTION/TABLE_MAP/WRITE+UPDATE+DELETE_ROWS_v2/XID events,
    // checksum-off v4 layout), and the incremental-snapshot framework's log
    // phase reads it through real dump sessions — chunked snapshot, live
    // tail, kill, server writes MORE binlog across a file ROTATION while the
    // stream is down, restart resumes from the checkpointed (file, pos) and
    // replays exactly the missed suffix. The closable slice of SURVEY §2.1
    // #8 the sandbox allows (reference lifecycle:
    // `flink-connector-mysql-cdc/.../MySqlSourceBuilder.java:57-290`).
    "c_mysql_socket" -> ((s, dir) => {
      import graft.sources.mysql.{BinlogServerDouble, BinlogSocketChangeSource}
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val double = new BinlogServerDouble(t, schema, initial, rotateEvery = 40)
      double.start()
      val src = new BinlogSocketChangeSource(double)
      val srcId = s"verify-mysqlsock-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1), "v" -> "old"),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (batchA, batchB) = ev.partition(_.getLong(0) < 150)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_mysqlsock").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }
        // run 1: chunked snapshot, then batch A tailed LIVE over the socket
        run(batchA.grouped(25).foreach(g => double.commitTx(g.toSeq.map(upd))))
        require(buf.size == 150 + batchA.length,
          s"run 1 must emit 150 snapshot + ${batchA.length} live rows, got ${buf.size}")
        require(double.dumpSessionCount > 0, "the log phase must use real dump sessions")
        // while DOWN: batch B + trailing deletes, crossing file rotations
        batchB.grouped(25).foreach(g => double.commitTx(g.toSeq.map(upd)))
        double.commitTx((140L until 150L).map(id =>
          DataChangeEvent.delete(t, Map("id" -> id, "v" -> "any"))))
        require(double.fileCount > 1, "the down-time writes must cross a rotation")
        // run 2: checkpoint resume replays exactly the missed suffix
        run(())
        val run2 = buf.size - 150 - batchA.length
        require(run2 == batchB.length + 10,
          s"restart must replay exactly the missed ${batchB.length + 10} events, got $run2")
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally {
        ChangeSourceRegistry.remove(srcId)
        double.stop()
      }
    }),

    "c_postgres_socket" -> ((s, dir) => {
      // the SECOND source family's live socket: a walsender double behind a
      // real TCP listener speaking the PostgreSQL v3 + streaming-replication
      // protocol (START_REPLICATION → CopyBoth → XLogData-wrapped pgoutput),
      // driven through the incremental framework's chunk → LW/HW → tail
      // machinery with checkpoint restart. The slot semantics of
      // c_postgres_wire run here AGAINST WIRE BYTES: confirmed_flush_lsn
      // advances through real standby-status-update frames (the runtime's
      // commitOffset feedback), retention trims behind it, and a dump from
      // a recycled position is refused with a real ErrorResponse.
      import graft.sources.postgres.{PgReplicationClient, PgReplicationServerDouble,
        PgSocketChangeSource, WalChangeSource}
      val t = TableId.parse("public.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val wal = new WalChangeSource(t, schema, initial)
      val double = new PgReplicationServerDouble(wal)
      double.start()
      val src = new PgSocketChangeSource(double)
      val srcId = s"verify-pgsock-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1), "v" -> "old"),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (batchA, batchB) = ev.partition(_.getLong(0) < 150)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_pgsock").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }
        // run 1: chunked snapshot, then batch A tailed LIVE over the socket
        run(batchA.grouped(25).foreach(g => wal.commitTx(g.toSeq.map(upd))))
        require(buf.size == 150 + batchA.length,
          s"run 1 must emit 150 snapshot + ${batchA.length} live rows, got ${buf.size}")
        require(double.sessionCount > 0, "the log phase must use real walsender sessions")
        // while DOWN: batch B + trailing deletes land in the WAL
        batchB.grouped(25).foreach(g => wal.commitTx(g.toSeq.map(upd)))
        wal.commitTx((140L until 150L).map(id =>
          DataChangeEvent.delete(t, Map("id" -> id, "v" -> "any"))))
        // run 2: checkpoint resume replays exactly the missed suffix
        run(())
        val run2 = buf.size - 150 - batchA.length
        require(run2 == batchB.length + 10,
          s"restart must replay exactly the missed ${batchB.length + 10} events, got $run2")
        // the runtime's commitOffset feedback arrived as standby-status
        // frames: the slot advanced and recycled the WAL behind it —
        // a replay from zero is now refused ON THE WIRE
        require(wal.confirmedFlushLsn.isValid, "checkpoint feedback must advance the slot")
        val refusal = try {
          PgReplicationClient.dump("127.0.0.1", double.port, wal.slotName,
            t.schemaName, fromLsn = 0L, flushedLsn = 0L)
          ""
        } catch { case e: IllegalStateException => e.getMessage }
        require(refusal.contains("58P01"),
          s"recycled-WAL dump must fail with the wire error, got: $refusal")
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally {
        ChangeSourceRegistry.remove(srcId)
        double.stop()
      }
    }),

    // MULTI-SOURCE ROUTE MERGE: three architecturally different families —
    // a poll-based change-table source, a sharded VGtid source, and a
    // watermark-sorted TiKV source — feed ONE pipeline, each through its
    // own per-table stream (the `scan.newly-added-table` mechanism), all
    // ROUTED into a single merged sink table (the reference's many-to-one
    // route: `TableIdRouter` + merged CREATE). Disjoint id ranges keep the
    // merge observable; the oracle reconstructs each family's final state
    // and unions them. What this asserts that the per-family gates cannot:
    // the routing/composition layer is source-architecture-agnostic.
    "c_multi_source_merge" -> ((s, dir) => {
      import graft.pipeline._
      import graft.sources.sqlserver.SqlServerChangeSource
      import graft.sources.tidb.TiCdcChangeSource
      import graft.sources.vitess.VStreamChangeSource
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      def init(base: Long) =
        (base until base + 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val tA = TableId.parse("dbo.users")
      val tB = TableId.parse("commerce.users")
      val tC = TableId.parse("test.users")
      val srcA = new SqlServerChangeSource(tA, schema, init(0L))
      val srcB = new VStreamChangeSource(tB, schema, init(1000L))
      val srcC = new TiCdcChangeSource(tC, schema, init(2000L))
      val run = java.util.UUID.randomUUID().toString
      val (idA, idB, idC) = (s"merge-a-$run", s"merge-b-$run", s"merge-c-$run")
      ChangeSourceRegistry.register(idA, srcA)
      ChangeSourceRegistry.register(idB, srcB)
      ChangeSourceRegistry.register(idC, srcC)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(t: TableId, base: Long)(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> (base + r.getLong(1))),
          Map("id" -> (base + r.getLong(1)), "v" -> s"e${r.getLong(0)}"))
        val (qa, rest) = ev.partition(_.getLong(0) < 100)
        val (qb, qc) = rest.partition(_.getLong(0) < 200)

        // each family takes its slice through its OWN ingestion mechanics
        qa.grouped(7).foreach(g => srcA.commitTx(g.map(upd(tA, 0L)).toSeq))
        srcA.runCaptureJob()
        qb.foreach(r => srcB.write(upd(tB, 1000L)(r)))
        var tso = 5000000L
        qc.foreach { r => tso += 2; srcC.writeCommitted(tso - 1, tso, upd(tC, 2000L)(r)) }
        srcC.advanceAllResolved(tso)

        val ckpt = java.nio.file.Files.createTempDirectory("graft_merge").toString
        val yaml =
          s"""source:
             |  type: sqlserver
             |  sourceId: $idA
             |  chunk.size: 40
             |sink:
             |  type: values
             |route:
             |  - source-table: dbo.users
             |    sink-table: ods.merged
             |  - source-table: commerce.users
             |    sink-table: ods.merged
             |  - source-table: test.users
             |    sink-table: ods.merged
             |pipeline:
             |  name: multi-source-merge
             |  checkpoint.dir: $ckpt
             |""".stripMargin
        val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))(s)
        runner.runHandlingDdl() // family A drains (snapshot + captured polls)
        val qB = runner.addTable(idB)
        qB.processAllAvailable(); qB.stop()
        val qC = runner.addTable(idC)
        qC.processAllAvailable(); qC.stop()

        val sink = runner.sink.asInstanceOf[graft.sinks.MemoryDatabase]
        val merged = TableId.parse("ods.merged")
        val rows = sink.rowsOf(merged)
        require(rows.size == 450,
          s"the merged table must hold all three families' 150 rows each, got ${rows.size}")
        import s.implicits._
        rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[String]))
          .toDF("id", "v").orderBy("id")
      } finally {
        ChangeSourceRegistry.remove(idA)
        ChangeSourceRegistry.remove(idB)
        ChangeSourceRegistry.remove(idC)
      }
    }),

    // RESHARDING under the composite-offset family: a Vitess shard split
    // mid-pipeline. The cut journals a TOPOLOGY EPOCH (the packed VGtid
    // carries it above the per-shard positions, so offsets stay monotone
    // across the cut), the two new shards start at gtid 0, the undisturbed
    // shard keeps its position, and a checkpoint taken BEFORE the cut
    // resumes across it: the runtime replays the old epoch's unconsumed
    // tail first, then the new epoch's events — without ever seeing a
    // non-monotone offset. Assertions: the restart replays exactly the
    // down-time writes (which straddle the cut), the emitted shard names
    // switch to the split halves, and the final VGtid decodes to the new
    // 3-shard topology at epoch 1.
    "c_vitess_reshard" -> ((s, dir) => {
      import graft.sources.vitess.{VGtid, VStreamChangeSource}
      val t = TableId.parse("commerce.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new VStreamChangeSource(t, schema, initial,
        initialShards = 2, shardSpan = 75L)
      val srcId = s"verify-reshard-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)
        val (q3a, q3b) = q3.splitAt(q3.length / 2)

        q1.foreach(r => src.write(upd(r)))

        val ckpt = java.nio.file.Files.createTempDirectory("graft_reshard").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }

        // run 1: snapshot + live 2-shard tail; checkpoint lands in epoch 0
        run(q2.foreach(r => src.write(upd(r))))
        require(buf.size == 150 + q2.length,
          s"run 1 must emit 150 snapshot + ${q2.length} live rows, got ${buf.size}")

        // while DOWN: writes straddle a reshard — old-epoch tail (q3a),
        // the CUT, then new-epoch writes (q3b) and deletes. The operator
        // splits at the live traffic's median key so BOTH halves take
        // post-cut writes whatever the fixture's user distribution is.
        q3a.foreach(r => src.write(upd(r)))
        val q3bUsers = q3b.map(_.getLong(1)).filter(_ < 75L).distinct.sorted
        require(q3bUsers.size >= 2, s"fixture too thin to exercise the split: $q3bUsers")
        src.reshard(0, at = Some(q3bUsers(q3bUsers.size / 2)))
        q3b.foreach(r => src.write(upd(r)))
        (140L until 150L).foreach(id =>
          src.write(DataChangeEvent.delete(t, Map("id" -> id))))
        run(())
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 10,
          s"resume across the cut must replay old tail + new epoch (${q3.length + 10}), got $run2")

        // the emitted stream switched shard names at the cut
        val shards = buf.drop(150).map(_.getMap[String, String](5)("shard")).distinct
        require(shards.exists(_.endsWith("_a")) && shards.exists(_.endsWith("_b")),
          s"split-shard names must appear after the cut, got $shards")
        val fin = VGtid.unpack(src.currentOffset, src.nShards)
        require(fin.epoch == 1 && src.nShards == 3,
          s"final topology must be 3 shards at epoch 1, got $fin")
        require(src.reshardJournal.size == 1, "exactly one journaled cut")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The TiKV-CDC family through the same incremental source
    // ([[graft.sources.tidb.TiCdcChangeSource]]) — the WATERMARK-SORTED
    // architecture (`TiKVRichParallelSourceFunction.java:89-92,264-270`
    // buffers prewrite/commit TreeMaps and flushes up to the resolved ts;
    // `org/tikv/cdc/CDCClient.java:60-61,120-125` tracks per-region
    // resolved timestamps): Percolator two-phase rows arrive per region
    // OUT of commit-ts order, and emission waits for the GLOBAL watermark —
    // the minimum resolved ts across regions. Family-specific assertions:
    // a LAGGARD REGION holds the watermark (commits from fast regions stay
    // unemitted however long they sit buffered; advancing the laggard
    // releases them all), SORTED emission (arrival order shuffled, emitted
    // offsets strictly increasing), prewrite invisibility + rollback
    // discard, and checkpoint restart replaying exactly the down-time
    // window.
    "c_tidb_resolved" -> ((s, dir) => {
      import graft.sources.tidb.TiCdcChangeSource
      val t = TableId.parse("test.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new TiCdcChangeSource(t, schema, initial)
      val srcId = s"verify-tidb-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)

        // the TSO: commit timestamps increase in EVENT order, whatever
        // order the two-phase rows are submitted in
        var tso = 1000000L
        def nextTs(): (Long, Long) = { tso += 2; (tso - 1, tso) }

        // q1: committed + resolved before the stream exists
        q1.foreach { r => val (st, ct) = nextTs(); src.writeCommitted(st, ct, upd(r)) }
        src.advanceAllResolved(tso)

        val ckpt = java.nio.file.Files.createTempDirectory("graft_tidb").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()

        val q = start()
        q.processAllAvailable()
        require(buf.size == 150, s"snapshot must emit 150 rows, got ${buf.size}")

        // q2: two-phase rows submitted in SHUFFLED order (prewrites in one
        // shuffle, commits in another) with event-ordered commit timestamps
        val stamped = q2.map { r => val (st, ct) = nextTs(); (st, ct, r) }
        val rnd = new scala.util.Random(42)
        rnd.shuffle(stamped.toSeq).foreach { case (st, _, r) => src.prewrite(st, upd(r)) }
        require(buf.size == 150 && src.pendingPrewriteCount == q2.length,
          "prewrites alone must be invisible")
        rnd.shuffle(stamped.toSeq).foreach { case (st, ct, _) => src.commitRow(st, ct) }
        // a poison prewrite rolled back before ever committing
        src.prewrite(999L, DataChangeEvent.update(
          t, Map("id" -> 1L), Map("id" -> 1L, "v" -> "POISON")))
        src.rollbackRow(999L)

        // fast regions resolve; the laggard (region 2) does not: the
        // buffered commits stay unemittable behind the global watermark
        src.advanceResolved(0, tso)
        src.advanceResolved(1, tso)
        q.processAllAvailable()
        require(buf.size == 150,
          s"laggard region must hold the watermark, yet ${buf.size - 150} rows emitted " +
            s"(${src.bufferedCommitCount} buffered)")
        src.advanceResolved(2, tso)
        q.processAllAvailable()
        q.stop()
        require(buf.size == 150 + q2.length,
          s"advancing the laggard must release all ${q2.length} commits, got ${buf.size - 150}")
        // the sorter: emitted commit-ts order despite shuffled arrival
        val seqs = buf.drop(150).map(_.getLong(4))
        require(seqs == seqs.sorted && seqs.distinct == seqs,
          "emission must be commit-ts sorted regardless of arrival order")

        // while DOWN: q3 + deletes commit and resolve
        q3.foreach { r => val (st, ct) = nextTs(); src.writeCommitted(st, ct, upd(r)) }
        (140L until 150L).foreach { id =>
          val (st, ct) = nextTs()
          src.writeCommitted(st, ct, DataChangeEvent.delete(t, Map("id" -> id)))
        }
        src.advanceAllResolved(tso)
        val q2nd = start()
        q2nd.processAllAvailable()
        q2nd.stop()
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 10,
          s"restart must replay exactly the down-time window (${q3.length + 10}), got $run2")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The sharded-keyspace family through the same incremental source
    // ([[graft.sources.vitess.VStreamChangeSource]]) — the COMPOSITE-OFFSET
    // architecture (the reference's Vitess connector checkpoints a VGTID:
    // one GTID PER SHARD — `flink-connector-vitess-cdc/.../table/
    // VitessTableSource.java` config surface): each shard has an
    // independent binlog, a VStream merges them with per-shard order but NO
    // global order, and the SPI offset is the packed VGtid vector clock.
    // Family-specific assertions: per-shard emission order preserved
    // through the merged stream (shard_gtid strictly increasing within each
    // shard), the checkpoint resume handing EACH shard its own unpacked
    // position (down-time writes skewed across shards replay exactly), and
    // the final VGtid decoding to shard positions that differ — proof the
    // offset really is a vector, not a scalar.
    "c_vitess_vgtid" -> ((s, dir) => {
      import graft.sources.vitess.{VGtid, VStreamChangeSource}
      val t = TableId.parse("commerce.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new VStreamChangeSource(t, schema, initial)
      val srcId = s"verify-vitess-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)

        // q1: routed to the owning shards before the stream exists
        q1.foreach(r => src.write(upd(r)))

        val ckpt = java.nio.file.Files.createTempDirectory("graft_vitess").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(body: => Unit): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          body
          q.processAllAvailable()
          q.stop()
        }

        // run 1: chunked snapshot + live merged tail
        run(q2.foreach(r => src.write(upd(r))))
        require(buf.size == 150 + q2.length,
          s"run 1 must emit 150 snapshot + ${q2.length} live rows, got ${buf.size}")

        // while DOWN: q3 + deletes, landing skewed across the shards
        q3.foreach(r => src.write(upd(r)))
        (140L until 150L).foreach(id =>
          src.write(DataChangeEvent.delete(t, Map("id" -> id))))
        run(())
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 10,
          s"restart must replay each shard's own tail (${q3.length + 10}), got $run2")

        // per-shard order must survive the merged stream end to end
        val streamed = buf.drop(150).map(_.getMap[String, String](5))
        streamed.groupBy(_("shard")).foreach { case (shard, ms) =>
          val gs = ms.map(_("shard_gtid").toLong)
          require(gs == gs.sorted && gs.distinct == gs,
            s"shard $shard emitted out of order: $gs")
        }
        // the offset is a VECTOR: final positions differ across shards
        val fin = VGtid.unpack(src.currentOffset, src.nShards)
        require(fin.positions.distinct.size >= 2,
          s"shards should sit at different positions, got ${fin.asString}")
        require(fin.positions.sum == streamed.size + q1.length,
          s"per-shard positions must sum to the journal (${streamed.size + q1.length}), " +
            s"got ${fin.asString}")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The Oracle redo-log family through the same incremental source
    // ([[graft.sources.oracle.LogMinerChangeSource]]) — the MINED-LOG
    // architecture (the reference vendors Debezium's
    // `logminer/LogMinerStreamingChangeEventSource.java`): capture is a SQL
    // query over SCN ranges whose rows are raw redo entries from ALL
    // transactions INTERLEAVED, uncommitted included, and the reader
    // assembles transactions itself. Family-specific assertions:
    // UNCOMMITTED INVISIBILITY (mined entries of open transactions emit
    // nothing), ROLLBACK DISCARD (a rolled-back transaction's poison
    // entries never appear), COMMIT-ORDER EMISSION (a transaction that
    // started first but committed second emits second, despite lower entry
    // SCNs), and an IN-FLIGHT transaction spanning a stream restart —
    // begun live, committed while down — replaying completely (the
    // restart-SCN contract: the mining window reaches back to the oldest
    // open transaction's first entry).
    "c_oracle_logminer" -> ((s, dir) => {
      import graft.sources.oracle.LogMinerChangeSource
      val t = TableId.parse("scott.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new LogMinerChangeSource(t, schema, initial)
      val srcId = s"verify-logminer-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def images(r: Row): (Map[String, Any], Map[String, Any]) =
          (Map[String, Any]("id" -> r.getLong(1)),
            Map[String, Any]("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)
        val (q3live, q3down) = q3.splitAt(q3.length / 2)

        // q1: committed before the stream exists — snapshot chunks only
        q1.grouped(7).foreach { g =>
          val tx = src.begin()
          g.foreach { r => val (b, a) = images(r); tx.update(b, a) }
          tx.commit()
        }

        val ckpt = java.nio.file.Files.createTempDirectory("graft_logminer").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()

        val q = start()
        q.processAllAvailable()
        require(buf.size == 150, s"snapshot must emit 150 rows, got ${buf.size}")

        // three interleaved transactions: A takes even users, B odd users,
        // entries appended in event order so the two MINE INTERLEAVED (a
        // user's q2 events stay in ONE tx, so commit order between A and B
        // cannot reorder any single key's history — the inversion below
        // stresses emission order, not the materialized state)
        val txA = src.begin(); val txB = src.begin()
        q2.foreach { r =>
          val (b, a) = images(r); (if (r.getLong(1) % 2 == 0) txA else txB).update(b, a)
        }
        val txD = src.begin()
        q3live.foreach { r => val (b, a) = images(r); txD.update(b, a) }
        q.processAllAvailable()
        require(buf.size == 150,
          s"uncommitted entries leaked: ${buf.size - 150} events emitted with all txs open")

        // a rolled-back transaction's poison never emits
        val txR = src.begin()
        (0L until 10L).foreach(id =>
          txR.update(Map("id" -> id), Map("id" -> id, "v" -> "POISON")))
        txR.rollback()

        // B commits FIRST: all of B emits while A (earlier entry SCNs) waits
        val q2b = q2.count(_.getLong(1) % 2 == 1)
        txB.commit()
        q.processAllAvailable()
        require(buf.size == 150 + q2b,
          s"commit-order: B's $q2b events must emit alone, got ${buf.size - 150}")
        txA.commit()
        q.processAllAvailable()
        q.stop()
        require(buf.size == 150 + q2.length,
          s"A's events must follow, got ${buf.size - 150} of ${q2.length}")

        // the in-flight D forces the restart window back to its first entry
        require(src.openTxCount == 1, "txD must still be open across the restart")
        require(src.restartScn < (src.currentOffset >> 16),
          "restartScn must reach back before the last commit while D is in flight")

        // while DOWN: D finishes (second half + commit), another poison
        // rollback, then trailing deletes
        q3down.foreach { r => val (b, a) = images(r); txD.update(b, a) }
        txD.commit()
        val txR2 = src.begin()
        txR2.update(Map("id" -> 1L), Map("id" -> 1L, "v" -> "POISON"))
        txR2.rollback()
        val txDel = src.begin()
        (140L until 150L).foreach(id => txDel.delete(Map("id" -> id)))
        txDel.commit()

        val q2nd = start()
        q2nd.processAllAvailable()
        q2nd.stop()
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 10,
          s"restart must replay D (${q3.length}) + 10 deletes, got $run2")
        require(!buf.exists(r => r.getStruct(3) != null && !r.getStruct(3).isNullAt(1) &&
          r.getStruct(3).getString(1) == "POISON"),
          "rolled-back entries leaked into the emitted stream")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // The SQL Server change-data family through the same incremental source
    // ([[graft.sources.sqlserver.SqlServerChangeSource]]) — the POLL-BASED
    // architecture: there is no log to tail. An asynchronous CAPTURE JOB
    // copies committed transactions from the transaction log into change
    // tables, and the stream phase polls LSN windows of them (the
    // fn_cdc_get_all_changes query shape; offset semantics
    // `sqlserver/source/offset/LsnOffset.java:37-50`). Family-specific
    // assertions: capture LAG (a committed tx is invisible to polling until
    // the capture job runs — emitted count must NOT move), update PAIRING
    // (operation-3/4 row pairs reassemble into single update events carrying
    // FULL before images — unlike Postgres' key-only oldkeys), and
    // checkpoint restart replaying exactly the down-time capture.
    "c_sqlserver_ct" -> ((s, dir) => {
      import graft.sources.sqlserver.SqlServerChangeSource
      val t = TableId.parse("dbo.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new SqlServerChangeSource(t, schema, initial)
      val srcId = s"verify-sqlserver-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)), // key-only input; the change table records the FULL image
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 100)
        val (q2, q3) = rest.partition(_.getLong(0) < 200)

        // q1: committed AND captured before the stream exists — seen only
        // via snapshot chunks (the change-table head anchors past them)
        q1.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        src.runCaptureJob()

        val ckpt = java.nio.file.Files.createTempDirectory("graft_sqlserver").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()

        // run 1: snapshot, then the capture-lag probe, then live polling
        val q = start()
        q.processAllAvailable()
        require(buf.size == 150, s"snapshot must emit 150 rows, got ${buf.size}")
        q2.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        require(src.uncapturedTxCount > 0, "txs must be pending capture")
        q.processAllAvailable()
        require(buf.size == 150,
          s"capture lag violated: polling saw ${buf.size - 150} rows before the capture job ran")
        src.runCaptureJob()
        q.processAllAvailable()
        q.stop()
        require(buf.size == 150 + q2.length,
          s"after the capture job the poll must emit ${q2.length} events, got ${buf.size - 150}")
        require(buf.drop(150).forall(r =>
          r.getString(1) != "UPDATE" || (r.getStruct(2) != null && !r.getStruct(2).isNullAt(1))),
          "update events must carry FULL before images (every column, not key-only)")

        // down-time: q3 + trailing deletes, captured while the stream is DOWN
        q3.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        src.commitTx((140L until 150L).map(id =>
          DataChangeEvent.delete(t, Map("id" -> id))))
        src.runCaptureJob()
        val q2nd = start()
        q2nd.processAllAvailable()
        q2nd.stop()
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 10,
          s"restart must replay exactly the down-time capture (${q3.length + 10}), got $run2")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // Db2 ASN: the same poll family as SQL Server change tables, but with
    // ASN's family-distinct update encoding — NO update operation code in
    // the CD table; the Capture program records an update as a 'D' row
    // (full before) immediately followed by an 'I' row (full after) in one
    // COMMITSEQ, and the reader reassembles them POSITIONALLY (the
    // reference's LEAD/LAG query, Db2Connection.java:62-73) — including the
    // corollary that a bare delete immediately followed by a bare insert in
    // one transaction reads as a single update (the id-120 probe below,
    // which the oracle encodes).
    "c_db2_asn" -> ((s, dir) => {
      import graft.sources.db2.Db2AsnChangeSource
      val t = TableId.parse("asn.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new Db2AsnChangeSource(t, schema, initial)
      val srcId = s"verify-db2-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") >= 600 && col("event_id") < 900 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def upd(r: Row): DataChangeEvent = DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)), // key-only input; the CD row records the FULL image
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        val (q1, rest) = ev.partition(_.getLong(0) < 700)
        val (q2, q3) = rest.partition(_.getLong(0) < 800)

        // q1: committed AND captured before the stream exists — snapshot-only
        q1.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        src.runCaptureProgram()

        val ckpt = java.nio.file.Files.createTempDirectory("graft_db2").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()

        // run 1: snapshot, the capture-lag probe, then live polling
        val q = start()
        q.processAllAvailable()
        require(buf.size == 150, s"snapshot must emit 150 rows, got ${buf.size}")
        q2.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        require(src.uncapturedTxCount > 0, "txs must be pending capture")
        q.processAllAvailable()
        require(buf.size == 150,
          s"SYNCHPOINT lag violated: polling saw ${buf.size - 150} rows " +
            "before the Capture program ran")
        src.runCaptureProgram()
        q.processAllAvailable()
        q.stop()
        require(buf.size == 150 + q2.length,
          s"each D/I pair must reassemble into ONE update (expected " +
            s"${q2.length} events, got ${buf.size - 150})")
        require(buf.drop(150).forall(r =>
          r.getString(1) != "UPDATE" || (r.getStruct(2) != null && !r.getStruct(2).isNullAt(1))),
          "update events must carry FULL before images from the 'D' half")

        // down-time: q3, the positional-pairing corollary probe (one tx:
        // delete id 120 then insert id 120 — ASN reads it as ONE update),
        // and trailing deletes, all captured while the stream is DOWN
        q3.grouped(7).foreach(g => src.commitTx(g.map(upd).toSeq))
        src.commitTx(Seq(
          DataChangeEvent.delete(t, Map("id" -> 120L)),
          DataChangeEvent.insert(t, Map[String, Any]("id" -> 120L, "v" -> "pair120"))))
        src.commitTx((140L until 150L).map(id =>
          DataChangeEvent.delete(t, Map("id" -> id))))
        src.runCaptureProgram()
        val q2nd = start()
        q2nd.processAllAvailable()
        q2nd.stop()
        val run2 = buf.size - 150 - q2.length
        require(run2 == q3.length + 1 + 10,
          s"restart must replay the down-time capture with the delete+insert " +
            s"probe read as ONE update (${q3.length + 11} events), got $run2")
        val pairEvents = buf.filter { r =>
          r.getString(1) == "UPDATE" && r.getStruct(3) != null &&
            !r.getStruct(3).isNullAt(1) && r.getStruct(3).getString(1) == "pair120"
        }
        require(pairEvents.size == 1 && !pairEvents.head.getStruct(2).isNullAt(1),
          "the delete+insert tx must surface as exactly one update with a full before image")

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // SQL Server schema evolution = CAPTURE-INSTANCE MIGRATION: an ALTER
    // evolves the catalog immediately but the active capture instance keeps
    // recording the OLD column set (cdc.ddl_history logs the change) until
    // a second instance is enabled — so new-column values committed in the
    // migration window are silently dropped by capture, the documented SQL
    // Server data-loss window, WHICH THE ORACLE ENCODES (score is NULL for
    // every user whose last update landed before the switch). The switch
    // surfaces the AddColumn on the same control path as binlog mid-stream
    // DDL: the stream parks at the switch LSN, the evolution driver
    // handles + acks, and the restarted stream emits the new-shape rows.
    "c_sqlserver_migration" -> ((s, dir) => {
      import graft.pipeline._
      import graft.sources.sqlserver.SqlServerChangeSource
      val t = TableId.parse("dbo.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new SqlServerChangeSource(t, schema, initial)
      val srcId = s"verify-sqlserver-mig-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ssmig").toString
      try {
        val evolution = new SchemaEvolutionDriver(
          SchemaChangeBehavior.LENIENT,
          new MetadataApplier { def applySchemaChange(e: SchemaChangeEvent): Unit = () })
        evolution.handle(CreateTableEvent(t, schema))
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") >= 300 && col("event_id") < 600 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (a, rest) = ev.partition(_.getLong(0) < 400)
        val (b, c) = rest.partition(_.getLong(0) < 500)
        def updOld(r: Row) = DataChangeEvent.update(
          t, Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))
        def updNew(r: Row) = DataChangeEvent.update(
          t, Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}",
            "score" -> r.getLong(0).toInt))

        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId).option("chunk.size", "40")
          .load().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (bt: DataFrame, _: Long) => buf ++= bt.collect(); () }
          .start()

        val q1 = start()
        q1.processAllAvailable() // snapshot: 150 old-shape rows

        // phase A: captured by the original instance
        a.grouped(7).foreach(g => src.commitTx(g.map(updOld).toSeq))
        src.runCaptureJob()
        // the ALTER: catalog evolves, capture does NOT
        src.alterTable(AddColumnEvent(t,
          Seq(AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()))))
        // phase B — THE MIGRATION WINDOW: txs carry score, capture drops it
        b.grouped(7).foreach(g => src.commitTx(g.map(updNew).toSeq))
        src.runCaptureJob()
        // the switch: instance v2 takes over; the DDL surfaces at its LSN
        src.enableNewCaptureInstance()
        // phase C: the new instance captures the full shape
        c.grouped(7).foreach(g => src.commitTx(g.map(updNew).toSeq))
        src.runCaptureJob()

        q1.processAllAvailable() // drains A+B (old shape), parks at the switch
        q1.stop()
        require(buf.size == 150 + a.length + b.length,
          s"must park at the switch after A+B (${a.length + b.length}), got ${buf.size - 150}")
        val (_, ddl) = ChangeSourceRegistry.pendingDdl(srcId)
          .getOrElse(throw new IllegalStateException("the switch DDL did not surface"))
        require(ddl.isInstanceOf[AddColumnEvent], s"expected the AddColumn, got $ddl")
        evolution.handle(ddl)
        ChangeSourceRegistry.ackPendingDdl(srcId)
        val q2 = start() // evolved payload schema
        q2.processAllAvailable()
        q2.stop()
        require(buf.size == 150 + ev.length,
          s"restart must emit phase C (${c.length}), got ${buf.size - 150 - a.length - b.length}")

        // PK-materialize by NAME across both shapes (max seq wins)
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String, Option[Int])]
        buf.foreach { r =>
          val after = r.getStruct(3)
          val seq = r.getLong(4)
          if (after != null) {
            val id = after.getLong(after.schema.fieldIndex("id"))
            val v = after.getString(after.schema.fieldIndex("v"))
            val score =
              if (after.schema.fieldNames.contains("score") &&
                !after.isNullAt(after.schema.fieldIndex("score")))
                Some(after.getInt(after.schema.fieldIndex("score")))
              else None
            if (byKey.get(id).forall(_._1 <= seq)) byKey(id) = (seq, v, score)
          }
        }
        import s.implicits._
        byKey.toSeq.map { case (id, (_, v, score)) => (id, v, score) }
          .toDF("id", "v", "score")
          .select(col("id"), col("v"), col("score").cast(IntegerType).as("score"))
          .orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // pgoutput full-protocol frames: a capture from a real replication setup
    // carries Origin ('O'), Type ('Y'), and Message ('M') frames — benignly
    // skipped — and a TRUNCATE ('T') transaction, which pgoutput ships
    // IN-STREAM with no per-row deletes (reference:
    // `common/event/TruncateTableEvent.java`). The truncate surfaces on the
    // CONTROL path exactly like mid-stream DDL: the stream parks the batch
    // boundary in front of it (updates before it are emitted first), the
    // driver handles + acks, and the restarted stream emits only what
    // followed. Materialization clears state at the truncate position, so
    // the final table is exactly the post-truncate inserts.
    "c_pgoutput_truncate" -> ((s, dir) => {
      import graft.pipeline._
      import graft.sources.postgres.{Lsn, PgOutput, WalChangeSource}
      val t = TableId.parse("public.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new WalChangeSource(t, schema, initial, slotName = "graft_trunc_slot")
      val srcId = s"verify-pgtrunc-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val evolution = new SchemaEvolutionDriver(
          SchemaChangeBehavior.LENIENT,
          new MetadataApplier { def applySchemaChange(e: SchemaChangeEvent): Unit = () })
        evolution.handle(CreateTableEvent(t, schema))
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 160 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (updEv, insEv) = ev.partition(_.getLong(0) < 100)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_pgtrunc").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def run(): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("chunk.size", "40")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          q.stop()
        }
        run() // run 1: snapshot phase
        require(buf.size == 150, s"run 1 must emit the 150 snapshot rows, got ${buf.size}")
        // down-time capture: Relation + the three benign frame kinds, an
        // update tx, a TRUNCATE tx, then an insert tx of fresh rows
        val head = src.currentOffset
        val relid = 61234
        val frames = Seq(
          PgOutput.encodeRelation(relid, schema, t),
          PgOutput.encodeOrigin(Lsn(head), "upstream_a"),
          PgOutput.encodeType(600001, "public", "custom_enum")) ++
          PgOutput.encodeTx(relid, schema, Lsn(head + 100000L), 800L, 0L,
            updEv.toSeq.map(r => DataChangeEvent.update(
              t,
              Map("id" -> r.getLong(1)),
              Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")))) ++
          Seq(PgOutput.encodeMessage(transactional = false, Lsn(head + 150000L),
            "graft.marker", Array[Byte](1, 2, 3))) ++
          PgOutput.encodeTruncateTx(relid, Lsn(head + 200000L), 801L, 0L) ++
          PgOutput.encodeTx(relid, schema, Lsn(head + 300000L), 802L, 0L,
            insEv.toSeq.map(r => DataChangeEvent.insert(
              t,
              Map("id" -> (1000L + r.getLong(0)), "v" -> s"e${r.getLong(0)}"))))
        val decoded = new PgOutput.Decoder().feedAll(frames)
        require(decoded.size == 3, s"capture must decode to 3 txs, got ${decoded.size}")
        require(decoded(1).ddl == Seq(TruncateTableEvent(t)),
          s"middle tx must carry the truncate, got ${decoded(1).ddl}")
        src.applyCaptureTxs(decoded)
        // run 2: replays from the checkpoint, emits the updates, then PARKS
        // at the truncate (nothing past it may cross the batch boundary)
        run()
        require(buf.size == 150 + updEv.length,
          s"run 2 must park at the truncate after ${updEv.length} updates, " +
            s"got ${buf.size - 150}")
        val (truncAt, ddl) = ChangeSourceRegistry.pendingDdl(srcId)
          .getOrElse(throw new IllegalStateException("truncate did not surface"))
        require(ddl == TruncateTableEvent(t), s"expected truncate, got $ddl")
        evolution.handle(ddl)
        ChangeSourceRegistry.ackPendingDdl(srcId)
        run() // run 3: emits exactly the post-truncate inserts
        // PK-materialize in LSN order; the truncate position wipes state
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.sortBy(_.getLong(4)).foreach { r =>
          val seq = r.getLong(4)
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val live = byKey.filter { case (_, (seq, _)) => seq > truncAt }
        val rows = live.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // Mid-log startup positions (`StartupOptions.specificOffset` /
    // `StartupOptions.timestamp`): the log carries two batches of updates; the
    // stream starts from the recorded offset BETWEEN them, so it must replay
    // exactly the second batch — no snapshot chunks, no pre-offset events. A
    // second stream started in `timestamp` mode at the boundary timestamp must
    // land on the same position; the query throws if the two disagree.
    "c_startup_offset" -> ((s, dir) => {
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new ScriptedChangeSource(t, schema, initial)
      val srcId = s"verify-startup-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        def append(r: Row, ts: Long): Unit = src.append(DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")), ts)

        // batch A (before the startup position), then record it, then batch B
        ev.filter(_.getLong(0) < 150).foreach(append(_, 100L))
        val mid = src.currentOffset
        ev.filter(_.getLong(0) >= 150).foreach(append(_, 200L))

        def run(opts: Map[String, String]): Seq[Row] = {
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          val reader = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
          opts.foreach { case (k, v) => reader.option(k, v) }
          val q = reader.load().writeStream
            .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
            .start()
          q.processAllAvailable()
          q.stop()
          buf.toSeq
        }
        val fromOffset = run(Map(
          "startup.mode" -> "specific-offset", "startup.specific-offset" -> mid.toString))
        val fromTimestamp = run(Map(
          "startup.mode" -> "timestamp", "startup.timestamp" -> "200"))

        // no snapshot phase: every emitted event is a log-phase UPDATE
        require(fromOffset.nonEmpty && fromOffset.forall(_.getString(1) == "UPDATE"),
          s"specific-offset startup must replay only log events, got " +
            fromOffset.map(_.getString(1)).distinct.mkString(","))
        def materialize(rows: Seq[Row]): Map[Long, (Long, String)] = {
          val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
          rows.foreach { r =>
            val id = r.getStruct(3).getLong(0); val seq = r.getLong(4)
            if (byKey.get(id).forall(_._1 <= seq))
              byKey(id) = (seq, r.getStruct(3).getString(1))
          }
          byKey.toMap
        }
        val m = materialize(fromOffset)
        require(m == materialize(fromTimestamp),
          "timestamp startup at the boundary must equal specific-offset startup")
        import s.implicits._
        m.toSeq.map { case (id, (_, v)) => (id, v) }.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // Stream-STATIC enrichment inside the streaming plan: the CDC envelope
    // stream joins the nation dim (broadcast, re-planned per micro-batch) on
    // a key derived from the change images — the classic CDC-enrichment
    // topology. The static side never shuffles; the stream carries the
    // enriched rows to the sink.
    "s_enrich" -> ((s, dir) => {
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new ScriptedChangeSource(t, schema, initial)
      val srcId = s"verify-enrich-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        ev.foreach(r => src.append(DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}"))))
        val nation = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast(LongType).as("nkey"), col("n_name"))
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        val q = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "64")
          .load()
          .withColumn("nkey",
            pmod(coalesce(col("after.id"), col("before.id")), lit(25L)))
          .join(broadcast(nation), "nkey")
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            buf ++= b.select(col("op"), col("seq"),
              coalesce(col("after.id"), col("before.id")).as("id"),
              col("after.v"), col("n_name")).collect()
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String, String)]
        buf.foreach { r =>
          val id = r.getLong(2); val seq = r.getLong(1)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq,
              if (r.getString(0) == "DELETE") null else r.getString(3), r.getString(4))
        }
        import s.implicits._
        byKey.toSeq.collect { case (id, (_, v, n)) if v != null => (id, v, n) }
          .toDF("id", "v", "n_name").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // Watermarked event-time windowed aggregation through the REAL streaming
    // runtime: the events table flows through a MemoryStream into
    // EventTimeOps.windowedCounts (1-day windows, 1-hour watermark, append
    // mode); a sentinel beyond max(ts)+delay closes every real window. The
    // emitted-once window rows must equal a plain batch GROUP BY — the
    // exactly-once-per-window contract, DuckDB-checked.
    "s_windowed_counts" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      implicit val enc: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Row] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val data = Tables.load(s, dir, "events")
        .select(col("ts").cast(TimestampType), col("event_type"),
          col("value").cast(DoubleType))
        .collect()
      val maxTs = data.map(_.getTimestamp(0).getTime).max
      val name = "swc_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = MemoryStream[Row]
      val q = graft.streaming.EventTimeOps
        .windowedCounts(stream.toDF(), watermarkDelay = "1 hour", windowLength = "1 day")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(data.toIndexedSeq)
        q.processAllAvailable()
        // sentinel advances the watermark past every real window's end
        stream.addData(Row(
          new java.sql.Timestamp(maxTs + 3L * 24 * 3600 * 1000), "zz_sentinel", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      s.table(name)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(
          col("window_start").cast(DateType).as("day"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("day", "event_type")
    }),

    // Exact dedup as a STREAMING operator: every event is delivered twice
    // (at-least-once upstream), dropDuplicatesWithinWatermark emits the first
    // occurrence and drops the replay — dedup state lives only inside the
    // watermark horizon, so it is bounded at 100 TB/day. Output must equal
    // the plain distinct event set.
    "s_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("event_id", LongType),
        StructField("event_type", StringType)))
      implicit val enc: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Row] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val data = Tables.load(s, dir, "events")
        .select(col("ts").cast(TimestampType), col("event_id"), col("event_type"))
        .collect()
      val name = "sdd_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = MemoryStream[Row]
      val q = stream.toDF()
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(data.toIndexedSeq)
        q.processAllAvailable()
        stream.addData(data.toIndexedSeq) // the at-least-once replay
        q.processAllAvailable()
      } finally q.stop()
      s.table(name).select(col("event_id"), col("event_type")).orderBy("event_id")
    }),

    // Custom-state streaming (flatMapGroupsWithState + event-time timeout)
    // under the oracle gate: gap-based sessions computed by the stateful
    // operator must equal the batch gaps-and-islands SQL. A far-future
    // sentinel advances the watermark so every session closes by TIMEOUT —
    // the state-eviction path, not just the in-batch split path.
    "s_sessionize" -> ((s, dir) => {
      import graft.streaming.EventTimeOps
      import EventTimeOps.SessionEvent
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val data = Tables.load(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("ts").cast(TimestampType).as("ts"),
          col("value").cast(DoubleType).as("value"))
        .as[SessionEvent].collect()
      val maxTs = data.map(_.ts.getTime).max
      val name = "ssn_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = MemoryStream[SessionEvent]
      val q = EventTimeOps
        .sessionize(stream.toDS(), gapMillis = 6L * 3600 * 1000, watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(data.toIndexedSeq)
        q.processAllAvailable()
        val sentinelTs = maxTs + 30L * 24 * 3600 * 1000
        stream.addData(SessionEvent(999999L, new java.sql.Timestamp(sentinelTs), 0.0))
        q.processAllAvailable()
        stream.addData(SessionEvent(999999L, new java.sql.Timestamp(sentinelTs + 86400000L), 0.0))
        q.processAllAvailable()
      } finally q.stop()
      s.table(name)
        .filter(col("user_id") < 50)
        .select(
          col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("n_events"))
        .orderBy("user_id", "s_start")
    }),

    // Watermarked stream-stream INTERVAL join through the real streaming
    // runtime: signups joined to purchases by the same user within the next
    // 24 h. Both sides carry watermarks and the condition time-bounds both
    // event times, so join state is bounded (interval + watermark horizon) —
    // the only stream-stream join shape that survives 100 TB/day. Inner-join
    // matches emit as they occur; output must equal the batch interval join,
    // DuckDB-checked.
    "s_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val lSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("s_ts", TimestampType)))
      val rSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("p_ts", TimestampType),
        StructField("p_value", DoubleType)))
      def enc(schema: StructType) =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      val ev = Tables.load(s, dir, "events").filter(col("user_id") < 100)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").cast(TimestampType).as("s_ts")).collect()
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast(TimestampType).as("p_ts"),
          col("value").cast(DoubleType).as("p_value")).collect()
      val name = "ssj_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val left = MemoryStream[Row](1, s, None)(enc(lSchema))
      val right = MemoryStream[Row](2, s, None)(enc(rSchema))
      val joined = graft.streaming.EventTimeOps.intervalJoin(
        left.toDF(), right.toDF(), keyCol = "user_id",
        leftTs = "s_ts", rightTs = "p_ts", window = "1 day")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        left.addData(signups.toIndexedSeq)
        right.addData(purchases.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      s.table(name)
        .select(
          col("user_id"),
          date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("s_ts"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
          col("p_value"))
        .orderBy("user_id", "s_ts", "p_ts", "p_value")
    }),

    // Same protocol, REAL database engine: the identical scenario runs with
    // the Derby-backed JdbcChangeSource (ranged SQL snapshot reads + capture
    // log table) behind the same four-method dialect SPI — proving the DSv2
    // source is not coupled to the in-memory fixture.
    "c_incremental_jdbc" -> ((s, dir) => {
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val db = java.nio.file.Files.createTempDirectory("c-incr-jdbc").resolve("db")
      val src = new JdbcChangeSource(s"jdbc:derby:$db;create=true", t, schema)
      src.initTables()
      (0L until 150L).foreach(u =>
        src.applyEvent(DataChangeEvent.insert(t, Map("id" -> u, "v" -> "init"))))
      val srcId = s"verify-incremental-jdbc-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (pre, post) = ev.splitAt(ev.length / 2)
        def append(r: Row): Unit = src.applyEvent(DataChangeEvent.update(
          t,
          Map("id" -> r.getLong(1)),
          Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")))

        pre.foreach(append) // changes land in SQL table + capture log pre-read

        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        val q = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId)
          .option("chunk.size", "40")
          .load()
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()
        q.processAllAvailable()
        post.foreach(append) // log-phase tail out of the capture table
        q.processAllAvailable()
        q.stop()

        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String)]
        buf.foreach { r =>
          val op = r.getString(1)
          val after = r.getStruct(3); val before = r.getStruct(2)
          val id = if (after != null) after.getLong(0) else before.getLong(0)
          val seq = r.getLong(4)
          if (byKey.get(id).forall(_._1 <= seq))
            byKey(id) = (seq, if (op == "DELETE") null else after.getString(1))
        }
        val rows = byKey.toSeq.collect { case (id, (_, v)) if v != null => (id, v) }
        import s.implicits._
        rows.toDF("id", "v").orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // Mid-stream DDL through the DSv2 source: an ALTER arrives in the log
    // between the snapshot and the data events. The stream parks at the DDL
    // offset (batch boundary = flush barrier), the SchemaEvolutionDriver
    // handles it on the control path, and the stream restarts from the
    // checkpoint with the evolved schema — old-shape snapshot rows and
    // new-shape log rows materialize into one evolved table, oracle-checked.
    "c_stream_ddl" -> ((s, dir) => {
      import graft.pipeline._
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val src = new ScriptedChangeSource(t, schema, initial)
      val srcId = s"verify-streamddl-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      val ckpt = java.nio.file.Files.createTempDirectory("c-stream-ddl").toString
      try {
        val evolution = new SchemaEvolutionDriver(
          SchemaChangeBehavior.LENIENT,
          new MetadataApplier { def applySchemaChange(e: SchemaChangeEvent): Unit = () })
        evolution.handle(CreateTableEvent(t, schema))

        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        def start() = s.readStream.format(classOf[GraftCdcProvider].getName)
          .option("sourceId", srcId).option("chunk.size", "40")
          .load().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => buf ++= b.collect(); () }
          .start()

        val q1 = start()
        q1.processAllAvailable() // snapshot phase: 150 old-shape rows

        // the ALTER arrives between snapshot and log-data phase, then
        // new-shape events follow
        src.appendDdl(AddColumnEvent(t,
          Seq(AddColumnEvent.ColumnWithPosition("score", CdcTypes.IntT()))))
        Tables.load(s, dir, "events")
          .filter(col("event_id") >= 300 && col("event_id") < 600 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
          .foreach { r =>
            src.append(DataChangeEvent.update(
              t,
              Map("id" -> r.getLong(1)),
              Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}",
                "score" -> r.getLong(0).toInt)))
          }
        q1.processAllAvailable() // parks at the DDL offset; nothing new-shape emitted
        q1.stop()

        // control path: handle the pending DDL at the batch boundary, ack,
        // restart evolved — resumes from the checkpoint past the DDL
        val (_, ddl) = ChangeSourceRegistry.pendingDdl(srcId)
          .getOrElse(throw new IllegalStateException("DDL did not surface"))
        evolution.handle(ddl)
        ChangeSourceRegistry.ackPendingDdl(srcId)
        val q2 = start()
        q2.processAllAvailable()
        q2.stop()

        // PK-materialize by NAME across both shapes (max seq wins)
        val byKey = scala.collection.mutable.Map.empty[Long, (Long, String, Option[Int])]
        buf.foreach { r =>
          val after = r.getStruct(3)
          val seq = r.getLong(4)
          if (after != null) {
            val id = after.getLong(after.schema.fieldIndex("id"))
            val v = after.getString(after.schema.fieldIndex("v"))
            val score =
              if (after.schema.fieldNames.contains("score") &&
                !after.isNullAt(after.schema.fieldIndex("score")))
                Some(after.getInt(after.schema.fieldIndex("score")))
              else None
            if (byKey.get(id).forall(_._1 <= seq)) byKey(id) = (seq, v, score)
          }
        }
        import s.implicits._
        byKey.toSeq.map { case (id, (_, v, score)) => (id, v, score) }
          .toDF("id", "v", "score")
          .select(col("id"), col("v"), col("score").cast(IntegerType).as("score"))
          .orderBy("id")
      } finally ChangeSourceRegistry.remove(srcId)
    }),

    // DDL text -> MySqlDdlParser -> SchemaEvolutionDriver (LENIENT) ->
    // envelope coercion of old-shape rows into the evolved schema. Covers the
    // parser, the behavior rewrite (RENAME -> additive column under LENIENT,
    // MODIFY -> type widen), and the generated-cast coercion path.
    "c_ddl_evolution" -> ((s, dir) => {
      import graft.operators.Envelope
      import graft.pipeline._
      import graft.sources.mysql.MySqlDdlParser
      val tid = TableId.parse("app.customer")
      val driver = new SchemaEvolutionDriver(
        SchemaChangeBehavior.LENIENT,
        new MetadataApplier { def applySchemaChange(e: SchemaChangeEvent): Unit = () })
      Seq(
        """CREATE TABLE app.customer (
          |  c_custkey BIGINT NOT NULL PRIMARY KEY, c_name VARCHAR(64),
          |  c_nationkey INT, c_acctbal DOUBLE, c_mktsegment VARCHAR(16))""".stripMargin,
        "ALTER TABLE app.customer ADD COLUMN loyalty_tier VARCHAR(16)",
        "ALTER TABLE app.customer MODIFY COLUMN c_nationkey BIGINT",
        "ALTER TABLE app.customer RENAME COLUMN c_mktsegment TO segment")
        .flatMap(MySqlDdlParser.parse(_))
        .foreach(driver.handle)
      val env = Envelope.fromSnapshot(Tables.load(s, dir, "customer"), tid, col("c_custkey"))
      driver.coerceBatch(tid, env).selectExpr("after.*").orderBy("c_custkey")
    }),

    // ONE multi-clause ALTER statement through the binlog socket mid-stream:
    // `ADD score INT, RENAME v TO label, MODIFY score BIGINT` is a single
    // QUERY event at a single offset carrying THREE SchemaChangeEvents in
    // clause order (the reference's CustomAlterTableParserListener.java:64
    // accumulates a list per statement) — parked as a clause queue, applied
    // one ack at a time at the batch boundary, then the stream resumes with
    // the fully-evolved schema. Old-shape rows in flight before the ALTER
    // keep their renamed-column values (reader epoch translation + pending-
    // rename coercion bridge).
    "c_multiclause_alter" -> ((s, dir) => {
      import graft.pipeline._
      import graft.sources.mysql.{BinlogServerDouble, BinlogSocketChangeSource}
      val t = TableId.parse("app.users")
      val schema = TableSchema(
        StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", StringType))),
        primaryKeys = Seq("id"))
      val initial = (0L until 150L).map(u => Map[String, Any]("id" -> u, "v" -> "init"))
      val double = new BinlogServerDouble(t, schema, initial, rotateEvery = 60)
      double.start()
      val src = new BinlogSocketChangeSource(double)
      val srcId = s"verify-mclause-${java.util.UUID.randomUUID()}"
      ChangeSourceRegistry.register(srcId, src)
      try {
        val ckpt = java.nio.file.Files.createTempDirectory("graft_mclause").toString
        val yaml =
          s"""source:
             |  type: cdc
             |  sourceId: $srcId
             |  chunk.size: 40
             |sink:
             |  type: values
             |pipeline:
             |  checkpoint.dir: $ckpt
             |  schema.change.behavior: EVOLVE
             |""".stripMargin
        implicit val spark: SparkSession = s
        val runner = new PipelineRunner(YamlPipelineParser.parse(yaml))
        require(runner.runHandlingDdl() == 0, "snapshot drain must see no DDL")
        val sink = runner.sink.asInstanceOf[graft.sinks.MemoryDatabase]

        val ev = Tables.load(s, dir, "events")
          .filter(col("event_id") < 300 && col("user_id") < 150)
          .select(col("event_id"), col("user_id"))
          .orderBy("event_id")
          .collect()
        val (batchA, batchB) = ev.partition(_.getLong(0) < 150)
        // while the pipeline is between drains: old-shape updates, the
        // multi-clause ALTER, then new-shape updates — all in one log
        batchA.grouped(25).foreach(g => double.commitTx(g.toSeq.map(r =>
          DataChangeEvent.update(t,
            Map("id" -> r.getLong(1), "v" -> "old"),
            Map("id" -> r.getLong(1), "v" -> s"e${r.getLong(0)}")))))
        double.appendDdl(
          "ALTER TABLE app.users ADD COLUMN score INT, " +
            "RENAME COLUMN v TO label, MODIFY COLUMN score BIGINT")
        batchB.grouped(25).foreach(g => double.commitTx(g.toSeq.map(r =>
          DataChangeEvent.update(t,
            Map("id" -> r.getLong(1), "label" -> "old"),
            Map("id" -> r.getLong(1), "label" -> s"e${r.getLong(0)}",
              "score" -> r.getLong(0))))))

        val applied = runner.runHandlingDdl()
        require(applied == 3,
          s"the three clauses must apply as three acks at one offset, got $applied")
        require(sink.schemaOf(t).exists(_.columnNames == Seq("id", "label", "score")),
          s"evolved sink shape, got ${sink.schemaOf(t).map(_.columnNames)}")
        import s.implicits._
        sink.rowsOf(t)
          .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
            Option(r(2)).map(_.asInstanceOf[Long])))
          .toDF("id", "label", "score")
          .orderBy("id")
      } finally {
        ChangeSourceRegistry.remove(srcId)
        double.stop()
      }
    }))

  val oracles: Map[String, String] = Map(
    "c_incremental" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |ORDER BY u.id""".stripMargin,
    "c_startup_committed" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE event_id >= 100 AND event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT user_id AS id, 'e' || CAST(me AS VARCHAR) AS v
        |FROM last ORDER BY id""".stripMargin,
    "c_mongo_style" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id),
        |base AS (
        |  SELECT u._id,
        |    COALESCE('{"v": "e' || CAST(l.me AS VARCHAR) || '"}', '{"v": "init"}') AS doc
        |  FROM range(150) AS u(_id) LEFT JOIN last l ON l.user_id = u._id)
        |SELECT _id, CASE WHEN _id < 5 THEN '{"v": "final"}' ELSE doc END AS doc
        |FROM base WHERE _id < 140 ORDER BY _id""".stripMargin,
    // the merged-and-deleted state: last event per user under max-merge
    // semantics (the second merge's per-user max >= any first-batch event
    // for users it touches), users 140-149 deleted by the COW delete keys
    "c_delta_interchange" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 300 AND user_id < 140
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // per-commit mirroring converges to the same state as the one-shot
    // export: last event per user, users 140-149 deleted
    "c_delta_mirror" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 300 AND user_id < 140
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // the change feed itself, derived in SQL: batch-1 users insert at
    // commit 1; at commit 2 new users insert, overlapping users emit an
    // update pre-image (their batch-1 value) and post-image (batch-2 max,
    // which is the overall max since event ids >= 150 dominate)
    "c_delta_cdf" ->
      """WITH b1 AS (
        |  SELECT user_id, max(event_id) AS me FROM events
        |  WHERE event_id < 150 AND user_id < 150 GROUP BY user_id),
        |b2 AS (
        |  SELECT user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 150 AND event_id < 300 AND user_id < 150
        |  GROUP BY user_id)
        |SELECT * FROM (
        |  SELECT user_id AS k, 'e' || CAST(me AS VARCHAR) AS v,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |  FROM b1
        |  UNION ALL
        |  SELECT user_id, 'e' || CAST(me AS VARCHAR), 'insert', 2
        |  FROM b2 WHERE user_id NOT IN (SELECT user_id FROM b1)
        |  UNION ALL
        |  SELECT b1.user_id, 'e' || CAST(b1.me AS VARCHAR), 'update_preimage', 2
        |  FROM b1 JOIN b2 ON b1.user_id = b2.user_id
        |  UNION ALL
        |  SELECT b2.user_id, 'e' || CAST(b2.me AS VARCHAR), 'update_postimage', 2
        |  FROM b1 JOIN b2 ON b1.user_id = b2.user_id
        |) ORDER BY _commit_version, _change_type, k""".stripMargin,
    // checkpointed mirror converges to the same state as the plain mirror
    "c_delta_checkpoint" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 300 AND user_id < 140
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // Iceberg v2 interchange: last event per user under max-merge
    // semantics, users 150-159 deleted by the COW delete keys
    "c_iceberg_interchange" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 400 AND user_id < 150
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // Paimon interchange: last event per user under max-merge semantics,
    // users 150-159 deleted by the COW delete keys
    "c_paimon_interchange" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 400 AND user_id < 150
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // identity-partitioned Paimon: per (event_type, user_id) the overall
    // max event_id survives the two range-batched merges (range 2's ids
    // all exceed range 1's, so last-wins = global max)
    "c_paimon_partitioned" ->
      """SELECT event_type, user_id, max(event_id) AS last_event
        |FROM events
        |WHERE event_id < 400 AND user_id < 160
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    // append-only Paimon: two overlapping appends keep every duplicate —
    // the multiset equals the UNION ALL of the two batches
    "c_paimon_append" ->
      """SELECT event_id, user_id FROM events
        |WHERE user_id < 160 AND event_id < 300
        |UNION ALL
        |SELECT event_id, user_id FROM events
        |WHERE user_id < 160 AND event_id >= 200 AND event_id < 400
        |ORDER BY event_id, user_id""".stripMargin,
    // continuous append-only mirroring: per-commit snapshots of plain
    // rows keep the exact multiset of the two overlapping appends
    "c_paimon_append_mirror" ->
      """SELECT event_id, user_id FROM events
        |WHERE user_id < 160 AND event_id < 300
        |UNION ALL
        |SELECT event_id, user_id FROM events
        |WHERE user_id < 160 AND event_id >= 200 AND event_id < 400
        |ORDER BY event_id, user_id""".stripMargin,
    // per-commit Paimon mirroring with MOR-delete tombstones converges to
    // the same state (deletes of 150-159 applied via the LSM merge)
    "c_paimon_mirror" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 400 AND user_id < 150
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // Paimon changelog at Delta-CDF parity: inserts at commit 1, the
    // overlap as update pre/post pairs at commit 2 (batch 2's per-user max
    // always exceeds batch 1's in this window)
    "c_paimon_changelog" ->
      """WITH b1 AS (
        |  SELECT user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 300 AND event_id < 450 AND user_id < 150
        |  GROUP BY user_id),
        |b2 AS (
        |  SELECT user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 450 AND event_id < 600 AND user_id < 150
        |  GROUP BY user_id)
        |SELECT * FROM (
        |  SELECT user_id AS k, 'e' || CAST(me AS VARCHAR) AS v,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |  FROM b1
        |  UNION ALL
        |  SELECT user_id, 'e' || CAST(me AS VARCHAR), 'insert', 2
        |  FROM b2 WHERE user_id NOT IN (SELECT user_id FROM b1)
        |  UNION ALL
        |  SELECT b1.user_id, 'e' || CAST(b1.me AS VARCHAR), 'update_preimage', 2
        |  FROM b1 JOIN b2 ON b1.user_id = b2.user_id
        |  UNION ALL
        |  SELECT b2.user_id, 'e' || CAST(b2.me AS VARCHAR), 'update_postimage', 2
        |  FROM b1 JOIN b2 ON b1.user_id = b2.user_id
        |) ORDER BY _commit_version, _change_type, k""".stripMargin,
    // Paimon incremental read: the tailed window carries tombstones for
    // users 150-159 (kind 3, null value) and upserts (kind 0) for users
    // <120 with events in [200,300)
    "c_paimon_delta" ->
      """WITH dels AS (
        |  SELECT 3 AS kind, CAST(u.id AS BIGINT) AS k, CAST(NULL AS VARCHAR) AS v
        |  FROM range(150, 160) AS u(id)),
        |ups AS (
        |  SELECT 0 AS kind, user_id AS k,
        |    'e' || CAST(max(event_id) AS VARCHAR) AS v
        |  FROM events
        |  WHERE event_id >= 200 AND event_id < 300 AND user_id < 120
        |  GROUP BY user_id)
        |SELECT kind, k, v FROM dels
        |UNION ALL SELECT kind, k, v FROM ups
        |ORDER BY kind, k""".stripMargin,
    // full compaction is data-identical: the merged state equals the
    // mirrored history's converged per-user max minus deleted users
    "c_paimon_compact" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id >= 400 AND event_id < 800 AND user_id < 130
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // partitioned per-commit mirror: two merges + MOR deletes of users
    // 150-159 in every partition converge through the partitioned LSM to
    // the plain per-(event_type, user) max with those users gone
    "c_paimon_partitioned_mirror" ->
      """SELECT event_type, user_id, max(event_id) AS last_event
        |FROM events
        |WHERE event_id < 400 AND user_id < 150
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    // partitioned changelog at CDF parity, keyed by the full
    // (event_type, user_id) pk: inserts at commit 1, commit-2-only keys
    // as inserts, overlapping keys as update pre/post pairs (batch 2's
    // max always exceeds batch 1's in this window)
    "c_paimon_partitioned_changelog" ->
      """WITH b1 AS (
        |  SELECT event_type, user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 300 AND event_id < 450 AND user_id < 150
        |  GROUP BY event_type, user_id),
        |b2 AS (
        |  SELECT event_type, user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 450 AND event_id < 600 AND user_id < 150
        |  GROUP BY event_type, user_id)
        |SELECT * FROM (
        |  SELECT event_type, user_id, me AS last_event,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |  FROM b1
        |  UNION ALL
        |  SELECT event_type, user_id, me, 'insert', 2 FROM b2
        |  WHERE NOT EXISTS (SELECT 1 FROM b1
        |    WHERE b1.event_type = b2.event_type AND b1.user_id = b2.user_id)
        |  UNION ALL
        |  SELECT b1.event_type, b1.user_id, b1.me, 'update_preimage', 2
        |  FROM b1 JOIN b2
        |    ON b1.event_type = b2.event_type AND b1.user_id = b2.user_id
        |  UNION ALL
        |  SELECT b2.event_type, b2.user_id, b2.me, 'update_postimage', 2
        |  FROM b1 JOIN b2
        |    ON b1.event_type = b2.event_type AND b1.user_id = b2.user_id
        |) ORDER BY _commit_version, _change_type, event_type, user_id""".stripMargin,
    // partitioned Delta CDF: same change-row algebra as the Paimon
    // partitioned changelog — inserts at commit 1, commit-2-only keys as
    // inserts, overlapping keys as update pre/post pairs
    "c_delta_partitioned_cdf" ->
      """WITH b1 AS (
        |  SELECT event_type, user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 300 AND event_id < 450 AND user_id < 150
        |  GROUP BY event_type, user_id),
        |b2 AS (
        |  SELECT event_type, user_id, max(event_id) AS me FROM events
        |  WHERE event_id >= 450 AND event_id < 600 AND user_id < 150
        |  GROUP BY event_type, user_id)
        |SELECT * FROM (
        |  SELECT event_type, user_id, me AS last_event,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |  FROM b1
        |  UNION ALL
        |  SELECT event_type, user_id, me, 'insert', 2 FROM b2
        |  WHERE NOT EXISTS (SELECT 1 FROM b1
        |    WHERE b1.event_type = b2.event_type AND b1.user_id = b2.user_id)
        |  UNION ALL
        |  SELECT b1.event_type, b1.user_id, b1.me, 'update_preimage', 2
        |  FROM b1 JOIN b2
        |    ON b1.event_type = b2.event_type AND b1.user_id = b2.user_id
        |  UNION ALL
        |  SELECT b2.event_type, b2.user_id, b2.me, 'update_postimage', 2
        |  FROM b1 JOIN b2
        |    ON b1.event_type = b2.event_type AND b1.user_id = b2.user_id
        |) ORDER BY _commit_version, _change_type, event_type, user_id""".stripMargin,
    // legacy v1 Iceberg: the import equals the plain projection
    "c_iceberg_v1_import" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id < 1200 ORDER BY event_id""".stripMargin,
    // time travel: all three mirrors read AS OF the first data commit
    // must equal the batch-1 aggregation, once per format tag
    "c_time_travel_import" ->
      """SELECT f.fmt, e.event_type, e.user_id, e.last_event FROM (
        |  SELECT event_type, user_id, max(event_id) AS last_event
        |  FROM events WHERE event_id < 400 GROUP BY event_type, user_id
        |) e CROSS JOIN (
        |  SELECT unnest(['delta','iceberg','paimon']) AS fmt
        |) f ORDER BY f.fmt, e.event_type, e.user_id""".stripMargin,
    // deletion vectors: a foreign v3 table masks exactly the rows whose
    // user_id % 7 == 3 (one sidecar DV, one inline DV) — the import
    // equals the plain predicate
    "c_delta_dv_import" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id < 2000 AND event_id IS NOT NULL
        |  AND user_id IS NOT NULL AND user_id % 7 <> 3
        |ORDER BY event_id""".stripMargin,
    // column mapping (name mode): physical col-<id> parquet names surface
    // as the logical schema — values are the plain projection
    "c_delta_colmap_import" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id < 1500 ORDER BY event_id""".stripMargin,
    // partitioned per-commit Delta mirror: two merges + COW deletes of
    // users 120-129 converge to the per-(event_type, user) max with
    // those users gone
    "c_delta_partitioned_mirror" ->
      """SELECT event_type, user_id, max(event_id) AS last_event
        |FROM events
        |WHERE event_id < 600 AND user_id < 120
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    // partitioned per-commit Iceberg mirror: two merges + equality
    // deletes of users 140-149 converge to the per-(event_type, user)
    // max with those users gone — same recipe shape as the Paimon
    // partitioned mirror, different window for independence
    "c_iceberg_partitioned_mirror" ->
      """SELECT event_type, user_id, max(event_id) AS last_event
        |FROM events
        |WHERE event_id < 500 AND user_id < 140
        |GROUP BY event_type, user_id
        |ORDER BY event_type, user_id""".stripMargin,
    // identity-partitioned export/import: partition values round trip
    // through manifest metadata (files never store the lang column)
    "c_iceberg_partitioned" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // bucket[8]-partitioned foreign spec: source columns live in the data
    // files, so the import equals the plain table
    "c_iceberg_bucket_import" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // pk-less append-only partitioned mirror, metadata-only copy commits
    "c_part_mirror_copy" ->
      """SELECT event_type, event_id, user_id FROM events
        |WHERE event_id < 500
        |ORDER BY event_type, event_id""".stripMargin,
    // v3 deletion vectors mask doc_id % 7 == 0 row positions per file
    "c_iceberg_v3_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,
    // v3 column defaults: A = metadata-only add (initial-default 42 read
    // for every pre-existing row, write-default ignored), B = stored wins
    "c_iceberg_v3_defaults" ->
      """SELECT 'A' AS tbl, doc_id, lang, n_chars, 42 AS score FROM documents
        |UNION ALL
        |SELECT 'B', doc_id, lang, n_chars, CAST(doc_id % 5 AS INTEGER) FROM documents
        |ORDER BY tbl, doc_id""".stripMargin,
    // live files spanning a rename (lang -> language at field id 2) read
    // correctly by footer field-id alignment; no silent nulls
    "c_iceberg_rename_import" ->
      """SELECT doc_id, lang AS language, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // per-commit snapshot mirroring converges to the one-shot export state
    "c_iceberg_mirror" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 400 AND user_id < 150
        |GROUP BY user_id
        |ORDER BY k""".stripMargin,
    // MOR interchange with the sequence rule: users outside 100-149 keep
    // their overall max; users 100-149 were deleted after the first
    // batch, so they survive ONLY via the re-merge of events >= 500
    // (whose ids numerically dominate, making the overall max equal that
    // batch's max) — at sf0.01 this resurrects 47 users and keeps 3
    // deleted, exercising both outcomes of the sequence rule
    "c_iceberg_mor" ->
      """SELECT user_id AS k, 'e' || CAST(max(event_id) AS VARCHAR) AS v
        |FROM events
        |WHERE event_id < 1000
        |GROUP BY user_id
        |HAVING user_id < 100 OR user_id >= 150 OR max(event_id) >= 500
        |ORDER BY k""".stripMargin,
    // same final-state shape as c_mongo_style (updates event_id < 300,
    // deletes 140-149, replaces of ids 0-4), replayed through the OP_MSG
    // change-stream socket with a checkpoint restart
    "c_mongo_socket" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id),
        |base AS (
        |  SELECT u._id,
        |    COALESCE('{"v": "e' || CAST(l.me AS VARCHAR) || '"}', '{"v": "init"}') AS doc
        |  FROM range(150) AS u(_id) LEFT JOIN last l ON l.user_id = u._id)
        |SELECT _id, CASE WHEN _id < 5 THEN '{"v": "final"}' ELSE doc END AS doc
        |FROM base WHERE _id < 140 ORDER BY _id""".stripMargin,
    // final state after snapshot + two log phases + trailing deletes of
    // ids 140-149 (whole pipeline replayed through LSN offsets + slot)
    "c_postgres_wire" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + live tail + down-time replay over the
    // binlog socket (updates for event_id < 300, deletes of ids 140-149)
    "c_mysql_socket" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // same final-state shape as c_mysql_socket: snapshot + live tail +
    // down-time suffix (updates event_id < 300, deletes 140-149), replayed
    // through the walsender socket instead of the binlog one
    "c_postgres_socket" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // three families' final states (disjoint id ranges, per-family event
    // slices) unioned — the many-to-one route merge
    "c_multi_source_merge" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |a AS (SELECT user_id, max(event_id) AS me FROM e WHERE event_id < 100 GROUP BY 1),
        |b AS (SELECT user_id, max(event_id) AS me FROM e
        |      WHERE event_id >= 100 AND event_id < 200 GROUP BY 1),
        |c AS (SELECT user_id, max(event_id) AS me FROM e WHERE event_id >= 200 GROUP BY 1),
        |u AS (
        |  SELECT u.id, COALESCE('e' || CAST(a.me AS VARCHAR), 'init') AS v
        |  FROM range(150) AS u(id) LEFT JOIN a ON a.user_id = u.id
        |  UNION ALL
        |  SELECT 1000 + u.id, COALESCE('e' || CAST(b.me AS VARCHAR), 'init')
        |  FROM range(150) AS u(id) LEFT JOIN b ON b.user_id = u.id
        |  UNION ALL
        |  SELECT 2000 + u.id, COALESCE('e' || CAST(c.me AS VARCHAR), 'init')
        |  FROM range(150) AS u(id) LEFT JOIN c ON c.user_id = u.id)
        |SELECT id, v FROM u ORDER BY id""".stripMargin,
    // final state after snapshot + a 2-shard tail + down-time writes
    // straddling a reshard cut (updates event_id < 300, deletes 140-149)
    "c_vitess_reshard" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + watermark-sorted two-phase commits with
    // a laggard-region hold (updates for event_id < 300, deletes 140-149)
    "c_tidb_resolved" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + merged sharded tails with per-shard
    // VGtid resume (updates for event_id < 300, deletes of ids 140-149)
    "c_vitess_vgtid" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + interleaved-transaction mining with a
    // commit-order inversion, rollback discards, and an in-flight tx
    // spanning the restart (updates for event_id < 300, deletes 140-149)
    "c_oracle_logminer" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + capture-lagged polling + down-time
    // capture (updates for event_id < 300, deletes of ids 140-149)
    "c_sqlserver_ct" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // Db2 ASN final state: updates for 600 <= event_id < 900, the id-120
    // delete+insert tx that ASN's positional pairing reads as one update
    // (so 120 survives with the inserted value), then deletes of 140-149
    "c_db2_asn" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE event_id >= 600 AND event_id < 900 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id,
        |  CASE WHEN u.id = 120 THEN 'pair120'
        |       ELSE COALESCE('e' || CAST(l.me AS VARCHAR), 'init') END AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id NOT BETWEEN 140 AND 149
        |ORDER BY u.id""".stripMargin,
    // capture-instance migration: score exists only for users whose LAST
    // update was captured by the NEW instance (event_id >= 500); migration-
    // window updates (400-499) carried score but capture DROPPED it — the
    // documented data-loss window, encoded in the CASE
    "c_sqlserver_migration" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE event_id >= 300 AND event_id < 600 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v,
        |  CASE WHEN l.me >= 500 THEN CAST(l.me AS INTEGER) END AS score
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |ORDER BY u.id""".stripMargin,
    // final state after snapshot + a pgoutput-binary down-time capture
    // (updates for event_id < 200, then deletes of ids 140-149)
    "c_postgres_pgoutput" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 200 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |WHERE u.id < 140
        |ORDER BY u.id""".stripMargin,
    // final state after a pgoutput capture whose middle tx TRUNCATEs the
    // table: pre-truncate updates are wiped, only the post-truncate inserts
    // (ids 1000+event_id for event_id 100..159) survive
    "c_pgoutput_truncate" ->
      """SELECT 1000 + event_id AS id, 'e' || CAST(event_id AS VARCHAR) AS v
        |FROM events WHERE event_id >= 100 AND event_id < 160 AND user_id < 150
        |ORDER BY id""".stripMargin,
    "s_stream_dedup" ->
      """SELECT event_id, event_type FROM events ORDER BY event_id""".stripMargin,
    "s_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 50),
        |f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end,
        |  CAST(count(*) AS INT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,
    "s_windowed_counts" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "s_stream_join" ->
      """SELECT a.user_id,
        |  strftime(CAST(a.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS s_ts,
        |  strftime(CAST(b.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  b.value AS p_value
        |FROM events a JOIN events b ON b.user_id = a.user_id
        |WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
        |  AND a.user_id < 100
        |  AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        |  AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 DAY
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "s_enrich" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v, n.n_name
        |FROM range(150) AS u(id)
        |LEFT JOIN last l ON l.user_id = u.id
        |JOIN nation n ON n.n_nationkey = u.id % 25
        |ORDER BY u.id""".stripMargin,
    "c_startup_offset" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE event_id >= 150 AND event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT user_id AS id, 'e' || CAST(me AS VARCHAR) AS v
        |FROM last ORDER BY id""".stripMargin,
    "c_incremental_jdbc" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |ORDER BY u.id""".stripMargin,
    "c_stream_ddl" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE event_id >= 300 AND event_id < 600 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id)
        |SELECT u.id, COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS v,
        |  CAST(l.me AS INTEGER) AS score
        |FROM range(150) AS u(id) LEFT JOIN last l ON l.user_id = u.id
        |ORDER BY u.id""".stripMargin,
    "c_ddl_evolution" ->
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  c_acctbal, c_mktsegment, CAST(NULL AS VARCHAR) AS loyalty_tier,
        |  CAST(NULL AS VARCHAR) AS segment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // label = renamed v: last event overall (post-ALTER events dominate,
    // their ids are >= 150); a user only touched before the ALTER keeps the
    // old-shape value under the NEW name (rename carries values); score is
    // set only by post-ALTER events (null-padded otherwise)
    "c_multiclause_alter" ->
      """WITH e AS (
        |  SELECT user_id, event_id FROM events WHERE event_id < 300 AND user_id < 150),
        |last AS (SELECT user_id, max(event_id) AS me FROM e GROUP BY user_id),
        |lastnew AS (
        |  SELECT user_id, max(event_id) AS me FROM e WHERE event_id >= 150 GROUP BY user_id)
        |SELECT u.id,
        |  COALESCE('e' || CAST(l.me AS VARCHAR), 'init') AS label,
        |  ln.me AS score
        |FROM range(150) AS u(id)
        |LEFT JOIN last l ON l.user_id = u.id
        |LEFT JOIN lastnew ln ON ln.user_id = u.id
        |ORDER BY u.id""".stripMargin)
}
