package graft.sinks

import graft.SparkTestBase
import graft.core._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** MaxCompute tunnel sink: the upsert-session lifecycle against the
  * loopback double — label-idempotent create, per-block idempotent
  * upload, ordered commit (the reference coordinator's invariant enforced
  * server-side) and replay skip. */
class MaxComputeSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val tid = TableId.parse("app.users")
  private val schema = TableSchema(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("id"))

  test("upsert session end-to-end: create, bucketed blocks, commit, state") {
    val server = new MockTunnelServer
    try {
      val sink = new MaxComputeSink(server.url(), buckets = 4)
      sink.applySchemaChange(CreateTableEvent(tid, schema))
      assert(server.columnsOf("graft", "users") == Seq("id", "v"))
      sink.writeBatch(tid,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
        spark.range(0).select($"id"), batchId = 0L, runId = "r1")
      sink.writeBatch(tid,
        Seq((2L, "b2")).toDF("id", "v"),
        Seq(3L).toDF("id"), batchId = 1L, runId = "r1")
      val rows = server.rowsOf("graft", "users").toMap
      assert(rows.keySet == Set("1", "2"))
      assert(rows("2").contains(""""v":"b2""""))
      assert(sink.lastCommittedBatch(tid, "r1").contains(1L))
      assert(sink.lastCommittedBatch(tid, "other").isEmpty,
        "a different run's sessions do not mask this run's batches")
    } finally server.stop()
  }

  test("replay skip: a committed session's batch re-delivers as a no-op") {
    val server = new MockTunnelServer
    try {
      val sink = new MaxComputeSink(server.url(), buckets = 2)
      sink.applySchemaChange(CreateTableEvent(tid, schema))
      sink.writeBatch(tid, Seq((1L, "first")).toDF("id", "v"),
        spark.range(0).select($"id"), batchId = 0L, runId = "r1")
      // the replay carries DIFFERENT (late-diverged) data; the committed
      // session must win — redelivery is a skip, not a second apply
      sink.writeBatch(tid, Seq((1L, "replay")).toDF("id", "v"),
        spark.range(0).select($"id"), batchId = 0L, runId = "r1")
      assert(server.rowsOf("graft", "users").toMap.apply("1").contains("first"))
    } finally server.stop()
  }

  test("untracked writes are repeatable: each gets its own one-shot session") {
    val server = new MockTunnelServer
    try {
      val sink = new MaxComputeSink(server.url(), buckets = 2)
      sink.applySchemaChange(CreateTableEvent(tid, schema))
      // two batchId-less writes in a row: a shared constant label would
      // 409 the second one (block upload to a committed session)
      sink.writeBatch(tid, Seq((1L, "a")).toDF("id", "v"),
        spark.range(0).select($"id"))
      sink.writeBatch(tid, Seq((1L, "a2"), (2L, "b")).toDF("id", "v"),
        spark.range(0).select($"id"))
      val rows = server.rowsOf("graft", "users").toMap
      assert(rows.keySet == Set("1", "2") && rows("1").contains("a2"))
      // one-shot sessions never satisfy a tracked run's replay check
      assert(sink.lastCommittedBatch(tid, "").isEmpty)
    } finally server.stop()
  }

  test("ordered commit: the server refuses committing past an open earlier session") {
    val server = new MockTunnelServer
    try {
      val client = new TunnelClient(server.url())
      client.createTable("graft", "users", Seq("id", "v"), Seq("id"))
      val s0 = client.createSession("graft", "users", "r1-000000000000")
      val s1 = client.createSession("graft", "users", "r1-000000000001")
      client.uploadBlock("graft", "users", s1, 0L, Seq("""{"__op":0,"id":"9","v":"x"}"""))
      val e = intercept[java.io.IOException](
        client.commitSession("graft", "users", s1))
      assert(e.getMessage.contains("ascending order"))
      client.commitSession("graft", "users", s0)
      client.commitSession("graft", "users", s1) // now the order holds
      assert(server.rowsOf("graft", "users").nonEmpty)
      // commit is idempotent
      client.commitSession("graft", "users", s1)
    } finally server.stop()
  }

  test("blocks are idempotent per (session, block): task retry is safe") {
    val server = new MockTunnelServer
    try {
      val client = new TunnelClient(server.url())
      client.createTable("graft", "users", Seq("id", "v"), Seq("id"))
      val s0 = client.createSession("graft", "users", "r1-000000000000")
      client.uploadBlock("graft", "users", s0, 7L, Seq("""{"__op":0,"id":"1","v":"a"}"""))
      // the retry of the same block overwrites, not duplicates
      client.uploadBlock("graft", "users", s0, 7L, Seq("""{"__op":0,"id":"1","v":"a"}"""))
      client.commitSession("graft", "users", s0)
      assert(server.rowsOf("graft", "users").size == 1)
      // create with the same label returns the SAME session (idempotent)
      assert(client.createSession("graft", "users", "r1-000000000000") == s0)
      // a committed session refuses further blocks
      val e = intercept[java.io.IOException](
        client.uploadBlock("graft", "users", s0, 8L, Seq("""{"__op":0,"id":"2","v":"b"}""")))
      assert(e.getMessage.contains("committed"))
    } finally server.stop()
  }

  test("schema evolution: AddColumn reaches the tunnel catalog; writes carry it") {
    val server = new MockTunnelServer
    try {
      val sink = new MaxComputeSink(server.url(), buckets = 2)
      sink.applySchemaChange(CreateTableEvent(tid, schema))
      sink.applySchemaChange(AddColumnEvent(tid,
        Seq(AddColumnEvent.ColumnWithPosition("score", graft.core.CdcTypes.IntT()))))
      assert(server.columnsOf("graft", "users") == Seq("id", "v", "score"))
      val evolved = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(1L, "a", 7)),
        StructType(schema.struct.fields :+ StructField("score", IntegerType)))
      sink.writeBatch(tid, evolved, spark.range(0).select($"id"),
        batchId = 0L, runId = "r1")
      assert(server.rowsOf("graft", "users").head._2.contains(""""score":7"""))
    } finally server.stop()
  }
}
