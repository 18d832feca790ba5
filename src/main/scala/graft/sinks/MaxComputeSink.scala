package graft.sinks

import graft.core._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** MaxCompute (ODPS) pipeline sink — the reference's
  * `flink-cdc-pipeline-connector-maxcompute/` re-expressed for a
  * micro-batch engine. The reference writes through the Aliyun Tunnel
  * SDK's UPSERT SESSIONS and adds one genuinely distinct architectural
  * piece on top: parallel writers share one session per (table, batch)
  * and a coordinator commits sessions strictly in ascending session-id
  * order across ALL writers (`utils/SessionCommitCoordinateHelper.java`,
  * `coordinator/SessionManageCoordinator.java`). The Spark form:
  *
  *  - '''Session per (table, micro-batch)''' — the session id embeds
  *    `(runId, batchId)` in a zero-padded ascending encoding, so Paimon's
  *    batch ordering maps to the tunnel's session ordering.
  *  - '''Hash-bucketed parallel upload''' — rows repartition by PK hash
  *    (the `MaxComputeHashFunctionProvider` contract: one writer owns a
  *    key's bucket slot, so per-key order survives parallel upload), each
  *    partition uploads its rows as a BLOCK keyed by partition id —
  *    tunnel blocks are idempotent per (session, block), which makes
  *    Spark task retry safe.
  *  - '''Ordered commit''' — the loopback tunnel double REFUSES a commit
  *    while an earlier-id session of the same table is open, the
  *    reference coordinator's invariant enforced server-side; the sink
  *    commits one session per micro-batch from the driver, in order.
  *  - '''Exactly-once''' — session create is label-idempotent and commit
  *    is idempotent; a replayed micro-batch finds its session already
  *    committed and skips, the same replay-skip story as the JDBC 2PC
  *    sink.
  *
  * The real service's wire is the Aliyun SDK's REST+protobuf; offline,
  * the loopback double speaks a JSON-bodied REST subset with the SAME
  * lifecycle (create/blocks/flush-order/commit/status), so the tests
  * prove the session semantics, not Aliyun's bytes — the StarRocks/ES
  * loopback precedent.
  */
final class MaxComputeSink(
    baseUrl: String,
    project: String = "graft",
    buckets: Int = 8,
    maxRowsPerBlock: Int = 10000)
    extends DataSink {

  private val schemas = new SchemaManager

  override def applySchemaChange(event: SchemaChangeEvent): Unit = {
    schemas.applySchemaChange(event)
    val client = new TunnelClient(baseUrl)
    event match {
      case CreateTableEvent(t, schema) =>
        client.createTable(project, t.tableName,
          schema.struct.fieldNames.toSeq, schema.primaryKeys)
      case AddColumnEvent(t, cols) =>
        cols.foreach(c => client.addColumn(project, t.tableName, c.name))
      case _ => () // drops/renames refuse at the server if unsupported
    }
  }

  override def schemaOf(t: TableId): Option[TableSchema] = schemas.latest(t)

  /** `(runId, batchId)` → ascending, comparable session label. */
  private def sessionLabel(runId: String, batchId: Long): String =
    f"${if (runId.isEmpty) "adhoc" else runId}-$batchId%012d"

  /** Untracked writes (batchId < 0) must be repeatable: session create is
    * label-idempotent and the tunnel rejects block uploads to a committed
    * session, so reusing one constant label would 409 the second ad-hoc
    * batch. A fresh label per call keeps each untracked write its own
    * session. The `oneshot-` prefix is deliberately disjoint from every
    * tracked label (`adhoc-NNN` / `<runId>-NNN`), so `lastCommittedSession`'s
    * prefix match can never surface an ad-hoc session to a tracked run's
    * replay check (whose `.toLong` would choke on the uuid).
    */
  override def writeBatch(t: TableId, upserts: DataFrame, deletedKeys: DataFrame): Unit =
    writeSession(t, upserts, deletedKeys,
      s"oneshot-${java.util.UUID.randomUUID().toString.take(12)}", tracked = false)

  override def writeBatch(t: TableId, upserts: DataFrame, deletedKeys: DataFrame,
      batchId: Long, runId: String): Unit = {
    if (batchId < 0) { writeBatch(t, upserts, deletedKeys); return }
    val label = sessionLabel(runId, batchId)
    val client = new TunnelClient(baseUrl)
    if (client.sessionStatus(project, t.tableName, label).contains("committed"))
      return // replayed micro-batch: the session is durable, skip
    writeSession(t, upserts, deletedKeys, label, tracked = true)
  }

  override def lastCommittedBatch(t: TableId, runId: String): Option[Long] = {
    val client = new TunnelClient(baseUrl)
    client.lastCommittedSession(project, t.tableName,
      if (runId.isEmpty) "adhoc" else runId)
      .map(_.split("-").last.toLong)
  }

  private def writeSession(t: TableId, upserts: DataFrame, deletedKeys: DataFrame,
      label: String, tracked: Boolean): Unit = {
    val schema = schemas.latest(t).getOrElse(
      throw new IllegalStateException(s"table $t not created"))
    val pks = schema.primaryKeys
    require(pks.nonEmpty, "MaxCompute upsert sessions need primary keys")
    val client = new TunnelClient(baseUrl)
    val sid = client.createSession(project, t.tableName, label)

    // render rows with the upsert/delete flag; delete rows carry key cols.
    // Temporal columns render in the tunnel's DATETIME text shape
    // (`yyyy-MM-dd HH:mm:ss.SSSSSS`), the same convention as the other
    // HTTP wire sinks — to_json's ISO-with-Z default is not what the
    // service's record writers produce
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    def rendered(n: String) = schema.struct(n).dataType match {
      case DateType => date_format(col(n), "yyyy-MM-dd").as(n)
      case TimestampType | TimestampNTZType =>
        date_format(col(n), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(n)
      case _ => col(n).as(n)
    }
    val cols = schema.struct.fieldNames.toSeq
    val upJson = upserts.select(to_json(struct(
      lit(0).as("__op") +: cols.map(rendered): _*)).as("row"))
    val delJson = deletedKeys.select(to_json(struct(
      lit(1).as("__op") +: pks.map(rendered): _*)).as("row"))
    val rows = upJson.unionByName(delJson)
      // MaxComputeHashFunctionProvider: PK-hash bucketing so one writer
      // owns each key's slot — per-key order survives parallel upload
      .repartition(buckets, pmod(hash(pks.map(c =>
        get_json_object(col("row"), s"$$.$c")): _*), lit(buckets)))
    val (u, p, tn, s, maxRows) = (baseUrl, project, t.tableName, sid, maxRowsPerBlock)
    rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val c = new TunnelClient(u)
      val block = org.apache.spark.TaskContext.getPartitionId()
      var sub = 0
      it.map(_.getString(0)).grouped(maxRows).foreach { g =>
        // block ids are (partition, sub-block) — idempotent on task retry
        c.uploadBlock(p, tn, s, block.toLong * 100000 + sub, g)
        sub += 1
      }
    }
    client.commitSession(project, t.tableName, sid)
  }
}

/** Minimal tunnel REST client (JSON bodies; lifecycle-faithful loopback
  * protocol — see [[MockTunnelServer]]). */
final class TunnelClient(baseUrl: String) extends Serializable {
  @transient private lazy val http = java.net.http.HttpClient.newHttpClient()
  @transient private lazy val mapper = new ObjectMapper

  private def send(req: java.net.http.HttpRequest): com.fasterxml.jackson.databind.JsonNode = {
    val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"tunnel HTTP ${resp.statusCode()}: ${resp.body().take(300)}")
    mapper.readTree(resp.body())
  }

  private def post(path: String, body: String = "{}") = send(
    java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl$path"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build())

  private def get(path: String) = send(
    java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl$path")).GET().build())

  def createTable(project: String, table: String, cols: Seq[String],
      pks: Seq[String]): Unit = {
    val m = new ObjectMapper()
    val n = m.createObjectNode()
    val ca = n.putArray("columns"); cols.foreach(ca.add)
    val pa = n.putArray("primaryKeys"); pks.foreach(pa.add)
    post(s"/projects/$project/tables/$table", m.writeValueAsString(n))
  }

  def addColumn(project: String, table: String, col: String): Unit =
    post(s"/projects/$project/tables/$table/columns/$col")

  def createSession(project: String, table: String, label: String): String =
    post(s"/projects/$project/tables/$table/sessions?label=$label")
      .get("session_id").asText()

  def sessionStatus(project: String, table: String, label: String): Option[String] = {
    val n = get(s"/projects/$project/tables/$table/sessions?label=$label&status_only=true")
    Option(n.get("status")).map(_.asText()).filter(_.nonEmpty)
  }

  def lastCommittedSession(project: String, table: String,
      runPrefix: String): Option[String] = {
    val n = get(s"/projects/$project/tables/$table/sessions?last_committed=$runPrefix")
    Option(n.get("session_id")).map(_.asText()).filter(_.nonEmpty)
  }

  def uploadBlock(project: String, table: String, sessionId: String,
      blockId: Long, rows: Seq[String]): Unit =
    post(s"/projects/$project/tables/$table/sessions/$sessionId/blocks/$blockId",
      rows.mkString("[", ",", "]"))

  def commitSession(project: String, table: String, sessionId: String): Unit =
    post(s"/projects/$project/tables/$table/sessions/$sessionId/commit")
}

/** Loopback tunnel double: upsert sessions with the REAL lifecycle rules —
  * label-idempotent create, per-(session, block) idempotent uploads,
  * atomic commit applying blocks to an in-memory PK store, IDEMPOTENT
  * commit, and the coordinator's invariant enforced server-side: a
  * session cannot commit while an earlier-id OPEN session of the same
  * table exists (commits happen in session-id order or not at all). */
final class MockTunnelServer {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper

  private final class Table {
    var columns: Seq[String] = Seq.empty
    var primaryKeys: Seq[String] = Seq.empty
    val rows = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // label -> session id (1:1 here); sessions ordered by id = label
    val sessions =
      new java.util.concurrent.ConcurrentHashMap[String, Session]()
  }
  private final class Session(val id: String) {
    @volatile var status = "normal" // normal | committed
    val blocks = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, String]() // blockId -> JSON array (idempotent)
  }

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()

  def rowsOf(project: String, table: String): Seq[(String, String)] =
    Option(tables.get(s"$project.$table"))
      .map(_.rows.asScala.toSeq.sortBy(_._1)).getOrElse(Seq.empty)

  def columnsOf(project: String, table: String): Seq[String] =
    Option(tables.get(s"$project.$table")).map(_.columns).getOrElse(Seq.empty)

  private val server: HttpServer = {
    var booted: HttpServer = null
    var bootError: Throwable = null
    val boot = new Thread(() => {
      try booted = buildServer()
      catch { case t: Throwable => bootError = t }
    }, "mock-tunnel-boot")
    boot.setDaemon(true)
    boot.start()
    boot.join()
    if (bootError != null)
      throw new IllegalStateException("mock tunnel server failed to boot", bootError)
    booted
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
      .getOrElse(Map.empty)

  private def buildServer(): HttpServer = {
    val s = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/projects/", (ex: HttpExchange) =>
      try handle(ex)
      catch {
        case t: Throwable =>
          respond(ex, 500, s"""{"error":"${t.getMessage}"}""")
      } finally ex.close())
    s.setExecutor(null)
    s.start()
    s
  }

  private def handle(ex: HttpExchange): Unit = {
    // /projects/{p}/tables/{t}[/sessions[/{sid}/blocks/{b} | /{sid}/commit] | /columns/{c}]
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    val key = s"${parts(1)}.${parts(3)}"
    val rest = parts.drop(4).toSeq
    rest match {
      case Seq() => // create table
        val n = mapper.readTree(ex.getRequestBody)
        val t = tables.computeIfAbsent(key, _ => new Table)
        t.synchronized {
          t.columns = n.get("columns").elements().asScala.map(_.asText()).toSeq
          t.primaryKeys = n.get("primaryKeys").elements().asScala.map(_.asText()).toSeq
        }
        respond(ex, 200, "{}")
      case Seq("columns", c) =>
        val t = tables.get(key)
        if (t == null) { respond(ex, 404, """{"error":"no such table"}"""); return }
        t.synchronized { if (!t.columns.contains(c)) t.columns :+= c }
        respond(ex, 200, "{}")
      case Seq("sessions") =>
        val t = tables.get(key)
        if (t == null) { respond(ex, 404, """{"error":"no such table"}"""); return }
        val q = query(ex)
        if (q.contains("last_committed")) {
          // exact run match: the id is <run>-<12-digit batch>, so a run id
          // that PREFIXES another ("r1" vs "r1-b") must not cross-match
          val pat = java.util.regex.Pattern.quote(q("last_committed")) + "-\\d{12}"
          val last = t.sessions.asScala.values.toSeq
            .filter(s => s.status == "committed" && s.id.matches(pat))
            .map(_.id).sorted.lastOption
          respond(ex, 200, s"""{"session_id":"${last.getOrElse("")}"}""")
        } else {
          val label = q.getOrElse("label",
            throw new IllegalArgumentException("session create needs a label"))
          if (q.get("status_only").contains("true")) {
            val st = Option(t.sessions.get(label)).map(_.status).getOrElse("")
            respond(ex, 200, s"""{"status":"$st"}""")
          } else {
            // label-idempotent create: same label -> same session
            val sess = t.sessions.computeIfAbsent(label, l => new Session(l))
            respond(ex, 200,
              s"""{"session_id":"${sess.id}","status":"${sess.status}"}""")
          }
        }
      case Seq("sessions", sid, "blocks", b) =>
        val sess = sessionOf(key, sid, ex); if (sess == null) return
        if (sess.status == "committed") {
          respond(ex, 409, """{"error":"session already committed"}"""); return
        }
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        sess.blocks.put(java.lang.Long.valueOf(b), body) // idempotent per block
        respond(ex, 200, "{}")
      case Seq("sessions", sid, "commit") =>
        val t = tables.get(key)
        val sess = sessionOf(key, sid, ex); if (sess == null) return
        t.synchronized {
          if (sess.status == "committed") { respond(ex, 200, """{"status":"committed"}"""); return }
          // the coordinator's invariant, enforced: no earlier OPEN session
          val blocking = t.sessions.asScala.values
            .filter(o => o.status == "normal" && o.id < sess.id)
          if (blocking.nonEmpty) {
            respond(ex, 409, s"""{"error":"session ${blocking.map(_.id).min} """ +
              """is open with a smaller id: sessions commit in ascending order"}""")
            return
          }
          // atomic apply, blocks in block-id order
          sess.blocks.asScala.toSeq.sortBy(_._1).foreach { case (_, arr) =>
            mapper.readTree(arr).elements().asScala.foreach { row =>
              val id = t.primaryKeys.map(k => row.path(k).asText()).mkString("_")
              if (row.path("__op").asInt(0) == 1) t.rows.remove(id)
              else t.rows.put(id, row.toString)
            }
          }
          sess.status = "committed"
        }
        respond(ex, 200, """{"status":"committed"}""")
      case other =>
        respond(ex, 404, s"""{"error":"no route: ${other.mkString("/")}"}""")
    }
  }

  private def sessionOf(key: String, sid: String, ex: HttpExchange): Session = {
    val t = tables.get(key)
    val sess = if (t == null) null else t.sessions.get(sid)
    if (sess == null) respond(ex, 404, """{"error":"no such session"}""")
    sess
  }

  def url(): String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}
