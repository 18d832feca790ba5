package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets

/** The OLAP-warehouse "stream load" sink family — StarRocks and Doris — whose
  * wire contract differs from both the JDBC-upsert and the ES-bulk families:
  * upserts AND deletes ride the SAME row stream, distinguished by a row-level
  * flag column the warehouse's primary-key model interprets on apply:
  *
  *  - StarRocks: `"__op": 0` upsert / `1` delete
  *    (`flink-cdc-pipeline-connector-starrocks/.../sink/EventRecordSerializationSchema.java:136`,
  *    delete rows serialize the BEFORE image);
  *  - Doris: hidden column `"__DORIS_DELETE_SIGN__": "0"/"1"`
  *    (`flink-cdc-pipeline-connector-doris/.../sink/DorisEventSerializer.java:113-117`),
  *    temporal rendering `yyyy-MM-dd` / `yyyy-MM-dd HH:mm:ss.SSSSSS`
  *    (`DorisEventSerializer.java:63-68`);
  *  - transport: HTTP PUT of JSON rows to the public Stream Load endpoint
  *    `/api/{db}/{table}/_stream_load`, one uniquely-labeled load per
  *    request (labels make server-side retry dedup possible).
  *
  * Spark-first split mirrors [[ElasticsearchBulkFormat]]: rows are codegen'd
  * `to_json` columns; only the PUT happens per partition. Batches come from
  * the materialized micro-batch (upsert keys and delete keys are disjoint per
  * batch, so apply order between them is immaterial — the property that makes
  * partition-parallel loads exact). Delete rows carry the key columns and the
  * flag; the warehouse's PK model ignores the rest, so no before-image
  * round-trip is needed at the batch boundary.
  */
object StreamLoadFormats {

  private def temporal(f: StructField, c: Column): Column = f.dataType match {
    case DateType => date_format(c, "yyyy-MM-dd")
    case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    case _ => c
  }

  /** Doris fills a NULL partition-column value with a type default instead of
    * rendering the null (`DorisEventSerializer.java:125-147`: a null Doris
    * partition value would route the row nowhere), dates to `1970-01-01` and
    * timestamp flavors to `1970-01-01 00:00:00` (`DorisSchemaUtils.java:46-47`).
    * Non-temporal partition columns pass through — the reference fills only
    * the temporal types. */
  private def partitionDefault(f: StructField, rendered: Column): Column =
    f.dataType match {
      case DateType => coalesce(rendered, lit("1970-01-01"))
      case TimestampType | TimestampNTZType =>
        coalesce(rendered, lit("1970-01-01 00:00:00"))
      case _ => rendered
    }

  private def docStruct(
      schema: StructType,
      flag: (String, Column),
      partitionKey: Option[String]): Column =
    struct(schema.fields.toSeq.map { f =>
      val rendered = temporal(f, col(f.name))
      val filled =
        if (partitionKey.contains(f.name)) partitionDefault(f, rendered) else rendered
      filled.as(f.name)
    } :+ flag._2.as(flag._1): _*)

  private def rows(
      schema: TableSchema,
      upserts: DataFrame,
      deletedKeys: DataFrame,
      flagName: String,
      upsertFlag: Column,
      deleteFlag: Column,
      partitionKey: Option[String] = None): DataFrame = {
    // upsert rows render explicit nulls, matching the reference serializers'
    // Jackson maps (every column present); delete rows stay key+flag — the
    // before image is not available at the materialized batch boundary and
    // the warehouse PK model ignores non-key columns on delete
    val ups = upserts.select(
      to_json(docStruct(schema.struct, flagName -> upsertFlag, partitionKey),
        java.util.Map.of("ignoreNullFields", "false")).as("row"))
    // delete rows: key columns + flag; non-key columns null (ignored by the
    // warehouse PK model on delete)
    val delAll = schema.struct.fields.foldLeft(deletedKeys) { (df, f) =>
      if (schema.primaryKeys.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val dels = delAll.select(
      to_json(docStruct(schema.struct, flagName -> deleteFlag, partitionKey)).as("row"))
    ups.unionByName(dels)
  }

  /** StarRocks rows: integer `__op` 0/1. */
  def starRocksRows(schema: TableSchema, ups: DataFrame, dels: DataFrame): DataFrame =
    rows(schema, ups, dels, "__op", lit(0), lit(1))

  /** Doris rows: string `__DORIS_DELETE_SIGN__` "0"/"1"; a configured
    * partition column null-fills to the reference's type defaults. */
  def dorisRows(
      schema: TableSchema,
      ups: DataFrame,
      dels: DataFrame,
      partitionKey: Option[String] = None): DataFrame =
    rows(schema, ups, dels, "__DORIS_DELETE_SIGN__", lit("0"), lit("1"), partitionKey)
}

/** Shared stream-load [[DataSink]]: per-partition PUTs of row batches to
  * `/api/{db}/{table}/_stream_load` with a unique label per request.
  */
abstract class StreamLoadSink(baseUrl: String, maxRows: Int) extends DataSink {

  protected val schemas = new SchemaManager

  /** Dialect hook: render the (upserts, deletes) batch to JSON row strings. */
  protected def renderRows(schema: TableSchema, ups: DataFrame, dels: DataFrame): DataFrame

  override def applySchemaChange(event: SchemaChangeEvent): Unit =
    schemas.applySchemaChange(event)

  override def schemaOf(t: TableId): Option[TableSchema] = schemas.latest(t)

  override def writeBatch(t: TableId, upserts: DataFrame, deletedKeys: DataFrame): Unit = {
    val schema = schemas.latest(t).getOrElse(
      throw new IllegalStateException(s"table $t not created"))
    val (url, batch) = (baseUrl, maxRows)
    val db = t.schemaName
    val table = t.tableName
    renderRows(schema, upserts, deletedKeys)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val client = new StreamLoadClient(url)
        rows.map(_.getString(0)).grouped(batch).foreach(client.load(db, table, _))
      }
  }
}

final class StarRocksSink(baseUrl: String, maxRows: Int = 1000)
    extends StreamLoadSink(baseUrl, maxRows) {
  protected def renderRows(s: TableSchema, ups: DataFrame, dels: DataFrame): DataFrame =
    StreamLoadFormats.starRocksRows(s, ups, dels)
}

final class DorisSink(
    baseUrl: String,
    maxRows: Int = 1000,
    partitionKey: Option[String] = None)
    extends StreamLoadSink(baseUrl, maxRows) {
  protected def renderRows(s: TableSchema, ups: DataFrame, dels: DataFrame): DataFrame =
    StreamLoadFormats.dorisRows(s, ups, dels, partitionKey)
}

/** Minimal Stream Load HTTP client: PUT a JSON array (`strip_outer_array`)
  * with a unique label; non-2xx or a body whose `Status` is not `Success`
  * fails the task (same retry/idempotence story as the other HTTP sinks —
  * the flag-column PK semantics make redelivery idempotent).
  */
final class StreamLoadClient(baseUrl: String) extends Serializable {
  @transient private lazy val http = java.net.http.HttpClient.newHttpClient()
  @transient private lazy val mapper = new ObjectMapper

  def load(db: String, table: String, rows: Seq[String]): Unit = {
    if (rows.isEmpty) return
    val label = s"graft-${java.util.UUID.randomUUID()}"
    val body = rows.mkString("[", ",", "]")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$baseUrl/api/$db/$table/_stream_load"))
      .header("Content-Type", "application/json")
      .header("format", "json")
      .header("strip_outer_array", "true")
      .header("label", label)
      .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"stream load HTTP ${resp.statusCode()}: ${resp.body().take(300)}")
    val root = mapper.readTree(resp.body())
    val status = root.path("Status").asText("")
    // "Label Already Exists" is the SUCCESS of a retried request: the
    // labeled load already committed durably — failing here would fail the
    // Spark task for a load that landed (labels exist precisely for this
    // server-side retry dedup; the reference clients treat it as done)
    if (status != "Success" && status != "OK" && status != "Label Already Exists")
      throw new java.io.IOException(s"stream load status $status: ${resp.body().take(300)}")
  }
}

/** Loopback Stream Load double: applies the row-level flag semantics to an
  * in-memory PK store per (db, table) — `__op`/`__DORIS_DELETE_SIGN__` aware,
  * so tests prove the SEMANTIC contract, not just the bytes. Duplicate labels
  * are rejected like a real frontend (server-side retry dedup).
  */
final class MockStreamLoadServer(pks: Seq[String]) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper
  private val store =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentHashMap[String, String]]()
  private val labels = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def docsOf(db: String, table: String): Seq[(String, String)] =
    Option(store.get(s"$db.$table")).map(_.asScala.toSeq.sortBy(_._1)).getOrElse(Seq.empty)

  // same daemon-boot discipline as MockModelServer / MockElasticsearchServer:
  // the JDK dispatcher inherits the booting thread's daemon flag, and a
  // non-daemon dispatcher would keep driver-contract mains alive
  private val server: HttpServer = {
    var booted: HttpServer = null
    var bootError: Throwable = null
    val boot = new Thread(() => {
      try booted = buildServer()
      catch { case t: Throwable => bootError = t }
    }, "mock-streamload-boot")
    boot.setDaemon(true)
    boot.start()
    boot.join()
    if (bootError != null)
      throw new IllegalStateException("mock stream-load server failed to boot", bootError)
    if (booted == null)
      throw new IllegalStateException("mock stream-load boot thread exited without a server")
    booted
  }

  private def buildServer(): HttpServer = {
    val s = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/api/", (ex: HttpExchange) =>
      try {
        // /api/{db}/{table}/_stream_load
        val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        val key = s"${parts(1)}.${parts(2)}"
        val label = ex.getRequestHeaders.getFirst("label")
        val (code, status) =
          if (label != null && !labels.add(label)) (200, "Label Already Exists")
          else {
            val rows = mapper.readTree(ex.getRequestBody)
            val t = store.computeIfAbsent(key,
              _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
            rows.elements.asScala.foreach { row =>
              val id = pks.map(k => row.path(k).asText).mkString("_")
              val del = row.path("__op").asInt(0) == 1 ||
                row.path("__DORIS_DELETE_SIGN__").asText("0") == "1"
              if (del) t.remove(id) else t.put(id, row.toString)
            }
            (200, "Success")
          }
        val body = s"""{"Status":"$status","Label":"${Option(label).getOrElse("")}"}"""
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close())
    s.setExecutor(null)
    s.start()
    s
  }

  def url(): String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}
