package graft.sinks

import graft.core._
import org.apache.spark.sql.DataFrame

import java.sql.{Connection, DriverManager}

/** Shared DDL generation for the JDBC sinks: Spark types → ANSI SQL types and
  * [[graft.core.SchemaChangeEvent]] → dialect DDL statements, parameterized on
  * the physical table-name mapping so one schema event can drive several
  * physical tables (target + staging in the 2PC sink).
  */
private[sinks] object JdbcDdl {

  def sqlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "BOOLEAN"
      case ByteType | ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "REAL"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case _ => "VARCHAR(4000)"
    }
  }

  def statements(
      event: SchemaChangeEvent,
      tableName: TableId => String,
      dialectName: String): Seq[String] = event match {
    case CreateTableEvent(t, s) =>
      val cols = s.struct.fields.map(f =>
        s"${f.name} ${sqlType(f.dataType)}${if (!f.nullable) " NOT NULL" else ""}")
      val pk =
        if (s.primaryKeys.nonEmpty) Seq(s"PRIMARY KEY (${s.primaryKeys.mkString(", ")})")
        else Seq.empty
      Seq(s"CREATE TABLE ${tableName(t)} (${(cols ++ pk).mkString(", ")})")
    case AddColumnEvent(t, cols) =>
      cols.map(c =>
        s"ALTER TABLE ${tableName(t)} ADD COLUMN ${c.name} ${sqlType(c.cdcType.toSpark)}")
    case DropColumnEvent(t, dropped) =>
      dropped.map(c => s"ALTER TABLE ${tableName(t)} DROP COLUMN $c")
    case RenameColumnEvent(t, mapping) =>
      // MySQL/Postgres use ALTER TABLE ... RENAME COLUMN; Derby (the
      // generic test target) only supports the standalone RENAME COLUMN
      mapping.toSeq.map { case (o, n) =>
        dialectName match {
          case "mysql" | "postgres" =>
            s"ALTER TABLE ${tableName(t)} RENAME COLUMN $o TO $n"
          case _ => s"RENAME COLUMN ${tableName(t)}.$o TO $n"
        }
      }
    case AlterColumnTypeEvent(t, mapping) =>
      mapping.toSeq.map { case (c, ct) =>
        s"ALTER TABLE ${tableName(t)} ALTER COLUMN $c SET DATA TYPE ${sqlType(ct.toSpark)}"
      }
    case DropTableEvent(t) => Seq(s"DROP TABLE ${tableName(t)}")
    case TruncateTableEvent(t) => Seq(s"TRUNCATE TABLE ${tableName(t)}")
  }
}

/** JDBC PK-upsert writer + DDL applier — the Spark form of the reference's
  * JDBC-backed pipeline sinks (mysql/postgres/oceanbase connectors under
  * `flink-cdc-connect/flink-cdc-pipeline-connectors/`): per-batch upsert
  * statements generated per dialect, deletes by key, and schema changes applied
  * as `ALTER TABLE` DDL between batches (the `MetadataApplier` contract).
  *
  * Writes run on the EXECUTORS via `foreachPartition` — each partition opens
  * one connection and executes JDBC batches of `batchSize` — so throughput
  * scales with partition count, not with the driver. Upstream partitioning by
  * PK (`Upsert.orderedForSink`) guarantees a key is written by one task only,
  * so concurrent partitions never contend on a row.
  *
  * Statement shapes:
  *  - mysql: `INSERT ... ON DUPLICATE KEY UPDATE c = VALUES(c)`
  *  - postgres: `INSERT ... ON CONFLICT (pk) DO UPDATE SET c = EXCLUDED.c`
  *  - generic (any ANSI JDBC target, used for Derby in tests): UPDATE, then
  *    INSERT when no row matched — the portable two-statement upsert.
  */
final class JdbcUpsertSink(
    url: String,
    dialectName: String = "generic",
    props: Map[String, String] = Map.empty,
    batchSize: Int = 1024)
    extends DataSink {

  private val schemas = new SchemaManager

  private def tableName(t: TableId): String =
    // flatten to schema_table: embedded test DBs have a single namespace
    Seq(t.schemaName, t.tableName).filter(_.nonEmpty).mkString("_")

  private def connect(): Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  // ---------------------------------------------------------- MetadataApplier

  override def applySchemaChange(event: SchemaChangeEvent): Unit = {
    schemas.applySchemaChange(event)
    val ddl: Seq[String] = JdbcDdl.statements(event, tableName, dialectName)
    val conn = connect()
    try {
      val st = conn.createStatement()
      try ddl.foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }

  // ------------------------------------------------------------------ writes

  override def writeBatch(
      sinkTableId: TableId,
      upserts: DataFrame,
      deletedKeys: DataFrame): Unit = {
    val schema = schemas.latest(sinkTableId).getOrElse(
      throw new IllegalStateException(s"table $sinkTableId not created"))
    val table = tableName(sinkTableId)
    val cols = upserts.columns.toSeq
    val pks = schema.primaryKeys
    require(pks.nonEmpty, s"JDBC upsert requires primary keys for $sinkTableId")
    val nonPk = cols.filterNot(pks.contains)
    // key-only tables (no non-PK columns): the "update" half degenerates to
    // insert-if-absent — DO NOTHING / IGNORE / self-assign the first PK
    val insertSql =
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    val (sql1, sql2) = dialectName match {
      case "mysql" =>
        val upd =
          if (nonPk.isEmpty) s"${pks.head} = ${pks.head}"
          else nonPk.map(c => s"$c = VALUES($c)").mkString(", ")
        (s"$insertSql ON DUPLICATE KEY UPDATE $upd", "")
      case "postgres" =>
        val action =
          if (nonPk.isEmpty) "DO NOTHING"
          else s"DO UPDATE SET ${nonPk.map(c => s"$c = EXCLUDED.$c").mkString(", ")}"
        (s"$insertSql ON CONFLICT (${pks.mkString(", ")}) $action", "")
      case _ => // portable: UPDATE first, INSERT when nothing matched
        val setList =
          if (nonPk.isEmpty) s"${pks.head} = ?" // bind the PK to itself
          else nonPk.map(c => s"$c = ?").mkString(", ")
        (s"UPDATE $table SET $setList WHERE ${pks.map(c => s"$c = ?").mkString(" AND ")}",
          insertSql)
    }
    val (jdbcUrl, dialect, bs, properties) = (url, dialectName, batchSize, props)
    val colIdx = cols.indices
    val pkIdx = pks.map(cols.indexOf)
    // generic-path UPDATE bind order: SET params (the PK self-assign when no
    // non-PK columns exist), then WHERE params
    val updBindIdx =
      (if (nonPk.isEmpty) Seq(pkIdx.head) else nonPk.map(cols.indexOf)) ++ pkIdx
    upserts.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val p = new java.util.Properties()
      properties.foreach { case (k, v) => p.setProperty(k, v) }
      val conn = DriverManager.getConnection(jdbcUrl, p)
      conn.setAutoCommit(false)
      try {
        if (dialect == "mysql" || dialect == "postgres") {
          val ps = conn.prepareStatement(sql1)
          var n = 0
          rows.foreach { r =>
            colIdx.foreach(i => ps.setObject(i + 1, r.get(i)))
            ps.addBatch(); n += 1
            if (n % bs == 0) ps.executeBatch()
          }
          ps.executeBatch(); ps.close()
        } else {
          val upd = conn.prepareStatement(sql1)
          val ins = conn.prepareStatement(sql2)
          rows.foreach { r =>
            updBindIdx.zipWithIndex.foreach { case (ci, pi) => upd.setObject(pi + 1, r.get(ci)) }
            if (upd.executeUpdate() == 0) {
              colIdx.foreach(i => ins.setObject(i + 1, r.get(i)))
              ins.executeUpdate()
            }
          }
          upd.close(); ins.close()
        }
        conn.commit()
      } finally conn.close()
    }

    val delSql = s"DELETE FROM $table WHERE ${pks.map(c => s"$c = ?").mkString(" AND ")}"
    val delIdx = pks.map(deletedKeys.columns.indexOf(_))
    deletedKeys.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val p = new java.util.Properties()
      properties.foreach { case (k, v) => p.setProperty(k, v) }
      val conn = DriverManager.getConnection(jdbcUrl, p)
      conn.setAutoCommit(false)
      try {
        val ps = conn.prepareStatement(delSql)
        var n = 0
        rows.foreach { r =>
          delIdx.zipWithIndex.foreach { case (ci, pi) => ps.setObject(pi + 1, r.get(ci)) }
          ps.addBatch(); n += 1
          if (n % bs == 0) ps.executeBatch()
        }
        ps.executeBatch(); ps.close()
        conn.commit()
      } finally conn.close()
    }
  }

  // -------------------------------------------------- batch-id transactionality

  /** Commit log `GRAFT_COMMITS(table_name, run_id, batch_id)` in the target
    * database: replayed micro-batches (query restart re-delivers the last
    * uncommitted batch) are skipped once their id is recorded — the
    * non-idempotent-sink half of exactly-once that `foreachBatch` alone does
    * not give. The run id (checkpoint identity) guards against a STALE record
    * swallowing the first batches of a fresh run. Created once per sink
    * instance; the create races only with itself (swallowed), real failures
    * surface on the first SELECT.
    */
  @transient private lazy val commitLogReady: Boolean = {
    val conn = connect()
    try {
      try {
        conn.createStatement().executeUpdate(
          "CREATE TABLE GRAFT_COMMITS (TABLE_NAME VARCHAR(256) NOT NULL PRIMARY KEY, " +
            "RUN_ID VARCHAR(1024) NOT NULL, BATCH_ID BIGINT NOT NULL)")
      } catch { case _: java.sql.SQLException => () } // exists
      // migrate a pre-RUN_ID commit table in place (empty-run-id records
      // never match a real runId, which is the safe direction: at worst one
      // batch is re-applied, which the PK-upsert shape absorbs)
      try { conn.createStatement().executeQuery("SELECT RUN_ID FROM GRAFT_COMMITS WHERE 1=0"); () }
      catch {
        case _: java.sql.SQLException =>
          conn.createStatement().executeUpdate(
            "ALTER TABLE GRAFT_COMMITS ADD COLUMN RUN_ID VARCHAR(1024) DEFAULT '' NOT NULL")
      }
      true
    } finally conn.close()
  }

  override def lastCommittedBatch(sinkTableId: TableId, runId: String): Option[Long] = {
    require(commitLogReady)
    val conn = connect()
    try {
      val ps = conn.prepareStatement(
        "SELECT RUN_ID, BATCH_ID FROM GRAFT_COMMITS WHERE TABLE_NAME = ?")
      ps.setString(1, tableName(sinkTableId))
      val rs = ps.executeQuery()
      if (rs.next() && rs.getString(1) == runId) Some(rs.getLong(2)) else None
    } finally conn.close()
  }

  override def recordBatchCommit(sinkTableId: TableId, batchId: Long, runId: String): Unit = {
    require(commitLogReady)
    val conn = connect()
    try {
      val upd = conn.prepareStatement(
        "UPDATE GRAFT_COMMITS SET BATCH_ID = ?, RUN_ID = ? WHERE TABLE_NAME = ?")
      upd.setLong(1, batchId); upd.setString(2, runId); upd.setString(3, tableName(sinkTableId))
      if (upd.executeUpdate() == 0) {
        val ins = conn.prepareStatement(
          "INSERT INTO GRAFT_COMMITS (TABLE_NAME, RUN_ID, BATCH_ID) VALUES (?, ?, ?)")
        ins.setString(1, tableName(sinkTableId)); ins.setString(2, runId); ins.setLong(3, batchId)
        ins.executeUpdate()
      }
    } finally conn.close()
  }

  override def schemaOf(sinkTableId: TableId): Option[TableSchema] =
    schemas.latest(sinkTableId)
}
