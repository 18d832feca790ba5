package graft.sources.cdc

import graft.core._
import java.sql.{Connection, DriverManager, ResultSet}

/** JDBC-backed [[ChangeSource]]: the incremental-snapshot framework running
  * against a REAL database engine through the same four-method dialect SPI
  * the scripted source implements — the Spark analog of `flink-cdc-base`'s
  * `JdbcDataSourceDialect` (ranged snapshot reads + log tailing).
  *
  * The snapshot is the live data table; the log is a sibling `<table>_LOG`
  * table (offset, timestamp, op, has/before/after columns) — the
  * capture-table pattern used for engines without a client-readable WAL
  * (SQL Server CDC and Db2 CDC in the reference read exactly such tables:
  * `flink-connector-sqlserver-cdc`, `flink-connector-db2-cdc`). Offsets are
  * monotone BIGINTs assigned at append time, so LW/HW watermarking, chunk
  * backfill, and HW suppression behave identically to a binlog.
  *
  * Connections are opened lazily per JVM (executors re-open after deser);
  * every read is a fresh short statement, so the source tolerates Spark
  * retrying a partition.
  */
final class JdbcChangeSource(
    url: String,
    val tableId: TableId,
    val schema: TableSchema)
    extends ChangeSource {

  require(schema.primaryKeys.size == 1, "jdbc change source uses a single numeric PK")
  private val pk = schema.primaryKeys.head
  private val cols = schema.struct.fields.toSeq
  private val dataTable = sqlName(tableId.tableName)
  private val logTable = dataTable + "_LOG"

  private def sqlName(s: String): String = s.toUpperCase.replaceAll("[^A-Z0-9_]", "_")

  private def sqlType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType => "BIGINT"
    case org.apache.spark.sql.types.IntegerType => "INT"
    case org.apache.spark.sql.types.DoubleType => "DOUBLE"
    case org.apache.spark.sql.types.StringType => "VARCHAR(1024)"
    case other => throw new IllegalArgumentException(s"unsupported jdbc source type $other")
  }

  /** single shared WRITER connection: offset assignment (MAX+1 inside the
    * transaction) needs single-writer serialization per JVM. */
  @transient private lazy val conn: Connection = DriverManager.getConnection(url)

  private def withConn[T](f: Connection => T): T = synchronized(f(conn))

  /** READS open a fresh connection per call so concurrent chunk readers (32
    * partitions of one snapshot) never serialize on a shared monitor — the
    * connection-per-task shape a pooled deployment uses. */
  private def withReadConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def jdbcType(dt: org.apache.spark.sql.types.DataType): Int = dt match {
    case org.apache.spark.sql.types.LongType => java.sql.Types.BIGINT
    case org.apache.spark.sql.types.IntegerType => java.sql.Types.INTEGER
    case org.apache.spark.sql.types.DoubleType => java.sql.Types.DOUBLE
    case _ => java.sql.Types.VARCHAR
  }

  private def setParam(
      ps: java.sql.PreparedStatement,
      idx: Int,
      value: Any,
      dt: org.apache.spark.sql.types.DataType): Unit = value match {
    case null => ps.setNull(idx, jdbcType(dt))
    case l: Long => ps.setLong(idx, l)
    case i: Int => ps.setInt(idx, i)
    case d: Double => ps.setDouble(idx, d)
    case s: String => ps.setString(idx, s)
    case other => ps.setObject(idx, other)
  }

  /** Create the data + log tables (idempotent). */
  def initTables(): Unit = withConn { c =>
    def createIfAbsent(ddl: String): Unit =
      try { c.createStatement().executeUpdate(ddl); () }
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
    val dataCols = cols.map(f =>
      s"${sqlName(f.name)} ${sqlType(f.dataType)}" +
        (if (f.name == pk) " NOT NULL PRIMARY KEY" else "")).mkString(", ")
    createIfAbsent(s"CREATE TABLE $dataTable ($dataCols)")
    val imageCols = cols.flatMap(f => Seq(
      s"B_${sqlName(f.name)} ${sqlType(f.dataType)}",
      s"A_${sqlName(f.name)} ${sqlType(f.dataType)}")).mkString(", ")
    createIfAbsent(
      s"""CREATE TABLE $logTable (
         |  LOG_OFFSET BIGINT NOT NULL PRIMARY KEY, TS_MS BIGINT NOT NULL,
         |  OP VARCHAR(10) NOT NULL, HAS_BEFORE SMALLINT NOT NULL,
         |  HAS_AFTER SMALLINT NOT NULL, $imageCols)""".stripMargin)
  }

  /** Apply a data change: mutate the live table AND append the log record in
    * one transaction — what a capture trigger does in SQL Server CDC.
    */
  def applyEvent(e: DataChangeEvent, tsMillis: Long = 0L): Long = withConn { c =>
    c.setAutoCommit(false)
    try {
      e.op match {
        case OperationType.DELETE =>
          val st = c.prepareStatement(s"DELETE FROM $dataTable WHERE ${sqlName(pk)} = ?")
          st.setObject(1, e.before(pk)); st.executeUpdate()
        case _ =>
          LiveTable.movedFrom(pk, e).foreach { _ =>
            val st = c.prepareStatement(s"DELETE FROM $dataTable WHERE ${sqlName(pk)} = ?")
            st.setObject(1, e.before(pk)); st.executeUpdate()
          }
          val del = c.prepareStatement(s"DELETE FROM $dataTable WHERE ${sqlName(pk)} = ?")
          del.setObject(1, e.after(pk)); del.executeUpdate()
          val names = cols.map(f => sqlName(f.name)).mkString(", ")
          val marks = cols.map(_ => "?").mkString(", ")
          val ins = c.prepareStatement(s"INSERT INTO $dataTable ($names) VALUES ($marks)")
          cols.zipWithIndex.foreach { case (f, i) =>
            setParam(ins, i + 1, e.after.getOrElse(f.name, null), f.dataType)
          }
          ins.executeUpdate()
      }
      val off = nextOffset(c)
      val imageNames = cols.flatMap(f => Seq(s"B_${sqlName(f.name)}", s"A_${sqlName(f.name)}"))
      val logSql = s"INSERT INTO $logTable (LOG_OFFSET, TS_MS, OP, HAS_BEFORE, HAS_AFTER, " +
        imageNames.mkString(", ") + ") VALUES (" +
        Seq.fill(5 + imageNames.size)("?").mkString(", ") + ")"
      val lst = c.prepareStatement(logSql)
      lst.setLong(1, off); lst.setLong(2, tsMillis); lst.setString(3, e.op.toString)
      lst.setInt(4, if (e.before.nonEmpty) 1 else 0)
      lst.setInt(5, if (e.after.nonEmpty) 1 else 0)
      cols.zipWithIndex.foreach { case (f, i) =>
        setParam(lst, 6 + 2 * i, e.before.getOrElse(f.name, null), f.dataType)
        setParam(lst, 7 + 2 * i, e.after.getOrElse(f.name, null), f.dataType)
      }
      lst.executeUpdate()
      c.commit()
      off
    } catch { case t: Throwable => c.rollback(); throw t }
    finally c.setAutoCommit(true)
  }

  private def nextOffset(c: Connection): Long = {
    val rs = c.createStatement().executeQuery(
      s"SELECT COALESCE(MAX(LOG_OFFSET), 0) FROM $logTable")
    rs.next(); rs.getLong(1) + 1
  }

  override def currentOffset: Long = withReadConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT COALESCE(MAX(LOG_OFFSET), 0) FROM $logTable")
    rs.next(); rs.getLong(1)
  }

  override def snapshotRead(
      lo: Option[Long], hiExclusive: Option[Long]): Seq[Map[String, Any]] = withReadConn { c =>
    val preds = lo.map(v => s"${sqlName(pk)} >= $v").toSeq ++
      hiExclusive.map(v => s"${sqlName(pk)} < $v")
    val where = if (preds.isEmpty) "" else preds.mkString(" WHERE ", " AND ", "")
    val rs = c.createStatement().executeQuery(s"SELECT * FROM $dataTable$where")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (rs.next()) buf += rowMap(rs, prefix = "")
    buf.toSeq
  }

  override def readLog(fromExclusive: Long, toInclusive: Long): Seq[LogRecord] = withReadConn { c =>
    val rs = c.createStatement().executeQuery(
      s"""SELECT * FROM $logTable
         |WHERE LOG_OFFSET > $fromExclusive AND LOG_OFFSET <= $toInclusive
         |ORDER BY LOG_OFFSET""".stripMargin)
    val buf = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
    while (rs.next()) {
      val before = if (rs.getInt("HAS_BEFORE") == 1) rowMap(rs, "B_") else Map.empty[String, Any]
      val after = if (rs.getInt("HAS_AFTER") == 1) rowMap(rs, "A_") else Map.empty[String, Any]
      buf += LogRecord(
        rs.getLong("LOG_OFFSET"),
        rs.getLong("TS_MS"),
        DataChangeEvent(tableId, OperationType.withName(rs.getString("OP")), before, after))
    }
    buf.toSeq
  }

  private def rowMap(rs: ResultSet, prefix: String): Map[String, Any] =
    cols.map { f =>
      val v = rs.getObject(prefix + sqlName(f.name))
      f.name -> (v match {
        case n: java.lang.Integer if f.dataType == org.apache.spark.sql.types.IntegerType => n.intValue
        case n: java.lang.Long => n.longValue
        case n: java.lang.Double => n.doubleValue
        case other => other
      })
    }.toMap

  /** the capture log carries data changes only — no driver-side scan needed
    * per trigger (the default implementation would SELECT the whole backlog). */
  override def firstDdlOffset(
      fromExclusive: Long, toInclusive: Long): Option[(Long, Seq[SchemaChangeEvent])] = None

  override def keyStats: (Option[Long], Option[Long], Long) = withReadConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT MIN(${sqlName(pk)}), MAX(${sqlName(pk)}), COUNT(*) FROM $dataTable")
    rs.next()
    val mn = rs.getLong(1); val mnNull = rs.wasNull()
    val mx = rs.getLong(2); val mxNull = rs.wasNull()
    (if (mnNull) None else Some(mn), if (mxNull) None else Some(mx), rs.getLong(3))
  }

  override def offsetAtTimestamp(ts: Long): Long = withReadConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT MIN(LOG_OFFSET) FROM $logTable WHERE TS_MS >= $ts")
    rs.next()
    val v = rs.getLong(1)
    if (rs.wasNull()) currentOffsetUnlocked(c) else v - 1
  }

  private def currentOffsetUnlocked(c: Connection): Long = {
    val rs = c.createStatement().executeQuery(
      s"SELECT COALESCE(MAX(LOG_OFFSET), 0) FROM $logTable")
    rs.next(); rs.getLong(1)
  }
}
