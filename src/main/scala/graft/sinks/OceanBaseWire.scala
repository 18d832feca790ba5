package graft.sinks

import graft.sources.cdc.LoopbackListener
import graft.sources.mysql.BinlogWire
import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** MySQL TEXT protocol (COM_QUERY + text resultsets) over real sockets —
  * the wire an OceanBase MySQL-mode tenant speaks. The reference's
  * OceanBase pipeline connector
  * (`flink-cdc-pipeline-connector-oceanbase/.../OceanBaseDataSink.java`)
  * is a JDBC client of exactly this protocol; here the client frames the
  * packets itself (reusing [[graft.sources.mysql.BinlogWire]]'s packet
  * layer, handshake and OK/EOF/ERR shapes) and the server double keeps an
  * in-memory catalog + PK store with VALIDATE-BEFORE-MUTATE statement
  * handling, like the round-11 hardened source doubles.
  */
object OceanBaseWire {

  /** Lenc-int encode (shared shape with the binlog side's getLenc). */
  private[sinks] def putLenc(out: mutable.ArrayBuffer[Byte], v: Long): Unit = {
    if (v < 251) out += v.toByte
    else if (v < 65536) { out += 0xfc.toByte; out += (v & 0xff).toByte; out += ((v >> 8) & 0xff).toByte }
    else if (v < 16777216) {
      out += 0xfd.toByte
      out += (v & 0xff).toByte; out += ((v >> 8) & 0xff).toByte; out += ((v >> 16) & 0xff).toByte
    } else {
      out += 0xfe.toByte
      (0 until 8).foreach(i => out += ((v >> (8 * i)) & 0xff).toByte)
    }
  }

  private[sinks] def putLencString(out: mutable.ArrayBuffer[Byte], s: String): Unit = {
    val b = s.getBytes(UTF_8)
    putLenc(out, b.length.toLong)
    out ++= b
  }

  /** OK packet with a real affected-rows count (BinlogWire's fixed OK
    * cannot report how many rows an upsert touched). */
  private[sinks] def okPacket(affected: Long): Array[Byte] = {
    val out = mutable.ArrayBuffer.empty[Byte]
    out += 0x00
    putLenc(out, affected)
    putLenc(out, 0L) // last insert id
    out += 0x02; out += 0x00 // status: autocommit
    out += 0x00; out += 0x00 // warnings
    out.toArray
  }

  /** Column-definition packet (protocol 4.1): every column rides as
    * VAR_STRING — the text protocol serializes all values as strings and
    * this double's consumers re-type client-side. */
  private[sinks] def columnDef(name: String): Array[Byte] = {
    val out = mutable.ArrayBuffer.empty[Byte]
    putLencString(out, "def") // catalog
    putLencString(out, "")    // schema
    putLencString(out, "")    // table
    putLencString(out, "")    // org_table
    putLencString(out, name)
    putLencString(out, name)  // org_name
    out += 0x0c               // fixed-length fields length
    out += 33; out += 0       // charset utf8_general_ci
    out ++= Array[Byte](0, 1, 0, 0) // column length 256
    out += 0xfd.toByte        // type VAR_STRING
    out += 0; out += 0        // flags
    out += 0                  // decimals
    out += 0; out += 0        // filler
    out.toArray
  }

  /** One row of a text resultset: lenc strings, 0xfb for NULL. */
  private[sinks] def rowPacket(values: Seq[Option[String]]): Array[Byte] = {
    val out = mutable.ArrayBuffer.empty[Byte]
    values.foreach {
      case Some(v) => putLencString(out, v)
      case None => out += 0xfb.toByte
    }
    out.toArray
  }

  private[sinks] def readLenc(b: Array[Byte], pos: Int): (Long, Int) =
    (b(pos) & 0xff) match {
      case 0xfb => (-1L, pos + 1) // NULL marker in row context
      case 0xfc => (((b(pos + 1) & 0xffL)) | ((b(pos + 2) & 0xffL) << 8), pos + 3)
      case 0xfd => ((b(pos + 1) & 0xffL) | ((b(pos + 2) & 0xffL) << 8) |
        ((b(pos + 3) & 0xffL) << 16), pos + 4)
      case 0xfe =>
        var v = 0L
        (0 until 8).foreach(i => v |= (b(pos + 1 + i) & 0xffL) << (8 * i))
        (v, pos + 9)
      case n => (n.toLong, pos + 1)
    }
}

/** Result of one COM_QUERY: either an OK (affected rows) or a resultset. */
final case class ObQueryResult(
    affected: Long,
    columns: Seq[String],
    rows: Seq[Seq[Option[String]]])

/** MySQL text-protocol client: handshake + COM_QUERY, parsing OK / ERR /
  * text resultsets. One socket per instance; executors open their own. */
final class OceanBaseWireClient(host: String, port: Int, user: String) {
  private val sock = new Socket(InetAddress.getByName(host), port)
  sock.setTcpNoDelay(true)
  private val in: InputStream = new BufferedInputStream(sock.getInputStream)
  private val out: OutputStream = new BufferedOutputStream(sock.getOutputStream)

  // handshake: server greeting -> client response -> OK
  {
    val (_, greeting) = BinlogWire.readPacket(in)
    require(greeting.nonEmpty && greeting(0) == 0x0a,
      "server did not send a protocol-10 handshake")
    BinlogWire.writePacket(out, 1, BinlogWire.encodeHandshakeResponse(user))
    out.flush()
    val (_, ok) = BinlogWire.readPacket(in)
    require(ok.nonEmpty && ok(0) == 0x00, "authentication failed")
  }

  def query(sql: String): ObQueryResult = {
    val payload = Array[Byte](0x03) ++ sql.getBytes(UTF_8)
    BinlogWire.writePacket(out, 0, payload)
    out.flush()
    val (_, first) = BinlogWire.readPacket(in)
    (first(0) & 0xff) match {
      case 0xff =>
        val code = ((first(1) & 0xff) | ((first(2) & 0xff) << 8))
        // skip sql-state marker '#' + 5 bytes when present
        val msgStart = if (first.length > 3 && first(3) == '#') 9 else 3
        throw new IllegalArgumentException(
          s"OceanBase error $code: " +
            new String(first, msgStart, first.length - msgStart, UTF_8))
      case 0x00 =>
        val (affected, _) = OceanBaseWire.readLenc(first, 1)
        ObQueryResult(affected, Nil, Nil)
      case _ =>
        val (colCount, _) = OceanBaseWire.readLenc(first, 0)
        val columns = (0 until colCount.toInt).map { _ =>
          val (_, p) = BinlogWire.readPacket(in)
          // name is the 5th lenc string
          var pos = 0
          var name = ""
          (0 until 5).foreach { i =>
            val (len, np) = OceanBaseWire.readLenc(p, pos)
            if (i == 4) name = new String(p, np, len.toInt, UTF_8)
            pos = np + len.toInt
          }
          name
        }
        val (_, eof1) = BinlogWire.readPacket(in)
        require((eof1(0) & 0xff) == 0xfe, "expected EOF after column defs")
        val rows = mutable.ArrayBuffer.empty[Seq[Option[String]]]
        var done = false
        while (!done) {
          val (_, p) = BinlogWire.readPacket(in)
          if ((p(0) & 0xff) == 0xfe && p.length < 9) done = true
          else {
            var pos = 0
            rows += columns.map { _ =>
              val (len, np) = OceanBaseWire.readLenc(p, pos)
              if (len < 0) { pos = np; None }
              else { val s = new String(p, np, len.toInt, UTF_8); pos = np + len.toInt; Some(s) }
            }
          }
        }
        ObQueryResult(0L, columns, rows.toSeq)
    }
  }

  def close(): Unit = sock.close()
}

/** One column of the double's catalog. */
final case class ObColumnState(
    name: String,
    dataType: String, // full spelled type, e.g. VARCHAR(10)
    nullable: Boolean,
    defaultValue: Option[String],
    comment: Option[String])

/** Loopback OceanBase server double (MySQL-mode wire): handshake +
  * COM_QUERY over real sockets, an in-memory catalog + PK store, and
  * VALIDATE-BEFORE-MUTATE on every statement — a malformed or
  * type-invalid statement answers ERR and leaves state untouched.
  * `compatMode` drives `@@ob_compatibility_mode` (the tenant-dialect
  * probe the reference's `OceanBaseConnectionProvider.getDialect` makes).
  */
final class OceanBaseServerDouble(
    val compatMode: String = "MYSQL",
    port: Int = 0) {

  private final class Table(
      var columns: Vector[ObColumnState],
      val tableKeys: Seq[String]) {
    // key-tuple -> column name -> value (None = SQL NULL)
    val rows = mutable.LinkedHashMap.empty[Seq[Option[String]], mutable.LinkedHashMap[String, Option[String]]]
    // pk-less DUPLICATE_KEY tables append; a synthetic counter keys them
    var dupSeq = 0L
  }

  private val databases = mutable.Set.empty[String]
  private val tables = mutable.LinkedHashMap.empty[(String, String), Table]
  @volatile private var memstoreActive = 0L
  @volatile private var memstoreLimit = 100L
  @volatile private var listener: LoopbackListener = _
  @volatile private var running = false

  def setMemstore(active: Long, limit: Long): Unit = {
    memstoreActive = active; memstoreLimit = limit
  }

  def start(): Unit = synchronized {
    if (!running) {
      listener = LoopbackListener.start("ob-double", port)(serve)
      running = true
    }
  }

  def stop(): Unit = synchronized {
    running = false
    if (listener != null) listener.stop()
  }

  def url: String = s"$host:$boundPort"
  def host: String = InetAddress.getLoopbackAddress.getHostAddress
  def boundPort: Int = listener.port

  def databaseNames: Set[String] = synchronized(databases.toSet)
  def tableColumns(db: String, tbl: String): Seq[ObColumnState] =
    synchronized(tables.get((db, tbl)).map(_.columns).getOrElse(
      throw new IllegalArgumentException(s"no table $db.$tbl")))
  def tableKeysOf(db: String, tbl: String): Seq[String] =
    synchronized(tables((db, tbl)).tableKeys)
  /** Live rows as (column name -> Option[value]) in insertion order. */
  def rowsOf(db: String, tbl: String): Seq[Map[String, Option[String]]] =
    synchronized(tables.get((db, tbl)).map(_.rows.values.map(_.toMap).toSeq)
      .getOrElse(Seq.empty))

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    BinlogWire.writePacket(out, 0, BinlogWire.encodeHandshakeV10(1))
    out.flush()
    BinlogWire.readPacket(in) // handshake response: any user accepted
    BinlogWire.writePacket(out, 2, BinlogWire.encodeOk())
    out.flush()
    var open = true
    while (open) {
      val (_, payload) =
        try BinlogWire.readPacket(in)
        catch { case _: Throwable => open = false; (0, Array.empty[Byte]) }
      if (open && payload.nonEmpty) (payload(0) & 0xff) match {
        case 0x01 => open = false // COM_QUIT
        case 0x03 =>
          val sql = new String(payload, 1, payload.length - 1, UTF_8)
          val response: Seq[Array[Byte]] =
            try dispatch(sql)
            catch {
              case e: Throwable =>
                Seq(BinlogWire.encodeErr(1064,
                  Option(e.getMessage).getOrElse(e.getClass.getName)))
            }
          var seq = 1
          response.foreach { p =>
            BinlogWire.writePacket(out, seq, p); seq += 1
          }
          out.flush()
        case _ =>
          BinlogWire.writePacket(out, 1, BinlogWire.encodeErr(1047, "unsupported command"))
          out.flush()
      }
    }
  }

  // ------------------------------------------------------------ SQL subset

  private def resultSet(cols: Seq[String], rows: Seq[Seq[Option[String]]]): Seq[Array[Byte]] = {
    val head = mutable.ArrayBuffer.empty[Byte]
    OceanBaseWire.putLenc(head, cols.size.toLong)
    Seq(head.toArray) ++ cols.map(OceanBaseWire.columnDef) ++
      Seq(BinlogWire.encodeEof()) ++ rows.map(OceanBaseWire.rowPacket) ++
      Seq(BinlogWire.encodeEof())
  }

  /** Unquote a backtick identifier (`` doubles) or return the bare word. */
  private def ident(s: String): String = {
    val t = s.trim
    if (t.startsWith("`") && t.endsWith("`") && t.length >= 2)
      t.substring(1, t.length - 1).replace("``", "`")
    else t
  }

  /** Unquote a single-quoted string literal with \' \\ escapes. */
  private def unquote(s: String): String = {
    val t = s.trim
    require(t.length >= 2 && t.startsWith("'") && t.endsWith("'"),
      s"not a string literal: $s")
    val b = new StringBuilder
    var i = 1
    while (i < t.length - 1) {
      val c = t.charAt(i)
      if (c == '\\' && i + 1 < t.length - 1) { b += t.charAt(i + 1); i += 2 }
      else { b += c; i += 1 }
    }
    b.toString
  }

  /** Split on top-level `sep` (outside quotes/backticks/parens). */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false; var inTick = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\\' && i + 1 < s.length) { cur += s.charAt(i + 1); i += 1 }
        else if (c == '\'') inStr = false
      } else if (inTick) {
        cur += c
        if (c == '`') inTick = false
      } else c match {
        case '\'' => inStr = true; cur += c
        case '`' => inTick = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** The OB type grammar this double accepts, with OceanBase's real caps —
    * an unknown spelling or an over-cap length is a validation ERROR, so a
    * writer emitting a type OB cannot hold fails loudly here. */
  private def validateType(t: String): String = {
    val up = t.trim.toUpperCase
    val plain = Set("BOOLEAN", "TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT",
      "DOUBLE", "DATE", "DATETIME", "TIMESTAMP", "TIME", "JSON", "TEXT",
      "LONGBLOB", "BINARY", "STRING")
    val sized = """(CHAR|VARCHAR|VARBINARY|BINARY|TIME)\((\d+)\)""".r
    val prec = """(DATETIME|TIMESTAMP)\((\d+)\)""".r
    val dec = """DECIMAL\((\d+),\s*(\d+)\)""".r
    up match {
      case p if plain.contains(p) => up
      case sized("CHAR", n) =>
        require(n.toInt <= 256, s"CHAR($n) exceeds OceanBase's max CHAR size 256"); up
      case sized("VARCHAR", n) =>
        require(n.toInt <= 262144, s"VARCHAR($n) exceeds OceanBase's max VARCHAR size 262144"); up
      case sized("VARBINARY", n) =>
        require(n.toInt <= 1048576, s"VARBINARY($n) exceeds OceanBase's max VARBINARY size 1048576"); up
      case sized("BINARY", _) | sized("TIME", _) => up
      case prec(_, p) =>
        require(p.toInt <= 6, s"precision $p exceeds OceanBase's max timestamp precision 6"); up
      case dec(p, s) =>
        require(p.toInt >= s.toInt, s"DECIMAL($p,$s) scale exceeds precision"); up
      case other => throw new IllegalArgumentException(s"unknown OceanBase type: $other")
    }
  }

  /** Parse one column definition: `name` TYPE [NULL|NOT NULL]
    * [DEFAULT "v"] [COMMENT "c"]. */
  private def parseColumnDef(s: String): ObColumnState = {
    val m = """(?s)\s*(`(?:[^`]|``)+`)\s+(\S+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)(.*)""".r
    s.trim match {
      case m(q, tpe, rest0) =>
        val rest = rest0.trim
        val notNull = rest.toUpperCase.startsWith("NOT NULL")
        val default = """DEFAULT\s+"([^"]*)"""".r.findFirstMatchIn(rest).map(_.group(1))
        val comment = """COMMENT\s+"([^"]*)"""".r.findFirstMatchIn(rest).map(_.group(1))
        ObColumnState(ident(q), validateType(tpe), !notNull, default, comment)
      case other => throw new IllegalArgumentException(s"malformed column definition: $other")
    }
  }

  private def requireTable(db: String, tbl: String): Table =
    tables.getOrElse((db, tbl),
      throw new IllegalArgumentException(s"Table '$db.$tbl' doesn't exist"))

  private def dispatch(sql0: String): Seq[Array[Byte]] = synchronized {
    val sql = sql0.trim.stripSuffix(";").trim
    val up = sql.toUpperCase

    if (up.startsWith("SELECT @@OB_COMPATIBILITY_MODE"))
      return resultSet(Seq("@@ob_compatibility_mode"), Seq(Seq(Some(compatMode))))

    if (up.contains("GV$OB_MEMSTORE"))
      return resultSet(Seq("ACTIVE_SPAN", "MEMSTORE_LIMIT"),
        Seq(Seq(Some(memstoreActive.toString), Some(memstoreLimit.toString))))

    val schemata =
      """(?is)SELECT\s+`SCHEMA_NAME`\s+FROM\s+`INFORMATION_SCHEMA`\.`SCHEMATA`\s+WHERE\s+SCHEMA_NAME\s*=\s*(.+)""".r
    val tablesQ =
      """(?is)SELECT\s+`TABLE_NAME`\s+FROM\s+`INFORMATION_SCHEMA`\.`TABLES`\s+WHERE\s+TABLE_SCHEMA\s*=\s*(.+?)\s+AND\s+TABLE_NAME\s*=\s*(.+)""".r
    sql match {
      case schemata(lit) =>
        val name = unquote(lit)
        return resultSet(Seq("SCHEMA_NAME"),
          if (databases.contains(name)) Seq(Seq(Some(name))) else Seq.empty)
      case tablesQ(dbLit, tblLit) =>
        val (db, tbl) = (unquote(dbLit), unquote(tblLit))
        return resultSet(Seq("TABLE_NAME"),
          if (tables.contains((db, tbl))) Seq(Seq(Some(tbl))) else Seq.empty)
      case _ => ()
    }

    val createDb = """(?is)CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(.+)""".r
    val createTbl =
      """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)\s*\((.*)\)\s*""".r
    val alter = """(?is)ALTER\s+TABLE\s+(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)\s+(.*)""".r
    val truncate = """(?is)TRUNCATE\s+TABLE\s+(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)""".r
    val dropTbl = """(?is)DROP\s+TABLE\s+(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)""".r
    val insert =
      """(?is)INSERT\s+INTO\s+(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)\s*\(([^)]*)\)\s*VALUES\s*(.*?)(\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+.*)?""".r
    val delete =
      """(?is)DELETE\s+FROM\s+(`(?:[^`]|``)+`)\.(`(?:[^`]|``)+`)\s+WHERE\s+(.*)""".r

    sql match {
      case createDb(ifNot, nameQ) =>
        val name = ident(nameQ)
        if (databases.contains(name) && ifNot == null)
          throw new IllegalArgumentException(s"database '$name' exists")
        databases += name
        Seq(OceanBaseWire.okPacket(1))

      case createTbl(ifNot, dbQ, tblQ, body) =>
        val (db, tbl) = (ident(dbQ), ident(tblQ))
        require(databases.contains(db), s"Unknown database '$db'")
        if (tables.contains((db, tbl))) {
          if (ifNot == null) throw new IllegalArgumentException(s"table '$db.$tbl' exists")
          return Seq(OceanBaseWire.okPacket(0))
        }
        val parts = splitTop(body, ',').map(_.trim).filter(_.nonEmpty)
        val (pkParts, colParts) = parts.partition(_.toUpperCase.startsWith("PRIMARY KEY"))
        // FULL validation before ANY mutation
        val cols = colParts.map(parseColumnDef).toVector
        val keys = pkParts.headOption.map { p =>
          val inner = p.substring(p.indexOf('(') + 1, p.lastIndexOf(')'))
          splitTop(inner, ',').map(ident)
        }.getOrElse(Seq.empty)
        keys.foreach { k =>
          val c = cols.find(_.name == k).getOrElse(
            throw new IllegalArgumentException(s"PRIMARY KEY column `$k` is not defined"))
          require(!c.nullable,
            "All parts of a PRIMARY KEY must be NOT NULL in OceanBase")
        }
        tables((db, tbl)) = new Table(cols, keys)
        Seq(OceanBaseWire.okPacket(0))

      case truncate(dbQ, tblQ) =>
        val t = requireTable(ident(dbQ), ident(tblQ))
        t.rows.clear()
        Seq(OceanBaseWire.okPacket(0))

      case dropTbl(dbQ, tblQ) =>
        val key = (ident(dbQ), ident(tblQ))
        requireTable(key._1, key._2)
        tables.remove(key)
        Seq(OceanBaseWire.okPacket(0))

      case alter(dbQ, tblQ, ops) =>
        val t = requireTable(ident(dbQ), ident(tblQ))
        val opList = splitTop(ops, ',').map(_.trim).filter(_.nonEmpty)
        // validate the WHOLE statement first, then apply
        val planned: Seq[Table => Unit] = opList.map { op =>
          val upOp = op.toUpperCase
          if (upOp.startsWith("ADD COLUMN")) {
            val c = parseColumnDef(op.substring("ADD COLUMN".length))
            require(!t.columns.exists(_.name == c.name), s"Duplicate column '${c.name}'")
            (tt: Table) => {
              tt.columns :+= c
              tt.rows.values.foreach(_(c.name) = c.defaultValue)
            }
          } else if (upOp.startsWith("DROP COLUMN")) {
            val name = ident(op.substring("DROP COLUMN".length))
            require(t.columns.exists(_.name == name), s"Unknown column '$name'")
            require(!t.tableKeys.contains(name), s"cannot drop key column '$name'")
            (tt: Table) => {
              tt.columns = tt.columns.filterNot(_.name == name)
              tt.rows.values.foreach(_.remove(name))
            }
          } else if (upOp.startsWith("MODIFY COLUMN")) {
            val rest = op.substring("MODIFY COLUMN".length).trim
            val m = """(?s)(`(?:[^`]|``)+`)\s+(\S+(?:\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""".r
            rest match {
              case m(q, tpe) =>
                val name = ident(q)
                val full = validateType(tpe)
                require(t.columns.exists(_.name == name), s"Unknown column '$name'")
                (tt: Table) => {
                  tt.columns = tt.columns.map(c =>
                    if (c.name == name) c.copy(dataType = full) else c)
                }
              case other => throw new IllegalArgumentException(s"malformed MODIFY COLUMN: $other")
            }
          } else if (upOp.startsWith("RENAME COLUMN")) {
            val m = """(?is)RENAME\s+COLUMN\s+(`(?:[^`]|``)+`)\s+TO\s+(`(?:[^`]|``)+`)""".r
            op match {
              case m(oldQ, newQ) =>
                val (o, n) = (ident(oldQ), ident(newQ))
                require(t.columns.exists(_.name == o), s"Unknown column '$o'")
                require(!t.columns.exists(_.name == n), s"Duplicate column '$n'")
                (tt: Table) => {
                  tt.columns = tt.columns.map(c => if (c.name == o) c.copy(name = n) else c)
                  tt.rows.values.foreach { r =>
                    r.get(o).foreach { v => r.remove(o); r(n) = v }
                  }
                }
              case other => throw new IllegalArgumentException(s"malformed RENAME COLUMN: $other")
            }
          } else throw new IllegalArgumentException(s"unsupported ALTER operation: $op")
        }
        planned.foreach(_(t))
        Seq(OceanBaseWire.okPacket(0))

      case insert(dbQ, tblQ, colList, tuples, onDup) =>
        val t = requireTable(ident(dbQ), ident(tblQ))
        val cols = splitTop(colList, ',').map(ident)
        cols.foreach(c => require(t.columns.exists(_.name == c), s"Unknown column '$c'"))
        if (t.tableKeys.nonEmpty)
          t.tableKeys.foreach(k => require(cols.contains(k),
            s"upsert without key column '$k'"))
        val rows = splitTop(tuples.trim, ',').map(_.trim).filter(_.nonEmpty).map { tup =>
          require(tup.startsWith("(") && tup.endsWith(")"), s"malformed tuple $tup")
          val vals = splitTop(tup.substring(1, tup.length - 1), ',').map(parseValue)
          require(vals.size == cols.size,
            s"tuple arity ${vals.size} != column list arity ${cols.size}")
          cols.zip(vals)
        }
        var affected = 0L
        rows.foreach { r =>
          val m = mutable.LinkedHashMap.empty[String, Option[String]]
          t.columns.foreach(c => m(c.name) = r.collectFirst {
            case (n, v) if n == c.name => v
          }.getOrElse(c.defaultValue))
          // NOT NULL enforcement (keys are always NOT NULL)
          t.columns.filterNot(_.nullable).foreach(c =>
            require(m(c.name).isDefined, s"Column '${c.name}' cannot be null"))
          val key =
            if (t.tableKeys.nonEmpty) t.tableKeys.map(k => m(k))
            else { t.dupSeq += 1; Seq(Some(s"__dup_${t.dupSeq}")) }
          val existed = t.rows.contains(key)
          if (existed) require(onDup != null,
            "Duplicate entry for key 'PRIMARY'")
          t.rows(key) = m
          affected += (if (existed) 2 else 1) // mysql upsert-affected contract
        }
        Seq(OceanBaseWire.okPacket(affected))

      case delete(dbQ, tblQ, where) =>
        val t = requireTable(ident(dbQ), ident(tblQ))
        // the three shapes the sink's batched deletes emit: a single-key
        // IN list, an OR of parenthesized conjunctions (composite keys),
        // and a plain conjunction — each resolves to key-tuple groups
        def conj(s: String): Seq[(String, Option[String])] =
          splitTopKeyword(s, "AND").map { c =>
            val i = c.indexOf('=')
            require(i > 0, s"malformed predicate $c")
            (ident(c.substring(0, i)), parseValue(c.substring(i + 1)))
          }
        val inRe = """(?is)\s*(`(?:[^`]|``)+`)\s+IN\s*\((.*)\)\s*""".r
        val groups: Seq[Seq[(String, Option[String])]] = where match {
          case inRe(colQ, vals) =>
            val c = ident(colQ)
            splitTop(vals, ',').map(v => Seq(c -> parseValue(v)))
          case _ =>
            val parts = splitTopKeyword(where, "OR")
            parts.map { p0 =>
              val p = p0.trim
              // each group may be parenthesized (always is when several
              // OR together; a single-tuple batch parenthesizes too)
              require(parts.size == 1 ||
                (p.startsWith("(") && p.endsWith(")")),
                s"malformed OR group $p")
              if (p.startsWith("(") && p.endsWith(")"))
                conj(p.substring(1, p.length - 1))
              else conj(p)
            }
        }
        require(groups.nonEmpty && groups.forall(_.nonEmpty),
          "DELETE without WHERE is refused")
        groups.flatten.foreach { case (c, _) =>
          require(t.columns.exists(_.name == c), s"Unknown column '$c'") }
        val before = t.rows.size
        val dead = t.rows.filter { case (_, r) =>
          groups.exists(_.forall { case (c, v) => r.get(c).exists(_ == v) })
        }.keys.toSeq
        dead.foreach(t.rows.remove)
        Seq(OceanBaseWire.okPacket((before - t.rows.size).toLong))

      case other =>
        throw new IllegalArgumentException(s"unsupported statement: ${other.take(120)}")
    }
  }

  /** Split on a top-level keyword (case-insensitive, not inside quotes or
    * parens) — the AND/OR splitter of the DELETE predicate grammar. */
  private def splitTopKeyword(s: String, kw: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inStr = false; var depth = 0
    var i = 0
    val pat = s" $kw "
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\\' && i + 1 < s.length) { cur += s.charAt(i + 1); i += 1 }
        else if (c == '\'') inStr = false
      } else if (c == '\'') { inStr = true; cur += c }
      else if (c == '(') { depth += 1; cur += c }
      else if (c == ')') { depth -= 1; cur += c }
      else if (depth == 0 && c == ' ' &&
          s.regionMatches(true, i, pat, 0, pat.length)) {
        out += cur.toString; cur.clear(); i += pat.length - 1
      } else cur += c
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def parseValue(s: String): Option[String] = {
    val t = s.trim
    if (t.equalsIgnoreCase("NULL")) None
    else if (t.startsWith("'")) Some(unquote(t))
    else if (t.toUpperCase.startsWith("X'") && t.endsWith("'"))
      Some(t.substring(2, t.length - 1)) // hex literal: keep hex form
    else Some(t) // numeric literal
  }
}
