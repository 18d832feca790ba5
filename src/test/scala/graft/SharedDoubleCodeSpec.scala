package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The in-process CDC doubles share one keyed live table
  * (`sources/cdc/LiveTable.scala`) and one loopback listener
  * (`sources/cdc/LoopbackListener.scala`). This spec reads the sources and
  * fails when the decisions those two modules own show up anywhere else in
  * the source families or the Kafka and OceanBase wire doubles: the
  * half-open chunk range filter, the PK-change rule and a `new
  * ServerSocket`. It also fails when a double keeps its own keyed row map
  * or key parse. */
class SharedDoubleCodeSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")
  private val shared = Set("sources/cdc/LiveTable.scala", "sources/cdc/LoopbackListener.scala")
  private val doubles = Seq(
    "sources/cdc/ChangeSource.scala", "sources/oracle/LogMiner.scala",
    "sources/db2/AsnCapture.scala", "sources/sqlserver/ChangeTables.scala",
    "sources/tidb/TiCdc.scala", "sources/postgres/PostgresWal.scala",
    "sources/vitess/VStream.scala", "sources/mongo/DocumentChangeSource.scala",
    "sources/mysql/BinlogSocket.scala")

  /** Each shared decision, by the shape its code takes. */
  private val decisions = Seq(
    "chunk range filter" -> """\.forall\(\s*\w+\s*(?:>=|<)\s*_\s*\)""".r,
    "PK-change rule" -> """keyOf\w*\([^\n]*\)\s*!=|_\s*!=\s*[\w.]*keyOf\w*\(""".r,
    "server socket" -> """new\s+ServerSocket\b""".r)
  /** What a double must not keep of its own. */
  private val ownTable = Seq(
    "keyed row map" -> """LinkedHashMap(?:\.empty)?\[Long, Map\[String, Any\]\]""".r,
    "key parse" -> """def\s+keyOf\b""".r)

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)
  private def rel(p: Path): String = main.relativize(p).toString

  private def matches(files: Map[String, String], rules: Seq[(String, scala.util.matching.Regex)])
      : Seq[String] =
    for {
      (f, src) <- files.toSeq.sortBy(_._1)
      (what, re) <- rules if re.findFirstIn(src).nonEmpty
    } yield s"$f: $what"

  test("the detector: each decision's shape is found, and only there") {
    val files = Map(
      "a" -> "rows.collect { case (k, r) if lo.forall(k >= _) && hi.forall(k < _) => r }",
      "b" -> "if (e.before.nonEmpty && keyOf(e.before) != keyOf(e.after)) table.remove(k)",
      "c" -> "Some(keyOf(pk, e.before)).filter(_ != keyOf(pk, e.after))",
      "d" -> "val ss = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)",
      "e" -> "if (lo.isEmpty || hi.forall(_ > k)) ranges.indexWhere(_._1 != k)",
      "f" -> "if (e.op != OperationType.DELETE) rowMeta(table.keyOf(e.after)) = e.meta")
    assert(matches(files, decisions) ==
      Seq("a: chunk range filter", "b: PK-change rule", "c: PK-change rule", "d: server socket"))
    assert(matches(Map("f" -> ("private val table = mutable.LinkedHashMap.empty[Long, " +
      "Map[String, Any]]\n  private def keyOf(r: Map[String, Any]): Long")), ownTable) ==
      Seq("f: keyed row map", "f: key parse"))
  }

  test("the shared decisions live only in the live table and the loopback listener") {
    val scope = Files.walk(main.resolve("sources")).iterator().asScala.toSeq ++
      Seq(main.resolve("sinks/KafkaWire.scala"), main.resolve("sinks/OceanBaseWire.scala"))
    val files = scope.filter(_.toString.endsWith(".scala")).map(p => rel(p) -> read(p)).toMap
    assert(doubles.forall(files.contains), "a double moved: update the list")
    val (home, rest) = files.partition { case (f, _) => shared(f) }
    // each decision still has its one home, so the patterns are not stale
    assert(matches(home, decisions).map(_.split(": ")(1)).toSet == decisions.map(_._1).toSet)
    val strays = matches(rest, decisions) ++ matches(files.filter(f => doubles.contains(f._1)), ownTable)
    assert(strays.isEmpty, s"shared code repeated outside its module:\n${strays.mkString("\n")}")
  }
}
