package graft.pipeline

import graft.SparkTestBase
import graft.core._
import graft.sinks.MemoryDatabase
import graft.sources.cdc._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Projection aliases that collide with the envelope's own column names
  * (`op`, `seq`) or need backquotes (`my-v`), end to end through a
  * streaming pipeline: snapshot rows 1..3, then DELETE 2, UPDATE 3 twice.
  */
class TransformAliasSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestBase.spark

  private val t = TableId.parse("app.alias")

  /** Runs the pipeline with one transform rule, returns the sink's column
    * names and its rows, sorted. */
  private def run(projection: String, filter: Option[String]): (Seq[String], Seq[String]) = {
    val srcId = s"alias-${System.nanoTime()}"
    val src = new ScriptedChangeSource(t,
      TableSchema(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType))), primaryKeys = Seq("id")),
      (1L to 3L).map(i => Map[String, Any]("id" -> i, "v" -> s"v$i")))
    ChangeSourceRegistry.register(srcId, src)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("alias-ckpt").toString
      val runner = new PipelineRunner(YamlPipelineParser.parse(
        s"""source:
           |  type: cdc
           |  sourceId: $srcId
           |sink:
           |  type: values
           |transform:
           |  - source-table: app.alias
           |    projection: "$projection"
           |""".stripMargin +
          filter.fold("")(f => s"    filter: \"$f\"\n") +
          s"""pipeline:
             |  checkpoint.dir: $ckpt
             |""".stripMargin))
      runner.runHandlingDdl()
      src.append(DataChangeEvent.delete(t, Map("id" -> 2L, "v" -> "v2")))
      src.append(DataChangeEvent.update(t,
        Map("id" -> 3L, "v" -> "v3"), Map("id" -> 3L, "v" -> "three")))
      src.append(DataChangeEvent.update(t,
        Map("id" -> 3L, "v" -> "three"), Map("id" -> 3L, "v" -> "drei")))
      runner.runHandlingDdl()
      val sink = runner.sink.asInstanceOf[MemoryDatabase]
      (sink.schemaOf(t).get.columnNames, sink.rowsOf(t).map(_.mkString(",")).sorted)
    } finally ChangeSourceRegistry.remove(srcId)
  }

  test("an alias named like the envelope's op column does not replace the event's op") {
    val expected = (Seq("id", "v", "op"), Seq("1,v1,+I", "3,drei,+U"))
    assert(run("*, __data_event_type__ AS op", None) == expected)
    assert(run("*, __data_event_type__ AS op", Some("id > 0")) == expected)
  }

  test("an alias named like the envelope's seq column does not replace the event's seq") {
    assert(run("*, UPPER(v) AS seq", Some("id > 0")) ==
      (Seq("id", "v", "seq"), Seq("1,v1,V1", "3,drei,DREI")))
  }

  test("a backquoted alias names the output column without its backquotes") {
    assert(run("id, v AS `my-v`", None) == (Seq("id", "my-v"), Seq("1,v1", "3,drei")))
    assert(run("id, UPPER(v) AS `my-v`", Some("`my-v` <> 'V1'")) ==
      (Seq("id", "my-v"), Seq("3,DREI")))
  }
}
