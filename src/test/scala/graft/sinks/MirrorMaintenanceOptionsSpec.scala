package graft.sinks

import graft.SparkTestBase
import graft.pipeline.YamlPipelineParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Mirror maintenance options are honoured or refused, never ignored:
  * each `delta` / `iceberg` / `paimon` sink accepts exactly the
  * maintenance its format runs (`checkpoint.every` on Delta,
  * `snapshots.keep` on Iceberg and Paimon, `full-compaction.delta-commits`
  * on Paimon) and refuses the rest at construction, through the YAML
  * sink config. */
class MirrorMaintenanceOptionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val options = Seq("checkpoint.every", "snapshots.keep",
    "full-compaction.delta-commits")
  private val supported = Map(
    "delta" -> Set("checkpoint.every"),
    "iceberg" -> Set("snapshots.keep"),
    "paimon" -> Set("snapshots.keep", "full-compaction.delta-commits"))

  private def sinkFromYaml(format: String, option: String): DataSink = {
    val dir = Files.createTempDirectory(s"graft_mm_$format").toString
    val pdef = YamlPipelineParser.parse(
      s"""source:
         |  type: values
         |sink:
         |  type: $format
         |  path: $dir
         |  $option: 3
         |pipeline:
         |  name: mirror-maintenance
         |""".stripMargin)
    DataSinks.forDef(spark, pdef.sink)
  }

  for ((format, ok) <- supported; option <- options) {
    if (ok.contains(option))
      test(s"$format sink builds with $option") {
        assert(sinkFromYaml(format, option).isInstanceOf[MirroredLakehouseSink])
      }
    else
      test(s"$format sink refuses $option") {
        val e = intercept[IllegalArgumentException](sinkFromYaml(format, option))
        assert(e.getMessage.contains(option), e.getMessage)
      }
  }
}
