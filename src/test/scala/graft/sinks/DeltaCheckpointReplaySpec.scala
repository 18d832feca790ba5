package graft.sinks

import graft.SparkTestBase
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A checkpoint-seeded Delta read applies every later JSON commit with
  * the full action handler: a protocol upgrade after the checkpoint is
  * gated like any other (unknown reader features refuse), and a
  * deletion vector added after the checkpoint masks its rows. Hand-written
  * log lines, in the style of `DeltaReaderFeaturesSpec`. */
class DeltaCheckpointReplaySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val schemaJson = new StructType().add("k", LongType, nullable = false)
    .add("v", StringType).json.replace("\"", "\\\"")

  private def writeLog(dest: String, version: Long, lines: String*): Unit = {
    val logDir = Paths.get(dest, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** A reader-v1 table of one 10-row file `fa.parquet` at version 0,
    * checkpointed there. */
  private def checkpointedBaseTable(): String = {
    val dest = Files.createTempDirectory("graft_dl_ckrp").toString
    val tmp = Files.createTempDirectory("graft_dl_ckrp_f").toString
    (0L until 10L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dest, "fa.parquet"))
    writeLog(dest, 0L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""",
      """{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":10}"}}""")
    assert(DeltaInterchange.checkpoint(spark, dest) == 0L)
    dest
  }

  test("a deletion vector added after the checkpoint masks its rows") {
    val dest = checkpointedBaseTable()
    val (pod, sz, card) = DeltaReaderFeatures.inlineDv(Seq(1L, 3L, 5L))
    writeLog(dest, 1L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      """{"add":{"path":"fa.parquet","partitionValues":{},"size":1,""" +
        """"modificationTime":0,"dataChange":true,"stats":"{\"numRecords\":10}",""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"$pod",""" +
        s""""sizeInBytes":$sz,"cardinality":$card}}}""")
    DeltaInterchange.cleanupLog(dest)
    val snap = DeltaInterchange.readLog(spark, dest)
    assert(snap.fileDvs.size == 1)
    assert(snap.numRecords == 7L, "numRecords is the DV-masked count")
    val got = DeltaInterchange.importDelta(spark, dest)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 2L, 4L, 6L, 7L, 8L, 9L),
      s"rows 1, 3 and 5 are masked by the post-checkpoint DV — got $got")
  }

  test("an unknown reader feature after the checkpoint refuses") {
    val dest = checkpointedBaseTable()
    writeLog(dest, 1L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["typeWidening-preview"]}}""")
    val e = intercept[IllegalArgumentException](DeltaInterchange.readLog(spark, dest))
    assert(e.getMessage.contains("typeWidening-preview"), e.getMessage)
    intercept[IllegalArgumentException](DeltaInterchange.importDelta(spark, dest))
  }
}
