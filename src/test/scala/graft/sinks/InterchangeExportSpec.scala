package graft.sinks

import graft.SparkTestBase
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** An export is the mirror's first commit, in every interchange format: a
  * `mirror` call after an export continues it, and the destination then
  * reads back exactly the lakehouse state — the same rows a mirror written
  * from scratch reads back. Each format runs an unpartitioned primary-key
  * table and one partitioned by a string column. */
class InterchangeExportSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private final case class Format(name: String,
      export: (LakehouseTable, String) => Unit,
      mirror: (LakehouseTable, String) => Int,
      read: String => DataFrame)

  private def formats = Seq(
    Format("Delta", DeltaInterchange.export(spark, _, _),
      DeltaInterchange.mirror(spark, _, _), DeltaInterchange.importDelta(spark, _)),
    Format("Iceberg", IcebergInterchange.export(spark, _, _),
      IcebergInterchange.mirror(spark, _, _), IcebergInterchange.importIceberg(spark, _)),
    Format("Paimon", PaimonInterchange.export(spark, _, _),
      PaimonInterchange.mirror(spark, _, _), PaimonInterchange.importPaimon(spark, _)))

  private val struct = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("v", StringType)))

  private def newTable(partitioned: Boolean): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_ix_src").toString)
    t.create(
      if (partitioned) TableSchema(struct, primaryKeys = Seq("lang", "id"),
        partitionKeys = Seq("lang"))
      else TableSchema(struct, primaryKeys = Seq("id")),
      buckets = 4)
    t
  }

  /** Upsert `rows`, deleting nothing. */
  private def merge(t: LakehouseTable, rows: Seq[(Long, String, String)]): Unit = {
    val upserts = rows.toDF("id", "lang", "v")
    t.merge(upserts, upserts.select(t.snapshot().schema.primaryKeys.map(col): _*)
      .where(lit(false)))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val aligned = got.select(want.columns.map(col).toSeq: _*)
    assert(aligned.exceptAll(want).isEmpty && want.exceptAll(aligned).isEmpty,
      s"$what:\n got ${aligned.collect().map(_.toString).sorted.mkString(" ")}" +
        s"\nwant ${want.collect().map(_.toString).sorted.mkString(" ")}")
  }

  for (partitioned <- Seq(false, true); f <- formats) {
    val layout = if (partitioned) "partitioned by a string column" else "unpartitioned"
    test(s"${f.name} $layout: export, merge, mirror reads back the table") {
      val t = newTable(partitioned)
      merge(t, (1L to 8L).map(i => (i, if (i % 2 == 0) "en" else "de", s"a$i")))
      val exported = Files.createTempDirectory("graft_ix_exp").toString
      f.export(t, exported)
      // an update rewrites buckets the export wrote; a new key and a new
      // partition value add files
      merge(t, Seq((2L, "en", "b2"), (3L, "de", "b3"), (9L, "fr", "b9")))
      assert(f.mirror(t, exported) == 1, "the mirror continues the export")
      val want = t.read()
      val back = f.read(exported)
      assertSameRows(back, want, "export + mirror vs the table")
      val fresh = Files.createTempDirectory("graft_ix_mir").toString
      f.mirror(t, fresh)
      assertSameRows(back, f.read(fresh), "export + mirror vs a from-scratch mirror")
    }
  }
}
