package graft.sinks

import graft.SparkTestBase
import graft.core._
import graft.sinks.LakehouseFormat.{AddFile, ChangeFile, EqualityDeleteFile, Txn}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Golden parity of the three incremental mirrors: one fixed lakehouse
  * commit sequence is mirrored into Delta, Iceberg and Paimon twice — once
  * after every commit, once at the end — and a canonical dump of every
  * destination must equal the committed one under
  * `src/test/resources/interchange-golden/`. The pk and partitioned tables
  * also pin the export's shape: an export partway through the sequence,
  * continued by a mirror of the commits after it. An export of files from
  * several lakehouse commits lists them in commit order, so two tables
  * built the same way export the same dump (the last test pins it).
  *
  * The dump is the destination's file listing plus each file's content:
  * log / metadata / snapshot text byte-for-byte, Avro files as their
  * header metadata and decoded records (their sync markers are random),
  * parquet as sorted rows. Random names are canonicalized: the temp root
  * becomes `$ROOT`, each lakehouse commit directory (`data-<uuid>`,
  * `eqdel-<uuid>`) becomes `<kind>-L<version that added it>`, and Spark's
  * per-job part-file UUID becomes `J`.
  *
  * To recapture after a deliberate wire change, run with
  * `GRAFT_GOLDEN_RECAPTURE=1`: the dumps are written to the resource
  * directory instead of compared. */
class InterchangeGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val goldenDir = Paths.get("src/test/resources/interchange-golden")
  private val recapture = sys.env.get("GRAFT_GOLDEN_RECAPTURE").contains("1")

  private val commitDir = "(data|eqdel|compact)-([0-9a-f]{8}-[0-9a-f]{3})".r
  private val jobUuid =
    "(part-\\d{5}-)[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private val noKeys = spark.range(0).select($"id".as("k"))

  /** One mirror target: a format's mirror (and export) function into its
    * own directory. */
  private final case class Target(name: String, dir: Path,
      mirror: (LakehouseTable, String) => Int,
      export: (LakehouseTable, String) => Unit) {
    val calls = scala.collection.mutable.Buffer.empty[String]
    def sync(t: LakehouseTable): Unit = calls += mirror(t, dir.toString).toString
    /** Seed the directory with an export, which a later sync continues. */
    def exportTo(t: LakehouseTable): Unit = { export(t, dir.toString); calls += "export" }
  }

  private def targets(root: Path, kind: String, formats: Seq[String],
      mode: String): Seq[Target] = formats.map { f =>
    val format = f match {
      case "delta" => DeltaInterchange.MirrorFormat
      case "iceberg" => IcebergInterchange.MirrorFormat
      case "paimon" => PaimonInterchange.MirrorFormat
    }
    Target(s"$kind-$f-$mode", root.resolve(s"$kind-$f-$mode"),
      format.mirror(spark, _, _), format.export(spark, _, _))
  }

  private def isAvro(p: Path): Boolean = {
    val in = Files.newInputStream(p)
    try java.util.Arrays.equals(in.readNBytes(4), "Obj\u0001".getBytes(UTF_8))
    finally in.close()
  }

  /** Canonical text of one mirror destination. */
  private def dump(root: Path, table: LakehouseTable, target: Target): String = {
    // each lakehouse commit directory -> the version whose log added it
    val dirTokens = scala.collection.mutable.LinkedHashMap.empty[String, String]
    table.history().foreach { case (v, a) =>
      val p = a match {
        case f: AddFile => Some(f.path)
        case f: EqualityDeleteFile => Some(f.path)
        case ChangeFile(path) => Some(path)
        case _ => None
      }
      p.flatMap(commitDir.findFirstMatchIn).foreach { m =>
        dirTokens.getOrElseUpdate(m.matched, s"${m.group(1)}-L$v")
      }
    }
    def canon(s: String): String = {
      val rooted = s.replace(root.toAbsolutePath.toString, "$ROOT")
      val named = commitDir.replaceAllIn(rooted, m =>
        java.util.regex.Matcher.quoteReplacement(
          dirTokens.getOrElse(m.matched, s"${m.group(1)}-UNMAPPED")))
      jobUuid.replaceAllIn(named, "$1J")
    }
    val files = Files.walk(target.dir).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
      .map(p => canon(target.dir.relativize(p).toString) -> p)
      .sortBy(_._1)
    val out = new StringBuilder
    out ++= s"# ${target.name}: mirror calls wrote ${target.calls.mkString(",")}\n"
    files.foreach { case (name, p) =>
      out ++= s"== $name\n"
      if (isAvro(p)) {
        val reader = new DataFileReader[GenericRecord](p.toFile,
          new GenericDatumReader[GenericRecord]())
        try {
          reader.getMetaKeys.asScala.toSeq.sorted.foreach { k =>
            out ++= s"meta $k=${canon(reader.getMetaString(k))}\n"
          }
          reader.iterator().asScala.foreach(r => out ++= canon(r.toString) += '\n')
        } finally reader.close()
      } else if (name.endsWith(".parquet")) {
        val df = spark.read.parquet(p.toString)
        out ++= s"schema ${df.schema.simpleString}\n"
        df.collect().map(r => canon(r.toString)).sorted.foreach(r => out ++= r += '\n')
      } else if (name.endsWith(".crc")) {
        out ++= "(checksum)\n"
      } else {
        out ++= canon(new String(Files.readAllBytes(p), UTF_8))
        out ++= "\n"
      }
    }
    out.toString
  }

  private def check(root: Path, table: LakehouseTable, ts: Seq[Target]): Unit = {
    val mismatched = ts.flatMap { t =>
      val got = dump(root, table, t)
      val file = goldenDir.resolve(s"${t.name}.txt")
      if (recapture) {
        Files.createDirectories(goldenDir)
        Files.write(file, got.getBytes(UTF_8))
        None
      } else {
        val want = Option(getClass.getResourceAsStream(
          s"/interchange-golden/${t.name}.txt"))
          .map(in => try new String(in.readAllBytes(), UTF_8) finally in.close())
        if (want.contains(got)) None
        else {
          val firstDiff = want.map { w =>
            val wl = w.linesIterator.toSeq
            val gl = got.linesIterator.toSeq
            val i = wl.zipAll(gl, "<eof>", "<eof>").indexWhere { case (a, b) => a != b }
            s"line ${i + 1}: want [${wl.lift(i).getOrElse("<eof>")}] " +
              s"got [${gl.lift(i).getOrElse("<eof>")}]"
          }.getOrElse("no golden file")
          Some(s"${t.name}: $firstDiff")
        }
      }
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }

  /** A fresh root of FIXED path length: Iceberg manifests embed absolute
    * paths, so their byte lengths (which the manifest list records) move
    * with the root's length. */
  private def withRoot[A](body: Path => A): A = {
    val root = Paths.get("/tmp", "graft-golden-" +
      f"${scala.util.Random.nextLong() & 0xffffffffL}%08x")
    Files.createDirectories(root)
    val out = body(root)
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    out
  }

  test("pk table: insert, COW update, ADD COLUMN, txn-only commits, MOR delete") {
    withRoot { root =>
      val t = new LakehouseTable(spark, root.resolve("lh").toString)
      val step = targets(root, "pk", Seq("delta", "iceberg", "paimon"), "step")
      val end = targets(root, "pk", Seq("delta", "iceberg", "paimon"), "end")
      val Seq(deltaEnd, icebergEnd, paimonEnd) = end
      val exported = targets(root, "pk", Seq("delta", "iceberg", "paimon"), "export")
      val (deltaExported, morExported) = exported.partition(_.name.contains("delta"))
      def commit(stepTargets: Seq[Target])(body: => Unit): Unit = {
        body
        stepTargets.foreach(_.sync(t))
      }
      val base = StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType)))
      commit(step)(t.create(TableSchema(base, primaryKeys = Seq("k")), buckets = 2))
      commit(step)(t.merge((1L to 6L).toDF("k")
        .select($"k", concat(lit("a"), $"k").as("v")), noKeys))
      commit(step)(t.merge((1L to 6L).toDF("k")
        .select($"k", concat(lit("b"), $"k").as("v")), noKeys))
      exported.foreach(_.exportTo(t))
      val evolved = StructType(base.fields :+ StructField("extra", LongType))
      commit(step)(t.updateMeta(TableSchema(evolved, primaryKeys = Seq("k"))))
      commit(step)(t.merge(Seq((7L, "c7", 70L)).toDF("k", "v", "extra"), noKeys,
        txn = Some(("app-g", 1L))))
      // a txn-only commit, then one that changes nothing at all (the same
      // txn again): no data files either way
      commit(step)(t.commit(Seq(Txn("app-h", 5L))))
      commit(step)(t.commit(Seq(Txn("app-h", 5L))))
      deltaEnd.sync(t)
      deltaExported.foreach(_.sync(t))
      // Delta has no equality deletes: only Iceberg and Paimon mirror MOR
      commit(step.filterNot(_.name.contains("delta")))(t.deleteWhere(Seq(2L).toDF("k")))
      icebergEnd.sync(t)
      paimonEnd.sync(t)
      morExported.foreach(_.sync(t))
      check(root, t, step ++ end ++ exported)
    }
  }

  test("changelog table: change files forward as Delta cdc and Paimon changelog") {
    withRoot { root =>
      val t = new LakehouseTable(spark, root.resolve("lh").toString)
      val step = targets(root, "changelog", Seq("delta", "paimon"), "step")
      val end = targets(root, "changelog", Seq("delta", "paimon"), "end")
      def commit(body: => Unit): Unit = { body; step.foreach(_.sync(t)) }
      commit(t.create(TableSchema(StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))), primaryKeys = Seq("k")),
        buckets = 2, changelog = true))
      commit(t.merge((1L to 4L).toDF("k")
        .select($"k", concat(lit("a"), $"k").as("v")), noKeys))
      commit(t.merge(Seq((1L, "b1")).toDF("k", "v"), Seq(2L).toDF("k")))
      commit(t.merge(Seq((5L, "a5")).toDF("k", "v"), noKeys))
      end.foreach(_.sync(t))
      check(root, t, step ++ end)
    }
  }

  test("partitioned table: split adds and bucket-mapped removals") {
    withRoot { root =>
      val t = new LakehouseTable(spark, root.resolve("lh").toString)
      val step = targets(root, "partitioned", Seq("delta", "iceberg", "paimon"), "step")
      val end = targets(root, "partitioned", Seq("delta", "iceberg", "paimon"), "end")
      val exported = targets(root, "partitioned", Seq("delta", "iceberg", "paimon"), "export")
      def commit(body: => Unit): Unit = { body; step.foreach(_.sync(t)) }
      commit(t.create(TableSchema(StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
        primaryKeys = Seq("dt", "k"), partitionKeys = Seq("dt")), buckets = 2))
      commit(t.merge(Seq(("d1", 1L, "a"), ("d1", 2L, "a"), ("d2", 3L, "a"),
        ("d2", 4L, "a")).toDF("dt", "k", "v"), spark.range(0)
        .select(lit("x").as("dt"), $"id".as("k"))))
      exported.foreach(_.exportTo(t))
      commit(t.merge(Seq(("d1", 1L, "b"), ("d2", 4L, "b"), ("d3", 5L, "b"))
        .toDF("dt", "k", "v"), spark.range(0).select(lit("x").as("dt"), $"id".as("k"))))
      end.foreach(_.sync(t))
      exported.foreach(_.sync(t))
      check(root, t, step ++ end ++ exported)
    }
  }

  test("an export lists the files of several commits in commit order") {
    // one bucket, six appends of one key each: every live file comes from
    // its own commit, and the Paimon export tracks all six in one list
    def exportDumps(): Seq[String] = withRoot { root =>
      val t = new LakehouseTable(spark, root.resolve("lh").toString)
      t.create(TableSchema(StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType))), primaryKeys = Seq("k")), buckets = 1)
      (1L to 6L).foreach(k => t.append(Seq((k, s"a$k")).toDF("k", "v")))
      val exported = targets(root, "order", Seq("delta", "iceberg", "paimon"), "export")
      exported.foreach(_.exportTo(t))
      exported.map(dump(root, t, _))
    }
    def versions(s: String): Seq[Long] =
      "data-L(\\d+)".r.findAllMatchIn(s).map(_.group(1).toLong).toSeq
    val dumps = exportDumps()
    val Seq(delta, iceberg, paimon) = dumps.map(_.linesIterator.toSeq)
    val lists = Map(
      "Delta add actions" -> Seq(delta.filter(_.startsWith("{\"add\"")).flatMap(versions)),
      "Iceberg manifest entries" -> Seq(iceberg.filter(_.startsWith("{\"status\"")).flatMap(versions)),
      "Paimon source lists" -> paimon.filter(_.startsWith("{\"data-"))
        .flatMap(l => "\\[[^\\]]*\\]".r.findAllIn(l).map(versions)))
    lists.foreach { case (what, ls) =>
      assert(ls.exists(_.distinct.size == 6), s"$what name fewer than six commits: $ls")
      ls.foreach(l => assert(l == l.sorted, s"$what out of commit order: $l"))
    }
    assert(exportDumps() == dumps, "two tables built the same way export different dumps")
  }
}
