package graft.sinks

import graft.SparkTestBase
import graft.SparkTestBase.drainListenerBus
import graft.core._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A rival commit that lands once, between a writer's snapshot and its claim.
  * Staging functions reach it through [[LostClaim.passThrough]], a UDF over
  * the writer's input (it runs inside the writer's own Spark job, so the
  * rival lands before the claim without any timing), or through a
  * job-start listener for writers whose input is the table itself. */
object LostClaim {
  @volatile private var rival: () => Unit = () => ()
  @volatile private var landed = false
  private val pending = new java.util.concurrent.atomic.AtomicBoolean(false)

  def arm(r: () => Unit): Unit = { rival = r; landed = false; pending.set(true) }
  def disarm(): Unit = pending.set(false)
  def fire(): Unit = if (pending.compareAndSet(true, false)) { rival(); landed = true }
  /** The armed rival ran (a disarmed, never-fired rival does not count). */
  def fired: Boolean = landed

  val passThrough = udf { (s: String) => fire(); s }.asNondeterministic()
  val passThroughKey = udf { (k: Long) => fire(); k }.asNondeterministic()
}

/** The optimistic-commit protocol of [[LakehouseTable]] under a LOST claim:
  * a rival commit is injected after the writer's snapshot, so the writer's
  * first claim of `version + 1` fails and its conflict rule decides between
  * re-claiming with the files it already wrote and staging again (the
  * abandoned commit directory deleted). */
class LakehouseLostClaimSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val pkSchema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def table(schema: TableSchema, buckets: Int,
      deletionVectors: Boolean = false): LakehouseTable = {
    val t = new LakehouseTable(spark, Files.createTempDirectory("graft_lost_claim").toString)
    t.create(schema, buckets, deletionVectors = deletionVectors)
    t
  }

  private def noKeys(t: LakehouseTable) = t.read().limit(0).select($"k")

  private def rows(t: LakehouseTable): Seq[(Long, String)] =
    t.read().select($"k", $"v").as[(Long, String)].collect().toSeq.sortBy(_._1)

  /** Commit directories (`data-…`, `compact-…`, …) under the table root. */
  private def commitDirs(t: LakehouseTable): Set[String] =
    Files.list(Paths.get(t.dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && Files.isDirectory(Paths.get(t.dir, n)))
      .toSet

  /** The commit directories `body` staged under `t`, in write order. */
  private def staged(t: LakehouseTable)(body: => Unit): Seq[String] = {
    val root = Paths.get(t.dir).toUri.getPath.stripSuffix("/")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
          .filter(_.getParent.toUri.getPath.stripSuffix("/") == root)
          .foreach(p => out.add(p.getName))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus()
    spark.listenerManager.register(listener)
    try { body; drainListenerBus() }
    finally { spark.listenerManager.unregister(listener); LostClaim.disarm() }
    out.asScala.toSeq.distinct
  }

  /** Fire the armed rival at the first Spark job `body` starts. */
  private def onFirstJob(body: => Unit): Unit = {
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = LostClaim.fire()
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try body finally spark.sparkContext.removeSparkListener(listener)
  }

  private def txnRival(t: LakehouseTable, run: String = "rival", batch: Long = 1L): () => Unit =
    () => t.commit(Seq(LakehouseFormat.Txn(run, batch)))

  /** The writer re-claimed with its first staging: one staged directory,
    * kept, holding every file the writer committed one version past the
    * rival's. */
  private def assertReclaimed(t: LakehouseTable, v: Long, before: Set[String],
      dirs: Seq[String]): Unit = {
    assert(LostClaim.fired, "the rival commit never landed")
    assert(dirs.size == 1, s"a re-claim writes once: $dirs")
    assert(commitDirs(t) == before + dirs.head)
    assert(t.latestVersion() == v + 2)
    val ours = t.history().collect { case (ver, a: LakehouseFormat.AddFile) if ver == v + 2 => a }
    assert(ours.nonEmpty && ours.forall(_.path.startsWith(dirs.head + "/")))
  }

  /** The writer staged again: its first directory is deleted, the second
    * holds what it committed one version past the rival's. */
  private def assertRestaged(t: LakehouseTable, v: Long, before: Set[String],
      dirs: Seq[String]): Unit = {
    assert(LostClaim.fired, "the rival commit never landed")
    assert(dirs.size == 2, s"a conflict stages twice: $dirs")
    assert(!Files.exists(Paths.get(t.dir, dirs.head)), s"abandoned ${dirs.head} not deleted")
    assert(commitDirs(t) == before + dirs(1))
    assert(t.latestVersion() == v + 2)
    // a file re-added with a deletion vector keeps its path; its vector is ours
    val ours = t.history().collect {
      case (ver, a: LakehouseFormat.AddFile) if ver == v + 2 =>
        a.dv.fold(a.path)(_.path)
      case (ver, d: LakehouseFormat.EqualityDeleteFile) if ver == v + 2 => d.path
    }
    assert(ours.nonEmpty && ours.forall(_.startsWith(dirs(1) + "/")))
  }

  /** Run `rival` now, then hold its commit's log line back: the returned
    * rival puts it in place, so the commit lands between a later writer's
    * snapshot and its claim. Its files stay where they were written. */
  private def heldBack(t: LakehouseTable)(rival: => Unit): () => Unit = {
    val line = Paths.get(t.dir, "_log", f"${t.latestVersion() + 1}%020d.json")
    rival
    val held = Files.createTempFile("graft_rival", ".json")
    Files.move(line, held, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    () => Files.move(held, line)
  }

  /** A 40-key deletion-vector table, and a second key in key 1's file. */
  private def dvTableWithMate(): (LakehouseTable, Long) = {
    val t = table(pkSchema, buckets = 4, deletionVectors = true)
    t.merge((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    (t, (2L until 40L).find(bucketOf(_) == bucketOf(1L)).get)
  }

  private def mergeKeyOne(t: LakehouseTable): Unit =
    t.merge(Seq((1L, "x")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")),
      noKeys(t))

  test("merge: a rival commit outside the touched buckets is re-claimed without rewriting") {
    val t = table(pkSchema, buckets = 4)
    t.merge((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    val other = t.snapshot().files.find(_.bucket != bucketOf(1L)).get
    val gone = spark.read.parquet(Paths.get(t.dir, other.path).toString)
      .select($"k").as[Long].collect().toSet
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(() => t.commit(Seq(LakehouseFormat.RemoveFile(other.path))))
    val dirs = staged(t)(t.merge(
      Seq((1L, "x")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")), noKeys(t)))
    assertReclaimed(t, v, before, dirs)
    assert(rows(t) == (0L until 40L).filterNot(gone).map(i => i -> (if (i == 1L) "x" else s"v$i")))
  }

  test("merge: a rival commit to a touched bucket makes it stage again on the new state") {
    val t = table(pkSchema, buckets = 4)
    t.merge((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    val hit = t.snapshot().files.filter(_.bucket == bucketOf(1L))
    val gone = hit.flatMap(f => spark.read.parquet(Paths.get(t.dir, f.path).toString)
      .select($"k").as[Long].collect()).toSet
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(() => t.commit(hit.map(f => LakehouseFormat.RemoveFile(f.path))))
    val dirs = staged(t)(t.merge(
      Seq((1L, "x")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")), noKeys(t)))
    assertRestaged(t, v, before, dirs)
    // the re-staged merge rewrote the bucket the rival emptied: only our row
    assert(rows(t) ==
      ((0L until 40L).filterNot(gone).map(i => i -> s"v$i") :+ (1L -> "x")).sortBy(_._1))
  }

  test("merge: a rival equality-delete commit makes it stage again, the delete applied") {
    val t = table(pkSchema, buckets = 4)
    t.merge((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    val delDir = Paths.get(t.dir, "eqdel-rival")
    Seq(Tuple1(7L)).toDF("k").coalesce(1).write.parquet(delDir.toString)
    val delFile = Files.list(delDir).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val rel = Paths.get(t.dir).relativize(delFile).toString
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(() => t.commit(Seq(LakehouseFormat.EqualityDeleteFile(rel, v + 1))))
    val dirs = staged(t)(t.merge(
      Seq((1L, "x")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")), noKeys(t)))
    assertRestaged(t, v, before, dirs)
    assert(rows(t) ==
      (0L until 40L).filter(_ != 7L).map(i => i -> (if (i == 1L) "x" else s"v$i")))
  }

  test("append: a rival commit that leaves the meta alone is re-claimed without rewriting") {
    val t = table(pkSchema.copy(primaryKeys = Seq.empty), buckets = 2)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val dirs = staged(t)(t.append(
      Seq((2L, "b"), (3L, "c")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v"))))
    assertReclaimed(t, v, before, dirs)
    assert(t.snapshot().txns == Map("rival" -> 1L))
    assert(rows(t) == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("append: a rival schema change makes it stage again under the new meta") {
    val t = table(pkSchema.copy(primaryKeys = Seq.empty), buckets = 2)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val v = t.latestVersion(); val before = commitDirs(t)
    val evolved = TableSchema(StructType(pkSchema.struct.fields :+
      StructField("extra", IntegerType)), primaryKeys = Seq.empty)
    LostClaim.arm(() => t.updateMeta(evolved))
    val dirs = staged(t)(t.append(
      Seq((2L, "b")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v"))))
    assertRestaged(t, v, before, dirs)
    assert(t.snapshot().schema.columnNames == Seq("k", "v", "extra"))
    assert(rows(t) == Seq(1L -> "a", 2L -> "b"))
    assert(t.read().filter($"extra".isNull).count() == 2)
  }

  test("append overwrite: any rival commit makes it stage again against the new files") {
    val t = table(pkSchema.copy(primaryKeys = Seq.empty), buckets = 2)
    t.append((0L until 5L).map(i => (i, s"old$i")).toDF("k", "v"))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val dirs = staged(t)(t.append(
      Seq((9L, "new")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")),
      overwrite = true))
    assertRestaged(t, v, before, dirs)
    assert(rows(t) == Seq(9L -> "new"))
  }

  test("deleteWhere: any rival commit makes it stage its delete file again") {
    val t = table(pkSchema, buckets = 2)
    t.merge((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val keys = Seq(3L, 4L).toDF("k").withColumn("k", LostClaim.passThroughKey($"k"))
    val dirs = staged(t)(t.deleteWhere(keys))
    assertRestaged(t, v, before, dirs)
    assert(rows(t) == (0L until 10L).filterNot(Set(3L, 4L)).map(i => i -> s"v$i"))
  }

  test("compact: any rival commit makes it stage the rewrite again") {
    val t = table(pkSchema.copy(primaryKeys = Seq.empty), buckets = 2)
    (0 until 3).foreach(i => t.append((10L * i until 10L * i + 5).map(k => (k, s"v$k")).toDF("k", "v")))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val dirs = staged(t)(onFirstJob(t.compact()))
    assertRestaged(t, v, before, dirs)
    assert(t.snapshot().files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(rows(t) == (0 until 3).flatMap(i => (10L * i until 10L * i + 5).map(k => k -> s"v$k")))
  }

  test("zorderCompact: any rival commit makes it stage the rewrite again") {
    val schema = TableSchema(StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))), primaryKeys = Seq.empty)
    val t = table(schema, buckets = 2)
    t.append((0L until 20L).map(i => (i, 19L - i)).toDF("x", "y"))
    t.append((20L until 40L).map(i => (i, i % 7)).toDF("x", "y"))
    val expected = t.read().as[(Long, Long)].collect().sorted.toSeq
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val dirs = staged(t)(onFirstJob(t.zorderCompact(Seq("x", "y"), targetFiles = 4)))
    assertRestaged(t, v, before, dirs)
    assert(t.read().as[(Long, Long)].collect().sorted.toSeq == expected)
  }

  test("rescaleBuckets: any rival commit makes it stage the rewrite again") {
    val t = table(pkSchema, buckets = 2)
    t.merge((0L until 30L).map(i => (i, s"v$i")).toDF("k", "v"), noKeys(t))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t))
    val dirs = staged(t)(onFirstJob(t.rescaleBuckets(8)))
    assertRestaged(t, v, before, dirs)
    assert(t.snapshot().buckets == 8)
    assert(rows(t) == (0L until 30L).map(i => i -> s"v$i"))
  }

  test("append: a rival that records the same batch id first leaves nothing to commit") {
    val t = table(pkSchema.copy(primaryKeys = Seq.empty), buckets = 2)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t, "run", 5L))
    val dirs = staged(t)(t.append(
      Seq((2L, "b")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")),
      txn = Some(("run", 5L))))
    assert(LostClaim.fired, "the rival commit never landed")
    assert(t.latestVersion() == v + 1, "batch (run, 5) was committed twice")
    assert(rows(t) == Seq(1L -> "a"))
    assert(dirs.size == 1 && commitDirs(t) == before, "the abandoned staging is deleted")
  }

  test("merge: a rival that records the same batch id first leaves nothing to commit") {
    val t = table(pkSchema, buckets = 2)
    t.merge(Seq((1L, "a")).toDF("k", "v"), noKeys(t))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(txnRival(t, "run", 5L))
    val dirs = staged(t)(t.merge(
      Seq((1L, "b")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")), noKeys(t),
      txn = Some(("run", 5L))))
    assert(LostClaim.fired, "the rival commit never landed")
    assert(t.latestVersion() == v + 1, "batch (run, 5) was committed twice")
    assert(rows(t) == Seq(1L -> "a"))
    assert(dirs.size == 1 && commitDirs(t) == before, "the abandoned staging is deleted")
  }

  test("merge with deletion vectors: a rival DV merge of the same file makes it stage again") {
    val (t, mate) = dvTableWithMate()
    val rival = heldBack(t)(t.merge(Seq((mate, "rival")).toDF("k", "v"), noKeys(t)))
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(rival)
    val dirs = staged(t)(mergeKeyOne(t))
    assertRestaged(t, v, before, dirs)
    // the re-staged vector holds the rival's position too: neither old row
    // comes back
    assert(rows(t) == (0L until 40L).map(i =>
      i -> (if (i == 1L) "x" else if (i == mate) "rival" else s"v$i")))
  }

  test("merge with deletion vectors: a rival copy-on-write merge of the bucket makes it stage again") {
    val (t, mate) = dvTableWithMate()
    val file = t.snapshot().files.find(_.bucket == bucketOf(1L)).get
    // what a copy-on-write merge of `mate` commits: the bucket's file
    // rewritten without mate's old row and with its new one
    val rewritten = Paths.get(t.dir, "data-rival")
    spark.read.parquet(Paths.get(t.dir, file.path).toString).filter($"k" =!= mate)
      .unionByName(Seq((mate, "rival")).toDF("k", "v")).coalesce(1)
      .write.parquet(rewritten.toString)
    val rel = Paths.get(t.dir).relativize(Files.list(rewritten).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get).toString
    val v = t.latestVersion(); val before = commitDirs(t)
    LostClaim.arm(() => t.commit(Seq(LakehouseFormat.RemoveFile(file.path),
      LakehouseFormat.AddFile(rel, file.bucket, -1L, ver = v + 1))))
    val dirs = staged(t)(mergeKeyOne(t))
    assertRestaged(t, v, before, dirs)
    assert(rows(t) == (0L until 40L).map(i =>
      i -> (if (i == 1L) "x" else if (i == mate) "rival" else s"v$i")))
  }

  test("merge with deletion vectors: a staged commit whose claim never lands changes no read") {
    val (t, _) = dvTableWithMate()
    val v = t.latestVersion()
    val rowsBefore = rows(t)
    // a crashed writer: its data and sidecar are written, no log line is
    t.merge(Seq((1L, "lost")).toDF("k", "v"), Seq(2L).toDF("k"))
    val adds = t.history().collect { case (ver, a: LakehouseFormat.AddFile) if ver == v + 1 => a }
    val stagedDir = adds.flatMap(_.dv).head.path.takeWhile(_ != '/')
    val stagedFiles = (adds.map(_.path) ++ adds.flatMap(_.dv).map(_.path))
      .filter(_.startsWith(stagedDir + "/")).distinct
    assert(stagedFiles.exists(_.endsWith(".bin")) && stagedFiles.exists(_.endsWith(".parquet")))
    Files.delete(Paths.get(t.dir, "_log", f"${v + 1}%020d.json"))
    assert(t.latestVersion() == v && rows(t) == rowsBefore)
    assert(stagedFiles.toSet.subsetOf(t.vacuum(retentionMs = 0L).toSet))
    assert(stagedFiles.forall(p => !Files.exists(Paths.get(t.dir, p))))
    assert(rows(t) == rowsBefore)
  }

  private def bucketOf(k: Long): Int =
    Seq(Tuple1(k)).toDF("k").select(pmod(hash($"k"), lit(4))).as[Int].head()
}
