package graft.sinks

import graft.SparkTestBase
import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class LakehouseSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val schema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))),
    primaryKeys = Seq("k"))

  private def newTable(buckets: Int = 4): LakehouseTable = {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(schema, buckets)
    t
  }

  private def empty(t: LakehouseTable) =
    t.read().limit(0).select($"k")

  test("append mode: PK-less table, fragmentation, compaction is data-identical") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    val appendSchema = TableSchema(schema.struct, primaryKeys = Seq.empty)
    t.create(appendSchema, buckets = 4)
    // merge is refused on a PK-less table
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "a")).toDF("k", "v"), empty(t))
    }
    // five appends fragment the buckets (one file per touched bucket per commit)
    (0 until 5).foreach { i =>
      t.append((i * 20L until i * 20L + 20L).map(j => (j, s"v$j")).toDF("k", "v"))
    }
    assert(t.read().count() == 100)
    val before = t.snapshot()
    assert(before.files.groupBy(_.bucket).values.exists(_.size > 1))

    val (nBefore, nAfter) = t.compact()
    assert(nBefore > nAfter && nAfter > 0)
    val after = t.snapshot()
    // exactly one file per bucket now, same rows, and time travel still sees
    // the fragmented layout
    assert(after.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(t.read().orderBy($"k").as[(Long, String)].collect().toSeq ==
      (0L until 100L).map(j => (j, s"v$j")))
    assert(t.snapshot(Some(before.version)).files.map(_.path).toSet ==
      before.files.map(_.path).toSet)
    // a second compact is a no-op
    assert(t.compact() == ((0, 0)))
    // replayed append batch (same txn) is skipped
    t.append(Seq((999L, "dup")).toDF("k", "v"), txn = Some(("run", 3L)))
    t.append(Seq((999L, "dup")).toDF("k", "v"), txn = Some(("run", 3L)))
    assert(t.read().filter($"k" === 999L).count() == 1)
  }

  test("zone maps: per-file stats collected, point reads prune files, results exact") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 2)
    // three append commits with DISJOINT key ranges: zone maps separate them
    // even though every commit hits both buckets
    t.append((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.append((100L until 140L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.append((200L until 240L).map(i => (i, s"v$i")).toDF("k", "v"))
    val snap = t.snapshot()
    assert(snap.files.forall(f => f.stats.contains("k") && f.stats.contains("v")))

    // point lookup: only the middle commit's files survive pruning
    val pruned = t.prunedFiles("k", 120L)
    assert(pruned.nonEmpty && pruned.size < snap.files.size,
      s"expected pruning, got ${pruned.size}/${snap.files.size}")
    assert(pruned.forall(f =>
      f.stats("k").min.toLong <= 120L && 120L <= f.stats("k").max.toLong))
    // and the pruned read returns exactly the unpruned answer
    assert(t.readWhere("k", 120L).as[(Long, String)].collect().toSeq ==
      Seq((120L, "v120")))
    assert(t.readWhere("k", 999L).isEmpty)
    // string zone maps prune too
    assert(t.prunedFiles("v", "v120").size < snap.files.size)

    // range predicates prune (pre-compaction: commits hold disjoint ranges)
    val mid = t.prunedFilesBetween("k", 110L, 130L)
    assert(mid.nonEmpty && mid.size < snap.files.size)
    assert(t.readBetween("k", 110L, 130L).select($"k").as[Long].collect().sorted.toSeq ==
      (110L to 130L))
    assert(t.readBetween("k", 300L, 400L).isEmpty)

    // compaction recomputes stats for the rewritten files
    t.compact()
    val after = t.snapshot()
    assert(after.files.forall(_.stats.contains("k")))
    assert(t.readWhere("k", 120L).count() == 1)

    // collectStats=false skips the stats scan; stat-less files never prune
    val dir2 = Files.createTempDirectory("graft_lake").toString
    val t2 = new LakehouseTable(spark, dir2, collectStats = false)
    t2.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 2)
    t2.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"))
    assert(t2.snapshot().files.forall(_.stats.isEmpty))
    assert(t2.prunedFiles("k", 5L).size == t2.snapshot().files.size)
    assert(t2.readWhere("k", 5L).count() == 1)
  }

  test("zone maps: timestamp probes render like the stats, boundary rows never lost") {
    // java.sql.Timestamp.toString yields '... 00:00:00.0' while the stats
    // (Spark cast-to-string) store '... 00:00:00'; lexicographic comparison of
    // the raw toString pruned files whose max EQUALS the probe — silently
    // dropping matching rows
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    val tsSchema = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("ts", TimestampType))),
      primaryKeys = Seq.empty)
    t.create(tsSchema, buckets = 1)
    val boundary = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    t.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2025-12-31 23:00:00")),
      (2L, boundary)).toDF("k", "ts"))
    t.append(Seq(
      (3L, java.sql.Timestamp.valueOf("2026-06-01 12:00:00"))).toDF("k", "ts"))
    // probe == file max: the file must survive pruning and the row come back
    assert(t.prunedFiles("ts", boundary).nonEmpty)
    assert(t.readWhere("ts", boundary).select($"k").as[Long].collect().toSeq == Seq(2L))
    // a pre-rendered string probe takes the string->timestamp->string path
    assert(t.readWhere("ts", "2026-01-01 00:00:00").count() == 1)
    // range ending exactly at a file max keeps the boundary row
    assert(t.readBetween("ts",
      java.sql.Timestamp.valueOf("2025-12-31 23:30:00"), boundary)
      .select($"k").as[Long].collect().toSeq == Seq(2L))
    // and disjoint probes still prune (the fix must not disable skipping)
    assert(t.prunedFiles("ts", java.sql.Timestamp.valueOf("2026-06-01 12:00:00")).size
      < t.snapshot().files.size)
  }

  test("bloom sidecars: point probes drop files zone maps cannot, results exact") {
    val s = TableSchema(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("fp", StringType))), primaryKeys = Seq.empty)
    // interleaved fingerprints: every file's [min,max] spans nearly the whole
    // fp space, so zone maps keep everything — only the bloom can prune
    def fp(i: Long) = f"${java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 17)}%016x"
    def fill(t: LakehouseTable): Unit = (0 until 4).foreach { c =>
      t.append((c.toLong until 400L by 4).map(j => (j, fp(j))).toDF("k", "fp"))
    }
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(s, buckets = 4, bloomColumns = Seq("fp"))
    fill(t)
    val snap = t.snapshot()
    assert(snap.files.forall(_.bloom))
    // a present probe keeps few files and reads exactly its row
    val present = fp(123L)
    assert(t.prunedFiles("fp", present).size < snap.files.size)
    assert(t.readWhere("fp", present).count() == 1)
    // an absent value inside the fp range: blooms prove definite-absent
    val absent = fp(99999L)
    assert(t.prunedFiles("fp", absent).isEmpty)
    // ... which zone maps alone cannot (same data, no bloom columns)
    val t2 = new LakehouseTable(spark, Files.createTempDirectory("graft_lake").toString)
    t2.create(s, buckets = 4)
    fill(t2)
    assert(t2.prunedFiles("fp", absent).size > t2.snapshot().files.size / 2)
    // compaction rewrites carry blooms; vacuum reclaims orphaned sidecars
    t.compact(maxFilesPerBucket = 1)
    assert(t.snapshot().files.forall(_.bloom))
    t.vacuum(retentionMs = 0)
    val idx = Paths.get(dir, "_index")
    val sidecars = Files.walk(idx).iterator()
    val live = Iterator.continually(sidecars).takeWhile(_.hasNext).map(_.next())
      .count(p => p.toString.endsWith(".bloom"))
    assert(live == t.snapshot().files.size)
    // a fresh handle (empty cache) reads sidecars from disk and still prunes
    val t3 = new LakehouseTable(spark, dir)
    assert(t3.prunedFiles("fp", absent).isEmpty)
    assert(t3.readWhere("fp", present).count() == 1)
  }

  test("z-order clustering: BOTH dimensions prune after the rewrite; data identical") {
    val s = TableSchema(StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false))), primaryKeys = Seq.empty)
    val dir = Files.createTempDirectory("graft_lake_z").toString
    val t = new LakehouseTable(spark, dir)
    t.create(s, buckets = 4)
    // a 64×64 grid appended in two halves split by PARITY: every pre-rewrite
    // file spans the full x and y domains, so neither dimension prunes
    (0 until 2).foreach { p =>
      t.append((0 until 4096).filter(_ % 2 == p)
        .map(i => (i.toLong % 64, i.toLong / 64)).toDF("x", "y"))
    }
    val preFiles = t.snapshot().files.size
    assert(t.prunedFilesBetween("x", 0L, 3L).size == preFiles)
    val before = t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val preVersion = t.latestVersion()

    val written = t.zorderCompact(Seq("x", "y"), targetFiles = 16)
    val files = t.snapshot().files.size
    assert(written == files && files > 4)
    // a 1/16-domain range on EITHER column touches at most half the tiles
    // (one tile column/row plus a boundary neighbour)
    val xPruned = t.prunedFilesBetween("x", 0L, 3L)
    val yPruned = t.prunedFilesBetween("y", 0L, 3L)
    assert(xPruned.size <= files / 2, s"x pruned ${xPruned.size} of $files")
    assert(yPruned.size <= files / 2, s"y pruned ${yPruned.size} of $files")
    // data-identical, and time travel still replays the old file set
    assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(before))
    assert(t.read(Some(preVersion)).count() == 4096)
    // PK tables refuse: the hash-bucket layout is load-bearing for merge
    val tpk = newTable()
    tpk.merge(Seq((1L, "a")).toDF("k", "v"), empty(tpk))
    intercept[IllegalArgumentException] { tpk.zorderCompact(Seq("k", "k")) }
  }

  test("readChangesSince: expired unconsumed commits fail loudly, not NoSuchFile") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 2)
    val cursor = t.latestVersion()
    (0 until 6).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    t.expireSnapshots(keepLast = 2)
    // the stale cursor's commits are gone: a clear error naming the basis,
    // not a raw filesystem exception and not silently-empty changes
    val e = intercept[IllegalArgumentException](t.readChangesSince(cursor))
    assert(e.getMessage.contains("oldest retained commit"))
    // a caught-up cursor is unaffected by expiry
    val (c, v) = t.readChangesSince(t.latestVersion())
    assert(c.isEmpty && v == t.latestVersion())
  }

  test("expireSnapshots: log bounded, current reads fine, expired time travel errors") {
    val t = newTable(buckets = 2)
    (0 until 15).foreach { i =>
      t.merge(Seq((i.toLong, s"v$i")).toDF("k", "v"), empty(t))
    }
    val latest = t.latestVersion()
    val expired = t.expireSnapshots(keepLast = 3)
    assert(expired.nonEmpty && expired.forall(_ < latest - 2))
    // current state is intact and writable
    assert(t.read().count() == 15)
    t.merge(Seq((99L, "x")).toDF("k", "v"), empty(t))
    assert(t.read().count() == 16)
    // recent versions still time-travel; expired ones fail loudly
    assert(t.snapshot(Some(latest)).version == latest)
    val e = intercept[IllegalArgumentException](t.snapshot(Some(expired.max)))
    assert(e.getMessage.contains("expired"))
    // vacuum after expiry reclaims files only expired versions referenced
    t.vacuum(Some(latest - 2), retentionMs = 0)
    assert(t.read().count() == 16)
  }

  test("readChangesSince: incremental consumption skips maintenance rewrites") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 4)
    var cursor = t.latestVersion()

    t.append((0L until 30L).map(i => (i, s"v$i")).toDF("k", "v"))
    val (c1, v1) = t.readChangesSince(cursor)
    assert(c1.select($"k").as[Long].collect().toSet == (0L until 30L).toSet)
    cursor = v1

    // no new commits -> empty increment, cursor stable
    val (c2, v2) = t.readChangesSince(cursor)
    assert(c2.isEmpty && v2 == cursor)

    t.append((30L until 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.compact() // data-identical rewrite: must NOT re-deliver rows
    t.append((50L until 60L).map(i => (i, s"v$i")).toDF("k", "v"))
    val (c3, v3) = t.readChangesSince(cursor)
    assert(c3.select($"k").as[Long].collect().toSet == (30L until 60L).toSet)
    cursor = v3

    // incremental union == full table
    val all = c1.unionByName(c3).select($"k").as[Long].collect().toSet
    assert(all == t.read().select($"k").as[Long].collect().toSet)
  }

  test("readChangesBetween: a range that ends before a schema change reads under the latest") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    val appendSchema = TableSchema(schema.struct, primaryKeys = Seq.empty)
    t.create(appendSchema, buckets = 2)
    val v0 = t.latestVersion()
    t.append((0L until 4L).map(i => (i, s"v$i")).toDF("k", "v"))
    val v1 = t.latestVersion()
    // a later ADD COLUMN: the range (v0, v1] ends before it, so its files
    // are read without the pinned latest schema and coerced to it
    t.updateMeta(TableSchema(schema.struct.add("w", IntegerType), primaryKeys = Seq.empty))
    t.append(Seq((9L, "v9", 7)).toDF("k", "v", "w"))
    val early = t.readChangesBetween(v0, v1)
    assert(early.columns.toSeq == Seq("k", "v", "w"))
    assert(early.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
      .toSeq == (0L until 4L).map(i => (i, s"v$i", true)))
    // a range up to the latest version reads under the pinned schema
    val late = t.readChangesBetween(v1, t.latestVersion())
    assert(late.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((9L, "v9", 7)))
  }

  test("changelog: merge commits write row-level change data; replay equals the table") {
    val dir = Files.createTempDirectory("graft_lake_cdc").toString
    val t = new LakehouseTable(spark, dir)
    t.create(schema, buckets = 2, changelog = true)

    // batch 1: pure inserts
    t.merge((0L until 6L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    val v1 = t.latestVersion()
    val c1 = t.readChangelogBetween(-1L, v1)
    assert(c1.groupBy($"_change_type").count().as[(String, Long)].collect().toMap ==
      Map("insert" -> 6L))

    // batch 2: update 0,1; delete 5; insert 100
    t.merge(
      Seq((0L, "V0"), (1L, "V1"), (100L, "new")).toDF("k", "v"),
      Seq(Tuple1(5L)).toDF("k"))
    val v2 = t.latestVersion()
    val c2 = t.readChangelogBetween(v1, v2)
    val byType = c2.select($"_change_type", $"k").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byType("update_preimage") == Set(0L, 1L))
    assert(byType("update_postimage") == Set(0L, 1L))
    assert(byType("delete") == Set(5L))
    assert(byType("insert") == Set(100L))
    // pre-images carry the OLD values, post-images the new
    assert(c2.filter($"_change_type" === "update_preimage" && $"k" === 0L)
      .select($"v").as[String].head() == "v0")
    assert(c2.filter($"_change_type" === "update_postimage" && $"k" === 0L)
      .select($"v").as[String].head() == "V0")
    assert(c2.select($"_commit_version").distinct().as[Long].collect().toSeq == Seq(v2))

    // materialization equivalence: replaying the full changelog reproduces
    // the table — per key, the final post/insert row wins, a final delete
    // drops (within one commit a key has either insert, pre+post, or delete)
    val all = t.readChangelogBetween(-1L, v2)
    val last = all.filter($"_change_type" =!= "update_preimage")
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"k")
          .orderBy($"_commit_version".desc)))
      .filter($"__rn" === 1 && $"_change_type" =!= "delete")
      .select($"k", $"v")
    assert(last.orderBy($"k").as[(Long, String)].collect().toSeq ==
      t.read().orderBy($"k").as[(Long, String)].collect().toSeq)

    // maintenance is invisible: compaction adds no change rows
    t.compact()
    val (c3, _) = t.readChangelogSince(v2)
    assert(c3.isEmpty)

    // vacuum must not reclaim change files of retained commits
    t.vacuum(retentionMs = 0)
    assert(t.readChangelogBetween(-1L, v2).count() == all.count())

    // expiry bounds the changelog like the change feed
    (0 until 4).foreach(i => t.merge(Seq((200L + i, "x")).toDF("k", "v"), empty(t)))
    t.expireSnapshots(keepLast = 2)
    val e = intercept[IllegalArgumentException](t.readChangelogBetween(-1L, t.latestVersion()))
    assert(e.getMessage.contains("oldest retained commit"))

    // tables created without the flag refuse loudly instead of returning empty
    val t2 = newTable()
    t2.merge(Seq((1L, "a")).toDF("k", "v"), empty(t2))
    val e2 = intercept[IllegalArgumentException](t2.readChangelogBetween(-1L, t2.latestVersion()))
    assert(e2.getMessage.contains("changelog"))
  }

  test("MOR equality deletes: O(batch) delete, sequence semantics, compaction materializes") {
    val t = newTable(buckets = 2)
    t.merge((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    val filesBefore = t.snapshot().files.map(_.path).toSet
    val preDelete = t.latestVersion()

    // the fast path: a delete file, no bucket rewrite
    t.deleteWhere(Seq(2L, 5L).toDF("k"))
    assert(t.snapshot().files.map(_.path).toSet == filesBefore) // data untouched
    assert(t.snapshot().deleteFiles.nonEmpty)
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    // zone-map reads honor the deletes too
    assert(t.readWhere("k", 5L).isEmpty)
    assert(t.readBetween("k", 1L, 3L).select($"k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // time travel BEHIND the delete still sees the rows
    assert(t.read(Some(preDelete)).count() == 10)

    // sequence rule: re-upserting a deleted key survives (new file postdates
    // the delete), and the merge rewrite must not resurrect key 5 (same
    // bucket or not)
    t.merge(Seq((2L, "back")).toDF("k", "v"), empty(t))
    val afterReinsert = t.read().orderBy($"k").as[(Long, String)].collect().toSeq
    assert(afterReinsert.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L))
    assert(afterReinsert.find(_._1 == 2L).get._2 == "back")

    // a second MOR delete stacks (different cohort versions)
    t.deleteWhere(Seq(7L).toDF("k"))
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 8L, 9L))

    // vacuum before compaction must keep live delete files
    t.vacuum(retentionMs = 0)
    assert(t.read().count() == 8)

    // compaction materializes the deletes and drops the delete files; the
    // read result is unchanged and no anti-join cohort remains
    val (before, after) = t.compact()
    assert(before > 0 && after > 0)
    assert(t.snapshot().deleteFiles.isEmpty)
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 8L, 9L))
    assert(!t.read().queryExecution.executedPlan.toString.contains("Join"))

    // txn-tracked deletes replay as no-ops
    t.deleteWhere(Seq(9L).toDF("k"), txn = Some(("delrun", 1L)))
    t.deleteWhere(Seq(8L).toDF("k"), txn = Some(("delrun", 1L))) // replay: skipped
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 8L))
  }

  test("MOR deletes survive checkpointed replay; changelog tables refuse the path") {
    val t = newTable(buckets = 2)
    t.merge((0L until 5L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    t.deleteWhere(Seq(1L).toDF("k"))
    // drive past the checkpoint interval so state replays from a checkpoint
    // that must carry the delete file and the data files' sequence numbers
    (0 until 10).foreach(i => t.merge(Seq((100L + i, "x")).toDF("k", "v"), empty(t)))
    val fresh = new LakehouseTable(spark, t.dir) // re-open: replay from log
    assert(fresh.snapshot().deleteFiles.nonEmpty)
    assert(fresh.read().filter($"k" === 1L).isEmpty)
    assert(fresh.read().count() == 14)

    val cl = {
      val dir = Files.createTempDirectory("graft_lake_clref").toString
      val x = new LakehouseTable(spark, dir)
      x.create(schema, buckets = 2, changelog = true)
      x
    }
    cl.merge(Seq((1L, "a")).toDF("k", "v"), empty(cl))
    val e = intercept[IllegalArgumentException](cl.deleteWhere(Seq(1L).toDF("k")))
    assert(e.getMessage.contains("changelog"))
  }

  test("partial-update merge engine: per-column last non-null wins") {
    val dir = Files.createTempDirectory("graft_lake_pu").toString
    val t = new LakehouseTable(spark, dir)
    val wide = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("a", StringType), StructField("b", StringType))),
      primaryKeys = Seq("k"))
    t.create(wide, buckets = 2, mergeEngine = "partial-update")

    // batch 1 fills column a; batch 2 fills column b for the same keys —
    // the wide-table assembly case: neither batch wipes the other's column
    t.merge(Seq((1L, "a1", null), (2L, "a2", null))
      .toDF("k", "a", "b"), empty(t))
    t.merge(Seq((1L, null, "b1"), (3L, null, "b3"))
      .toDF("k", "a", "b"), empty(t))
    assert(t.read().orderBy($"k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "a1", "b1"), (2L, "a2", null), (3L, null, "b3")))

    // a later non-null overwrites; nulls never do
    t.merge(Seq((1L, "a1x", null)).toDF("k", "a", "b"), empty(t))
    assert(t.read().filter($"k" === 1L).collect().map(r =>
      (r.getString(1), r.getString(2))).toSeq == Seq(("a1x", "b1")))

    // deletes drop the whole assembled row
    t.merge(Seq.empty[(Long, String, String)].toDF("k", "a", "b"),
      Seq(Tuple1(2L)).toDF("k"))
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))

    // the engine is a table property: it survives re-open and schema update
    val fresh = new LakehouseTable(spark, dir)
    assert(fresh.snapshot().meta.get.mergeEngine == "partial-update")
    fresh.updateMeta(TableSchema(
      StructType(wide.struct.fields :+ StructField("c", StringType)),
      primaryKeys = Seq("k")))
    assert(fresh.snapshot().meta.get.mergeEngine == "partial-update")

    // invalid engines and changelog+partial-update are rejected at create
    val bad = new LakehouseTable(spark, Files.createTempDirectory("pu_bad").toString)
    intercept[IllegalArgumentException](bad.create(wide, mergeEngine = "sum"))
    intercept[IllegalArgumentException](
      bad.create(wide, changelog = true, mergeEngine = "partial-update"))
  }

  test("aggregate merge engine: per-column sum/max folds, unlisted last-non-null") {
    val dir = Files.createTempDirectory("graft_lake_agg").toString
    val t = new LakehouseTable(spark, dir)
    val metrics = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", LongType), StructField("hi", LongType),
        StructField("tag", StringType))),
      primaryKeys = Seq("k"))
    t.create(metrics, buckets = 2, mergeEngine = "aggregate",
      aggregations = Map("n" -> "sum", "hi" -> "max"))

    t.merge(Seq((1L, 2L, 10L, "x"), (2L, 1L, 5L, "y")).toDF("k", "n", "hi", "tag"), empty(t))
    t.merge(Seq((1L, 3L, 7L, null), (3L, 4L, 1L, "z")).toDF("k", "n", "hi", "tag"), empty(t))
    val rows = t.read().orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // k=1: n summed 2+3, hi max(10,7), tag keeps last non-null "x"
    assert(rows == Seq((1L, 5L, 10L, "x"), (2L, 1L, 5L, "y"), (3L, 4L, 1L, "z")))

    // null contributions don't zero a sum; null+null stays null
    val t2 = new LakehouseTable(spark, Files.createTempDirectory("agg2").toString)
    t2.create(metrics, buckets = 2, mergeEngine = "aggregate",
      aggregations = Map("n" -> "sum"))
    t2.merge(Seq((1L, null.asInstanceOf[Any], null, null)).map(_ => (1L, 2L, 3L, "a"))
      .toDF("k", "n", "hi", "tag"), empty(t2))
    t2.merge(spark.sql("SELECT 1L AS k, CAST(NULL AS LONG) AS n, 9L AS hi, CAST(NULL AS STRING) AS tag"),
      empty(t2))
    val r2 = t2.read().collect().head
    assert(r2.getLong(1) == 2L && r2.getLong(2) == 9L && r2.getString(3) == "a")

    // validation: unknown function, key column, aggregations without engine
    val bad = new LakehouseTable(spark, Files.createTempDirectory("agg_bad").toString)
    intercept[IllegalArgumentException](
      bad.create(metrics, mergeEngine = "aggregate", aggregations = Map("n" -> "avg")))
    intercept[IllegalArgumentException](
      bad.create(metrics, mergeEngine = "aggregate", aggregations = Map("k" -> "sum")))
    intercept[IllegalArgumentException](
      bad.create(metrics, aggregations = Map("n" -> "sum")))

    // bool_or/bool_and fold across AND within batches; require BOOLEAN
    val bs = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("seen", BooleanType), StructField("ok", BooleanType))),
      primaryKeys = Seq("k"))
    val tb = new LakehouseTable(spark, Files.createTempDirectory("agg_bool").toString)
    tb.create(bs, buckets = 2, mergeEngine = "aggregate",
      aggregations = Map("seen" -> "bool_or", "ok" -> "bool_and"))
    tb.merge(Seq((1L, false, true), (2L, true, true)).toDF("k", "seen", "ok"), empty(tb))
    // intra-batch duplicates for k=1 fold too (true|false, true&false)
    tb.merge(Seq((1L, true, true), (1L, false, false), (2L, false, true))
      .toDF("k", "seen", "ok"), empty(tb))
    val br = tb.read().orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(br == Seq((1L, true, false), (2L, true, true)))
    // nulls: null keeps the other side, never poisons the fold
    tb.merge(spark.sql(
      "SELECT 2L AS k, CAST(NULL AS BOOLEAN) AS seen, CAST(NULL AS BOOLEAN) AS ok"),
      empty(tb))
    val b2 = tb.read().filter($"k" === 2L).collect().head
    assert(b2.getBoolean(1) && b2.getBoolean(2))
    intercept[IllegalArgumentException](
      bad.create(metrics, mergeEngine = "aggregate", aggregations = Map("n" -> "bool_or")))
  }

  test("sequence-field last-wins: largest sequence wins regardless of commit order") {
    val s = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("seq", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("lake_seq").toString)
    t.create(s, buckets = 2, sequenceField = Some("seq"))

    // commit 1 carries the NEWER state (seq 10); the late-arriving commit 2
    // carries seq 5 — commit order must NOT clobber sequence order
    t.merge(Seq((1L, 10L, "new")).toDF("k", "seq", "v"), empty(t))
    t.merge(Seq((1L, 5L, "late")).toDF("k", "seq", "v"), empty(t))
    assert(t.read().collect().map(r => (r.getLong(1), r.getString(2))).toSeq ==
      Seq((10L, "new")))
    // a genuinely newer sequence does win
    t.merge(Seq((1L, 20L, "newest")).toDF("k", "seq", "v"), empty(t))
    assert(t.read().head().getString(2) == "newest")
    // sequence tie: the batch (latest arrival) wins
    t.merge(Seq((1L, 20L, "tiebreak")).toDF("k", "seq", "v"), empty(t))
    assert(t.read().head().getString(2) == "tiebreak")
    // a null sequence loses to any non-null one
    t.merge(spark.sql("SELECT 1L AS k, CAST(NULL AS LONG) AS seq, 'nullseq' AS v"), empty(t))
    assert(t.read().head().getString(2) == "tiebreak")
    // intra-batch duplicates fold by the same rule in the same pass
    t.merge(Seq((2L, 3L, "a"), (2L, 9L, "b"), (2L, 6L, "c")).toDF("k", "seq", "v"), empty(t))
    assert(t.read().filter($"k" === 2L).collect().map(r =>
      (r.getLong(1), r.getString(2))).toSeq == Seq((9L, "b")))
    // deletes stay positional: the key drops even though its stored seq is high
    t.merge(Seq.empty[(Long, Long, String)].toDF("k", "seq", "v"),
      Seq(Tuple1(1L)).toDF("k"))
    assert(t.read().select($"k").as[Long].collect().toSeq == Seq(2L))

    // the field is a table property: survives re-open and schema update
    val fresh = new LakehouseTable(spark, t.dir)
    assert(fresh.snapshot().meta.get.sequenceField.contains("seq"))
    fresh.updateMeta(TableSchema(
      StructType(s.struct.fields :+ StructField("extra", LongType)),
      primaryKeys = Seq("k")))
    assert(fresh.snapshot().meta.get.sequenceField.contains("seq"))

    // validations: engine/changelog/column constraints
    val bad = new LakehouseTable(spark, Files.createTempDirectory("seq_bad").toString)
    intercept[IllegalArgumentException](
      bad.create(s, mergeEngine = "aggregate", aggregations = Map("seq" -> "max"),
        sequenceField = Some("seq")))
    intercept[IllegalArgumentException](
      bad.create(s, changelog = true, sequenceField = Some("seq")))
    intercept[IllegalArgumentException](bad.create(s, sequenceField = Some("k")))
    intercept[IllegalArgumentException](bad.create(s, sequenceField = Some("nope")))
  }

  test("property: sequence-field result is batching- and order-independent") {
    // however the rows are split into batches and whatever order the batches
    // commit in, the table must equal the one-shot per-key max-sequence row —
    // the invariant that makes out-of-order CDC ingestion safe
    val rnd = new scala.util.Random(20260813)
    val s = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("seq", LongType), StructField("v", LongType))),
      primaryKeys = Seq("k"))
    (1 to 3).foreach { trial =>
      val rows = (0 until 200).map { i =>
        (rnd.nextInt(25).toLong, i.toLong /* unique seq */, rnd.nextLong())
      }
      val want = rows.groupBy(_._1).map { case (k, g) => k -> g.maxBy(_._2) }
      val batches = rnd.shuffle(rows).grouped(1 + rnd.nextInt(60)).toSeq
      val t = new LakehouseTable(
        spark, Files.createTempDirectory(s"seq_prop_$trial").toString)
      t.create(s, buckets = 2, sequenceField = Some("seq"))
      rnd.shuffle(batches).foreach { b =>
        t.merge(b.toDF("k", "seq", "v"), empty(t))
      }
      val got = t.read().collect()
        .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"trial $trial diverged from one-shot max-by")
    }
  }

  test("merge engines fold intra-batch duplicate keys; ambiguous last-non-null raises") {
    val metrics = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", LongType), StructField("hi", LongType),
        StructField("tag", StringType))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("agg_dup").toString)
    t.create(metrics, buckets = 2, mergeEngine = "aggregate",
      aggregations = Map("n" -> "sum", "hi" -> "max"))

    // FIRST batch (empty table) carries three rows for k=1: n sums, hi
    // maxes, tag folds its single distinct non-null — and exactly ONE row lands
    t.merge(Seq((1L, 2L, 10L, null), (1L, 3L, 4L, "x"), (1L, 5L, 7L, null))
      .toDF("k", "n", "hi", "tag"), empty(t))
    assert(t.read().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq((1L, 10L, 10L, "x")))

    // a later multi-row batch folds against the stored row exactly ONCE —
    // the round-7 advice bug paired EACH batch row with the old row, double-
    // counting the stored value and emitting duplicate PKs
    t.merge(Seq((1L, 1L, 1L, null), (1L, 1L, 99L, null))
      .toDF("k", "n", "hi", "tag"), empty(t))
    val rows = t.read().collect()
    assert(rows.length == 1)
    assert((rows.head.getLong(1), rows.head.getLong(2), rows.head.getString(3)) ==
      (12L, 99L, "x"))

    // partial-update: intra-batch duplicates with DISJOINT columns assemble
    val wide = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("a", StringType), StructField("b", StringType))),
      primaryKeys = Seq("k"))
    val pu = new LakehouseTable(spark, Files.createTempDirectory("pu_dup").toString)
    pu.create(wide, buckets = 2, mergeEngine = "partial-update")
    pu.merge(Seq((1L, "a1", null), (1L, null, "b1")).toDF("k", "a", "b"), empty(pu))
    assert(pu.read().collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq == Seq((1L, "a1", "b1")))

    // conflicting non-null values for one column within one (orderless)
    // batch are ambiguous — fail loudly instead of picking nondeterministically
    val e = intercept[Exception] {
      pu.merge(Seq((2L, "x", null), (2L, "y", null)).toDF("k", "a", "b"), empty(pu))
    }
    assert(graft.SparkTestBase.rootMessage(e).contains("conflicting"))
  }

  test("aggregate rollup equals one-shot GROUP BY exactly in DECIMAL") {
    // the c_lakehouse_agg exactness contract: the driver-facing query casts
    // DECIMAL→DOUBLE only at the comparison surface; HERE we assert the
    // STORED decimal fold is exactly the one-shot aggregate — no precision
    // is lost by weakening the oracle surface
    val s = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("total", DecimalType(18, 2)))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("agg_dec").toString)
    t.create(s, buckets = 2, mergeEngine = "aggregate", aggregations = Map("total" -> "sum"))
    // 0.1 + 0.2 chains are exact in DECIMAL(18,2), inexact in double
    val all = (1L to 300L).map(i => (i % 7, BigDecimal(i) / 10))
    all.grouped(100).foreach { slice =>
      t.merge(slice.toDF("k", "total")
        .groupBy($"k").agg(sum($"total").cast("decimal(18,2)").as("total")), empty(t))
    }
    val got = t.read().orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getDecimal(1))).toSeq
    val want = all.toDF("k", "total")
      .groupBy($"k").agg(sum($"total").cast("decimal(18,2)").as("total"))
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getDecimal(1))).toSeq
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(g.compareTo(w) == 0) }
  }

  test("deletes on aggregate tables retract the whole rollup row; re-merges start fresh") {
    val s = TableSchema(
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", LongType))),
      primaryKeys = Seq("k"))
    val t = new LakehouseTable(spark, Files.createTempDirectory("agg_del").toString)
    t.create(s, buckets = 2, mergeEngine = "aggregate", aggregations = Map("n" -> "sum"))
    t.merge(Seq((1L, 5L), (2L, 5L)).toDF("k", "n"), empty(t))

    // COW delete via merge(deletedKeys): the rollup row for k=1 is gone...
    t.merge(Seq.empty[(Long, Long)].toDF("k", "n"), Seq(Tuple1(1L)).toDF("k"))
    assert(t.read().select($"k").as[Long].collect().toSeq == Seq(2L))
    // ...and a post-delete merge RE-ACCUMULATES from zero, not from 5
    t.merge(Seq((1L, 2L)).toDF("k", "n"), empty(t))
    assert(t.read().filter($"k" === 1L).select($"n").as[Long].head() == 2L)

    // MOR equality-delete path: same pinned drop-row semantics
    t.deleteWhere(Seq(2L).toDF("k"))
    assert(t.read().filter($"k" === 2L).isEmpty)
    t.merge(Seq((2L, 3L)).toDF("k", "n"), empty(t))
    assert(t.read().filter($"k" === 2L).select($"n").as[Long].head() == 3L)
  }

  test("append overwrite: removes and adds ride ONE commit; history intact") {
    val dir = Files.createTempDirectory("graft_lake_ovw").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 2)
    t.append((0L until 10L).map(i => (i, s"old$i")).toDF("k", "v"))
    val vOld = t.latestVersion()
    t.append((100L until 105L).map(i => (i, s"new$i")).toDF("k", "v"), overwrite = true)
    // exactly ONE commit: no reader-visible empty state between truncate+append
    assert(t.latestVersion() == vOld + 1)
    assert(t.read().select($"k").as[Long].collect().sorted.toSeq == (100L until 105L))
    // time travel still serves the pre-overwrite table
    assert(t.read(Some(vOld)).count() == 10)
  }

  test("rescaleBuckets: layout migration preserves data, merges use new layout") {
    val t = newTable(buckets = 2)
    t.merge((0L until 60L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    val v2buckets = t.snapshot()
    assert(v2buckets.buckets == 2)

    t.rescaleBuckets(8)
    val snap = t.snapshot()
    assert(snap.buckets == 8)
    assert(snap.files.map(_.bucket).distinct.size > 2)
    assert(t.read().orderBy($"k").as[(Long, String)].collect().toSeq ==
      (0L until 60L).map(i => (i, s"v$i")))
    // time travel behind the rescale replays the OLD meta and files
    val old = t.snapshot(Some(v2buckets.version))
    assert(old.buckets == 2 && old.files.map(_.path).toSet == v2buckets.files.map(_.path).toSet)

    // post-rescale merge touches only new-layout buckets
    t.merge(Seq((1L, "x")).toDF("k", "v"), empty(t))
    val got = t.read().orderBy($"k").as[(Long, String)].collect().toMap
    assert(got.size == 60 && got(1L) == "x" && got(59L) == "v59")
    // rescale to the current count is a no-op commit-wise
    val v = t.latestVersion()
    t.rescaleBuckets(8)
    assert(t.latestVersion() == v)
  }

  test("merge + read round trip, then file-granular second merge") {
    val t = newTable()
    t.merge((0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    assert(t.read().count() == 100)
    val before = t.snapshot()

    // update 3 keys, delete 1
    t.merge(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v"),
      Seq(Tuple1(7L)).toDF("k"))
    val after = t.snapshot()
    val got = t.read().orderBy($"k").as[(Long, String)].collect().toMap
    assert(got.size == 99 && got(1L) == "x" && !got.contains(7L) && got(0L) == "v0")

    // FILE-GRANULAR: buckets untouched by {1,2,3,7} keep their ORIGINAL files
    val touched = Seq(1L, 2L, 3L, 7L).toDF("k")
      .select(pmod(hash($"k"), lit(4)).as("b")).distinct().as[Int].collect().toSet
    val untouchedBefore = before.files.filterNot(f => touched.contains(f.bucket)).map(_.path).toSet
    val afterPaths = after.files.map(_.path).toSet
    assert(untouchedBefore.nonEmpty && untouchedBefore.subsetOf(afterPaths))
    // and touched buckets were rewritten (old files gone from the snapshot)
    val touchedBefore = before.files.filter(f => touched.contains(f.bucket)).map(_.path).toSet
    assert(touchedBefore.intersect(afterPaths).isEmpty)
  }

  test("time travel: old versions remain readable after later merges") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), empty(t))
    val v1 = t.latestVersion()
    t.merge(Seq((1L, "b")).toDF("k", "v"), empty(t))
    assert(t.read(Some(v1)).as[(Long, String)].head() == (1L, "a"))
    assert(t.read().as[(Long, String)].head() == (1L, "b"))
  }

  test("txn action makes batch replay a no-op, atomically with the data") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), empty(t), txn = Some(("run1", 0L)))
    val v = t.latestVersion()
    // same (runId, batchId) re-delivered after a crash-restart: skipped
    t.merge(Seq((1L, "DUPLICATE")).toDF("k", "v"), empty(t), txn = Some(("run1", 0L)))
    assert(t.latestVersion() == v)
    assert(t.read().as[(Long, String)].head() == (1L, "a"))
    // a NEW run's batch 0 is not confused with the old run's
    t.merge(Seq((1L, "b")).toDF("k", "v"), empty(t), txn = Some(("run2", 0L)))
    assert(t.read().as[(Long, String)].head() == (1L, "b"))
  }

  test("commit claims are create-if-absent: simultaneous writers never clobber") {
    // regression: rename(2)-based claims silently REPLACE an existing target
    // on POSIX, so two simultaneous claimants of one version both "won" and
    // one commit vanished from the log (data loss). The hard-link claim
    // fails atomically instead. 16 threads race metadata commits; every
    // single one must survive in the final snapshot.
    val t = newTable()
    val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 16).map { i =>
      new Thread(() => {
        try t.commit(Seq(LakehouseFormat.Txn(s"writer$i", 1L)))
        catch { case e: Throwable => fails.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(fails.isEmpty, fails)
    val txns = t.snapshot().txns.keySet
    assert(txns == (0 until 16).map(i => s"writer$i").toSet,
      s"lost commits: ${(0 until 16).map(i => s"writer$i").toSet -- txns}")
  }

  test("concurrent merges: disjoint keys from racing threads all land") {
    val t = newTable()
    val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        try t.merge(Seq((w.toLong, s"w$w")).toDF("k", "v"), empty(t), maxAttempts = 20)
        catch { case e: Throwable => fails.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(fails.isEmpty, fails)
    assert(t.read().as[(Long, String)].collect().toMap ==
      (0 until 4).map(w => w.toLong -> s"w$w").toMap)
  }

  test("concurrent appends: losers re-claim without rewriting (no conflict)") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(schema.struct, primaryKeys = Seq.empty), buckets = 4)
    val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 6).map { w =>
      new Thread(() => {
        try t.append(Seq((w.toLong, s"w$w")).toDF("k", "v"))
        catch { case e: Throwable => fails.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(fails.isEmpty, fails)
    assert(t.read().count() == 6)
    assert(t.latestVersion() == 6) // create + one commit per append
  }

  test("optimistic concurrency: losing the claim race retries on the new state") {
    val t = newTable()
    t.merge(Seq((1L, "a")).toDF("k", "v"), empty(t))
    val v = t.latestVersion()
    // a concurrent writer claims the next version AFTER our merge took its
    // snapshot: the rival lands from inside the merge's own input job
    LostClaim.arm(() => t.commit(Seq(LakehouseFormat.Txn("rival", 99L))))
    try t.merge(Seq((2L, "b")).toDF("k", "v").withColumn("v", LostClaim.passThrough($"v")),
      empty(t))
    finally LostClaim.disarm()
    assert(LostClaim.fired, "the rival commit never landed")
    // our merge landed AFTER the rival's commit, on top of its state
    assert(t.latestVersion() == v + 2)
    assert(t.snapshot().txns("rival") == 99L)
    assert(t.read().count() == 2)
  }

  test("log checkpoints: snapshot from checkpoint == full replay; time travel intact") {
    val t = newTable(buckets = 2)
    (1 to 25).foreach { i =>
      t.merge(Seq((i.toLong % 10, s"v$i")).toDF("k", "v"), empty(t),
        txn = Some(("run", i.toLong)))
    }
    val ckpts = Files.list(Paths.get(t.dir, "_log")).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(ckpts).asScala
      .map(_.getFileName.toString).toSeq
    val ckptFiles = names.filter(_.endsWith(".checkpoint.json"))
    assert(ckptFiles.nonEmpty) // interval 10 -> at least v10/v20 checkpoints
    val withCkpt = t.snapshot()
    // removing the checkpoints forces a full from-scratch replay: must agree
    ckptFiles.foreach(n => Files.delete(Paths.get(t.dir, "_log", n)))
    val fullReplay = t.snapshot()
    assert(withCkpt.version == fullReplay.version)
    assert(withCkpt.files.map(_.path).toSet == fullReplay.files.map(_.path).toSet)
    assert(withCkpt.txns == fullReplay.txns)
    assert(withCkpt.meta.map(_.schema.struct) == fullReplay.meta.map(_.schema.struct))
    // time travel below the (now deleted) checkpoint horizon still replays
    assert(t.read(Some(5L)).count() > 0)
    assert(t.read().count() == 10)
  }

  test("vacuum deletes unreferenced files; current read unaffected") {
    val t = newTable()
    t.merge((0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    t.merge((0L until 50L).map(i => (i, s"w$i")).toDF("k", "v"), empty(t))
    val removed = t.vacuum(retentionMs = 0)
    assert(removed.nonEmpty) // the fully rewritten first-commit files
    assert(t.read().count() == 50)
    assert(t.read().filter($"v" === "w0").count() == 1)
  }

  test("vacuum keeps every retained version readable and refuses a version past the latest") {
    val t = newTable()
    (1 to 3).foreach(i => t.merge((0L until 20L).map(k => (k, s"r$i")).toDF("k", "v"), empty(t)))
    val latest = t.latestVersion()
    // past the latest version no snapshot is retained: refuse, delete nothing
    intercept[IllegalArgumentException](t.vacuum(Some(latest + 1), retentionMs = 0))
    assert(t.read().count() == 20)
    assert(t.vacuum(Some(latest - 1), retentionMs = 0).nonEmpty) // the first round's files
    assert(t.read(Some(latest - 1)).filter($"v" === "r2").count() == 20)
    assert(t.read().filter($"v" === "r3").count() == 20)
    assert(t.vacuum(Some(latest - 1), retentionMs = 0).isEmpty)
  }

  test("vacuum retention protects an in-flight concurrent writer's fresh files") {
    // write-data-then-claim: a concurrent writer's parquet is unreferenced
    // by every committed snapshot until its commit lands — the default
    // retention window must keep it, or the commit would point at deleted
    // files (silent data loss). Files older than the window ARE reclaimed
    // (a crashed writer whose claim can no longer win).
    val t = newTable()
    t.merge((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"), empty(t))
    val inflight = Paths.get(t.dir, "merge-inflight")
    Files.createDirectories(inflight)
    val fresh = inflight.resolve("part-00000.parquet")
    Files.write(fresh, Array[Byte](1, 2, 3))
    assert(t.vacuum().isEmpty, "a fresh unreferenced file survives the window")
    assert(Files.exists(fresh))
    Files.setLastModifiedTime(fresh, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(t.vacuum().nonEmpty, "past the window the orphan is reclaimed")
    assert(!Files.exists(fresh))
  }

  test("string zone maps prune in UTF-8 byte order, not UTF-16 code units") {
    // stats come from Spark min/max over UTF8String: U+1F600 (a surrogate
    // pair in UTF-16) sorts ABOVE U+FFFF in UTF-8 byte order but BELOW it
    // in Java String order — a Java-ordered comparison would prune the
    // file that holds the match
    val dir = Files.createTempDirectory("graft_lake").toString
    val t = new LakehouseTable(spark, dir)
    t.create(TableSchema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "s", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "n", org.apache.spark.sql.types.LongType))),
      primaryKeys = Seq.empty), buckets = 1)
    t.append(Seq(("a", 1L), ("￿", 2L), ("😀", 3L)).toDF("s", "n"))
    val hit = t.prunedFiles("s", "￿")
    assert(hit.nonEmpty, "the file containing \\uFFFF must survive pruning")
    assert(t.readWhere("s", "￿").count() == 1)
  }

  test("LakehouseSink SPI: schema evolution null-fills old files, txn tracking") {
    val root = Files.createTempDirectory("graft_lakesink").toString
    val sink = new LakehouseSink(spark, root, buckets = 4)
    val tid = TableId.parse("app.users")
    sink.applySchemaChange(CreateTableEvent(tid, schema))
    sink.writeBatch(tid, Seq((1L, "a")).toDF("k", "v"), empty(sink.table(tid)),
      batchId = 0L, runId = "r")
    assert(sink.lastCommittedBatch(tid, "r").contains(0L))
    assert(sink.lastCommittedBatch(tid, "other").isEmpty)

    // ADD COLUMN: metadata-only commit; existing parquet reads null-filled
    sink.applySchemaChange(AddColumnEvent(tid, Seq(
      AddColumnEvent.ColumnWithPosition("extra", CdcTypes.IntT()))))
    val evolved = sink.schemaOf(tid).get
    assert(evolved.struct.fieldNames.toSeq == Seq("k", "v", "extra"))
    val row = sink.table(tid).read().orderBy($"k").collect().head
    assert(row.getLong(0) == 1L && row.isNullAt(2))

    // next batch writes the evolved shape; both file generations coexist
    sink.writeBatch(tid, Seq((2L, "b", 7)).toDF("k", "v", "extra"),
      empty(sink.table(tid)), batchId = 1L, runId = "r")
    val all = sink.table(tid).read().orderBy($"k").collect()
    assert(all.length == 2 && all(1).getInt(2) == 7)

    // truncate drops all live files in one commit; time travel still sees them
    val preTruncate = sink.table(tid).latestVersion()
    sink.applySchemaChange(TruncateTableEvent(tid))
    assert(sink.table(tid).read().count() == 0)
    assert(sink.table(tid).read(Some(preTruncate)).count() == 2)
  }
}
