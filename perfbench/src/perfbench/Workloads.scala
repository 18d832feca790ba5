package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import graft.operators.{Envelope, EnvelopeTransform, Upsert}
import graft.pipeline.{PipelineRunner, SchemaDerivator, YamlPipelineParser}
import graft.sinks.LakehouseTable
import graft.sources.cdc.{ChangeSourceRegistry, ScriptedChangeSource}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A workload: set-up that can repeat, a warm-up, the measured loop and,
  * in traced runs, a stage-by-stage decomposition on the same inputs.
  *
  * What both workloads share lives here too: one YAML pipeline from a
  * registered scripted source into a `lakehouse` sink, the read mix over
  * the table it leaves, and sink bookkeeping read from the table's log. */
abstract class CdcWorkload(ctx: Ctx) {
  /** Generate the inputs from the seed; runs three times, the median counts. */
  def prepare(): Unit
  def warmUp(): Unit
  def measure(): Unit
  def decompose(): Unit
  /** Work items per second: source rows or log events. */
  def throughput: Double
  /** Per-operation latencies: drain passes or trickle commits. */
  def latenciesMs: Seq[Double]
  /** The workload's own end-to-end figures under their workload-specific names. */
  def namedMetrics: Map[String, (Double, String)]
  /** Median traced minus median untraced operation latency. */
  def traceOverheadMs: Double

  protected val spark = ctx.spark
  private var registered = 0
  private var amp = 0.0
  protected val readMixes = ArrayBuffer.empty[Double]

  def writeAmp: Double = amp
  def readMixS: Double = Stats.median(readMixes.toSeq)

  protected def yaml(sourceId: String, sinkDir: Path, ckDir: Path,
      sourceOpts: Seq[(String, Any)], buckets: Int, extra: String = ""): String =
    s"""source:
       |  type: cdc
       |  sourceId: $sourceId
       |${sourceOpts.map { case (k, v) => s"  $k: $v" }.mkString("\n")}
       |sink:
       |  type: lakehouse
       |  path: $sinkDir
       |  buckets: $buckets
       |$extra
       |pipeline:
       |  name: perfbench-${ctx.o.workload}
       |  checkpoint.dir: $ckDir
       |""".stripMargin

  /** Register `src` under a new id; in a traced run behind the tracing
    * wrapper, which only records inside traced spans. */
  protected def register(src: ScriptedChangeSource): String = {
    registered += 1
    val id = s"${ctx.o.workload}-$registered"
    ChangeSourceRegistry.register(id, ctx.tracer.fold(
      src: graft.sources.cdc.ChangeSource)(_.wrap(src)))
    id
  }

  protected def liveBytes(t: LakehouseTable): Long =
    t.snapshot().files.map(f => Files.size(Paths.get(t.dir, f.path))).sum

  /** Parquet bytes written since `bytes0` over the live bytes of the table. */
  protected def recordWriteAmp(t: LakehouseTable, bytes0: Long): Unit =
    amp = (Ctx.parquetBytes(Paths.get(t.dir)) - bytes0).toDouble / liveBytes(t)

  /** Checksum of a table read, columns in `cols` order. */
  protected def digestOf(df: DataFrame, cols: Seq[String]): Gen.Digest =
    Gen.Digest.of(df.select(cols.map(col): _*).collect().iterator.map(_.toSeq))

  /** Sink counters of the commits after version `from` (commits, files and
    * bytes written, buckets per commit) and of the live table. */
  protected def recordSink(t: LakehouseTable, from: Long): Unit = ctx.tracer.foreach { tr =>
    import graft.sinks.LakehouseFormat.AddFile
    tr.traced {
      val adds = t.history().collect { case (v, a: AddFile) if v > from => v -> a }
      tr.add("sinks.commits", adds.map(_._1).distinct.size)
      tr.add("sinks.files_written", adds.size)
      tr.add("sinks.bytes_written",
        adds.map(a => Files.size(Paths.get(t.dir, a._2.path))).sum.toDouble)
      tr.add("sinks.buckets_written", adds.map(a => (a._1, a._2.bucket)).distinct.size)
      tr.add("sinks.live_files", t.snapshot().files.size)
      tr.add("sinks.live_bytes", liveBytes(t).toDouble)
    }
  }

  protected def timed[A](name: String)(body: => A): A = ctx.tracer.fold(body)(_.time(name)(body))

  /** The read mix, one operation each: point lookups of `probes` through the
    * zone maps, a full-scan count and sum of `sumCol`, and the change feed
    * of the commits after `from`, all checked against `expected` (live rows
    * by key, columns in `cols` order); then whatever `more` reads. Returns
    * its wall in seconds. */
  protected def readMix(t: LakehouseTable, key: String, cols: Seq[String],
      expected: Map[Long, Seq[Any]], probes: Seq[Long], sumCol: String, from: Long)(
      more: => Unit): Double = Ctx.seconds {
    val files = t.snapshot().files.size
    probes.foreach { k =>
      ctx.op(s"point read $k") {
        ctx.tracer.foreach { tr =>
          tr.add("sinks.point_reads", 1)
          tr.add("sinks.files_pruned",
            1.0 - t.prunedFiles(key, k).size.toDouble / math.max(1, files))
        }
        val got = timed("sinks.point_read_s")(
          t.readWhere(key, k).select(cols.map(col): _*).collect().map(_.toSeq).toSeq)
        got == expected.get(k).toSeq
      }
    }
    ctx.op("scan aggregate") {
      val i = cols.indexOf(sumCol)
      val r = timed("sinks.scan_agg_s")(t.read().agg(count(lit(1)), sum(sumCol)).collect().head)
      r.getLong(0) == expected.size &&
        r.getLong(1) == expected.valuesIterator.map(_(i).asInstanceOf[Number].longValue).sum
    }
    ctx.op("change feed") {
      import graft.sinks.LakehouseFormat.{AddFile, RemoveFile}
      val latest = t.latestVersion()
      val n = timed("sinks.change_feed_s")(t.readChangesBetween(from, latest).count())
      // on a merge table the feed holds the rows of the commits that only
      // add files (a bucket rewrite removes files and is skipped): count
      // those files directly
      val added = t.history().filter { case (v, _) => v > from && v <= latest }
        .groupBy(_._1).values.map(_.map(_._2))
        .filterNot(_.exists(_.isInstanceOf[RemoveFile]))
        .flatMap(_.collect { case a: AddFile => Paths.get(t.dir, a.path).toString })
      n == (if (added.isEmpty) 0L else spark.read.parquet(added.toSeq: _*).count())
    }
    more
    timed("sinks.snapshot_replay_s")(t.snapshot())
  }

  /** Probe keys for the read mix: six live keys and two absent ones. */
  protected def probeKeys(live: Iterable[Long], absent: Iterable[Long]): Seq[Long] = {
    val rng = new scala.util.Random(ctx.o.seed)
    def pick(xs: IndexedSeq[Long], n: Int) = Seq.fill(n)(xs(rng.nextInt(xs.size)))
    pick(live.toIndexedSeq.sorted, 6) ++ pick(absent.toIndexedSeq.sorted, 2)
  }

  /** Stage-by-stage replay of one envelope batch through the public layer
    * functions on the workload's own inputs: the pipeline's transform (if
    * any), coercion to the sink schema, upsert, and one
    * `LakehouseTable.merge` into a fresh table. */
  protected def stageByStage(env: DataFrame, pipelineYaml: String, source: graft.core.TableId,
      sourceSchema: graft.core.TableSchema, keys: Seq[String], buckets: Int): Unit =
    ctx.tracer.foreach { tr =>
      def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val pdef = YamlPipelineParser.parse(pipelineYaml)
      val sinkSchema = new PipelineRunner(pdef)(spark).composer
        .transformedSchema(source, sourceSchema)
      val in = env.persist()
      val nIn = in.count()
      tr.traced {
        val transformed = pdef.transforms.headOption.fold(in) { rule =>
          val t = EnvelopeTransform(in, rule, source).persist()
          tr.time("operators.transform_s")(run(t))
          tr.add("operators.transform_selectivity", t.count().toDouble / nIn)
          t
        }
        val coerced = SchemaDerivator.coerceEnvelope(transformed, sinkSchema.struct).persist()
        tr.time("operators.coerce_s")(run(coerced))
        Upsert.withMaterialized(coerced, keys) { (upserts, deletes) =>
          tr.time("operators.upsert_s") { run(upserts); run(deletes) }
          tr.add("operators.upsert_collapse_ratio",
            (upserts.count() + deletes.count()).toDouble / nIn)
          val table = new LakehouseTable(spark, ctx.freshDir("stage-merge").toString)
          table.create(sinkSchema, buckets)
          tr.time("sinks.merge_s")(table.merge(upserts, deletes))
        }
        coerced.unpersist()
        transformed.unpersist()
      }
      in.unpersist()
    }

  def layerMetrics(t: Tracer): Map[String, (Double, String)] = {
    val commits = t.get("sinks.commits")
    val points = math.max(1.0, t.get("sinks.point_reads"))
    Layers.common(t) ++ Map(
      "operators.transform_s" -> (t.get("operators.transform_s"), "s"),
      "operators.transform_selectivity" -> (t.get("operators.transform_selectivity"), "ratio"),
      "operators.upsert_s" -> (t.get("operators.upsert_s"), "s"),
      "operators.upsert_collapse_ratio" -> (t.get("operators.upsert_collapse_ratio"), "ratio"),
      "operators.coerce_s" -> (t.get("operators.coerce_s"), "s"),
      "sinks.merge_s" -> (t.get("sinks.merge_s"), "s"),
      "sinks.commits" -> (commits, "count"),
      "sinks.files_written" -> (t.get("sinks.files_written"), "count"),
      "sinks.bytes_written" -> (t.get("sinks.bytes_written"), "bytes"),
      "sinks.buckets_rewritten_per_commit" ->
        (if (commits > 0) t.get("sinks.buckets_written") / commits else 0.0, "count"),
      "sinks.live_files" -> (t.get("sinks.live_files"), "count"),
      "sinks.live_bytes" -> (t.get("sinks.live_bytes"), "bytes"),
      "sinks.snapshot_replay_ms" -> (t.get("sinks.snapshot_replay_s") * 1e3, "ms"),
      "sinks.point_read_ms" -> (t.get("sinks.point_read_s") * 1e3 / points, "ms"),
      "sinks.scan_agg_s" -> (t.get("sinks.scan_agg_s"), "s"),
      "sinks.change_feed_s" -> (t.get("sinks.change_feed_s"), "s"),
      "sinks.files_pruned_frac" -> (t.get("sinks.files_pruned") / points, "ratio"),
      "sinks.read_mix_s" -> (readMixS, "s"))
  }
}

/** snapshot_load: the initial snapshot of one table through a YAML pipeline
  * with a five-expression transform, a filter and a route into a lakehouse
  * sink. Each pass drains into a fresh table; the read mix runs once, over
  * the table of the second pass. */
final class SnapshotLoad(ctx: Ctx) extends CdcWorkload(ctx) {
  val rowsPerPass = if (ctx.small) 2000 else 12000
  /** Measured passes: one per 5 s of `--seconds`, at least three. A count
    * fixed by the arguments, not a deadline, keeps every run's samples at
    * the same points of the JVM's warm-up, which lasts the whole run. */
  val passes = if (ctx.small) 1 else math.max(3, math.ceil(ctx.o.seconds / 5).toInt)
  /** The splitter cuts eight full chunks and a short tail; five chunks per
    * micro-batch make two copy-on-write commits that each touch every
    * bucket, so the bytes written do not depend on the seed. */
  val chunk = rowsPerPass / 8
  val buckets = 4
  private var rows: IndexedSeq[Map[String, Any]] = IndexedSeq.empty
  private val walls = ArrayBuffer.empty[(Double, Boolean)]

  def prepare(): Unit = rows = Gen.snapshotRows(ctx.o.seed, rowsPerPass)

  private def pipelineYaml(id: String, sink: Path, ck: Path) =
    yaml(id, sink, ck, Seq("chunk.size" -> chunk, "chunks.per-batch" -> 5), buckets,
      Gen.snapTransformYaml.stripSuffix("\n"))

  /** One full drain of `input`, checked, then (when `reads`) the read mix;
    * returns the drain's wall in seconds. */
  private def pass(input: IndexedSeq[Map[String, Any]], traced: Boolean, reads: Boolean): Double = {
    val out = Gen.snapshotOut(input)
    val id = register(new ScriptedChangeSource(Gen.SnapTable, Gen.snapSchema, input))
    val sinkDir = ctx.freshDir("snap-sink")
    val runner = new PipelineRunner(YamlPipelineParser.parse(
      pipelineYaml(id, sinkDir, ctx.freshDir("snap-ck"))))(spark)
    val wall = ctx.maybeTraced(traced)(Ctx.seconds(runner.runHandlingDdl()))
    val table = new LakehouseTable(spark, sinkDir.resolve("app_orders_out").toString)
    ctx.op("snapshot drain") {
      digestOf(table.read(), Gen.snapOutColumns) == Gen.Digest.of(out.valuesIterator)
    }
    recordWriteAmp(table, 0L)
    if (traced) recordSink(table, -1L)
    if (reads) {
      val filtered = input.map(_("id").asInstanceOf[Long]).filterNot(out.contains)
      readMixes += ctx.maybeTraced(traced)(readMix(table, "id", Gen.snapOutColumns, out,
        probeKeys(out.keys, filtered), "qty2", 0L)(()))
    }
    ChangeSourceRegistry.remove(id)
    wall
  }

  /** Two full passes, the first with the read mix: the first passes in a
    * JVM run far slower than later ones. */
  def warmUp(): Unit = {
    pass(rows, traced = false, reads = true)
    pass(rows, traced = false, reads = false)
  }

  def measure(): Unit = {
    readMixes.clear()
    var i = 0
    // in a traced run odd passes are traced; the second pass (traced in a
    // traced run) is followed by the read mix
    while (i < passes) {
      val traced = ctx.tracer.isDefined && i % 2 == 1
      val (c0, j0, g0) = (Ctx.cpuSeconds, Ctx.jitSeconds, Ctx.gcSeconds)
      walls += pass(rows, traced, reads = i == 1) -> traced
      ctx.log(f"pass $i: ${walls.last._1}%.3f s ${Ctx.cpuLine(c0, j0, g0)}")
      i += 1
    }
  }

  private def untraced = walls.collect { case (w, false) => w }.toSeq
  def throughput: Double = Stats.median(untraced.map(rowsPerPass / _))
  def latenciesMs: Seq[Double] = untraced.map(_ * 1e3)
  def traceOverheadMs: Double =
    (Stats.median(walls.collect { case (w, true) => w }.toSeq) - Stats.median(untraced)) * 1e3

  def namedMetrics: Map[String, (Double, String)] = Map(
    "snapshot_rows_per_s" -> (throughput, "rows/s"),
    "write_amp" -> (writeAmp, "ratio"),
    "read_mix_s" -> (readMixS, "s"))

  def decompose(): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row.fromSeq(Gen.snapSchema.struct.fieldNames.toSeq.map(r(_)))), ctx.o.cpus),
      Gen.snapSchema.struct)
    stageByStage(Envelope.fromSnapshot(df, Gen.SnapTable, col("id")),
      pipelineYaml("unused", ctx.freshDir("stage-sink"), ctx.freshDir("stage-ck")),
      Gen.SnapTable, Gen.snapSchema, Seq("id"), buckets)
  }
}

/** change_replay: rounds against one lakehouse table, each (a) a backlog
  * segment of skewed changes with one ADD COLUMN, drained at once, then (b)
  * small transactions each drained on its own; then (c) the read mix plus
  * one time-travel read. An untimed snapshot, a warm-up transaction and one
  * untimed round come first. Interleaving the two kinds of drain spreads the
  * samples of both over the whole run. A round's transactions run under the
  * schema its segment left, so they do not pay first-use code generation. */
final class ChangeReplay(ctx: Ctx) extends CdcWorkload(ctx) {
  val initialRows = if (ctx.small) 300 else 1000
  /** Measured rounds: one per 8 s of `--seconds`, at least three; a fixed
    * count for the reason given at [[SnapshotLoad.passes]]. */
  val timedRounds = if (ctx.small) 1 else math.max(3, math.ceil(ctx.o.seconds / 8).toInt)
  val segmentEvents = if (ctx.small) 200 else 500
  val txnsPerRound = 2
  val txnSize = 40
  val buckets = 4
  val maxEventsPerTrigger = 1000
  private var script: Gen.ChangeScript = _
  /** rounds applied so far, the untimed one included */
  private var rounds = 0
  private val backlogRates = ArrayBuffer.empty[Double]
  private val commits = ArrayBuffer.empty[(Double, Boolean)]

  def prepare(): Unit =
    script = Gen.changeScript(ctx.o.seed, initialRows, timedRounds + 1, segmentEvents,
      txnsPerRound, txnSize)

  private def pipelineYaml(id: String, sink: Path, ck: Path) =
    yaml(id, sink, ck,
      Seq("chunk.size" -> initialRows, "log.max-events-per-trigger" -> maxEventsPerTrigger),
      buckets)

  private var src: ScriptedChangeSource = _
  private var id: String = _
  private var runner: PipelineRunner = _
  private var table: LakehouseTable = _
  /** table version and parquet bytes once the untimed start is done */
  private var v0 = -1L
  private var bytes0 = 0L
  /** table version at the end of the first segment */
  private var vA = -1L

  /** A fresh sink table with the initial snapshot, the warm-up transaction
    * and the first round applied. */
  def warmUp(): Unit = {
    src = new ScriptedChangeSource(Gen.ChangeTable, Gen.changeSchema, script.initial)
    id = register(src)
    val sinkDir = ctx.freshDir("change-sink")
    runner = new PipelineRunner(YamlPipelineParser.parse(
      pipelineYaml(id, sinkDir, ctx.freshDir("change-ck"))))(spark)
    table = new LakehouseTable(spark, sinkDir.resolve("app_accounts").toString)
    ctx.op("initial snapshot")(runner.runHandlingDdl() == 0)
    script.warm.foreach(Gen.feed(src, _))
    ctx.op("warm-up commit")(runner.runHandlingDdl() == 0)
    round(timed = false)
    v0 = table.latestVersion()
    bytes0 = Ctx.parquetBytes(Paths.get(table.dir))
  }

  /** The next round; when `timed`, its drains are samples (and traced in a
    * traced run: the segment always, every other transaction). */
  private def round(timed: Boolean): Unit = {
    val r = script.rounds(rounds)
    val traced = timed && ctx.tracer.isDefined
    // (a) the segment: one drain, restarted once at its DDL
    r.segment.foreach(Gen.feed(src, _))
    var applied = 0
    val (c0, j0, g0) = (Ctx.cpuSeconds, Ctx.jitSeconds, Ctx.gcSeconds)
    val drain = ctx.maybeTraced(traced)(Ctx.seconds { applied = runner.runHandlingDdl() })
    if (timed) backlogRates += r.events / drain
    ctx.log(f"round $rounds: ${r.events} events in $drain%.3f s ${Ctx.cpuLine(c0, j0, g0)}")
    ctx.op("backlog drain") {
      applied == 1 && (rounds > 0 || digestOf(table.read(), r.columns) ==
        Gen.digestOf(r.afterSegment, r.columns))
    }
    if (rounds == 0) vA = table.latestVersion()
    // (b) append one transaction, drain it; the commit is visible when the
    // drain returns
    r.txns.foreach { txn =>
      val tracedTxn = traced && commits.size % 2 == 1
      val before = table.latestVersion()
      val (c0, j0, g0) = (Ctx.cpuSeconds, Ctx.jitSeconds, Ctx.gcSeconds)
      val ms = ctx.maybeTraced(tracedTxn)(Ctx.seconds {
        txn.foreach(Gen.feed(src, _))
        runner.runHandlingDdl()
      }) * 1e3
      if (timed) commits += ms -> tracedTxn
      ctx.log(f"commit: $ms%.1f ms ${Ctx.cpuLine(c0, j0, g0)}")
      ctx.op("trickle commit")(table.latestVersion() > before)
    }
    rounds += 1
  }

  def measure(): Unit = {
    while (rounds < script.rounds.size) round(timed = true)
    val last = script.rounds.last
    ctx.op("final state") {
      digestOf(table.read(), last.columns) == Gen.digestOf(last.afterRound, last.columns)
    }
    recordWriteAmp(table, bytes0)
    val traced = ctx.tracer.isDefined
    if (traced) recordSink(table, v0)

    // (c) read mix; time travel goes back to the end of the first segment
    val finalRows =
      last.afterRound.map { case (k, r) => k -> last.columns.map(r.getOrElse(_, null)) }
    val everKeys = script.rounds.take(rounds).flatMap(_.segment)
      .collect { case Gen.Data(e) => src.keyOfEvent(e) }.toSet
    val first = script.rounds.head
    readMixes += ctx.maybeTraced(traced)(readMix(table, "k", last.columns, finalRows,
      probeKeys(finalRows.keys, everKeys.filterNot(finalRows.contains)), "a", v0) {
      ctx.op("time travel") {
        digestOf(timed("sinks.time_travel_s")(table.read(Some(vA))), first.columns) ==
          Gen.digestOf(first.afterSegment, first.columns)
      }
    })
    ChangeSourceRegistry.remove(id)
  }

  private def untraced = commits.collect { case (ms, false) => ms }.toSeq
  def throughput: Double = Stats.median(backlogRates.toSeq)
  def latenciesMs: Seq[Double] = untraced
  def traceOverheadMs: Double =
    Stats.median(commits.collect { case (ms, true) => ms }.toSeq) - Stats.median(untraced)

  def namedMetrics: Map[String, (Double, String)] = Map(
    "log_events_per_s" -> (throughput, "events/s"),
    "commit_latency_p50_ms" -> (Stats.percentile(untraced, 50), "ms"),
    "commit_latency_p75_ms" -> (Stats.percentile(untraced, 75), "ms"),
    "read_mix_s" -> (readMixS, "s"),
    "write_amp" -> (writeAmp, "ratio"))

  /** Stage-by-stage on the data events of the rounds run, as one envelope
    * batch under their final schema (the pipeline has no transform). */
  def decompose(): Unit = {
    import org.apache.spark.sql.types._
    val cols = script.rounds(rounds - 1).columns
    val rowType = StructType(Gen.changeSchema.struct.fields ++
      cols.drop(Gen.changeSchema.struct.size).map(StructField(_, LongType)))
    def row(m: Map[String, Any]): Row =
      if (m.isEmpty) null else Row.fromSeq(cols.map(m.getOrElse(_, null)))
    val events = script.rounds.take(rounds).flatMap(_.segment)
      .collect { case Gen.Data(e) => e }.zipWithIndex.map {
        case (e, i) => Row(Gen.ChangeTable.identifier, e.op.toString, row(e.before),
          row(e.after), i.toLong, Map.empty[String, String])
      }
    val env = spark.createDataFrame(spark.sparkContext.parallelize(events, ctx.o.cpus),
      Envelope.envelopeSchema(rowType))
    stageByStage(env, pipelineYaml("unused", ctx.freshDir("stage-sink"),
      ctx.freshDir("stage-ck")), Gen.ChangeTable, graft.core.TableSchema(rowType, Seq("k")),
      Seq("k"), buckets)
  }
}

/** Per-layer metrics every workload reports from the listeners. */
object Layers {
  /** Every per-layer metric, in output order, with its unit; a layer idle
    * on a workload reports 0. Matches `per_layer` in BENCHMARK.json. */
  val all: Seq[(String, String)] = Seq(
    "sources.snapshot_read_ms" -> "ms", "sources.snapshot_read_calls" -> "count",
    "sources.read_log_ms" -> "ms", "sources.read_log_calls" -> "count",
    "sources.rows_out" -> "count",
    "operators.transform_s" -> "s", "operators.transform_selectivity" -> "ratio",
    "operators.upsert_s" -> "s", "operators.upsert_collapse_ratio" -> "ratio",
    "operators.coerce_s" -> "s",
    "pipeline.passes" -> "count", "pipeline.ddl_restart_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.fixed_ms_per_batch" -> "ms",
    "sinks.merge_s" -> "s", "sinks.commits" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.buckets_rewritten_per_commit" -> "count",
    "sinks.live_files" -> "count", "sinks.live_bytes" -> "bytes",
    "sinks.snapshot_replay_ms" -> "ms", "sinks.point_read_ms" -> "ms",
    "sinks.scan_agg_s" -> "s", "sinks.change_feed_s" -> "s",
    "sinks.files_pruned_frac" -> "ratio", "sinks.read_mix_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "codegen.compile_ms" -> "ms", "codegen.classes" -> "count",
    "executor.task_cpu_s" -> "s", "executor.tasks" -> "count",
    "executor.shuffle_read_bytes" -> "bytes", "executor.shuffle_write_bytes" -> "bytes",
    "executor.spill_bytes" -> "bytes", "executor.gc_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.floor_s" -> "s",
    "driver.other_s" -> "s", "trace.overhead_ms" -> "ms")

  def common(t: Tracer): Map[String, (Double, String)] = {
    val batches = t.get("streaming.batches")
    def perBatch(name: String) = if (batches > 0) t.get(name) / batches else 0.0
    val restarts = t.get("pipeline.ddl_restarts")
    Map(
      "sources.snapshot_read_ms" -> (t.get("sources.snapshot_read_ms"), "ms"),
      "sources.snapshot_read_calls" -> (t.get("sources.snapshot_read_calls"), "count"),
      "sources.read_log_ms" -> (t.get("sources.read_log_ms"), "ms"),
      "sources.read_log_calls" -> (t.get("sources.read_log_calls"), "count"),
      "sources.rows_out" -> (t.get("sources.rows_out"), "count"),
      "pipeline.passes" -> (t.get("pipeline.passes"), "count"),
      "pipeline.ddl_restart_ms" ->
        (if (restarts > 0) t.get("pipeline.ddl_restart_ms") / restarts else 0.0, "ms"),
      "streaming.batches" -> (batches, "count"),
      "streaming.latest_offset_ms" -> (perBatch("streaming.latest_offset_ms"), "ms"),
      "streaming.query_planning_ms" -> (perBatch("streaming.query_planning_ms"), "ms"),
      "streaming.add_batch_ms" -> (perBatch("streaming.add_batch_ms"), "ms"),
      "streaming.wal_commit_ms" -> (perBatch("streaming.wal_commit_ms"), "ms"),
      "streaming.trigger_ms" -> (perBatch("streaming.trigger_ms"), "ms"),
      "streaming.fixed_ms_per_batch" ->
        (perBatch("streaming.trigger_ms") - perBatch("streaming.add_batch_ms"), "ms"),
      "catalyst.analysis_ms" -> (t.get("catalyst.analysis_ms"), "ms"),
      "catalyst.optimization_ms" -> (t.get("catalyst.optimization_ms"), "ms"),
      "catalyst.planning_ms" -> (t.get("catalyst.planning_ms"), "ms"),
      "codegen.compile_ms" -> (t.get("codegen.compile_ms"), "ms"),
      "codegen.classes" -> (t.get("codegen.classes"), "count"),
      "executor.task_cpu_s" -> (t.get("executor.task_cpu_s"), "s"),
      "executor.tasks" -> (t.get("executor.tasks"), "count"),
      "executor.shuffle_read_bytes" -> (t.get("executor.shuffle_read_bytes"), "bytes"),
      "executor.shuffle_write_bytes" -> (t.get("executor.shuffle_write_bytes"), "bytes"),
      "executor.spill_bytes" -> (t.get("executor.spill_bytes"), "bytes"),
      "executor.gc_s" -> (t.get("executor.gc_s"), "s"),
      "scheduler.jobs" -> (t.get("scheduler.jobs"), "count"),
      "scheduler.stages" -> (t.get("scheduler.stages"), "count"),
      "driver.other_s" -> (t.get("driver.other_s"), "s"))
  }
}
