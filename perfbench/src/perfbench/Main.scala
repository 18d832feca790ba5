package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; one JVM runs one workload.
  *
  * {{{
  *   perfbench.Main --workload <snapshot_load|change_replay>
  *                  --seed <n> --seconds <s> --trace <0|1> --work <dir> --cpus <n>
  * }}}
  *
  * `--workload smoke` runs every workload's set-up and warm-up at toy size
  * and prints nothing; the build uses it to record which classes a run
  * loads.
  *
  * Prints human-readable progress on stderr, then on stdout one `report`
  * line (every end-to-end figure of the run by its workload-specific name)
  * and, last, the result line `{"correct","attempted","failed","metrics"}`:
  * the end-to-end metrics when `--trace 0`, the per-layer metrics when
  * `--trace 1`.
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, cpus: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath,
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionReady = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, o, tracer)
    if (ctx.small) {
      // every workload's set-up at toy size: the class-loading profile the
      // build archives for later runs' JVM start
      Seq(new SnapshotLoad(ctx), new ChangeReplay(ctx)).foreach { w =>
        w.prepare(); w.warmUp()
      }
      spark.stop()
      return
    }
    val w: CdcWorkload = o.workload match {
      case "snapshot_load" => new SnapshotLoad(ctx)
      case "change_replay" => new ChangeReplay(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val setupReps = (1 to 3).map(_ => Ctx.seconds(w.prepare()))
    val warm = Ctx.seconds(w.warmUp())
    val setup = sessionReady + Stats.median(setupReps) + warm
    ctx.log(f"setup: session $sessionReady%.2f s, prepare ${setupReps.map(x => f"$x%.2f")
      .mkString(" ")} s, warm-up $warm%.2f s")
    w.measure()
    // the floor and the decomposition are per-layer figures: traced runs only
    val floor = if (o.trace) schedulingFloor(spark, o.cpus) else 0.0
    tracer.foreach(_ => w.decompose())

    val e2e = Map(
      "setup_s" -> (setup, "s"),
      "throughput_per_s" -> (w.throughput, "1/s"),
      "latency_p50_ms" -> (Stats.percentile(w.latenciesMs, 50), "ms"),
      "write_amp" -> (w.writeAmp, "ratio"))
    // p75 rests on a handful of samples per run: reported, not gated
    val named = w.namedMetrics ++
      Map("latency_p75_ms" -> (Stats.percentile(w.latenciesMs, 75), "ms")) ++
      (if (o.trace) Map("scheduler.floor_s" -> (floor, "s")) else Nil)
    println(Json.obj(Seq(
      "report" -> Json.str(o.workload),
      "metrics" -> Json.metrics((e2e ++ named).toSeq.sortBy(_._1)))))
    val metrics =
      if (o.trace) {
        val layer = w.layerMetrics(tracer.get) ++ Map(
          "scheduler.floor_s" -> (floor, "s"),
          "trace.overhead_ms" -> (w.traceOverheadMs, "ms"))
        Layers.all.map { case (name, unit) => name -> layer.getOrElse(name, (0.0, unit)) }
      } else e2e.toSeq.sortBy(_._1)
    println(Json.obj(Seq(
      "correct" -> (ctx.ops.failed == 0).toString,
      "attempted" -> ctx.ops.attempted.toString,
      "failed" -> ctx.ops.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    spark.stop()
  }

  /** The scheduling-floor control: 100 trivial Spark jobs (one task per
    * core) after one untimed job, in seconds. Its drift between two runs
    * is box drift, not a change in the program. */
  def schedulingFloor(spark: SparkSession, cpus: Int): Double = {
    val df = spark.range(0, 1000, 1, cpus)
    df.count()
    Ctx.seconds((1 to 100).foreach(_ => df.count()))
  }
}

/** Run-wide state shared by a workload: session, options, operation counts. */
final class Ctx(val spark: SparkSession, val o: Main.Opts, val tracer: Option[Tracer]) {
  val ops = new Ops
  /** toy input sizes (the smoke run) */
  val small: Boolean = o.workload == "smoke"
  def log(msg: String): Unit = Console.err.println(s"[perfbench ${o.workload}] $msg")

  /** Fresh empty directory under the run's work dir. */
  def freshDir(name: String): Path = {
    val d = o.work.resolve(name)
    Ctx.deleteTree(d)
    Files.createDirectories(d)
  }

  /** Run `body` inside a traced span when `traced`, untouched otherwise. */
  def maybeTraced[A](traced: Boolean)(body: => A): A =
    tracer.filter(_ => traced).fold(body)(_.traced(body))

  /** One operation: counted as attempted; an exception or a false result
    * counts it as failed (and is logged) without stopping the run. */
  def op(what: String)(body: => Boolean): Unit = {
    ops.attempted += 1
    val ok =
      try body
      catch { case e: Throwable => log(s"$what failed: $e"); false }
    if (!ok) { ops.failed += 1; log(s"$what: output does not match the oracle") }
  }
}

object Ctx {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole JVM (every thread) has used so far. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  def jitSeconds: Double = jit.getTotalCompilationTime / 1e3
  def gcSeconds: Double = { var t = 0L; gcs.forEach(g => t += g.getCollectionTime); t / 1e3 }
  def cpuLine(c0: Double, j0: Double, g0: Double): String =
    f"cpu ${cpuSeconds - c0}%.3f jit ${jitSeconds - j0}%.3f gc ${gcSeconds - g0}%.3f"
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  /** Total size of the `*.parquet` files under `dir`. */
  def parquetBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum
      finally s.close()
    }
}

final class Ops { var attempted = 0; var failed = 0 }

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Linear-interpolated percentile (the `statistics.quantiles` inclusive rule). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (n, (v, u)) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
