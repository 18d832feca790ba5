package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Block until every posted listener event has been delivered: job and
    * streaming-progress events post asynchronously. `listenerBus` is
    * `private[spark]` in source but public in bytecode. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** All messages down the cause chain, joined — Spark wraps task-side
    * failures (e.g. `raise_error`) in several layers of SparkException. */
  def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
}
