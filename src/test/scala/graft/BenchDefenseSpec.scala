package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's sentinel self-defense: the wall/cpu steal-ratio probe and
  * the windowed retry mechanics. The CONTENDED direction is asserted (it
  * only gets more contended if other suites run concurrently); the clean
  * direction is validated by the bench run itself, where the artifact
  * records per-window drift. */
class BenchDefenseSpec extends AnyFunSuite {

  test("probe returns coupled wall and cpu seconds") {
    val s = new Bench.SentinelDefense
    s.init()
    val (wall, cpu) = s.probe()
    assert(wall > 0 && cpu > 0)
    // thread cpu time can never exceed wall by more than clock granularity
    assert(cpu <= wall * 1.02 + 0.005)
  }

  test("windowed returns the body result and records a drift for the tag") {
    val s = new Bench.SentinelDefense
    s.init()
    assert(s.windowed("t", maxRetries = 0) { 41 + 1 } == 42)
    assert(s.drifts.contains("t"))
  }

  test("EQUAL subscription fires the detector (the single-thread blind spot)") {
    // a competitor with exactly this box's core count leaves ~zero steal
    // for one extra thread, but halves every N-thread Spark stage — the
    // parallel probe must read it as contention
    val s = new Bench.SentinelDefense
    s.init()
    val cores = Runtime.getRuntime.availableProcessors()
    val spinners = (1 to cores).map { _ =>
      val t = new Thread(() => {
        var y = 1L
        while (!Thread.currentThread().isInterrupted) { y ^= y << 13; y ^= y >>> 7 }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    try {
      Thread.sleep(200)
      s.windowed("equal", maxRetries = 0) { () }
      assert(s.drifts("equal") > s.driftTolerance,
        s"an equal-size competitor must read as steal, got ${s.drifts("equal")}")
    } finally spinners.foreach(_.interrupt())
  }

  test("oversubscription fires the steal detector and exhausts retries") {
    val s = new Bench.SentinelDefense
    s.init()
    val cores = Runtime.getRuntime.availableProcessors()
    val spinners = (1 to cores * 3).map { _ =>
      val t = new Thread(() => {
        var y = 1L
        while (!Thread.currentThread().isInterrupted) { y ^= y << 13; y ^= y >>> 7 }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    try {
      Thread.sleep(200) // let the runqueue fill
      var bodyRuns = 0
      s.windowed("dirty", maxRetries = 2) { bodyRuns += 1 }
      assert(s.drifts("dirty") > s.driftTolerance,
        s"3x oversubscription must read as steal, got ${s.drifts("dirty")}")
      assert(s.retries.get("dirty").contains(2), "retries exhausted")
      assert(bodyRuns == 3, "the body re-ran once per retry")
    } finally spinners.foreach(_.interrupt())
  }

  test("contract record: one total line within the budget, cpu degrades, essentials stay") {
    val essential = Seq(""""metric":"total"""", """"value":1.000""", """"queries":{}""")
    val named = """"cpu":{"q1_agg":0.10,"q3_join":0.20,"q5_local_supplier":0.30}"""
    val compact = """"cpu_headline_order":[0.10,0.20,0.30]"""
    val optional = Seq(""""retries":{}""", """"baseline":{"b1":1.0}""")
    def fields(line: String) = line.stripPrefix("{").stripSuffix("}")

    // everything fits: all fields, optional ones first
    val full = Bench.contractRecord(essential, Seq(named, compact), optional)
    assert(fields(full) == (optional ++ Seq(named) ++ essential).mkString(","))

    // optional fields go least critical first before the named cpu map does
    val budget1 = full.length - 1
    val noRetries = Bench.contractRecord(essential, Seq(named, compact), optional, budget1)
    assert(noRetries.length <= budget1)
    assert(fields(noRetries) == (optional.tail ++ Seq(named) ++ essential).mkString(","))

    // the compact fallback is itself held to the budget, and last the cpu
    // field goes entirely; the essential fields are never dropped
    val bare = ("{" + essential.mkString(",") + "}").length
    val withCompact = Bench.contractRecord(essential, Seq(named, compact), optional,
      bare + compact.length + 1)
    assert(fields(withCompact) == (Seq(compact) ++ essential).mkString(","))
    val noCpu = Bench.contractRecord(essential, Seq(named, compact), optional, bare)
    assert(noCpu == "{" + essential.mkString(",") + "}")
    Seq(full, noRetries, withCompact, noCpu).foreach(l =>
      assert(l.split("\"metric\":\"total\"", -1).length == 2, l))
  }
}
