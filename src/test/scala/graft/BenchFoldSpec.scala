package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pass-folding contract behind every bench number (Bench.foldPasses):
  * a query's reported time is the MIN over successful passes, and a query
  * is an error only when EVERY pass failed — a transient single-pass
  * failure must neither report a fast-fail duration as the query's time
  * nor mark a succeeded query as an error (the round-4 advice race).
  */
class BenchFoldSpec extends AnyFunSuite {

  test("all passes succeed: min wins") {
    assert(Bench.foldPasses(Seq(Right(2.5), Right(1.5))) == Right(1.5))
  }

  test("one pass fails transiently: the surviving time wins, no error") {
    assert(Bench.foldPasses(Seq(Left("gc pause"), Right(3.0))) == Right(3.0))
    assert(Bench.foldPasses(Seq(Right(3.0), Left("oom"))) == Right(3.0))
  }

  test("every pass fails: the FIRST error is reported") {
    assert(Bench.foldPasses(Seq(Left("first"), Left("second"))) == Left("first"))
  }

  test("a fast failure never masquerades as a fast time") {
    // a pass that dies in 0.01s contributes no duration at all
    val folded = Bench.foldPasses(Seq(Left("died at 0.01s"), Right(4.0)))
    assert(folded == Right(4.0))
  }

  /** A window of `wallSec` on `cpus` CPUs at 100 ticks per CPU-second. */
  private def window(busy: Double, own: Double, steal: Double = 0.0,
                     cpus: Int = 4, wallSec: Double = 10.0): Bench.CpuWindow = {
    val ticks = (wallSec * cpus * 100).toLong
    val before = Bench.CpuSnapshot(0L, 0L, 0L, 0L, 0L, cpus)
    Bench.cpuWindow(before, Bench.CpuSnapshot((wallSec * 1e9).toLong,
      (own * wallSec * cpus * 1e9).round, (busy * ticks).round, (steal * ticks).round, ticks, cpus))
  }

  test("noise sentinel: factor is measured/norm, noisy strictly above NoisyFactor") {
    // the factor is the CPU-bound slowdown from the capacity others took
    val idle = window(busy = 0.0, own = 0.0)
    assert(math.abs(idle.noiseFactor - 1.0) < 1e-9 && !idle.noisy)
    // exactly at the threshold is NOT noisy (> not >=): the flag marks
    // pollution, not the host's own tail
    val at = window(busy = 1.0 - 1.0 / Bench.NoisyFactor, own = 0.0)
    assert(math.abs(at.noiseFactor - Bench.NoisyFactor) < 1e-9 && !at.noisy)
    val hot = window(busy = 0.9, own = 0.1)
    assert(hot.noiseFactor > Bench.NoisyFactor && hot.noisy)
    assert(Bench.NoisyFactor < 2.0)
  }

  test("CPU window from two snapshots: own load and idle are not noisy, steal is") {
    val stat =
      """cpu  1000 50 200 8000 100 10 20 300 40 0
        |cpu0 500 25 100 4000 50 5 10 150 20 0
        |cpu1 500 25 100 4000 50 5 10 150 20 0
        |intr 12345
        |""".stripMargin
    // busy = user + nice + system + irq + softirq + steal; guest time is
    // already inside user and nice, so it is not counted twice
    assert(Bench.CpuSnapshot.parse(stat, 7L, 9L) ==
      Some(Bench.CpuSnapshot(7L, 9L, 1580L, 300L, 9680L, 2)))
    assert(Bench.CpuSnapshot.parse("intr 1\n", 7L, 9L).isEmpty)
    assert(Bench.CpuSnapshot.parse("cpu  1 2 3\ncpu0 1 2 3\n", 7L, 9L).isEmpty)
    assert(Bench.CpuSnapshot.parse(stat.replace("8000", "x"), 7L, 9L).isEmpty)
    // an idle host
    val idle = window(busy = 0.02, own = 0.0)
    assert(!idle.noisy && idle.noiseFactor < 1.1)
    // the bench's own load saturates the host: none of it is foreign
    val own = window(busy = 0.99, own = 0.99)
    assert(!own.noisy && own.foreignShare < 1e-9 && own.foreignCpuSec < 1e-6)
    // own CPU a hair above the busy ticks clamps at no foreign load
    assert(window(busy = 0.5, own = 0.55).foreignShare == 0.0)
    // the hypervisor steals half the host while the bench uses the rest
    val stolen = window(busy = 1.0, own = 0.5, steal = 0.5)
    assert(stolen.noisy && math.abs(stolen.noiseFactor - 2.0) < 1e-9)
    assert(math.abs(stolen.stealShare - 0.5) < 1e-9)
    assert(math.abs(stolen.foreignCpuSec - 20.0) < 1e-6, "half of 4 CPUs for 10 s")
    // a saturated foreign window stays finite
    assert(window(busy = 1.0, own = 0.0).noiseFactor.isFinite)
  }

  test("baseline parse: queries map and sf basename out of bench_out.json format") {
    val json = """{"metric":"total","value":47.5,"unit":"sec","queries":{"a01_kpis":0.25,"o22_minhash":1.37,"t01_pricing":0.23},"setup_sec":9.4,"n_errors":0,"errors":{},"noisy":false,"sf":"/root/testdata/sf0.1"}"""
    val (qs, sf) = Bench.parseBaseline(json)
    assert(qs == Map("a01_kpis" -> 0.25, "o22_minhash" -> 1.37, "t01_pricing" -> 0.23))
    // sf compares as basename so a full-dir baseline matches a basename run
    assert(sf.contains("sf0.1"))
    // degenerate inputs abstain instead of throwing
    assert(Bench.parseBaseline("not json at all")._1.isEmpty)
    assert(Bench.parseBaseline("""{"queries":{}}""")._1.isEmpty)
  }

  test("self-history: median per-query ratio, abstains below minimums") {
    val base = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    // clean run: all ratios 1.0
    val clean = (1 to 20).map(i => f"q$i%02d" -> 1.0)
    assert(Bench.historySignal(clean, base).factor.contains(1.0))
    // polluted run: everything 2×; median sees it even though one
    // query improved 10× (median, not mean — a legitimately changed
    // plan must not dominate)
    val polluted = (1 to 19).map(i => f"q$i%02d" -> 2.0) :+ ("q20" -> 0.1)
    assert(Bench.historySignal(polluted, base).factor.exists(_ > Bench.HistoryNoisyFactor))
    // fast queries are excluded: their ratios are timer noise
    val fastBase = base ++ (21 to 40).map(i => f"f$i%02d" -> 0.01).toMap
    val fastWild = clean ++ (21 to 40).map(i => f"f$i%02d" -> 0.09)
    assert(Bench.historySignal(fastWild, fastBase).factor.contains(1.0))
    // fewer than HistoryMinQueries common slow queries: abstain (None)
    assert(Bench.historySignal(clean.take(Bench.HistoryMinQueries - 1), base).factor.isEmpty)
    // no baseline at all: abstain
    assert(Bench.historySignal(clean, Map.empty).factor.isEmpty)
    // SHORT-ID baseline (the committed BENCH_CLEAN stdout format) must
    // match FULL registry names in the current run — the r18-found
    // abstention bug: exact-name intersection was empty, so the
    // sentinel returned null on every real bench since the short-id
    // format landed
    val shortBase = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    val fullClean = (1 to 20).map(i => f"q$i%02d_some_name" -> 2.0)
    assert(Bench.historySignal(fullClean, shortBase).factor.contains(2.0))
    // ambiguous short ids are dropped, not mismatched
    val collided = fullClean :+ ("q01_other_name" -> 9.0)
    assert(Bench.historySignal(collided, shortBase).factor.contains(2.0))
  }

  test("history sentinel reports coverage and dropped ids (not silent)") {
    // the r16-r18 failure shape was SILENT coverage loss: the sentinel
    // abstained (factor null) with nothing in the artifact saying how
    // many queries matched. historySignal carries both.
    val base = (1 to 20).map(i => f"q$i%02d" -> 1.0).toMap
    val clean = (1 to 20).map(i => f"q$i%02d" -> 1.0)
    val full = Bench.historySignal(clean, base)
    assert(full.factor.contains(1.0) && full.matched == 20 && full.droppedIds.isEmpty)
    // a prefix collision on the CURRENT side drops that id and says so
    val collided = clean :+ ("q01_other_name" -> 9.0)
    val c = Bench.historySignal(collided, base)
    assert(c.matched == 19 && c.droppedIds == Seq("q01"))
    // a baseline mixing short and full keys for the same query is an
    // ambiguity on the BASELINE side — dropped and reported too
    val mixedBase = base + ("q02_full_name" -> 1.0)
    val m = Bench.historySignal(clean, mixedBase)
    assert(m.matched == 19 && m.droppedIds == Seq("q02"))
    // abstention is visible as matched < HistoryMinQueries, factor None
    val few = Bench.historySignal(clean.take(Bench.HistoryMinQueries - 1), base)
    assert(few.factor.isEmpty && few.matched == Bench.HistoryMinQueries - 1)
    // a baseline-side ambiguity for an id ABSENT from this run (a
    // since-deleted query) never affected coverage and is not reported
    val staleBase = base + ("z99_gone" -> 1.0) + ("z99_gone_too" -> 1.0)
    val s = Bench.historySignal(clean, staleBase)
    assert(s.matched == 20 && s.droppedIds.isEmpty)
  }

  test("history abstains against a baseline from another host or sf") {
    val json = """{"metric":"total","value":47.5,"unit":"sec","queries":{"a01_kpis":0.25},"setup_sec":9.4,"n_errors":0,"errors":{},"cpus":32,"noisy":false,"sf":"data/sf0.1"}"""
    assert(Bench.baselineCpus(json).contains(32))
    // the committed BENCH_CLEAN.json is a 32-core run: a 4-core run's
    // ratios against it measure the host, not pollution
    val off = Bench.historyOff(Some("sf0.1"), Bench.baselineCpus(json), "sf0.1", 4)
    assert(off.exists(_.contains("cpus 32")), off)
    // a baseline that did not record its cores abstains too
    val noCpus = json.replace("\"cpus\":32,", "")
    assert(Bench.baselineCpus(noCpus).isEmpty)
    assert(Bench.historyOff(Some("sf0.1"), None, "sf0.1", 4).exists(_.contains("unknown")))
    // another sf abstains, as before
    assert(Bench.historyOff(Some("sf0.1"), Some(4), "sf0.01", 4).exists(_.contains("sf0.1")))
    // same sf, same cores: the signal runs
    assert(Bench.historyOff(Some("sf0.1"), Some(32), "sf0.1", 32).isEmpty)
  }

  test("bench landing pad: env override, driver-contract default") {
    // round 19 lost a completed-capable sf10 bench to the hardcoded cwd
    // bench_out.json (the driver's later sf0.1 run clobbered it); the
    // env override gives concurrent benches distinct files while the
    // driver's contract path stays the default
    assert(Bench.outPath(Map.empty) == "bench_out.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/bench_sf10.json"))
      == "/tmp/bench_sf10.json")
    // unrelated env noise does not redirect the landing pad
    assert(Bench.outPath(Map("SPARK_GRAFT_SF_DIR" -> "x")) == "bench_out.json")
  }

  test("synthetic background burn: the probe detects a deliberate CPU burn") {
    // the round-11 sentinel's failure mode was under-detection; this
    // locks the CPU signal's sensitivity: a full-box spin burn must read
    // noisy. The burn runs in child processes, because this JVM's own
    // threads are the bench's load and are correctly not foreign.
    def snapshot() = Bench.cpuSnapshot().getOrElse(fail("/proc/stat unreadable"))
    val burners = scala.collection.mutable.ArrayBuffer[Process]()
    try {
      // 2× oversubscription: more runnable spinners than cores
      for (_ <- 1 to 2 * Runtime.getRuntime.availableProcessors)
        burners += new ProcessBuilder("sh", "-c", "while :; do :; done").start()
      Thread.sleep(200)
      val before = snapshot()
      Thread.sleep(1500)
      val burned = Bench.cpuWindow(before, snapshot())
      assert(burned.noisy,
        f"factor ${burned.noiseFactor}%.2f (busy ${burned.busyShare}%.2f, own ${burned.ownShare}%.2f) under burn — sentinel would miss this")
    } finally {
      burners.foreach(_.destroyForcibly())
      burners.foreach(_.waitFor())
    }
  }

  test("slowest decile: ceil(n/10) names, slowest-first, deterministic ties") {
    val timed = (1 to 20).map(i => f"q$i%02d" -> i.toDouble)
    // 20 queries -> decile of 2: the two largest times
    assert(Bench.slowestDecile(timed) == Set("q19", "q20"))
    // always at least one, even for a tiny registry
    assert(Bench.slowestDecile(Seq("a" -> 1.0)) == Set("a"))
    assert(Bench.slowestDecile(Seq("a" -> 1.0, "b" -> 2.0)) == Set("b"))
    // ties broken by name so the refined set is identical across JVMs
    assert(Bench.slowestDecile(
      (1 to 20).map(i => f"q$i%02d" -> 5.0)) == Set("q01", "q02"))
  }
}
