package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.MissingNode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main: every registry query against SPARK_GRAFT_SF_DIR,
  * one JSON line to stdout + bench_out.json.
  *
  * Measurement honesty (round-1 verdict items):
  *  - results are materialized through the `noop` v2 sink, not `.count()`
  *    — count lets Catalyst delete final sorts (EliminateSorts) and prune
  *    most projections, under-measuring what Verify actually runs;
  *  - one untimed warm-up pass absorbs JVM/codegen/session start, so
  *    per-query numbers are plan costs, not first-query artifacts;
  *  - each query is timed twice and the MIN reported, so a GC pause or
  *    JIT recompile isn't attributed to whichever query it lands on;
  *  - queries run in sorted-name order (deterministic across JVMs);
  *  - layer materialization (Gold.ensure) is timed separately as
  *    `setup_sec` — it is a run-once pipeline cost, amortized across all
  *    queries, exactly like the reference's nightly CTAS rebuild.
  *  - the noise sentinel runs no work of its own: it reads the host's
  *    CPU counters at each end of the timed window ([[cpuWindow]]) and
  *    compares per-query times with a committed clean bench.
  *
  * Round-6 bisect of the round-5 "common-subset regression" (r4 43.8 s →
  * r5 47.4 s driver-measured, with o26 0.42→1.66 and o34 0.59→1.13):
  * NOT reproducible. The same binary and data, same machine class, run
  * twice back-to-back — full 92-query registry vs the exact 73-query
  * r4 list (`SPARK_GRAFT_BENCH_ONLY`) — gives 36.90 s vs 36.64 s on the
  * common subset (0.7% apart) with o26 at 0.23-0.25 s in BOTH, and the
  * o26/o34/t08 sources are untouched since round 4 (git-verified), so
  * the plans are identical. Registry growth costs nothing; the r5
  * driver numbers reflect sustained co-located load during that bench
  * window (both timed passes were slow, so min-of-two couldn't mask
  * it), not a plan regression.
  */
object Bench {

  /** Fold a query's timed passes into one verdict: the MIN over
    * successful passes, or — only when EVERY pass failed — the first
    * error. A transient single-pass failure must not report a fast-fail
    * duration as the query's time, nor mark a succeeded query as an
    * error (the round-4 advice race; unit-locked in BenchFoldSpec).
    */
  def foldPasses(passes: Seq[Either[String, Double]]): Either[String, Double] = {
    val ok = passes.collect { case Right(t) => t }
    if (ok.isEmpty) Left(passes.head.left.getOrElse("unknown"))
    else Right(ok.min)
  }

  /** The ~10% slowest queries by current time — the set that gets a
    * third timed pass. Always at least one query; ties broken by name
    * so the set is deterministic across JVMs.
    */
  def slowestDecile(timed: Seq[(String, Double)]): Set[String] = {
    val n = math.max(1, math.ceil(timed.size / 10.0).toInt)
    timed.sortBy { case (name, t) => (-t, name) }.take(n).map(_._1).toSet
  }

  /** The CPU signal's threshold, as a slowdown: `noise_factor` is the
    * factor by which a CPU-bound query slows when other processes or
    * the hypervisor take part of the host's capacity, so 1.6 means they
    * took 37.5% of it over the timed window.
    */
  val NoisyFactor = 1.6
  /** Self-history signal: median per-query ratio vs the committed
    * clean bench above this ⇒ noisy. Queries with baseline time below
    * HistoryMinBaselineSec are excluded (timer noise dominates their
    * ratios); the signal abstains entirely (None) below
    * HistoryMinQueries common queries, or against a baseline from
    * another sf or core count ([[historyOff]]).
    */
  val HistoryNoisyFactor = 1.5
  val HistoryMinBaselineSec = 0.15
  val HistoryMinQueries = 10

  /** One reading of the host's aggregate `cpu` line of /proc/stat (in
    * clock ticks; busy = user + nice + system + irq + softirq + steal,
    * total = busy + idle + iowait) and of this JVM's own CPU time.
    */
  final case class CpuSnapshot(wallNanos: Long, ownCpuNanos: Long, busyTicks: Long,
                               stealTicks: Long, totalTicks: Long, cpus: Int)

  object CpuSnapshot {
    /** Parse /proc/stat text; None when it has no well-formed aggregate
      * line with at least the eight fields up to steal.
      */
    def parse(procStat: String, wallNanos: Long, ownCpuNanos: Long): Option[CpuSnapshot] = {
      val lines = procStat.linesIterator.toSeq
      val cpus = lines.count(_.matches("cpu\\d+ .*"))
      lines.find(_.startsWith("cpu "))
        .flatMap(l => scala.util.Try(l.split("\\s+").drop(1).map(_.toLong)).toOption)
        .filter(f => f.length >= 8 && cpus > 0)
        .map { f =>
          val busy = f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
          CpuSnapshot(wallNanos, ownCpuNanos, busy, f(7), busy + f(3) + f(4), cpus)
        }
    }
  }

  /** Read a snapshot now; None when /proc/stat or the process CPU time
    * cannot be read.
    */
  def cpuSnapshot(): Option[CpuSnapshot] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        try {
          val stat = Files.readString(Paths.get("/proc/stat"))
          val own = os.getProcessCpuTime
          if (own < 0) None else CpuSnapshot.parse(stat, System.nanoTime(), own)
        } catch { case _: java.io.IOException => None }
      case _ => None
    }

  /** What the host's CPU did over a window, as shares of its capacity:
    * busy (anyone's, steal included), this JVM's own, and steal.
    */
  final case class CpuWindow(wallSec: Double, cpus: Int, busyShare: Double,
                             ownShare: Double, stealShare: Double) {
    /** The share other processes or the hypervisor took. The bench's
      * own CPU, GC and JIT threads included, is never foreign.
      */
    def foreignShare: Double = math.max(0.0, busyShare - ownShare)
    def foreignCpuSec: Double = foreignShare * wallSec * cpus
    /** The slowdown a CPU-bound query sees from the foreign share; the
      * floor on the free share keeps a saturated window finite.
      */
    def noiseFactor: Double = 1.0 / math.max(1.0 - foreignShare, 1e-3)
    def noisy: Boolean = noiseFactor > NoisyFactor
  }

  /** The window between two snapshots. The own share is own CPU seconds
    * over wall seconds × the CPU count /proc/stat reports.
    */
  def cpuWindow(before: CpuSnapshot, after: CpuSnapshot): CpuWindow = {
    val wallSec = math.max(after.wallNanos - before.wallNanos, 1L) / 1e9
    val ticks = math.max(after.totalTicks - before.totalTicks, 1L).toDouble
    CpuWindow(wallSec, after.cpus,
      busyShare = (after.busyTicks - before.busyTicks) / ticks,
      ownShare = (after.ownCpuNanos - before.ownCpuNanos) / 1e9 / (wallSec * after.cpus),
      stealShare = (after.stealTicks - before.stealTicks) / ticks)
  }

  /** A committed bench JSON as a tree; a missing node when it is not JSON. */
  private def baselineTree(json: String): JsonNode =
    scala.util.Try(Json.parse[JsonNode](json)).getOrElse(MissingNode.getInstance)

  /** Extract the per-query map (and the sf basename, if recorded) from
    * a committed bench JSON; entries whose time is not a number are
    * dropped.
    */
  def parseBaseline(json: String): (Map[String, Double], Option[String]) = {
    val tree = baselineTree(json)
    val queries = tree.path("queries").properties.asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
    val sf = Some(tree.path("sf")).filter(_.isTextual).map(_.asText.split('/').last)
    (queries, sf)
  }

  /** The core count a bench JSON was recorded with (bench_out.json's
    * `cpus`); None when it was not recorded.
    */
  def baselineCpus(json: String): Option[Int] =
    Some(baselineTree(json).path("cpus")).filter(_.isInt).map(_.asInt)

  /** Why the history signal must abstain against a baseline, if it must.
    * Per-query ratios measure pollution only against a baseline recorded
    * at the same sf on the same core count: across sfs they measure data
    * growth, across hosts the host (a 32-core baseline read 0.67 on a
    * 4-core host, where a 2.2× slowdown would still read below 1.5).
    */
  def historyOff(baseSf: Option[String], baseCpus: Option[Int],
                 sf: String, cpus: Int): Option[String] =
    if (!baseSf.contains(sf)) Some(s"baseline sf ${baseSf.getOrElse("unknown")} != run sf $sf")
    else if (!baseCpus.contains(cpus))
      Some(s"baseline cpus ${baseCpus.fold("unknown")(_.toString)} != run cpus $cpus")
    else None

  /** The self-history sentinel's full reading: the median ratio (None =
    * abstained), HOW MANY queries it was computed over, and which short
    * ids were dropped as ambiguous. `matched` goes into the bench JSON
    * as `history_n` so a silent-coverage collapse — the r16-r18 bug's
    * shape, where a baseline-format drift emptied the intersection and
    * `history_factor:null` went unnoticed for two rounds — is visible
    * in one artifact field instead of requiring forensics.
    */
  final case class HistorySignal(factor: Option[Double], matched: Int,
                                 droppedIds: Seq[String])

  /** Median per-query ratio current/baseline over queries present in
    * both with baseline ≥ HistoryMinBaselineSec; factor None (signal
    * abstains) with fewer than HistoryMinQueries such queries. Median,
    * not mean: one legitimately-changed plan must not flag the run.
    *
    * Names are compared by SHORT id (the prefix before the first '_',
    * dropped when ambiguous on either side): the committed BENCH_CLEAN
    * baselines are the stdout format, whose query keys are short ids,
    * while `timed` carries full registry names — an exact-name match
    * therefore intersected EMPTY and the sentinel silently abstained
    * on every run since the short-id stdout format landed
    * (history_factor:null in r16/r17 artifacts; found round 18).
    * Normalizing both sides accepts either format as baseline. Dropped
    * ambiguous ids are REPORTED, not swallowed (r18 advice): a future
    * prefix collision, or a baseline mixing short and full keys for
    * the same query, shrinks coverage — possibly below
    * HistoryMinQueries, re-creating silent abstention — and that loss
    * must be visible (main stderr-logs droppedIds; matched lands in
    * the JSON as history_n).
    */
  def historySignal(current: Seq[(String, Double)],
                    baseline: Map[String, Double]): HistorySignal = {
    def shorten(m: Iterable[(String, Double)]): (Map[String, Double], Seq[String]) = {
      val grouped = m.groupBy { case (n, _) => n.takeWhile(_ != '_') }
      (grouped.collect { case (id, vs) if vs.size == 1 => id -> vs.head._2 },
        grouped.collect { case (id, vs) if vs.size > 1 => id }.toSeq)
    }
    val (base, baseDropped) = shorten(baseline)
    val (cur, curDropped) = shorten(current)
    val ratios = cur.collect {
      case (n, t) if base.get(n).exists(_ >= HistoryMinBaselineSec) => t / base(n)
    }.toSeq.sorted
    val factor =
      if (ratios.size < HistoryMinQueries) None
      else Some(
        if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0)
    // baseline-side ambiguous ids only matter when this run actually has
    // that id — a stale baseline entry for a since-deleted query never
    // affected this run's coverage and would be noise in the warning
    val curIds = current.map { case (n, _) => n.takeWhile(_ != '_') }.toSet
    HistorySignal(factor, ratios.size,
      (baseDropped.filter(curIds.contains) ++ curDropped).distinct.sorted)
  }

  /** Landing pad for the full-precision bench JSON. Cwd-relative
    * `bench_out.json` is the driver's contract path and stays the
    * default, but it is also a TRAP on a shared box: two benches (a
    * manual sf10 run + the driver's sf0.1 run) clobber each other —
    * exactly how round 19's sf10 artifact was lost even though the run
    * could have completed. SPARK_GRAFT_BENCH_OUT overrides it so a
    * manual run lands somewhere collision-free.
    */
  def outPath(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusN = Session.cpus
    val spark = Session.local(cpusN)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val setup0 = System.nanoTime()
    graft.engine.Gold.ensure(spark, sfDir)
    val setupSec = (System.nanoTime() - setup0) / 1e9

    // optional subset run (comma-separated full names or short-id
    // prefixes) — the bisect lever for attributing cross-round drift to
    // registry growth vs plan changes: run the CURRENT binary on an
    // OLD round's query list and diff per-query times.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(s => s.contains(n) || s.contains(n.takeWhile(_ != '_'))))
    names.foreach { n =>  // warm-up, untimed
      try materialize(n) catch { case _: Throwable => () }
    }
    // flush the warm-up pass's residue BEFORE the timed region (round 21,
    // measurement hygiene — timing semantics unchanged): the untimed pass
    // leaves every query's broadcast/checkpoint blocks dead-but-unfreed
    // until a driver GC lets the ContextCleaner notice them; without an
    // explicit GC here the periodic-GC pause plus the freeing churn land
    // INSIDE the timed run, on whichever early query they hit — the
    // recurring a/m-family "front-of-run churn" inflation the r19/r20
    // verdicts documented. One System.gc() costs ~0.1 s once, outside
    // any timed window.
    System.gc()
    // a failing query is REPORTED, never silently recorded as a fast
    // near-zero time — a bench that hides failures isn't a measurement
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOne(n: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { materialize(n); Right((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    // noise sentinel, CPU signal: one host-CPU snapshot at each end of
    // the timed window (third passes included); nothing runs between
    // the queries but the queries
    val cpuBefore = cpuSnapshot()
    // min of two timed passes per query: a single pass attributes GC
    // pauses and JIT recompiles to whichever query they land on (observed
    // as 4× spikes on queries whose identical-shape siblings run in 1 s);
    // the min is the plan cost. The min is taken over SUCCESSFUL passes
    // only, and a query is an error only when BOTH passes fail — a
    // transient single-pass failure must not report a fast-fail duration
    // as the query's time, nor a succeeded query as an error.
    val results: Seq[(String, Option[Double])] = names.map { n =>
      foldPasses(Seq(timeOne(n), timeOne(n))) match {
        case Left(err) => errors(n) = err; n -> None
        case Right(t)  => n -> Some(t)
      }
    }
    // The driver keeps only the last ~2000 chars of sbt output, so the
    // stdout JSON line must fit that window in full: per-query times at
    // 2 decimals, totals at 3, error detail only in bench_out.json
    // (n_errors inline). Budget at 99 short-id queries × ~12 chars ≈
    // 1190, fixed fields ≈ 120, noise block (calibration + both factors
    // + note) ≈ 200 ⇒ ~1510 of 1985 — headroom for ~35 more queries at
    // 2 decimals. If the registry grows past the budget, per-query
    // precision degrades to 1 decimal AUTOMATICALLY rather than
    // silently clipping the JSON head out of the window — full
    // precision always lives in bench_out.json.
    def rnd(v: Double, s: Int): String =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toString
    def r3(v: Double): String = rnd(v, 3)
    // third timed pass on the slowest decile: min-of-two still lets a
    // sustained co-located-load window inflate a query when BOTH its
    // passes land inside it — and the slowest queries dominate the
    // total, so that is exactly where same-binary cross-round drift up
    // to 2× was observed (r7→r8, o37 0.97↔2.07 s). One extra pass on
    // the top ~10% bounds per-query noise there to the min of THREE
    // independent windows (empirically ≤15% same-binary drift on the
    // decile, vs 2× before) at ~6% added bench wall-clock; the cheap
    // 90% keep min-of-two, whose absolute noise is bounded by their
    // own small magnitudes.
    val firstTimed = results.collect { case (n, Some(t)) => n -> t }
    val slowest = slowestDecile(firstTimed)
    val timed = firstTimed.map {
      case (n, t) if slowest(n) =>
        // a failed third pass must not erase two good ones: fold keeps
        // the min over SUCCESSFUL passes (Right(t) is always present)
        n -> foldPasses(Seq(Right(t), timeOne(n))).getOrElse(t)
      case other => other
    }
    val cpuAfter = cpuSnapshot()
    val errJson = errors.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    // noise sentinel verdict: CPU factor OR self-history factor — either
    // over its threshold stamps "noisy":true into BOTH JSONs: a reader
    // comparing this bench against history must see the flag next to
    // the headline number, not have to dig it out of the sidecar.
    val cpu = for (b <- cpuBefore; a <- cpuAfter) yield cpuWindow(b, a)
    if (cpu.isEmpty)
      System.err.println("[bench] CPU sentinel ABSTAINED: /proc/stat or the process CPU time is unreadable")
    val cpuNoisy = cpu.exists(_.noisy)
    val sfShort = sfDir.split('/').last
    // self-history: per-query ratios vs the last committed clean bench
    // (bench_out.json format), applied only when the baseline was
    // recorded at the SAME sf on the SAME core count (historyOff)
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_CLEAN.json")
    val baselineJson = try {
      val p = Paths.get(baselinePath)
      if (Files.exists(p)) Files.readString(p) else ""
    } catch { case _: Throwable => "" }
    val (baseQueries, baseSf) = parseBaseline(baselineJson)
    val off = historyOff(baseSf, baselineCpus(baselineJson), sfShort, cpusN)
    val histSignal =
      if (off.isEmpty) historySignal(timed, baseQueries)
      else HistorySignal(None, 0, Nil)
    // parallel to the ABSTAINED message below: when the sentinel is off
    // because the baseline was recorded at a different sf or core count,
    // say so — a noisy:false on such a run is CPU-only, and the reader
    // must not mistake history_n:0 for a coverage bug
    if (baseQueries.nonEmpty)
      off.foreach(why => System.err.println(s"[bench] history sentinel OFF: $why — noisy verdict is CPU-only"))
    val histFactorOpt = histSignal.factor
    if (histSignal.droppedIds.nonEmpty)
      System.err.println(s"[bench] history sentinel dropped ${histSignal.droppedIds.size} ambiguous short ids: ${histSignal.droppedIds.mkString(", ")}")
    if (off.isEmpty && histFactorOpt.isEmpty)
      System.err.println(s"[bench] history sentinel ABSTAINED: only ${histSignal.matched} baseline-matched queries (need $HistoryMinQueries)")
    val histNoisy = histFactorOpt.exists(_ > HistoryNoisyFactor)
    val noisy = cpuNoisy || histNoisy
    val histJson = histFactorOpt.map(h => rnd(h, 2)).getOrElse("null")
    def cpuJson(f: CpuWindow => Double, s: Int): String = cpu.map(w => rnd(f(w), s)).getOrElse("null")
    // noisy:false means "no signal exceeded its threshold", NOT a
    // cleanliness certificate — both JSONs say so explicitly, because
    // round 11 proved a clean-looking factor can sit beside polluted
    // query times.
    val noiseNote = "noisy:false is no cleanliness certificate"
    val noiseJson =
      s""","calibration_sec":${cpuJson(_.foreignCpuSec, 2)},"noise_factor":${cpuJson(_.noiseFactor, 2)},"history_factor":$histJson,"history_n":${histSignal.matched},"noisy":$noisy,"noise_note":${Json.quote(noiseNote)}"""
    // stdout trims every char it can spare (bench_out.json keeps full
    // names and full precision): per-query keys are the registry's UNIQUE
    // short ids ("o22" for o22_minhash_lsh_jaccard — the prefix before
    // the first underscore, the same id CORRECTNESS entries start with),
    // sf as BASENAME, setup at 2 decimals, n_errors only when non-zero.
    def prefix(name: String): String = name.takeWhile(_ != '_')
    // short ids only when unique — a future prefix collision falls back
    // to full names (which the adaptive precision below absorbs) instead
    // of failing a bench that already ran to completion
    val useShort = names.map(prefix).distinct.size == names.size
    def shortId(name: String): String = if (useShort) prefix(name) else name
    def stdoutJson(qDecimals: Int): String = {
      val qs = timed.map { case (k, v) => Json.quote(shortId(k)) + ":" + rnd(v, qDecimals) }
        .mkString("{", ",", "}")
      val errField = if (errors.isEmpty) "" else s""","n_errors":${errors.size}"""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"setup_sec":${rnd(setupSec, 2)}$errField$noiseJson,"sf":${Json.quote(sfShort)}}"""
    }
    // budget: the 2000-char window minus the trailing newline and slack;
    // the JSON is the very last thing printed, so nothing else competes.
    // Terminal fallback drops the per-query map entirely (full detail is
    // in bench_out.json) — the headline metric must NEVER be clipped out
    // of the consumer's tail window, whatever the registry grows to.
    val noQueries =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{},"setup_sec":${rnd(setupSec, 2)},"n_errors":${errors.size}$noiseJson,"sf":${Json.quote(sfShort)}}"""
    val json = Iterator(2, 1, 0)
      .map(stdoutJson).find(_.length <= 1985).getOrElse(noQueries)
    Files.writeString(Paths.get(outPath(sys.env)),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${timed.map { case (k, v) => Json.quote(k) + ":" + v }.mkString("{", ",", "}")},"setup_sec":$setupSec,"n_errors":${errors.size},"errors":$errJson,"cpus":$cpusN,"calibration_sec":${cpuJson(_.foreignCpuSec, 3)},"noise_factor":${cpuJson(_.noiseFactor, 3)},"busy_share":${cpuJson(_.busyShare, 4)},"own_share":${cpuJson(_.ownShare, 4)},"steal_share":${cpuJson(_.stealShare, 4)},"history_factor":$histJson,"history_n":${histSignal.matched},"history_dropped_ids":${histSignal.droppedIds.map(Json.quote).mkString("[", ",", "]")},"history_baseline_sf":${baseSf.map(Json.quote).getOrElse("null")},"noisy":$noisy,"noise_note":${Json.quote(noiseNote)},"sf":${Json.quote(sfDir)}}""")
    if (noisy)
      System.err.println(s"[bench] NOISY run: CPU factor ${cpuJson(_.noiseFactor, 2)} (foreign share ${cpuJson(_.foreignShare, 2)}), history factor $histJson — treat totals as polluted")
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
    // printed last (after stop) so no Spark shutdown line can push the
    // JSON out of the driver's tail window
    println(json)
  }
}
