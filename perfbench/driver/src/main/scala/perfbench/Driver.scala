package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry

/** Minimal JSON rendering for the driver's one output file. */
object J {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One timed interval. `parent` is the enclosing span on the same thread
  * (-1 at top level); `req` is the sequence number of the operation it
  * belongs to (-1 outside operations); `pass` is the timed pass (-1 during
  * set-up and warm-up).
  */
final case class Span(id: Int, name: String, kind: String, parent: Int, req: Int,
                      pass: Int, traced: Boolean, start: Double, end: Double,
                      error: String) {
  def json: String = J.obj("id" -> id.toString, "name" -> J.str(name),
    "kind" -> J.str(kind), "parent" -> parent.toString, "req" -> req.toString,
    "pass" -> pass.toString, "traced" -> traced.toString,
    "start" -> J.num(start), "end" -> J.num(end),
    "error" -> (if (error == null) "null" else J.str(error)))
}

object Probe {
  final case class Job(id: Int, submit: Long, var end: Long, stages: Seq[Int],
                       span: Int, req: Int, execution: Long)
  final case class Stage(id: Int, attempt: Int, submit: Long, complete: Long,
                         firstLaunch: Long, tasks: Int, details: String,
                         runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
                         outBytes: Long, outRecords: Long, shRead: Long, shWrite: Long,
                         spillMem: Long, spillDisk: Long, peakMem: Long)
}

/** Listener for jobs, stages, task launches and cached blocks. Everything
  * stays in memory until the run ends; nothing is aggregated here beyond
  * per-stage sums that Spark already provides.
  */
final class Probe extends SparkListener {
  import Probe._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val firstLaunch = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  // cached RDD blocks: current size per block, cumulative bytes added, peak
  private val blocks = mutable.HashMap[String, Long]()
  private var current = 0L
  private var added = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(-1L)
    // jobs that adaptive execution submits from its own threads carry the
    // query's (root) execution id but not the caller's stack
    val execution = Some(prop("spark.sql.execution.root.id")).filter(_ >= 0)
      .getOrElse(prop("spark.sql.execution.id"))
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds, prop("perfbench.span").toInt,
      prop("perfbench.req").toInt, execution))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    firstLaunch.merge((e.stageId, e.stageAttemptId), e.taskInfo.launchTime,
      (a: Long, b: Long) => math.min(a, b))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val launch = Option(firstLaunch.remove((s.stageId, s.attemptNumber()))).getOrElse(-1L)
    stages.add(Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(-1L),
      s.completionTime.getOrElse(-1L), launch, s.numTasks,
      s.details.linesIterator.take(40).mkString("\n"),
      if (m == null) 0 else m.executorRunTime, if (m == null) 0 else m.executorCpuTime,
      if (m == null) 0 else m.jvmGCTime, if (m == null) 0 else m.inputMetrics.bytesRead,
      if (m == null) 0 else m.outputMetrics.bytesWritten,
      if (m == null) 0 else m.outputMetrics.recordsWritten,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.memoryBytesSpilled, if (m == null) 0 else m.diskBytesSpilled,
      if (m == null) 0 else m.peakExecutionMemory))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
      current += size - before
      if (size > before) added += size - before
      peak = math.max(peak, current)
    }
  }
  /** (bytes stored now, bytes added so far, peak since the last reset). */
  def blockState(resetPeak: Boolean): (Long, Long, Long) = synchronized {
    val r = (current, added, peak)
    if (resetPeak) peak = current
    r
  }

  def jobsJson: Iterable[String] = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
    J.obj("id" -> j.id.toString, "submit" -> j.submit.toString, "end" -> j.end.toString,
      "stages" -> J.arr(j.stages.map(_.toString)), "span" -> j.span.toString,
      "req" -> j.req.toString, "execution" -> j.execution.toString))
  def stagesJson: Iterable[String] = stages.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map(s =>
    J.obj("id" -> s.id.toString, "attempt" -> s.attempt.toString,
      "submit" -> s.submit.toString, "complete" -> s.complete.toString,
      "first_launch" -> s.firstLaunch.toString, "tasks" -> s.tasks.toString,
      "details" -> J.str(s.details), "run_ms" -> s.runMs.toString,
      "cpu_ns" -> s.cpuNs.toString, "gc_ms" -> s.gcMs.toString,
      "input_bytes" -> s.inBytes.toString, "output_bytes" -> s.outBytes.toString,
      "output_records" -> s.outRecords.toString, "shuffle_read" -> s.shRead.toString,
      "shuffle_write" -> s.shWrite.toString, "spill_mem" -> s.spillMem.toString,
      "spill_disk" -> s.spillDisk.toString, "peak_mem" -> s.peakMem.toString))
}

/** Records spans from the benchmark's own code around each public call.
  * While tracing is on, each span is published to Spark as the local
  * property `perfbench.span` (so jobs name the span that started them),
  * and the listener bus is drained at span edges so block counters are
  * read in the span they belong to.
  */
final class Recorder {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution (the listener's
    * timestamps are epoch milliseconds too). */
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  val blockMarks = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicInteger(0)
  // open spans on this thread, innermost first, as (span id, request id)
  private val stack = new ThreadLocal[List[(Int, Int)]] { override def initialValue() = Nil }
  @volatile var spark: SparkSession = _
  @volatile var probe: Probe = _
  @volatile var pass: Int = -1

  def tracing: Boolean = probe != null

  private def mark(id: Int, edge: String, resetPeak: Boolean): Unit = {
    Bus.drain(spark.sparkContext)
    val (cur, add, pk) = probe.blockState(resetPeak)
    blockMarks.add(J.obj("span" -> id.toString, "edge" -> J.str(edge),
      "stored" -> cur.toString, "added" -> add.toString, "peak" -> pk.toString))
  }

  def span[T](name: String, kind: String = "", req0: Int = -1, blocks: Boolean = false)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val req = if (req0 >= 0) req0 else parents.headOption.map(_._2).getOrElse(-1)
    val traced = tracing
    val sc = if (spark != null) spark.sparkContext else null
    val prevSpan = if (sc != null) sc.getLocalProperty("perfbench.span") else null
    if (traced && blocks) mark(id, "start", resetPeak = true)
    if (sc != null) {
      sc.setLocalProperty("perfbench.span", id.toString)
      if (req >= 0) sc.setLocalProperty("perfbench.req", req.toString)
    }
    stack.set((id, req) :: parents)
    val start = now()
    var error: String = null
    try body
    catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"; throw e }
    finally {
      val end = now()
      stack.set(parents)
      if (sc != null) sc.setLocalProperty("perfbench.span", prevSpan)
      spans.add(Span(id, name, kind, parents.headOption.map(_._1).getOrElse(-1), req, pass, traced,
        start, end, error))
      if (traced && blocks) mark(id, "end", resetPeak = false)
    }
  }
}

/** Scan-file counts of an executed plan (AQE stages and subqueries
  * included). */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def read(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

object Driver {
  val cores = 4

  /** The dashboard refresh after a gold build, as (layer, registry query):
    * the eight Analytics queries over the gold layer, then the two
    * text-to-SQL queries that go through `Sql.runSelect`. */
  val refreshQueries: Seq[(String, String)] = Seq("a01_kpis", "a02_top_categories",
    "a03_orders_by_state", "a04_shipping_time_by_state", "a05_avg_freight_by_state",
    "a06_monthly_trend", "a07_weekday_seasonality", "a08_kpis_filtered").map("analytics" -> _) ++
    Seq("o20_sql_surface", "o82_sql_decimal_surface").map("sql" -> _)

  /** The curation pass: the materializing dedup pipelines and the
    * codegen text/media kernels, a few per module group. */
  val curationOps = Seq(
    "o21_simhash_neardup", "o22_minhash_lsh_jaccard", "o53_ngram_prefix_jaccard",
    "o54_dedup_components",
    "o25_quality_score", "o62_dup_ngram_stats", "o71_doc_chunks",
    "o23_knn_cosine", "x01_ann_ivf", "x08_frame_sample")

  final case class Args(workload: String, inputs: String, work: String, seconds: Double,
                        trace: Boolean, setupReps: Int, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("setup-reps").toInt, m("out"))
  }

  def newSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- work directories -------------------------------------------------

  private val linkSeq = new AtomicInteger(0)

  /** A fresh path to the same input directory. `Gold.ensure` memoizes per
    * (JVM, path), so each timed build needs a path it has not seen. */
  def freshLink(work: String, target: String, tag: String): String = {
    val dir = Paths.get(work, "links")
    Files.createDirectories(dir)
    val link = dir.resolve(s"$tag-${linkSeq.incrementAndGet()}")
    Files.createSymbolicLink(link, Paths.get(target).toAbsolutePath)
    link.toString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.delete(p)
  }

  /** (data files, bytes) under a directory, skipping Spark's marker and
    * checksum files. */
  def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toList
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def goldDir(path: String): String =
    Paths.get("target", "graft-layers", graft.engine.Workdirs.key(path)).toAbsolutePath.toString

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, on all its threads. Time the host
    * steals from the VM is not counted, unlike wall time. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def untrace(spark: SparkSession, probe: Probe, rec: Recorder): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    rec.probe = null
  }

  // ---- main -------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    val out = mutable.LinkedHashMap[String, String]()
    val ops = new Ops(rec)
    Files.createDirectories(Paths.get(a.work))

    val w: Workload = a.workload match {
      case "nightly" => new Nightly(a, rec, ops)
      case "curation" => new Curation(a, rec, ops)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, repeated: a fresh session + the workload's set-up step
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    for (r <- 1 to a.setupReps) {
      if (spark != null) { spark.stop(); rec.spark = null }
      val t0 = rec.now()
      spark = newSession()
      rec.spark = spark
      val t1 = rec.now()
      rec.span("setup", "setup")(w.setup(spark, r))
      setupS += (rec.now() - t0) / 1000.0
      sessionS += (t1 - t0) / 1000.0
    }
    val warmupS = { val t = rec.now(); rec.span("warmup", "warmup")(w.warmup(spark)); (rec.now() - t) / 1000.0 }

    // timed window: whole passes until the budget is spent. With tracing,
    // passes alternate untraced, traced, untraced (a linear trend such as
    // JIT warm-up cancels out of the overhead), so the overhead of tracing
    // is measured in the same run
    val probe = new Probe
    val passes = mutable.ArrayBuffer[String]()
    val t0 = rec.now()
    var i = 0
    val minPasses = if (a.trace) 3 else 1
    while (i < minPasses || rec.now() - t0 < a.seconds * 1000.0) {
      val traced = a.trace && i % 2 == 1
      if (traced) { spark.sparkContext.addSparkListener(probe); rec.probe = probe }
      rec.pass = i
      val ps = rec.now()
      val cs = cpuSeconds()
      rec.span("pass", "pass")(w.pass(spark, i))
      val pe = rec.now()
      val ce = cpuSeconds()
      rec.pass = -1
      if (traced) untrace(spark, probe, rec)
      passes += J.obj("i" -> i.toString, "traced" -> traced.toString,
        "start" -> J.num(ps), "end" -> J.num(pe), "cpu_s" -> J.num(ce - cs))
      i += 1
    }
    val window = (rec.now() - t0) / 1000.0

    // correctness material, outside the timed window
    val checks = try w.checks(spark) catch {
      case e: Exception =>
        ops.errors.add(s"checks: ${e.getClass.getName}: ${e.getMessage}")
        J.obj("error" -> J.str(e.toString))
    }

    out("workload") = J.str(a.workload)
    out("host") = J.obj("cores" -> cores.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jdk" -> J.str(System.getProperty("java.version")),
      "spark" -> J.str(spark.version))
    out("setup_s") = J.arr(setupS.map(J.num))
    out("session_start_s") = J.arr(sessionS.map(J.num))
    out("warmup_s") = J.num(warmupS)
    out("window_s") = J.num(window)
    out("passes") = J.arr(passes)
    out("attempted") = ops.attempted.get.toString
    out("failed") = ops.failed.get.toString
    out("errors") = J.arr(ops.errors.asScala.map(J.str))
    out("spans") = J.arr(rec.spans.asScala.toSeq.sortBy(_.id).map(_.json))
    out("block_marks") = J.arr(rec.blockMarks.asScala)
    out("jobs") = J.arr(probe.jobsJson)
    out("stages") = J.arr(probe.stagesJson)
    out("extra") = J.obj(("files_read" -> J.arr(w.filesRead.asScala)) +: w.extra: _*)
    out("checks") = checks
    spark.stop()
    Files.writeString(Paths.get(a.out), J.obj(out.toSeq: _*))
  }
}

/** Counted public calls: a failure is counted and recorded, and the
  * workload goes on with its next operation. */
final class Ops(rec: Recorder) {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val errors = new ConcurrentLinkedQueue[String]()
  def apply[T](name: String, blocks: Boolean = false)(body: => T): Option[T] = {
    val req = attempted.incrementAndGet().toInt
    try Some(rec.span(name, "op", req, blocks)(body))
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        errors.add(s"$name: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }
}

/** A workload: repeated set-up, whole timed passes, and the material the
  * correctness verdict needs. */
abstract class Workload(val a: Driver.Args, val rec: Recorder, val op: Ops) {
  def in(sub: String): String = Paths.get(a.inputs, sub).toAbsolutePath.toString
  /** The workload's set-up step, run after each fresh session start. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed work between set-up and the timed window. */
  def warmup(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, i: Int): Unit
  def checks(spark: SparkSession): String
  def extra: Seq[(String, String)] = Nil

  val filesRead = new ConcurrentLinkedQueue[String]()

  /** One query: building the DataFrame and running its action are timed
    * as separate child spans; while tracing, the files its scans read are
    * counted from the executed plan. */
  def query(kind: String)(build: => DataFrame): Array[Row] = {
    val df = rec.span("build", "build")(build)
    val rows = rec.span("exec", "exec")(df.collect())
    if (rec.tracing) filesRead.add(J.obj("kind" -> J.str(kind),
      "files" -> PlanFiles.read(df).toString))
    rows
  }

  val dumpDir: String = Paths.get(a.work, "oracle_dump").toAbsolutePath.toString

  /** The index dev/check_oracle.py reads next to the per-query parquet
    * dumps under [[dumpDir]]: each query's oracle SQL. */
  def oracleIndex(sfDir: String, names: Seq[String]): String = {
    Files.createDirectories(Paths.get(dumpDir))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
      J.obj(oracle.toSeq.map { case (k, v) => k -> J.str(v) }: _*))
    J.obj("oracle_dump" -> J.str(dumpDir), "sf_dir" -> J.str(sfDir),
      "queries" -> J.arr(names.map(J.str)))
  }
}
