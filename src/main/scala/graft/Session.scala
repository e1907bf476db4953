package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder: every main (Bench, Verify,
  * Explain, PlanDiff, ScaleData) and the test suite's `TestSpark` start
  * their session here, so a conf cannot drift between them.
  * `dev/hooks/pre-commit` refuses any other `SparkSession.builder` under
  * `src/`.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Generated classes kept compiled per JVM (Spark's default is 100).
    * Sized from the counted working sets of this builder's callers (one
    * Janino compilation per cache miss, counted with an unbounded
    * cache): the `Bench` registry at sf0.01 compiles 2,242 distinct
    * classes and the test suite 2,482. At 100 entries they compile
    * 6,253 and 6,742, each evicted class compiled again by Janino and
    * JIT-compiled again; 4096 holds either working set whole. On a
    * 4-core host (SCALE.md), 100 → 4096 took the registry's summed
    * query time from 48.1 to 39.1 s, for 4 MB more metaspace.
    */
  val codegenCacheEntries = 4096

  /** `local[cores]` with one shuffle partition per core. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ephemeral checkpoints (deleted in finally): checksum sidecar files
      // add nothing and their absence floods WARN "No checksum file found"
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      // long query stream in one JVM: ContextCleaner only frees
      // broadcast/shuffle/checkpoint blocks after a driver GC notices
      // they're unreachable, and its safety-net GC fires every 30 MIN by
      // default — a 130-query bench accumulates every prior query's
      // blocks and the big late joins pay for the squeezed execution
      // memory in spills (measured: o57 45 s solo vs 106 s in-stream),
      // or die of UNABLE_TO_ACQUIRE_MEMORY (o70 at sf10, round 19).
      // 2 min mirrors what any production long-session deployment sets.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceGlobProbeWarn()
    spark
  }

  /** o31's glob scan makes FileStreamSink.hasMetadata probe the glob as
    * a LITERAL path; when the data dir is cwd-relative the caught
    * FileNotFoundException is WARN-logged with a full stack trace —
    * several times per bench (min-of-two reruns) — and reads as an o31
    * failure to anyone triaging the log, though the read itself
    * proceeds. Pin that one logger to ERROR after setLogLevel (which
    * (re)sets the root level) so run logs carry zero fake traces.
    */
  private def silenceGlobProbeWarn(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", Level.ERROR)
  }
}
