package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.10): the reference's
  * incremental path is batch-with-offsets (`scripts/bronze_incremental.py`)
  * — its streaming twin is the file source + checkpointed offsets +
  * `Trigger.AvailableNow`, with watermarked event-time aggregation and
  * custom session state on top.
  *
  * Scale posture: the file source discovers new files per micro-batch
  * (the manifest/fingerprint role is played by the checkpoint WAL);
  * windowed aggs shuffle once per key+window with partial aggregation;
  * `flatMapGroupsWithState` keys state by user so state is
  * shuffle-partitioned and spills via the state store, never on the
  * driver.
  */
object Streaming {

  /** Rows evicted by the watermark, keyed by query (sink) name — one
    * entry per [[runAvailableNow]] run, written when the run terminates.
    * Keyed (not a single "last run" global) so concurrent or
    * interleaved streams cannot clobber each other's figure; callers
    * snapshot the ledger before a run and diff after. Entries are a few
    * bytes each and names carry a per-JVM counter, so the ledger stays
    * bounded by the number of stream runs in the session.
    * Observability only — never an input to any query's result.
    */
  private val watermarkDrops =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Immutable snapshot of the per-run watermark-eviction ledger. */
  def watermarkDropLedger: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    watermarkDrops.asScala.toMap
  }

  /** State-store partition count for the small-state streams (s04/s05),
    * derived from the session's parallelism instead of a literal (round
    * 21, verdict item): every stateful operator opens one store per
    * partition per micro-batch (a stream-stream join opens FOUR), so at
    * bench state volumes extra partitions are pure store-lifecycle cost
    * — 4 is the measured floor (s04 cold: 8p 4.15 s → 4p 2.03 s). On a
    * real cluster the same streams carry orders more state and the
    * ceiling must scale with the cores the cluster actually has;
    * cores/8 keeps the local[32] bench at the floor (32/8 = 4, times
    * unchanged) while a 512-core session gets 64 stores.
    */
  def statePartitionsFor(spark: SparkSession): Int =
    math.max(4, spark.sparkContext.defaultParallelism / 8)

  /** Streaming scan of the events table (ts adapted per physical type —
    * nanos-as-longs truncated to µs, native µs timestamps passed through —
    * exactly like [[graft.engine.Tables.events]]).
    * The file stream source wants a DIRECTORY to watch; the table is
    * staged (copied once per JVM) into one — in a real deployment the
    * landing directory plays this role and new files are picked up per
    * micro-batch. The source table may be a single parquet file (driver
    * testdata) or a directory of part files (the sf1 rehearsal export) —
    * a naive single-file copy of a DIRECTORY creates an empty dir and
    * the stream fails schema inference, so each part file is staged
    * individually, through the Hadoop FileSystem API (sfDir is local in
    * the sandbox but HDFS/S3 on a real cluster).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = graft.engine.Workdirs.materializeOnce("graft-streaming", sfDir) { root =>
      val conf = spark.sessionState.newHadoopConf()
      val src = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
      val srcFs = src.getFileSystem(conf)
      val dst = new org.apache.hadoop.fs.Path(s"$root/events")
      val dstFs = dst.getFileSystem(conf)
      dstFs.mkdirs(dst): Unit
      val parts =
        if (srcFs.getFileStatus(src).isDirectory)
          srcFs.listStatus(src)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
        else Array(src)
      require(parts.nonEmpty, s"no parquet files under $src")
      parts.zipWithIndex.foreach { case (p, i) =>
        org.apache.hadoop.fs.FileUtil.copy(
          srcFs, p, dstFs, new org.apache.hadoop.fs.Path(dst, f"part-$i%05d.parquet"),
          false, true, conf): Unit
      }
    } + "/events"
    graft.engine.Tables.eventTs(
      spark.readStream.schema(graft.engine.Tables.parquet(spark, dir).schema).parquet(dir))
  }

  /** Watermarked hourly tumbling-window aggregation — the streaming twin
    * of query o17 (same grouping, same measures).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        // DECIMAL(18,4) sum (repo-wide money discipline): exact and
        // order-free, so micro-batch partial-agg order can't drift the
        // 2-decimal round vs the batch twin or the oracle
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .select(col("window.start").as("hour"), col("n_events"), col("total_value"))

  /** Run a (finite) streaming frame to completion with
    * `Trigger.AvailableNow`; returns the result as a DISTRIBUTED
    * parquet-backed DataFrame. Complete mode ⇒ each micro-batch carries
    * the full aggregate and overwrites the sink dir, so the final dir
    * equals the batch computation over the same input; Append mode ⇒
    * batches accumulate, one batchId-named subdir each, so a replayed
    * micro-batch (foreachBatch is at-least-once) overwrites its own
    * subdir instead of appending duplicates.
    *
    * The sink is `foreachBatch` → parquet, NOT a memory sink: a memory
    * sink materializes every result row in DRIVER heap, which is only
    * safe when the result is aggregate-small — nothing in this
    * signature enforces that, and a caller streaming raw rows through
    * it would driver-OOM at scale. With the parquet sink the result
    * stays on executors/disk whatever its size (StreamingSpec proves
    * the read-back plan is a file scan, not a driver-local relation).
    *
    * The checkpoint dir is RELEASED before returning — repeated
    * bench/verify invocations must not accumulate streaming state for
    * the session's lifetime. The small result dir must outlive the
    * returned (lazy) frame, so it is deleted on JVM exit instead.
    */
  /** Silence the state store's "version N doesn't exist in loadedMaps"
    * WARN — SCOPED to the wrapped stream run, not baked in JVM-wide: it
    * fires on every restored-checkpoint run (s06's second AvailableNow
    * pass) and the message itself says "this is normal for the first
    * batch of starting query" — benign by Spark's own text, but it was
    * the one stderr line left in the bench tail. The round-17
    * class-scoped override never matched because the provider OVERRIDES
    * `logName` to append its StateStoreProviderId — each instance logs
    * under "…HDFSBackedStateStoreProvider StateStoreProviderId[…]", a
    * distinct logger whose log4j2 PARENT (hierarchy splits at dots, and
    * the appended id contains none) is the `…streaming.state` package,
    * not the bare class logger. So the level must land on the package —
    * and a PACKAGE-wide ERROR left in place by a library method would
    * swallow every future genuine state-store WARN (maintenance
    * failures, snapshot upload errors) for the JVM's lifetime. The
    * bracket therefore restores the package's prior effective level on
    * exit (pinning an inherited level explicitly — same observable
    * behavior), and serializes on the object lock so overlapping runs
    * cannot restore each other's saved level. The restore line itself
    * fires inside micro-batch execution, which the bracket covers.
    */
  private val StateStoreLoggerPkg =
    "org.apache.spark.sql.execution.streaming.state"

  def withStateStoreRestoreWarnSilenced[T](f: => T): T = synchronized {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val prior = LogManager.getLogger(StateStoreLoggerPkg).getLevel
    Configurator.setLevel(StateStoreLoggerPkg, Level.ERROR)
    try f
    finally Configurator.setLevel(StateStoreLoggerPkg, prior)
  }

  def runAvailableNow(df: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Complete(),
                      statePartitions: Int = 8,
                      noDataBatches: Boolean = true,
                      checkpointDir: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    // Complete: every batch is the full result → overwrite keeps the
    // last (= final) one. Append: new rows only → each batch lands in
    // its own batchId-named subdir, OVERWRITTEN on a micro-batch replay
    // (foreachBatch is at-least-once: a retry after a partial write
    // must converge, not append duplicates). Update hands PARTIAL
    // re-emissions per batch — appending them would double-count and
    // overwriting would drop unchanged groups, so no file-sink fold is
    // correct; reject it BEFORE any temp dir exists so a rejected call
    // leaks nothing.
    val complete =
      if (mode == OutputMode.Complete()) true
      else if (mode == OutputMode.Append()) false
      else throw new IllegalArgumentException(
        s"runAvailableNow folds batches into files; $mode is not foldable")
    // caller-provided checkpoint = caller-owned lifecycle: state (incl.
    // the persisted watermark) survives across sequential AvailableNow
    // runs, which is how restart semantics are exercised (s06)
    val checkpoint = checkpointDir.getOrElse(java.nio.file.Files
      .createTempDirectory(s"graft-stream-$name").toString)
    val outDir = java.nio.file.Files
      .createTempDirectory(s"graft-stream-out-$name")
    releaseOnExit(outDir.toFile)
    val out = outDir.toString
    // state-store partition count is fixed at stream start from
    // spark.sql.shuffle.partitions: every stateful operator opens one
    // store per partition (a stream-stream join opens FOUR), so a small
    // stream with the batch-sized 32 partitions pays 128 store
    // lifecycles per micro-batch for state that fits in a handful. Size
    // it to the stream (on a real cluster: to state volume), and restore
    // the session conf for the batch queries that follow.
    // held until termination: micro-batch planning reads the conf after
    // start() returns. The object-level lock serializes overlapping
    // runAvailableNow calls — without it two streams could restore each
    // other's 'prev' and leave the reduced setting as the session value
    // (batch queries planned concurrently on the same session would
    // still see the override; this engine drives them sequentially)
    try withStateStoreRestoreWarnSilenced { Streaming.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
      // noDataBatches=false skips the trailing empty micro-batch. That
      // batch exists to advance the watermark so TIMEOUT/EVICTION
      // effects (append-mode window finalization, state timeouts) can
      // fire — a caller whose results are emitted EAGERLY (inner
      // stream-stream join matches, Complete-mode aggregates) gets an
      // identical drained result without paying one more full pass of
      // state-store lifecycles. Callers relying on event-time timeouts
      // must keep the default.
      val prevNoData = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
      spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
      try {
        val q = df.writeStream
          .queryName(name)
          .outputMode(mode)
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            // overwrite in BOTH modes makes a replayed batch idempotent:
            // Complete replaces the whole (single-dir) result, Append
            // replaces only its own batch's subdir
            val target = if (complete) out else s"$out/batch-$batchId"
            batch.write.mode("overwrite").parquet(target): Unit
          }
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // observable late-data accounting: total rows evicted by the
        // watermark across this run's micro-batches, for callers (s06;
        // StreamingSpec) that assert the DROP side of the ledger — the
        // drained frame only shows what survived
        watermarkDrops.put(name, q.recentProgress
          .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum): Unit
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
    }} finally
      // released on failure too — a crashed stream must not park its
      // state store + WAL on disk for the session's lifetime
      if (checkpointDir.isEmpty)
        graft.engine.Workdirs.deleteRecursively(new java.io.File(checkpoint))
    // a drained-empty stream never fires a batch → no files: surface the
    // empty result with the input's schema instead of a read error.
    // (recursive: Append mode's results live in batch-<id> subdirs)
    def hasParquet(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).exists(hasParquet)
      else f.getName.endsWith(".parquet")
    if (!hasParquet(new java.io.File(out)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    else spark.read.schema(df.schema)
      .option("recursiveFileLookup", "true").parquet(out)
  }

  /** All sink result dirs, swept by ONE shutdown hook — per-call
    * `sys.addShutdownHook` would accumulate a hook (thread object) per
    * stream for the session's lifetime. The dirs themselves persist
    * until JVM exit BY CONTRACT: the returned frame is lazy, so the
    * files must outlive the call — for raw (non-aggregate) streams that
    * is real disk for the session; callers holding large results should
    * copy them to a dir they own and drop the reference.
    */
  private val sinkDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val sweepHookInstalled: Unit =
    sys.addShutdownHook {
      sinkDirs.forEach(d => graft.engine.Workdirs.deleteRecursively(d))
    }: Unit
  private def releaseOnExit(dir: java.io.File): Unit = {
    sweepHookInstalled
    sinkDirs.add(dir): Unit
  }

  /** Streaming twin of the Phase-2 incremental bronze ingest (the batch
    * original mirrors `scripts/bronze_incremental.py:200-268` — see
    * [[graft.engine.Incremental]]): the landing orders directory is
    * consumed as a FILE STREAM — the checkpoint WAL plays the
    * fingerprint manifest's role (each file is offset-tracked and
    * processed once) — and every micro-batch is idempotently
    * anti-join-appended into bronze via `foreachBatch`.
    * `Trigger.AvailableNow` drains the backlog and stops: the same
    * run-to-completion contract as the batch pipeline, but restartable
    * and exactly-once under the checkpoint, and a RERUN over the same
    * checkpoint discovers nothing new (proved in StreamingSpec).
    *
    * The in-batch anti-join makes replayed batches (crash between sink
    * write and offset commit) converge instead of duplicating — the same
    * dedup-on-append semantics as `Incremental.run`'s staging recovery.
    *
    * Scale posture: file discovery and offsets are per-micro-batch
    * metadata; the anti-join probe reads only the bronze KEY column
    * (column-pruned scan), and the append itself is partition-parallel.
    */
  def ingestOrders(spark: SparkSession, landingOrders: String,
                   bronzeOrders: String, checkpoint: String,
                   maxFilesPerTrigger: Int = 2): Unit = withStateStoreRestoreWarnSilenced {
    val schema = graft.engine.Tables.parquet(spark, landingOrders).schema
    val src = spark.readStream
      .schema(schema)
      .option("basePath", landingOrders)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingOrders)
    val q = src.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val fresh = batch.dropDuplicates("o_orderkey")
        val toAppend =
          if (graft.engine.Workdirs.exists(spark, bronzeOrders)) {
            val existing = graft.engine.Tables.parquet(spark, bronzeOrders).select("o_orderkey")
            fresh.join(existing, Seq("o_orderkey"), "left_anti")
          } else fresh
        toAppend.write.mode("append").parquet(bronzeOrders): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ts is an Instant (µs-exact through the TimestampType encoder) —
    * `java.sql.Timestamp.getTime` would silently floor event times to
    * the millisecond, shifting session bounds and boundary gap
    * decisions on µs-grain data (the driver's events table is µs-grain).
    */
  final case class Event(user_id: Long, ts: java.time.Instant)
  final case class SessionState(start: Long, lastUs: Long, n: Int)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** One session-automaton step: fold event time `us` into the open
    * session (or close it and open a new one). `us` can be BEHIND
    * lastUs for a late, within-watermark event from an earlier batch —
    * it still belongs to the open session and extends its bounds with
    * min/max, never moving them backwards. Pure, so unit-testable
    * outside the streaming runtime.
    */
  def advanceSession(open: Option[SessionState], us: Long, gapUs: Long)
      : (Option[ClosedSession], SessionState) = open match {
    case Some(cur) if us - cur.lastUs <= gapUs =>
      (None, SessionState(math.min(cur.start, us), math.max(cur.lastUs, us), cur.n + 1))
    case Some(cur) =>
      (Some(ClosedSession(-1L, cur.start, cur.lastUs, cur.n)), SessionState(us, us, 1))
    case None =>
      (None, SessionState(us, us, 1))
  }

  /** Custom session state (SURVEY §2.10 "stateful operators"): per-user
    * sessions closed after `gapMinutes` of event-time inactivity, emitted
    * via `flatMapGroupsWithState`. Open sessions flush when the watermark
    * passes their timeout (feed a max-ts sentinel to drain a finite
    * stream deterministically — see StreamingSpec).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (!it.hasNext && state.hasTimedOut) {
            val out = state.getOption
              .map(s => ClosedSession(user, s.start, s.lastUs, s.n)).iterator
            state.remove()
            out
          } else {
            val sortedUs = it.map(e =>
              e.ts.getEpochSecond * 1000000L + e.ts.getNano / 1000L).toArray.sorted
            var open = state.getOption
            var closed = List.empty[ClosedSession]
            sortedUs.foreach { us =>
              val (maybeClosed, next) = advanceSession(open, us, gapUs)
              maybeClosed.foreach(c => closed ::= c.copy(user_id = user))
              open = Some(next)
            }
            open.foreach { cur =>
              state.update(cur)
              state.setTimeoutTimestamp(cur.lastUs / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.reverseIterator
          }
      }
  }
}
