package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-contract registry for the streaming surface. s01 runs a REAL
  * Structured Streaming query (file source → watermark → windowed agg →
  * memory sink, `Trigger.AvailableNow`) to completion; in Complete mode
  * the sink equals the batch computation, so the entry is exactly
  * oracle-checkable (same SQL as the batch twin o17).
  */
object StreamingQueries {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_streaming_hourly" -> ((s, d) => {
      val sink = s"graft_s01_sink_${counter.incrementAndGet()}"
      // Complete mode re-emits the FULL result every batch, so the
      // trailing no-data batch (watermark advance for eviction) cannot
      // change the drained output — skip its store-lifecycle pass
      Streaming.runAvailableNow(
        Streaming.hourlyAgg(Streaming.eventsStream(s, d)), sink,
        noDataBatches = false)
        .orderBy("hour")
    }),

    // streaming exact dedup: every event arrives TWICE (duplicated
    // in-stream); keyed dropDuplicates state collapses them back, so the
    // downstream aggregate equals the BATCH aggregate over the original
    // table — which is exactly what the oracle checks. Sums run in
    // DECIMAL(18,4) for order-free cross-engine exactness.
    // Round 21 (verdict item): the duplication used to be
    // `ev.unionByName(ev)` — two full FileScans of the source per
    // micro-batch by construction. A single-read explode(2) staging
    // emits the identical doubled row multiset (each source row becomes
    // two value-identical rows; union produced the same two, one per
    // branch) from ONE scan, and dropDuplicates keys on event_id so
    // which physical twin survives is indistinguishable — the drained
    // aggregate is provably row-identical, and the oracle re-checks it.
    "s02_streaming_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Streaming.eventsStream(s, d)
      val sink = s"graft_s02_sink_${counter.incrementAndGet()}"
      Streaming.runAvailableNow(
        ev.withColumn("dup_copy", explode(array(lit(0), lit(1))))
          .drop("dup_copy")
          .dropDuplicates("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
              .as("total_value")),
        sink, noDataBatches = false) // Complete mode: see s01
        .orderBy("event_type")
    }),

    // watermarked STREAM-STREAM inner join: views joined to purchases by
    // the same user within 30 minutes of EVENT time. Both sides carry a
    // 1h watermark bounding join state; the range condition lets the
    // state store evict rows once the watermark passes view_ts + 30min —
    // the canonical bounded-state stream-stream join shape. The left
    // side is a bounded user set (user_id < 100), so localizing the
    // joined pairs from the sink stays aggregate-small by construction;
    // inner-join matches emit as soon as both rows have arrived, so the
    // drained AvailableNow result is the complete deterministic match
    // set — which the batch self-join oracle pins.
    "s04_stream_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Streaming.eventsStream(s, d)
      val views = ev
        .filter(col("event_type") === "view" && col("user_id") < 100)
        .select(col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val buys = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
        .withWatermark("buy_ts", "1 hour")
      val joined = views.join(buys,
        col("user_id") === col("b_user") &&
          col("buy_ts") > col("view_ts") &&
          col("buy_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      val sink = s"graft_s04_sink_${counter.incrementAndGet()}"
      // state-store lifecycle is s04's fixed cost, not the join: a
      // stream-stream join opens FOUR stores per partition per batch.
      // The partition count derives from the session's cores (round 21 —
      // no literal; floor 4, measured cold at sf0.1: 8p/noData 4.15 s →
      // 4p/skip 2.03 s; see Streaming.statePartitionsFor), and the trailing
      // no-data batch is skipped because inner-join matches emit
      // EAGERLY — the empty batch only advances the watermark for
      // state eviction, which a drained AvailableNow run never needs
      // (result row-identical either way, oracle-checked)
      Streaming.runAvailableNow(
        joined.select(col("user_id"), col("view_ts"), col("buy_ts")),
        sink, org.apache.spark.sql.streaming.OutputMode.Append(),
        statePartitions = Streaming.statePartitionsFor(s), noDataBatches = false)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // custom session state on the driver gate: per-user 30-min-gap
    // sessionization via flatMapGroupsWithState ([[Streaming.sessionize]]),
    // drained deterministically by staging ONE sentinel event per user 2h
    // past the corpus max — the sentinel's arrival closes each user's
    // last real session inside the automaton (gap 2h > 30min), and the
    // sentinel's own session never times out (its timeout sits past the
    // final watermark), so exactly the real sessions emit. Everything is
    // read in one AvailableNow micro-batch (no trigger size limit), so
    // the per-batch sort in sessionize sees a fully ordered stream and
    // the drained output is deterministic — which lets the batch
    // gaps-and-islands oracle pin session COUNTS, EVENT totals and the
    // longest-session duration per user, µs-exact.
    "s05_streaming_sessions" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val root = graft.engine.Workdirs
        .materializeOnce("graft-streaming-sessions", d) { root =>
          // memoization is per-JVM; a previous JVM's staging dir may
          // still be on disk (the s03 pattern: the block owns cleanup)
          graft.engine.Workdirs.delete(s, root)
          val ev = graft.engine.Tables.events(s, d).select(col("user_id"), col("ts"))
          val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0).toInstant
          val sentinels = ev.select(col("user_id")).distinct()
            .withColumn("ts", lit(maxTs.plusSeconds(2 * 3600L)))
          ev.unionByName(sentinels).write.parquet(s"$root/sessions_src")
        }
      val dir = s"$root/sessions_src"
      val schema = graft.engine.Tables.parquet(s, dir).schema
      val stream = s.readStream.schema(schema).parquet(dir)
        .select(col("user_id"), col("ts")).as[Streaming.Event]
      val sink = s"graft_s05_sink_${counter.incrementAndGet()}"
      // the trailing no-data batch is skipped (round 20): every REAL
      // session closes inside the one data batch — the sentinel's
      // arrival is the gap that closes it — and the only state the
      // no-data batch's watermark advance could flush is the sentinels'
      // own open sessions, whose timeouts sit PAST the final watermark
      // by construction (see the staging note above), so the drained
      // output is row-identical (oracle-checked) and the stream saves
      // one full state-store lifecycle pass. State partitions derive
      // from the session's cores (round 21; floor 4 — the s04 sizing
      // argument: per-user session state at this volume fits a handful
      // of stores, and each extra partition is a store open/commit per
      // batch, not parallelism this state needs).
      Streaming.runAvailableNow(
        Streaming.sessionize(stream, gapMinutes = 30).toDF(), sink,
        org.apache.spark.sql.streaming.OutputMode.Append(),
        statePartitions = Streaming.statePartitionsFor(s), noDataBatches = false)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          max(col("end_us") - col("start_us")).as("max_session_us"))
        .orderBy("user_id")
    }),

    // LATE-DATA handling under a watermark that SURVIVES A RESTART: the
    // events table is staged as two halves — everything outside the
    // first event-hour, and the first-hour stragglers — and streamed as
    // two sequential AvailableNow runs over ONE caller-owned checkpoint.
    // Run 1 processes the on-time half and persists watermark =
    // max(ts)−1h in the commit log; run 2 restores it and the straggler
    // file arrives hopelessly late — every straggler is evicted
    // (asserted via numRowsDroppedByWatermark in StreamingSpec; relying
    // on two RUNS, not on rate-limit micro-batching, makes the batch
    // boundary structural rather than a maxFilesPerTrigger behavior).
    // The unioned Append output is exactly the hourly windows that both
    // (a) lost their first-hour rows and (b) were finalized by the
    // final watermark (window_end ≤ max−1h) — which the oracle replays.
    "s06_late_data_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val root = graft.engine.Workdirs
        .materializeOnce("graft-s06-late", d) { root =>
          graft.engine.Workdirs.delete(s, root)
          val ev = graft.engine.Tables.events(s, d)
            .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
          val minTs = ev.agg(min(col("ts"))).head().getTimestamp(0).toInstant
          val cut = java.sql.Timestamp.from(minTs.plusSeconds(3600L))
          ev.filter(col("ts") >= cut).coalesce(1).write.parquet(s"$root/ontime")
          ev.filter(col("ts") < cut).coalesce(1).write.parquet(s"$root/late")
        }
      // fresh per-invocation stream dir + checkpoint (the staged halves
      // are shared; the arrival ORDER is this invocation's state)
      val conf = s.sessionState.newHadoopConf()
      val srcDir = java.nio.file.Files.createTempDirectory("graft-s06-src")
      val ck = java.nio.file.Files.createTempDirectory("graft-s06-ck")
      def arrive(half: String, as: String): Unit = {
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$half"))
          .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
        org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
          new org.apache.hadoop.fs.Path(s"$srcDir/$as"), false, true, conf): Unit
      }
      def run(): DataFrame = {
        val schema = graft.engine.Tables.parquet(s, s"$root/ontime").schema
        val stream = s.readStream.schema(schema).parquet(srcDir.toString)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
        val sink = s"graft_s06_sink_${counter.incrementAndGet()}"
        Streaming.runAvailableNow(
          stream.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("window.start").as("hour"), col("n_events")),
          sink, org.apache.spark.sql.streaming.OutputMode.Append(),
          checkpointDir = Some(ck.toString))
      }
      try {
        arrive("ontime", "part-00000.parquet")
        val first = run()
        arrive("late", "part-00001.parquet")
        val second = run()
        first.unionByName(second).orderBy("hour")
      } finally {
        // the drained frames read only runAvailableNow's sink dirs, so
        // the checkpoint (state store + WAL) and the staged arrival dir
        // are dead once both runs terminate — delete them NOW, failure
        // included (runAvailableNow's own discipline for the temp
        // checkpoints it creates), instead of accumulating streaming
        // state across repeated bench/verify invocations
        graft.engine.Workdirs.deleteRecursively(ck.toFile)
        graft.engine.Workdirs.deleteRecursively(srcDir.toFile)
      }
    }),

    // streaming file-source ingest of the landing zone (the incremental
    // pipeline's streaming twin): explode → readStream over the period
    // files (2 files per micro-batch) → foreachBatch anti-join append →
    // bronze; a second AvailableNow run over the same checkpoint is a
    // no-op. The resulting bronze must equal the source orders exactly —
    // the same oracle as the batch pipeline's p02.
    "s03_streaming_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val root = graft.engine.Workdirs
        .materializeOnce("graft-streaming-ingest", d) { root =>
          graft.engine.Workdirs.delete(s, root)
          graft.engine.Landing.explode(s, d, s"$root/landing", periodFmt = "yyyy")
          Streaming.ingestOrders(
            s, s"$root/landing/orders", s"$root/bronze_orders", s"$root/ckpt")
          // rerun over the same checkpoint: nothing new to discover
          Streaming.ingestOrders(
            s, s"$root/landing/orders", s"$root/bronze_orders", s"$root/ckpt")
        }
      val cols = graft.engine.Tables.orders(s, d).columns.map(col).toIndexedSeq
      graft.engine.Tables.parquet(s, s"$root/bronze_orders").select(cols: _*).orderBy("o_orderkey")
    })
  )

  def oracles: Map[String, String] = Map(
    // SQL replay of the watermark: stragglers (first event-hour) are
    // dropped; only windows finalized by the final watermark
    // (window_end <= max(ts) - 1h) ever emit in Append mode
    "s06_late_data_audit" ->
      """WITH m AS (SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM events)
        |SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
        |FROM events, m
        |WHERE ts >= mn + INTERVAL 1 HOUR
        |  AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY hour""".stripMargin,

    "s01_streaming_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_value
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,

    "s02_streaming_dedup" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "s03_streaming_ingest" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    // batch gaps-and-islands twin of the streaming automaton: a session
    // breaks when the µs gap EXCEEDS 30 min (ties merge — the automaton's
    // `us - lastUs <= gapUs` branch); sentinels are an implementation
    // detail of the drain and do not appear in the oracle's input
    "s05_streaming_sessions" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events),
        |i AS (
        |  SELECT user_id, us,
        |         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sess, MIN(us) AS s, MAX(us) AS e, COUNT(*) AS n
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(SUM(n) AS BIGINT) AS n_events,
        |       CAST(MAX(e - s) AS BIGINT) AS max_session_us
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "s04_stream_stream_join" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'view' AND a.user_id < 100
        |  AND b.event_type = 'purchase'
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin
  )
}
