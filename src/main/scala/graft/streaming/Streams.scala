package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming expression of the reference's orchestration-level
  * incremental processing (SURVEY.md §2.9): the reference re-reads the whole
  * glob daily under an Airflow schedule + FileSensor; the Spark-native shape
  * is a file-source stream with event-time windows and watermarks —
  * new files are discovered by the source itself (the FileSensor, S9,
  * becomes unnecessary).
  *
  * All queries run with `Trigger.AvailableNow` + a memory sink so they are
  * finite and deterministic over the test corpus; against live data the
  * same plans run continuously. At cluster scale the file source scales by
  * listing + partition assignment; state (window counts, dedup keys,
  * per-user state) lives in the state store, bounded by the watermark.
  */
object Streams {
  /** The streaming file source needs an explicit schema; `ts`'s physical
    * type depends on the corpus generation (epoch-nano Long vs
    * TIMESTAMP_NTZ micros — see graft.Tables.normalizeTs), so it is filled
    * in per-directory from one driver-side batch footer read. Reading
    * micros as if they were nanos silently collapses every timestamp to
    * ~1970 and with it every window — the round-6 streaming corruption. */
  private def eventSchema(tsType: org.apache.spark.sql.types.DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private var counter = 0L
  private def freshName(prefix: String): String = synchronized {
    counter += 1; s"${prefix}_$counter"
  }

  /** The RocksDB state-store provider shipped with Spark. The default
    * (HDFSBackedStateStoreProvider) keeps every state row on the executor
    * heap — fine for bounded test state, an OOM at 100 TB-scale key
    * cardinality. RocksDB spills state to local disk with changelog
    * checkpointing, so state size is bounded by disk, not heap. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the given state-store provider class. The conf is
    * read at streaming-query START, so setting it around query
    * construction + start is sufficient; restored afterwards so batch
    * work in the same session is unaffected. */
  def withStateStoreProvider[A](spark: SparkSession, providerClass: String)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, providerClass)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** File-source stream over events with `ts` normalized to TimestampType
    * regardless of the corpus's physical representation (footer-driven, see
    * [[eventSchema]]). */
  private[streaming] def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // file source requires a directory; select just the events file via glob
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(eventSchema(tsType))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir),
      "ts")
  }

  private[streaming] def runToTable(df: DataFrame, spark: SparkSession, mode: OutputMode): DataFrame = {
    val name = freshName("graft_stream")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Pipeline-1 as a stream: tumbling 1-day event-time window count — the
    * watermarked, event-time-correct version of "count trips per pickup
    * day" (reference `calculate_daily_transactions.py:52-57`). */
  def dailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(to_date(col("w.start")).as("event_day"), col("n_events"))
    runToTable(agg, spark, OutputMode.Complete()).orderBy(col("event_day"))
  }

  /** Hopping (sliding) event-time window as a stream: width 2 h, slide
    * 1 h. Same state story as the tumbling window — one state row per
    * OPEN window (2× the tumbling count for width/slide = 2), each closed
    * and evicted once the watermark passes its end. */
  def hopCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n_events"))
    runToTable(agg, spark, OutputMode.Complete()).orderBy(col("w_start"))
  }

  /** Streaming sketch aggregation: per-day event-time windows carrying a
    * Greenwald-Khanna percentile summary in the state store instead of
    * rows — the streaming twin of `q_quantile_approx`. State per open
    * window is one mergeable sketch (bounded by the accuracy parameter),
    * NOT the window's events, so a 100 TB/day stream holds KBs per
    * window; micro-batches merge their partial summaries into the stored
    * one exactly like the batch partial-agg path. At gate scale the
    * summary compresses nothing (accuracy ≫ rows/day) so the result is
    * the exact nearest-rank percentile — hash-checkable against DuckDB's
    * quantile_disc (the proven q_quantile_approx discipline). */
  def dailyQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr("percentile_approx(value, 0.5, 50000)").as("p50_value"),
        expr("percentile_approx(value, 0.9, 50000)").as("p90_value"))
      .select(to_date(col("w.start")).as("event_day"),
        col("p50_value"), col("p90_value"))
    runToTable(agg, spark, OutputMode.Complete()).orderBy(col("event_day"))
  }

  /** Streaming exact dedup on event_id (state-store keyed dedup), then a
    * batch count over the deduped sink — the streaming half of the dedup
    * family. */
  def dedupCount(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .dropDuplicates("event_id")
    val name = freshName("graft_stream")
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logStateMetrics("stream_dedup_state", q)
    spark.table(name).agg(count(lit(1)).as("n_unique_events"))
  }

  /** Watermark-BOUNDED streaming dedup — the production form of
    * [[dedupCount]]. `dropDuplicates` holds every key ever seen (corpus-
    * lifetime state: the whole key set in the store, measured at 71.5 s /
    * 15M keys in the r7 probe), which is the right contract only when
    * global uniqueness is the requirement. A 100 TB ingest pipeline
    * instead bounds dedup to the lateness window —
    * `dropDuplicatesWithinWatermark` evicts a key once the watermark
    * passes its event time + delay, so state holds ~delay's worth of keys
    * no matter how long the stream runs (mirroring the reference's
    * bounded daily-slice semantics, `calculate_daily_transactions.py:85`:
    * each day is deduplicated against itself, not against all history).
    *
    * Contract: duplicates arriving within `delay` of each other collapse
    * to one row; a copy arriving after its key's eviction is re-admitted
    * (pinned in `WatermarkSpec`). The batch COUNT(DISTINCT) oracle is
    * exact whenever every duplicate group spans less than `delay` of
    * event time — trivially true here (corpus event_ids are unique, and
    * [[eventsTimeSliced]] cuts by VALUE, so equal-timestamp copies always
    * share a micro-batch).
    *
    * The corpus streams in as [[eventsTimeSliced]] time-range files, one
    * per micro-batch, so the watermark advances and eviction actually
    * runs (single-file AvailableNow would hold everything in state once —
    * the degenerate case this query exists to avoid); per-batch state
    * rows are surfaced via [[graft.StructuredLog]] as
    * `stream_dedup_windowed_state` and asserted ≪ total keys in
    * `WatermarkSpec`. */
  def dedupWindowedCount(spark: SparkSession, dir: String,
                         nFiles: Int = 8): DataFrame = {
    val sliced = eventsTimeSliced(spark, dir, nFiles)
    val src = spark.readStream
      .schema(eventSchema(org.apache.spark.sql.types.TimestampType))
      .option("maxFilesPerTrigger", "1")
      .parquet(sliced)
    val deduped = graft.Tables.normalizeTs(src, "ts")
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    val name = freshName("graft_stream")
    val q = deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logStateMetrics("stream_dedup_windowed_state", q)
    spark.table(name).agg(count(lit(1)).as("n_unique_events"))
  }

  /** Idle horizon for per-user state: a user silent this long past the
    * watermark is evicted (final count emitted, state removed). Bounds the
    * state store to recently-active users — with NoTimeout the store grows
    * monotonically with every user ever seen, which at 100 TB of events is
    * an unbounded leak. */
  private[graft] val userIdleGapMs: Long = 30L * 24 * 3600 * 1000

  /** Custom state: per-user event counting via mapGroupsWithState —
    * `KeyValueGroupedDataset` custom-state surface (SURVEY.md §7 north
    * star) with event-time state expiry keyed to the watermark. Output is
    * robust to multi-batch replays by max-reducing the running counts;
    * a user returning after eviction restarts from zero (the contract of a
    * bounded-state counter: counts cover one activity session within the
    * idle horizon). */
  private[graft] def userCountsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val gap = userIdleGapMs
    val updateState = (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                       state: GroupState[(Long, Long)]) => {
      if (state.hasTimedOut) {
        val total = state.get._1
        state.remove()
        (userId, total)
      } else {
        var n = 0L; var maxTs = Long.MinValue
        rows.foreach { r => n += 1; maxTs = math.max(maxTs, r._2.getTime) }
        val (prev, prevMax) = state.getOption.getOrElse((0L, Long.MinValue))
        val total = prev + n
        val m = math.max(prevMax, maxTs)
        state.update((total, m))
        // strictly above the watermark, as EventTimeTimeout requires
        state.setTimeoutTimestamp(math.max(m + gap, state.getCurrentWatermarkMs() + 1))
        (userId, total)
      }
    }
    events
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout())(updateState)
      .toDF("user_id", "n_events")
  }

  def userCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = userCountsStream(
      eventStream(spark, dir).withWatermark("ts", "1 day"))
    runToTable(counts, spark, OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Time-ordered multi-file copy of events (built once per (source dir,
    * slice count, corpus version) per JVM, tmpfs-backed): a single-file
    * corpus lands in ONE `AvailableNow` micro-batch, so both sides of a
    * stream-stream join sit in state at once and the watermark never
    * evicts anything — the finite-harness artifact that made
    * q_stream_stream_join the most expensive bench entry. Slicing the
    * corpus into `nFiles` contiguous event-time ranges (any cut placement
    * is output-neutral: batch k+1's rows all sit above batch k's
    * watermark, so nothing is ever late) and feeding them with
    * maxFilesPerTrigger=1 makes the watermark advance BETWEEN batches —
    * state holds ~interval+delay of events, the production bound, instead
    * of the whole corpus.
    *
    * ORDERING DEPENDENCY: "output-neutral" rests on FileStreamSource
    * consuming files oldest-mtime-first, which the strictly increasing
    * `fs.setTimes` stamps (1 s apart, far above any filesystem mtime
    * granularity) pin down. If the slices ever arrived out of event-time
    * order, earlier-range rows would fall below the advanced watermark and
    * be silently dropped — which is why `WatermarkSpec` asserts equality
    * with the batch join for the inner and left-outer forms, through
    * both the memory and the parquet sink: a Spark file-ordering change
    * surfaces as a loud mismatch, not silent loss.
    *
    * The cache key includes the source file's (mtime, length), so a corpus
    * regenerated in place within one JVM gets fresh slices, not stale
    * ones. */
  private val splitDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def eventsTimeSliced(spark: SparkSession, dir: String,
                               nFiles: Int = 4, sentinel: Boolean = false): String = {
    val srcStat = {
      val p = new org.apache.hadoop.fs.Path(graft.Tables.path(dir, "events"))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      s"${st.getModificationTime}:${st.getLen}"
    }
    splitDirs.computeIfAbsent(s"$dir|$nFiles|$sentinel|$srcStat", _ => {
      val out = graft.Scratch.tempDir("graft_evslice_")
      val ev = graft.Tables.load(spark, dir, "events")
        .withColumn("t", unix_micros(col("ts")))
      // quantile cuts only shape the batches, never the output — approx is fine
      val cuts = ev.stat.approxQuantile(
        "t", (1 until nFiles).map(_.toDouble / nFiles).toArray, 0.001)
      val bounds = (Double.NegativeInfinity +: cuts) :+ Double.PositiveInfinity
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val t0 = System.currentTimeMillis()
      for (i <- 0 until nFiles) {
        val slice = ev.filter(col("t") >= bounds(i) && col("t") < bounds(i + 1)).drop("t")
        val tmp = s"$out/.slice_tmp"
        slice.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        val dst = new org.apache.hadoop.fs.Path(f"$out/events_$i%02d.parquet")
        fs.rename(part, dst)
        fs.setTimes(dst, t0 + i * 1000L, -1)
      }
      // Watermark flush for OUTER joins: unmatched-row emission happens at
      // state EVICTION, which runs a batch after the watermark passes the
      // row — on a finite feed the last slices' unmatched rows would sit in
      // state forever. Two trailing sentinel files (30/31 days past the
      // corpus, negative ids on both sides so they match nothing real)
      // advance both sides' watermarks past every real event and give the
      // eviction pass its extra batches. Consumers filter ids < 0 out.
      if (sentinel) {
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        for (j <- 0 until 2) {
          val far = new java.sql.Timestamp(
            maxTs.getTime + (30L + j) * 24 * 3600 * 1000)
          val sdf = spark.createDataFrame(Seq(
            (-1L - 2 * j, far, -1L - 2 * j, "purchase", 0.0, null: String),
            (-2L - 2 * j, far, -2L - 2 * j, "signup", 0.0, null: String)))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          val tmp = s"$out/.slice_tmp"
          sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
            .map(_.getPath).find(_.getName.endsWith(".parquet")).get
          val dst = new org.apache.hadoop.fs.Path(f"$out/events_${nFiles + j}%02d.parquet")
          fs.rename(part, dst)
          fs.setTimes(dst, t0 + (nFiles + j) * 1000L, -1)
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/.slice_tmp"), true)
      out
    })
  }

  /** Stream-stream interval join: each purchase joined to signups by the
    * same user within the preceding 7 days — both sides watermarked so
    * join state is bounded (the watermark + interval bound lets Spark
    * evict signup state older than 7 days + delay). Finite input → the
    * batch interval-join SQL is an exact oracle.
    *
    * The harness feeds [[eventsTimeSliced]] time-range files one per
    * micro-batch, so the run exercises inter-batch watermark eviction —
    * the production state-bound path — rather than the single-batch
    * everything-in-state degenerate case; per-batch state rows are
    * surfaced via [[graft.StructuredLog]] from the query progress. */
  /** The interval-join plan over the time-sliced feed, on an isolated
    * child session: stream-stream join state costs one (offset log +
    * 4 store deltas) × n_partitions commit per micro-batch, and per-batch
    * volumes here are corpus/nFiles rows — 32 partitions is pure fixed
    * overhead at that size. 8 keeps the state commit path cheap without
    * touching concurrently-planned queries (conf isolation is
    * per-session). At production volume per batch, size partitions to
    * the batch, exactly like any shuffle. */
  private def attributionJoined(spark: SparkSession, dir: String,
                                leftOuter: Boolean = false): (SparkSession, DataFrame) = {
    val sliced = eventsTimeSliced(spark, dir, sentinel = leftOuter)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    def side(): DataFrame = {
      // slices are written from the normalized frame: ts is TimestampType
      val src = s2.readStream
        .schema(eventSchema(org.apache.spark.sql.types.TimestampType))
        .option("maxFilesPerTrigger", "1")
        .parquet(sliced)
      graft.Tables.normalizeTs(src, "ts")
    }
    val purchases = side()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = side()
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    (s2, purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
      if (leftOuter) "leftOuter" else "inner"))
  }

  private def logStateMetrics(event: String,
                              q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal)
    graft.StructuredLog.info(event,
      "batches" -> q.recentProgress.length,
      "max_state_rows" -> (if (stateRows.isEmpty) 0L else stateRows.max),
      "last_state_rows" -> (if (stateRows.isEmpty) 0L else stateRows.last))
  }
  private def logJoinState(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    logStateMetrics("stream_stream_join_state", q)

  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (s2, joined) = attributionJoined(spark, dir)
    val name = freshName("graft_stream")
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logJoinState(q)
    s2.table(name)
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(lit(1)).as("n_signups_7d"))
      .orderBy(col("p_id"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase appears in the
    * output, attributed signups counted, zero for purchases no signup
    * preceded — the semantics a funnel/attribution pipeline actually needs
    * (an inner join silently drops the un-attributed cohort, usually the
    * interesting one). The outer side's null-extended row is emitted at
    * state EVICTION, i.e. only once the watermark proves no matching
    * signup can still arrive — on a finite feed that final proof needs the
    * sentinel slices [[eventsTimeSliced]] appends (ids < 0, filtered
    * here), which push both sides' watermarks past every real event.
    * State bound is identical to the inner join (watermark + interval);
    * the only addition is the deferred emission. Oracle: the batch LEFT
    * JOIN aggregate — COUNT(s_user) counts matches, null-extended rows
    * count 0. */
  def purchaseAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val (s2, joined) = attributionJoined(spark, dir, leftOuter = true)
    val name = freshName("graft_stream")
    val q = joined.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logStateMetrics("stream_stream_join_outer_state", q)
    s2.table(name)
      .filter(col("p_id") >= 0)
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(col("s_user")).as("n_signups_7d"))
      .orderBy(col("p_id"))
  }

  /** Production form of [[purchaseAttribution]]: the joined pairs stream
    * to a DISTRIBUTED parquet sink — executors write, nothing ever lands
    * on the driver — and one batch aggregate over the sink derives the
    * per-purchase counts. The memory-sink variant above is the
    * finite-test harness ONLY: on an output-explosive corpus the interval
    * join's result is inherently quadratic in replication (N-fold copied
    * events multiply matches N²; the 100× probe corpus yields 561M
    * matched rows), so any driver-collected sink OOMs by construction
    * while this path streams through unchanged. */
  def purchaseAttributionToParquet(spark: SparkSession, dir: String,
                                   outDir: String, checkpointDir: String,
                                   leftOuter: Boolean = false): DataFrame = {
    val (s2, joined) = attributionJoined(spark, dir, leftOuter)
    val q = joined.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logStateMetrics(
      if (leftOuter) "stream_stream_join_outer_state"
      else "stream_stream_join_state", q)
    s2.read.parquet(outDir)
      .filter(col("p_id") >= 0) // sentinel slices (leftOuter only)
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(col("s_user")).as("n_signups_7d"))
      .orderBy(col("p_id"))
  }

  /** Pipeline-1 into a DISTRIBUTED file sink — the 100 TB path (the memory
    * sink is a finite-test harness only; foreachBatch-JDBC below is
    * reference parity). Append mode + watermark: each 1-day window emits
    * exactly once, when the watermark closes it; the parquet sink's
    * transaction log plus the checkpoint make replays idempotent — a
    * restarted job re-commits nothing, executors write partitioned files
    * with no driver collection anywhere. Returns the sink path's current
    * contents for inspection. */
  def dailyCountsToParquet(spark: SparkSession, dir: String,
                           outDir: String, checkpointDir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(to_date(col("w.start")).as("event_day"), col("n_events"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming materialized view by key (CDC apply): each micro-batch
    * merges into a parquet key-value state and the merge re-compacts
    * state ∪ batch with the same latest-wins `max_by` as `q_log_compact` —
    * so the result is independent of batch boundaries AND of replays:
    * re-processing any suffix (or the whole) of the log converges to the
    * same state. The swap is staged (write stage dir, then backup-swap)
    * because the merge plan reads the live state dir; at every instant an
    * intact copy of the state exists on disk. At scale the state is a bucketed
    * table and the per-batch cost is one key-shuffle of batch + state. */
  def compactedStateToParquet(spark: SparkSession, dir: String,
                              stateDir: String, checkpointDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value")
    val q = eventStream(spark, dir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val statePath = new Path(stateDir)
        val fs = statePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val b = batch.select(cols.map(col): _*)
        val unioned =
          if (fs.exists(statePath)) s.read.parquet(stateDir).unionByName(b)
          else b
        val merged = unioned.groupBy(col("user_id"))
          .agg(max_by(
            struct(col("ts"), col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("l"))
          .select(col("user_id"), col("l.ts").as("ts"),
            col("l.event_id").as("event_id"),
            col("l.event_type").as("event_type"), col("l.value").as("value"))
        // backup-swap: at every instant either the old or the new state
        // directory exists intact — a crash between the renames leaves the
        // backup for manual (or next-run) recovery, never zero copies
        val stage = new Path(statePath.getParent, s".${statePath.getName}_stage")
        val backup = new Path(statePath.getParent, s".${statePath.getName}_bak")
        fs.delete(stage, true)
        merged.write.parquet(stage.toString)
        fs.delete(backup, true)
        if (fs.exists(statePath)) fs.rename(statePath, backup)
        fs.rename(stage, statePath)
        fs.delete(backup, true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(stateDir)
  }

  /** Pipeline-1 as a continuous job into the reference's JDBC sink:
    * windowed counts upserted per micro-batch via foreachBatch (the
    * streaming writer JDBC lacks natively). Complete-mode output +
    * overwrite keeps the sink idempotent under batch replay — the
    * exactly-once story a daily-counts table needs. */
  def dailyCountsToJdbc(spark: SparkSession, dir: String,
                        conf: graft.sources.JdbcConfig, table: String): Unit = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("total_transactions"))
      .select(to_date(col("w.start")).as("transaction_date"),
        col("total_transactions"))
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.JdbcSink.overwriteTruncate(batch, conf, table)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming near-duplicate detection — the ingestion-time dedup an LLM
    * data pipeline actually runs: documents stream in, LSH bucket
    * membership lives in keyed state (flatMapGroupsWithState on the band
    * hash), each arriving doc emits candidate pairs against everything
    * previously seen in its buckets, and candidates are jaccard-verified
    * against the batch corpus. Output equals the batch
    * `q_dedup_minhash_lsh` — same exact all-pairs oracle.
    *
    * State bounds: dedup state is corpus-lifetime BY CONSTRUCTION — a doc
    * must be checked against everything previously admitted, and evicting
    * state would silently re-admit duplicates, so there is no
    * watermark-driven expiry here (dropping state is a retention POLICY
    * decision, e.g. "only dedup within a crawl snapshot", applied by
    * bounding the input, not the operator). What IS bounded is each
    * bucket's membership list: at most `cap` docs (first arrivals kept,
    * mirroring the batch `Dedup.bucketCap` smallest-ids cap under in-order
    * arrival), so one adversarial boilerplate bucket cannot grow a state
    * row or a per-doc emission quadratically. */
  /** The streaming LSH candidate-pair stream shared by the memory-sink
    * harness form and the parquet-sink production form below. */
  private def nearDupCandidatePairs(spark: SparkSession, dir: String,
                                    cap: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.Sketches
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val banded = stream
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), posexplode(Sketches.bandhashes(
        Sketches.shingleMinhashes(col("w"), 3, 64), 4))
        .as(Seq("band_idx", "band_hash")))
    val pairs = banded
      .selectExpr("doc_id", "band_idx", "band_hash")
      .as[(Long, Int, Long)]
      .groupByKey { case (_, idx, hash) => (idx, hash) }
      .flatMapGroupsWithState[List[Long], (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (_, rows, state: GroupState[List[Long]]) =>
          val seen = state.getOption.getOrElse(Nil) // newest-first
          val arriving = rows.map(_._1).toList.distinct
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
          var acc = seen
          var size = acc.length
          arriving.foreach { d =>
            if (size < cap) { // bucket full → doc neither pairs nor joins it
              acc.foreach { prev =>
                if (prev != d) out += ((math.min(prev, d), math.max(prev, d)))
              }
              acc = d :: acc
              size += 1
            }
          }
          state.update(acc)
          out.iterator
        }
      .toDF("doc_a", "doc_b")
    pairs
  }

  /** jaccard-verify candidate pairs against the batch corpus (fused
    * one-pass expression, same as the batch pipeline's verify join). */
  private def verifyNearDupPairs(spark: SparkSession, dir: String,
                                 cand: DataFrame): DataFrame = {
    val d = graft.Tables.load(spark, dir, "documents")
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .withColumn("jaccard",
        graft.functions.Sketches.jaccardShingles(col("text_a"), col("text_b"), 3))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def streamingNearDupPairs(spark: SparkSession, dir: String,
                            cap: Int = graft.operators.Dedup.bucketCap): DataFrame = {
    val cand = runToTable(nearDupCandidatePairs(spark, dir, cap),
      spark, OutputMode.Append()).distinct()
    verifyNearDupPairs(spark, dir, cand)
  }

  /** Production form of [[streamingNearDupPairs]]: candidate pairs stream
    * to a DISTRIBUTED parquet sink and the exact-jaccard verification
    * runs as a batch join over the sink — nothing lands on the driver.
    * The memory-sink form above is the finite-test harness ONLY: on a
    * dup-heavy corpus the candidate volume is quadratic in cluster size
    * (a b-member exact-dup cluster emits C(b,2) candidates per shared
    * band), and collecting that to a driver fails on maxResultSize by
    * construction — the 100× probe corpus (100-member planted clusters)
    * measured 1.1 GiB of candidates per collected batch. */
  def streamingNearDupPairsToParquet(spark: SparkSession, dir: String,
                                     outDir: String, checkpointDir: String,
                                     cap: Int = graft.operators.Dedup.bucketCap): DataFrame = {
    val q = nearDupCandidatePairs(spark, dir, cap).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    verifyNearDupPairs(spark, dir, spark.read.parquet(outDir).distinct())
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)),
    StructField("label", org.apache.spark.sql.types.IntegerType)))

  /** Streaming semantic (embedding) admission — the streaming twin of
    * `q_dedup_semantic_incremental`, completing the streaming admission
    * matrix on the embedding axis: an arriving vector is rejected when
    * some STORE vector sits at cosine ≥ 0.45. Store side: the embedding-
    * identity quotient banded ONCE with the shared seeded hyperplane
    * family ([[graft.operators.Dedup.bandedEmbeddings]]) — either
    * in-plan (self-contained form), or read from the PERSISTED
    * band-index table ([[graft.operators.Dedup.writeBandIndex]], the
    * fused-ingest discipline — `q_stream_semantic_rejects_ingest`).
    *
    * Arrival side (r13 rewrite): each micro-batch runs the BATCH
    * pipeline inside `foreachBatch` — quotient by embedding identity,
    * band the quotient, batch×index band equi-join, exact-cosine verify,
    * closed-form member re-expansion, append to the rejects table. The
    * r12 declarative form banded PER ARRIVAL (a streaming frame cannot
    * quotient statelessly) and paid candidates ≈ arrivals × b × bucket
    * size: the 1000× hot-embedding probe measured ~110M candidate
    * cosines and a 2 823 task-second join stage (max task 141 s) where
    * the batch twin's quotient does ~1M. foreachBatch makes per-batch
    * quotienting a batch-plan property — the canonical production shape
    * for reusing batch logic on a stream — and drops the gate to batch
    * cost + stream overhead with NO single-task tail. State: none (the
    * rejects table is per-batch parquet, overwrite-by-batchId for replay
    * idempotence; each arrival lives in exactly one batch, so per-batch
    * results concatenate to the global gate). */
  def semanticAdmissionStream(spark: SparkSession, dir: String,
      index: Option[graft.sources.StoreRef] = None): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.Sketches
    // store side: either the PERSISTED band index ([[graft.operators
    // .Dedup.writeBandIndex]] parquet or its bucketed-table form — fixed
    // projections, zero quotient/band work at admission time; no
    // persist() needed, the storage IS the materialization) or the
    // self-contained in-plan quotient+banding, persisted so the
    // per-micro-batch static-side re-plan doesn't recompute it.
    val (sBand, sEmb) = index match {
      case Some(ref) =>
        val (b, v) = Dedup.readBandIndexRef(spark, ref)
        (b, v.select(col("sid"), col("embedding").as("s_emb")))
      case None =>
        val (b, v) = Dedup.semanticStoreIndex(
          graft.Tables.load(spark, dir, "embeddings"))
        (b.persist(), v.select(col("sid"), col("embedding").as("s_emb")).persist())
    }
    // layout-aware source: the driver corpora keep embeddings as one
    // flat FILE (streamed via a filename glob on the parent dir), but
    // derived corpora write a part-file DIRECTORY named
    // embeddings.parquet (streamed by path — FileStreamSource's basePath
    // must be a directory, and a filename glob would match the part
    // files of neither name and silently read ZERO rows, the r12 sf1
    // vacuity bug). The directory layout is deliberate: forcing derived
    // embeddings into one flat file serialized every BATCH embedding
    // scan onto one split (measured 3-4× across the sf1 family). The
    // branch is one driver-side FS metadata call at plan-build time.
    val embPath = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val embFs = embPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // preflight, not a raw FileNotFoundException: name the missing table
    // and both accepted layouts (the Tables.preflight discipline)
    require(embFs.exists(embPath),
      s"embeddings table not found under $dir — expected either a flat " +
        s"file embeddings.parquet or a part-file directory embeddings.parquet/")
    val isDir = embFs.getFileStatus(embPath).isDirectory
    val reader = spark.readStream.schema(embSchema)
    val stream = (if (isDir) reader.parquet(embPath.toString)
      else reader.option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    // no explicit repartition: the quotient groupBy below is the width
    // restorer (its exchange spreads the signature/banding work), so the
    // few-split flat-file micro-batch only pays a trivial map-side hash
    val outDir = graft.Scratch.tempDir("graft_semrej_out_")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bCls = batch.groupBy(col("embedding"))
          .agg(min(col("vec_id")).as("rep"),
            collect_list(col("vec_id")).as("members"))
        Dedup.bandedEmbeddings(
            bCls.select(col("rep"), col("embedding")), "rep")
          .join(sBand, Seq("band_idx", "band_val"))
          .select(col("rep"), col("sid")).distinct()
          .join(bCls.select(col("rep"), col("embedding").as("b_emb"),
            col("members")), "rep")
          .join(sEmb, "sid")
          .withColumn("cos",
            round(Sketches.cosineSim(col("b_emb"), col("s_emb")), 6))
          .filter(col("cos") >= 0.45)
          .groupBy(col("rep"), col("members"))
          .agg(max(col("cos")).as("max_cos"))
          .select(explode(col("members")).as("vec_id"), col("max_cos"))
          // exactly-once per micro-batch (r13 ADVICE): foreachBatch is
          // at-least-once — a task/driver failure mid-batch REPLAYS the
          // batch, and a bare append would duplicate its rows. Writing
          // each batch to a batchId-named subdirectory with OVERWRITE is
          // the standard idempotence pattern: a replay rewrites the same
          // directory instead of appending a second copy, so per-batch
          // results concatenate to the global gate under any failure
          // schedule.
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
        ()
      }
      .option("checkpointLocation", graft.Scratch.tempDir("graft_semrej_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sBand.unpersist(); sEmb.unpersist()
    // explicit schema: a reject-free run writes only empty batch dirs,
    // and schema inference over zero rows would fail rather than return
    // the empty frame. recursiveFileLookup reads the per-batch
    // subdirectories without partition inference (the subdir name is a
    // replay-idempotence artifact, not a column).
    spark.read.schema("vec_id long, max_cos double")
      .option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy(col("vec_id"))
  }

  /** Streaming DSIR scoring — the streaming twin of
    * `q_mix_dsir_incremental`, completing the mixture axis's
    * batch/incremental/streaming symmetry (every other family — dedup,
    * admission, caps, heavy hitters — already has all three forms): as
    * recrawled documents arrive, each is scored by its DSIR log importance
    * weight against the PERSISTED log-ratio model
    * ([[graft.operators.Sampling.writeDsirModel]], fit once over the
    * corpus), so the downstream sampler can resample arrivals by weight
    * without any batch rescoring pass.
    *
    * Shape: scoring is a per-doc function of the broadcast ≤4096-row
    * model, and each arrival lives in exactly one micro-batch, so the
    * batch scoring pipeline runs unchanged inside `foreachBatch`
    * (explode → broadcast model join → map-side-combined sum by doc_id)
    * and per-batch outputs concatenate to the global scoring — the
    * per-micro-batch quotienting discipline of
    * [[semanticAdmissionStream]], with the same overwrite-by-batchId
    * replay idempotence. State: none. The model never refits on the
    * stream by design — DSIR's importance weights are meaningful only
    * against the FIXED target/source distributions of the fit pool
    * (a drifting model would rescore identical texts differently across
    * batches); refitting is the batch `writeDsirModel` pass's job. */
  def dsirScoreStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val modelDir = graft.Scratch.tempDir("graft_dsir_model_")
    Sampling.writeDsirModel(spark, dir, modelDir)
    val model = Sampling.readDsirModel(spark, modelDir)
    val outDir = graft.Scratch.tempDir("graft_dsir_out_")
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") >= 50 && col("doc_id") % 10 === 0)
      // no explicit repartition: dsirGrams spreads (doc_id, text) to full
      // width itself before the gram explode, per micro-batch
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sampling.dsirScoreAll(Sampling.dsirGrams(batch), model)
          // overwrite-by-batchId: a replayed micro-batch rewrites its own
          // subdirectory instead of appending a duplicate copy
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
        ()
      }
      .option("checkpointLocation", graft.Scratch.tempDir("graft_dsir_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema("doc_id long, n_grams long, dsir_logweight double")
      .option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy(col("doc_id"))
  }

  /** Stateless streaming text hygiene — the ingest-time stage of the
    * training-data pipeline run ON THE STREAM (normalize + length gate as
    * documents arrive), so the batch corpus-clean never sees raw text.
    * Stateless transforms need no state store or watermark: each
    * micro-batch maps through the same codegen'd expressions as the batch
    * query, and the source's file listing is the only scaling surface. */
  private def cleanedDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("n_chars") >= 100 && col("n_chars") <= 2000)
      .select(col("doc_id"), col("lang"),
        regexp_replace(trim(lower(col("text"))), " +", " ").as("norm_text"))

  def docCleanStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(cleanedDocStream(spark, dir), spark, OutputMode.Append())
      .orderBy(col("doc_id"))

  /** Production form of [[docCleanStream]]: the cleaned corpus streams to
    * a DISTRIBUTED parquet sink instead of a driver-collected memory
    * table. The memory-sink form is the finite-test harness ONLY — its
    * output is corpus-sized by contract, so collecting it fails on
    * `spark.driver.maxResultSize` once the corpus outgrows the driver
    * (measured: 5M docs → 1.2 GiB of collected batches at the 1000×
    * probe). The stream itself is stateless either way; only the sink
    * placement changes. */
  def docCleanStreamToParquet(spark: SparkSession, dir: String,
                              outDir: String, checkpointDir: String): DataFrame = {
    val q = cleanedDocStream(spark, dir).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming benchmark decontamination: the stream-static expression of
    * the batch `q_decontaminate` gate — incoming training documents
    * explode into distinct 8-grams and inner-join the STATIC benchmark
    * gram set (built once from the batch table, broadcast), so each
    * arriving doc is scored for benchmark overlap as it lands, not in a
    * nightly sweep. The join carries no state store (static side ⇒ no
    * watermark, re-planned per micro-batch, BroadcastHashJoin under the
    * threshold); the only stateful operator is the per-doc count, which
    * is exactly one row per contaminated doc. Distinctness is structural
    * — grams are array_distinct'd per doc BEFORE the explode and the
    * benchmark side is distinct, so a plain count equals the batch
    * count-distinct with no streaming-unsupported distinct aggregate.
    * At 100 TB the benchmark set stays broadcast-size by construction
    * (benchmarks are small; that asymmetry is the whole point of the
    * decontamination-by-broadcast design). */
  /** Streaming near-dup ADMISSION — the ingest-time form of
    * `q_dedup_minhash_incremental`: arriving batch docs (doc_id % 10 == 0,
    * "today's crawl") band-join the STATIC corpus signature frame (in
    * production the persisted signature index — stream-static equi-joins
    * are exactly Spark's model for "a stream probes an index"), the exact
    * 3-shingle jaccard verifies candidate rows only, and a Complete-mode
    * aggregation maintains the REJECTION table (doc_id, n_matches,
    * max_jaccard); admission is absence from it. State is bounded by
    * rejected docs × their true partners, never by stream length.
    * Distinct-partner counting goes through collect_set because streaming
    * aggregations cannot express COUNT(DISTINCT).
    *
    * The corpus index is QUOTIENTED by text identity (the standing
    * exact-dup-quotient discipline, BENCH_SCALING 1000×): one signature
    * row per DISTINCT corpus text carrying its class representative
    * (min old_id) and multiplicity m. Candidate volume is then linear in
    * distinct texts — per-copy banding made it quadratic in replication
    * (an arriving doc near a b-copy class met all b copies in every
    * shared band). jaccard is constant on an exact-dup class, so
    * n_matches = Σ m over matched distinct texts and max_jaccard is
    * unchanged — exactly the per-copy answer. The collect_set dedupes
    * one candidate row per (doc, rep) across the 16 bands; state per
    * rejected doc is the ~16-byte (rep, m) struct set, never texts. */
  def nearDupAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    def banded(df: DataFrame, carry: Seq[String], txt: String) = df
      .withColumn("w", split(col(txt), " "))
      .filter(size(col("w")) >= 3)
      .select(carry.map(col) :+ col(txt) :+ posexplode(Sketches.bandhashes(
        Sketches.shingleMinhashes(col("w"), 3, 64), 4))
        .as(Seq("band_idx", "band_hash")): _*)
    val corpusSig = banded(
      graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
        .groupBy(col("text").as("text_o"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("m")),
      Seq("rep_id", "m"), "text_o")
    val stream = banded(
      spark.readStream
        .schema(docSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")),
      Seq("doc_id"), "text")
    val rejects = stream.join(corpusSig, Seq("band_idx", "band_hash"))
      .withColumn("jaccard",
        Sketches.jaccardShingles(col("text"), col("text_o"), 3))
      .filter(col("jaccard") >= 0.8)
      .groupBy(col("doc_id"))
      .agg(
        expr("""aggregate(collect_set(named_struct('r', rep_id, 'm', m)),
               |  CAST(0 AS BIGINT), (a, x) -> a + x.m)""".stripMargin)
          .as("n_matches"),
        max(col("jaccard")).as("max_jaccard"))
    runToTable(rejects, spark, OutputMode.Complete()).orderBy(col("doc_id"))
  }

  /** Streaming JOINT multimodal admission (r9 verdict #5; r10 verdict #2
    * completed the modality matrix) — the streaming twin of
    * `q_dedup_joint_incremental`: arriving docs (doc_id % 10 == 0)
    * probe the PERSISTED store index on all five gates — exact text
    * (left-semi vs the distinct-text index), near-dup text (band equi-join
    * vs the quotiented signature index, exact jaccard verify on candidates
    * only — the [[nearDupAdmissionStream]] shape), byte-identical image
    * (real `javax.imageio` encode in the micro-batch, left-semi vs the
    * 16-byte md5 class index), audio silence structure (decoded PCM,
    * left-semi vs the store's structural class index), and video sequence
    * fingerprint (decoded frames, left-semi vs the store's fingerprint
    * class index). A Complete-mode aggregation maintains the REJECTION
    * table with per-gate flags; admission is absence from it.
    * State = one row per rejected doc (5 booleans), bounded by
    * contaminated arrivals, never stream length; every static index is a
    * CLASS index, so probe volume is linear in distinct store content.
    *
    * `ingestPath` switches the store side to the PRODUCTION factoring: the
    * three codec class indexes become reads of a persisted fused-ingest
    * fingerprint table ([[graft.operators.Multimodal.writeIngestTable]] —
    * the `q_multimodal_ingest` frame on parquet), so admission does ZERO
    * store-side codec work. The text indexes still derive from the
    * documents scan either way — text is not an ingest fingerprint. A
    * 100 TB ingest pipeline runs the `Some` shape; the `None` shape
    * (in-plan codec scans, persisted for the run) remains for
    * self-contained use and as the A/B baseline. */
  def jointAdmissionStream(spark: SparkSession, dir: String,
      ingest: Option[graft.sources.StoreRef] = None): DataFrame = {
    import spark.implicits._
    import graft.functions.Sketches
    import graft.operators.Multimodal
    val np = spark.sessionState.conf.numShufflePartitions
    val store = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    // PERSISTED for real (r10 advice): the static side of a stream-static
    // join is re-evaluated on EVERY micro-batch, and storeImg is the most
    // expensive index in the query (a full encodePng+md5 codec scan of
    // ~90% of the corpus). Without an explicit persist each micro-batch
    // re-runs all three index scans; with it they're computed once and
    // served from block storage. Unpersisted after the bounded
    // AvailableNow run completes.
    val storeTexts = store.select(col("text")).distinct().persist()
    def banded(df: DataFrame, carry: Seq[String], txt: String) = df
      .withColumn("w", split(col(txt), " "))
      .filter(size(col("w")) >= 3)
      .select(carry.map(col) :+ col(txt) :+ posexplode(Sketches.bandhashes(
        Sketches.shingleMinhashes(col("w"), 3, 64), 4))
        .as(Seq("band_idx", "band_hash")): _*)
    val storeSig = banded(storeTexts.select(col("text").as("text_o")),
      Seq.empty, "text_o").persist()
    val (storeImg, storeAud, storeVid) = ingest match {
      case Some(ref) =>
        // production factoring: the codec class indexes are projections
        // of the persisted fused-ingest fingerprint table — fixed-width
        // columns off parquet or the doc_id-bucketed managed table, no
        // decode anywhere on the store side
        val ingRaw = ref match {
          case graft.sources.StoreRef.Path(p)  => spark.read.parquet(p)
          case graft.sources.StoreRef.Table(t) => spark.table(t)
        }
        val ing = ingRaw.filter(col("doc_id") % 10 =!= 0)
        (ing.select(col("img_fp")).distinct().persist(),
          ing.select(struct(col("audio_frames").as("n_frames"),
              col("audio_mask").as("silent_mask")).as("aud_cls"))
            .distinct().persist(),
          ing.select(col("video_fp")).distinct().persist())
      case None =>
        val storeIds = () => graft.Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"))
          .repartition(np) // codec fan-out at full width (docIds lesson)
          .as[Long]
        (storeIds()
          .mapPartitions { it =>
            it.map(id => Multimodal.MediaRow(id, "image", Multimodal.encodePng(id)))
          }
          .toDF()
          .select(md5(col("payload")).as("img_fp")).distinct().persist(),
          storeIds()
            .mapPartitions { it =>
              Multimodal.audioStructure(it.map(id =>
                Multimodal.MediaRow(id, "audio", Multimodal.encodeWav(id))))
            }
            .toDF()
            .select(struct(col("n_frames"), col("silent_mask")).as("aud_cls"))
            .distinct().persist(),
          storeIds()
            .mapPartitions { it =>
              Multimodal.videoFingerprint(it.map(id =>
                Multimodal.MediaRow(id, "video", Multimodal.encodeVideo(id))))
            }
            .toDF()
            .select(col("video_fp")).distinct().persist())
    }
    def arriving() = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") % 10 === 0)
    val textStream = arriving().select(col("doc_id"), col("text"))
    val ex = textStream
      .join(storeTexts, Seq("text"), "left_semi")
      .select(col("doc_id"), lit("text_exact").as("gate"))
    val nd = banded(textStream, Seq("doc_id"), "text")
      .join(storeSig, Seq("band_idx", "band_hash"))
      .filter(Sketches.jaccardShingles(col("text"), col("text_o"), 3) >= 0.8)
      .select(col("doc_id"), lit("text_neardup").as("gate"))
    val im = arriving()
      .select(col("doc_id"))
      .repartition(np) // per micro-batch, see audioDedupStream
      .as[Long]
      .mapPartitions { it =>
        it.map(id => Multimodal.MediaRow(id, "image", Multimodal.encodePng(id)))
      }
      .toDF()
      .select(col("doc_id"), md5(col("payload")).as("img_fp"))
      .join(storeImg, Seq("img_fp"), "left_semi")
      .select(col("doc_id"), lit("image_exact").as("gate"))
    val au = arriving()
      .select(col("doc_id"))
      .repartition(np) // per micro-batch, see audioDedupStream
      .as[Long]
      .mapPartitions { it =>
        Multimodal.audioStructure(it.map(id =>
          Multimodal.MediaRow(id, "audio", Multimodal.encodeWav(id))))
      }
      .toDF()
      .select(col("doc_id"),
        struct(col("n_frames"), col("silent_mask")).as("aud_cls"))
      .join(storeAud, Seq("aud_cls"), "left_semi")
      .select(col("doc_id"), lit("audio_struct").as("gate"))
    val vi = arriving()
      .select(col("doc_id"))
      .repartition(np)
      .as[Long]
      .mapPartitions { it =>
        Multimodal.videoFingerprint(it.map(id =>
          Multimodal.MediaRow(id, "video", Multimodal.encodeVideo(id))))
      }
      .toDF()
      .select(col("doc_id"), col("video_fp"))
      .join(storeVid, Seq("video_fp"), "left_semi")
      .select(col("doc_id"), lit("video_seq").as("gate"))
    val rejects = ex.unionByName(nd).unionByName(im)
      .unionByName(au).unionByName(vi)
      .groupBy(col("doc_id"))
      .agg(
        (max(when(col("gate") === "text_exact", 1).otherwise(0)) === 1)
          .as("text_exact"),
        (max(when(col("gate") === "text_neardup", 1).otherwise(0)) === 1)
          .as("text_neardup"),
        (max(when(col("gate") === "image_exact", 1).otherwise(0)) === 1)
          .as("image_exact"),
        (max(when(col("gate") === "audio_struct", 1).otherwise(0)) === 1)
          .as("audio_struct"),
        (max(when(col("gate") === "video_seq", 1).otherwise(0)) === 1)
          .as("video_seq"))
    val out = runToTable(rejects, spark, OutputMode.Complete())
    // the memory sink has materialized the result; the indexes can go
    storeTexts.unpersist(); storeSig.unpersist(); storeImg.unpersist()
    storeAud.unpersist(); storeVid.unpersist()
    out.orderBy(col("doc_id"))
  }

  def decontaminateStream(spark: SparkSession, dir: String): DataFrame = {
    val grams8 = expr(
      """array_distinct(transform(sequence(0, size(w)-8), i ->
        |  concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
        |                 w[i+4], w[i+5], w[i+6], w[i+7])))""".stripMargin)
    val bench = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(explode(grams8).as("gram")).distinct()
    val training = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(grams8).as("gram"))
    val scored = training.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
    runToTable(scored, spark, OutputMode.Complete()).orderBy(col("doc_id"))
  }

  /** Ingest-time streaming image dedup — the streaming form of the batch
    * multimodal dedup gate, keyed on the PERCEPTUAL raster class: arriving
    * payloads run the real `javax.imageio` decode → 8×8 NN-resample →
    * aHash fingerprint inside the micro-batch (the same
    * [[graft.operators.Multimodal.perceptualHash]] partition iterator as
    * batch), and a stateful aggregation elects keeper = min doc_id and
    * counts copies per class. State is ONE ~80-byte row per DISTINCT
    * content class — bounded by unique content, not stream length — and
    * only the 72-byte fingerprint ever reaches the state store, never the
    * payload. Complete mode re-emits the bounded class table for the
    * finite harness; a 100 TB ingest would run Update mode with a
    * downstream merge, same state shape. Oracle: the NN-resample of the
    * synthesized pattern is injective in (w, h, base) — each width's
    * floor(x·w/8) sample sequence is distinct — so perceptual classes
    * coincide exactly with the generator's (doc%6, doc%4, doc%32)
    * equivalence classes, the same closed form the batch byte-dedup
    * oracle uses (and `MultimodalSpec` pins stream == batch). */
  def multimodalDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions) // see audioDedupStream
      .as[Long]
    val fp = ids.mapPartitions { it =>
      graft.operators.Multimodal.perceptualHash(it.map(id =>
        graft.operators.Multimodal.MediaRow(id, "image",
          graft.operators.Multimodal.encodePng(id))))
    }.toDF()
    val perClass = fp.groupBy(col("p"), col("ahash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper_doc_id"), col("n_copies"))
    runToTable(perClass, spark, OutputMode.Complete())
      .orderBy(col("keeper_doc_id"))
  }

  /** Ingest-time perceptual video dedup — the third streaming codec leg:
    * each arriving clip decodes through the real per-frame `javax.imageio`
    * path ([[graft.operators.Multimodal.videoFingerprint]]), and state
    * keys on the 16-byte frame-sequence fingerprint — one ~40-byte row per
    * DISTINCT video content, bounded by unique clips, never stream length
    * or frame count. Oracle: fingerprint classes ⟺ doc_id mod 348 (the
    * bijection pinned in MultimodalSpec). */
  def videoDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions) // see audioDedupStream
      .as[Long]
    val fp = ids.mapPartitions { it =>
      graft.operators.Multimodal.videoFingerprint(it.map(id =>
        graft.operators.Multimodal.MediaRow(id, "video",
          graft.operators.Multimodal.encodeVideo(id))))
    }.toDF()
    val perClass = fp.groupBy(col("video_fp"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper_doc_id"), col("n_copies"))
    runToTable(perClass, spark, OutputMode.Complete())
      .orderBy(col("keeper_doc_id"))
  }

  /** Ingest-time structural audio dedup: the [[multimodalDedupStream]]
    * discipline on the audio modality — decode each arriving WAV payload
    * (real SPI codec, per-partition parallel), key state on the
    * (n_frames, silent-frame bitmask) structural class, keep the min
    * doc_id per class. State is one 20-byte row per DISTINCT silence
    * structure — classes, not clips, bound the store. */
  def audioDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // full-width spread of the 8-byte ids BEFORE the codec fan-out — the
    // batch docIds lesson applies per micro-batch too (split planning
    // sizes the scan by total file bytes, not the projected column)
    val ids = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .as[Long]
    val fp = ids.mapPartitions { it =>
      graft.operators.Multimodal.audioStructure(it.map(id =>
        graft.operators.Multimodal.MediaRow(id, "audio",
          graft.operators.Multimodal.encodeWav(id))))
    }.toDF()
    val perClass = fp.groupBy(col("n_frames"), col("silent_mask"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper_doc_id"), col("n_copies"))
    runToTable(perClass, spark, OutputMode.Complete())
      .orderBy(col("keeper_doc_id"))
  }

  /** Streaming per-domain admission cap — the rate-limit form of the
    * RefinedWeb/CCNet per-domain cap (`q_domain_caps`), run at INGEST: as
    * documents arrive, a keyed counter per registrable domain admits the
    * first `k` arrivals and flags the rest. Streaming admission is
    * irrevocable (an admitted doc cannot be un-admitted when a
    * "better-hashed" one lands later), so the streaming cap is
    * ARRIVAL-ORDER by contract — the batch cap's md5-hash keep-order is a
    * rerun-stability device the batch form keeps; the two keep-sets have
    * identical per-domain SIZES (law-tested), not identical members.
    * Within a micro-batch arrivals are ordered by doc_id before admission,
    * so the output is deterministic and, with the corpus arriving in id
    * order, the keep-set is the closed form rank-by-id ≤ k (the oracle).
    *
    * Scale: state is ONE long per domain — bounded by |domains|, never
    * stream length; output is one flagged row per arrival (linear, no
    * retraction). The groupByKey shuffles each micro-batch by domain; a
    * hot domain concentrates its batch slice on one task, but the group
    * function holds only a ≤(k−admitted)-element heap — a SATURATED hot
    * domain (the crawl-frontier steady state) streams pure lazy
    * rejections with zero buffering, and an unsaturated one buffers k
    * ids at most, so skew genuinely costs bandwidth, not memory. The
    * admitted set per batch is the `k−admitted` SMALLEST ids of the
    * slice (== sort-ascending-then-admit, without the sort buffer),
    * deterministic under Spark's unordered group iterator and equal to
    * arrival order for an id-ordered feed (the corpus contract). */
  private[graft] def domainCapFlags(spark: SparkSession,
                                    docStream: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    graft.operators.PipelineOps.withUrl(
        docStream.select(col("doc_id"), col("source")))
      .select(col("doc_id"),
        graft.operators.PipelineOps.domainOfUrl(col("url")).as("domain"))
      .as[(Long, String)]
      .groupByKey { case (_, domain) => domain }
      .flatMapGroupsWithState[Long, (Long, String, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (domain, rows, state: GroupState[Long]) =>
            val already = state.getOption.getOrElse(0L)
            val capacity = math.max(0L, k - already).toInt
            if (capacity == 0) {
              // saturated domain: pure lazy pass-through — no buffer, no
              // state write (the count is unchanged)
              rows.map { case (id, _) => (id, domain, false) }
            } else {
              // bounded max-heap of the `capacity` smallest ids seen so
              // far; every displaced or larger id is a rejection emitted
              // lazily as the group iterator drains. The admitted-count
              // state updates EAGERLY inside the fill phase (heap size
              // only grows during the first ≤capacity enqueues — evict-
              // replace keeps it constant — so this is ≤k cheap field
              // writes whose last value equals the end-of-group count on
              // a full drain). Spark commits state after the task
              // completes; with the eager update a hypothetical future
              // plan that short-circuits the micro-batch (e.g. a limit)
              // and abandons this iterator mid-group can only UNDER-admit
              // in later batches — it can never silently over-admit past
              // the cap, which a deferred end-of-iterator update allowed
              // (r12 advice).
              val heap = scala.collection.mutable.PriorityQueue.empty[Long]
              val rejections = rows.flatMap { case (id, _) =>
                if (heap.size < capacity) {
                  heap.enqueue(id)
                  state.update(already + heap.size)
                  Iterator.empty
                } else if (id < heap.head) {
                  val evicted = heap.dequeue(); heap.enqueue(id)
                  Iterator.single((evicted, domain, false))
                } else Iterator.single((id, domain, false))
              }
              def admissions =
                heap.dequeueAll[Long].reverseIterator.map(id => (id, domain, true))
              rejections ++ admissions
            }
        }
      .toDF("doc_id", "domain", "admitted")
  }

  def domainCapStream(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    runToTable(domainCapFlags(spark, stream, k), spark, OutputMode.Append())
      .orderBy(col("doc_id"))
  }

  /** Streaming heavy hitters — the batch q_heavy_hitters' two-phase
    * Misra–Gries design at ingest: the token stream folds into ONE
    * mergeable ≤k-counter sketch (a typed Aggregator as a Complete-mode
    * global aggregation, so streaming state is the k-entry buffer — never
    * a per-token counter table), then the bounded nominee set is
    * exact-verified against the batch corpus. MG's superset guarantee
    * (any token with frequency > n/(k+1) survives reduce AND merge in any
    * order) is what makes the sketch pass order- and batching-invariant:
    * the verified output equals the batch query exactly, so they share
    * the exact-frequency oracle.
    *
    * 100 TB shape: this is the streaming frequent-items operator a
    * vocabulary monitor / hot-key detector needs — per-partition partial
    * sketches merge map-side, the state store holds ONE k-entry row, and
    * the only per-token state anywhere is in the final exact count over
    * the ≤k nominees. A per-key streaming count (the naive form) keeps
    * |vocabulary| rows of state; this keeps k. */
  /** The bounded nominee set from a streaming document feed: fold the
    * token stream into the k-counter sketch, read back the one-row
    * Complete-mode result. Factored so tests can drive a sliced feed
    * through cross-micro-batch sketch merging. */
  private[graft] def heavyHitterNominees(spark: SparkSession,
                                         docStream: DataFrame, k: Int): Seq[String] = {
    import spark.implicits._
    val toks = docStream
      // the corpus streams from ONE flat parquet file, so a micro-batch
      // arrives in ≤ a few splits and the tokenize+partial-reduce (the
      // real work) would run on that handful of cores — the batch docIds
      // under-parallelization lesson applied per micro-batch: round-robin
      // the doc rows to full width BEFORE the explode (the r12 1000×
      // skew probe measured an 11.4 s single task here without it)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .as[String]
    runToTable(
        toks.select(new graft.operators.Stats.MisraGriesNominees(k).toColumn)
          .toDF("nominees"),
        spark, OutputMode.Complete())
      .head().getString(0).split("\\u0000").toSeq
  }

  /** Exact verification of a bounded nominee set against the batch corpus
    * — phase two of the batch query, unchanged. */
  private[graft] def verifyHeavyHitters(spark: SparkSession, dir: String,
                                        nominees: Seq[String], k: Int): DataFrame = {
    val t = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("token"))
    val tot = t.agg(count(lit(1)).as("t"))
    t.filter(col("token").isInCollection(nominees.sorted))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .crossJoin(tot)
      .filter(col("n") * (k + 1) > col("t"))
      .select(col("token"), col("n"), col("t").as("total"))
      .orderBy(col("n").desc, col("token"))
  }

  def heavyHittersStream(spark: SparkSession, dir: String, k: Int = 29): DataFrame = {
    val stream = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    verifyHeavyHitters(spark, dir, heavyHitterNominees(spark, stream, k), k)
  }

  /** Streaming sessionization: the state-store-native expression of the
    * batch q_session_window — `session_window` merges a user's events into
    * gap-bounded sessions as they arrive, the watermark closes (and
    * evicts) a session once event time passes its end + gap. State per
    * user is the OPEN sessions only, so at 100 TB of events the store
    * holds active users, not history. Spark rejects Update mode for
    * session aggregations (merging sessions can't be expressed as an
    * upsert); production uses Append (sessions emit once closed by the
    * watermark) — the finite harness uses Complete so the LAST sessions,
    * which no later watermark advance ever closes, still reach the sink. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
    runToTable(agg, spark, OutputMode.Complete())
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-static enrichment: the event stream inner-joins a static
    * dimension (customer → nation) and aggregates per segment — the
    * canonical "enrich the firehose with reference data" pattern. The
    * static side re-plans per micro-batch (Spark picks up dim updates
    * between batches) and, sized under the broadcast threshold, joins as a
    * BroadcastHashJoin — no stream-side shuffle and NO join state store
    * (unlike stream-stream joins, a static side needs no watermark or
    * state). At 100 TB the dim either stays broadcast-size (usual) or the
    * join degrades to per-batch shuffles — at which point pre-bucketing
    * the dim on the join key is the fix. */
  def enrichedSegmentCounts(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(graft.Tables.path(dir, "customer"))
      .select(col("c_custkey"), col("c_nationkey"))
    val agg = eventStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(agg, spark, OutputMode.Complete()).orderBy(col("nation_id"))
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_stream_enrich" -> ((s, dir) => enrichedSegmentCounts(s, dir)),
    "q_stream_doc_clean" -> ((s, dir) => docCleanStream(s, dir)),
    "q_stream_decontaminate" -> ((s, dir) => decontaminateStream(s, dir)),
    "q_stream_neardup_rejects" -> ((s, dir) => nearDupAdmissionStream(s, dir)),
    "q_stream_joint_rejects" -> ((s, dir) => jointAdmissionStream(s, dir)),
    "q_stream_session" -> ((s, dir) => sessionCounts(s, dir)),
    "q_stream_daily_counts" -> ((s, dir) => dailyCounts(s, dir)),
    "q_stream_hop_counts" -> ((s, dir) => hopCounts(s, dir)),
    "q_stream_quantile" -> ((s, dir) => dailyQuantiles(s, dir)),
    "q_stream_dedup" -> ((s, dir) => dedupCount(s, dir)),
    "q_stream_dedup_windowed" -> ((s, dir) => dedupWindowedCount(s, dir)),
    "q_stream_user_counts" -> ((s, dir) => userCounts(s, dir)),
    "q_stream_stream_join" -> ((s, dir) => purchaseAttribution(s, dir)),
    "q_stream_join_outer" -> ((s, dir) => purchaseAttributionOuter(s, dir)),
    "q_stream_dedup_pairs" -> ((s, dir) => streamingNearDupPairs(s, dir)),
    "q_stream_multimodal_dedup" -> ((s, dir) => multimodalDedupStream(s, dir)),
    "q_stream_audio_dedup" -> ((s, dir) => audioDedupStream(s, dir)),
    "q_stream_video_dedup" -> ((s, dir) => videoDedupStream(s, dir)),
    "q_stream_domain_caps" -> ((s, dir) => domainCapStream(s, dir)),
    "q_stream_heavy_hitters" -> ((s, dir) => heavyHittersStream(s, dir)),
    // the PRODUCTION factoring of joint admission (r11 verdict #3 → r12):
    // one fused codec pass persists the ingest fingerprint table, then
    // the stream's store-side class indexes are parquet projections of
    // it — zero codec work at admission time. Same semantics, same
    // oracle as q_stream_joint_rejects; the in-plan variant stays as the
    // self-contained form and A/B baseline.
    // the artifact path is a fresh run-unique scratch dir (deleted at JVM
    // exit): a fixed dir.hashCode-keyed path let two concurrent sessions
    // on the same corpus overwrite each other's table mid-stream and
    // leaked the artifact (r12 advice)
    // spark.graft.ingestBucketed=true flips the persisted fingerprint
    // store to the doc_id-bucketed managed-table layout (r13 verdict #7)
    "q_stream_joint_rejects_ingest" -> ((s, dir) => {
      val ref: graft.sources.StoreRef =
        if (s.conf.get("spark.graft.ingestBucketed", "false").toBoolean) {
          val t = s"graft_fpidx_${graft.Scratch.jvmTag}"
          graft.operators.Multimodal.writeIngestTableBucketed(s, dir, t)
          graft.sources.StoreRef.Table(t)
        } else {
          val p = graft.Scratch.tempDir("graft_ingest_")
          graft.operators.Multimodal.writeIngestTable(s, dir, p)
          graft.sources.StoreRef.Path(p)
        }
      jointAdmissionStream(s, dir, Some(ref))
    }),
    "q_stream_semantic_rejects" -> ((s, dir) => semanticAdmissionStream(s, dir)),
    // the PRODUCTION factoring on the embedding axis (r12 verdict #1):
    // the store-side band index is parquet written once at ingest time
    // ([[graft.operators.Dedup.writeBandIndex]]) — zero store-side
    // quotient/banding work at admission. Same semantics, same oracle;
    // the in-plan variant stays as the self-contained A/B baseline.
    "q_stream_semantic_rejects_ingest" -> ((s, dir) => {
      val ref: graft.sources.StoreRef =
        if (s.conf.get("spark.graft.ingestBucketed", "false").toBoolean) {
          // distinct name from the batch twin's: concurrent Verify
          // workers must never overwrite each other's table mid-query
          val t = s"graft_bandidx_s_${graft.Scratch.jvmTag}"
          graft.operators.Dedup.writeBandIndexBucketed(s, dir, t)
          graft.sources.StoreRef.Table(t)
        } else {
          val p = graft.Scratch.tempDir("graft_bandidx_")
          graft.operators.Dedup.writeBandIndex(s, dir, p)
          graft.sources.StoreRef.Path(p)
        }
      semanticAdmissionStream(s, dir, Some(ref))
    }),
    // streaming DSIR scoring against the persisted model — the mixture
    // axis's streaming form (see [[dsirScoreStream]])
    "q_stream_mix_dsir" -> ((s, dir) => dsirScoreStream(s, dir)),
  )

  /** Shared by the in-plan and persisted-ingest joint-admission forms —
    * identical semantics, one oracle. */
  private val jointRejectsSql: String =
  """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT * FROM t WHERE doc_id % 10 = 0),
        |c AS (SELECT * FROM t WHERE doc_id % 10 <> 0),
        |ex AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.text = c.text),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM t),
        |sg AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        for i in range(1, len(w)-1)]) AS sh
        |       FROM w WHERE len(w) >= 3),
        |nd AS (SELECT DISTINCT bs.doc_id
        |       FROM (SELECT * FROM sg WHERE doc_id % 10 = 0) bs,
        |            (SELECT * FROM sg WHERE doc_id % 10 <> 0) cs
        |       WHERE CAST(len(list_intersect(bs.sh, cs.sh)) AS DOUBLE)
        |             / len(list_distinct(list_concat(bs.sh, cs.sh))) >= 0.8),
        |im AS (SELECT DISTINCT b2.doc_id
        |       FROM (SELECT doc_id, doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 = 0) b2
        |       JOIN (SELECT DISTINCT doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 <> 0) c2 USING (icls)),
        |au AS (SELECT DISTINCT b3.doc_id
        |       FROM (SELECT doc_id, doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 = 0) b3
        |       JOIN (SELECT DISTINCT doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 <> 0) c3 USING (acls)),
        |vi AS (SELECT DISTINCT b4.doc_id
        |       FROM (SELECT doc_id, doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 = 0) b4
        |       JOIN (SELECT DISTINCT doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 <> 0) c4 USING (vcls))
        |SELECT b.doc_id,
        |  ex.doc_id IS NOT NULL AS text_exact,
        |  nd.doc_id IS NOT NULL AS text_neardup,
        |  im.doc_id IS NOT NULL AS image_exact,
        |  au.doc_id IS NOT NULL AS audio_struct,
        |  vi.doc_id IS NOT NULL AS video_seq
        |FROM b
        |LEFT JOIN ex ON ex.doc_id = b.doc_id
        |LEFT JOIN nd ON nd.doc_id = b.doc_id
        |LEFT JOIN im ON im.doc_id = b.doc_id
        |LEFT JOIN au ON au.doc_id = b.doc_id
        |LEFT JOIN vi ON vi.doc_id = b.doc_id
        |WHERE ex.doc_id IS NOT NULL OR nd.doc_id IS NOT NULL
        |   OR im.doc_id IS NOT NULL OR au.doc_id IS NOT NULL
        |   OR vi.doc_id IS NOT NULL
        |ORDER BY b.doc_id""".stripMargin

  /** The streams are finite and deterministic → batch SQL oracles apply. */
  val oracle: Map[String, String] = Map(
    "q_stream_enrich" ->
      """SELECT c.c_nationkey AS nation_id, COUNT(*) AS n_events
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_session" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM x),
        |s AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_doc_clean" ->
      """SELECT doc_id, lang,
        |  regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text
        |FROM documents
        |WHERE n_chars >= 100 AND n_chars <= 2000
        |ORDER BY doc_id""".stripMargin,
    "q_stream_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct([array_to_string(w[i:i+7], ' ')
        |                              for i in range(1, len(w)-6)])) AS gram
        |      FROM t WHERE len(w) >= 8),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50)
        |SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_shared_grams
        |FROM g JOIN ev USING (gram)
        |WHERE doc_id >= 50
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the rejected slice of the batch-admission oracle (admission is
    // absence from the rejection table)
    "q_stream_neardup_rejects" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |j AS (SELECT b.doc_id AS new_id,
        |        CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(b.sh, c.sh))) AS jaccard
        |      FROM (SELECT * FROM s WHERE doc_id % 10 = 0) b,
        |           (SELECT * FROM s WHERE doc_id % 10 <> 0) c)
        |SELECT new_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  MAX(jaccard) AS max_jaccard
        |FROM j WHERE jaccard >= 0.8 GROUP BY new_id
        |ORDER BY doc_id""".stripMargin,
    // the rejected slice of the q_dedup_joint_incremental oracle, with the
    // same per-gate closed forms (image class = doc_id mod 96)
    "q_stream_joint_rejects" -> jointRejectsSql,
    "q_stream_joint_rejects_ingest" -> jointRejectsSql,
    "q_stream_semantic_rejects" ->
      graft.operators.Dedup.semanticIncrementalSql,
    // same semantics, store side read from the persisted band index
    "q_stream_semantic_rejects_ingest" ->
      graft.operators.Dedup.semanticIncrementalSql,
    // the q_mix_dsir model chain, scoring restricted to the arrival
    // slice, no selection (the stream emits every arrival's score)
    "q_stream_mix_dsir" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        substr(md5(unnest(list_concat(w,
        |          [w[i] || ' ' || w[i+1] for i in range(1, len(w))]))), 1, 3)
        |          AS bucket
        |      FROM t),
        |c AS (SELECT bucket,
        |        SUM(CASE WHEN doc_id < 50 THEN 1 ELSE 0 END) AS nt,
        |        SUM(CASE WHEN doc_id >= 50 THEN 1 ELSE 0 END) AS ns
        |      FROM g GROUP BY bucket),
        |tot AS (SELECT SUM(nt) AS tt, SUM(ns) AS ts FROM c),
        |lr AS (SELECT bucket,
        |         CAST(round(ln((nt + 1) / (CAST(tt AS DOUBLE) + 4096.0)), 9)
        |              AS DECIMAL(18,9))
        |       - CAST(round(ln((ns + 1) / (CAST(ts AS DOUBLE) + 4096.0)), 9)
        |              AS DECIMAL(18,9)) AS lr
        |       FROM c CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  round(CAST(SUM(lr) AS DOUBLE), 6) AS dsir_logweight
        |FROM g JOIN lr USING (bucket)
        |WHERE doc_id >= 50 AND doc_id % 10 = 0
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_stream_daily_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS event_day,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_hop_counts" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT unnest([to_timestamp(floor(epoch(ts)/3600)*3600),
        |                     to_timestamp(floor(epoch(ts)/3600)*3600 - 3600)]) AS w
        |      FROM e)
        |SELECT CAST(w AS TIMESTAMP) AS w_start,
        |  CAST(w + INTERVAL 2 HOUR AS TIMESTAMP) AS w_end,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY w_start""".stripMargin,
    // exact because accuracy (50k) ≫ rows per day at gate scale, so the
    // GK summary holds every point and returns the nearest-rank element
    "q_stream_quantile" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS event_day,
        |  quantile_disc(value, 0.5) AS p50_value,
        |  quantile_disc(value, 0.9) AS p90_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_dedup" ->
      "SELECT COUNT(DISTINCT event_id) AS n_unique_events FROM events",
    // perceptual raster classes are injective in (w, h, base) — see
    // multimodalDedupStream scaladoc — so the generator's closed-form
    // equivalence classes apply, as in the batch q_multimodal_dedup
    "q_stream_multimodal_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY doc_id % 6, doc_id % 4, doc_id % 32
        |ORDER BY keeper_doc_id""".stripMargin,
    // the silence-structure classes coincide exactly with doc_id mod 35
    // (n_frames = 4 + doc_id%7; the bit phase doc_id%5 is recoverable from
    // the first set mask bit or, when n_frames=4 and no bit is set,
    // uniquely implied by the EMPTY mask — phase 4 is the only phase whose
    // first silent frame falls outside a 4-frame clip — so (n_frames, mask)
    // bijects with doc_id mod 35; exhaustively pinned in MultimodalSpec),
    // hence the generator's closed form applies directly
    "q_stream_audio_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY doc_id % 35
        |ORDER BY keeper_doc_id""".stripMargin,
    // video fingerprint classes biject with doc_id mod 348 (pinned in
    // MultimodalSpec), so the generator's closed form applies directly
    "q_stream_video_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY doc_id % 348
        |ORDER BY keeper_doc_id""".stripMargin,
    // identical to the batch q_heavy_hitters oracle: the MG sketch pass
    // is order/batching-invariant (superset guarantee) and the verify
    // pass is exact, so the streaming output is the same exact >n/30 set
    "q_stream_heavy_hitters" ->
      """WITH tf AS (SELECT unnest(string_split(lower(text), ' ')) AS token
        |           FROM documents),
        |tot AS (SELECT COUNT(*) AS t FROM tf)
        |SELECT token, COUNT(*) AS n, (SELECT t FROM tot) AS total
        |FROM tf GROUP BY token
        |HAVING COUNT(*) * 30 > (SELECT t FROM tot)
        |ORDER BY n DESC, token""".stripMargin,
    // arrival-order cap with an id-ordered feed ⟺ rank-by-id ≤ k; the
    // synthesized domain's closed form is the q_domain_caps one
    "q_stream_domain_caps" ->
      """WITH d AS (SELECT doc_id,
        |    lower(source) || (doc_id % 3) || '.example.com' AS domain
        |  FROM documents),
        |r AS (SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
        |  FROM d)
        |SELECT doc_id, domain, rk <= 5 AS admitted
        |FROM r ORDER BY doc_id""".stripMargin,
    // exact while every duplicate group spans < the 1-day lateness window
    // (see dedupWindowedCount's contract scaladoc)
    "q_stream_dedup_windowed" ->
      "SELECT COUNT(DISTINCT event_id) AS n_unique_events FROM events",
    "q_stream_user_counts" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_stream_join" ->
      """SELECT p.event_id AS p_id, p.user_id, COUNT(*) AS n_signups_7d
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts
        |      FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND s.s_ts <= p.p_ts
        | AND s.s_ts >= p.p_ts - INTERVAL 7 DAY
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p_id""".stripMargin,
    "q_stream_join_outer" ->
      """SELECT p.event_id AS p_id, p.user_id, COUNT(s.user_id) AS n_signups_7d
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts
        |           FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id
        | AND s.s_ts <= p.p_ts
        | AND s.s_ts >= p.p_ts - INTERVAL 7 DAY
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p_id""".stripMargin,
    // identical to the batch minhash-LSH oracle: exact all-pairs jaccard
    "q_stream_dedup_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS sh
        |      FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
