package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark semantics under append mode with multi-batch file arrival —
  * the late-data divergence SURVEY.md §7.4 says to document: the reference
  * recomputes everything daily (late rows silently counted or missed); a
  * watermarked stream makes the lateness bound explicit. This test pins
  * the behavior: events below the watermark are dropped, closed windows
  * emit exactly once. */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  test("append-mode windowed count drops sub-watermark late events") {
    val dir = Files.createTempDirectory("graft_stream").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: two on-time day-1 events + one early-day-2 event that
    // advances the watermark past the end of day 1
    Seq(ts("2024-02-01 10:00:00"), ts("2024-02-01 11:00:00"),
        ts("2024-02-02 02:00:00")).toDF("ts")
      .coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1200) // distinct mod-times → deterministic batch order
    // batch 2: a day-3 event pushes the watermark far past day 1
    Seq(ts("2024-02-03 10:00:00")).toDF("ts")
      .coalesce(1).write.parquet(s"$dir/b2")
    Thread.sleep(1200)
    // batch 3: a very late day-1 event. Note the one-batch lag Spark
    // applies to the late-event filter (a row arriving in the batch right
    // after its watermark passed still merges — verified empirically);
    // two batches later it is unambiguously dropped.
    Seq(ts("2024-02-01 05:00:00")).toDF("ts")
      .coalesce(1).write.parquet(s"$dir/b3")

    val stream = spark.readStream
      .schema("ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$dir/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("w.start")).as("day"), col("n"))
    val q = stream.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("wm_test").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // day 1 emitted with ONLY the on-time events (late arrival dropped)
    assert(rows.get("2024-02-01").contains(2L), rows.toString)
    // day 2 closed by the day-3 event
    assert(rows.get("2024-02-02").contains(1L), rows.toString)
    // day 3's window never closes before the stream ends → not emitted
    assert(!rows.contains("2024-02-03"), rows.toString)
  }

  test("streaming quantile: sketch state merges across micro-batches") {
    // two files → two micro-batches for the SAME day-window: the stored
    // GK summary must merge batch 2's partial into batch 1's (a
    // last-batch-wins or row-buffering regression would change the
    // percentile), and the merged result must equal the batch aggregate
    // over the union.
    val dir = Files.createTempDirectory("graft_q").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val b1 = (1 to 40).map(i => (ts("2024-02-01 10:00:00"), i.toDouble))
    val b2 = (41 to 100).map(i => (ts("2024-02-01 11:00:00"), i.toDouble))
    b1.toDF("ts", "value").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1200)
    b2.toDF("ts", "value").coalesce(1).write.parquet(s"$dir/b2")

    val stream = spark.readStream
      .schema("ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$dir/*")
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr("percentile_approx(value, 0.5, 50000)").as("p50"),
        expr("percentile_approx(value, 0.9, 50000)").as("p90"))
      .select(to_date(col("w.start")).as("day"), col("p50"), col("p90"))
    val q = stream.writeStream.format("memory").queryName("q_quant_merge")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val r = spark.table("q_quant_merge").collect()
    assert(r.length == 1, r.mkString(";"))
    // nearest-rank over the FULL 1..100: p50 = 50, p90 = 90 — a
    // single-batch-only state would report 20/36 (batch 1 alone)
    assert(r(0).getDouble(1) == 50.0 && r(0).getDouble(2) == 90.0,
      r(0).toString)
  }

  test("stream-stream join: multi-batch run equals the batch join, state evicts") {
    // capture the per-run state observation the harness logs
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=stream_stream_join_state")) lines += l: Unit
    }
    StructuredLog.addListener(listener)
    val got = try {
      streaming.Streams.purchaseAttribution(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally StructuredLog.removeListener(listener)
    // batch reference: the exact interval join the oracle runs
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val expected = p.join(sg,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(lit(1)).as("n_signups_7d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == expected)
    // the sliced feed must actually span micro-batches AND evict between
    // them: max state rows strictly below the single-batch degenerate case
    // (everything in state at once = all purchases + all signups)
    assert(lines.size == 1, lines.toString)
    val fields = lines.head.split(" ")
      .collect { case s if s.contains("=") =>
        val Array(k, v) = s.split("=", 2); k -> v }.toMap
    assert(fields("batches").toInt > 1, lines.head)
    val everything = p.count() + sg.count()
    assert(fields("max_state_rows").toLong < everything,
      s"no eviction observed: ${lines.head} vs both-sides=$everything")
  }

  test("left-outer stream-stream join equals the batch left join, incl. zero-match rows") {
    val got = streaming.Streams.purchaseAttributionOuter(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val expected = p.join(sg,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "leftOuter")
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(col("s_user")).as("n_signups_7d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"missing=${(expected -- got).take(5)} spurious=${(got -- expected).take(5)}")
    // the OUTER semantics must actually materialize: every purchase row is
    // present (inner drops the zero-match cohort), zero-match rows exist,
    // and the sentinel flush rows never leak into the output
    assert(got.size == p.count(), "not every purchase surfaced")
    assert(got.exists(_._3 == 0L), "no zero-match purchase in corpus/output")
    assert(got.forall(_._1 >= 0L), "sentinel leaked")
  }

  test("stream-stream join: file-sink (production) form equals the memory-sink form") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(false -> streaming.Streams.purchaseAttribution _,
      true -> streaming.Streams.purchaseAttributionOuter _).foreach {
      case (leftOuter, memoryForm) =>
        val out = Files.createTempDirectory("graft_ssj_out").toString
        val ckpt = Files.createTempDirectory("graft_ssj_ckpt").toString
        val viaFile = rows(streaming.Streams.purchaseAttributionToParquet(
          spark, sfDir, s"$out/pairs", s"$ckpt/q", leftOuter = leftOuter))
        val viaMemory = rows(memoryForm(spark, sfDir))
        assert(viaFile.nonEmpty && viaFile == viaMemory, s"leftOuter=$leftOuter")
    }
  }

  test("windowed dedup: within-window dups collapse, beyond-window dups re-admit") {
    val dir = Files.createTempDirectory("graft_wdedup").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // b1: id 1 twice at the same instant (same batch → collapsed), id 2
    // late in the batch, id 99 sets the watermark to Jan 3 (= Jan 4 − 1d).
    // After b1: id 1's state expires (Jan 1 + 1d < Jan 3) and is evicted;
    // id 2's survives (Jan 3 23:30 + 1d > Jan 3).
    Seq((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:00:00")),
        (2L, ts("2024-01-03 23:30:00")), (99L, ts("2024-01-04 00:00:00")))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1200) // distinct mod-times → deterministic batch order
    // b2: id 2 again 40 min after its first copy (still in state →
    // suppressed); id 98 pushes the watermark to Jan 11, far past both
    // keys' expiries, so the end-of-batch purge clears them (state purge
    // uses the watermark advanced at batch END — one batch after the
    // arrival check, same one-batch lag the windowed-count test pins)
    Seq((2L, ts("2024-01-04 00:10:00")), (98L, ts("2024-01-12 00:00:00")))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/b2")
    Thread.sleep(1200)
    // b3: id 1 returns long past its eviction → RE-ADMITTED: the
    // within-watermark contract, not global dedup
    Seq((1L, ts("2024-01-13 00:00:00")))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/b3")

    val stream = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$dir/*")
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.format("memory").queryName("wdedup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val emitted = spark.table("wdedup_test").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(emitted(1L) == 2, s"beyond-window dup must re-admit: $emitted")
    assert(emitted(2L) == 1, s"within-window dup must collapse: $emitted")
    assert(emitted(99L) == 1 && emitted(98L) == 1, emitted.toString)
  }

  test("q_stream_dedup_windowed equals the distinct count and evicts state") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=stream_dedup_windowed_state")) lines += l: Unit
    }
    StructuredLog.addListener(listener)
    val got = try
      streaming.Streams.dedupWindowedCount(spark, sfDir)
        .collect()(0).getLong(0)
    finally StructuredLog.removeListener(listener)
    // corpus event_ids are unique and equal-ts dups share a value-cut
    // slice, so the windowed dedup must pass every event through
    val total = Tables.load(spark, sfDir, "events").count()
    assert(got == total, s"got=$got total=$total")
    // the sliced feed must span micro-batches AND evict between them:
    // max state rows well below the corpus-lifetime dedup's (= all keys)
    assert(lines.size == 1, lines.toString)
    val fields = lines.head.split(" ")
      .collect { case s if s.contains("=") =>
        val Array(k, v) = s.split("=", 2); k -> v }.toMap
    assert(fields("batches").toInt > 1, lines.head)
    assert(fields("max_state_rows").toLong < total / 2,
      s"state not lateness-bounded: ${lines.head} vs total=$total")
  }

  test("userCounts evicts idle users once the watermark passes the idle gap") {
    val dir = Files.createTempDirectory("graft_evict").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // b1: user 1 twice on day 1 → timeout set to ~Jan 31 (30-day gap)
    Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1200)
    // b2: user 2 far in the future → watermark jumps past user 1's timeout
    Seq((2L, ts("2024-03-15 00:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b2")
    Thread.sleep(1200)
    // b3: user 2 again; user 1 has no data → its state times out HERE
    Seq((2L, ts("2024-03-16 00:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b3")
    Thread.sleep(1200)
    // b4: user 1 returns → count restarts from zero (state was evicted)
    Seq((1L, ts("2024-03-17 00:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/b4")

    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$dir/*")
      .withWatermark("ts", "1 hour")
    val q = streaming.Streams.userCountsStream(stream)
      .writeStream.format("memory").queryName("evict_test")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val user1 = spark.table("evict_test").filter($"user_id" === 1L)
      .select($"n_events").as[Long].collect().toSeq
    // 2 from b1 (re-emitted on timeout), then a RESTARTED count of 1 in b4
    // — never 3, which is what unbounded state would produce
    assert(user1.contains(1L), s"no restart row: $user1")
    assert(!user1.contains(3L), s"state survived the idle gap: $user1")
  }

  test("streaming near-dup bucket state caps at `cap` docs per bucket") {
    val dir = Files.createTempDirectory("graft_cap").toString
    import java.nio.file.{Files => JFiles, Paths}
    // 10 identical docs → every band bucket would hold all 10
    val docs = (0L until 10L).map(d =>
      (d, "alpha beta gamma delta epsilon zeta eta theta", "en", "t", 8L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/out")
    val part = JFiles.list(Paths.get(s"$dir/out")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    JFiles.move(Paths.get(part), Paths.get(s"$dir/documents.parquet"))

    val pairs = streaming.Streams.streamingNearDupPairs(spark, dir, cap = 4)
    // only the first 4 arrivals per bucket pair up: C(4,2), not C(10,2)
    assert(pairs.count() == 6L, s"got ${pairs.count()} pairs")
  }
}
