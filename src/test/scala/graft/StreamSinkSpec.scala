package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** End-to-end distributed streaming sink: watermarked daily counts land in
  * a real parquet directory (append mode, exactly-once via sink log +
  * checkpoint) and a replay with the same checkpoint appends nothing. */
class StreamSinkSpec extends SparkSpec {
  import spark.implicits._

  test("dailyCountsToParquet writes closed windows once, replay-idempotent") {
    val base = Files.createTempDirectory("graft_sink").toString
    val ns = 1000L * 1000 * 1000
    def at(day: Int, hour: Int): Long = // 2024-02-<day> <hour>:00 as epoch-ns
      (java.time.LocalDateTime.of(2024, 2, day, hour, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)) * ns
    // day 1: 3 events, day 2: 2 events, day 3: 1 event. Final watermark =
    // day3 00:00 − 1 day = day2 00:00 → only day 1's window is closed.
    val events = Seq(
      (1L, at(1, 9), 10L, "a", 1.0, "{}"), (2L, at(1, 10), 10L, "a", 1.0, "{}"),
      (3L, at(1, 11), 11L, "b", 1.0, "{}"), (4L, at(2, 9), 10L, "a", 1.0, "{}"),
      (5L, at(2, 10), 12L, "b", 1.0, "{}"), (6L, at(3, 0), 13L, "a", 1.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/raw")
    val part = Files.list(Paths.get(s"$base/raw")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$base/events.parquet"))

    val out = s"$base/sink"
    val ckpt = s"$base/ckpt"
    val first = streaming.Streams.dailyCountsToParquet(spark, base, out, ckpt)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toSeq
    assert(first == Seq("2024-02-01" -> 3L), first.toString)

    // replay with the same checkpoint: no new input → nothing re-emitted
    val second = streaming.Streams.dailyCountsToParquet(spark, base, out, ckpt)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toSeq
    assert(second == Seq("2024-02-01" -> 3L), second.toString)
  }

  test("streaming near-dup pairs: parquet-sink production form equals memory-sink form") {
    val out = Files.createTempDirectory("graft_ssp_out").toString
    val ckpt = Files.createTempDirectory("graft_ssp_ckpt").toString
    val viaFile = streaming.Streams
      .streamingNearDupPairsToParquet(spark, sfDir, s"$out/pairs", s"$ckpt/q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaMemory = streaming.Streams.streamingNearDupPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaMemory.nonEmpty, "corpus has no near-dup pairs — vacuous")
    assert(viaFile == viaMemory,
      s"sink forms diverge: ${(viaFile diff viaMemory).size} extra, " +
        s"${(viaMemory diff viaFile).size} missing")
    // the bucket cap is not engaged at this scale, so the streamed bucket
    // state must find exactly the batch pipeline's verified pairs
    val batch = operators.Dedup.minhashNearDupPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFile.size == batch.size && viaFile.map(p => (p._1, p._2)) == batch,
      s"streamed ${viaFile.size} pairs vs batch ${batch.size}")
  }

  test("doc-clean stream: parquet-sink production form equals memory-sink form") {
    val out = Files.createTempDirectory("graft_sclean_out").toString
    val ckpt = Files.createTempDirectory("graft_sclean_ckpt").toString
    val viaFile = Harness.checksum(streaming.Streams
      .docCleanStreamToParquet(spark, sfDir, s"$out/clean", s"$ckpt/q"))
    val viaMemory = Harness.checksum(streaming.Streams.docCleanStream(spark, sfDir))
    assert(viaMemory._1 > 0, "no document passed the length filter — vacuous")
    assert(viaFile == viaMemory, s"file sink $viaFile != memory sink $viaMemory")
  }

  test("compacted-state view: latest wins, replay and full-reprocess converge") {
    val base = Files.createTempDirectory("graft_mview").toString
    val ns = 1000L * 1000 * 1000
    def at(day: Int, hour: Int): Long =
      (java.time.LocalDateTime.of(2024, 2, day, hour, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)) * ns
    val events = Seq(
      (1L, at(1, 9), 10L, "a", 1.0, "{}"), (2L, at(1, 10), 10L, "b", 2.0, "{}"),
      (3L, at(1, 11), 11L, "a", 3.0, "{}"), (4L, at(2, 9), 10L, "c", 4.0, "{}"),
      (5L, at(2, 10), 12L, "a", 5.0, "{}"), (6L, at(3, 0), 13L, "a", 6.0, "{}"))
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/raw")
    val part = Files.list(Paths.get(s"$base/raw")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$base/events.parquet"))

    def stateOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String, Double)] =
      df.collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
          r.getAs[Double]("value")))).toMap
    val expected = Map(
      10L -> ((4L, "c", 4.0)), 11L -> ((3L, "a", 3.0)),
      12L -> ((5L, "a", 5.0)), 13L -> ((6L, "a", 6.0)))

    val state = s"$base/state"
    val first = stateOf(
      streaming.Streams.compactedStateToParquet(spark, base, state, s"$base/c1"))
    assert(first == expected, first.toString)
    // same checkpoint: no new input, state untouched
    val replay = stateOf(
      streaming.Streams.compactedStateToParquet(spark, base, state, s"$base/c1"))
    assert(replay == expected)
    // FRESH checkpoint: the whole log re-merges into existing state — the
    // latest-wins merge must converge, not duplicate or regress
    val reproc = stateOf(
      streaming.Streams.compactedStateToParquet(spark, base, state, s"$base/c2"))
    assert(reproc == expected)
  }
}
