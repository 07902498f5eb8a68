package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful processing on Spark 4's `transformWithState`
  * operator — the successor API to `mapGroupsWithState` (SPARK-46815):
  * multiple independently-typed state variables per key (value/list/map),
  * per-variable TTL, timers, and schema evolution of state. Where
  * [[Streams.userCountsStream]] shows the classic single-tuple
  * `GroupState` surface, this module exercises the new one with a
  * composite per-user profile: scalar counters + min/max event-time
  * bounds in `ValueState` and a per-event-type histogram in `MapState` —
  * the state shape a feature-store or abuse-detection pipeline keeps per
  * entity, which a single-value GroupState forces into one fat tuple that
  * is fully rewritten on every update. State variables persist in the
  * RocksDB state store (the operator requires that provider), so per-key
  * state is disk-bounded and each variable commits its own delta.
  *
  * Scale: state is per-user and O(#event types) per user; input shuffles
  * once on the grouping key; at 100 TB the bound is active-key
  * cardinality on disk, not heap. TTL (or timers, as in
  * [[Streams.userCountsStream]]) bounds lifetime where the business
  * contract allows forgetting — profiles here are corpus-lifetime by
  * design, matching the batch per-user aggregate the oracle computes.
  */
object Tws {
  /** Per-user profile emitted after each micro-batch (Update-style):
    * monotone fields, so the harness's final max/min per key equals the
    * last emission even across replays. */
  case class UserProfile(user_id: Long, n_events: Long,
                         first_ts: java.sql.Timestamp,
                         last_ts: java.sql.Timestamp,
                         n_purchase: Long)

  // exact µs round-trip: java.sql.Timestamp.getTime truncates to ms, the
  // corpus carries µs — going through (ms, nanos) preserves them
  private def tsToMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private class ProfileProcessor
    extends StatefulProcessor[Long, (Long, java.sql.Timestamp, String), UserProfile] {
    @transient private var nEvents: ValueState[Long] = _
    @transient private var firstUs: ValueState[Long] = _
    @transient private var lastUs: ValueState[Long] = _
    @transient private var byType: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val h = getHandle
      nEvents = h.getValueState("nEvents", Encoders.scalaLong, TTLConfig.NONE)
      firstUs = h.getValueState("firstUs", Encoders.scalaLong, TTLConfig.NONE)
      lastUs = h.getValueState("lastUs", Encoders.scalaLong, TTLConfig.NONE)
      byType = h.getMapState("byType", Encoders.STRING, Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, java.sql.Timestamp, String)],
                                 tv: TimerValues): Iterator[UserProfile] = {
      var n = if (nEvents.exists()) nEvents.get() else 0L
      var f = if (firstUs.exists()) firstUs.get() else Long.MaxValue
      var l = if (lastUs.exists()) lastUs.get() else Long.MinValue
      rows.foreach { case (_, ts, typ) =>
        n += 1
        val us = tsToMicros(ts)
        if (us < f) f = us
        if (us > l) l = us
        val prev = if (byType.containsKey(typ)) byType.getValue(typ) else 0L
        byType.updateValue(typ, prev + 1)
      }
      nEvents.update(n); firstUs.update(f); lastUs.update(l)
      val nPurchase =
        if (byType.containsKey("purchase")) byType.getValue("purchase") else 0L
      Iterator.single(
        UserProfile(key, n, microsToTs(f), microsToTs(l), nPurchase))
    }
  }

  /** The profile stream over any (user_id, ts, event_type) feed —
    * factored out so tests can drive it through a MemoryStream batch by
    * batch and pin cross-batch state accumulation. */
  private[graft] def profileStream(
      ev: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, String)]):
      org.apache.spark.sql.Dataset[UserProfile] =
    ev.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Update())(Encoders.product[UserProfile])

  /** Build the per-user profile stream over the events feed and reduce the
    * Update-mode emissions to the final profile per user (all fields
    * monotone). Runs under the RocksDB provider — `transformWithState`
    * requires it. */
  def userProfiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Streams.eventStream(spark, dir)
    import ev.sparkSession.implicits._
    val profiles = profileStream(
      ev.select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)])
    Streams.withStateStoreProvider(spark, Streams.RocksDbProvider) {
      Streams.runToTable(profiles.toDF(), OutputMode.Update())
    }
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        min(col("first_ts")).as("first_ts"),
        max(col("last_ts")).as("last_ts"),
        max(col("n_purchase")).as("n_purchase"))
      .orderBy(col("user_id"))
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_stream_user_profile" -> ((s, dir) => userProfiles(s, dir)),
  )

  val oracle: Map[String, String] = Map(
    "q_stream_user_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
        |  MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
