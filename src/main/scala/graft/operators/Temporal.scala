package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** Temporal operators beyond the reference's daily slicing: session
  * windows, as-of join, and range join — the time-series surface a
  * training-data pipeline needs for event attribution and windowed joins.
  */
object Temporal {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // gap-based sessionization (30-min inactivity gap). Built-in
    // session_window: per-key merge of overlapping [t, t+gap) intervals —
    // one shuffle on user_id, state bounded per key.
    "q_session_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // as-of join: each purchase matched to the user's most recent prior
    // (or simultaneous) signup. Implemented as the scalable union-tag
    // composition — tag both streams, sort per user, running last_value
    // with ignoreNulls — ONE shuffle + window, no join at all (the classic
    // trades/quotes asof shape; a per-row range join would be O(n·m)).
    // Oracle: DuckDB's native ASOF JOIN.
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val tagged = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), lit(1).as("is_signup"),
          lit(null).cast("long").as("event_id"))
        .unionByName(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(0).as("is_signup"), col("event_id")))
      // at equal ts the signup sorts first → simultaneous signup matches
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_signup").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("signup_ts",
          last(when(col("is_signup") === 1, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_signup") === 0 && col("signup_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("signup_ts"),
          expr("(unix_micros(ts) - unix_micros(signup_ts)) div 1000000")
            .as("lag_seconds"))
        .orderBy(col("event_id"))
    }),

    // hopping (sliding) window in batch: width 2 h, slide 1 h — every
    // event lands in exactly width/slide = 2 windows. Built-in `window()`
    // explodes each row into its windows BEFORE the shuffle, so partial
    // aggregation still applies: the exchange carries one partial count
    // per (task, window), not 2× the events.
    "q_hopping_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("n_events"), col("n_users"))
        .orderBy(col("w_start"))
    }),

    // log compaction: latest-wins current-state snapshot of a keyed change
    // log (the Kafka-compacted-topic / CDC-snapshot primitive). `max_by`
    // over a (ts, event_id) struct is partial-aggregatable — each map task
    // keeps ONE candidate row per key and the exchange merges candidates —
    // unlike the window row_number shape, which shuffles every version of
    // a hot key into a single task's sort.
    "q_log_compact" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          max_by(struct(col("ts"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("last"),
          count(lit(1)).as("n_versions"))
        .select(col("user_id"),
          col("last.ts").as("last_ts"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"),
          col("n_versions"))
        .orderBy(col("user_id"))
    }),

    // peak concurrency per day (sweep line): each event opens a 1-hour
    // session (clipped at midnight — sessions count toward the day they
    // start; stated semantics, not an accident); +1/-1 deltas in sweep
    // order, hierarchical running sum (see below), per-day max. Ends are
    // exclusive: at equal timestamps the -1 applies first (d sorts before
    // +1), so back-to-back sessions don't double-count.
    "q_concurrency" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), to_date(col("ts")).as("day"))
      val starts = ev.select(col("day"), col("ts").as("t"), lit(1).as("d"))
      val ends = ev.select(col("day"),
        least(col("ts") + expr("INTERVAL 1 HOUR"),
          (col("day") + lit(1)).cast("timestamp")).as("t"),
        lit(-1).as("d"))
      // r12: the running sum used to window over partitionBy(day) — one
      // WindowExec task per DAY, i.e. a full day's events buffered/spilled
      // serially, which at 100 TB is the hottest partition in the corpus.
      // Running sums COMPOSE, so it is now hierarchical: (1) running sum
      // within each (day, hour-of-day) bucket — 25 bounded partitions per
      // day in parallel (bucket 24 holds the next-midnight-clamped ends);
      // (2) per-bucket totals (a partial-aggregatable groupBy) prefixed
      // EXCLUSIVELY by a window over the ≤25-row per-day frame; (3) each
      // point's true running value = within-bucket run + its bucket's
      // prefix offset (joined back via the tiny broadcastable offset
      // frame). Ordering (t, d) is preserved exactly — the bucket id is
      // floor(t) by hour, so bucket order extends point order.
      val pts = starts.unionByName(ends)
        .withColumn("hr", ((col("t").cast("long") -
          col("day").cast("timestamp").cast("long")) / 3600L).cast("int"))
      val wIn = Window.partitionBy(col("day"), col("hr"))
        .orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.partitionBy(col("day")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = pts.groupBy(col("day"), col("hr"))
        .agg(sum(col("d")).as("htot"))
        .withColumn("off", coalesce(sum(col("htot")).over(wOff), lit(0)))
        .select(col("day"), col("hr"), col("off"))
      pts
        .withColumn("run_in", sum(col("d")).over(wIn))
        .join(broadcast(offsets), Seq("day", "hr"))
        .withColumn("running", col("run_in") + col("off"))
        .groupBy(col("day"))
        .agg(max(col("running")).cast("long").as("peak_concurrent"))
        .orderBy(col("day"))
    }),

    // conversion funnel view → click → purchase, strictly ordered per
    // user: stage k counts users whose earliest stage-k event follows
    // their earliest qualifying stage-(k-1) event. Three bounded per-user
    // aggregates chained by join — each pass shuffles one row per user,
    // never the event log itself twice.
    "q_funnel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .agg(count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_view_click"),
          count(col("t_purchase")).as("n_view_click_purchase"))
    }),

    // cohort retention: users grouped by first-activity ISO week; for each
    // (cohort, week offset) the count and fraction of the cohort still
    // active. Three bounded aggregates (per-user min, per-cohort size,
    // per-cell distinct count) — the fact table shuffles once on user_id
    // and once into the tiny (cohort, offset) grid; cohort sizes broadcast
    // back. The standard product-analytics query, engine-shaped.
    "q_retention" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_size"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("long").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          round(col("n_active").cast("double") / col("cohort_size"), 6)
            .as("retention"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // range join against a small interval dimension — broadcast the
    // intervals so the fact side streams through a nested-loop probe of a
    // handful of ranges (never shuffle the fact table for this)
    // trailing 7-day activity via a RANGE frame over the day number — the
    // frame is value-bounded, so calendar gaps count correctly (a ROWS
    // frame would silently span gaps). Daily pre-aggregation first: the
    // window runs over ≤31 rows per user, never the raw event log; one
    // exchange for the groupBy, the window reuses its partitioning.
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("dd"))
        .rangeBetween(-6, Window.currentRow)
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("dd", datediff(col("day"), lit("2024-01-01").cast("date")))
        .withColumn("n_7d", sum(col("n_events")).over(w))
        .select(col("user_id"), col("day"), col("n_events"), col("n_7d"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Per-key time-series gap-fill with linear interpolation: densify each
    // user's hourly purchase-value series onto a regular grid (their own
    // first..last observed hour, so every series edge is observed — no
    // extrapolation semantics to disagree on) and fill interior holes by
    // interpolating between the bracketing observations.
    //
    // Scale shape: the grid explodes from a two-column per-key aggregate
    // (never a global calendar cross-join), and the fill windows are
    // running last/first-ignore-nulls over each key's bounded series —
    // partition-local, no iteration, no self-join on time. Exactness:
    // observed values round to 6 dp first; the interpolation weight is a
    // ratio of integer second-offsets, so both engines evaluate the same
    // doubles and the final round(…, 6) lands identically.
    "q_interpolate" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val obs = ev.filter(col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-15").cast("timestamp"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(avg(col("value")), 6).as("v"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsTs = when(col("v").isNotNull, col("hr"))
      grid.join(obs, Seq("user_id", "hr"), "left")
        .withColumn("vp", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("tp", last(obsTs, ignoreNulls = true).over(wPrev))
        .withColumn("vn", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("tn", first(obsTs, ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("hr"),
          col("v").isNotNull.as("is_observed"),
          round(when(col("v").isNotNull, col("v"))
            .otherwise(col("vp") + (col("vn") - col("vp")) *
              ((unix_timestamp(col("hr")) - unix_timestamp(col("tp"))).cast("double") /
               (unix_timestamp(col("tn")) - unix_timestamp(col("tp"))).cast("double"))), 6)
            .as("value_filled"))
        .orderBy(col("user_id"), col("hr"))
    }),

    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val periods = Seq(
        ("early", "1995-01-01", "1997-01-01"),
        ("mid", "1997-01-01", "1999-01-01"),
        ("late", "1999-01-01", "2002-01-01"))
        .toDF("period", "p_start", "p_end")
        .select(col("period"),
          col("p_start").cast("timestamp").as("p_start"),
          col("p_end").cast("timestamp").as("p_end"))
      Tables.load(s, dir, "orders")
        .join(broadcast(periods),
          col("o_orderdate") >= col("p_start") && col("o_orderdate") < col("p_end"))
        .groupBy(col("period"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("sum_price"))
        .orderBy(col("period"))
    }),
  )

  /** q_session_window's oracle, shared by its streaming twin. */
  private[graft] val sessionWindowSql: String =
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
      |ORDER BY user_id, session_start""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_session_window" -> sessionWindowSql,
    "q_asof_join" ->
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS signup_ts
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.purchase_ts, s.signup_ts,
        |  (epoch_us(p.purchase_ts) - epoch_us(s.signup_ts)) // 1000000 AS lag_seconds
        |FROM p ASOF JOIN s
        |  ON p.user_id = s.user_id AND p.purchase_ts >= s.signup_ts
        |ORDER BY event_id""".stripMargin,
    // each event's two window starts enumerated explicitly: the hour
    // floor and the hour floor minus the slide
    "q_hopping_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |x AS (SELECT user_id,
        |        unnest([to_timestamp(floor(epoch(ts)/3600)*3600),
        |                to_timestamp(floor(epoch(ts)/3600)*3600 - 3600)]) AS w
        |      FROM e)
        |SELECT CAST(w AS TIMESTAMP) AS w_start,
        |  CAST(w + INTERVAL 2 HOUR AS TIMESTAMP) AS w_end,
        |  COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM x GROUP BY 1, 2 ORDER BY w_start""".stripMargin,
    "q_log_compact" ->
      """WITH m AS (SELECT user_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events)
        |SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
        |  event_type AS last_type, value AS last_value,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM m WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_concurrency" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts,
        |             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |pts AS (
        |  SELECT day, ts AS t, 1 AS d FROM e
        |  UNION ALL
        |  SELECT day,
        |    least(ts + INTERVAL 1 HOUR,
        |          CAST(day + INTERVAL 1 DAY AS TIMESTAMP)) AS t, -1 AS d
        |  FROM e),
        |r AS (SELECT day,
        |        SUM(d) OVER (PARTITION BY day ORDER BY t, d
        |                     ROWS UNBOUNDED PRECEDING) AS running
        |      FROM pts)
        |SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q_funnel" ->
      """WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
        |      GROUP BY e.user_id)
        |SELECT COUNT(v.t_view) AS n_view,
        |  COUNT(c.t_click) AS n_view_click,
        |  COUNT(p.t_purchase) AS n_view_click_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
        |s AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM c GROUP BY cohort_wk),
        |a AS (SELECT c.cohort_wk,
        |        CAST(date_diff('day', c.cohort_wk, e.wk) / 7 AS BIGINT) AS week_offset,
        |        COUNT(DISTINCT e.user_id) AS n_active
        |      FROM e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_wk, a.week_offset, a.n_active, s.cohort_size,
        |  round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
        |FROM a JOIN s USING (cohort_wk)
        |ORDER BY cohort_wk, week_offset""".stripMargin,
    "q_window_range" ->
      """WITH d AS (SELECT user_id,
        |             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             COUNT(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |x AS (SELECT *, date_diff('day', DATE '2024-01-01', day) AS dd FROM d)
        |SELECT user_id, day, n_events,
        |  CAST(SUM(n_events) OVER (PARTITION BY user_id ORDER BY dd
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM x ORDER BY user_id, day""".stripMargin,
    "q_range_join" ->
      """SELECT period, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN (VALUES ('early', TIMESTAMP '1995-01-01', TIMESTAMP '1997-01-01'),
        |             ('mid',   TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01'),
        |             ('late',  TIMESTAMP '1999-01-01', TIMESTAMP '2002-01-01'))
        |  AS t(period, p_start, p_end)
        |  ON o_orderdate >= p_start AND o_orderdate < p_end
        |GROUP BY period ORDER BY period""".stripMargin,
    "q_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |         round(avg(value), 6) AS v
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |  GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM obs GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |         FROM b),
        |j AS (SELECT g.user_id, g.hr, o.v
        |      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr),
        |f AS (SELECT user_id, hr, v,
        |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
        |        last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
        |        first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY hr
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
        |      FROM j)
        |SELECT user_id, hr, v IS NOT NULL AS is_observed,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |        ELSE vp + (vn - vp) *
        |          (CAST(date_diff('second', tp, hr) AS DOUBLE) /
        |           CAST(date_diff('second', tp, tn) AS DOUBLE)) END, 6) AS value_filled
        |FROM f ORDER BY user_id, hr""".stripMargin,
  )
}
