package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._

/** Statistical aggregates, sorted collection, approximate distinct, and a
  * custom typed `Aggregator` — the aggregate surface beyond plain
  * sum/count (SURVEY.md §2.4 notes the reference has none of these; §7.2
  * step 7 calls for the custom-Aggregator path).
  *
  * Variance/stddev/corr are computed from decimal-exact moment sums with
  * the textbook formulas written IDENTICALLY here and in the DuckDB oracle
  * — bit-identical doubles, no dependence on either engine's internal
  * (merge-order-sensitive) streaming variance. At cluster scale the moment
  * sums are ordinary partial aggregates: one shuffle of 5 numbers per
  * group.
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  /** Input row for the typed aggregator. */
  case class LineSlim(l_returnflag: String, l_quantity: Double, l_extendedprice: Double)

  /** Exact weighted average via integer cents — a custom typed Aggregator
    * whose buffer merge is associative/commutative-exact (longs), so the
    * result is deterministic under any partitioning. */
  object WeightedAvgPrice extends Aggregator[LineSlim, (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: LineSlim): (Long, Long) =
      (b._1 + math.round(a.l_extendedprice * 100) * a.l_quantity.toLong,
        b._2 + a.l_quantity.toLong)
    override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Long)): Double =
      if (r._2 == 0) 0.0 else (r._1.toDouble / 100.0) / r._2.toDouble
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Misra–Gries heavy-hitters sketch: at most `k` counters; any item with
    * frequency > n/(k+1) is GUARANTEED to survive (candidates may include
    * false positives — callers verify). `merge` is the standard mergeable
    * form: combine counters, then decrement all by the (k+1)-largest count
    * so at most k survive. Buffer is k entries regardless of input size —
    * the bounded-state first pass of heavy-hitters at 100 TB. */
  class MisraGries(k: Int) extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
      if (b.contains(a)) b.updated(a, b(a) + 1L)
      else if (b.size < k) b.updated(a, 1L)
      else b.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = (x.keySet ++ y.keySet).iterator
        .map(t => t -> (x.getOrElse(t, 0L) + y.getOrElse(t, 0L))).toMap
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.view.mapValues(_ - cut).filter(_._2 > 0L).toMap
      }
    }
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
  }

  /** [[MisraGries]] with a string-typed finish (NUL-joined sorted
    * nominee tokens — NUL cannot appear in any key, unlike a space,
    * which a future non-whitespace-tokenized caller's keys could contain
    * and silently corrupt the split-back) — the streaming form: a
    * memory-sink row must be a plain SQL type, not a Kryo blob, for the
    * harness to read it back. Same sketch, same superset guarantee; only
    * the presentation of the bounded nominee set differs. */
  class MisraGriesNominees(k: Int) extends Aggregator[String, Map[String, Long], String] {
    private val mg = new MisraGries(k)
    override def zero: Map[String, Long] = mg.zero
    override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
      mg.reduce(b, a)
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      mg.merge(x, y)
    override def finish(r: Map[String, Long]): String = {
      require(r.keys.forall(!_.contains('\u0000')),
        "nominee keys must not contain NUL (the join separator)")
      r.keys.toSeq.sorted.mkString("\u0000")
    }
    override def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  val queries: Map[String, Q] = Map(
    // variance / stddev / correlation from exact moment sums
    "q_stats_agg" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val n = count(lit(1)).cast("double")
      val sx = sum(col("l_quantity")).cast("double")
      val sxx = sum(col("l_quantity") * col("l_quantity")).cast("double")
      val sy = sum(money(col("l_extendedprice"))).cast("double")
      val syy = sum(money(col("l_extendedprice")) * money(col("l_extendedprice"))).cast("double")
      val sxy = sum(money(col("l_extendedprice")) * col("l_quantity")).cast("double")
      val varY = (syy - sy * sy / n) / (n - 1)
      // moments are exact; the derived stats are rounded because engines
      // may contract a*b−c with FMA differently (observed 1-ulp drift)
      li.groupBy(col("l_returnflag"))
        .agg(
          n.cast("long").as("n_rows"),
          round(varY, 4).as("var_price"),
          round(sqrt(varY), 6).as("stddev_price"),
          round((n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // sorted set collection (collect_set is unordered → sort for
    // determinism; joined to a string so the oracle compare is
    // representation-independent)
    "q_collect" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          size(collect_set(col("l_suppkey"))).cast("long").as("n_supps"))
        .orderBy(col("l_returnflag"))
    }),

    // HLL-sketch distinct count — engine-specific estimates, so rows-only
    // in the oracle gate; accuracy vs exact is unit-tested (±10%)
    "q_approx_distinct" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // exact percentiles (sort-based). Both engines use the p*(n-1)
    // interpolation convention; results are rounded because the two
    // formulas ((1-f)*a+f*b vs a+f*(b-a)) differ in the last ulp when the
    // fraction is not dyadic.
    "q_percentile" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
          round(expr("percentile(l_quantity, array(0.25, 0.75))[1] - " +
            "percentile(l_quantity, array(0.25, 0.75))[0]"), 6).as("iqr_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // mergeable quantile sketch (Greenwald-Khanna via the built-in
    // percentile_approx) — the 100 TB percentile path: bounded memory per
    // group, partial-aggregatable, no per-group sort. percentile_approx
    // picks discrete elements with DuckDB's quantile_disc convention, and
    // at accuracy 50k the summary compresses nothing for the gate-scale
    // groups (deletion band 2·n/accuracy < 1), so the oracle comparison is
    // exact here while the SAME query degrades gracefully to ε-rank
    // approximation at cluster scale (guarantee property-tested at low
    // accuracy in StatsSpec).
    "q_quantile_approx" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_quantity, 0.5, 50000)").as("median_qty"),
          expr("percentile_approx(l_quantity, 0.9, 50000)").as("p90_qty"),
          expr("percentile_approx(l_quantity, 0.99, 50000)").as("p99_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // robust-stats outlier gate (winsorize fences): per event_type, the
    // exact p05/p95 fences — rounded to 6 dp, the proven cross-engine
    // percentile discipline — and how many rows each fence would clip.
    // Two passes: a bounded percentile aggregate (one tiny row per type),
    // broadcast back onto the scan for the counting pass. Fence comparison
    // uses the ROUNDED bounds so both engines compare identical doubles.
    "q_winsorize" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val fences = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.05)"), 6).as("p05"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
      ev.join(broadcast(fences), "event_type")
        .groupBy(col("event_type"))
        .agg(first(col("p05")).as("p05"), first(col("p95")).as("p95"),
          sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_above"),
          count(lit(1)).as("n_total"))
        .orderBy(col("event_type"))
    }),

    // heavy hitters, two-phase: a Misra–Gries pass (bounded k=29-counter
    // state, mergeable, ONE scan) nominates candidates — provably a
    // superset of every token with frequency > n/30 — then an exact
    // counting pass over candidates only verifies. The collected sketch is
    // ≤ 29 entries (the approxQuantile pattern: driver reads a bounded
    // summary, never data). The verified output is exact, hence
    // oracle-checkable; the integer filter 30·count > total avoids
    // division entirely. k = 29 sits just under this corpus' 31-token
    // vocabulary, so the sketch genuinely evicts (a k ≥ vocab sketch
    // degenerates to an exact count) while φ = 1/30 still admits ~15
    // heavy hitters at every SF.
    "q_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
      val sketch: Map[String, Long] = toks.as[String]
        .select(new MisraGries(29).toColumn).head()
      val tot = toks.agg(count(lit(1)).as("t"))
      toks.filter(col("token").isInCollection(sketch.keys.toSeq.sorted))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .crossJoin(tot)
        .filter(col("n") * 30 > col("t"))
        .select(col("token"), col("n"), col("t").as("total"))
        .orderBy(col("n").desc, col("token"))
    }),

    // DataSketches HLL: a mergeable distinct sketch — unlike
    // approx_count_distinct's internal HLL++, the sketch itself is a
    // column, so it can be stored and re-merged incrementally (the shape a
    // 100 TB incremental pipeline needs). Engine-specific estimate →
    // rows-only gate + tolerance unit test.
    "q_hll_sketch" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey")))
          .as("hll_parts"))
        .orderBy(col("l_returnflag"))
    }),

    // the sketch-WAREHOUSE pattern: materialize one bounded HLL sketch
    // per day, then answer coarser-range distincts by UNIONING stored
    // sketches — never rescanning the raw data. This is how 100 TB
    // deployments serve "distinct users over any date range" from a
    // few-KB-per-partition sketch table; HLL register-max makes the
    // union exact w.r.t. the daily sketches (order-independent,
    // re-aggregation-safe). Estimates are engine-defined → rows-only;
    // ±10% accuracy vs exact weekly distincts tested in StatsSpec.
    "q_hll_union" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      daily
        .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("distinct_users_est"))
        .orderBy(col("week"))
    }),

    // fixed-width histogram: bin width 8192 = 2^13 keeps the double
    // division exact so both engines floor identically; one bounded
    // aggregate (≤13 bins), map-side combined — the profile-a-column
    // primitive at any scale
    "q_histogram" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") / 8192.0).cast("long").as("bin"),
          col("l_extendedprice"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("bin"))
    }),

    // custom typed Aggregator over Dataset[LineSlim]
    "q_typed_agg" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .as[LineSlim]
        .groupByKey(_.l_returnflag)
        .agg(WeightedAvgPrice.toColumn.name("w_avg_price"))
        .toDF("l_returnflag", "w_avg_price")
        .orderBy(col("l_returnflag"))
    }),
  )

  /** q_heavy_hitters' oracle, shared by its streaming twin. */
  private[graft] val heavyHittersSql: String =
    """WITH tf AS (SELECT unnest(string_split(lower(text), ' ')) AS token
      |           FROM documents),
      |tot AS (SELECT COUNT(*) AS t FROM tf)
      |SELECT token, COUNT(*) AS n, (SELECT t FROM tot) AS total
      |FROM tf GROUP BY token
      |HAVING COUNT(*) * 30 > (SELECT t FROM tot)
      |ORDER BY n DESC, token""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(l_quantity) AS DOUBLE) AS sx,
        |    CAST(SUM(l_quantity * l_quantity) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * l_quantity) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CAST(n AS BIGINT) AS n_rows,
        |  round((syy - sy * sy / n) / (n - 1), 4) AS var_price,
        |  round(sqrt((syy - sy * sy / n) / (n - 1)), 6) AS stddev_price,
        |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_quantile_approx" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.5) AS median_qty,
        |  quantile_disc(l_quantity, 0.9) AS p90_qty,
        |  quantile_disc(l_quantity, 0.99) AS p99_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  round(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 6) AS iqr_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_winsorize" ->
      """WITH f AS (SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS p05,
        |    round(quantile_cont(value, 0.95), 6) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, f.p05, f.p95,
        |  CAST(SUM(CASE WHEN e.value < f.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN e.value > f.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  COUNT(*) AS n_total
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type, f.p05, f.p95
        |ORDER BY e.event_type""".stripMargin,
    "q_collect" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  CAST(len(list(DISTINCT l_suppkey)) AS BIGINT) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 8192.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin,
    "q_typed_agg" ->
      """SELECT l_returnflag,
        |  (CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0)
        |    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS w_avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
