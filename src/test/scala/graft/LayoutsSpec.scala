package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Layouts

/** Physical-layout behavior: partition pruning actually prunes, bucketed
  * joins actually skip the exchange, salted joins preserve semantics. */
class LayoutsSpec extends SparkSpec {

  test("date-partitioned layout gets partition pruning") {
    val out = Files.createTempDirectory("graft_part").toString
    val ev = Tables.load(spark, sfDir, "events")
    Layouts.writeDatePartitioned(ev, "ts", out)
    val pruned = spark.read.parquet(out)
      .filter(col("p_date") === lit("2024-01-15").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"), plan)
    // pruning must not change results vs the raw-range filter
    val expected = ev.filter(
      col("ts") >= lit("2024-01-15").cast("timestamp") &&
      col("ts") < lit("2024-01-16").cast("timestamp")).count()
    assert(pruned.count() == expected)
  }

  test("daily, 7-day range and 2-D slice read the same rows from every layout") {
    import graft.operators.DailyTransactions.{dayCount, dayCountRange}
    val ev = Tables.load(spark, sfDir, "events")
    val Seq(flatDir, dateDir, zDir) =
      Seq("flat", "bydate", "zorder").map(t => Files.createTempDirectory(s"graft_$t").toString)
    ev.repartition(8).write.mode("overwrite").parquet(flatDir)
    Layouts.writeDatePartitioned(ev.coalesce(2), "ts", dateDir)
    Layouts.writeZOrdered(ev, "ts", "user_id", 8, zDir)
    val (flat, byDate, z) =
      (spark.read.parquet(flatDir), spark.read.parquet(dateDir), spark.read.parquet(zDir))
    val d0 = Queries.processDate
    def day(d: java.time.LocalDate) = lit(java.sql.Date.valueOf(d))
    // the derived partition predicates of the day and the week
    val dayP = byDate.filter(col("p_date") === day(d0))
    val weekP = byDate.filter(col("p_date") >= day(d0) && col("p_date") < day(d0.plusDays(7)))
    def week(df: org.apache.spark.sql.DataFrame) =
      dayCountRange(df, "ts", d0, d0.plusDays(7)).orderBy("transaction_date")
    // one week × the lowest tenth of the user range: selective on both
    // z-ordered columns; a decimal sum, so summation order cannot differ
    val users = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    val uCut = users.getLong(0) + (users.getLong(1) - users.getLong(0)) / 10
    def slice(df: org.apache.spark.sql.DataFrame) = df.filter(
        col("ts") >= lit(java.sql.Timestamp.valueOf(d0.atStartOfDay())) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(d0.plusDays(7).atStartOfDay())) &&
        col("user_id") < uCut)
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val sliced = rows(slice(flat))
    assert(sliced.head != "[0,null]", "the 2-D slice must select rows")
    for ((tag, flatRows, laidOut) <- Seq(
        ("daily", rows(dayCount(flat, "ts", d0)), rows(dayCount(dayP, "ts", d0))),
        ("backfill", rows(week(flat)), rows(week(weekP))),
        ("slice2d", sliced, rows(slice(z))))) {
      assert(flatRows.nonEmpty && flatRows == laidOut, tag)
    }
  }

  test("co-bucketed tables join with zero shuffle exchange") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    Layouts.writeBucketed(li, "li_bkt", 4, Seq("l_orderkey"))
    Layouts.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_bkt", 4, Seq("l_orderkey"))
    // disable broadcast so the join would otherwise shuffle both sides
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() ==
        li.join(ord, li("l_orderkey") === ord("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("saltedJoin equals plain join") {
    val li = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey")
    val ord = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, Seq("l_orderkey")).count()
    val salted = Skew.saltedJoin(li, ord, Seq("l_orderkey"), salts = 8).count()
    assert(salted == plain)
  }

  test("saltedJoin on a hot key: equal to plain join, big side scattered") {
    import spark.implicits._
    // 10k rows on ONE key — the shape AQE can't always split (e.g. when the
    // downstream agg state is the problem, not the sort-merge partition)
    val hot = (1 to 10000).map(i => (42L, i.toLong)) ++ (1 to 100).map(i => (i.toLong, 0L))
    val big = hot.toDF("k", "v").repartition(8)
    val dim = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    val plain = big.join(dim, Seq("k"))
      .groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(big, dim, Seq("k"), salts = 8)
      .groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain && salted(42L) == 10001L)
    // the hot key really scatters: pre-join salt cardinality on key 42 is 8
    val saltsUsed = big.filter(col("k") === 42)
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(8L)))
      .select("__salt").distinct().count()
    assert(saltsUsed == 8L, s"hot key spread over $saltsUsed salts, want 8")
  }

  test("z-order clusters BOTH dimensions; 1-D range layout leaves one unclustered") {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val zdir = Files.createTempDirectory("graft_z").toString
    val rdir = Files.createTempDirectory("graft_r").toString
    Layouts.writeZOrdered(ev, "value", "user_id", 8, zdir)
    Layouts.writeRangeClustered(ev, "value", 8, rdir)
    // mean per-file span of a column as a fraction of its global span —
    // the proxy for footer min/max skippability under range predicates
    def meanSpan(dir: String, c: String): Double = {
      val d = spark.read.parquet(dir).select(col(c).cast("double").as("v"))
      val Array(lo, hi) = d.agg(min("v"), max("v")).head()
        .toSeq.map(_.asInstanceOf[Double]).toArray
      val per = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c).cast("double")) - min(col(c).cast("double"))).as("s"))
        .agg(avg("s")).head().getDouble(0)
      per / (hi - lo)
    }
    // both layouts cluster the lead column tightly
    assert(meanSpan(rdir, "value") < 0.3)
    assert(meanSpan(zdir, "value") < 0.75)
    // ...but only z-order clusters the second: the 1-D layout's files each
    // span (almost) the whole user_id range
    val zUser = meanSpan(zdir, "user_id")
    val rUser = meanSpan(rdir, "user_id")
    assert(zUser < 0.75, s"z-order user_id span $zUser")
    assert(rUser > 0.85, s"range layout should NOT cluster user_id, span $rUser")
    // layout is a pure reorder — no rows gained or lost
    assert(spark.read.parquet(zdir).count() == ev.count())
  }

  test("ANALYZE TABLE feeds CBO: catalog stats reach the optimized plan") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    li.write.mode("overwrite").saveAsTable("li_stats")
    spark.sql("ANALYZE TABLE li_stats COMPUTE STATISTICS FOR ALL COLUMNS")
    val cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val plan = spark.table("li_stats").queryExecution.optimizedPlan
      val stats = plan.stats
      assert(stats.rowCount.isDefined && stats.rowCount.get.toLong == li.count(),
        s"rowCount stat missing or wrong: $stats")
      assert(stats.attributeStats.nonEmpty,
        "column-level stats must reach the optimizer for CBO join decisions")
    } finally spark.conf.set("spark.sql.cbo.enabled", cbo)
  }

  test("writeSharded: one file per shard directory, rows land by shard") {
    val out = Files.createTempDirectory("graft_shard").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("shard",
        (instr(lit("0123456789abcdef"),
          substring(md5(col("doc_id").cast("string")), 1, 1)) - 1).cast("long"))
    Layouts.writeSharded(docs, "shard", out, filesPerShard = 1)
    val fs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
    assert(fs.length == 16, s"expected 16 shard dirs, got ${fs.length}")
    // each shard dir holds exactly one data file (no small-file explosion)
    fs.foreach { d =>
      val data = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(data.length == 1, s"${d.getName}: ${data.length} files")
    }
    // rereading by shard prunes + returns exactly that shard's docs
    val one = spark.read.parquet(out).filter(col("shard") === 3)
    val expected = docs.filter(col("shard") === 3).count()
    assert(one.count() == expected)
  }

  test("compact: many small files → ceil(bytes/target) uniform files") {
    val small = Files.createTempDirectory("graft_small").toString
    val out = Files.createTempDirectory("graft_compacted").toString
    Tables.load(spark, sfDir, "documents").repartition(64).write
      .mode("overwrite").parquet(small)
    val nSmall = new java.io.File(small).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nSmall == 64)
    val n = Layouts.compact(spark, small, out, targetBytes = 512L * 1024)
    val nOut = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nOut == n && nOut < nSmall, s"compacted to $nOut (plan $n) from $nSmall")
    assert(spark.read.parquet(out).count() ==
      Tables.load(spark, sfDir, "documents").count())
  }

  test("saltedCount equals plain groupBy count") {
    val ev = Tables.load(spark, sfDir, "events")
    val plain = ev.groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(ev, col("user_id"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}
