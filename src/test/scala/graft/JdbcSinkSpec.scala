package graft

import java.time.LocalDate

import graft.sources.{JdbcConfig, JdbcSink}

/** Round-trips the reference's sink contract (§1.4) against embedded Derby:
  * DDL bootstrap idempotence, append mode, and overwrite+truncate
  * preserving the externally-authored table. */
class JdbcSinkSpec extends SparkSpec {
  private val dbDir = java.nio.file.Files.createTempDirectory("graft_derby")
  private val conf = JdbcConfig(
    s"jdbc:derby:${dbDir.toAbsolutePath}/db;create=true",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  test("ensureTable is idempotent; append accumulates; overwrite truncates") {
    import spark.implicits._
    // Derby has no IF NOT EXISTS — ensureTable tolerates 'already exists'
    def ensure(): Unit =
      try JdbcSink.ensureTable(conf,
        "CREATE TABLE daily_transaction (transaction_date DATE, total_transactions BIGINT)")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    ensure(); ensure()

    val day1 = Seq((java.sql.Date.valueOf("2024-01-15"), 42L))
      .toDF("transaction_date", "total_transactions")
    val day2 = Seq((java.sql.Date.valueOf("2024-01-16"), 7L))
      .toDF("transaction_date", "total_transactions")
    JdbcSink.append(day1, conf, "daily_transaction")
    JdbcSink.append(day2, conf, "daily_transaction")
    val appended = spark.read.jdbc(conf.url, "daily_transaction", conf.connProps)
    assert(appended.count() == 2)

    // overwrite+truncate keeps the table (and its DDL) but replaces content
    JdbcSink.overwriteTruncate(day2, conf, "daily_transaction")
    val replaced = spark.read.jdbc(conf.url, "daily_transaction", conf.connProps)
    assert(replaced.count() == 1)
    assert(replaced.head().getLong(1) == 7L)
  }

  test("partitioned JDBC read: N range-bounded partitions, filters push to SQL") {
    import spark.implicits._
    val rows = (0L until 1000L).map(i => (i, s"u$i", i % 7)).toDF("id", "name", "grp")
    JdbcSink.append(rows, conf, "users_src")
    val back = JdbcSink.readPartitioned(spark, conf, "users_src", "id",
      lower = 0L, upper = 1000L, numPartitions = 8)
    assert(back.rdd.getNumPartitions == 8)
    assert(back.count() == 1000)
    // a filter over the partitioned frame reaches the database as pushed
    // predicates (JDBCRelation), not a post-scan Spark filter of all rows
    val filtered = back.filter($"grp" === 3)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("grp"), scan)
    assert(filtered.count() == rows.filter($"grp" === 3).count())
  }

  test("streaming daily counts land in the JDBC sink via foreachBatch") {
    streaming.Streams.dailyCountsToJdbc(spark, sfDir, conf, "stream_daily")
    val sunk = spark.read.jdbc(conf.url, "stream_daily", conf.connProps)
    val expected = Tables.load(spark, sfDir, "events")
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts"))).count().count()
    assert(sunk.count() == expected)
    // replay is idempotent (complete mode + truncating overwrite)
    streaming.Streams.dailyCountsToJdbc(spark, sfDir, conf, "stream_daily")
    assert(spark.read.jdbc(conf.url, "stream_daily", conf.connProps)
      .count() == expected)
  }

  test("JobRunner guards: unknown job and bad args raise") {
    intercept[IllegalArgumentException] {
      JobRunner.run(spark, "nonsense_job", LocalDate.parse("2024-01-16"),
        sfDir, "/tmp/graft_nowhere", "t")
    }
  }

  test("JobRunner D1: empty input raises and leaves the sink as it was") {
    import spark.implicits._
    val empty = java.nio.file.Files.createTempDirectory("graft_noinput").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(Tables.path(empty, "events"))
    val out = java.nio.file.Files.createTempDirectory("graft_d1").toString
    JobRunner.run(spark, "daily_transactions", LocalDate.parse("2024-01-16"),
      sfDir, out, "daily_transaction")
    val before = spark.read.parquet(s"$out/daily_transaction").collect().toSeq
    for (job <- Seq("daily_transactions", "top_zones"))
      intercept[IllegalStateException] {
        JobRunner.run(spark, job, LocalDate.parse("2024-01-16"),
          empty, out, "daily_transaction")
      }
    assert(spark.read.parquet(s"$out/daily_transaction").collect().toSeq == before)
  }

  test("JobRunner D3: an empty day writes one 0-count row and warns once") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=empty_day")) events += l: Unit
    }
    val out = java.nio.file.Files.createTempDirectory("graft_d3").toString
    StructuredLog.addListener(listener)
    try JobRunner.run(spark, "daily_transactions", LocalDate.parse("2030-01-02"),
      sfDir, out, "daily_transaction")
    finally StructuredLog.removeListener(listener)
    val rows = spark.read.parquet(s"$out/daily_transaction").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[java.sql.Date]("transaction_date") ==
      java.sql.Date.valueOf("2030-01-01"))
    assert(rows.head.getAs[Long]("total_transactions") == 0L)
    assert(events.size == 1, events.mkString("\n"))
  }

  test("JobRunner end-to-end: both pipelines into parquet and jdbc sinks") {
    val out = java.nio.file.Files.createTempDirectory("graft_runner").toString
    JobRunner.run(spark, "daily_transactions", LocalDate.parse("2024-01-16"),
      sfDir, out, "daily_transaction")
    val daily = spark.read.parquet(s"$out/daily_transaction")
    assert(daily.count() == 1)
    assert(daily.columns.toSeq ==
      Seq("transaction_date", "total_transactions", "calculated_at"))

    // daily into jdbc appends one row per run (the reference's mode)
    for (runs <- 1 to 2) {
      JobRunner.run(spark, "daily_transactions", LocalDate.parse("2024-01-16"),
        sfDir, conf.url, "daily_transaction_runs")
      val sunk = spark.read.jdbc(conf.url, "daily_transaction_runs", conf.connProps)
      assert(sunk.count() == runs)
      assert(sunk.select("total_transactions").distinct().collect().toSeq ==
        daily.select("total_transactions").collect().toSeq)
    }

    JobRunner.run(spark, "top_zones", LocalDate.parse("2024-01-21"),
      sfDir, conf.url, "daily_topfive_taxi_zone")
    val zones = spark.read.jdbc(conf.url, "daily_topfive_taxi_zone", conf.connProps)
    assert(zones.count() >= 5)
    // run again (idempotent daily overwrite — the reference's mode)
    JobRunner.run(spark, "top_zones", LocalDate.parse("2024-01-21"),
      sfDir, conf.url, "daily_topfive_taxi_zone")
    assert(spark.read.jdbc(conf.url, "daily_topfive_taxi_zone", conf.connProps)
      .count() == zones.count())
  }
}
