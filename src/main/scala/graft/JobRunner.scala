package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DailyTransactions, TopZones}
import graft.sources.{JdbcConfig, JdbcSink}

/** Orchestration shell: the reference's two pipelines as injectable-config
  * CLI jobs (SURVEY.md §3, §7.2 step 5) — replaces the Airflow DAG +
  * `BaseHook` surface with plain argv/env, and never hard-codes a master
  * (the reference's `.master("local[*]")` silently idled its own cluster,
  * SURVEY.md §3.1).
  *
  * Usage:
  *   runMain graft.JobRunner daily_transactions <executionDate> <dataDir> <sinkUri> <table>
  *   runMain graft.JobRunner top_zones          <executionDate> <dataDir> <sinkUri> <table>
  *
  * `sinkUri`: `jdbc:...` → JDBC sink (append for daily, overwrite+truncate
  * for top zones, matching the reference's modes); anything else → parquet
  * directory. Processing date is `executionDate − 1 day` (reference X6,
  * `calculate_daily_transactions.py:85`).
  *
  * Driver-side guards mirror the reference (D1/D3/D4,
  * `calculate_daily_transactions.py:91-103`): empty input raises; an empty
  * day still writes a 0-count row with a warning. `daily_transactions`
  * counts its day once and writes that row from the driver, so the input
  * emptiness check runs only when the count is 0.
  *
  * Resilience mirrors the reference's Airflow layer
  * (`daily_transactions_dag.py:30-31,58-65`): [[pollForInput]] is the
  * FileSensor (poke every 300 s, give up at 1800 s → exit code 2),
  * [[withRetry]] the task retry (one retry after 5 min, failure callback
  * on exhaustion → exit code 1). Both take injectable clock/sleep so tests
  * cover the paths without wall-clock waits; logging goes through slf4j
  * (SURVEY.md §2.11 D5).
  */
object JobRunner {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** FileSensor equivalent: poll until `path` exists (any filesystem Hadoop
    * can address — the sensor logic is object-store-safe, no local-FS
    * assumptions). Returns false when `timeoutMs` elapses first. */
  def pollForInput(spark: SparkSession, path: String,
                   pokeIntervalMs: Long = 300_000L, timeoutMs: Long = 1_800_000L,
                   clock: () => Long = () => System.currentTimeMillis(),
                   sleep: Long => Unit = Thread.sleep): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = clock() + timeoutMs
    var found = fs.exists(p)
    while (!found && clock() < deadline) {
      StructuredLog.info("input_poll", "path" -> path,
        "next_poke_ms" -> pokeIntervalMs)
      sleep(math.min(pokeIntervalMs, math.max(1, deadline - clock())))
      found = fs.exists(p)
    }
    if (!found)
      StructuredLog.error("input_timeout", "path" -> path,
        "timeout_ms" -> timeoutMs)
    found
  }

  /** Bounded retry with linear backoff; `onFailure` fires once, after the
    * last attempt fails (the reference's on_failure_callback). */
  def withRetry[A](attempts: Int, backoffMs: Long,
                   sleep: Long => Unit = Thread.sleep,
                   onFailure: Throwable => Unit = _ => ())(body: () => A): A = {
    require(attempts >= 1, "attempts must be >= 1")
    var i = 0
    var last: Throwable = null
    while (i < attempts) {
      try return body()
      catch {
        case e: Throwable =>
          last = e; i += 1
          if (i < attempts) {
            log.warn(s"attempt $i/$attempts failed (${e.getMessage}), retrying in ${backoffMs * i} ms")
            StructuredLog.warn("task_retry", "attempt" -> i,
              "attempts" -> attempts, "backoff_ms" -> backoffMs * i,
              "error" -> e.getMessage)
            sleep(backoffMs * i)
          }
      }
    }
    StructuredLog.error("task_exhausted", last, "attempts" -> attempts)
    onFailure(last)
    throw last
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "args: <job> <executionDate> <dataDir> <sinkUri> <table>")
    val Array(job, execDate, dataDir, sinkUri, table) = args.take(5)
    val spark = SparkSession.builder() // master comes from spark-submit / env
      .appName(s"graft-$job")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StructuredLog.info("job_start", "job" -> job,
      "execution_date" -> execDate, "data_dir" -> dataDir, "table" -> table)
    val rc =
      try {
        if (!pollForInput(spark, Tables.path(dataDir, "events"))) 2
        else {
          withRetry(attempts = 2, backoffMs = 300_000L)(() =>
            run(spark, job, LocalDate.parse(execDate), dataDir, sinkUri, table))
          StructuredLog.info("job_success", "job" -> job,
            "execution_date" -> execDate)
          0
        }
      } catch {
        case e: Throwable =>
          log.error(s"job $job failed", e)
          StructuredLog.error("job_failed", e, "job" -> job,
            "execution_date" -> execDate)
          1
      } finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Idempotent range backfill (Airflow catchup, Spark-first): ONE
    * range-pushdown job computes every day in [start, endExclusive), then
    * dynamic partition overwrite replaces exactly those day partitions of
    * the parquet table. Rerunning any sub-range REPLACES it — the
    * reference's append-mode daily job duplicates a day when Airflow
    * re-runs it. Untouched days are never read or rewritten (the Merge
    * module's scale contract). */
  def backfillDaily(spark: SparkSession, dataDir: String, outDir: String,
                    start: LocalDate, endExclusive: LocalDate): Unit = {
    val events = Tables.load(spark, dataDir, "events")
    val r = DailyTransactions.dayCountRange(events, "ts", start, endExclusive)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try r.write.mode("overwrite").partitionBy("transaction_date").parquet(outDir)
    finally spark.conf.set(key, prev)
    StructuredLog.info("backfill_complete", "start" -> start,
      "end_exclusive" -> endExclusive, "sink" -> outDir)
  }

  def run(spark: SparkSession, job: String, executionDate: LocalDate,
          dataDir: String, sinkUri: String, table: String): Unit = {
    val processDate = executionDate.minusDays(1) // X6
    val events = Tables.load(spark, dataDir, "events")
    StructuredLog.info("stage_read", "job" -> job, "source" -> dataDir,
      "process_date" -> processDate)
    def requireInput(): Unit =
      if (events.isEmpty) // D1 (df.isEmpty, not the reference's rdd.isEmpty)
        throw new IllegalStateException(s"no input rows under $dataDir")

    val result: DataFrame = job match {
      case "daily_transactions" =>
        // the day's one row, computed once and written from the driver
        // (the reference counts once and writes a driver-built row)
        val row = DailyTransactions.dayCount(events, "ts", processDate).head()
        val n = row.getLong(1) // D2/D3
        if (n == 0) requireInput() // an empty input also counts 0
        if (n < 0) throw new IllegalStateException(s"negative count $n")
        if (n == 0) { // D5: structured slf4j, not stderr
          log.warn(s"no rows for $processDate, writing 0")
          StructuredLog.warn("empty_day", "job" -> job,
            "process_date" -> processDate, "count" -> 0)
        }
        StructuredLog.info("stage_validate", "job" -> job, "count" -> n)
        spark.createDataFrame(java.util.List.of(row), row.schema)
          .withColumn("calculated_at", current_timestamp())
      case "top_zones" =>
        requireInput()
        TopZones.topZones(events, "ts", "user_id", processDate, 5)
          .withColumn("calculated_at", current_timestamp())
      case other => throw new IllegalArgumentException(s"unknown job $other")
    }

    val mode =
      if (sinkUri.startsWith("jdbc:")) {
        val conf = JdbcConfig(sinkUri)
        job match {
          case "daily_transactions" => JdbcSink.append(result, conf, table); "jdbc_append"
          case "top_zones" => JdbcSink.overwriteTruncate(result, conf, table); "jdbc_overwrite_truncate"
        }
      } else {
        result.write.mode("overwrite").parquet(s"$sinkUri/$table")
        "parquet_overwrite"
      }
    StructuredLog.info("stage_write", "job" -> job, "sink" -> sinkUri,
      "table" -> table, "mode" -> mode)
  }
}
