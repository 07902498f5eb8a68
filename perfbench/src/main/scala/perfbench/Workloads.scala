package perfbench

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{JobRunner, SparkEntry}
import graft.streaming.Streams

/** What an op sees: the session, the read-only corpus, and a fresh sink
  * directory that the runner deletes once the op is checked. */
final case class Ctx(spark: SparkSession, dataDir: String, sinkDir: String)

/** One benchmark operation. `build` calls the program's public entry point
  * and returns the frame whose checksum is the op's result: a registry
  * query's lazy frame, or the sink a job or stream wrote, read back.
  * `family` groups ops that differ only by execution date in the report. */
final case class Op(name: String, family: String, build: Ctx => DataFrame)

object Workloads {
  val names: Seq[String] = Seq("etl_daily", "llm_curation")

  /** Execution dates in catchup order; each job processes the day before. */
  val execDates: Seq[LocalDate] =
    (0 until 30).map(LocalDate.parse("2024-01-02").plusDays(_))
  val backfillStart: LocalDate = LocalDate.parse("2024-01-01")
  val backfillEnd: LocalDate = LocalDate.parse("2024-01-31")

  val etlBand: Seq[String] = Seq("q1_agg", "q6_filter_range", "q_join_shuffle",
    "q_multi_join", "q_agg_distinct", "q_scalar_date", "q_backfill_range")
  val llmQueries: Seq[String] = Seq("q_dedup_minhash_lsh", "q_dedup_clusters_lss",
    "q_pagerank")

  /** The JobRunner parquet sink keeps `calculated_at` (a wall-clock stamp),
    * so the checked result is the sink read back without it. */
  def jobOp(job: String, exec: LocalDate): Op =
    Op(s"job:$job:$exec", s"job:$job", c => {
      JobRunner.run(c.spark, job, exec, c.dataDir, c.sinkDir, job)
      c.spark.read.parquet(s"${c.sinkDir}/$job").drop("calculated_at")
    })

  val backfillOp: Op =
    Op(s"backfill:$backfillStart:$backfillEnd", "backfill", c => {
      JobRunner.backfillDaily(c.spark, c.dataDir, s"${c.sinkDir}/daily",
        backfillStart, backfillEnd)
      c.spark.read.parquet(s"${c.sinkDir}/daily")
    })

  def queryOp(name: String): Op =
    Op(s"query:$name", name, c => SparkEntry.queries(name)(c.spark, c.dataDir))

  val sinkOps: Seq[Op] = Seq(
    Op("sink:dailyCountsToParquet", "sink:dailyCountsToParquet", c =>
      Streams.dailyCountsToParquet(c.spark, c.dataDir, s"${c.sinkDir}/out",
        s"${c.sinkDir}/ckpt")),
    Op("sink:compactedStateToParquet", "sink:compactedStateToParquet", c =>
      Streams.compactedStateToParquet(c.spark, c.dataDir, s"${c.sinkDir}/state",
        s"${c.sinkDir}/ckpt")))

  /** Every distinct op of a workload, for pinning and the oracle check. */
  def allOps(workload: String): Seq[Op] = workload match {
    case "etl_daily" =>
      (for (d <- execDates; j <- Seq("daily_transactions", "top_zones"))
        yield jobOp(j, d)) ++ (backfillOp +: sinkOps) ++ etlBand.map(queryOp)
    case "llm_curation" => llmQueries.map(queryOp)
  }

  /** The warm-up pass: every op family of a workload once, in a fixed
    * order -- fewer ops than a seeded pass, since the warm-up only has to
    * compile and load what the measured pass runs. */
  def warmup(workload: String): Seq[Op] = workload match {
    case "etl_daily" =>
      Seq("daily_transactions", "top_zones").map(jobOp(_, execDates.head)) ++
        (backfillOp +: sinkOps) ++ etlBand.map(queryOp)
    case other => allOps(other)
  }

  val etlDates = 4
  val etlReruns = 1

  /** One pass of a workload, fixed by `rng` (seeded from --seed).
    *
    * etl_daily: `etlDates` seed-chosen execution dates in catchup order, both
    * jobs for each (which runs first is seeded), `etlReruns` seeded reruns
    * of an already-processed date and job, one backfill, the two stream
    * file-sink writers and the reporting band, each inserted at a seeded
    * position. llm_curation runs its queries in a seeded order. */
  def pass(workload: String, rng: Random): Seq[Op] = workload match {
    case "etl_daily" =>
      val dates = rng.shuffle(execDates).take(etlDates).sorted
      var seq = dates.flatMap { d =>
        rng.shuffle(Seq("daily_transactions", "top_zones")).map(jobOp(_, d))
      }.toVector
      for (_ <- 0 until etlReruns) {
        // a rerun goes after the first run of its date and job
        val first = rng.nextInt(seq.size)
        val at = first + 1 + rng.nextInt(seq.size - first)
        seq = seq.patch(at, Seq(seq(first)), 0)
      }
      for (op <- (backfillOp +: sinkOps) ++ etlBand.map(queryOp)) {
        val at = rng.nextInt(seq.size + 1)
        seq = seq.patch(at, Seq(op), 0)
      }
      seq
    case other => rng.shuffle(allOps(other))
  }
}
