package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layout probe (like [[ProbeSkew]]/[[ScaleData]]): prove at probe
  * scale that the [[graft.sources.Layouts]] writers turn the daily/backfill
  * queries into pruned reads — the difference between scanning a table and
  * scanning a day at 100 TB.
  *
  * Three physical layouts of the same events table:
  *  - `flat`: 32 unordered files — the reference's layout (one directory,
  *    no organization); every query reads every file.
  *  - `bydate`: hive-partitioned by calendar day
  *    ([[graft.sources.Layouts.writeDatePartitioned]]); a day-ranged query
  *    with the standard derived partition predicate reads ~1/30th of the
  *    files. (At 100 TB the partition predicate is how every production
  *    query is written; deriving it from the `ts` range is mechanical.)
  *  - `zorder`: 32 files Morton-clustered on (ts, user_id)
  *    ([[graft.sources.Layouts.writeZOrdered]]); a 2-D selective predicate
  *    skips row groups via parquet min/max on BOTH columns — visible as
  *    wall-time, since Spark lists all files (numFiles is a listing
  *    metric) but the reader never materializes the skipped groups.
  *
  * Every variant must return the SAME rows as the flat layout (asserted),
  * so the probe also certifies that layout is purely physical — plans
  * stay correct, only I/O changes. Scan metrics come from the executed
  * plan's FileSourceScanExec (AQE off so leaves are inspectable).
  *
  * Usage: runMain graft.ProbeLayout [sfDir] [workDir]
  */
object ProbeLayout {
  private def scanStats(df: DataFrame): (Array[org.apache.spark.sql.Row], Long, Long, Double) = {
    val t0 = System.nanoTime()
    val rows = df.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val numFiles = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val bytes = scans.map(s => s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    (rows, numFiles, bytes, secs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "target/layouts"
    val spark = Harness.session(Harness.cpus,
      Map("spark.sql.adaptive.enabled" -> "false")) // leaf metrics readable

    val ev = Tables.load(spark, sfDir, "events")
    val flatDir = s"$work/events_flat"
    val dateDir = s"$work/events_bydate"
    val zDir = s"$work/events_zorder"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def missing(d: String) = !fs.exists(new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
    if (missing(flatDir)) ev.repartition(32).write.mode("overwrite").parquet(flatDir)
    if (missing(dateDir)) sources.Layouts.writeDatePartitioned(
      ev.coalesce(8), "ts", dateDir) // cluster first: ≤8 files per day dir
    if (missing(zDir)) sources.Layouts.writeZOrdered(ev, "ts", "user_id", 32, zDir)

    val d0 = Queries.processDate
    val flat = spark.read.parquet(flatDir)
    val byDate = spark.read.parquet(dateDir)
    val z = spark.read.parquet(zDir)

    def dayQ(df: DataFrame) =
      operators.DailyTransactions.dayCount(df, "ts", d0)
    def rangeQ(df: DataFrame) =
      operators.DailyTransactions.dayCountRange(df, "ts", d0, d0.plusDays(7))
        .orderBy("transaction_date")
    // derived partition predicates — the mechanical ts-range → p_date
    // rewrite every partitioned warehouse applies
    val dayP = byDate.filter(col("p_date") === lit(java.sql.Date.valueOf(d0)))
    val rangeP = byDate.filter(col("p_date") >= lit(java.sql.Date.valueOf(d0)) &&
      col("p_date") < lit(java.sql.Date.valueOf(d0.plusDays(7))))
    // 2-D selective slice for the z-order comparison: one week × 1/10th of
    // the user range — selective on BOTH z-ordered dimensions
    val users = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    val (uLo, uHi) = (users.getLong(0), users.getLong(1))
    val uCut = uLo + (uHi - uLo) / 10
    def sliceQ(df: DataFrame) = df.filter(
        col("ts") >= lit(java.sql.Timestamp.valueOf(d0.atStartOfDay())) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(d0.plusDays(7).atStartOfDay())) &&
        col("user_id") >= uLo && col("user_id") < uCut)
      // decimal sum: exact and order-independent, so the equality check
      // cannot trip on double-summation order differing across layouts
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("v"))

    val out = new StringBuilder("{\"probe\":\"layout_pruning\",\"sf\":\"" + sfDir + "\",")
    def run(tag: String, baseline: DataFrame, pruned: DataFrame): Unit = {
      val (rB, fB, bB, sB) = scanStats(baseline)
      val (rP, fP, bP, sP) = scanStats(pruned)
      require(rB.map(_.toString).toSeq == rP.map(_.toString).toSeq,
        s"$tag: pruned layout changed the result!")
      out.append(f""""$tag":{"flat_files":$fB,"pruned_files":$fP,"flat_bytes":$bB,"pruned_bytes":$bP,"flat_secs":$sB%.3f,"pruned_secs":$sP%.3f,"rows_equal":true},""")
    }
    run("daily", dayQ(flat), dayQ(dayP))
    run("backfill", rangeQ(flat), rangeQ(rangeP))
    run("slice2d", sliceQ(flat), sliceQ(z))
    out.append(RunMeta.jsonFields()).append("}")
    println(out.toString)
    spark.stop()
  }
}
