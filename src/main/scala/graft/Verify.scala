package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small worker pool: Spark schedules jobs submitted from
  * concurrent driver threads side by side, so the dump's wall time is
  * bounded by the slowest queries instead of the sum — the per-query fixed
  * overheads (streaming micro-batch setup above all) overlap. All session
  * state touched by queries is safe under this: memory-sink names are
  * uniquified, temp view names are per-query, conf sets are idempotent. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev-only; the driver passes two): regex over
    // query names — dump/check just the matching subset while iterating
    val nameFilter: String => Boolean =
      if (args.length > 2) args(2).r.unanchored.matches(_) else _ => true
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    val spark = Harness.session(Harness.cpus)
    // schema preflight BEFORE any query runs: refuse to write a
    // correctness dump from a mis-read corpus (round-6 lesson)
    Tables.preflight(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // provenance stamp for the correctness artifact (commit + UTC time)
    Files.writeString(Paths.get(s"$outDir/run_meta.json"),
      s"{${RunMeta.jsonFields()},\"sf\":\"$sfDir\"}")
    val pool = Executors.newFixedThreadPool(workers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq.filter(t => nameFilter(t._1)).map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
    futures.foreach(Await.ready(_, Duration.Inf))
    pool.shutdown()
    // A failed query must be LOUD in the artifact, not silently absent from
    // the correctness record (round 6: 27 queries vanished that way) —
    // errors.json names every failure and the summary line survives in logs.
    if (!errors.isEmpty) {
      import scala.jdk.CollectionConverters._
      val body = errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), body)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keySet.asScala.toSeq.sorted.mkString(", "))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(t => nameFilter(t._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
