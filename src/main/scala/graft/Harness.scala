package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** The one local-session factory for the harness mains (Bench, Verify,
  * Probe, ScaleData, ProbeSkew, ProbeLayout) and the test session, plus
  * the bench timing action ([[checksum]]).
  *
  * The session policy is applied in exactly one place; a caller that needs
  * a different value passes it as an override, so every harness session
  * differs from the others only by its visible override map. Like
  * [[Scratch]], this is harness policy, not engine policy: `JobRunner.main`
  * builds its own master-less session because spark-submit supplies the
  * master and the deployment supplies durable checkpoint storage.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS`, read once for the whole JVM. */
  private lazy val cpusEnv: Option[Int] = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)

  /** Local width: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = cpusOr(4)

  /** Local width: `SPARK_GRAFT_CPUS`, or `default` for a caller whose
    * output layout is pinned to another width (ScaleData). */
  def cpusOr(default: Int): Int = cpusEnv.getOrElse(default)

  /** A `local[cpus]` session with shuffle partitions equal to `cpus`,
    * `overrides` applied last, log level WARN. */
  def session(cpus: Int, overrides: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // streaming checkpoints on tmpfs (JVM-unique dir, see Scratch):
      // keeps the offset/commit/state fsync path off the shared disk, so
      // streaming timings measure the engine, not disk-queue contention
      .config("spark.sql.streaming.checkpointLocation",
        Scratch.streamingCheckpointBase())
      .config("spark.sql.streaming.checkpointFileManagerClass",
        Scratch.localCheckpointFileManager)
      // unload terminated queries' state-store providers promptly (default
      // 60 s) — a 100+-query run otherwise carries every prior streaming
      // query's state maps on heap for most of the bench
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      // localCheckpoint blocks (dup-collapse cluster frames etc.) release
      // only when the owning RDD is GC'd on the driver and ContextCleaner
      // notices; its periodic-GC default is 30 MINUTES — longer than the
      // whole bench — so ~10 checkpointing queries × 2 runs accumulate
      // pinned MEMORY_AND_DISK blocks until a mid-run memory cliff
      // (observed: a 1 s query spiking to 36 s under block-eviction
      // pressure). A 1-minute periodic GC keeps the block store drained.
      .config("spark.cleaner.periodicGC.interval", "1min")
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force FULL materialization of a query result (every row, every
    * column) and reduce it to a tiny checksum row.
    *
    * `df.count()` is NOT a materialization action: Catalyst prunes every
    * column the count doesn't need — per-row computed columns vanish from
    * scan-shaped queries (`q_quality_classifier` "benched" 0.28 s where
    * its true cost is 9.4 s at sf10), and even aggregate-shaped queries
    * lose their aggregate expressions (count over `groupBy(k).agg(sum(x))`
    * optimizes to a distinct-count of k — verified on the optimized plan).
    * Folding all columns through xxhash64 into an aggregate makes nothing
    * prunable, so the measured time is the true cost of computing the
    * full result (without `Verify`'s coalesce(1) single-writer sink
    * distorting it).
    *
    * The checksum triple is (row count, bit_xor of row hashes,
    * wrapping-sum of row hashes as decimal): bit_xor alone cancels rows
    * with even multiplicity and ignores row count entirely (r8 ADVICE), so
    * the determinism check also compares the multiplicity-sensitive sum
    * and the count. Order-independent, nothing prunable. Map columns are
    * json-ized first (hashing MapType is disallowed — key order would make
    * the hash nondeterministic). */
  def checksum(df: DataFrame): (Long, Long, BigDecimal) = {
    val r = wrap(df).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
  }

  /** The checksum-wrapped frame itself — exposed so dev probes can execute
    * it and then walk ITS executed plan for populated SQL metrics. */
  private[graft] def wrap(df: DataFrame): DataFrame = {
    val hashable = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)).as(f.name)
        case _          => col(f.name)
      }
    }
    val h = df.select(hashable.toIndexedSeq: _*)
    h.select(xxhash64(h.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }
}
