package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.{SparkEntry, Tables}

/** The benchmark's JVM: sets up the session, runs one workload as a closed
  * loop with one client, checks every result against its pinned checksum
  * and writes what it measured as one JSON document (`--out`) for run.py.
  *
  * Modes:
  *  - `run`: set up [[Setups]] times, run one warm-up pass that also reads
  *    the live heap, then run whole seeded passes of the workload until
  *    `--seconds` have passed.
  *    `--trace 1` attaches the listeners of [[Tracer]].
  *  - `dump`: run every distinct op of the workload once and write each
  *    result (parquet), its checksum and its oracle SQL under `--out`, for
  *    pin.py to check against DuckDB and pin.
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String,
                        pins: String, launchedMs: Double)

  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = req("workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    Args(m.getOrElse("mode", "run"), w, m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      req("data"), req("work"), req("out"), m.getOrElse("pins", ""),
      m.getOrElse("launched-ms", System.currentTimeMillis().toString).toDouble)
  }

  /** The session every op runs in: four local cores, and the harness policy
    * of the program's own Bench main (AQE, the in-JVM checkpoint file
    * manager, prompt state unloading, a 1-minute periodic GC for
    * localCheckpoint blocks, and no presentation sort since the checksum is
    * order-independent), with every scratch and checkpoint dir in `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/ckpt")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        graft.Scratch.localCheckpointFileManager)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      .config("spark.graft.pairPresentationSort", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (rows, bit_xor, decimal sum) of the xxhash64 of every row: forces every
    * row and column of the result, order-independent, multiplicity-
    * sensitive. Map columns are hashed through their JSON form. */
  def checksum(df: DataFrame): (Long, Long, BigDecimal) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = df.select(cols: _*)
    val r = h.select(xxhash64(h.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
  }

  /** Heap occupancy right after a full collection. The runner collects at
    * the end of every warm-up op, before the op's sinks and views are
    * dropped, so the reading is the op's retained result plus whatever
    * earlier ops left behind -- the same at every run, where the occupancy
    * after the JVM's own collections depends on when they happen to run.
    * The first collection lets Spark's ContextCleaner release the
    * broadcasts and shuffles of frames that are gone; the second, after the
    * cleaner's 100 ms poll, collects what it released. The measured passes
    * are left to the JVM's own collections. */
  private def liveHeapAfterGc(): Long = {
    System.gc()
    Thread.sleep(150)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Data files an op left in its sink: the parquet parts, not the
    * checksum, marker or checkpoint files. */
  private def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0 else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith(".")).count().toInt
      finally s.close()
    }

  /** Drops the memory-sink views and deletes the sink and checkpoint dirs
    * an op left, so that no op inherits another's state. */
  private def cleanUp(spark: SparkSession, sink: Path, ckpt: Path): Unit = {
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream")).foreach(spark.catalog.dropTempView)
    deleteTree(sink)
    deleteTree(ckpt)
  }

  private def loadPins(path: String, workload: String): Map[String, (Long, Long, BigDecimal)] = {
    val root = json.readTree(Paths.get(path).toFile).get("pins").get(workload)
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ((v.get("rows").asLong, v.get("xor").asLong, BigDecimal(v.get("sum").asText)))
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.mode match {
      case "run" => run(a)
      case "dump" => dump(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def run(a: Args): Unit = {
    val clock = new Clock
    val pins = loadPins(a.pins, a.workload)
    val launched = clock.fromEpoch(a.launchedMs)
    // the first setup is timed from the JVM's spawn
    var spark: SparkSession = null
    val setups = (0 until Setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) launched else clock.now()
      spark = session(a.work)
      val t1 = clock.now()
      Tables.preflight(spark, a.data)
      (t0, t1, clock.now())
    }
    val tracer = if (a.trace) Some(new Tracer(clock)) else None
    tracer.foreach(_.attach(spark))
    val sc = spark.sparkContext
    val rng = new Random(a.seed)
    val ckpt = Paths.get(a.work, "ckpt")
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runOp(op: Op, pass: Int): Unit = {
      val idx = ops.size
      val sink = Paths.get(a.work, "sinks", s"op-$idx")
      sc.setLocalProperty(Tracer.OpKey, idx.toString)
      val t0 = clock.now()
      var tb = Double.NaN
      var result: Option[(Long, Long, BigDecimal)] = None
      var error = ""
      try {
        val df = op.build(Ctx(spark, a.data, sink.toString))
        tb = clock.now()
        result = Some(checksum(df))
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
      val t1 = clock.now()
      sc.setLocalProperty(Tracer.OpKey, null)
      val live = if (pass < 0) liveHeapAfterGc() else 0L
      if (error.isEmpty && !result.contains(pins.getOrElse(op.name, null)))
        error = s"checksum ${result.get} != pinned ${pins.get(op.name)}"
      if (error.nonEmpty) System.err.println(s"[perfbench] ${op.name} FAILED: $error")
      val files = dataFiles(sink)
      cleanUp(spark, sink, ckpt)
      ops += Map("name" -> op.name, "family" -> op.family, "pass" -> pass,
        "t0" -> t0, "tb" -> (if (tb.isNaN) t1 else tb), "t1" -> t1,
        "ok" -> error.isEmpty, "error" -> error,
        "rows" -> result.map(_._1).getOrElse(0L), "files" -> files,
        "live_mb" -> live / 1048576.0)
    }

    // one unmeasured pass in a fixed order first (checked, recorded with
    // pass -1): a JVM's first pass pays JIT, class loading and each query's
    // code generation, which would otherwise fall on whichever ops the seed
    // puts early, and shift cost between ops from seed to seed. It is also
    // the pass that reads the live heap, so no forced collection falls
    // inside a measured pass
    Workloads.warmup(a.workload).foreach(runOp(_, -1))
    val passes = mutable.ArrayBuffer.empty[(Double, Double)]
    val deadline = clock.now() + a.seconds * 1000
    // whole passes only, so that every measured pass holds every op once
    while (clock.now() < deadline || passes.isEmpty) {
      val p0 = clock.now()
      Workloads.pass(a.workload, rng).foreach(runOp(_, passes.size))
      passes += ((p0, clock.now()))
    }
    val runEnd = clock.now()
    tracer.foreach(_.detach(spark))
    val rt = Runtime.getRuntime
    val fields = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> rt.availableProcessors(), "heap_max_mb" -> rt.maxMemory() / 1048576.0,
      "launched" -> launched, "run_end" -> runEnd,
      "setups" -> setups.map { case (t0, t1, t2) =>
        Map("t0" -> t0, "session_end" -> t1, "end" -> t2) },
      "passes" -> passes.map { case (s, e) => Map("start" -> s, "end" -> e) },
      "ops" -> ops) ++
      tracer.map(t => "trace" -> t.toJson)
    json.writeValue(Paths.get(a.out).toFile, fields)
    spark.stop()
  }

  /** The oracle SQL of an op: the registry's where it has one, and for the
    * JobRunner sinks the parity oracle with the op's dates substituted. */
  private def oracleFor(op: Op): Option[String] = {
    val o = SparkEntry.oracleSql
    def subst(sql: String, m: (String, LocalDate)*): String = {
      // through placeholders, so a substituted date never matches a later key
      val marked = m.zipWithIndex.foldLeft(sql) { case (s, ((k, _), i)) =>
        s.replace(s"'$k'", s"'@$i@'") }
      m.zipWithIndex.foldLeft(marked) { case (s, ((_, d), i)) =>
        s.replace(s"'@$i@'", s"'$d'") }
    }
    op.name.split(":").toSeq match {
      case Seq("job", "daily_transactions", d) =>
        val day = LocalDate.parse(d).minusDays(1)
        Some(subst(o("q_daily_transactions"), "2024-01-15" -> day,
          "2024-01-16" -> day.plusDays(1)))
      case Seq("job", "top_zones", d) =>
        Some(subst(o("q_top5_zones"), "2024-01-21" -> LocalDate.parse(d)))
      case Seq("backfill", s, e) =>
        val end = LocalDate.parse(e)
        Some(subst(o("q_backfill_range"), "2024-01-15" -> LocalDate.parse(s),
          "2024-01-21" -> end.minusDays(1), "2024-01-22" -> end))
      case Seq("query", q) => o.get(q)
      case _ => None
    }
  }

  private def dump(a: Args): Unit = {
    val spark = session(a.work)
    Tables.preflight(spark, a.data)
    val entries = Workloads.allOps(a.workload).zipWithIndex.map { case (op, i) =>
      val sink = Paths.get(a.work, "sinks", s"dump-$i")
      val df = op.build(Ctx(spark, a.data, sink.toString))
      val (n, x, s) = checksum(df)
      val dir = Paths.get(a.out, s"op$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      cleanUp(spark, sink, Paths.get(a.work, "ckpt"))
      System.err.println(s"[perfbench] dumped ${op.name}: $n rows")
      Map("name" -> op.name, "dir" -> dir, "rows" -> n, "xor" -> x,
        "sum" -> s.toString, "oracle" -> oracleFor(op))
    }
    json.writeValue(Paths.get(a.out, "dump.json").toFile, entries)
    spark.stop()
  }
}
