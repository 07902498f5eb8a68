package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The dev probe: runs registry queries under the EXACT bench session
  * ([[Harness.session]] with [[Bench.sessionOverrides]]) plus any session
  * conf overrides from the command line, in one of three modes:
  *
  *  - `time`: the bench methodology — [[Harness.checksum]] as the action,
  *    min of 2 runs, and the two runs' checksums must be equal. The A/B
  *    instrument for conf-sensitive hypotheses (`tools/ab.sh` drives it),
  *    e.g. `spark.sql.autoBroadcastJoinThreshold=-1` to keep every join and
  *    fixpoint round distributed.
  *  - `stages`: "where do the benched seconds go" for any query, streaming
  *    ones included — two runs, the listener counting only the second
  *    (steady-state) run; stages sorted by TOTAL task time with per-stage
  *    max-task, so both serialized stragglers and genuinely expensive
  *    parallel stages surface; then per-job wall spans. Each stage is
  *    named by its first `graft.` frame, or, for a stage AQE submits from
  *    a stage future, by that of its SQL execution's call site; each job
  *    row ends with that execution's call site.
  *  - `plan`: the formatted plan, then the executed plan of the
  *    checksum-wrapped query with its populated SQL metrics — attributes
  *    seconds to OPERATORS where the stage listing only attributes to
  *    call sites.
  *
  * `sfDir` defaults to the sf0.1 corpus vendored with the checkout (run
  * from the repo root, as `tools/run.sh` does).
  *
  * Usage: tools/run.sh graft.Probe <time|stages|plan> <q1,q2,...> [sfDir] [k=v]...
  */
object Probe {
  private val usage = "args: <time|stages|plan> <q1,q2,...> [sfDir] [k=v]..."
  private val modes = Set("time", "stages", "plan")

  private[graft] final case class Cmd(mode: String, queries: Seq[String],
                                      sfDir: String, overrides: Map[String, String])

  /** The third argument is the corpus dir unless it is a `k=v` override;
    * every later argument must be `k=v` with a non-empty key — a malformed
    * override fails here instead of setting a garbage conf. */
  private[graft] def parse(args: Seq[String]): Cmd = {
    require(args.length >= 2, usage)
    val mode = args(0)
    require(modes(mode), s"unknown mode '$mode' — $usage")
    val queries = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(queries.nonEmpty, s"no query names — $usage")
    val (sfDir, kvs) = args.drop(2) match {
      case dir +: rest if !dir.contains('=') => (dir, rest)
      case rest => ("perfbench/data/sf0.1", rest)
    }
    val overrides = kvs.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"override '$kv' is not k=v with a non-empty key — $usage")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    Cmd(mode, queries, sfDir, overrides)
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val unknown = cmd.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Harness.session(Harness.cpus, Bench.sessionOverrides ++ cmd.overrides)
    try {
      Tables.preflight(spark, cmd.sfDir)
      warmUp(spark, cmd.sfDir)
      cmd.mode match {
        case "time" => time(spark, cmd)
        case "stages" => cmd.queries.foreach(stages(spark, _, cmd.sfDir))
        case "plan" => cmd.queries.foreach(plan(spark, _, cmd.sfDir))
      }
    } finally spark.stop()
  }

  /** One small scan before any measured run: on `nation` when the corpus
    * has it (every full corpus, so `tools/ab.sh` timings of full corpora
    * keep one warm-up), else on its first present table (a ScaleData
    * table subset). Returns the table it scanned. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): String = {
    val tables = Tables.present(spark, sfDir)
    require(tables.nonEmpty, s"no corpus table under $sfDir")
    val table = if (tables.contains("nation")) "nation" else tables.head
    Tables.load(spark, sfDir, table).count()
    table
  }

  private def time(spark: SparkSession, cmd: Cmd): Unit = {
    var total = 0.0
    cmd.queries.foreach { name =>
      def once(): (Double, (Long, Long, BigDecimal)) = {
        // t0 BEFORE the query fn, matching Bench: streaming queries run
        // their stream (and e.g. IVF its driver-side prep) inside the fn,
        // and stamping after it would exclude that work from the probe
        val t0 = System.nanoTime()
        val c = Harness.checksum(SparkEntry.queries(name)(spark, cmd.sfDir))
        ((System.nanoTime() - t0) / 1e9, c)
      }
      val (t1, c1) = once()
      val (t2, c2) = once()
      require(c1 == c2, s"$name nondeterministic: (rows, xor, sum) $c1 != $c2")
      val t = math.min(t1, t2)
      total += t
      println(f"[probe-time] $name%-36s $t%8.3f s  rows ${c1._1} checksum ${c1._2} ${c1._3}")
    }
    println(f"[probe-time] TOTAL ${total}%8.3f s  sf=${cmd.sfDir} overrides=${
      cmd.overrides.map { case (k, v) => s"$k=$v" }.mkString(",")}")
  }

  private final class StageAgg extends SparkListener {
    case class Agg(var n: Int = 0, var maxMs: Long = 0L, var sumMs: Long = 0L)
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // stages that AQE submits from its stage futures carry no graft frame
    // of their own: they take the call site of their SQL execution, found
    // through their job's `spark.sql.execution.id` property
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var enabled = false
    /** The first graft frame of a call-site stack outside the probe and
      * the harness, else its harness frame (the checksum of the result),
      * else "". */
    def graftFrame(details: String): String = {
      val frames = details.linesIterator.filter(_.contains("graft."))
        .map(_.trim.stripPrefix("at ")).toSeq
      frames.find(l => !l.contains("graft.Probe") && !l.contains("graft.Harness"))
        .orElse(frames.find(_.contains("graft.Harness"))).getOrElse("")
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execSites.put(x.executionId, graftFrame(x.details)): Unit
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskInfo != null) {
        val a = byStage.computeIfAbsent(e.stageId, _ => Agg())
        a.synchronized {
          a.n += 1; a.sumMs += e.taskInfo.duration
          a.maxMs = math.max(a.maxMs, e.taskInfo.duration)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        // the callsite NAME is usually an anonymous AQE future — the first
        // graft frame in `details` is the attribution that matters (r15)
        val site = Some(graftFrame(e.stageInfo.details)).filter(_.nonEmpty)
          .orElse(Option(stageExec.get(e.stageInfo.stageId)).flatMap(x => Option(execSites.get(x))))
          .getOrElse("")
        names.put(e.stageInfo.stageId,
          (e.stageInfo.name.linesIterator.next().take(60) + "  " + site).take(180))
      }
    // per-JOB wall spans: sequential jobs (localCheckpoint, isEmpty
    // convergence checks, broadcasts) each pay scheduling+planning wall
    // that task time never shows; the gaps between jobs are pure
    // driver-side work (Catalyst, commit, collect)
    case class J(var t0: Long = 0L, var t1: Long = 0L, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
      exec.foreach(id => e.stageIds.foreach(stageExec.put(_, id)))
      // a job AQE submits from a stage future names only anonymous stages:
      // append its SQL execution's call site, as the stage rows do
      val site = exec.flatMap(x => Option(execSites.get(x))).filter(_.nonEmpty)
        .orElse(e.stageInfos.map(s => graftFrame(s.details)).find(_.nonEmpty))
        .getOrElse("")
      val j = jobs.computeIfAbsent(e.jobId, _ => J())
      j.t0 = e.time
      j.desc = (e.stageInfos.map(_.name.linesIterator.next()).distinct
        .mkString(" | ").take(160) + "  " + site).take(260)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
    }
  }

  private def stages(spark: SparkSession, name: String, sfDir: String): Unit = {
    val l = new StageAgg
    spark.sparkContext.addSparkListener(l)
    // the listener is on while the query fn runs: a streaming query runs
    // its micro-batches inside the fn, so they are attributed too
    def once(): Double = {
      val t0 = System.nanoTime()
      Harness.checksum(SparkEntry.queries(name)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    // the listener bus delivers events async: let each run's events drain
    // before flipping the flag, so only the steady-state run is attributed,
    // and all of it
    val t1 = once()
    Thread.sleep(1500)
    l.enabled = true
    val t2 = once()
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(l)
    println(f"[query-stages] $name: runs $t1%.2f / $t2%.2f s at $sfDir")
    val it = l.byStage.entrySet().iterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    while (it.hasNext) {
      val e = it.next()
      rows += ((e.getKey, e.getValue.n, e.getValue.maxMs, e.getValue.sumMs))
    }
    val totalTask = rows.map(_._4).sum / 1000.0
    println(f"[query-stages] total task time $totalTask%.2f s across ${rows.size} stages")
    rows.sortBy(-_._4).take(18).foreach { case (sid, n2, mx, sum) =>
      println(f"[query-stages] stage $sid%5d tasks $n2%4d max ${mx / 1000.0}%7.2f s " +
        f"sum ${sum / 1000.0}%8.2f s  ${l.names.getOrDefault(sid, "?")}")
    }
    val jit = l.jobs.entrySet().iterator()
    val jrows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    while (jit.hasNext) {
      val e = jit.next()
      jrows += ((e.getKey, e.getValue.t0, e.getValue.t1, e.getValue.desc))
    }
    val sortedJ = jrows.sortBy(_._2)
    val jobWall = sortedJ.collect { case (_, t0, t1, _) if t1 > 0 => t1 - t0 }.sum / 1000.0
    // occupancy = union of job intervals (jobs overlap: broadcast
    // exchanges run as concurrent futures); wall − occupancy = time with
    // NO job running at all — pure driver work (planning, commit)
    val ivs = sortedJ.collect { case (_, t0, t1, _) if t1 > 0 => (t0, t1) }
    var occ = 0L; var curS = 0L; var curE = -1L
    ivs.foreach { case (s0, e0) =>
      if (e0 > curE) {
        if (s0 > curE) { occ += (curE - curS).max(0L); curS = s0 }
        curE = e0
      }
    }
    occ += (curE - curS).max(0L)
    println(f"[query-jobs] ${sortedJ.size} jobs, job wall $jobWall%.2f s, " +
      f"occupancy ${occ / 1000.0}%.2f s (wall minus this = pure driver)")
    sortedJ.foreach { case (jid, t0, t1, desc) =>
      val w = if (t1 > 0) (t1 - t0) / 1000.0 else -1.0
      println(f"[query-jobs] job $jid%4d wall $w%7.3f s  $desc")
    }
  }

  private def plan(spark: SparkSession, name: String, sfDir: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(s"[plan] $name formatted plan at $sfDir")
    df.explain("formatted")
    val wrapped = Harness.wrap(df)
    val t0 = System.nanoTime()
    // collect(), not head(): head re-plans through a fresh limit(1)
    // QueryExecution, leaving this frame's own executedPlan (the one the
    // metric walk reads) unexecuted. The frame is a 1-row aggregate.
    wrapped.collect()
    println(f"[plan] $name executed in ${(System.nanoTime() - t0) / 1e9}%.2f s; " +
      "populated metrics (times in ms):")
    walk(wrapped.queryExecution.executedPlan, 0)
  }

  /** One line per executed node with its non-zero SQL metrics. Time
    * metrics convert by their declared `metricType`: `nsTiming` values
    * are nanoseconds, `timing` values are already milliseconds. */
  private def walk(p: SparkPlan, depth: Int): Unit = {
    val ms = p.metrics.toSeq.sortBy(_._1).collect {
      case (k, m) if m.value > 0 => m.metricType match {
        case "nsTiming" => f"$k=${m.value / 1e6}%.1fms"
        case "timing" => s"$k=${m.value}ms"
        case _ => s"$k=${m.value}"
      }
    }
    println(s"[plan-metrics] ${"  " * depth}${p.nodeName}  ${ms.mkString(" ")}")
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    kids.foreach(walk(_, depth + 1))
  }
}
