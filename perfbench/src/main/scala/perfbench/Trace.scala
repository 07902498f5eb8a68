package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-task totals of one stage. */
final class StageAgg(val id: Int, val submitted: Double, val numTasks: Int) {
  var completed = 0.0
  var op = -1
  val taskMs = mutable.ArrayBuffer.empty[Double]
  var runMs, cpuMs, gcMs, waitMs, fetchWaitMs = 0.0
  var spillBytes, shuffleWrite, shuffleRead, inBytes, inRows, outBytes = 0L
}

final case class JobRec(id: Int, op: Int, start: Double, var end: Double,
                        stages: Seq[Int])
final case class QeRec(at: Double, planMs: Double, durMs: Double, write: Boolean)
final case class BatchRec(start: Double, end: Double,
                          d: Map[String, Long], stateRows: Long, stateBytes: Long,
                          stateCommitMs: Long, fileSink: Boolean)

/** Listeners of the traced run. Spark stamps its events with the wall clock;
  * the runner's own spans use [[Clock]], which maps both onto one origin.
  * Jobs carry their op through the `perfbench.op` local property (streams
  * inherit it into their execution thread); query executions and stream
  * batches carry a time, and the report gives them to the op whose window
  * holds it, which is exact because one op runs at a time. */
final class Tracer(clock: Clock) {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile var storagePeakBytes = 0L

  private val stageOp = mutable.HashMap.empty[Int, Int]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
        .map(_.toInt).getOrElse(-1)
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(s => stageOp.getOrElseUpdate(s, op))
      jobs += JobRec(e.jobId, op, clock.fromEpoch(e.time.toDouble), Double.NaN, ids)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = clock.fromEpoch(e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      val st = new StageAgg(i.stageId,
        clock.fromEpoch(i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble),
        i.numTasks)
      st.op = stageOp.getOrElse(i.stageId, -1)
      stages(i.stageId) = st
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.completed =
        clock.fromEpoch(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).filter(_ => m != null).foreach { st =>
        val info = e.taskInfo
        st.taskMs += (info.finishTime - info.launchTime).toDouble
        st.runMs += m.executorRunTime.toDouble
        st.cpuMs += m.executorCpuTime / 1e6
        st.gcMs += m.jvmGCTime.toDouble
        st.waitMs += math.max(0.0, clock.fromEpoch(info.launchTime.toDouble) - st.submitted)
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime.toDouble
        st.inBytes += m.inputMetrics.bytesRead
        st.inRows += m.inputMetrics.recordsRead
        st.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.filter { case (k, _) =>
        k == "analysis" || k == "optimization" || k == "planning" }
      val planMs = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val at = if (phases.isEmpty) clock.now()
        else clock.fromEpoch(phases.values.map(_.endTimeMs).max.toDouble)
      val write = qe.logical.getClass.getSimpleName.matches(
        ".*(InsertInto|SaveInto|CreateTable|AppendData|OverwriteBy|WriteFiles).*") ||
        qe.commandExecuted.getClass.getSimpleName.matches(".*(InsertInto|SaveInto).*")
      Tracer.this.synchronized { qes += QeRec(at, planMs, durationNs / 1e6, write) }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = clock.fromEpoch(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val end = start + d.getOrElse("triggerExecution", 0L)
      val ops = p.stateOperators
      Tracer.this.synchronized {
        batches += BatchRec(start, end, d,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum,
          p.sink.description.toLowerCase.contains("filesink"))
      }
    }
  }

  private var sampler: Thread = _

  def attach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(this.spark)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    // block-store occupancy is not an event, so a daemon samples it
    sampler = new Thread(() => {
      try while (true) {
        val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
        if (used > storagePeakBytes) storagePeakBytes = used
        Thread.sleep(20)
      } catch { case _: InterruptedException => () }
    }, "perfbench-storage-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Everything recorded, for run.py to build spans and layer metrics. A
    * job that never ended has no `end`. */
  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "op" -> j.op,
        "start" -> j.start, "end" -> Option(j.end).filterNot(_.isNaN), "stages" -> j.stages)),
      "stages" -> stages.values.map(s => Map("id" -> s.id, "op" -> s.op,
        "submitted" -> s.submitted, "completed" -> s.completed,
        "tasks" -> s.numTasks, "task_ms" -> s.taskMs, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_b" -> s.spillBytes,
        "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
        "input_b" -> s.inBytes, "input_rows" -> s.inRows, "output_b" -> s.outBytes)),
      "qes" -> qes.map(q => Map("at" -> q.at, "plan_ms" -> q.planMs,
        "dur_ms" -> q.durMs, "write" -> q.write)),
      "batches" -> batches.map(b => Map("start" -> b.start, "end" -> b.end,
        "d" -> b.d, "state_rows" -> b.stateRows, "state_b" -> b.stateBytes,
        "state_commit_ms" -> b.stateCommitMs, "file_sink" -> b.fileSink)),
      "storage_peak_b" -> storagePeakBytes)
  }

  def detach(spark: SparkSession): Unit = {
    sampler.interrupt(); sampler.join()
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(queries)
    spark.sparkContext.removeSparkListener(this.spark)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}

/** One clock for the run: nanoTime for the runner's own intervals, and the
  * wall clock (which Spark stamps its events with) mapped onto the same
  * origin. */
final class Clock {
  private val originNano = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  def now(): Double = (System.nanoTime() - originNano) / 1e6
  def fromEpoch(epochMs: Double): Double = epochMs - originEpochMs
}
