package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorders: Spark's public listeners, registered from the
  * benchmark. They keep raw events in memory; `run.py` attributes them to
  * the benchmark's spans (run, pass, query or micro-batch) and sums them per
  * layer. Task metrics are summed per stage as they arrive.
  */
final class Trace(spark: SparkSession, clock: Clock) {
  private final class StageRec(val id: Int, val attempt: Int) {
    var submitMs = 0.0; var endMs = 0.0; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var inBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val executions = mutable.Map.empty[String, String]
  private val plans = mutable.ArrayBuffer.empty[Json.Obj]
  private val progress = mutable.ArrayBuffer.empty[Json.Obj]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      // the result stage is created last and carries the job's call site
      val result = e.stageInfos.maxBy(_.stageId)
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time.toDouble,
        "end_ms" -> null, "ok" -> null, "callsite" -> result.details,
        "streaming" -> Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null),
        "execution" -> Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull,
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time.toDouble
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i.stageId, i.attemptNumber()))
      s.submitMs = i.submissionTime.map(_.toDouble).getOrElse(clock.nowMs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.endMs = i.completionTime.map(_.toDouble).getOrElse(clock.nowMs)
      }
    }
    // Jobs that adaptive execution or a broadcast starts from Spark's own
    // threads carry no caller frames; their SQL execution's call site does.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized { executions(s.executionId.toString) = s.details }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(e.stageId, e.stageAttemptId))
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val ti = e.taskInfo
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the scheduler-delay formula of Spark's own UI
        s.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      Trace.this.synchronized {
        plans += Json.obj("start_ms" -> start.toDouble,
          "phases" -> Json.obj(phases.toSeq.map { case (k, v) => k -> v.durationMs }: _*))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        progress += Json.obj((Harness.progressJson(e.progress).fields :+
          ("end_ms" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble)): _*)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Waits for the asynchronous listener buses to drain (no new event for
    * half a second, at most 10 s), detaches and returns what was recorded. */
  def finish(): Json.Obj = {
    def count = synchronized(jobs.size + stages.size + plans.size + progress.size +
      jobs.values.count(_("end_ms") != null) + stages.values.map(_.tasks).sum)
    val deadline = System.nanoTime() + 10e9.toLong
    var last = -1
    while (count != last && System.nanoTime() < deadline) { last = count; Thread.sleep(500) }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      Json.obj(
        "jobs" -> jobs.values.map(j => Json.obj(j.toSeq.sortBy(_._1): _*)).toSeq,
        "stages" -> stages.values.map(s => Json.obj(
          "id" -> s.id, "attempt" -> s.attempt, "submit_ms" -> s.submitMs, "end_ms" -> s.endMs,
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs,
          "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs, "sched_delay_ms" -> s.schedDelayMs,
          "input_bytes" -> s.inBytes, "shuffle_read_bytes" -> s.shuffleRead,
          "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill)).toSeq,
        "executions" -> Json.obj(executions.toSeq: _*),
        "plans" -> plans.toSeq,
        "progress" -> progress.toSeq)
    }
  }
}
