package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events from Spark's public listener interfaces, kept in memory and
  * written out with the run record; run.py attributes them to spans.
  *
  * Every callback arrives on a listener-bus thread, after the fact, so
  * nothing here is attributed at delivery time: jobs carry the op and
  * phase the harness set as local properties, stages are tied to jobs by
  * id, and planning and micro-batch events are tied to ops by time.
  */
final class Recorder {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def add(e: Map[String, Any]): Unit = {
    events.add(e)
    lastEventNs.set(System.nanoTime())
  }

  /** Block until no event has arrived for `quietMs` (at most `maxMs`):
    * the listener bus has no public flush. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while ((System.nanoTime() - lastEventNs.get()) < quietMs * 1000000L &&
           System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Jobs, stages and per-stage task totals (traced passes only). */
  val sparkListener: SparkListener = new SparkListener {
    private final class StageAgg {
      var tasks, failed = 0L
      var runMs, maxRunMs, cpuNs, schedMs = 0L
      var shuffleRead, shuffleWrite, spill, inBytes, inRows = 0L
    }
    private val aggs = mutable.Map.empty[(Int, Int), StageAgg]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      add(Map("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
        "stages" -> e.stageIds,
        "op" -> p.flatMap(x => Option(x.getProperty(Harness.OpKey))),
        "phase" -> p.flatMap(x => Option(x.getProperty(Harness.PhaseKey)))))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = aggs.synchronized {
      val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime)
        a.cpuNs += m.executorCpuTime
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = aggs.synchronized(aggs.remove((s.stageId, s.attemptNumber())))
        .getOrElse(new StageAgg)
      add(Map("ev" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit" -> s.submissionTime, "end" -> s.completionTime,
        "failed" -> s.failureReason.isDefined, "tasks" -> a.tasks,
        "failed_tasks" -> a.failed, "run_ms" -> a.runMs, "max_run_ms" -> a.maxRunMs,
        "cpu_ns" -> a.cpuNs, "sched_ms" -> a.schedMs,
        "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
        "spill" -> a.spill, "in_bytes" -> a.inBytes, "in_rows" -> a.inRows))
    }
  }

  /** Planning phases (analysis, optimization, planning) and broadcast
    * sizes of every finished query execution (traced passes only). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)

    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
      add(Map("ev" -> "qe", "func" -> funcName, "ok" -> ok,
        "phases" -> qe.tracker.phases.map { case (k, v) =>
          k -> Seq(v.startTimeMs, v.endTimeMs) },
        "broadcast_bytes" -> (if (ok) broadcastBytes(qe.executedPlan) else 0L)))

    private def broadcastBytes(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
      case s: QueryStageExec        => broadcastBytes(s.plan)
      case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L) + broadcastBytes(b.child)
      case other => (other.children ++ other.subqueries).map(broadcastBytes).sum
    }
  }

  /** Micro-batch progress (always on: it is how stream op latency and
    * events/s are measured, in traced and untraced runs alike). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add(Map("ev" -> "progress", "run" -> p.runId.toString, "batch" -> p.batchId,
        "t" -> Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state" -> p.stateOperators.toSeq.map { s =>
          Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
            "rows_removed" -> s.numRowsRemoved, "mem_bytes" -> s.memoryUsedBytes,
            "update_ms" -> s.allUpdatesTimeMs, "remove_ms" -> s.allRemovalsTimeMs,
            "commit_ms" -> s.commitTimeMs, "dropped" -> s.numRowsDroppedByWatermark)
        }))
    }
  }
}
