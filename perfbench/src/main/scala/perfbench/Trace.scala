package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at a layer boundary. `parent` is -1 for a root; spans of one
  * query share `query` (the query-run id). */
final case class Span(id: Int, parent: Int, name: String, query: Int,
    engine: String, startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "query" -> query, "engine" -> engine, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** Structural counts of an executed plan, walked through the adaptive
  * query stages and into subqueries. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Int] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean): Int = nodes.count(f)
    Map(
      "exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "exchanges_reused" -> n(_.isInstanceOf[ReusedExchangeExec]),
      "round_robin_exchanges" -> n {
        case s: ShuffleExchangeLike => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      },
      "broadcasts" -> n(_.isInstanceOf[BroadcastExchangeLike]),
      "codegen_stages" -> n(_.isInstanceOf[WholeStageCodegenExec]),
      "scans" -> n(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[DataSourceV2ScanExecBase]))
  }
}

/** Keeps every listener event of a traced pass in memory. Registered
  * only for traced passes; nothing is written until the run ends.
  *
  * Jobs carry the query-run id the client thread set as the local
  * property [[Recorder.queryKey]]; stages and tasks follow their job.
  * Catalyst executions carry [[query]], which the client sets before
  * each traced query and which stays put until the listener bus has
  * been drained after it. */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var query: Int = -1
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.queryKey)))
    jobStarts.put(e.jobId, (e.time, e.stageIds, tag.map(_.toInt).getOrElse(-1)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds, query) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil, -1))
    jobs.add(Map("job" -> e.jobId, "query" -> query, "start_ms" -> start, "end_ms" -> e.time,
      "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
      "ok" -> s.failureReason.isEmpty))
  }

  /** One row per task, in [[Recorder.taskFields]] order. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks.add(Seq(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
      if (i.successful) 0 else 1,
      g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
      g(_.executorDeserializeTime), g(_.peakExecutionMemory),
      g(_.memoryBytesSpilled), g(_.diskBytesSpilled),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleWriteMetrics.recordsWritten),
      g(_.shuffleWriteMetrics.writeTime),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.recordsRead), g(_.shuffleReadMetrics.fetchWaitTime)))
  }

  /** A Catalyst execution listener for one session, labelled by engine. */
  def executionListener(engine: String): QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(engine, funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(engine, funcName, qe, ok = false)
  }

  private def record(engine: String, funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    val counts = if (ok) PlanCounts(qe.executedPlan) else Map.empty[String, Int]
    executions.add(Map("query" -> query, "engine" -> engine, "func" -> funcName, "ok" -> ok,
      "phases" -> phases, "plan" -> counts))
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "task_fields" -> Recorder.taskFields, "tasks" -> tasks.asScala.toSeq,
    "executions" -> executions.asScala.toSeq)
}

object Recorder {
  /** Local property that tags a query run's jobs with its id. */
  val queryKey = "perfbench.query"
  val taskFields: Seq[String] = Seq("stage", "attempt", "launch_ms", "finish_ms", "failed",
    "run_ms", "cpu_ns", "gc_ms", "deserialize_ms", "peak_mem_b", "mem_spill_b",
    "disk_spill_b", "input_b", "input_records", "shuffle_write_b", "shuffle_write_records",
    "shuffle_write_ns", "shuffle_read_b", "shuffle_read_records", "fetch_wait_ms")
}
