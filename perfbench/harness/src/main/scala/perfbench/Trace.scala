package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness's records. */
object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** Everything the listeners saw while one operation ran. */
final case class OpEvents(jobs: Seq[String], stages: Seq[String], qes: Seq[String],
                          progress: Seq[String])

/** Spark's public listener APIs, recording spans and counts in memory.
  *
  * - [[SparkListener]]: job spans (with the job group the harness sets
  *   per operation) and stage spans with their aggregated task metrics;
  * - [[QueryExecutionListener]]: Catalyst phase times from
  *   `QueryExecution.tracker` and the graft physical nodes of each
  *   executed plan;
  * - [[StreamingQueryListener]]: one progress event per micro-batch.
  *
  * Events are taken per operation with [[take]], after the listener bus
  * has drained. */
final class Trace extends SparkListener with QueryExecutionListener {
  private final class StageAcc {
    @volatile var maxTaskMs = 0L
    @volatile var failedTasks = 0
    @volatile var maxPeakMem = 0L
  }
  private val jobStarts = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val qes = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStarts.put(e.jobId, (group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (group, start, stageIds) =>
      jobs.add(Json.obj("id" -> e.jobId.toString, "group" -> Json.str(group),
        "start_ms" -> start.toString, "end_ms" -> e.time.toString,
        "stages" -> Json.arr(stageIds.map(_.toString)),
        "ok" -> (e.jobResult == JobSucceeded).toString))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
    acc.synchronized {
      acc.maxTaskMs = math.max(acc.maxTaskMs, e.taskInfo.duration)
      if (e.reason != Success) acc.failedTasks += 1
      if (e.taskMetrics != null)
        acc.maxPeakMem = math.max(acc.maxPeakMem, e.taskMetrics.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val acc = Option(stageAcc.remove((s.stageId, s.attemptNumber()))).getOrElse(new StageAcc)
    val m = s.taskMetrics
    def metric(f: => Long): String = if (m == null) "0" else f.toString
    stages.add(Json.obj(
      "id" -> s.stageId.toString,
      "attempt" -> s.attemptNumber().toString,
      "tasks" -> s.numTasks.toString,
      "start_ms" -> s.submissionTime.getOrElse(0L).toString,
      "end_ms" -> s.completionTime.getOrElse(0L).toString,
      "failed" -> s.failureReason.isDefined.toString,
      "task_run_ms" -> metric(m.executorRunTime),
      "task_cpu_ns" -> metric(m.executorCpuTime),
      "task_deser_ms" -> metric(m.executorDeserializeTime),
      "gc_ms" -> metric(m.jvmGCTime),
      "result_bytes" -> metric(m.resultSize),
      "spill_mem_bytes" -> metric(m.memoryBytesSpilled),
      "spill_disk_bytes" -> metric(m.diskBytesSpilled),
      "input_bytes" -> metric(m.inputMetrics.bytesRead),
      "input_rows" -> metric(m.inputMetrics.recordsRead),
      "output_bytes" -> metric(m.outputMetrics.bytesWritten),
      "output_rows" -> metric(m.outputMetrics.recordsWritten),
      "shuffle_write_bytes" -> metric(m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> metric(m.shuffleReadMetrics.totalBytesRead),
      "shuffle_fetch_wait_ms" -> metric(m.shuffleReadMetrics.fetchWaitTime),
      "max_task_ms" -> acc.maxTaskMs.toString,
      "failed_tasks" -> acc.failedTasks.toString,
      "peak_exec_mem_bytes" -> acc.maxPeakMem.toString))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): String = phases.get(p).map(_.durationMs.toString).getOrElse("0")
    val graft = Trace.nodes(qe.executedPlan)
      .map(_.getClass)
      .filter(_.getName.startsWith("graft."))
      .groupBy(_.getSimpleName).map { case (k, v) => k -> v.size.toString }
    qes.add(Json.obj(
      "func" -> Json.str(funcName),
      "analysis_ms" -> ms("analysis"),
      "optimizer_ms" -> ms("optimization"),
      "planner_ms" -> ms("planning"),
      "graft_nodes" -> Json.obj(graft.toSeq.sortBy(_._1): _*)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def dur(k: String): String = d.getOrElse(k, 0L).toString
      progress.add(Json.obj(
        "batch" -> p.batchId.toString,
        "input_rows" -> p.numInputRows.toString,
        "trigger_ms" -> dur("triggerExecution"),
        "get_batch_ms" -> dur("getBatch"),
        "plan_ms" -> dur("queryPlanning"),
        "add_batch_ms" -> dur("addBatch"),
        "wal_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).toString,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toString,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toString))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  private def drainQueue(q: ConcurrentLinkedQueue[String]): Seq[String] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toList

  /** Everything recorded since the last call. */
  def take(): OpEvents =
    OpEvents(drainQueue(jobs), drainQueue(stages), drainQueue(qes), drainQueue(progress))
}

object Trace {
  /** Every physical node of an executed plan: through adaptive plans,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
