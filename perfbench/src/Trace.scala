package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Event capture for the traced run: a `SparkListener` and a
  * `QueryExecutionListener` that only append raw records. Attribution to
  * spans happens after the run, from event times, so the listeners do no
  * work on the scheduler's event thread beyond one queue append. */
final class Trace extends SparkListener with QueryExecutionListener {
  final case class Job(time: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitted: Long)
  final case class Task(stageId: Int, launch: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
  final case class Query(time: Long, planMs: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time, e.stageIds))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(Stage(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != TaskSuccess
    tasks.add(if (m == null) Task(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0, 0, failed)
      else Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, failed))
  }

  /** Callbacks arrive asynchronously, so an execution is placed at the
    * start of its first planning phase rather than at delivery time. */
  private def query(qe: QueryExecution): Query = {
    val phases = qe.tracker.phases.values
    Query(phases.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()),
      phases.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queries.add(query(qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    queries.add(query(qe))

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); queries.clear() }

  /** Counts for the wall-clock window [start, end] (epoch ms). Jobs belong
    * to the window their submission falls in; stages and tasks follow
    * their job; query executions belong to the window their planning
    * started in. */
  def counts(start: Long, end: Long, cores: Int): Seq[(String, Double)] = {
    val js = jobs.asScala.filter(j => j.time >= start && j.time <= end).toSeq
    val stageIds = js.flatMap(_.stageIds).toSet
    val ss = stages.asScala.filter(s => stageIds(s.id)).toSeq
    val submitted = ss.groupBy(_.id).map { case (id, v) => id -> v.map(_.submitted).min }
    val ts = tasks.asScala.filter(t => stageIds(t.stageId)).toSeq
    val qs = queries.asScala.filter(q => q.time >= start && q.time <= end).toSeq
    val wallS = math.max(end - start, 1L) / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> submitted.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.tasks_per_stage" -> (if (submitted.isEmpty) 0.0 else ts.size.toDouble / submitted.size),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.core_busy" -> runS / (wallS * cores),
      "spark.task_wait_s" -> ts.map(t =>
        math.max(0L, t.launch - submitted.getOrElse(t.stageId, t.launch))).sum / 1e3,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.task_failures" -> ts.count(_.failed).toDouble,
      "catalyst.executions" -> qs.size.toDouble,
      "catalyst.plan_ms" -> qs.map(_.planMs).sum.toDouble)
  }
}

/** One timed public call (or one delta) inside an operation. `kind` is
  * `build` (the call builds a frame; eager Mats launch its jobs) or
  * `action` (the call that forces the result). Epoch-ms bounds attribute
  * listener events; `seconds` is the nanoTime measurement. */
final case class Span(name: String, kind: String, parent: String,
    startMs: Long, endMs: Long, seconds: Double)
