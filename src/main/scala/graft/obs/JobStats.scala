package graft.obs

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** What a body of driver code ran on the cluster: its jobs, each with the
  * root SQL execution it ran under and its tags; its stages, with task
  * count and the sum and max of task time; and the physical plan of each
  * SQL execution (the last adaptive re-plan wins). Collected by one
  * listener for the span of [[JobStats.during]].
  */
final class JobStats private () extends SparkListener {
  private val started = new ConcurrentLinkedQueue[(Int, Properties)]
  private val stageMap = new ConcurrentHashMap[Int, JobStats.Stage]
  private val planMap = new ConcurrentHashMap[Long, String]

  private def stage(id: Int)(f: JobStats.Stage => JobStats.Stage): Unit =
    stageMap.compute(id, (_, s) => f(Option(s).getOrElse(JobStats.Stage(id, "", 0, 0L, 0L))))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.add(e.jobId -> Option(e.properties).getOrElse(new Properties))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId)(_.copy(name = e.stageInfo.name))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      val d = e.taskInfo.duration
      stage(e.stageId)(s => s.copy(tasks = s.tasks + 1, sumMs = s.sumMs + d,
        maxMs = math.max(s.maxMs, d)))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => planMap.put(s.executionId, s.physicalPlanDescription)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => planMap.put(u.executionId, u.physicalPlanDescription)
    case _ => ()
  }

  def jobs: Seq[JobStats.Job] = started.asScala.toSeq.map { case (id, p) =>
    JobStats.Job(id, Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      Option(p.getProperty("spark.job.tags")).getOrElse(""))
  }

  /** Stages in id order. */
  def stages: Seq[JobStats.Stage] = stageMap.values.asScala.toSeq.sortBy(_.id)

  /** The SQL executions started, by id. */
  def executions: Set[Long] = planMap.keySet.asScala.toSet

  /** The physical plan an execution last ran with. */
  def plan(executionId: Long): String = Option(planMap.get(executionId)).getOrElse("")

  /** The longest task, in ms (0 when no task ran). */
  def maxTaskMs: Long = stages.map(_.maxMs).maxOption.getOrElse(0L)
}

object JobStats {
  /** A job, the root SQL execution it runs under (if any) and its tags. */
  final case class Job(id: Int, execution: Option[Long], tags: String)

  /** A stage: its name, the tasks that ended, and their summed and
    * longest duration in ms.
    */
  final case class Stage(id: Int, name: String, tasks: Int, sumMs: Long, maxMs: Long)

  /** Run `body` and return what it ran. The listener bus is drained before
    * and after, so the stats hold exactly `body`'s events.
    */
  def during[T](spark: SparkSession)(body: => T): (T, JobStats) = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc)
    val stats = new JobStats
    sc.addSparkListener(stats)
    try {
      val out = body
      GraftBridge.drainListenerBus(sc)
      (out, stats)
    } finally sc.removeSparkListener(stats)
  }
}
