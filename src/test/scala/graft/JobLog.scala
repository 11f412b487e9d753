package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs an action starts, each with the SQL execution it runs
  * under, and the plans of those executions.
  */
final class JobLog extends SparkListener {
  private val started = new ConcurrentLinkedQueue[(Int, Properties)]
  private val plans = new ConcurrentHashMap[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.add(e.jobId -> Option(e.properties).getOrElse(new Properties))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
    case _ => ()
  }

  def jobs: Seq[JobLog.Job] = started.asScala.toSeq.map { case (id, p) =>
    JobLog.Job(id, Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      Option(p.getProperty("spark.job.tags")).getOrElse(""))
  }

  /** The physical plan an execution started with. */
  def plan(executionId: Long): String = Option(plans.get(executionId)).getOrElse("")
}

object JobLog {
  /** A job, the root SQL execution it runs under (if any) and its tags. */
  final case class Job(id: Int, execution: Option[Long], tags: String)

  /** Run `body` and return what it started; the listener bus is drained
    * before and after, so the log holds exactly `body`'s jobs.
    */
  def during[T](spark: SparkSession)(body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    SpecBus.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }
}
