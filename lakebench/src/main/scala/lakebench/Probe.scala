package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the Spark listener counters at one instant. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, cpuNs: Long, inputBytes: Long,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long, taskMaxMs: Long,
    planningMs: Long, partitionsScanned: Long, filesScanned: Long, readBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, inputBytes - o.inputBytes,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, gcMs - o.gcMs,
    taskMaxMs, planningMs - o.planningMs, partitionsScanned - o.partitionsScanned,
    filesScanned - o.filesScanned, readBytes - o.readBytes)
}

/** One finished SQL action as the query-execution listener saw it. */
final case class Action(outputPath: Option[String], seconds: Double)

/** Spark listener + query-execution listener: task CPU, input, shuffle,
  * spill and GC from task ends; job and stage counts; planning time from
  * `QueryExecution.tracker`; files and partitions from the scan nodes of
  * each executed plan. Bytes read come from the process's `rchar`
  * (`/proc/self/io`), which counts every thread's reads after column
  * pruning and row-group skipping. Task input bytes and Hadoop's FileSystem
  * statistics both miss parquet's vectored column reads and count only the
  * footers. `snapshot()` drains the listener bus first, so a reading covers
  * every task that has already finished.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, cpuNs, inputBytes, shuffleBytes, spillBytes,
    gcMs, planningMs, partitionsScanned, filesScanned = new AtomicLong
  // longest task since the last snapshot (a per-op straggler signal)
  private val taskMaxMs = new AtomicLong
  private val actions = ArrayBuffer.empty[Action]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskMaxMs.accumulateAndGet(e.taskInfo.duration, math.max)
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    scans(qe.executedPlan).foreach { s =>
      filesScanned.addAndGet(s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      partitionsScanned.addAndGet(
        s.metrics.get("numPartitions").map(_.value).getOrElse(0L))
    }
    val out = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.orElse(qe.executedPlan.collectFirst {
      case d: DataWritingCommandExec => d.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        case _ => null
      }
    }.filter(_ != null))
    actions.synchronized(actions += Action(out, durationNs / 1e9))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Drain the bus, then read every counter (and restart the task max). */
  def snapshot(): Counters = {
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, cpuNs.get, inputBytes.get,
      shuffleBytes.get, spillBytes.get, gcMs.get, taskMaxMs.getAndSet(0L),
      planningMs.get, partitionsScanned.get, filesScanned.get, Probe.processReadBytes())
  }

  /** Actions finished since the last call (bus drained by the caller). */
  def takeActions(): Seq[Action] = actions.synchronized {
    val a = actions.toVector
    actions.clear()
    a
  }
}

object Probe {
  private val io = java.nio.file.Paths.get("/proc/self/io")

  /** Bytes this process has read through read system calls, all threads. */
  def processReadBytes(): Long =
    java.nio.file.Files.readAllLines(io).iterator.asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.substring(6).trim.toLong
    }.getOrElse(sys.error("/proc/self/io has no rchar line"))
}

/** A traced call into one layer: name, start, end (ns, JVM clock), the
  * enclosing span and the op it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Span recorder, kept in memory and written out at the end of the run.
  * With tracing off `span` runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1
  /** Set once the warm-up is over: per-layer sums count timed ops only. */
  var timed = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds to run `df` to the `noop` sink, under a span named `name`:
    * how the traced run times a lazy layer's output.
    */
  def noop(name: String, df: org.apache.spark.sql.DataFrame): Double = span(name) {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Total seconds of spans named `name` (self time is not subtracted). */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
}
