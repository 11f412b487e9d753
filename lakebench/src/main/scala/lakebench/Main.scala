package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything one workload needs from the harness. */
final case class Ctx(
    spark: SparkSession, seed: Long, work: Path, benchDir: Path,
    tablesDir: String, tracer: Tracer, probe: Probe)

/** One benchmark workload: a closed loop of one client. Every run executes
  * whole rounds of `round` (the same op kinds in the same order), so the
  * mix of op kinds is identical in every run whatever its length.
  */
trait Workload {
  def round: Seq[String]
  /** Untimed rounds run before the timed phase (past the JIT slope). */
  def warmupRounds: Int
  def setup(): Unit
  /** Untimed preparation of op `i` (input generation); runs before the timer. */
  def prepare(kind: String, i: Int): Unit = ()
  /** The timed op. */
  def op(kind: String, i: Int): Unit
  /** Untimed work between ops that must not reach the next op's timer. */
  def settle(): Unit = ()
  /** Traced-run extras for op `i`, run after the op's timer has stopped. */
  def traceOp(kind: String, i: Int, seconds: Double, opCounters: Counters): Unit = ()
  /** Per-layer metrics of the traced run, given the number of timed ops. */
  def layerMetrics(timedOps: Int): Map[String, Double] = Map.empty
  /** Output-check material written after the timed phase. */
  def checkPayload(): Map[String, Any]
}

final case class OpRecord(kind: String, index: Int, seconds: Double, ok: Boolean,
    counters: Counters)

/** The benchmark's JVM entry point: `lakebench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --bench DIR --tables DIR --threads N`.
  * Set-up time runs from the JVM's start to the first timed op. Writes one
  * JSON document with the op series, Spark counters, per-layer totals and
  * check material.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val threads = opts("threads").toInt
    val setupStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.configure(
        SparkSession.builder().master(s"local[$threads]"), threads)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.registerFunctions(spark)
    val probe = new Probe(spark)
    val tracer = new Tracer(trace)
    val ctx = Ctx(spark, seed, work, Paths.get(opts("bench")), opts("tables"), tracer, probe)
    if (workload == "train") {
      // the class-data archive's training run: one unmeasured round of each
      // workload, so that the archive holds the classes both of them load
      for (w <- Seq(new IngestWorkload(ctx), new RegistryWorkload(ctx))) {
        w.setup()
        w.round.zipWithIndex.foreach { case (k, i) => w.prepare(k, i); w.op(k, i) }
      }
      spark.stop()
      return
    }
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "hunt" => new HuntWorkload(ctx)
      case "registry" => new RegistryWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val sessionMs = System.currentTimeMillis()
    w.setup()
    val setupMs = System.currentTimeMillis()
    var i = 0
    val errors = ArrayBuffer.empty[String]
    def runOp(kind: String): OpRecord = {
      w.prepare(kind, i)
      w.settle()
      System.gc()
      tracer.op = i
      val before = probe.snapshot()
      probe.takeActions()
      val t0 = System.nanoTime()
      val ok = try { w.op(kind, i); true } catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"$kind#$i: $e"
          System.err.println(s"[lakebench] op $kind#$i failed: $e")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val c = probe.snapshot() - before
      if (trace && ok && tracer.timed) w.traceOp(kind, i, dt, c)
      tracer.op = -1
      val r = OpRecord(kind, i, dt, ok, c)
      i += 1
      r
    }
    val warmup = for (_ <- 0 until w.warmupRounds; k <- w.round) yield runOp(k)
    w.settle()
    System.gc()
    tracer.spans.clear()
    tracer.timed = true
    val firstTimedMs = System.currentTimeMillis()
    val timedStart = System.nanoTime()
    val ops = ArrayBuffer.empty[OpRecord]
    while ((System.nanoTime() - timedStart) / 1e9 < seconds)
      w.round.foreach(k => ops += runOp(k))
    val timedSeconds = ops.map(_.seconds).sum
    val timedEndMs = System.currentTimeMillis()
    w.settle()
    System.gc(); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val retainedHeapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    val payload = w.checkPayload()

    val doc = new java.util.LinkedHashMap[String, Any]()
    doc.put("workload", workload)
    doc.put("settings", Map(
      "master" -> s"local[$threads]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "seed" -> seed,
      "tables_dir" -> ctx.tablesDir,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "trace" -> trace,
      "warmup_rounds" -> w.warmupRounds,
      "round" -> w.round))
    doc.put("setup_s", (firstTimedMs - setupStartMs) / 1000.0)
    // where set-up time went: to the session, the workload's inputs, warm-up
    doc.put("setup_phases_s", Map("session" -> (sessionMs - setupStartMs) / 1000.0,
      "inputs" -> (setupMs - sessionMs) / 1000.0, "warmup" -> (firstTimedMs - setupMs) / 1000.0))
    doc.put("timed_seconds", timedSeconds)
    doc.put("retained_heap_mb", retainedHeapMb)
    doc.put("ops", ops.map(o => Map("kind" -> o.kind, "index" -> o.index,
      "seconds" -> o.seconds, "ok" -> o.ok, "cpu_s" -> o.counters.cpuNs / 1e9,
      "scan_mb" -> o.counters.readBytes / 1e6)))
    doc.put("warmup_ops", warmup.map(o => Seq(o.kind, o.seconds)))
    doc.put("errors", errors.toSeq)
    // Spark counters summed over the timed ops; per-layer values per op
    val sums = ops.map(_.counters).foldLeft(Map.empty[String, Double]) { (m, c) =>
      Seq("spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble, "spark.task_max_s" -> c.taskMaxMs / 1000.0,
        "spark.planning_s" -> c.planningMs / 1000.0,
        "spark.shuffle_mb" -> c.shuffleBytes / 1e6, "spark.spill_mb" -> c.spillBytes / 1e6,
        "spark.gc_s" -> c.gcMs / 1000.0, "lake.partitions_scanned" -> c.partitionsScanned.toDouble,
        "lake.files_scanned" -> c.filesScanned.toDouble, "cpu_s" -> c.cpuNs / 1e9,
        "scan_mb" -> c.readBytes / 1e6)
        .foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) }
    }
    doc.put("totals", sums)
    doc.put("layers", sums.filter(_._1.contains('.')).map { case (k, v) => k -> v / ops.size } ++
      (if (trace) w.layerMetrics(ops.size) else Map.empty))
    if (trace) doc.put("spans", tracer.spans.map(s => Map("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)))
    doc.put("check", payload)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(doc))
    spark.stop()
    System.err.println(f"[lakebench] set-up ${(firstTimedMs - setupStartMs) / 1000.0}%.1f s, " +
      f"timed ${(timedEndMs - firstTimedMs) / 1000.0}%.1f s, " +
      f"check material and stop ${(System.currentTimeMillis() - timedEndMs) / 1000.0}%.1f s")
  }
}
