package lakebench

import java.nio.file.Files

import scala.collection.mutable

import graft.lake.Lake
import graft.operators.Detection
import graft.schema.SchemaResolver
import graft.sources.Framing
import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: each op lands one batch of raw CloudTrail lines (one event-time
  * hour) and carries it through `Ingest.processBatch` (framing, managed
  * transform, schema resolution with sidelining, hour-partitioned lake
  * append), then evaluates the Sigma pack over the batch's lake hour,
  * aggregates alerts and appends the `matano_alerts` rows to the lake.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val linesPerBatch = 2500
  val round: Seq[String] = Seq("batch")
  val warmupRounds = 4
  /** Warm-up batches are smaller: what warms is per-op planning and
    * dispatch, which a small batch runs as a full one does.
    */
  val warmupLinesPerBatch = 250

  private val landing = work.resolve("landing")
  private val lake = work.resolve("lake").resolve(CloudTrailLake.table)
  private val sideline = work.resolve("sideline").resolve(CloudTrailLake.table)
  private val alertsLake = work.resolve("lake").resolve("matano_alerts")
  private var pack: Seq[CloudTrailLake.PackRule] = Nil
  private var pipeline: Ingest.Pipeline = _
  private var rulesLoadS = 0.0
  private val counts = mutable.LinkedHashMap.empty[String, CloudTrailGen.Counts]
  private val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def batchFile(i: Int) = landing.resolve(f"batch-$i%05d.json")

  def setup(): Unit = {
    Files.createDirectories(landing)
    val t0 = System.nanoTime()
    pack = tracer.span("config.loadRulePack")(CloudTrailLake.loadRules(benchDir.resolve("rules")))
    rulesLoadS = (System.nanoTime() - t0) / 1e9
    pipeline = Ingest.Pipeline(
      transform = lines => tracer.span("transform.apply")(
        CloudTrailLake.transform(tracer.span("sources.frame")(CloudTrailLake.frame(lines)))),
      target = CloudTrailLake.target(spark),
      lakePath = lake.toString, sidelinePath = sideline.toString)
  }

  override def prepare(kind: String, i: Int): Unit = {
    if (i > 0) Files.deleteIfExists(batchFile(i - 1))
    counts(CloudTrailLake.hourOf(seed, i)) =
      CloudTrailGen.write(batchFile(i), seed, Seq(i),
        if (i < warmupRounds) warmupLinesPerBatch else linesPerBatch, dirty = true)
  }

  private def lines(i: Int): DataFrame =
    tracer.span("sources.textLines")(Framing.textLines(spark, batchFile(i).toString))

  private def matchesOf(events: DataFrame): DataFrame =
    tracer.span("operators.ruleMatches")(
      Detection.ruleMatches(events, pack.map(_.rule), CloudTrailLake.matchId))

  // set while traceOp re-plans an op, so its lake reads stay out of the
  // op's `lake.read` spans
  private var measuring = false

  private def hourEvents(i: Int): DataFrame = CloudTrailLake.ruleColumns(
    (if (measuring) Lake.read(spark, lake.toString)
     else tracer.span("lake.read")(Lake.read(spark, lake.toString)))
      .filter(col(Lake.PartitionCol) === CloudTrailLake.hourOf(seed, i)))

  def op(kind: String, i: Int): Unit = {
    val batch = lines(i)
    if (tracer.enabled && tracer.timed) {
      // the landing bytes processBatch reads, against the file's size
      val before = probe.snapshot()
      tracer.span("streaming.processBatch")(Ingest.processBatch(pipeline)(batch, i))
      val read = (probe.snapshot() - before).inputBytes
      layers("lake.input_passes") += read.toDouble / Files.size(batchFile(i))
    } else Ingest.processBatch(pipeline)(batch, i)
    val alerts = tracer.span("operators.aggregate")(
      CloudTrailLake.alerts(spark, matchesOf(hourEvents(i)), pack))
    val rows = tracer.span("operators.matanoAlertRows")(
      Detection.matanoAlertRows(alerts, pack.map(_.rule), CloudTrailLake.table))
    tracer.span("lake.append")(Lake.append(rows, alertsLake.toString))
  }

  /** Untimed per-layer measurement: each lazy layer's output goes to the
    * `noop` sink, one prefix of the chain at a time.
    */
  override def traceOp(kind: String, i: Int, seconds: Double, c: Counters): Unit = {
    val actions = probe.takeActions()
    actions.filter(_.outputPath.exists(_.endsWith(lake.toString)))
      .foreach(a => layers("lake.append_s") += a.seconds)
    val hourDir = lake.resolve(s"${Lake.PartitionCol}=${CloudTrailLake.hourOf(seed, i)}")
    val (files, bytes) = CloudTrailLake.filesUnder(hourDir)
    layers("lake.files_written") += files
    layers("lake.mb_written") += bytes / 1e6
    val framed = CloudTrailLake.frame(lines(i))
    val shaped = CloudTrailLake.transform(framed)
    val resolved = SchemaResolver.resolve(shaped, pipeline.target)
    val tFrame = tracer.noop("measure.sources", framed)
    val tMap = tracer.noop("measure.transform", shaped)
    val tResolve = tracer.noop("measure.schema", resolved.resolved)
    layers("sources.frame_s") += tFrame
    layers("transform.map_s") += tMap - tFrame
    layers("schema.resolve_s") += tResolve - tMap
    layers("transform.rows_dropped") += framed.count() - shaped.count()
    layers("schema.rows_sidelined") += resolved.sidelined.count()
    measuring = true
    val events = try hourEvents(i) finally measuring = false
    val matches = matchesOf(events)
    val alerts = CloudTrailLake.alerts(spark, matches, pack)
    val tEvents = tracer.noop("measure.lake", events)
    val tMatches = tracer.noop("measure.detect", matches)
    val tAlerts = tracer.noop("measure.alerts", alerts)
    layers("operators.detect_s") += tMatches - tEvents
    layers("operators.alert_s") += tAlerts - tMatches
    layers("operators.matches") += matches.count()
    layers("operators.alerts") += alerts.count()
  }

  override def layerMetrics(timedOps: Int): Map[String, Double] =
    layers.toMap.map { case (k, v) => k -> v / timedOps } ++ Map(
      "config.rules_load_s" -> rulesLoadS,
      "lake.read_plan_s" -> tracer.seconds("lake.read") / timedOps)

  def checkPayload(): Map[String, Any] = {
    val perHour = Detection.ruleMatches(Lake.read(spark, lake.toString), pack.map(_.rule),
        CloudTrailLake.matchId)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hour"), col("rule_name"))
      .count().collect()
      .map(r => Map("hour" -> r.getString(0), "rule" -> r.getString(1), "n" -> r.getLong(2)))
    Map(
      "lake" -> lake.toString, "sideline" -> sideline.toString,
      "alerts_lake" -> alertsLake.toString,
      "batches" -> counts.toSeq.map { case (h, c) => Map("hour" -> h, "lines" -> c.lines,
        "non_json" -> c.nonJson, "mismatched" -> c.mismatched,
        "fields" -> c.fields.toSeq.map { case ((p, a, t, r), n) => Seq(p, a, t, r, n) },
        "users" -> c.users, "ts_ms_sum" -> c.tsMsSum) },
      "rules" -> pack.map(p => Map("name" -> p.rule.name, "threshold" -> p.cfg.threshold,
        "window_s" -> p.cfg.windowSeconds)),
      "program_matches" -> perHour.toSeq)
  }
}
