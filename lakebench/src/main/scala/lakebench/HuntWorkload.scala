package lakebench

import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.Lake
import graft.operators.{Alerts, Detection, Enrichment}
import graft.schema.SchemaResolver
import graft.sources.Framing
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `hunt`: each op is one hunting query over four days of hour-partitioned
  * CloudTrail lake, from a fixed mix of templates with seeded parameters.
  * Set-up builds the lake with `Lake.append` in batch-sized appends: the
  * older days in the one-file-per-hour layout compaction leaves, the
  * last day as four appends of six round-robin tasks each (six files per
  * hour), of which the two oldest hours are then compacted with
  * `Lake.compactHour`. Rows are generated in the table's schema directly
  * (a guard in set-up checks them against the ingest path), because
  * parsing a week of JSON would dominate set-up.
  */
final class HuntWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val days = 4
  val rowsPerHour = 500
  val round: Seq[String] = Seq("timeline", "ioc_sweep", "top_actions", "ips_per_hour", "sigma_sweep")
  val warmupRounds = 2

  private val lake = work.resolve("lake").resolve(CloudTrailLake.table)
  private var pack: Seq[CloudTrailLake.PackRule] = Nil
  private var iocs: DataFrame = _
  private var rulesLoadS = 0.0
  private val checked = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def hour(h: Int) = CloudTrailLake.hourOf(seed, h)

  def setup(): Unit = {
    val t0 = System.nanoTime()
    pack = tracer.span("config.loadRulePack")(CloudTrailLake.loadRules(benchDir.resolve("rules")))
    rulesLoadS = (System.nanoTime() - t0) / 1e9
    val target = CloudTrailLake.target(spark)
    val (genSeed, perHour) = (seed, rowsPerHour) // plain values for the task closure
    def events(hours: Seq[Int]) = hours.iterator.flatMap(h =>
      CloudTrailGen.lines(genSeed, h, perHour, dirty = false).collect { case Right(e) => e })
    // generated inside tasks, one event-time hour at a time
    def rows(hours: Seq[Int]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(hours, hours.size min 24).flatMap(h =>
        CloudTrailGen.lines(genSeed, h, perHour, dirty = false)
          .collect { case Right(e) => CloudTrailGen.row(e, target) }), target)
    // The lake rows are built directly; this guard proves they equal what
    // the ingest path (framing, managed transform, resolution) makes of the
    // same events' JSON lines.
    val sample = work.resolve("sample.json")
    Files.write(sample, events(Seq(0)).take(200).map(CloudTrailGen.json).toSeq.asJava)
    val viaIngest = SchemaResolver.resolve(CloudTrailLake.transform(CloudTrailLake.frame(
      Framing.textLines(spark, sample.toString))), target).resolved.collect().sortBy(_.toString)
    val direct = events(Seq(0)).take(200).map(CloudTrailGen.row(_, target)).toSeq.sortBy(_.toString)
    require(viaIngest.toSeq == direct, "generated lake rows differ from the ingest path's: " +
      viaIngest.zip(direct).find(p => p._1 != p._2))
    Files.delete(sample)
    Lake.append(Lake.withHourPartition(rows(0 until (days - 1) * 24))
      .repartition(col(Lake.PartitionCol)), lake.toString)
    val recent = (days - 1) * 24
    for (a <- 0 until 4)
      Lake.append(rows((recent + a * 6) until (recent + a * 6 + 6)).repartition(6), lake.toString)
    for (h <- recent until recent + 2) Lake.compactHour(spark, lake.toString, hour(h))
    // IOC feed: most addresses from the seed's client pool, the rest unseen
    val pool = CloudTrailGen.ipPool(seed)
    val r = new SplittableRandom(seed * 131L + 7L)
    val threats = Array("botnet", "tor_exit", "scanner", "c2", "phishing")
    val seen = (0 until 150).map(_ => pool(r.nextInt(pool.length))).distinct
    val unseen = (0 until 50).map(k => s"203.0.113.${k + 1}")
    import spark.implicits._
    iocs = (seen ++ unseen).map(ip => (ip, threats(r.nextInt(threats.length)), 50 + r.nextInt(50)))
      .toDF("ip", "threat", "confidence")
  }

  // set while traceOp re-plans an op, so its lake reads stay out of the
  // op's `lake.read` spans
  private var measuring = false

  private def lakeRows(): DataFrame =
    if (measuring) Lake.read(spark, lake.toString)
    else tracer.span("lake.read")(Lake.read(spark, lake.toString))

  private def day(d: Int): DataFrame = lakeRows()
    .filter(col(Lake.PartitionCol) >= hour(d * 24) && col(Lake.PartitionCol) <= hour(d * 24 + 23))

  /** The template's plan, split where a layer's output ends: `(slice,
    * layered, result)`. `layered` is the output of the enrichment or
    * detection layer (null for templates without one).
    */
  private def plan(kind: String, i: Int): (Map[String, Any], DataFrame, DataFrame, DataFrame) = {
    val r = new SplittableRandom(seed * 1000L + i)
    kind match {
      case "timeline" =>
        val u = CloudTrailGen.userName(r.nextInt(CloudTrailGen.userCount))
        val d = r.nextInt(days)
        val slice = day(d).filter(col("user.name") === u)
          .select(col("ts"), col("event.id").as("id"), col("event.action").as("action"),
            col("event.provider").as("provider"), col("source.address").as("address"))
        (Map("user" -> u, "day" -> d, "from" -> hour(d * 24), "to" -> hour(d * 24 + 23)),
          slice, null, slice.orderBy(col("ts"), col("id")))
      case "ioc_sweep" =>
        val d = r.nextInt(days)
        val slice = day(d).select(col("source.ip").as("ip"), col("user.name").as("user"))
        val joined = tracer.span("operators.lookupJoin")(
          Enrichment.lookupJoin(slice, iocs, col("ip"), "ip", "ioc"))
        (Map("day" -> d, "from" -> hour(d * 24), "to" -> hour(d * 24 + 23)), slice, joined,
          joined.filter(col("ioc").isNotNull)
            .groupBy(col("ioc.threat").as("threat"), col("user"))
            .agg(count(lit(1)).as("hits")))
      case "top_actions" =>
        val region = CloudTrailGen.regions(r.nextInt(CloudTrailGen.regions.length))
        val slice = lakeRows().filter(col("cloud.region") === region)
          .select(col("event.action").as("action"))
        (Map("region" -> region), slice, null,
          slice.groupBy(col("action")).agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("action")).limit(10))
      case "ips_per_hour" =>
        val slice = lakeRows().select(col(Lake.PartitionCol), col("source.ip").as("ip"))
        (Map.empty, slice, null,
          slice.groupBy(col(Lake.PartitionCol)).agg(countDistinct(col("ip")).as("ips")))
      case "sigma_sweep" =>
        val d = r.nextInt(days)
        val slice = CloudTrailLake.ruleColumns(day(d))
        val matches = tracer.span("operators.ruleMatches")(
          Detection.ruleMatches(slice, pack.map(_.rule), CloudTrailLake.matchId))
        (Map("day" -> d, "from" -> hour(d * 24), "to" -> hour(d * 24 + 23)), slice, matches,
          matches.groupBy(col("rule_name"))
            .agg(count(lit(1)).as("n"), countDistinct(col("dedupe")).as("users")))
    }
  }

  private def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp => Alerts.tsToUs(t)
    case other => other
  }

  def op(kind: String, i: Int): Unit = {
    val (params, _, _, result) = plan(kind, i)
    val rows = result.collect()
    if (!checked.contains(kind) && i >= warmupRounds * round.size)
      checked(kind) = Map("index" -> i, "params" -> params, "columns" -> result.columns.toSeq,
        "rows" -> rows.toSeq.map((row: Row) => row.toSeq.map(cell)))
  }

  /** Untimed per-layer measurement (noop sink, one prefix at a time). */
  override def traceOp(kind: String, i: Int, seconds: Double, c: Counters): Unit = {
    probe.takeActions()
    measuring = true
    val (_, slice, layered, _) = try plan(kind, i) finally measuring = false
    if (layered != null) {
      val tSlice = tracer.noop("measure.lake", slice)
      val tLayer = tracer.noop("measure.layer", layered)
      val key = if (kind == "ioc_sweep") "operators.enrich_s" else "operators.detect_s"
      layers(key) += tLayer - tSlice
      if (kind == "sigma_sweep") layers("operators.matches") += layered.count()
    }
  }

  override def layerMetrics(timedOps: Int): Map[String, Double] =
    layers.toMap.map { case (k, v) => k -> v / timedOps } ++ Map(
      "config.rules_load_s" -> rulesLoadS,
      "lake.read_plan_s" -> tracer.seconds("lake.read") / timedOps)

  def checkPayload(): Map[String, Any] = Map(
    "lake" -> lake.toString,
    "iocs" -> iocs.collect().toSeq.map(r => Seq(r.getString(0), r.getString(1), r.getInt(2))),
    "rules" -> pack.map(_.rule.name),
    "instances" -> checked.toMap)
}
