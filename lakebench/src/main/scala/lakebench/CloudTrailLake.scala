package lakebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.config.SigmaRules
import graft.operators.{Alerts, Detection}
import graft.sources.Framing
import graft.transform.managed.CloudTrail
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `aws_cloudtrail` table as both the ingest and hunt workloads use it:
  * framing, the managed CloudTrail transform plus one custom field, the
  * table schema, and the Sigma rule pack with its alert settings.
  */
object CloudTrailLake {

  val table = "aws_cloudtrail"

  /** Raw lines `{ts, message}` → framed `{ts, message, json}`. */
  def frame(lines: DataFrame): DataFrame = Framing.preTransformJsonParse(lines)

  /** Managed CloudTrail mapping, plus the user field `source.bytes` taken
    * from `additionalEventData.bytesTransferredIn` as a dynamic (string)
    * value that schema resolution types to long.
    */
  def transform(framed: DataFrame): DataFrame =
    CloudTrail(framed.withColumn("__bytes_in",
        get_json_object(col("json"), "$.additionalEventData.bytesTransferredIn")))
      .withColumn("source", col("source").withField("bytes", col("__bytes_in")))
      .drop("__bytes_in", "message")

  /** The lake table's schema: the transform's output with `source.bytes`
    * declared long.
    */
  def target(spark: SparkSession): StructType = {
    val empty = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("ts", TimestampType), StructField("message", StringType))))
    StructType(transform(frame(empty)).schema.fields.map {
      case f if f.name == "source" =>
        f.copy(dataType = StructType(f.dataType.asInstanceOf[StructType].fields.map {
          case b if b.name == "bytes" => b.copy(dataType = LongType)
          case other => other
        }))
      case other => other
    })
  }

  /** The lake columns the rule pack and alerts read, nested as in the
    * table, so a rule's field paths resolve unchanged and the scan reads
    * only these leaves.
    */
  def ruleColumns(lakeRows: DataFrame): DataFrame = lakeRows.select(
    col("ts"),
    struct(col("event.id").as("id"), col("event.action").as("action"),
      col("event.provider").as("provider")).as("event"),
    struct(col("user.name").as("name")).as("user"),
    struct(col("cloud.region").as("region")).as("cloud"),
    struct(struct(col("aws.cloudtrail.user_identity_type").as("user_identity_type"))
      .as("cloudtrail")).as("aws"))

  /** Match id of a lake row (CloudTrail event ids are strings). */
  val matchId = xxhash64(col("event.id"))

  final case class PackRule(rule: Detection.Rule, cfg: Alerts.AlertConfig)

  /** Load the Sigma pack under `dir`; each file's `custom` block carries the
    * alert threshold and deduplication window, and alerts dedupe on
    * `user.name`.
    */
  def loadRules(dir: Path): Seq[PackRule] = {
    val (rules, _) = SigmaRules.loadRulePack(dir.toString, SigmaRules.ecsCloudtrail)
    val yaml = new ObjectMapper(new YAMLFactory())
    val custom = Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".yml")).map { f =>
      val n = yaml.readTree(f.toFile)
      n.path("title").asText -> Alerts.AlertConfig(n.path("custom").path("threshold").asInt,
        n.path("custom").path("window_s").asLong)
    }.toMap
    rules.map { r =>
      val cfg = custom(r.title)
      PackRule(r.toRule(dedupe = col("user.name"), threshold = cfg.threshold,
        windowSeconds = cfg.windowSeconds), cfg)
    }
  }

  /** Alerts of `matches`: one anchored-window aggregation per distinct alert
    * setting, over that setting's rules only.
    */
  def alerts(spark: SparkSession, matches: DataFrame, pack: Seq[PackRule]): DataFrame =
    pack.groupBy(_.cfg).toSeq.sortBy(_._2.head.rule.name).map { case (cfg, rs) =>
      Alerts.aggregate(spark, matches.filter(col("rule_name").isin(rs.map(_.rule.name): _*)), cfg)
        .toDF()
    }.reduce(_.unionByName(_))

  def hourOf(seed: Long, hour: Int): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(CloudTrailGen.hourStartMs(seed, hour)))

  /** Files and bytes under `dir` (recursive), ignoring Spark's marker files. */
  def filesUnder(dir: Path): (Int, Long) =
    if (!Files.exists(dir)) (0, 0L)
    else {
      val fs = Files.walk(dir).iterator.asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")).toVector
      (fs.size, fs.map(Files.size).sum)
    }
}
