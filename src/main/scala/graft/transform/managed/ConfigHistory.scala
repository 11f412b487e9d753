package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Managed AWS Config history mapping (reference
  * data/managed/log_sources/aws_config_history/log_source.yml): each
  * record is one configurationItem (the source's payload expansion
  * explodes `configurationItems[]` — [[graft.sources.Framing.expandRecords]];
  * WritabilityCheck/OversizedChangeNotification objects are skipped by
  * metadata routing). Maps resource identity/relationships, tag
  * flattening to `k=v` strings, service name from `AWS::Svc::Type`, and
  * status → creation/deletion/change event typing.
  */
object ConfigHistory {

  val rawSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("configurationItemCaptureTime", StringType),
    StructField("configurationItemMD5Hash", StringType),
    StructField("configurationStateId", StringType),
    StructField("configurationItemStatus", StringType),
    StructField("arn", StringType),
    StructField("resourceType", StringType),
    StructField("resourceId", StringType),
    StructField("resourceName", StringType),
    StructField("resourceCreationTime", StringType),
    StructField("relatedEvents", ArrayType(StringType)),
    StructField("relationships", ArrayType(StructType(Seq(
      StructField("resourceName", StringType),
      StructField("resourceType", StringType),
      StructField("resourceId", StringType),
      StructField("relationshipName", StringType))))),
    StructField("awsRegion", StringType),
    StructField("awsAccountId", StringType),
    StructField("accountId", StringType),
    StructField("availabilityZone", StringType),
    StructField("configuration", StringType),
    StructField("tags", MapType(StringType, StringType))))

  def apply(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), rawSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    // reference uses now() (no event time in the item); capture time is
    // the better event-time anchor when present
    set("ts", coalesce(
      try_to_timestamp(col("r.configurationItemCaptureTime")), current_timestamp()))

    set("aws.config_history", struct(
      col("r.version").as("version"),
      struct(
        col("r.configurationItemStatus").as("status"),
        try_to_timestamp(col("r.configurationItemCaptureTime")).as("capture_time"),
        col("r.configurationItemMD5Hash").as("md5_hash"),
        col("r.configurationStateId").as("state_id")).as("item"),
      col("r.arn").as("arn"),
      struct(
        col("r.resourceType").as("type"),
        col("r.resourceId").as("id"),
        col("r.resourceName").as("name"),
        try_to_timestamp(col("r.resourceCreationTime")).as("created")).as("resource"),
      col("r.relatedEvents").as("related_events"),
      F.transform(col("r.relationships"), v => struct(
        trim(v.getField("relationshipName")).as("name"),
        struct(
          v.getField("resourceName").as("name"),
          v.getField("resourceType").as("type"),
          v.getField("resourceId").as("id")).as("resource"))).as("relationship"),
      col("r.configuration").as("configuration"),
      to_json(col("r.tags")).as("tags")))

    set("cloud.provider", lit("aws"))
    set("cloud.region", col("r.awsRegion"))
    set("cloud.account.id", coalesce(col("r.awsAccountId"), col("r.accountId")))
    set("cloud.availability_zone",
      when(!col("r.availabilityZone").isin("Not Applicable", "Regional"),
        col("r.availabilityZone")))
    // AWS::SQS::Queue → sqs
    set("cloud.service.name",
      lower(try_element_at(split(col("r.resourceType"), "::", 3), lit(2))))

    set("tags", F.transform(map_entries(col("r.tags")),
      e => concat_ws("=", e.getField("key"), e.getField("value"))))

    set("event.kind", lit("event"))
    set("event.category", array(lit("configuration")))
    set("event.hash", col("r.configurationItemMD5Hash"))
    val status = col("r.configurationItemStatus")
    set("event.type", when(status.contains("ResourceDeleted"), array(lit("deletion")))
      .when(status.isin("ResourceDiscovered", "ResourceNotRecorded"), array(lit("creation")))
      .when(status.isNotNull, array(lit("change"))))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
