package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The managed AWS CloudTrail mapping (reference
  * data/managed/log_sources/aws_cloudtrail/log_source.yml, fixture
  * FIXTURES.md F1) re-expressed on the transform DSL: raw JSON lines →
  * ECS-shaped rows. Semi-structured subtrees (requestParameters /
  * responseElements) stay JSON-encoded strings, as the reference's
  * `encode_json` does; `related.*` arrays collect ip/user; the footer
  * stamps `ecs.version`.
  */
object CloudTrail {

  /** Typed subset of the raw record. `requestParameters` and
    * `responseElements` are read as strings: for an object, array, number
    * or boolean the JSON reader returns the value's compact JSON text, so
    * the one parse yields the `encode_json` form with no second pass over
    * the line.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("eventTime", StringType),
    StructField("eventSource", StringType),
    StructField("eventName", StringType),
    StructField("awsRegion", StringType),
    StructField("sourceIPAddress", StringType),
    StructField("userAgent", StringType),
    StructField("eventID", StringType),
    StructField("eventType", StringType),
    StructField("requestID", StringType),
    StructField("managementEvent", BooleanType),
    StructField("readOnly", BooleanType),
    StructField("recipientAccountId", StringType),
    StructField("requestParameters", StringType),
    StructField("responseElements", StringType),
    StructField("userIdentity", StructType(Seq(
      StructField("type", StringType),
      StructField("principalId", StringType),
      StructField("arn", StringType),
      StructField("accountId", StringType),
      StructField("accessKeyId", StringType),
      StructField("userName", StringType))))))

  /** Raw JSON-line frame (`json` column from Framing.preTransformJsonParse)
    * → ECS row.
    */
  def apply(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("r", from_json(col("json"), rawSchema))
    val base = parsed
      .withColumn("ts", to_timestamp(col("r.eventTime")))
      .withColumn("event", struct(
        col("r.eventName").as("action"),
        col("r.eventSource").as("provider"),
        col("r.eventID").as("id"),
        col("r.eventType").as("kind"),
        array(lit("configuration")).as("category")))
      .withColumn("cloud", struct(
        struct(col("r.userIdentity.accountId").as("id")).as("account"),
        col("r.awsRegion").as("region")))
      .withColumn("user", struct(
        col("r.userIdentity.userName").as("name"),
        col("r.userIdentity.principalId").as("id")))
      .withColumn("source", struct(
        col("r.sourceIPAddress").as("address"),
        when(isIpv4(col("r.sourceIPAddress")), col("r.sourceIPAddress")).as("ip")))
      .withColumn("user_agent", struct(col("r.userAgent").as("original")))
      .withColumn("related", struct(
        filter(array(col("r.sourceIPAddress")), x => isIpv4(x)).as("ip"),
        filter(array(col("r.userIdentity.userName")), _.isNotNull).as("user"),
        array().cast(ArrayType(StringType)).as("hash")))
      .withColumn("aws", struct(struct(
        col("r.userIdentity.type").as("user_identity_type"),
        col("r.userIdentity.arn").as("user_identity_arn"),
        col("r.eventType").as("event_type"),
        col("r.managementEvent").as("management_event"),
        col("r.readOnly").as("read_only"),
        col("r.requestID").as("request_id"),
        // encode_json semantics: subtree kept as its JSON text
        col("r.requestParameters").as("request_parameters"),
        col("r.responseElements").as("response_elements")
      ).as("cloudtrail")))
      .drop("r", "json")
    // abort records without a parseable event time (reference P8: missing
    // ts is an error), then stamp the footer.
    val aborted = Transform(Seq(AbortWhen(col("ts").isNull)))(base)
    ecsFooter(aborted)
  }
}
