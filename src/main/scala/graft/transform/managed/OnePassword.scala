package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed 1Password sign-in-attempt mapping (reference
  * data/managed/log_sources/onepassword/tables/signin_attempts.yml):
  * timestamp-less events abort; category → action/outcome (the
  * firewall_reported_success form also counts as success); target-user
  * identity fans into user.* and related.user.
  */
object OnePassword {

  val rawSchema: StructType = StructType(Seq(
    StructField("uuid", StringType),
    StructField("session_uuid", StringType),
    StructField("timestamp", StringType),
    StructField("category", StringType),
    StructField("type", StringType),
    StructField("country", StringType),
    StructField("target_user", StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("email", StringType)))),
    StructField("client", StructType(Seq(
      StructField("app_name", StringType), StructField("app_version", StringType),
      StructField("platform_name", StringType), StructField("platform_version", StringType),
      StructField("os_name", StringType), StructField("os_version", StringType),
      StructField("ip_address", StringType)))),
    StructField("details", StructType(Seq(StructField("value", StringType))))))

  def apply(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("r", from_json(col("json"), rawSchema))
    var out = parsed.filter(col("r.timestamp").isNotNull) // VRL aborts no-ts rows
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.kind", lit("event"))
    set("event.category", array(lit("authentication")))
    set("event.type", array(lit("info")))
    set("event.original", col("json"))
    set("event.action", col("r.category"))
    set("event.outcome",
      when(col("r.category").isin("success", "firewall_reported_success"), "success")
        .otherwise("failure"))
    set("ts", try_to_timestamp(col("r.timestamp")))

    set("onepassword", struct(
      col("r.uuid").as("uuid"),
      col("r.session_uuid").as("session_uuid"),
      col("r.type").as("type"),
      col("r.country").as("country"),
      struct(
        col("r.client.app_name").as("app_name"),
        col("r.client.app_version").as("app_version"),
        col("r.client.platform_name").as("platform_name"),
        col("r.client.platform_version").as("platform_version")).as("client"),
      col("r.details").as("details")))

    set("user.id", col("r.target_user.uuid"))
    set("user.full_name", col("r.target_user.name"))
    set("user.email", col("r.target_user.email"))
    set("os.name", col("r.client.os_name"))
    set("os.version", col("r.client.os_version"))
    set("source.ip", col("r.client.ip_address"))
    set("related.user", filter(array(
      col("r.target_user.uuid"), col("r.target_user.email"),
      col("r.target_user.name")), x => x.isNotNull))
    set("related.ip", filter(array(col("r.client.ip_address")), x => x.isNotNull))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
