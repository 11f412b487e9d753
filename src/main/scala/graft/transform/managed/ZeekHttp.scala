package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed Zeek http.log mapping (reference
  * data/managed/log_sources/zeek/tables/http.yml): JSON http records →
  * ECS http request/response, url credentials/domain, user-agent, status
  * code → outcome.
  */
object ZeekHttp {

  val rawSchema: StructType = StructType(Seq(
    StructField("ts", DoubleType),
    StructField("uid", StringType),
    StructField("id.orig_h", StringType),
    StructField("id.orig_p", IntegerType),
    StructField("id.resp_h", StringType),
    StructField("id.resp_p", IntegerType),
    StructField("trans_depth", IntegerType),
    StructField("method", StringType),
    StructField("host", StringType),
    StructField("uri", StringType),
    StructField("referrer", StringType),
    StructField("version", StringType),
    StructField("user_agent", StringType),
    StructField("username", StringType),
    StructField("password", StringType),
    StructField("request_body_len", LongType),
    StructField("response_body_len", LongType),
    StructField("status_code", LongType),
    StructField("status_msg", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("resp_fuids", ArrayType(StringType)),
    StructField("resp_mime_types", ArrayType(StringType))))

  def apply(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("r", from_json(col("json"), rawSchema))
    var out = parsed.filter(col("r.ts").isNotNull)
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    def r(n: String): Column = col(s"`r`.`$n`")

    set("event.kind", lit("event"))
    set("event.category", array(lit("network"), lit("web")))
    set("event.type", array(lit("connection"), lit("protocol")))
    set("network.transport", lit("tcp"))
    set("ts", timestamp_seconds(col("r.ts")))

    set("source.address", r("id.orig_h"))
    set("source.ip", r("id.orig_h"))
    set("source.port", r("id.orig_p"))
    set("destination.address", r("id.resp_h"))
    set("destination.ip", r("id.resp_h"))
    set("destination.port", r("id.resp_p"))
    set("zeek.session_id", col("r.uid"))
    set("event.id", col("r.uid"))

    set("http.request.method", col("r.method"))
    set("http.request.referrer", col("r.referrer"))
    set("http.response.status_code", col("r.status_code"))
    set("http.version", col("r.version"))
    set("http.request.body.bytes", col("r.request_body_len"))
    set("http.response.body.bytes", col("r.response_body_len"))
    set("url.domain", col("r.host"))
    set("url.username", col("r.username"))
    set("url.password", col("r.password"))
    set("user_agent.original", col("r.user_agent"))
    set("event.action", col("r.method"))
    set("user.name", col("r.username"))

    set("event.outcome",
      when(col("r.status_code") < 400L, "success")
        .when(col("r.status_code").isNotNull, "failure"))

    set("zeek.http", struct(
      col("r.trans_depth").as("trans_depth"),
      col("r.status_msg").as("status_msg"),
      col("r.tags").as("tags"),
      col("r.resp_fuids").as("resp_fuids"),
      col("r.resp_mime_types").as("resp_mime_types")))

    set("related.ip", array_distinct(
      filter(array(r("id.orig_h"), r("id.resp_h")), x => x.isNotNull)))
    set("related.user", filter(array(col("r.username")), x => x.isNotNull))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
