package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed Zeek conn.log mapping (reference
  * data/managed/log_sources/zeek/tables/connection.yml): JSON connection
  * records → ECS endpoints/counters, the conn_state message/type table,
  * ICMP type/code repurposing of the port fields, local_orig/local_resp
  * direction matrix, and summed network totals.
  */
object ZeekConn {

  /** conn_state → (message, event.type values) — the reference's table. */
  val connStateInfo: Map[String, (String, Seq[String])] = Map(
    "S0" -> ("Connection attempt seen, no reply.", Seq("connection", "start")),
    "S1" -> ("Connection established, not terminated.", Seq("connection", "start")),
    "SF" -> ("Normal establishment and termination.", Seq("connection", "start", "end")),
    "REJ" -> ("Connection attempt rejected.", Seq("connection", "start", "denied")),
    "S2" -> ("Connection established and close attempt by originator seen (but no reply from responder).", Seq("connection", "info")),
    "S3" -> ("Connection established and close attempt by responder seen (but no reply from originator).", Seq("connection", "info")),
    "RSTO" -> ("Connection established, originator aborted (sent a RST).", Seq("connection", "info")),
    "RSTR" -> ("Responder sent a RST.", Seq("connection", "info")),
    "RSTOS0" -> ("Originator sent a SYN followed by a RST, we never saw a SYN-ACK from the responder.", Seq("connection", "info")),
    "RSTRH" -> ("Responder sent a SYN ACK followed by a RST, we never saw a SYN from the (purported) originator.", Seq("connection", "info")),
    "SH" -> ("Originator sent a SYN followed by a FIN, we never saw a SYN ACK from the responder (hence the connection was 'half' open).", Seq("connection", "info")),
    "SHR" -> ("Responder sent a SYN ACK followed by a FIN, we never saw a SYN from the originator.", Seq("connection", "info")),
    "OTH" -> ("No SYN seen, just midstream traffic (a 'partial connection' that was not later closed).", Seq("connection", "info")))

  val rawSchema: StructType = StructType(Seq(
    StructField("ts", DoubleType),
    StructField("uid", StringType),
    StructField("id.orig_h", StringType),
    StructField("id.orig_p", IntegerType),
    StructField("id.resp_h", StringType),
    StructField("id.resp_p", IntegerType),
    StructField("proto", StringType),
    StructField("service", StringType),
    StructField("duration", DoubleType),
    StructField("conn_state", StringType),
    StructField("local_orig", BooleanType),
    StructField("local_resp", BooleanType),
    StructField("missed_bytes", LongType),
    StructField("history", StringType),
    StructField("orig_pkts", LongType),
    StructField("orig_ip_bytes", LongType),
    StructField("resp_pkts", LongType),
    StructField("resp_ip_bytes", LongType),
    StructField("orig_l2_addr", StringType),
    StructField("resp_l2_addr", StringType)))

  def apply(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("r", from_json(col("json"), rawSchema))
    var out = parsed.filter(col("r.ts").isNotNull) // no-ts records abort
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    def r(n: String): Column = col(s"`r`.`$n`")

    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("ts", timestamp_seconds(col("r.ts")))

    val isIcmp = col("r.proto") === "icmp"
    set("source.address", r("id.orig_h"))
    set("source.ip", r("id.orig_h"))
    set("source.port", when(!isIcmp, r("id.orig_p")))
    set("destination.address", r("id.resp_h"))
    set("destination.ip", r("id.resp_h"))
    set("destination.port", when(!isIcmp, r("id.resp_p")))
    set("network.transport", col("r.proto"))
    set("network.protocol", col("r.service"))
    set("zeek.session_id", col("r.uid"))
    set("event.id", col("r.uid"))
    set("source.bytes", col("r.orig_ip_bytes"))
    set("destination.bytes", col("r.resp_ip_bytes"))
    set("source.packets", col("r.orig_pkts"))
    set("destination.packets", col("r.resp_pkts"))
    set("source.mac", col("r.orig_l2_addr"))
    set("destination.mac", col("r.resp_l2_addr"))
    set("event.duration", (col("r.duration") * 1e9d).cast(LongType))

    val state = col("r.conn_state")
    val stateMsg = connStateInfo.foldLeft(lit(null).cast(StringType)) {
      case (acc, (k, (msg, _))) => when(state === k, lit(msg)).otherwise(acc)
    }
    set("event.type", connStateInfo.foldLeft(lit(null).cast(ArrayType(StringType))) {
      case (acc, (k, (_, types))) =>
        when(state === k, array(types.map(lit): _*)).otherwise(acc)
    })

    set("zeek.connection", struct(
      state.as("state"),
      stateMsg.as("state_message"),
      col("r.history").as("history"),
      col("r.missed_bytes").as("missed_bytes"),
      col("r.local_orig").as("local_orig"),
      col("r.local_resp").as("local_resp"),
      struct(
        when(isIcmp, r("id.orig_p")).as("type"),
        when(isIcmp, r("id.resp_p")).as("code")).as("icmp")))

    set("tags", filter(array(
      when(col("r.local_orig").isNotNull, "local_orig"),
      when(col("r.local_resp").isNotNull, "local_resp")), x => x.isNotNull))

    set("related.ip", array_distinct(
      filter(array(r("id.orig_h"), r("id.resp_h")), x => x.isNotNull)))
    set("network.packets", col("r.orig_pkts") + col("r.resp_pkts"))
    set("network.bytes", col("r.orig_ip_bytes") + col("r.resp_ip_bytes"))

    val lo = col("r.local_orig"); val lr = col("r.local_resp")
    set("network.direction",
      when(lo === true && lr === true, "internal")
        .when(lo === true && lr === false, "outbound")
        .when(lo === false && lr === true, "inbound")
        .when(lo === false && lr === false, "external"))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
