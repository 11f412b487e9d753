package graft.transform.managed

import graft.transform.Grok
import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed AWS ELB access-log mapping (reference
  * data/managed/log_sources/aws_elb/log_source.yml): classic ELB HTTP/TCP
  * lines plus ALB (v2 http) and NLB (v2 tls) formats, parsed with the
  * reference's exact grok pattern set (ordered alternatives, first full
  * match wins) and shaped to ECS — event timing/duration, source,
  * http/url/tls/user_agent, aws.elb vendor struct.
  *
  * The grok compiles to regexp_extract column graphs (no UDF, stays in
  * whole-stage codegen); each captured dotted field lands at its nested
  * path via setPath, numeric casts are try-casts (bad token → null, VRL
  * fallible-call parity).
  */
object AwsElb {

  private val defs = Map(
    "ELBTIMESTAMP" -> "%{TIMESTAMP_ISO8601:ts}",
    "ELBNAME" -> "%{NOTSPACE:aws.elb.name}",
    "ELBSOURCE" -> "%{IP:source.address}:%{POSINT:source.port}",
    "ELBBACKEND" -> "(?:-|%{IP:aws.elb.backend.ip}:%{POSINT:aws.elb.backend.port})",
    "ELBPROCESSINGTIME" -> "(?:-1|%{NUMBER:aws.elb.request_processing_time.sec}) (?:-1|%{NUMBER:aws.elb.backend_processing_time.sec}) (?:-1|%{NUMBER:aws.elb.response_processing_time.sec})",
    "ELBSSL" -> "(?:-|%{NOTSPACE:aws.elb.ssl_cipher}) (?:-|%{NOTSPACE:aws.elb.ssl_protocol})",
    "ELBCOMMON" -> "%{ELBTIMESTAMP} %{ELBNAME} %{ELBSOURCE} %{ELBBACKEND} %{ELBPROCESSINGTIME}",
    "ELBHTTPLOG" -> "%{ELBCOMMON} %{NUMBER:http.response.status_code} (?:-|%{NUMBER:aws.elb.backend.http.response.status_code}) %{NUMBER:http.request.body.bytes} %{NUMBER:http.response.body.bytes} \"(?:-|%{WORD:http.request.method}) (?:-|%{DATA:_tmp.uri_orig}) (?:-|HTTP/%{NOTSPACE:http.version})\" \"%{DATA:_tmp.user_agent}\" %{ELBSSL}",
    "ELBTCPLOG" -> "%{ELBCOMMON} - - %{NUMBER:source.bytes} %{NUMBER:destination.bytes} \"- - - \" \"-\" %{ELBSSL}",
    "ELBV2TYPE" -> "%{WORD:aws.elb.type}",
    "ELBV2LOGVERSION" -> "%{NOTSPACE}")

  private val patternStrs = Seq(
    "%{ELBHTTPLOG}",
    "%{ELBTCPLOG}",
    "%{ELBV2TYPE} %{ELBHTTPLOG} %{NOTSPACE:aws.elb.target_group.arn} \"%{DATA:aws.elb.trace_id}\" \"(?:-|%{DATA:destination.domain})\" \"(?:-|%{DATA:aws.elb.chosen_cert.arn})\" (?:-1|%{NUMBER:aws.elb.matched_rule_priority}) %{TIMESTAMP_ISO8601:event.start} \"(?:-|%{DATA:_tmp.actions_executed})\" \"(?:-|%{DATA:aws.elb.redirect_url})\" \"(?:-|%{DATA:aws.elb.error.reason})\"( \"(?:-|%{DATA:_tmp.target_port})\")?( \"(?:-|%{DATA:_tmp.target_status_code})\")?( \"(?:-|%{DATA:aws.elb.classification})\")?( \"(?:-|%{DATA:aws.elb.classification_reason})\")?",
    "%{ELBV2TYPE} %{ELBV2LOGVERSION} %{ELBTIMESTAMP} %{ELBNAME} %{NOTSPACE:aws.elb.listener} %{ELBSOURCE} %{ELBBACKEND} %{NUMBER:aws.elb.connection_time.ms} %{NUMBER:aws.elb.tls_handshake_time.ms} %{NUMBER:source.bytes} %{NUMBER:destination.bytes} (?:-|%{NUMBER:aws.elb.incoming_tls_alert}) (?:-|%{NOTSPACE:aws.elb.chosen_cert.arn}) (?:-|%{NOTSPACE:aws.elb.chosen_cert.serial}) %{ELBSSL} (?:-|%{NOTSPACE:aws.elb.ssl_named_group}) (?:-|%{NOTSPACE:destination.domain})")

  private lazy val grok = Grok.compileAll(patternStrs, defs)

  def apply(df: DataFrame): DataFrame = {
    // keep the ingest-time ts as fallback: on a non-matching line the
    // reference leaves .ts untouched (grok merge is conditional)
    val withIngest =
      if (df.columns.contains("ts")) df.withColumn("_ingest_ts", col("ts"))
      else df.withColumn("_ingest_ts", lit(null).cast(TimestampType))
    // materialize the 4 match arrays as columns: each alternative's regex
    // runs exactly once per row no matter how many fields read from it
    val (widened, cols, tmpCols) = grok.materialized(withIngest, col("message"))
    // land every capture at its dotted path (deterministic order; sorting
    // places deeper paths consistently)
    val placed = cols.toSeq.sortBy(_._1).foldLeft(widened) {
      case (d, (p, c)) => setPath(d, p, c)
    }.drop(tmpCols: _*)

    var out = placed
    def g(p: String): Column = getPath(out, p)
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    def cast(p: String, t: DataType): Unit = out = castPath(out, p, t)

    set("ts", coalesce(try_to_timestamp(g("ts")), col("_ingest_ts")))
    out = out.drop("_ingest_ts")
    set("event.start", try_to_timestamp(g("event.start")))
    set("event.kind", lit("event"))
    set("event.end", col("ts"))
    set("cloud.provider", lit("aws"))
    set("event.duration",
      (unix_micros(g("event.end")) - unix_micros(g("event.start"))) * 1000L)
    set("aws.elb.action_executed", split(g("_tmp.actions_executed"), ","))
    set("aws.elb.target_status_code", g("_tmp.target_status_code"))
    set("aws.elb.target_port", g("_tmp.target_port"))
    set("trace.id", g("aws.elb.trace_id"))
    set("source.ip", g("source.address"))
    cast("source.port", IntegerType)
    cast("aws.elb.connection_time.ms", LongType)
    cast("aws.elb.tls_handshake_time.ms", LongType)
    cast("aws.elb.backend.http.response.status_code", LongType)
    cast("aws.elb.request_processing_time.sec", FloatType)
    cast("aws.elb.response_processing_time.sec", FloatType)
    cast("aws.elb.backend_processing_time.sec", FloatType)
    cast("http.request.body.bytes", LongType)
    cast("http.response.body.bytes", LongType)
    cast("http.response.status_code", LongType)
    cast("source.bytes", LongType)
    cast("destination.bytes", LongType)

    // url from the raw request uri (VRL parse_url with default_known_ports)
    val uri = g("_tmp.uri_orig")
    set("url.original", uri)
    set("url.scheme", parse_url(uri, lit("PROTOCOL")))
    set("url.domain", parse_url(uri, lit("HOST")))
    set("url.path", parse_url(uri, lit("PATH")))
    set("url.query", try_element_at(split(uri, "\\?", 2), lit(2)))
    set("url.port", coalesce(
      when(regexp_extract(uri, "^[A-Za-z][A-Za-z0-9+.-]*://[^/:]+:([0-9]+)", 1) =!= "",
        regexp_extract(uri, "^[A-Za-z][A-Za-z0-9+.-]*://[^/:]+:([0-9]+)", 1)).cast(LongType),
      when(g("url.scheme") === "https", 443L).when(g("url.scheme") === "http", 80L)))

    set("tls.cipher", g("aws.elb.ssl_cipher"))
    // TLSv1.2 → version "1.2" (only when dotted), version_protocol "tls"
    val sslParts = split(g("aws.elb.ssl_protocol"), "v", 2)
    val verTail = try_element_at(sslParts, lit(2))
    set("tls.version", when(verTail.contains("."), verTail))
    set("tls.version_protocol", lower(try_element_at(sslParts, lit(1))))

    set("user_agent.original", g("_tmp.user_agent"))

    val status = g("http.response.status_code")
    set("event.outcome",
      when(status >= 400L, "failure").when(status < 400L, "success"))

    val isHttp = status.isNotNull || g("http.request.method").isNotNull
    set("event.category", when(isHttp, array(lit("web"))).otherwise(array(lit("network"))))
    set("aws.elb.protocol", when(isHttp, "http").otherwise("tcp"))

    out = delPath(out, "_tmp")
    out = delPath(out, "message")
    ecsFooter(out)
  }
}
