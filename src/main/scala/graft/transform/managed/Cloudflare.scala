package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed Cloudflare mappings — all 7 reference tables
  * (data/managed/log_sources/cloudflare/tables/{dns,audit,firewall_event,
  * http_request,nel_report,network_analytics,spectrum_event}.yml): one log
  * source fanning into per-table transforms (the S7 routing shape) — dns
  * query logs → ECS dns/source/related, account audit logs →
  * authentication events with actor identity, firewall events →
  * rule/action/http with parsed user agent, http request logs → full
  * edge/origin/cache telemetry, NEL browser error reports, Magic Transit
  * L3/L4 flow samples, Spectrum proxy session events.
  */
object Cloudflare {

  /** `HTTP/1.1` → (network.protocol "http", http.version "1.1") — the
    * reference groks `^%{DATA:network.protocol}/%{DATA:http.version}$`.
    */
  private def protoParts(c: Column): (Column, Column) = (
    when(c.contains("/"), lower(substring_index(c, "/", 1))),
    when(c.contains("/"), substring_index(c, "/", -1)))

  val dnsSchema: StructType = StructType(Seq(
    StructField("Timestamp", LongType),
    StructField("SourceIP", StringType),
    StructField("QueryName", StringType),
    StructField("QueryType", LongType),
    StructField("ColoCode", StringType),
    StructField("EDNSSubnet", StringType),
    StructField("EDNSSubnetLength", LongType),
    StructField("ResponseCached", BooleanType),
    StructField("ResponseCode", LongType)))

  def dns(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), dnsSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.Timestamp")))
    set("cloudflare.dns", struct(
      timestamp_seconds(col("r.Timestamp")).as("timestamp"),
      struct(col("r.SourceIP").as("ip")).as("source"),
      struct(col("r.QueryName").as("name"), col("r.QueryType").as("type")).as("query"),
      struct(col("r.ColoCode").as("code")).as("colo"),
      struct(col("r.EDNSSubnet").as("subnet"),
        col("r.EDNSSubnetLength").as("subnet_length")).as("edns"),
      struct(col("r.ResponseCached").as("cached"),
        col("r.ResponseCode").as("code")).as("response")))
    set("source.ip", col("r.SourceIP"))
    set("dns.question.name", col("r.QueryName"))
    set("related.hosts", filter(array(col("r.QueryName")), x => x.isNotNull))
    set("related.ip", filter(array(col("r.SourceIP"), col("r.EDNSSubnet")), x => x.isNotNull))

    out = out.drop("r", "json")
    ecsFooter(out)
  }

  val auditSchema: StructType = StructType(Seq(
    StructField("When", LongType),
    StructField("ID", StringType),
    StructField("ActionType", StringType),
    StructField("ActionResult", BooleanType),
    StructField("ActorEmail", StringType),
    StructField("ActorID", StringType),
    StructField("ActorIP", StringType),
    StructField("ActorType", StringType),
    StructField("Interface", StringType),
    StructField("Metadata", StringType),
    StructField("NewValue", StringType),
    StructField("OldValue", StringType),
    StructField("OwnerID", StringType),
    StructField("ResourceID", StringType),
    StructField("ResourceType", StringType)))

  def audit(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), auditSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.category", array(lit("authentication")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.When")))
    val result = when(col("r.ActionResult") === true, "success").otherwise("failure")
    set("cloudflare.audit", struct(
      timestamp_seconds(col("r.When")).as("timestamp"),
      struct(col("r.ActionType").as("type"), result.as("result")).as("action"),
      struct(col("r.ActorEmail").as("email"), col("r.ActorID").as("id"),
        col("r.ActorIP").as("ip"), col("r.ActorType").as("type")).as("actor"),
      col("r.ID").as("id"),
      col("r.Interface").as("interface"),
      col("r.Metadata").as("metadata"),
      col("r.NewValue").as("new_value"),
      col("r.OldValue").as("old_value"),
      struct(col("r.OwnerID").as("id")).as("owner"),
      struct(col("r.ResourceID").as("id"),
        col("r.ResourceType").as("type")).as("resource")))
    set("event.action", lower(col("r.ActionType")))
    set("event.outcome", result)
    set("user.email", col("r.ActorEmail"))
    set("user.id", col("r.ActorID"))
    set("source.ip", col("r.ActorIP"))
    set("event.id", col("r.ID"))
    set("event.provider", col("r.Interface"))
    set("related.user", filter(array(col("r.ActorID")), x => x.isNotNull))
    set("related.ip", filter(array(col("r.ActorIP")), x => x.isNotNull))

    out = out.drop("r", "json")
    ecsFooter(out)
  }

  val firewallSchema: StructType = StructType(Seq(
    StructField("Datetime", LongType),
    StructField("Action", StringType),
    StructField("ClientRequestMethod", StringType),
    StructField("EdgeResponseStatus", LongType),
    StructField("RuleID", StringType),
    StructField("Ref", StringType),
    StructField("Description", StringType),
    StructField("ClientASN", LongType),
    StructField("ClientASNDescription", StringType),
    StructField("ClientCountry", StringType),
    StructField("ClientIP", StringType),
    StructField("ClientIPClass", StringType),
    StructField("ClientRefererHost", StringType),
    StructField("ClientRefererPath", StringType),
    StructField("ClientRefererQuery", StringType),
    StructField("ClientRefererScheme", StringType),
    StructField("ClientRequestHost", StringType),
    StructField("ClientRequestPath", StringType),
    StructField("ClientRequestProtocol", StringType),
    StructField("ClientRequestQuery", StringType),
    StructField("ClientRequestScheme", StringType),
    StructField("ClientRequestUserAgent", StringType),
    StructField("EdgeColoCode", StringType),
    StructField("Kind", StringType),
    StructField("MatchIndex", LongType),
    StructField("Metadata", MapType(StringType, StringType)),
    StructField("OriginResponseStatus", LongType),
    StructField("OriginatorRayID", StringType),
    StructField("RayID", StringType),
    StructField("Source", StringType)))

  /** firewall_event.yml: WAF rule hits → ECS rule/http/source + the full
    * cloudflare.firewall_event payload struct.
    */
  def firewallEvent(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), firewallSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.Datetime")))
    val (netProto, httpVer) = protoParts(col("r.ClientRequestProtocol"))
    set("cloudflare.firewall_event", struct(
      timestamp_seconds(col("r.Datetime")).as("timestamp"),
      col("r.Action").as("action"),
      struct(
        struct(col("r.ClientASNDescription").as("description"),
          col("r.ClientASN").as("value")).as("asn"),
        col("r.ClientCountry").as("country"),
        col("r.ClientIP").as("ip"),
        col("r.ClientIPClass").as("ip_class"),
        struct(col("r.ClientRefererHost").as("host"),
          col("r.ClientRefererPath").as("path"),
          col("r.ClientRefererQuery").as("query"),
          col("r.ClientRefererScheme").as("scheme")).as("referer"),
        struct(col("r.ClientRequestHost").as("host"),
          col("r.ClientRequestMethod").as("method"),
          col("r.ClientRequestPath").as("path"),
          col("r.ClientRequestProtocol").as("protocol"),
          col("r.ClientRequestQuery").as("query"),
          col("r.ClientRequestScheme").as("scheme"),
          struct(col("r.ClientRequestUserAgent").as("agent")).as("user")
        ).as("request")).as("client"),
      struct(struct(col("r.EdgeColoCode").as("code")).as("colo"),
        struct(col("r.EdgeResponseStatus").as("status")).as("response")).as("edge"),
      col("r.Kind").as("kind"),
      col("r.MatchIndex").as("match_index"),
      when(col("r.Metadata").isNotNull, to_json(col("r.Metadata"))).as("metadata"),
      struct(struct(col("r.OriginatorRayID").as("id")).as("ray"),
        struct(col("r.OriginResponseStatus").as("status")).as("response")).as("origin"),
      struct(col("r.RayID").as("id")).as("ray"),
      struct(col("r.RuleID").as("id"), col("r.Ref").as("reference"),
        col("r.Description").as("description")).as("rule"),
      col("r.Source").as("source")))
    set("event.action", lower(col("r.Action")))
    set("http.request.method", col("r.ClientRequestMethod"))
    set("http.response.status_code", col("r.EdgeResponseStatus"))
    set("http.version", httpVer)
    set("network.protocol", netProto)
    set("rule.id", col("r.RuleID"))
    set("rule.reference", col("r.Ref"))
    set("rule.description", col("r.Description"))
    set("source.as.number", col("r.ClientASN"))
    set("source.geo.country_iso_code", col("r.ClientCountry"))
    set("source.ip", col("r.ClientIP"))
    set("url.scheme", col("r.ClientRequestScheme"))
    set("user_agent", parseUserAgent(col("r.ClientRequestUserAgent"))
      .withField("original", col("r.ClientRequestUserAgent")))
    set("related.ip", filter(array(col("r.ClientIP")), x => x.isNotNull))
    set("related.hosts", array_distinct(filter(
      array(col("r.ClientRefererHost"), col("r.ClientRequestHost")),
      x => x.isNotNull)))

    out = out.drop("r", "json")
    ecsFooter(out)
  }

  val httpRequestSchema: StructType = StructType(Seq(
    StructField("EdgeStartTimestamp", LongType),
    StructField("EdgeEndTimestamp", LongType),
    StructField("OriginIP", StringType),
    StructField("ClientRequestMethod", StringType),
    StructField("EdgeResponseContentType", StringType),
    StructField("EdgeResponseStatus", LongType),
    StructField("EdgeResponseBytes", LongType),
    StructField("ClientASN", LongType),
    StructField("ClientCountry", StringType),
    StructField("ClientIP", StringType),
    StructField("ClientIPClass", StringType),
    StructField("ClientDeviceType", StringType),
    StructField("BotScore", LongType),
    StructField("BotScoreSrc", StringType),
    StructField("CacheCacheStatus", StringType),
    StructField("CacheResponseBytes", LongType),
    StructField("CacheResponseStatus", LongType),
    StructField("CacheTieredFill", BooleanType),
    StructField("ClientRequestBytes", LongType),
    StructField("ClientRequestHost", StringType),
    StructField("ClientRequestPath", StringType),
    StructField("ClientRequestProtocol", StringType),
    StructField("ClientRequestReferer", StringType),
    StructField("ClientRequestScheme", StringType),
    StructField("ClientRequestSource", StringType),
    StructField("ClientRequestURI", StringType),
    StructField("ClientRequestUserAgent", StringType),
    StructField("ClientSSLCipher", StringType),
    StructField("ClientSSLProtocol", StringType),
    StructField("EdgeServerIP", StringType),
    StructField("OriginResponseStatus", LongType),
    StructField("OriginResponseBytes", LongType),
    StructField("OriginResponseDurationMs", LongType),
    StructField("RayID", StringType),
    StructField("WAFAction", StringType),
    StructField("WAFRuleID", StringType),
    StructField("ZoneID", LongType)))

  /** http_request.yml: edge request logs → ECS http/tls/url/user_agent +
    * the cloudflare.http_request telemetry struct. `TLSv1.3` groks into
    * (tls.version_protocol "tls", tls.version "1.3") as the reference
    * does; "none" means no TLS and stays null.
    */
  def httpRequest(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), httpRequestSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.EdgeStartTimestamp")))
    val (netProto, httpVer) = protoParts(col("r.ClientRequestProtocol"))
    val ssl = col("r.ClientSSLProtocol")
    val sslParses = ssl.isNotNull && ssl =!= "none" && ssl.contains("v")
    set("cloudflare.http_request", struct(
      struct(timestamp_seconds(col("r.EdgeStartTimestamp")).as("start_time"),
        timestamp_seconds(col("r.EdgeEndTimestamp")).as("end_time"),
        struct(col("r.EdgeResponseContentType").as("content_type"),
          col("r.EdgeResponseStatus").as("status"),
          col("r.EdgeResponseBytes").as("bytes")).as("response"),
        struct(col("r.EdgeServerIP").as("ip")).as("server")).as("edge"),
      struct(col("r.ClientASN").as("asn"),
        col("r.ClientCountry").as("country"),
        col("r.ClientIP").as("ip"),
        col("r.ClientIPClass").as("ip_class"),
        struct(col("r.ClientDeviceType").as("type")).as("device"),
        struct(col("r.ClientRequestBytes").as("bytes"),
          col("r.ClientRequestHost").as("host"),
          col("r.ClientRequestMethod").as("method"),
          col("r.ClientRequestPath").as("path"),
          col("r.ClientRequestProtocol").as("protocol"),
          col("r.ClientRequestReferer").as("referer"),
          col("r.ClientRequestScheme").as("scheme"),
          col("r.ClientRequestSource").as("source"),
          col("r.ClientRequestURI").as("uri"),
          struct(col("r.ClientRequestUserAgent").as("agent")).as("user")
        ).as("request"),
        struct(col("r.ClientSSLCipher").as("cipher"),
          col("r.ClientSSLProtocol").as("protocol")).as("ssl")).as("client"),
      struct(struct(col("r.BotScore").as("value"),
        col("r.BotScoreSrc").as("src")).as("score")).as("bot"),
      struct(col("r.CacheCacheStatus").as("status"),
        struct(col("r.CacheResponseBytes").as("bytes"),
          col("r.CacheResponseStatus").as("status")).as("response"),
        col("r.CacheTieredFill").as("tiered_fill")).as("cache"),
      struct(col("r.OriginIP").as("ip"),
        struct(col("r.OriginResponseStatus").as("status"),
          col("r.OriginResponseBytes").as("bytes"),
          col("r.OriginResponseDurationMs").as("duration_ms")).as("response")
      ).as("origin"),
      struct(col("r.RayID").as("id")).as("ray"),
      struct(col("r.WAFAction").as("action"),
        col("r.WAFRuleID").as("rule_id")).as("waf"),
      struct(col("r.ZoneID").as("id")).as("zone")))
    set("destination.ip", col("r.OriginIP"))
    set("http.request.method", col("r.ClientRequestMethod"))
    set("http.request.bytes", col("r.ClientRequestBytes"))
    set("http.response.mime_type", col("r.EdgeResponseContentType"))
    set("http.response.status_code", col("r.EdgeResponseStatus"))
    set("http.response.bytes", col("r.EdgeResponseBytes"))
    set("http.version", httpVer)
    set("network.protocol", netProto)
    set("source.as.number", col("r.ClientASN"))
    set("source.geo.country_iso_code", col("r.ClientCountry"))
    set("source.ip", col("r.ClientIP"))
    // Intentional deviation from the reference's http_request.yml, which
    // derives url.* by parsing ClientRequestReferer (the REFERRING page's
    // URL): we describe the REQUESTED resource — scheme/host/path from the
    // ClientRequest* fields — which is what ECS url.* consumers expect.
    // url.original/url.query keep ECS parity from ClientRequestURI
    // (path + query string of the actual request).
    set("url.scheme", col("r.ClientRequestScheme"))
    set("url.domain", col("r.ClientRequestHost"))
    set("url.path", col("r.ClientRequestPath"))
    set("url.original", col("r.ClientRequestURI"))
    set("url.query", when(col("r.ClientRequestURI").contains("?"),
      substring_index(col("r.ClientRequestURI"), "?", -1)))
    set("tls.cipher", col("r.ClientSSLCipher"))
    set("tls.version_protocol",
      when(sslParses, lower(substring_index(ssl, "v", 1))))
    set("tls.version", when(sslParses, substring_index(ssl, "v", -1)))
    set("user_agent", parseUserAgent(col("r.ClientRequestUserAgent"))
      .withField("original", col("r.ClientRequestUserAgent")))
    set("related.ip", array_distinct(filter(
      array(col("r.ClientIP"), col("r.OriginIP"), col("r.EdgeServerIP")),
      x => x.isNotNull)))
    set("related.hosts", filter(array(col("r.ClientRequestHost")), x => x.isNotNull))

    out = out.drop("r", "json")
    ecsFooter(out)
  }

  // ---- nel_report (cloudflare/tables/nel_report.yml) ----------------------

  val nelReportSchema: StructType = StructType(Seq(
    StructField("Timestamp", LongType),
    StructField("Type", StringType),
    StructField("ClientIPASN", StringType),
    StructField("ClientIPASNDescription", StringType),
    StructField("ClientIPCountry", StringType),
    StructField("LastKnownGoodColoCode", StringType),
    StructField("Phase", StringType)))

  /** Network Error Logging reports: browser-reported connection errors. */
  def nelReport(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), nelReportSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.Timestamp")))
    set("cloudflare.nel_report", struct(
      timestamp_seconds(col("r.Timestamp")).as("timestamp"),
      struct(col("r.Type").as("type")).as("error"),
      struct(struct(
        struct(
          col("r.ClientIPASN").cast(LongType).as("value"),
          col("r.ClientIPASNDescription").as("description")).as("asn"),
        col("r.ClientIPCountry").as("country")).as("ip")).as("client"),
      struct(struct(
        col("r.LastKnownGoodColoCode").as("code")).as("colo")).as("last_known_good"),
      col("r.Phase").as("phase")))
    set("error.type", col("r.Type"))
    out = out.drop("r", "json")
    ecsFooter(out)
  }

  // ---- network_analytics (cloudflare/tables/network_analytics.yml) --------

  val networkAnalyticsSchema: StructType = StructType(Seq(
    StructField("Datetime", LongType),
    StructField("Outcome", StringType),
    StructField("Direction", StringType),
    StructField("Verdict", StringType),
    StructField("IPSourceAddress", StringType),
    StructField("SourcePort", LongType),
    StructField("SourceASN", StringType),
    StructField("SourceASNDescription", StringType),
    StructField("SourceCountry", StringType),
    StructField("SourceGeoHash", StringType),
    StructField("IPDestinationAddress", StringType),
    StructField("DestinationPort", LongType),
    StructField("DestinationASN", StringType),
    StructField("DestinationASNDescription", StringType),
    StructField("DestinationCountry", StringType),
    StructField("DestinationGeoHash", StringType),
    StructField("IPProtocolName", StringType),
    StructField("IPProtocol", LongType),
    StructField("IPSourceSubnet", StringType),
    StructField("IPDestinationSubnet", StringType),
    StructField("IPFragmentOffset", LongType),
    StructField("IPHeaderLength", LongType),
    StructField("IPMoreFragments", LongType),
    StructField("IPTotalLength", LongType),
    StructField("IPTotalLengthBuckets", LongType),
    StructField("IPTtl", LongType),
    StructField("IPTtlBuckets", LongType),
    StructField("IPv4Checksum", LongType),
    StructField("IPv4DontFragment", LongType),
    StructField("IPv4Dscp", LongType),
    StructField("IPv4Ecn", LongType),
    StructField("IPv4Identification", LongType),
    StructField("IPv4Options", LongType),
    StructField("IPv6Dscp", LongType),
    StructField("IPv6Ecn", LongType),
    StructField("IPv6ExtensionHeaders", StringType),
    StructField("IPv6FlowLabel", LongType),
    StructField("IPv6Identification", LongType),
    StructField("RuleID", StringType),
    StructField("RulesetID", StringType),
    StructField("RulesetOverrideID", StringType),
    StructField("AttackCampaignID", StringType),
    StructField("AttackID", StringType),
    StructField("MitigationReason", StringType),
    StructField("MitigationScope", StringType),
    StructField("MitigationSystem", StringType),
    StructField("ProtocolState", StringType),
    StructField("SampleInterval", LongType),
    StructField("ColoCountry", StringType),
    StructField("ColoGeoHash", StringType),
    StructField("ColoID", LongType),
    StructField("ColoName", StringType),
    StructField("GREChecksum", LongType),
    StructField("GREEthertype", LongType),
    StructField("GREHeaderLength", LongType),
    StructField("GREKey", LongType),
    StructField("GRESequenceNumber", LongType),
    StructField("GREVersion", LongType),
    StructField("ICMPChecksum", LongType),
    StructField("ICMPCode", LongType),
    StructField("ICMPType", LongType),
    StructField("TCPAcknowledgementNumber", LongType),
    StructField("TCPChecksum", LongType),
    StructField("TCPDataOffset", LongType),
    StructField("TCPFlags", LongType),
    StructField("TCPFlagsString", StringType),
    StructField("TCPMss", LongType),
    StructField("TCPOptions", StringType),
    StructField("TCPSackBlocks", LongType),
    StructField("TCPSacksPermitted", LongType),
    StructField("TCPSequenceNumber", LongType),
    StructField("TCPTimestampEcr", LongType),
    StructField("TCPTimestampValue", LongType),
    StructField("TCPUrgentPointer", LongType),
    StructField("TCPWindowScale", LongType),
    StructField("TCPWindowSize", LongType),
    StructField("UDPChecksum", LongType),
    StructField("UDPPayloadLength", LongType)))

  /** Magic Transit network-layer flow samples: outcome pass/drop →
    * success/failure, full L3/L4 header telemetry under
    * cloudflare.network_analytics, geo hashes into related.hash.
    */
  def networkAnalytics(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), networkAnalyticsSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.Datetime")))
    val outcome = when(col("r.Outcome") === "pass", "success")
      .when(col("r.Outcome") === "drop", "failure")
    set("cloudflare.network_analytics", struct(
      timestamp_seconds(col("r.Datetime")).as("timestamp"),
      outcome.as("outcome"),
      col("r.Direction").as("direction"),
      col("r.Verdict").as("verdict"),
      struct(
        col("r.IPSourceAddress").as("ip"),
        col("r.SourcePort").as("port"),
        col("r.SourceASN").cast(LongType).as("asn"),
        col("r.SourceASNDescription").as("asn_description"),
        col("r.SourceCountry").as("country"),
        col("r.SourceGeoHash").as("geo_hash")).as("source"),
      struct(
        col("r.IPDestinationAddress").as("ip"),
        col("r.DestinationPort").as("port"),
        col("r.DestinationASN").cast(LongType).as("asn"),
        col("r.DestinationASNDescription").as("asn_description"),
        col("r.DestinationCountry").as("country"),
        col("r.DestinationGeoHash").as("geo_hash")).as("destination"),
      struct(
        struct(
          col("r.IPProtocolName").as("name"),
          col("r.IPProtocol").as("value")).as("protocol"),
        struct(col("r.IPSourceSubnet").as("subnet")).as("source"),
        struct(col("r.IPDestinationSubnet").as("subnet")).as("destination"),
        struct(col("r.IPFragmentOffset").as("offset")).as("fragment"),
        struct(col("r.IPHeaderLength").as("length")).as("header"),
        struct(col("r.IPMoreFragments").as("fragments")).as("more"),
        struct(
          struct(
            col("r.IPTotalLength").as("value"),
            col("r.IPTotalLengthBuckets").as("buckets")).as("length")).as("total"),
        struct(
          col("r.IPTtl").as("value"),
          col("r.IPTtlBuckets").as("buckets")).as("ttl")).as("ip"),
      struct(
        col("r.IPv4Checksum").as("checksum"),
        col("r.IPv4DontFragment").as("dont_fragment"),
        col("r.IPv4Dscp").as("dscp"),
        col("r.IPv4Ecn").as("ecn"),
        col("r.IPv4Identification").as("identification"),
        col("r.IPv4Options").as("options")).as("ipv4"),
      struct(
        col("r.IPv6Dscp").as("dscp"),
        col("r.IPv6Ecn").as("ecn"),
        col("r.IPv6ExtensionHeaders").as("extension_headers"),
        col("r.IPv6FlowLabel").as("flow_label"),
        col("r.IPv6Identification").as("identification")).as("ipv6"),
      struct(
        col("r.RuleID").as("id"),
        struct(
          col("r.RulesetID").as("id"),
          struct(col("r.RulesetOverrideID").as("id")).as("override")).as("ruleset")).as("rule"),
      struct(
        struct(col("r.AttackCampaignID").as("id")).as("campaign"),
        col("r.AttackID").as("id")).as("attack"),
      struct(
        col("r.MitigationReason").as("reason"),
        col("r.MitigationScope").as("scope"),
        col("r.MitigationSystem").as("system")).as("mitigation"),
      col("r.ProtocolState").as("protocol_state"),
      col("r.SampleInterval").as("sample_interval"),
      struct(
        col("r.ColoCountry").as("country"),
        col("r.ColoGeoHash").as("geo_hash"),
        col("r.ColoID").as("id"),
        col("r.ColoName").as("name")).as("colo"),
      struct(
        col("r.GREChecksum").as("checksum"),
        struct(col("r.GREEthertype").as("type")).as("ether"),
        struct(col("r.GREHeaderLength").as("length")).as("header"),
        col("r.GREKey").as("key"),
        struct(col("r.GRESequenceNumber").as("number")).as("sequence"),
        col("r.GREVersion").as("version")).as("gre"),
      struct(
        col("r.ICMPChecksum").as("checksum"),
        col("r.ICMPCode").as("code"),
        col("r.ICMPType").as("type")).as("icmp"),
      struct(
        col("r.TCPAcknowledgementNumber").as("acknowledgement_number"),
        col("r.TCPChecksum").as("checksum"),
        col("r.TCPDataOffset").as("dataoffset"),
        struct(
          col("r.TCPFlags").as("value"),
          col("r.TCPFlagsString").as("string")).as("flags"),
        col("r.TCPMss").as("mss"),
        col("r.TCPOptions").as("options"),
        struct(
          col("r.TCPSackBlocks").as("blocks"),
          col("r.TCPSacksPermitted").as("permitted")).as("sack"),
        col("r.TCPSequenceNumber").as("sequence_number"),
        struct(
          col("r.TCPTimestampEcr").as("ecr"),
          col("r.TCPTimestampValue").as("value")).as("timestamp"),
        col("r.TCPUrgentPointer").as("urgent_pointer"),
        struct(
          col("r.TCPWindowScale").as("scale"),
          col("r.TCPWindowSize").as("size")).as("window")).as("tcp"),
      struct(
        col("r.UDPChecksum").as("checksum"),
        col("r.UDPPayloadLength").as("payload_length")).as("udp")))
    set("event.outcome", outcome)
    set("source.ip", col("r.IPSourceAddress"))
    set("source.port", col("r.SourcePort"))
    set("source.as.number", col("r.SourceASN").cast(LongType))
    set("destination.ip", col("r.IPDestinationAddress"))
    set("destination.port", col("r.DestinationPort"))
    set("destination.as.number", col("r.DestinationASN").cast(LongType))
    set("network.direction", col("r.Direction"))
    set("network.transport", lower(col("r.IPProtocolName")))
    set("rule.id", col("r.RuleID"))
    set("related.ip", array_distinct(filter(
      array(col("r.IPSourceAddress"), col("r.IPDestinationAddress")),
      x => x.isNotNull)))
    set("related.hash", array_distinct(filter(
      array(col("r.SourceGeoHash"), col("r.DestinationGeoHash"), col("r.ColoGeoHash")),
      x => x.isNotNull)))
    out = out.drop("r", "json")
    ecsFooter(out)
  }

  // ---- spectrum_event (cloudflare/tables/spectrum_event.yml) --------------

  val spectrumEventSchema: StructType = StructType(Seq(
    StructField("Timestamp", LongType),
    StructField("ConnectTimestamp", LongType),
    StructField("DisconnectTimestamp", LongType),
    StructField("Event", StringType),
    StructField("Application", StringType),
    StructField("Status", LongType),
    StructField("ClientAsn", LongType),
    StructField("ClientBytes", LongType),
    StructField("ClientCountry", StringType),
    StructField("ClientIP", StringType),
    StructField("ClientPort", LongType),
    StructField("ClientMatchedIpFirewall", StringType),
    StructField("ClientProto", StringType),
    StructField("ClientTcpRtt", LongType),
    StructField("ClientTlsCipher", StringType),
    StructField("ClientTlsClientHelloServerName", StringType),
    StructField("ClientTlsProtocol", StringType),
    StructField("ClientTlsStatus", StringType),
    StructField("ColoCode", StringType),
    StructField("IpFirewall", BooleanType),
    StructField("OriginBytes", LongType),
    StructField("OriginIP", StringType),
    StructField("OriginPort", LongType),
    StructField("OriginProto", StringType),
    StructField("OriginTcpRtt", LongType),
    StructField("OriginTlsCipher", StringType),
    StructField("OriginTlsFingerprint", StringType),
    StructField("OriginTlsMode", StringType),
    StructField("OriginTlsProtocol", StringType),
    StructField("OriginTlsStatus", StringType),
    StructField("ProxyProtocol", StringType)))

  /** Spectrum TCP/UDP proxy events: client↔origin session telemetry with
    * connect/disconnect lifted to event.start/end and the TLSv1.2-style
    * protocol split into tls.version_protocol/version.
    */
  def spectrumEvent(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), spectrumEventSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    set("event.category", array(lit("network")))
    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("ts", timestamp_seconds(col("r.Timestamp")))
    val tlsProto = col("r.ClientTlsProtocol")
    val tlsParses = tlsProto.isNotNull && !tlsProto.isin("none", "unknown") &&
      tlsProto.contains("v")
    set("cloudflare.spectrum_event", struct(
      timestamp_seconds(col("r.Timestamp")).as("timestamp"),
      struct(timestamp_seconds(col("r.ConnectTimestamp")).as("time")).as("connect"),
      struct(timestamp_seconds(col("r.DisconnectTimestamp")).as("time")).as("disconnect"),
      col("r.Event").as("action"),
      col("r.Application").as("application"),
      col("r.Status").as("status"),
      struct(
        col("r.ClientAsn").as("asn"),
        col("r.ClientBytes").as("bytes"),
        col("r.ClientCountry").as("country"),
        col("r.ClientIP").as("ip"),
        col("r.ClientPort").as("port"),
        col("r.ClientMatchedIpFirewall").as("matched_ip_firewall"),
        col("r.ClientProto").as("protocol"),
        col("r.ClientTcpRtt").as("tcp_rtt"),
        struct(
          col("r.ClientTlsCipher").as("cipher"),
          col("r.ClientTlsClientHelloServerName").as("client_hello_server_name"),
          tlsProto.as("protocol"),
          col("r.ClientTlsStatus").as("status")).as("tls")).as("client"),
      struct(col("r.ColoCode").as("code")).as("colo"),
      col("r.IpFirewall").as("ip_firewall"),
      struct(
        col("r.OriginBytes").as("bytes"),
        col("r.OriginIP").as("ip"),
        col("r.OriginPort").as("port"),
        col("r.OriginProto").as("protocol"),
        col("r.OriginTcpRtt").as("tcp_rtt"),
        struct(
          col("r.OriginTlsCipher").as("cipher"),
          col("r.OriginTlsFingerprint").as("fingerprint"),
          col("r.OriginTlsMode").as("mode"),
          col("r.OriginTlsProtocol").as("protocol"),
          col("r.OriginTlsStatus").as("status")).as("tls")).as("origin"),
      struct(col("r.ProxyProtocol").as("protocol")).as("proxy")))
    set("event.start", timestamp_seconds(col("r.ConnectTimestamp")))
    set("event.end", timestamp_seconds(col("r.DisconnectTimestamp")))
    set("event.action", lower(col("r.Event")))
    set("event.id", col("r.Application"))
    set("http.response.status_code", col("r.Status"))
    set("source.as.number", col("r.ClientAsn"))
    set("source.bytes", col("r.ClientBytes"))
    set("source.geo.country_iso_code", col("r.ClientCountry"))
    set("source.ip", col("r.ClientIP"))
    set("source.port", col("r.ClientPort"))
    set("destination.bytes", col("r.OriginBytes"))
    set("destination.ip", col("r.OriginIP"))
    set("destination.port", col("r.OriginPort"))
    set("network.transport", lower(col("r.ClientProto")))
    set("tls.version_protocol",
      when(tlsParses, lower(substring_index(tlsProto, "v", 1))))
    set("tls.version", when(tlsParses, substring_index(tlsProto, "v", -1)))
    set("related.ip", array_distinct(filter(
      array(col("r.ClientIP"), col("r.OriginIP")), x => x.isNotNull)))
    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
