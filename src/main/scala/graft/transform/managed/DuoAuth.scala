package graft.transform.managed

import graft.transform.Grok
import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Managed Duo authentication-log mapping (reference
  * data/managed/log_sources/duo/tables/auth.yml): JSON auth events → ECS.
  * Covers the empty-response abort, the ip:port splitting grok family
  * (IPv4, bracketed IPv6, uncompressed IPv6, odd port separators) for
  * access and auth devices, identity fan-out into source.user/user,
  * user-agent decomposition, the duo.auth vendor struct, and
  * related.{ip,user,hosts} accumulation.
  */
object DuoAuth {

  private val ipPortDefs = Map(
    "IPV6NOCOMPRESS" -> "([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}",
    "IPV6PORTSEP" -> "(?: port |[p#.])",
    "PORT" -> "[0-9]+")
  private val ipPortPatterns = Seq(
    "^%{IPV4:ip}:%{PORT:port}$",
    "^\\[%{IPV6:ip}\\]:%{PORT:port}$",
    "^%{IPV6NOCOMPRESS:ip}:%{PORT:port}$",
    "^%{IPV6:ip}%{IPV6PORTSEP}%{PORT:port}$")
  private lazy val ipPortGrok = Grok.compileAll(ipPortPatterns, ipPortDefs)

  /** `(ip, port)` columns for an `ip[:port]` field: the grok splits when a
    * port form matches, else the raw value passes through as ip.
    */
  private def splitIpPort(raw: Column): (Column, Column) = {
    val c = ipPortGrok.columns(raw)
    (coalesce(c("ip"), raw), c("port").try_cast(IntegerType))
  }

  private def device(name: String) = StructType(Seq(
    StructField("ip", StringType), StructField("hostname", StringType),
    StructField("name", StringType),
    StructField("browser", StringType), StructField("browser_version", StringType),
    StructField("os", StringType), StructField("os_version", StringType),
    StructField("flash_version", StringType), StructField("java_version", StringType),
    StructField("is_encryption_enabled", StringType),
    StructField("is_firewall_enabled", StringType),
    StructField("is_password_set", StringType),
    StructField("location", StructType(Seq(
      StructField("city", StringType), StructField("country", StringType),
      StructField("state", StringType))))))

  val rawSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("response", ArrayType(StringType)),
    StructField("result", StringType),
    StructField("reason", StringType),
    StructField("email", StringType),
    StructField("event_type", StringType),
    StructField("factor", StringType),
    StructField("ood_software", StringType),
    StructField("txid", StringType),
    StructField("alias", StringType),
    StructField("trusted_endpoint_status", StringType),
    StructField("user", StructType(Seq(
      StructField("key", StringType), StructField("name", StringType),
      StructField("groups", ArrayType(StringType))))),
    StructField("access_device", device("access")),
    StructField("auth_device", device("auth")),
    StructField("application", StructType(Seq(
      StructField("key", StringType), StructField("name", StringType))))))

  def apply(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("r", from_json(col("json"), rawSchema))
    // VRL aborts events whose response is an empty array
    var out = parsed.filter(
      col("r.response").isNull || size(col("r.response")) =!= 0)
    def g(p: String): Column = getPath(out, p)
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)

    set("event.type", array(lit("info")))
    set("event.category", array(lit("authentication")))
    set("event.kind", lit("event"))
    set("event.original", col("json"))
    set("ts", timestamp_seconds(col("r.timestamp")))
    set("event.outcome",
      when(col("r.result") === "success", "success").otherwise("failure"))
    set("event.reason", col("r.reason"))

    val (accessIp, accessPort) = splitIpPort(col("r.access_device.ip"))
    val (authIp, authPort) = splitIpPort(col("r.auth_device.ip"))
    set("source.address", coalesce(col("r.access_device.hostname"), col("r.access_device.ip")))
    set("source.ip", accessIp)
    set("source.port", accessPort)
    set("source.user.email", col("r.email"))
    set("source.user.id", col("r.user.key"))
    set("source.user.name", col("r.user.name"))
    set("source.user.group.name", array_join(col("r.user.groups"), ", "))

    set("user.email", col("r.email"))
    set("user.name", col("r.user.name"))
    set("user.id", col("r.user.key"))
    set("user_agent.name", col("r.access_device.browser"))
    set("user_agent.version", col("r.access_device.browser_version"))
    set("user_agent.os.name", col("r.access_device.os"))
    set("user_agent.os.version", col("r.access_device.os_version"))

    set("duo.auth", struct(
      col("r.email").as("email"),
      col("r.event_type").as("event_type"),
      col("r.factor").as("factor"),
      col("r.ood_software").as("ood_software"),
      col("r.reason").as("reason"),
      col("r.result").as("result"),
      col("r.txid").as("txid"),
      col("r.alias").as("alias"),
      col("r.trusted_endpoint_status").as("trusted_endpoint_status"),
      struct(
        col("r.access_device.hostname").as("hostname"),
        accessIp.as("ip"), accessPort.as("port"),
        col("r.access_device.flash_version").as("flash_version"),
        col("r.access_device.java_version").as("java_version"),
        col("r.access_device.is_encryption_enabled").as("is_encryption_enabled"),
        col("r.access_device.is_firewall_enabled").as("is_firewall_enabled"),
        col("r.access_device.is_password_set").as("is_password_set"),
        col("r.access_device.location").as("location")).as("access_device"),
      struct(
        authIp.as("ip"), authPort.as("port"),
        col("r.auth_device.name").as("name"),
        col("r.auth_device.location").as("location")).as("auth_device"),
      col("r.application").as("application")))

    set("related.ip", array_distinct(
      filter(array(g("source.ip"), authIp), x => x.isNotNull)))
    set("related.user", filter(array(col("r.user.name")), x => x.isNotNull))
    set("related.hosts", array_distinct(filter(
      array(g("source.address"), col("r.access_device.hostname")), x => x.isNotNull)))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
