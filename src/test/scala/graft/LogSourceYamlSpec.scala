package graft

import java.nio.file.{Files, Paths}

import graft.config.LogSourceYaml
import graft.config.LogSourceYaml.{FieldMatchChain, TableFromJsonField}
import graft.schema.{EcsSchema, SchemaRegistry}
import graft.sources.Framing
import graft.sources.Framing.MetadataRoute
import graft.streaming.Ingest
import graft.transform.managed.CloudTrail
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden tests for the YAML log-source loader: the REAL reference
  * `aws_cloudtrail` source directory drives the repo pipeline end-to-end
  * to the same rows and the same resolved schema as a hand-built config
  * (the hand side is transcribed from the YAML by hand below — the test
  * proves the loader derives exactly what a user would write). Plus parse
  * coverage for every routing/expansion program shape in the reference's
  * managed + example sources.
  */
class LogSourceYamlSpec extends SparkSpec {
  import spark.implicits._

  private val managedDir = "/root/reference/data/managed/log_sources"
  private val exampleDir = "/root/reference/example/log_sources"
  private def available: Boolean = Files.isDirectory(Paths.get(managedDir))

  private def st(fields: StructField*): StructType = StructType(fields)
  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)
  private val str = StringType

  /** Hand transcription of aws_cloudtrail/log_source.yml `schema.fields`. */
  private val handSourceFields: StructType = st(f("aws", st(f("cloudtrail", st(
    f("event_version", str),
    f("user_identity", st(
      f("type", str), f("arn", str), f("access_key_id", str),
      f("session_context", st(
        f("mfa_authenticated", str), f("creation_date", TimestampType),
        f("session_issuer", st(f("type", str), f("principal_id", str),
          f("arn", str), f("account_id", str))))),
      f("invoked_by", str))),
    f("error_code", str), f("error_message", str),
    f("request_parameters", str), f("response_elements", str),
    f("additional_eventdata", str), f("request_id", str),
    f("event_type", str), f("api_version", str),
    f("management_event", BooleanType), f("read_only", BooleanType),
    f("resources", st(f("arn", str), f("account_id", str), f("type", str))),
    f("recipient_account_id", str), f("service_event_details", str),
    f("shared_event_id", str), f("vpc_endpoint_id", str),
    f("event_category", str),
    f("console_login", st(f("additional_eventdata", st(
      f("mobile_version", BooleanType), f("login_to", str),
      f("mfa_used", BooleanType))))),
    f("addendum", st(f("reason", str), f("updated_fields", str),
      f("original_request_id", str), f("original_event_id", str))),
    f("session_credential_from_console", BooleanType),
    f("edge_device_details", str))))))

  /** Hand transcription of aws_cloudtrail `schema.ecs_field_names`. */
  private val handEcsNames = Seq(
    "cloud.account.id", "cloud.provider", "cloud.region",
    "destination.domain", "ecs.version", "error.message", "event.action",
    "event.category", "event.created", "event.dataset", "event.id",
    "event.ingested", "event.kind", "event.module", "event.original",
    "event.outcome", "event.provider", "event.type", "group.id",
    "group.name", "related.hash", "related.user", "source.address",
    "source.as.number", "source.as.organization.name",
    "source.geo.city_name", "source.geo.continent_name",
    "source.geo.country_iso_code", "source.geo.country_name",
    "source.geo.location.lat", "source.geo.location.lon",
    "source.geo.region_iso_code", "source.geo.region_name", "source.ip",
    "tags", "tls.cipher", "tls.client.server_name", "tls.version",
    "user.changes.name", "user.id", "user.name", "user.target.id",
    "user.target.name", "user_agent.device.name", "user_agent.name",
    "user_agent.original", "user_agent.os.full", "user_agent.os.name",
    "user_agent.os.version", "user_agent.version")

  /** Hand transcription of tables/digest.yml `schema.fields`. */
  private val handDigestFields: StructType = st(f("aws", st(f("cloudtrail", st(
    f("flattened", st(f("digest", str))),
    f("digest", st(
      f("log_files", ArrayType(str, containsNull = true)),
      f("start_time", TimestampType), f("end_time", TimestampType),
      f("s3_bucket", str), f("s3_object", str),
      f("newest_event_time", TimestampType),
      f("oldest_event_time", TimestampType),
      f("previous_s3_bucket", str), f("previous_hash_algorithm", str),
      f("public_key_fingerprint", str), f("signature_algorithm", str))))))))

  test("cloudtrail: tables, routing, expansion parse from the real YAML") {
    assume(available)
    val src = LogSourceYaml.loadDir(s"$managedDir/aws_cloudtrail")
    assert(src.name == "aws_cloudtrail")
    assert(src.tables.keySet == Set("default", "digest", "insights"))
    assert(src.tables("default").resolvedName == "aws_cloudtrail")
    assert(src.tables("digest").resolvedName == "aws_cloudtrail_digest")

    assert(src.metadataRouting.contains((Seq(
      MetadataRoute("Digest", Some("digest")),
      MetadataRoute("Insights", Some("insights"))), "default")))

    assert(src.tables("default").recordsPath.contains("Records"))
    assert(src.tables("insights").recordsPath.contains("Records"))
    assert(src.tables("digest").recordsPath.isEmpty)

    // transform composition: source program present everywhere; digest's
    // table program appended after it (log-source.ts:431-433 order)
    val dtf = src.tables("digest").transformVrl.get
    assert(dtf.contains(".aws.cloudtrail.event_version")) // source program
    assert(dtf.contains(".aws.cloudtrail.digest.log_files")) // table program
    assert(dtf.indexOf(".aws.cloudtrail.event_version")
      < dtf.indexOf(".aws.cloudtrail.digest.log_files"))
  }

  test("cloudtrail default table: resolved schema equals the hand-built composition") {
    assume(available)
    val src = LogSourceYaml.loadDir(s"$managedDir/aws_cloudtrail")
    val hand = EcsSchema.tableSchema(handEcsNames, handSourceFields)
    assert(src.tables("default").schema == hand)
    // spot shape: ts first, nested custom timestamp survives
    val sch = src.tables("default").schema
    assert(sch.fields.head.name == "ts")
    val sc = sch("aws").dataType.asInstanceOf[StructType]("cloudtrail")
      .dataType.asInstanceOf[StructType]("user_identity")
      .dataType.asInstanceOf[StructType]("session_context")
      .dataType.asInstanceOf[StructType]("creation_date")
    assert(sc.dataType == TimestampType)
  }

  test("cloudtrail digest table: three-level merge (table fields over source fields, ecs union)") {
    assume(available)
    val src = LogSourceYaml.loadDir(s"$managedDir/aws_cloudtrail")
    val handMergedCustom = SchemaRegistry.merge(handDigestFields, handSourceFields)
    val handEcs = (handEcsNames ++ Seq("file.hash.md5", "file.hash.sha1",
      "file.hash.sha256", "file.hash.sha512", "file.path")).distinct
    assert(src.tables("digest").schema
      == EcsSchema.tableSchema(handEcs, handMergedCustom))
    // file.* arrived via the table-level ecs names (cherry-picked subtree)
    val fileT = src.tables("digest").schema("file").dataType.asInstanceOf[StructType]
    assert(fileT("hash").dataType.asInstanceOf[StructType].fieldNames
      .contains("sha256"))
  }

  private val ctRecord1 =
    """{"eventVersion":"1.08","eventTime":"2023-01-10T21:31:12Z","eventSource":"iam.amazonaws.com","eventName":"AddUserToGroup","awsRegion":"us-east-1","sourceIPAddress":"1.2.3.4","userAgent":"aws-cli/2.9","userIdentity":{"type":"Root","principalId":"AIDA1","arn":"arn:aws:iam::123456789012:root","accountId":"123456789012","accessKeyId":"AKIA1","userName":"root"},"requestParameters":{"userName":"bob"},"responseElements":null,"requestID":"r-1","eventID":"e-1","eventType":"AwsApiCall","managementEvent":true,"readOnly":false,"recipientAccountId":"123456789012"}"""
  private val ctRecord2 = ctRecord1
    .replace("AddUserToGroup", "CreateUser").replace("e-1", "e-2")

  test("cloudtrail end-to-end: YAML-driven pipeline == hand-built pipeline, same rows") {
    assume(available)
    val src = LogSourceYaml.loadDir(s"$managedDir/aws_cloudtrail")
    val tmp = Files.createTempDirectory("graft_yaml_e2e")
    val landing = tmp.resolve("landing")
    Files.createDirectories(landing)
    Files.writeString(landing.resolve("trail_123_us-east-1.json"),
      s"""{"Records":[$ctRecord1,$ctRecord2]}\n""")
    Files.writeString(landing.resolve("trail_123_Digest_us-east-1.json"),
      """{"digestS3Bucket":"b","digestS3Object":"o","logFiles":[]}""" + "\n")
    Files.writeString(landing.resolve("trail_123_Insights_us-east-1.json"),
      s"""{"Records":[$ctRecord1]}\n""")

    // --- routing straight from the YAML program
    val (routes, default) = src.metadataRouting.get
    val raw = Framing.textLines(spark, landing.toString)
    val routed = Framing.routeByFileMetadata(raw, routes, default)
    val byTable = routed.groupBy("__table").count().as[(String, Long)]
      .collect().toMap
    assert(byTable == Map("default" -> 1L, "digest" -> 1L, "insights" -> 1L))

    val defaultRows = routed.filter(col("__table") === "default")
      .drop("__table")

    // --- YAML-driven: loader framing + managed transform + loader schema
    val lake = tmp.resolve("lake").toString
    val side = tmp.resolve("side").toString
    val p = LogSourceYaml.pipeline(src, "default", CloudTrail.apply, lake, side)
    Ingest.processBatch(p)(defaultRows, 0L)
    val viaYaml = graft.lake.Lake.read(spark, lake)

    // --- hand-built: hand expansion column + same transform + hand schema
    val handPipe = Ingest.Pipeline(
      transform = df => CloudTrail(
        Framing.expandRecords(df,
          from_json(get_json_object(col("message"), "$.Records"),
            ArrayType(StringType)), as = "json")
          .filter(col("json").isNotNull).drop("message")),
      target = EcsSchema.tableSchema(handEcsNames, handSourceFields),
      lakePath = tmp.resolve("lake_hand").toString,
      sidelinePath = tmp.resolve("side_hand").toString)
    Ingest.processBatch(handPipe)(defaultRows, 0L)
    val viaHand = graft.lake.Lake.read(spark, tmp.resolve("lake_hand").toString)

    assert(viaYaml.schema == viaHand.schema)
    assert(viaYaml.count() == 2)
    val key = Seq("event.id", "event.action", "cloud.account.id",
      "aws.cloudtrail.request_parameters", "ts_hour")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(key.map(k => col(k).as(k.replace('.', '_'))): _*)
        .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(rows(viaYaml) == rows(viaHand))
    assert(rows(viaYaml).map(_(1)) == Seq("AddUserToGroup", "CreateUser"))
  }

  test("routing grammar covers every reference program shape") {
    assume(available)
    import LogSourceYaml.parseMetadataRouting
    def prog(dir: String): String = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
        .readTree(Files.readString(Paths.get(dir, "log_source.yml")))
      node.path("ingest").path("select_table_from_payload_metadata").asText
    }
    // zeek: 45-way chain, else "default"
    val (zr, zd) = parseMetadataRouting(prog(s"$managedDir/zeek"))
    assert(zr.head == MetadataRoute("capture_loss\\.", Some("capture_loss")))
    assert(zr.size >= 40 && zd == "default")
    assert(zr.contains(MetadataRoute("conn\\.", Some("connection"))))
    // cloudflare: else abort → trailing catch-all skip
    val (cr, _) = parseMetadataRouting(prog(s"$managedDir/cloudflare"))
    assert(cr.contains(MetadataRoute("audit", Some("audit"))))
    assert(cr.last == MetadataRoute(".*", None))
    // config_history: `contains(..) || contains(..) { abort }`, no else
    val (hr, hd) = parseMetadataRouting(prog(s"$managedDir/aws_config_history"))
    assert(hr == Seq(
      MetadataRoute("\\QConfigWritabilityCheckFile\\E", None),
      MetadataRoute("\\QOversizedChangeNotification\\E", None)) && hd == "default")
    // s3inventory: negated contains + abort → match→default, rest skipped
    val (sr, sd) = parseMetadataRouting(prog(s"$managedDir/aws_s3inventory"))
    assert(sr == Seq(MetadataRoute("\\Q.csv\\E", Some("default")),
      MetadataRoute(".*", None)) && sd == "default")
    // teleport: bare constant table
    assert(parseMetadataRouting(prog(s"$managedDir/teleport")) == (Nil, "audit"))
    // okta: match-all + else
    val (or, od) = parseMetadataRouting(prog(s"$managedDir/okta"))
    assert(or == Seq(MetadataRoute(".*", Some("system"))) && od == "default")
    // crowdstrike: single clause, implicit default
    val (fr, fd) = parseMetadataRouting(prog(s"$managedDir/crowdstrike"))
    assert(fr == Seq(MetadataRoute("data/|fdr/", Some("fdr"))) && fd == "default")
  }

  test("routing semantics: negated-contains program drives routeByFileMetadata correctly") {
    assume(available)
    val src = LogSourceYaml.loadDir(s"$managedDir/aws_s3inventory")
    val (routes, default) = src.metadataRouting.get
    val tmp = Files.createTempDirectory("graft_s3inv")
    Files.writeString(tmp.resolve("inv_1.csv.gz.json"), "a,b\n")
    Files.writeString(tmp.resolve("inv_2.parquet.json"), "c,d\n")
    val routed = Framing.routeByFileMetadata(
      Framing.textLines(spark, tmp.toString), routes, default)
    val got = routed.select(input_file_name().as("f"), col("__table"))
      .as[(String, String)].collect()
    assert(got.length == 1 && got.head._1.contains(".csv")
      && got.head._2 == "default") // non-.csv object aborted entirely
    assert(src.ingest.csvHeaders.take(2) == Seq("Bucket", "Key"))
  }

  test("payload routing + expansion program shapes parse") {
    assume(available)
    val duo = LogSourceYaml.loadDir(s"$managedDir/duo")
    assert(duo.payloadRouting.contains(TableFromJsonField("_table")))
    val gw = LogSourceYaml.loadDir(s"$managedDir/google_workspace")
    assert(gw.payloadRouting.contains(TableFromJsonField("_table")))
    val panw = LogSourceYaml.loadDir(s"$managedDir/panw")
    panw.payloadRouting.get match {
      case FieldMatchChain("message", cases, None) =>
        assert(cases == Seq((",TRAFFIC,", "traffic"),
          (",GLOBALPROTECT,", "globalprotect"), (",THREAT,", "threat")))
      case other => fail(s"unexpected: $other")
    }
    // panw chain as a routing column over records
    val routedCol = panw.payloadRouting.get.column
    val out = Seq("1,TRAFFIC,x", "2,THREAT,y", "3,SYSTEM,z").toDF("message")
      .withColumn("t", routedCol).select("t").as[String].collect()
    assert(out.toSeq == Seq("traffic", "threat", null))
    // config_history's guarded ret-form expansion
    val ch = LogSourceYaml.loadDir(s"$managedDir/aws_config_history")
    assert(ch.tables.values.head.recordsPath.contains("configurationItems"))
  }

  test("user config with managed.type composes over the managed source dir") {
    assume(available)
    assume(Files.isDirectory(Paths.get(exampleDir)), s"reference checkout absent: $exampleDir")
    // the reference's example/ dirs are real user configs redirecting to
    // managed sources — cloudflare's resolves to the managed chain
    val cf = LogSourceYaml.loadUserDir(s"$exampleDir/cloudflare", managedDir)
    assert(cf.name == "cloudflare")
    val (routes, _) = cf.metadataRouting.get
    assert(routes.contains(MetadataRoute("http_request", Some("http_request"))))
    assert(routes.last == MetadataRoute(".*", None)) // else abort
    assert(cf.tables.nonEmpty) // managed tables picked up
    // a non-managed user dir passes straight through
    val ct = LogSourceYaml.loadUserDir(s"$managedDir/aws_cloudtrail", managedDir)
    assert(ct.tables.keySet == Set("default", "digest", "insights"))
  }

  test("every managed source directory loads and every program parses") {
    assume(available)
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(managedDir)).iterator.asScala.toSeq
      .filter(Files.isDirectory(_)).sortBy(_.toString)
    assert(dirs.size >= 20)
    dirs.foreach { d =>
      val src = LogSourceYaml.loadDir(d.toString)
      // compiling the programs must not throw on ANY shipped source
      src.metadataRouting.foreach { case (routes, default) =>
        assert(routes != null && default.nonEmpty) }
      src.payloadRouting.foreach(r => assert(r.column != null))
      src.tables.values.foreach { t =>
        t.recordsPath.foreach(p => assert(p.nonEmpty))
        assert(t.schema.fieldNames.head == "ts", s"${d.getFileName}/${t.name}")
      }
    }
  }

  test("payload-field routing column extracts the table from record JSON") {
    val r = TableFromJsonField("_table")
    val rows = Seq("""{"_table":"auth","x":1}""", """{"x":2}""").toDF("json")
      .withColumn("t", r.column).select("t").as[String].collect()
    assert(rows.toSeq == Seq("auth", null))
  }

  test("zeek end-to-end: the 30-branch metadata routing + dns table drive the pipeline from the real YAML") {
    assume(available)
    // second e2e golden on the reference's biggest multi-table source:
    // zeek routes ~30 tables off the object key and resolves each table
    // schema from its own tables/*.yml — nothing here is cloudtrail-shaped
    val src = LogSourceYaml.loadDir(s"$managedDir/zeek")
    assert(src.tables.size >= 25, s"zeek tables: ${src.tables.size}")

    // --- schema resolution against a hand-read of the real dns.yml
    val dnsT = src.tables("dns")
    assert(Seq("dns.answers", "dns.question.name", "dns.resolved_ip",
      "destination.ip", "destination.port", "event.outcome")
      .forall(dnsT.ecsFieldNames.contains))
    val dnsSchema = dnsT.schema
    def typeOf(path: String): org.apache.spark.sql.types.DataType =
      path.split('.').foldLeft(dnsSchema: org.apache.spark.sql.types.DataType) {
        case (st: StructType, f) => st(f).dataType
        case (other, f) => fail(s"$path: hit $other before $f")
      }
    assert(typeOf("dns.question.name") == StringType)
    assert(typeOf("dns.resolved_ip") == ArrayType(StringType))
    assert(typeOf("destination.port") == IntegerType)
    assert(dnsSchema.fieldNames.head == "ts")

    // --- routing straight from the real select_table_from_payload_metadata
    val (routes, default) = src.metadataRouting.get
    val tmp = Files.createTempDirectory("graft_zeek_e2e")
    val landing = tmp.resolve("landing")
    Files.createDirectories(landing)
    val dnsLine =
      """{"ts":1690000000.5,"uid":"Cdns1","id.orig_h":"10.0.0.1","id.orig_p":5353,""" +
        """"id.resp_h":"8.8.8.8","id.resp_p":53,"proto":"udp","query":"example.com",""" +
        """"qclass_name":"C_INTERNET","qtype_name":"A","rcode_name":"NOERROR",""" +
        """"answers":["93.184.216.34","alias.example.com"],"TTLs":[60.0,30.0],"rejected":false}"""
    Files.writeString(landing.resolve("dns.23_59_00.log"), dnsLine + "\n")
    Files.writeString(landing.resolve("conn.23_59_00.log"),
      """{"ts":1690000001.0,"uid":"Cc1","proto":"tcp"}""" + "\n")
    Files.writeString(landing.resolve("capture_loss.23_59_00.log"),
      """{"ts":1690000002.0,"percent_lost":0.0}""" + "\n")
    val raw = Framing.textLines(spark, landing.toString)
    val routed = Framing.routeByFileMetadata(raw, routes, default)
    val byTable = routed.groupBy("__table").count().as[(String, Long)]
      .collect().toMap
    assert(byTable ==
      Map("dns" -> 1L, "connection" -> 1L, "capture_loss" -> 1L))

    // --- YAML-driven dns pipeline end-to-end through the lake
    val lake = tmp.resolve("lake").toString
    val p = LogSourceYaml.pipeline(src, "dns",
      graft.transform.managed.ZeekDns.apply, lake, tmp.resolve("side").toString)
    Ingest.processBatch(p)(
      routed.filter(col("__table") === "dns").drop("__table"), 0L)
    val out = graft.lake.Lake.read(spark, lake)
    assert(out.count() == 1)
    val row = out.select(
      col("`dns`.`question`.`name`"), col("`dns`.`resolved_ip`"),
      col("`source`.`ip`"), col("`destination`.`port`"),
      col("`event`.`outcome`"), col("`network`.`transport`")).head
    assert(row.getString(0) == "example.com")
    assert(row.getSeq[String](1) == Seq("93.184.216.34"))
    assert(row.getString(2) == "10.0.0.1")
    assert(row.getInt(3) == 53)
    assert(row.getString(4) == "success")
    assert(row.getString(5) == "udp")
  }
}
