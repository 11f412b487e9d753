package lakebench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of raw CloudTrail-shaped JSON lines, one landing file
  * per batch. A batch holds the events of one event-time hour, so event
  * time advances by an hour from batch to batch.
  *
  * In a dirty batch, line `i` is
  *  - not JSON when `i % 100 == 37` (1%): the managed transform finds no
  *    event time and drops it;
  *  - an S3 event whose `additionalEventData.bytesTransferredIn` is the
  *    string "n/a" when `i % 50 == 11` (2%): it fails the table's long type
  *    for `source.bytes` and is sidelined.
  * The shares sit at fixed positions, so every batch of a size has the same
  * counts; only the contents depend on the seed.
  */
object CloudTrailGen {

  /** What a batch holds, counted as it is written. The lake-bound lines
    * (neither non-JSON nor mismatched) are tallied by the fields the rule
    * pack and alerts read, so a check can compare the lake with the
    * generator without going through the engine: `fields` counts
    * (provider, action, identity type, region), `users` counts user names
    * and `tsMsSum` sums event times in epoch ms.
    */
  final case class Counts(lines: Int, nonJson: Int, mismatched: Int,
      fields: Map[(String, String, String, String), Int], users: Map[String, Int],
      tsMsSum: Long)

  private def isNonJson(i: Int): Boolean = i % 100 == 37
  private def isMismatched(i: Int): Boolean = i % 50 == 11

  private val day0Ms = Instant.parse("2024-03-01T00:00:00Z").toEpochMilli

  /** Start of event-time hour `hour` (the seed picks the start day). */
  def hourStartMs(seed: Long, hour: Int): Long =
    day0Ms + Math.floorMod(seed, 28L) * 86400000L + hour * 3600000L

  // (eventSource, eventName, readOnly, weight)
  private val actions: Array[(String, String, Boolean, Int)] = Array(
    ("s3.amazonaws.com", "GetObject", true, 240),
    ("s3.amazonaws.com", "PutObject", false, 100),
    ("ec2.amazonaws.com", "DescribeInstances", true, 200),
    ("ec2.amazonaws.com", "RunInstances", false, 30),
    ("ec2.amazonaws.com", "AuthorizeSecurityGroupIngress", false, 15),
    ("iam.amazonaws.com", "ListUsers", true, 50),
    ("iam.amazonaws.com", "CreateUser", false, 8),
    ("iam.amazonaws.com", "AddUserToGroup", false, 8),
    ("iam.amazonaws.com", "AttachUserPolicy", false, 8),
    ("iam.amazonaws.com", "CreateAccessKey", false, 8),
    ("signin.amazonaws.com", "ConsoleLogin", false, 80),
    ("sts.amazonaws.com", "AssumeRole", false, 150),
    ("kms.amazonaws.com", "Decrypt", true, 95),
    ("cloudtrail.amazonaws.com", "StopLogging", false, 3),
    ("cloudtrail.amazonaws.com", "DeleteTrail", false, 2),
    ("guardduty.amazonaws.com", "DeleteDetector", false, 3))
  private val cumWeights = actions.map(_._4).scanLeft(0)(_ + _).tail
  private val totalWeight = cumWeights.last

  val regions: Array[String] = Array("us-east-1", "us-west-2", "eu-west-1", "ap-south-1")
  val userCount = 300
  val hotUsers = 20
  def userName(u: Int): String = f"user$u%03d"

  /** The seed's pool of client addresses. */
  def ipPool(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    Array.fill(2000)(s"${11 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}")
  }

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(Character.forDigit(r.nextInt(16), 16))
    sb.toString
  }

  private def isoMs(ms: Long): String = Instant.ofEpochMilli(ms).toString

  /** One generated CloudTrail event. `bytesIn` is the raw JSON text of
    * `additionalEventData.bytesTransferredIn`, if the event carries it.
    */
  final case class Event(ts: Long, source: String, name: String, readOnly: Boolean,
      idType: String, user: String, principal: String, accessKey: String, account: String,
      ip: String, region: String, agent: String, bytesIn: Option[String], params: String,
      requestId: String, eventId: String)

  /** The lines of event-time hour `hour`: `Left` for a non-JSON line. */
  def lines(seed: Long, hour: Int, n: Int, dirty: Boolean): Iterator[Either[String, Event]] = {
    val r = new SplittableRandom(seed * 1000003L + hour)
    val ips = ipPool(seed)
    val start = hourStartMs(seed, hour)
    Iterator.range(0, n).map { i =>
      val ts = start + r.nextInt(3600000)
      if (dirty && isNonJson(i)) Left(s"${isoMs(ts)} WARN forwarder: truncated record ${hex(r, 16)}")
      else Right(event(r, ips, ts, dirty && isMismatched(i)))
    }
  }

  /** Write `n` lines for each event-time hour of `hours` to `path`. */
  def write(path: Path, seed: Long, hours: Seq[Int], n: Int, dirty: Boolean): Counts = {
    var nonJson, mismatched = 0
    val fields = mutable.Map.empty[(String, String, String, String), Int].withDefaultValue(0)
    val users = mutable.Map.empty[String, Int].withDefaultValue(0)
    var tsMsSum = 0L
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path),
      StandardCharsets.UTF_8), 1 << 16)
    try hours.foreach(h => lines(seed, h, n, dirty).foreach { l =>
      l match {
        case Left(text) => nonJson += 1; w.write(text)
        case Right(e) =>
          if (e.bytesIn.contains("\"n/a\"")) mismatched += 1
          else {
            fields((e.source, e.name, e.idType, e.region)) += 1
            users(e.user) += 1
            tsMsSum += e.ts
          }
          w.write(json(e))
      }
      w.write('\n')
    }) finally w.close()
    Counts(n * hours.size, nonJson, mismatched, fields.toMap, users.toMap, tsMsSum)
  }

  private def event(r: SplittableRandom, ips: Array[String], ts: Long, badBytes: Boolean): Event = {
    val (source, name, readOnly) =
      if (badBytes) ("s3.amazonaws.com", "PutObject", false)
      else {
        val x = r.nextInt(totalWeight)
        val a = actions(cumWeights.indexWhere(x < _))
        (a._1, a._2, a._3)
      }
    val u = if (r.nextInt(100) < 30) r.nextInt(hotUsers) else r.nextInt(userCount)
    val roll = r.nextInt(100)
    val (idType, user) =
      if (roll < 2) ("Root", "root")
      else if (roll < 12) ("AssumedRole", userName(u))
      else ("IAMUser", userName(u))
    val s3 = source.startsWith("s3.")
    Event(ts, source, name, readOnly, idType, user,
      principal = "AIDA" + hex(r, 12), accessKey = "AKIA" + hex(r, 12),
      account = "1234567890" + (10 + r.nextInt(3)),
      ip = if (r.nextInt(100) < 5) source else ips(r.nextInt(ips.length)),
      region = regions(r.nextInt(regions.length)), agent = s"aws-cli/2.${r.nextInt(15)}",
      bytesIn = if (badBytes) Some("\"n/a\"") else if (s3) Some(r.nextInt(5000000).toString) else None,
      params =
        if (s3) s"""{"bucketName":"bucket-${r.nextInt(40)}","key":"obj/${hex(r, 8)}"}"""
        else if (source.startsWith("iam.")) s"""{"userName":"${userName(r.nextInt(userCount))}"}"""
        else "null",
      requestId = hex(r, 16),
      eventId = s"${hex(r, 8)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 12)}")
  }

  /** The raw CloudTrail record of `e`, as one JSON line. */
  def json(e: Event): String = {
    val extra = e.bytesIn.fold("")(b => s""","additionalEventData":{"bytesTransferredIn":$b}""")
    s"""{"eventVersion":"1.08","eventTime":"${isoMs(e.ts)}","eventSource":"${e.source}","eventName":"${e.name}","awsRegion":"${e.region}","sourceIPAddress":"${e.ip}","userAgent":"${e.agent}","userIdentity":{"type":"${e.idType}","principalId":"${e.principal}","arn":"${arn(e)}","accountId":"${e.account}","accessKeyId":"${e.accessKey}","userName":"${e.user}"},"requestParameters":${e.params},"responseElements":null$extra,"requestID":"${e.requestId}","eventID":"${e.eventId}","eventType":"AwsApiCall","managementEvent":${!e.source.startsWith("s3.")},"readOnly":${e.readOnly},"recipientAccountId":"${e.account}"}"""
  }

  private def arn(e: Event) = s"arn:aws:iam::${e.account}:user/${e.user}"

  /** `e` as a lake row of the `aws_cloudtrail` table (`schema`), with the
    * values the managed transform and schema resolution give its JSON line.
    */
  def row(e: Event, schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Row = {
    val isIp = !e.ip.exists(_.isLetter)
    val fields: Map[String, Any] = Map(
      "ts" -> new java.sql.Timestamp(e.ts),
      "event" -> Map("action" -> e.name, "provider" -> e.source, "id" -> e.eventId,
        "kind" -> "AwsApiCall", "category" -> Seq("configuration")),
      "cloud" -> Map("account" -> Map("id" -> e.account), "region" -> e.region),
      "user" -> Map("name" -> e.user, "id" -> e.principal),
      "source" -> Map("address" -> e.ip, "ip" -> (if (isIp) e.ip else null),
        "bytes" -> e.bytesIn.map(_.toLong).getOrElse(null)),
      "user_agent" -> Map("original" -> e.agent),
      "related" -> Map("ip" -> (if (isIp) Seq(e.ip) else Seq()), "user" -> Seq(e.user),
        "hash" -> Seq()),
      "aws" -> Map("cloudtrail" -> Map("user_identity_type" -> e.idType,
        "user_identity_arn" -> arn(e), "event_type" -> "AwsApiCall",
        "management_event" -> !e.source.startsWith("s3."), "read_only" -> e.readOnly,
        "request_id" -> e.requestId,
        "request_parameters" -> (if (e.params == "null") null else e.params),
        "response_elements" -> null)),
      "ecs" -> Map("version" -> "8.5.0"))
    def build(st: org.apache.spark.sql.types.StructType, m: Map[String, Any]): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(st.fields.toSeq.map { f =>
        (f.dataType, m.get(f.name)) match {
          case (t: org.apache.spark.sql.types.StructType, Some(sub: Map[_, _])) =>
            build(t, sub.asInstanceOf[Map[String, Any]])
          case (_, Some(v)) => v
          case (_, None) => sys.error(s"lake row has no value for ${f.name}")
        }
      })
    build(schema, fields)
  }
}
