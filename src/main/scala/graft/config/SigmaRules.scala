package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.operators.Detection
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sigma-rule import: compile the common Sigma YAML detection grammar to
  * Catalyst `Column` predicates feeding [[graft.operators.Detection]].
  *
  * The reference advertises "automatic import of Sigma detections"
  * (README "Detection-as-Code"; `scripts/sigma_generate.py:1-35` wraps the
  * external pySigma Matano backend, which converts a rule to a Python
  * `detect(record)` body plus an ECS field-mapping pipeline such as
  * `ecs-cloudtrail`). Here the same surface compiles to a declarative
  * predicate instead: the rule participates in pushdown/pruning and runs
  * codegen'd inside `Detection.ruleMatches`, which evaluates a pack of N
  * rules in one scan of its input, not N scans or N×rows Python calls.
  *
  * Grammar covered (the public Sigma specification's core, which is what
  * the reference's backend handles):
  *   - `detection.<name>` selections: field maps (AND across fields, OR
  *     across a field's value list), lists of maps (OR), keyword lists
  *     (match anywhere in the designated message field);
  *   - field modifiers `contains` / `startswith` / `endswith` / `re` /
  *     `cased` / `all` / `gt` / `gte` / `lt` / `lte` / `cidr` /
  *     `windash`;
  *   - `*` / `?` wildcards in values (with `\`-escapes), case-insensitive
  *     string matching per the spec (opt out via `cased`);
  *   - `null` values (field absent or null);
  *   - `condition`: identifiers, `and` / `or` / `not`, parentheses,
  *     `1 of x*` / `all of x*` / `N of them`.
  * Correlation rules are also covered ([[loadCorrelation]] /
  * [[correlationMatches]]): the Sigma v2 correlation document
  * (`correlation: {type: event_count|value_count, group-by, timeframe,
  * condition: {gte: N}}`) and the deprecated-but-everywhere pre-2.0
  * aggregation condition (`condition: selection | count(field) by f > N`
  * with a document-level `timeframe:`) both compile to the engine's
  * threshold-aggregation shape (A1): one filter + one grouped
  * count/countDistinct per timeframe window.
  *
  * Also covered: `base64` / `base64offset` encodings (pure literal
  * expansion — plain base64, and the three alignment-offset substrings
  * composing with `contains`; the encoded-PowerShell staple of real
  * SigmaHQ packs), with the `utf16le`/`wide`/`utf16be`/`utf16` widening
  * prefixes (UTF-16 code units, optionally BOM-led, encoded before
  * base64 — `|utf16le|base64offset|contains` is how real packs catch
  * `-EncodedCommand` payloads), and `fieldref` comparisons (a field
  * matched against ANOTHER field's runtime value, with the
  * contains/startswith/endswith variants).
  *
  * `|expand` placeholders (`%admins%`-style per-deployment value lists)
  * compile when the list is supplied via the `placeholders` argument —
  * cross-product substitution, remaining modifiers applied per expanded
  * literal; an undefined placeholder fails loudly.
  *
  * `| near sel [and sel2] [and not sel3]` (the deprecated v1 proximity
  * aggregation) compiles onto the same temporal-correlation machinery:
  * base rule + positive selections all inside one timeframe window,
  * negated selections absent ([[correlationMatches]]).
  */
object SigmaRules {

  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Severity map: Sigma `level` → the reference's alert severities. */
  private val levels = Map(
    "informational" -> "info", "low" -> "notice", "medium" -> "notice",
    "high" -> "warning", "critical" -> "critical")

  /** A count-over-window condition attached to (or referencing) rules —
    * the Sigma correlation surface. `op` ∈ gt/gte/lt/lte/eq; `field` is
    * set for value_count (distinct values of `field` per group).
    */
  final case class CorrelationSpec(
      title: String,
      corrType: String, // event_count | value_count
      ruleNames: Seq[String],
      groupBy: Seq[String],
      timeframeSeconds: Long,
      op: String,
      n: Long,
      field: Option[String],
      level: Option[String] = None,
      /** Pre-resolved (name, predicate) pairs — set by the legacy
        * `| near` form, whose referenced SELECTIONS live inside the one
        * rule and are already compiled when the correlation is built
        * (v2 correlations resolve `ruleNames` against loaded rules
        * instead).
        */
      resolved: Seq[(String, Column)] = Nil,
      /** Negated near() selections: the window must contain NO match. */
      negResolved: Seq[(String, Column)] = Nil)

  final case class SigmaRule(
      title: String,
      id: Option[String],
      level: Option[String],
      detect: Column,
      /** Set when the rule carried a legacy `| count() by …` aggregation
        * suffix: the base `detect` selects candidate events, and this
        * spec holds the threshold semantics to evaluate via
        * [[correlationMatches]].
        */
      correlation: Option[CorrelationSpec] = None) {
    /** As a [[Detection.Rule]], ready for `Detection.ruleMatches`. */
    def toRule(
        dedupe: Column = lit(""),
        threshold: Int = 1,
        windowSeconds: Long = 3600): Detection.SimpleRule =
      Detection.SimpleRule(
        name = title, detect = detect, dedupe = dedupe,
        severity = levels.getOrElse(level.getOrElse("medium"), "notice"),
        threshold = threshold, windowSeconds = windowSeconds)
  }

  /** Field map for SigmaHQ `product: aws` / `service: cloudtrail` rules —
    * DERIVED from the managed CloudTrail transform's own expression tree
    * ([[FieldMapDerive]]; the pySigma "processing pipeline" role,
    * reference managed `log_source.yml:20-75`): `eventName` resolves to
    * the `event.action` hoist, `userIdentity.type` to the
    * `aws.cloudtrail.user_identity_type` vendor copy, and so on — the map
    * can never drift from what the transform actually emits (the previous
    * HAND-KEPT map had already drifted: it pointed `recipientAccountId`
    * at cloud.account.id while the transform hoists
    * `userIdentity.accountId` there, and mapped errorCode/eventVersion
    * onto columns no transform emits). NOT derivable, by construction:
    * `requestParameters.*` / `responseElements.*` rule paths — the
    * transform keeps both subtrees as their raw JSON TEXT
    * (`get_json_object`, the reference's encode_json semantics), so
    * there is no per-leaf column to resolve to; such fields pass through
    * and fail loudly at bind time rather than silently matching nothing.
    */
  lazy val ecsCloudtrail: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.CloudTrail.apply), vendorNs = Seq("aws."))

  /** Field map for SigmaHQ `product: zeek` rules — DERIVED from the
    * managed ZeekDns/ZeekHttp/ZeekConn transforms' own expression trees
    * ([[FieldMapDerive]]; reference
    * `data/managed/log_sources/zeek/tables/{dns,http,conn}.yml`). One map
    * covers the services — Zeek's dotted raw names (`id.orig_h` is a
    * single field whose NAME contains dots) segment identically on both
    * sides, and a leaf landing in several ECS hoists (the endpoint tuple
    * goes to both source.address and source.ip) resolves to the one the
    * family uses most often across its logs (source.ip — all three
    * transforms hoist it there). Unmapped names pass through (`zeek.*`
    * vendor fields are already addressed by their column path). NOT
    * derivable, by construction: the reference's http transform DROPS
    * `uri` without parsing it into `url.*` (http.yml:185-189 TODO) —
    * rules over `uri` are unmappable until it does; dns/http wrap `proto`
    * in lower()/a literal (computed, not a verbatim move) but conn moves
    * it verbatim, so `proto → network.transport` still derives.
    */
  lazy val ecsZeek: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.ZeekDns.apply,
      graft.transform.managed.ZeekHttp.apply,
      graft.transform.managed.ZeekConn.apply), vendorNs = Seq("zeek."))

  /** Field map for SigmaHQ `product: okta` rules — DERIVED from the
    * managed Okta transform's own expression tree ([[FieldMapDerive]];
    * reference `data/managed/log_sources/okta/tables/system.yml`). The
    * rules spell Okta System Log fields all-lowercase (`eventtype`,
    * `displaymessage`, `client.ipaddress`); the derivation's normalized
    * suffix match folds them onto the transform's camelCase RAW leaves
    * (`eventType`, `displayMessage`, `client.ipAddress`), which resolve
    * to the snake_case okta.* columns the transform emits. TWO
    * correspondences are hand-kept because the transform's moves are
    * COMPUTED, not verbatim (derivation provably can't see through
    * them): `published → ts` (wrapped in try_to_timestamp) and
    * `client.ipaddress → okta.client.ip` (the "null"-literal scrub
    * `when(ip =!= "null", ip)`). Everything else is derived — a
    * transform edit re-derives the map.
    */
  /** The hand-kept COMPUTED-move correspondences, per source — the only
    * entries [[FieldMapDerive]] cannot re-derive (the moves are
    * when-chains/casts/scrubs, not verbatim column moves), and therefore
    * the only entries that could silently drift when a transform
    * renames an output. Exposed as data so SigmaSpec's audit sweep can
    * assert EVERY target column still exists in the corresponding
    * managed transform's output schema — a rename fails the sweep
    * loudly instead of waiting for a per-rule golden to notice.
    */
  val handKeptMoves: Map[String, Map[String, String]] = Map(
    "okta" -> Map(
      "published" -> "ts",
      "client.ipaddress" -> "okta.client.ip"),
    "o365" -> Map("operation" -> "event.action"),
    "crowdstrike_falcon" -> Map(
      "operationname" -> "crowdstrike.event.operation_name",
      "detectname" -> "crowdstrike.event.detect_name",
      "commandline" -> "crowdstrike.event.command_line",
      "username" -> "crowdstrike.event.user_name",
      "computername" -> "host.name"),
    "suricata" -> Map("event_type" -> "suricata.eve.event_type"))

  lazy val ecsOkta: String => String = {
    val computedMoves = handKeptMoves("okta")
    val derived = FieldMapDerive.fieldMap(
      Seq(graft.transform.managed.Okta.apply), vendorNs = Seq("okta."))
    (f: String) => computedMoves.getOrElse(f.toLowerCase, derived(f))
  }

  /** Field map for SigmaHQ `product: gcp` / `service: gcp.audit` rules —
    * DERIVED from the managed GcpAudit transform's own expression tree
    * ([[FieldMapDerive]]; reference
    * `data/managed/log_sources/gcp_audit/log_source.yml`), not a
    * hand-kept list: the Elastic integration spelling
    * (`gcp.audit.method_name` et al.) resolves by case-insensitive
    * snake→camel suffix match onto the raw LogEntry leaves the transform
    * moves verbatim, preferring ECS hoists (`event.action`) over gcp.*
    * struct copies; names the transform keeps under their own column
    * path pass through. A transform edit re-derives the map — the two
    * can never drift.
    */
  lazy val ecsGcpAudit: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.GcpAudit.apply), vendorNs = Seq("gcp."))

  /** Field maps for SigmaHQ `product: azure` rules, DERIVED from the
    * managed AadSignin / AadAudit transforms (reference
    * `data/managed/log_sources/msft/tables/aad_signinlogs.yml`,
    * `aad_auditlogs.yml`) — one per `service`, matching Sigma's
    * logsource split (signinlogs / auditlogs; a merged map would make
    * shared Graph names like `userPrincipalName` ambiguous across the
    * two raw schemas). Graph-spelled rule fields
    * (`conditionalAccessStatus`, `activityDisplayName`,
    * `userPrincipalName`) resolve onto the columns the transforms emit;
    * portal display-name aliases that correspond to no Graph field in
    * the raw export (`ResultType`, `ClientApp`) are not derivable
    * correspondences and pass through loudly.
    */
  lazy val ecsAzureSignin: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.AadSignin.apply), vendorNs = Seq("azure."))

  lazy val ecsAzureAudit: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.AadAudit.apply), vendorNs = Seq("azure."))

  /** Field map for SigmaHQ `product: github` / `service: audit` rules —
    * DERIVED from the managed GithubAudit transform (reference
    * `data/managed/log_sources/github_audit/log_source.yml`). SigmaHQ
    * github rules spell fields in the raw audit log's own snake_case
    * (`action`, `actor`, `transport_protocol_name`), which resolve by
    * suffix match onto the raw leaves the transform moves — preferring
    * the ECS hoists (`event.action`, `user.name`) over github.* struct
    * copies; emitted column names pass through.
    */
  lazy val ecsGithubAudit: String => String = FieldMapDerive.fieldMap(
    Seq(graft.transform.managed.GithubAudit.apply), vendorNs = Seq("github."))

  /** Field map for SigmaHQ `product: m365` rules — DERIVED from the
    * managed O365Audit transform (reference
    * `data/managed/log_sources/o365/tables/audit.yml`). The unified audit
    * log's PascalCase raw names (`Workload`, `UserId`, `ObjectId`,
    * `RecordType`) resolve by suffix match onto the columns the transform
    * moves verbatim. Hand-kept because the transform's moves are COMPUTED
    * (the Okta precedent — derivation provably can't see through them):
    * `Operation → event.action` (a when-chain that renames exactly the
    * three AzureActiveDirectory user-CRUD operations and passes
    * everything else verbatim — rules over `Add user.`/`Update user.`/
    * `Delete user.` must spell the normalized ECS values instead).
    * NOT mapped, by construction: `ResultStatus` (normalized into
    * event.outcome's success/failure vocabulary — raw spellings like
    * `Succeeded` don't survive), `ClientIP`/`ActorIpAddress` (coalesced
    * into source.ip behind `ClientIPAddress` — mapping either would
    * mis-match records where a higher-precedence address exists); such
    * fields pass through and fail loudly at bind time.
    */
  lazy val ecsO365: String => String = {
    val computedMoves = handKeptMoves("o365")
    val derived = FieldMapDerive.fieldMap(
      Seq(graft.transform.managed.O365Audit.apply), vendorNs = Seq("o365."))
    (f: String) => computedMoves.getOrElse(f.toLowerCase, derived(f))
  }

  /** Field map for SigmaHQ `product: crowdstrike` / `service: falcon`
    * rules — DERIVED from the managed CrowdstrikeFalcon transform
    * (reference
    * `data/managed/log_sources/crowdstrike_falcon/log_source.yml`).
    * The streaming API's envelope fields (`metadata.eventType`,
    * `metadata.customerIDString`) and the verbatim event scalars
    * (`Success`, `MatchCount`, `FineScore`) derive; most event payload
    * fields pass through the reference's `denull` scrub (""/"-"/"N/A" →
    * null) — a COMPUTED move derivation can't see through, so the ones
    * SigmaHQ rules actually key on are hand-kept (the Okta precedent):
    * `OperationName`, `DetectName`, `CommandLine`, `UserName` resolve to
    * their crowdstrike.event.* vendor copies (values verbatim whenever
    * non-placeholder), `ComputerName → host.name` (the
    * DetectionSummaryEvent hoist). NOT mapped, by construction:
    * `Severity` (string→int cast), `Technique`/`Tactic` (lowered into
    * arrays), the hash trio (event-type-gated) — rules over those pass
    * through loudly.
    */
  lazy val ecsCrowdstrikeFalcon: String => String = {
    val computedMoves = handKeptMoves("crowdstrike_falcon")
    val derived = FieldMapDerive.fieldMap(
      Seq(graft.transform.managed.CrowdstrikeFalcon.apply),
      vendorNs = Seq("crowdstrike."))
    (f: String) => computedMoves.getOrElse(f.toLowerCase, derived(f))
  }

  /** Field map for SigmaHQ `product: suricata` rules — DERIVED from the
    * managed Suricata transform (reference
    * `data/managed/log_sources/suricata/tables/eve.yml`). EVE's own
    * spellings (`alert.signature`, `alert.severity`, `src_ip`,
    * `http.url`) resolve by suffix match onto the verbatim moves — ECS
    * hoists (rule.name, event.severity, source.*, url.original) win over
    * the suricata.eve.* struct copies; `alert.signature_id` derives to
    * the TYPED vendor copy (the whole alert struct moves verbatim and
    * fans out per leaf) because the rule.id hoist is a cast. ONE
    * hand-kept computed move (the Okta precedent):
    * `event_type → suricata.eve.event_type` — the transform lowercases
    * it (EVE event types are lowercase and compiled predicates compare
    * case-insensitively, so the verdict is unchanged). NOT mapped, by
    * construction: the dns branch (`dns.rrname` et al. are
    * event-type-gated when() moves) and `proto` (lowered into
    * network.transport) — EVE rules spell those against the dns /
    * network ECS columns directly, which pass through as output leaves.
    */
  lazy val ecsSuricata: String => String = {
    val computedMoves = handKeptMoves("suricata")
    val derived = FieldMapDerive.fieldMap(
      Seq(graft.transform.managed.Suricata.apply),
      vendorNs = Seq("suricata."))
    (f: String) => computedMoves.getOrElse(f.toLowerCase, derived(f))
  }

  // DERIVATION BOUNDARY (documented per the round-16 review): the field
  // maps above exist for every managed source whose transform PARSES A
  // JSON ROOT — FieldMapDerive extracts correspondences from the
  // from_json expression tree, so a source with no such root is out of
  // derivation's reach BY CONSTRUCTION, not by omission:
  //   - panw_traffic: CSV-positional syslog (field i of a split line);
  //     every output is a positional pick, no raw leaf names exist.
  //   - aws_elb / s3_access: grok/regex line formats — captures are
  //     computed extractions, not verbatim column moves.
  // Rules for those sources address the emitted ECS/vendor columns
  // directly (which pass through any map unchanged); a raw-name map
  // would have to be entirely hand-kept, forfeiting the can't-drift
  // property that is the point of the derived family.

  /** Parse one Sigma rule document and compile its detection to a
    * predicate. `fieldMap` renames Sigma field names to the event
    * table's columns (e.g. [[ecsCloudtrail]]); `keywordField` is the
    * column keyword-list selections search.
    */
  def load(
      yamlText: String,
      fieldMap: String => String = identity,
      keywordField: String = "message",
      placeholders: Map[String, Seq[String]] = Map.empty): SigmaRule =
    loadNode(yaml.readTree(yamlText), fieldMap, keywordField, placeholders)

  private def loadNode(
      root: JsonNode,
      fieldMap: String => String,
      keywordField: String,
      placeholders: Map[String, Seq[String]]): SigmaRule = {
    val det = root.path("detection")
    require(det.isObject, "sigma rule has no detection section")
    val rawCondition = det.path("condition") match {
      case c if c.isTextual => c.asText
      // a LIST of conditions is OR of each (pre-2.0 spec, still common)
      case c if c.isArray =>
        c.elements.asScala.map(e => s"(${e.asText})").mkString(" or ")
      case _ => sys.error("sigma rule has no condition")
    }
    val title = root.path("title").asText("unnamed sigma rule")
    // the pre-2.0 spec places `timeframe` INSIDE the detection section;
    // later rules put it at document level — accept both (and never
    // compile it as a selection)
    val timeframe = Seq(det.path("timeframe"), root.path("timeframe"))
      .collectFirst { case n if n.isTextual => n.asText }
      .getOrElse("1h")
    // deprecated pre-2.0 aggregation suffix: `<cond> | count(field) by f > N`.
    // Split on the FIRST '|' only — the aggregation side owns everything
    // after it (a '|' inside the agg text fails its own parse with a
    // named error, not a bogus "multiple sections" one).
    val (condition, aggText) = rawCondition.split("\\|", 2) match {
      case Array(c) => (c, None)
      case Array(c, agg) => (c, Some(agg.trim))
    }
    val selections: Map[String, Column] = det.properties.asScala
      .filter(e => e.getKey != "condition" && e.getKey != "timeframe")
      .map(e => e.getKey -> compileSelection(e.getValue, fieldMap, keywordField,
        placeholders))
      .toMap
    val detect = new ConditionParser(condition.trim, selections).parse()
    // the aggregation side parses AFTER the selections: `| near sel2 and
    // not sel3` references selections of this same rule by name
    val legacyAgg = aggText.map(parseLegacyAggregation(_, title,
      parseTimeframe(timeframe), fieldMap,
      Option(root.path("level").asText(null)).filter(_.nonEmpty),
      selections, detect))
    SigmaRule(
      title = title,
      id = Option(root.path("id").asText(null)).filter(_.nonEmpty),
      level = Option(root.path("level").asText(null)).filter(_.nonEmpty),
      detect = detect,
      correlation = legacyAgg)
  }

  /** Parse a Sigma v2 CORRELATION document (the modern spec's form —
    * `correlation: {type, rules, group-by, timeframe, condition: {gte: N,
    * field?}}`). Field names in `group-by`/`field` go through `fieldMap`.
    */
  def loadCorrelation(
      yamlText: String,
      fieldMap: String => String = identity): CorrelationSpec =
    loadCorrelationNode(yaml.readTree(yamlText), fieldMap)

  private def loadCorrelationNode(
      root: JsonNode,
      fieldMap: String => String): CorrelationSpec = {
    import scala.jdk.CollectionConverters._
    val c = root.path("correlation")
    require(c.isObject, "not a sigma correlation document")
    val corrType = c.path("type").asText
    require(Set("event_count", "value_count", "temporal",
        "temporal_ordered")(corrType),
      s"unsupported correlation type '$corrType'")
    val cond = c.path("condition")
    val temporal = corrType.startsWith("temporal")
    // temporal correlations have an implicit condition (all referenced
    // rules observed); counting ones need exactly one comparison
    val ops = if (cond.isObject)
      Seq("gt", "gte", "lt", "lte", "eq").filter(o => cond.has(o)) else Nil
    require(temporal || ops.size == 1,
      s"correlation condition needs exactly one of " +
        s"gt/gte/lt/lte/eq, got ${ops.mkString(",")}")
    val field = Option(cond.path("field").asText(null)).filter(_.nonEmpty)
    require(corrType != "value_count" || field.isDefined,
      "value_count correlation needs condition.field")
    CorrelationSpec(
      title = root.path("title").asText("unnamed sigma correlation"),
      corrType = corrType,
      ruleNames = {
        val v = c.path("rules")
        if (v.isArray) v.elements.asScala.map(_.asText).toSeq
        else Seq(v.asText)
      },
      groupBy = {
        val v = c.path("group-by")
        if (v.isArray) v.elements.asScala.map(_.asText).map(fieldMap).toSeq
        else Nil
      },
      timeframeSeconds = parseTimeframe(c.path("timeframe").asText("1h")),
      op = ops.headOption.getOrElse("gte"),
      n = ops.headOption.map(o => cond.path(o).asLong).getOrElse(1L),
      field = field.map(fieldMap),
      level = Option(root.path("level").asText(null)).filter(_.nonEmpty))
  }

  /** Evaluate a correlation over an event frame: events selected by the
    * referenced rules' predicates (OR), grouped by the correlation's
    * group-by columns and a TUMBLING `timeframe` window, counted
    * (event_count) or distinct-counted over `field` (value_count), and
    * filtered by the threshold condition — the A1 batch shape, one
    * grouped aggregation. The anchored-window alternative (first match
    * opens the window, the reference's alert semantics) is
    * [[graft.plans.AnchoredSession]]; tumbling is the deterministic
    * oracle-checkable form, and both are gated engine surfaces.
    */
  def correlationMatches(events: DataFrame, rules: Seq[SigmaRule],
      corr: CorrelationSpec, ts: Column = col("ts")): DataFrame = {
    // ruleNames order matters for temporal_ordered — resolve IN that
    // order; a near()-built spec carries its predicates pre-resolved
    val posPreds: Seq[Column] =
      if (corr.resolved.nonEmpty) corr.resolved.map(_._2)
      else {
        val referenced = corr.ruleNames.flatMap(n => rules.find(_.title == n))
        require(referenced.size == corr.ruleNames.size,
          s"correlation '${corr.title}' references unloaded rules " +
            s"(wanted ${corr.ruleNames.mkString(", ")})")
        referenced.map(_.detect)
      }
    val winStart = // tumbling window: epoch floored to the timeframe
      from_unixtime(
        (unix_seconds(ts) / corr.timeframeSeconds).cast("long") *
          corr.timeframeSeconds).cast("timestamp")
    val keyCols = corr.groupBy.map(col)
    val out = corr.corrType match {
      case "event_count" | "value_count" =>
        val selected = events.filter(posPreds.reduce(_ || _))
        val metric = corr.corrType match {
          case "event_count" => count(lit(1))
          case "value_count" => countDistinct(col(corr.field.get))
        }
        val grouped = selected
          .groupBy((keyCols :+ winStart.as("window_start")): _*)
          .agg(metric.cast("long").as("n"))
        val pass = corr.op match {
          case "gt" => col("n") > corr.n
          case "gte" => col("n") >= corr.n
          case "lt" => col("n") < corr.n
          case "lte" => col("n") <= corr.n
          case "eq" => col("n") === corr.n
        }
        grouped.filter(pass)
      case "temporal" =>
        // all referenced rules observed in the same group + window
        // (unordered): tag each event with the rules it matches, count
        // distinct tags per (group, window). near()'s negated
        // selections ride the same tagged union with tags past the
        // positive range — the window passes only when it saw EVERY
        // positive tag and ZERO negative ones.
        val p = posPreds.size
        val tagged = (posPreds ++ corr.negResolved.map(_._2)).zipWithIndex
          .map { case (pred, i) =>
            events.filter(pred)
              .select((keyCols :+ winStart.as("window_start") :+
                lit(i).as("__tag")): _*)
          }.reduce(_.unionAll(_))
        tagged
          .groupBy((keyCols :+ col("window_start")): _*)
          .agg(
            countDistinct(when(col("__tag") < p, col("__tag")))
              .cast("long").as("n"),
            count(when(col("__tag") >= p, lit(1))).as("__n_neg"))
          .filter(col("n") === p && col("__n_neg") === 0L)
          .drop("__n_neg")
      case "temporal_ordered" =>
        // the funnel chain per (group, window): earliest rule-1 match,
        // then the earliest rule-2 match STRICTLY after it, … — all
        // stages must bind (q122's earliest-greedy semantics, windowed,
        // and q122's JOIN-CHAIN shape: R-1 slim min-aggregations all
        // hashed on the same (group, window) key, so the stage joins
        // land co-partitioned after the first shuffle; arrays stay out
        // of filter conditions — the PlanShapeSpec generator-pushdown
        // guard applies to this surface like any other)
        def stage(i: Int): DataFrame = events.filter(posPreds(i))
          .select((keyCols :+ winStart.as("window_start") :+
            ts.as("__ts")): _*)
        val joinKeys = corr.groupBy :+ "window_start"
        val first = stage(0)
          .groupBy((keyCols :+ col("window_start")): _*)
          .agg(min(col("__ts")).as("__t0"))
        posPreds.indices.drop(1).foldLeft(first) { (prev, i) =>
          stage(i).join(prev, joinKeys)
            .where(col("__ts") > col(s"__t${i - 1}"))
            .groupBy((keyCols :+ col("window_start")): _*)
            .agg(min(col("__ts")).as(s"__t$i"))
        }.withColumn("n", lit(posPreds.size.toLong))
      case other => sys.error(s"unsupported correlation type '$other'")
    }
    out.select((lit(corr.title).as("rule_name") +: keyCols) :+
      col("window_start") :+ col("n"): _*)
  }

  /** TRUE sliding-proximity evaluation of a `near` correlation — the
    * per-EVENT semantics the tumbling form approximates: a base-rule
    * event passes iff EVERY positive selection has a match within
    * ±`timeframeSeconds` of it (same group, null-safe), and NO negative
    * selection does. No epoch-aligned bucket boundary exists, so the
    * 23:59/00:01 straddle that tumbling misses fires here. Returns the
    * passing base ROWS (all original columns) — callers project.
    *
    * Shape: one `left_semi` per positive and one `left_anti` per
    * negative selection, each joining the base side against that
    * selection's (group, second) match set on group-equality (null-safe
    * `<=>`, matching the tumbling path's null grouping) plus the
    * |Δts| ≤ timeframe range. Each match set BROADCASTS only when its
    * plan-estimated size fits ([[graft.lake.Lake.fitsBroadcast]]) — in
    * SIEM workloads rule matches are the rare side by construction, so
    * the base frame never shuffles on the common path. A degenerate
    * selection whose match set outgrows the broadcast (e.g. a bare
    * `contains` matching a third of all events) falls back to a
    * time-bucketed EQUI join: the match side expands to its
    * (group, ⌊ts/timeframe⌋ ± 1) neighbor buckets, the join keys on
    * (group, bucket) with the residual |Δts| ≤ timeframe filter — the
    * [[graft.operators.RangeJoin]] bucketing posture; results identical
    * by construction (any pair within ±timeframe lands in the same or an
    * adjacent bucket), cost a bounded 3× expansion of the match side
    * instead of an unbounded broadcast. An event matching both the base
    * and a positive selection self-correlates at distance 0 — consistent
    * with the tumbling tagged union, where one event contributes every
    * tag it matches.
    */
  def nearProximityMatches(events: DataFrame, base: Column,
      positives: Seq[Column], negatives: Seq[Column],
      timeframeSeconds: Long, groupBy: Seq[String] = Nil,
      ts: Column = col("ts"),
      broadcastMaxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    require(timeframeSeconds >= 0, "timeframe must be non-negative")
    val baseSecs = unix_seconds(ts)
    val tf = lit(timeframeSeconds)
    def side(pred: Column): DataFrame =
      events.filter(pred).select(
        (groupBy.map(c => col(c).as(s"__g_$c")) :+
          unix_seconds(ts).as("__sts")): _*)
    def groupCond(s: DataFrame): Seq[Column] =
      groupBy.map(c => col(c) <=> s(s"__g_$c"))
    // floor-division bucket (pmod keeps it correct for negative seconds)
    def bucketOf(secs: Column): Column =
      ((secs - pmod(secs, tf)) / tf).cast("long")
    def joinSide(cur: DataFrame, pred: Column, how: String): DataFrame = {
      val s = side(pred)
      if (graft.lake.Lake.fitsBroadcast(s, broadcastMaxBytes)) {
        val b = broadcast(s)
        val c = groupCond(b)
          .foldLeft(abs(baseSecs - b("__sts")) <= tf)(_ && _)
        cur.join(b, c, how)
      } else if (timeframeSeconds == 0L) {
        // timeframe 0 means exact-timestamp co-occurrence — the bucket
        // arithmetic below would divide by zero, and no bucketing is
        // needed: (group, second) equality IS the join key (a plain
        // shuffled equi join, strictly cheaper than the ±1 expansion)
        val c = groupCond(s).foldLeft(baseSecs === s("__sts"))(_ && _)
        cur.join(s, c, how)
      } else {
        val expanded = s
          .withColumn("__b0", bucketOf(col("__sts")))
          .withColumn("__bkt", explode(array(
            col("__b0") - 1, col("__b0"), col("__b0") + 1)))
          .drop("__b0")
        val c = groupCond(expanded)
          .foldLeft(bucketOf(baseSecs) === expanded("__bkt") &&
            abs(baseSecs - expanded("__sts")) <= tf)(_ && _)
        cur.join(expanded, c, how)
      }
    }
    val pos = positives.foldLeft(events.filter(base))(
      (cur, p) => joinSide(cur, p, "left_semi"))
    negatives.foldLeft(pos)((cur, n) => joinSide(cur, n, "left_anti"))
  }

  /** `count() by f > N` / `count(field) by f1 f2 >= N` and
    * `near sel2 [and sel3] [and not sel4]` (pre-2.0 grammar). The near
    * form compiles onto the q144 temporal machinery: the base rule plus
    * every positive selection must fire inside one `timeframe` window,
    * and no negated selection may — evaluated by
    * [[correlationMatches]]'s tagged union with the predicates carried
    * pre-resolved (they are selections of this rule, not other rules).
    *
    * TUMBLING-WINDOW APPROXIMATION (the v2-temporal caveat applies here
    * too): `timeframe` windows are epoch-aligned tumbling buckets, so a
    * base match and a selection match within `timeframe` of each other
    * but STRADDLING a bucket boundary (23:59 and 00:01 under a 1d
    * timeframe) do NOT correlate — a deliberate narrowing of near()'s
    * sliding proximity reading in exchange for one deterministic
    * oracle-checkable aggregation. TRUE sliding proximity — every
    * positive selection within ±timeframe of the base EVENT, no negative
    * selection in that radius — is [[nearProximityMatches]] (per-event
    * range semi-joins, q158-gated); pick per deployment: tumbling for
    * cheap epoch-bucketed sweeps, proximity when boundary straddles
    * must fire.
    */
  private def parseLegacyAggregation(agg: String, title: String,
      timeframeSeconds: Long, fieldMap: String => String,
      level: Option[String], selections: Map[String, Column],
      baseDetect: Column): CorrelationSpec = {
    val re = raw"count\(\s*([\w.]*)\s*\)\s*(?:by\s+([\w.\s,]+?))?\s*(>=|<=|>|<|==?)\s*(\d+)".r
    val nearRe = raw"near\s+(.+)".r
    agg match {
      case nearRe(exprText) =>
        val terms = exprText.split(raw"\s+and\s+").map(_.trim)
          .filter(_.nonEmpty)
        require(terms.nonEmpty, s"empty near() expression in '$title'")
        val (negTerms, posTerms) = terms.partition(_.startsWith("not "))
        def sel(name: String): Column = selections.getOrElse(name,
          sys.error(s"near() references unknown selection '$name' " +
            s"in '$title' (have ${selections.keys.mkString(", ")})"))
        val posNames = posTerms.toSeq
        val negNames = negTerms.toSeq.map(_.stripPrefix("not ").trim)
        CorrelationSpec(
          title = title,
          corrType = "temporal",
          ruleNames = title +: posNames,
          groupBy = Nil,
          timeframeSeconds = timeframeSeconds,
          op = "gte",
          n = (1 + posNames.size).toLong,
          field = None,
          level = level,
          resolved = (title -> baseDetect) +:
            posNames.map(n => n -> sel(n)),
          negResolved = negNames.map(n => n -> sel(n)))
      case re(fieldRaw, byRaw, opRaw, nRaw) =>
        val field = Option(fieldRaw).map(_.trim).filter(_.nonEmpty)
        CorrelationSpec(
          title = title,
          corrType = if (field.isDefined) "value_count" else "event_count",
          ruleNames = Seq(title), // a legacy agg applies to its own rule
          groupBy = Option(byRaw).toSeq
            .flatMap(_.split("[,\\s]+")).filter(_.nonEmpty).map(fieldMap),
          timeframeSeconds = timeframeSeconds,
          op = opRaw match {
            case ">" => "gt"; case ">=" => "gte"; case "<" => "lt"
            case "<=" => "lte"; case "=" | "==" => "eq"
          },
          n = nRaw.toLong,
          field = field.map(fieldMap),
          level = level)
      case other => sys.error(
        s"unsupported sigma aggregation condition: '$other' " +
          "(count()/count(field) with by-list and a comparison, and " +
          "near sel [and sel2] [and not sel3], are supported)")
    }
  }

  /** Sigma timeframe strings: `15s` / `10m` / `2h` / `1d`. */
  private[config] def parseTimeframe(s: String): Long = {
    val re = raw"(\d+)\s*([smhd])".r
    s.trim.toLowerCase match {
      case re(n, u) => n.toLong * (u match {
        case "s" => 1L; case "m" => 60L; case "h" => 3600L; case "d" => 86400L
      })
      case other => sys.error(s"unparseable sigma timeframe '$other'")
    }
  }

  /** Split a YAML stream into documents with the YAML parser's NATIVE
    * multi-document reading — a regex split on `^---$` would corrupt a
    * rule whose block scalar (a description, a script payload) contains
    * a bare `---` line. Empty documents (`--- ---`) are dropped.
    */
  private def readDocuments(yamlText: String): Seq[JsonNode] = {
    val parser = yaml.getFactory.createParser(yamlText)
    try yaml.readValues(parser, classOf[JsonNode]).asScala.toVector
      .filterNot(n => n == null || n.isNull || n.isMissingNode)
    finally parser.close()
  }

  /** Load every rule in a multi-document YAML stream (sigma collections
    * ship many rules per file).
    */
  def loadAll(
      yamlText: String,
      fieldMap: String => String = identity,
      keywordField: String = "message",
      placeholders: Map[String, Seq[String]] = Map.empty): Seq[SigmaRule] =
    readDocuments(yamlText).map(loadNode(_, fieldMap, keywordField, placeholders))

  /** Load a rule-pack directory the way users keep Sigma repos: every
    * `*.yml`/`*.yaml` under `dir` (recursive, sorted for determinism),
    * multi-document files expanded, correlation documents separated from
    * detection rules. A file that fails to parse names itself in the
    * error — a 500-rule pack must not die anonymously.
    */
  def loadRulePack(
      dir: String,
      fieldMap: String => String = identity,
      keywordField: String = "message",
      placeholders: Map[String, Seq[String]] = Map.empty): (Seq[SigmaRule], Seq[CorrelationSpec]) = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = // walk streams hold directory handles — close deterministically
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
        .toVector.sortBy(_.toString)
      finally walk.close()
    val rules = Seq.newBuilder[SigmaRule]
    val corrs = Seq.newBuilder[CorrelationSpec]
    files.foreach { f =>
      val text = java.nio.file.Files.readString(f)
      try readDocuments(text).foreach { doc =>
        if (doc.path("correlation").isObject)
          corrs += loadCorrelationNode(doc, fieldMap)
        else {
          val r = loadNode(doc, fieldMap, keywordField, placeholders)
          rules += r
          // a legacy `| count() by` rule carries its threshold as an
          // embedded correlation — surface it, or a caller consuming
          // only the rules list would silently alert per-event
          r.correlation.foreach(corrs += _)
        }
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"sigma rule pack: failed to load $f: ${e.getMessage}", e)
      }
    }
    (rules.result(), corrs.result())
  }

  // ----------------------------------------------------------- selection

  private def compileSelection(
      node: JsonNode, fieldMap: String => String, keywordField: String,
      placeholders: Map[String, Seq[String]]): Column =
    node match {
      case o if o.isObject =>
        o.properties.asScala
          .map(e => compileFieldSpec(e.getKey, e.getValue, fieldMap, placeholders))
          .reduceOption(_ && _).getOrElse(lit(true))
      case a if a.isArray && a.elements.asScala.forall(_.isObject) =>
        // list of maps = OR of maps
        a.elements.asScala
          .map(compileSelection(_, fieldMap, keywordField, placeholders))
          .reduceOption(_ || _).getOrElse(lit(false))
      case a if a.isArray =>
        // keyword list: match anywhere in the designated message field
        a.elements.asScala
          .map(v => stringMatch(col(keywordField), "contains", v.asText,
            caseSensitive = false))
          .reduceOption(_ || _).getOrElse(lit(false))
      case v => // bare scalar keyword
        stringMatch(col(keywordField), "contains", v.asText, caseSensitive = false)
    }

  /** One `field|mod1|mod2: value(s)` entry → predicate. */
  private def compileFieldSpec(
      key: String, value: JsonNode, fieldMap: String => String,
      placeholders: Map[String, Seq[String]]): Column = {
    val parts = key.split('|')
    val field = col(fieldMap(parts.head))
    var mods = parts.tail.toList
    val requireAll = mods.contains("all")
    val caseSensitive = mods.contains("cased")
    mods = mods.filterNot(m => m == "all" || m == "cased")
    val values: Seq[JsonNode] =
      if (value.isArray) value.elements.asScala.toSeq else Seq(value)
    val perValue = mods match {
      case "fieldref" :: rest =>
        // value(s) name ANOTHER FIELD: compare this field to that
        // field's runtime value (Sigma v2 fieldref — parent/child
        // process-name equality and the like). Composes with contains/
        // startswith/endswith; field names pass through the same map as
        // selection keys; default-insensitive like every Sigma match.
        val mode = matchMode(rest, "fieldref")
        values.map { v =>
          val other = col(fieldMap(v.asText))
          val (l, r) =
            if (caseSensitive) (field.cast("string"), other.cast("string"))
            else (lower(field.cast("string")), lower(other.cast("string")))
          mode match {
            case "equals" => l === r
            case "contains" => l.contains(r)
            case "startswith" => l.startsWith(r)
            case "endswith" => l.endsWith(r)
          }
        }
      case _ =>
        values.map(compileOneValue(field, mods, _, caseSensitive,
          placeholders))
    }
    if (requireAll) perValue.reduceOption(_ && _).getOrElse(lit(true))
    else perValue.reduceOption(_ || _).getOrElse(lit(false))
  }

  private def compileOneValue(
      field: Column, mods: List[String], v: JsonNode,
      caseSensitive: Boolean,
      placeholders: Map[String, Seq[String]]): Column = mods match {
    case Nil =>
      if (v.isNull) field.isNull
      else if (v.isNumber) field === lit(v.numberValue.toString.toDouble match {
        case d if d.isWhole => v.asLong
        case _ => v.asDouble
      })
      else if (v.isBoolean) field === lit(v.asBoolean)
      else stringMatch(field, "equals", v.asText, caseSensitive)
    case "contains" :: Nil =>
      stringMatch(field, "contains", v.asText, caseSensitive)
    case "startswith" :: Nil =>
      stringMatch(field, "startswith", v.asText, caseSensitive)
    case "endswith" :: Nil =>
      stringMatch(field, "endswith", v.asText, caseSensitive)
    case "re" :: Nil => field.rlike(v.asText) // |re is case-SENSITIVE per spec
    case "gt" :: Nil => field > numLit(v)
    case "gte" :: Nil => field >= numLit(v)
    case "lt" :: Nil => field < numLit(v)
    case "lte" :: Nil => field <= numLit(v)
    case "cidr" :: Nil =>
      val b = graft.operators.RangeJoin.cidrBounds(lit(v.asText))
      val ip = graft.operators.RangeJoin.ipv4ToLong(field)
      ip.between(b.getField("lo"), b.getField("hi"))
    case "windash" :: rest =>
      // cmd-line dash variants in BOTH directions — a slash-spelled rule
      // value must match dash-spelled events and vice versa. Each dash/
      // slash POSITION compiles to one character class over every
      // spelling (-, /, en dash, em dash, horizontal bar), so
      // per-position MIXED spellings (`-a /b`) match too — whole-string
      // enumeration cannot cover the cross product
      windashMatch(field, matchMode(rest, "windash"), v.asText, caseSensitive)
    case "base64" :: rest =>
      // literal expansion: the rule value base64-encoded, remaining
      // match mode applied to the encoded text (base64 alphabet has no
      // glob metacharacters, so the literal fast path applies).
      // Wildcards cannot survive encoding — `*`/`?` would become
      // literal bytes and the rule could never match its intent, so
      // fail loudly (pySigma rejects these too).
      require(!hasWildcard(v.asText),
        s"sigma base64 modifier cannot encode a wildcarded value: " +
          s"'${v.asText}' (*/? would become literal bytes)")
      stringMatch(field, matchMode(rest, "base64"),
        java.util.Base64.getEncoder.encodeToString(
          v.asText.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        caseSensitive)
    case "base64offset" :: rest =>
      // base64 of a value embedded at an UNKNOWN byte offset: the
      // encoding of a span depends only on offset mod 3, so three
      // alignment variants (value shifted by 0/1/2 pad bytes, sliced to
      // the chars fully determined by the value) cover every position —
      // the encoded-PowerShell staple (`|base64offset|contains`)
      require(!hasWildcard(v.asText),
        s"sigma base64offset modifier cannot encode a wildcarded value: " +
          s"'${v.asText}' (*/? would become literal bytes)")
      matchMode(rest, "base64offset") match {
        case "contains" =>
          base64OffsetVariants(v.asText)
            .map(s => stringMatch(field, "contains", s, caseSensitive))
            .reduce(_ || _)
        case other => sys.error(
          s"base64offset composes with 'contains' only, got '$other' " +
            "(an offset-sliced substring is never a whole field)")
      }
    case (enc @ ("wide" | "utf16le" | "utf16be" | "utf16")) :: rest =>
      // UTF-16 widening BEFORE base64 — the encoded-PowerShell reality:
      // `-EncodedCommand` payloads are base64 of UTF-16LE text, so the
      // SigmaHQ staple is `|utf16le|base64offset|contains`. `wide` is an
      // alias of `utf16le`; `utf16` prefixes the LE byte-order mark.
      // These compose with base64/base64offset only (raw UTF-16 bytes
      // are not matchable as text).
      require(!hasWildcard(v.asText),
        s"sigma $enc modifier cannot widen a wildcarded value: " +
          s"'${v.asText}' (*/? would become literal UTF-16 bytes)")
      val bytes = utf16Bytes(enc, v.asText)
      rest match {
        case "base64" :: rest2 =>
          stringMatch(field, matchMode(rest2, s"$enc|base64"),
            java.util.Base64.getEncoder.encodeToString(bytes), caseSensitive)
        case "base64offset" :: rest2 =>
          matchMode(rest2, s"$enc|base64offset") match {
            case "contains" =>
              base64OffsetVariants(bytes)
                .map(s => stringMatch(field, "contains", s, caseSensitive))
                .reduce(_ || _)
            case other => sys.error(
              s"base64offset composes with 'contains' only, got '$other' " +
                "(an offset-sliced substring is never a whole field)")
          }
        case other => sys.error(
          s"sigma $enc composes with base64/base64offset only" +
            (if (other.isEmpty) "" else s", got '${other.mkString("|")}'"))
      }
    case "expand" :: rest =>
      // `%name%` placeholders substitute per-deployment value lists (the
      // pySigma placeholder pipeline): the value expands to the cross
      // product over every placeholder it contains, OR'd, with the
      // remaining modifier chain applied to each expanded literal. An
      // UNDEFINED placeholder fails loudly — silently matching the raw
      // `%name%` text would make the rule dead.
      val raw = v.asText
      val found = PlaceholderRe.findAllMatchIn(raw).map(_.group(1)).toSeq.distinct
      require(found.nonEmpty,
        s"sigma expand modifier on a value with no %placeholder%: '$raw'")
      val missing = found.filterNot(placeholders.contains)
      require(missing.isEmpty,
        s"sigma expand: undefined placeholder(s) ${missing.mkString(", ")} — " +
          "pass them via the placeholders argument of load/loadRulePack")
      val expanded = found.foldLeft(Seq(raw)) { (acc, name) =>
        for (base <- acc; sub <- placeholders(name))
          yield base.replace(s"%$name%", sub)
      }
      expanded
        .map(ex => compileOneValue(field, rest,
          yaml.getNodeFactory.textNode(ex), caseSensitive, placeholders))
        .reduce(_ || _)
    case other =>
      sys.error(s"unsupported sigma modifier chain: ${other.mkString("|")}")
  }

  private val PlaceholderRe = "%([A-Za-z0-9_]+)%".r

  /** UTF-16 widening for the base64 modifiers (the pySigma expansions):
    * `utf16le`/`wide` → little-endian code units, `utf16be` →
    * big-endian, `utf16` → the LE byte-order mark then little-endian.
    */
  private def utf16Bytes(enc: String, value: String): Array[Byte] = {
    import java.nio.charset.StandardCharsets
    enc match {
      case "utf16le" | "wide" => value.getBytes(StandardCharsets.UTF_16LE)
      case "utf16be" => value.getBytes(StandardCharsets.UTF_16BE)
      case "utf16" =>
        Array[Byte](0xFF.toByte, 0xFE.toByte) ++
          value.getBytes(StandardCharsets.UTF_16LE)
    }
  }

  /** The trailing match-mode of a value-transforming modifier chain
    * (`windash`, `base64`, `base64offset`): bare → equals.
    */
  private def matchMode(rest: List[String], mod: String): String = rest match {
    case Nil => "equals"
    case m :: Nil if Set("contains", "startswith", "endswith")(m) => m
    case other => sys.error(
      s"unsupported sigma modifier chain: $mod|${other.mkString("|")}")
  }

  /** Dash spellings `windash` must treat as one character: ASCII dash
    * and slash, en dash, em dash, horizontal bar (the unicode dashes
    * that survive copy-paste into command lines).
    */
  private val WindashChars = "-/–—―"

  /** Sigma `windash` matching: the value's glob compiled to a regex in
    * which every dash/slash position is the spelling character class —
    * one anchored `rlike`, still codegen'd.
    */
  private def windashMatch(
      field: Column, mode: String, value: String,
      caseSensitive: Boolean): Column = {
    val f = if (caseSensitive) field.cast("string") else lower(field.cast("string"))
    val v = if (caseSensitive) value else value.toLowerCase
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case _ if isEscape(v, i) =>
          sb.append(java.util.regex.Pattern.quote(v.charAt(i + 1).toString))
          i += 2
        case c if WindashChars.indexOf(c) >= 0 =>
          sb.append(s"[$WindashChars]"); i += 1
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append("."); i += 1
        case c =>
          sb.append(java.util.regex.Pattern.quote(c.toString)); i += 1
      }
    }
    val core = sb.toString
    f.rlike(mode match {
      case "equals" => s"^$core$$"
      case "contains" => core
      case "startswith" => s"^$core"
      case "endswith" => s"$core$$"
    })
  }

  /** The three alignment variants of `base64offset` (the public pySigma
    * expansion, `sigma/modifiers.py`): for shift i ∈ 0..2, encode
    * i pad bytes + value and slice off the leading/trailing characters
    * whose bits mix with neighbor bytes — start offsets (0, 2, 3),
    * end trims (0, −3, −2) indexed by (len+i) mod 3. Any occurrence of
    * the value at byte offset k in a plaintext appears in its base64 as
    * variant k mod 3 (property-gated in SigmaSpec).
    */
  private[graft] def base64OffsetVariants(value: String): Seq[String] =
    base64OffsetVariants(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def base64OffsetVariants(bytes: Array[Byte]): Seq[String] = {
    val startOff = Array(0, 2, 3)
    val endTrim = Array(0, -3, -2)
    (0 until 3).map { i =>
      val enc = java.util.Base64.getEncoder.encodeToString(
        Array.fill[Byte](i)(' ') ++ bytes)
      val end = enc.length + endTrim((bytes.length + i) % 3) min enc.length
      enc.substring(startOff(i), end)
    }
  }

  private def numLit(v: JsonNode): Column =
    if (v.isNumber) {
      if (v.isIntegralNumber) lit(v.asLong) else lit(v.asDouble)
    } else lit(v.asText.toDouble)

  /** Sigma string matching: case-insensitive by default, `*`/`?` glob
    * wildcards with `\`-escapes. Plain values compile to the codegen'd
    * equality/LIKE family; wildcarded values to one anchored `rlike`.
    */
  private[config] def stringMatch(
      field: Column, mode: String, value: String,
      caseSensitive: Boolean): Column = {
    val f = if (caseSensitive) field.cast("string") else lower(field.cast("string"))
    val v = if (caseSensitive) value else value.toLowerCase
    if (hasWildcard(v)) {
      val core = globToRegex(v)
      val rx = mode match {
        case "equals" => s"^$core$$"
        case "contains" => core
        case "startswith" => s"^$core"
        case "endswith" => s"$core$$"
      }
      f.rlike(rx)
    } else {
      val l = unescape(v)
      mode match {
        case "equals" => f === lit(l)
        case "contains" => f.contains(lit(l))
        case "startswith" => f.startsWith(l)
        case "endswith" => f.endsWith(l)
      }
    }
  }

  /** Sigma escape rule (spec): only `\*`, `\?`, `\\` are escape
    * sequences; a backslash before any other character is literal text.
    */
  private def isEscape(v: String, i: Int): Boolean =
    v.charAt(i) == '\\' && i + 1 < v.length &&
      "*?\\".indexOf(v.charAt(i + 1)) >= 0

  private def hasWildcard(v: String): Boolean = {
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case _ if isEscape(v, i) => i += 2
        case '*' | '?' => return true
        case _ => i += 1
      }
    }
    false
  }

  /** Glob → regex, honoring `\*` / `\?` / `\\` escapes; everything else
    * regex-quoted.
    */
  private[config] def globToRegex(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case _ if isEscape(v, i) =>
          sb.append(java.util.regex.Pattern.quote(v.charAt(i + 1).toString))
          i += 2
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append("."); i += 1
        case c => sb.append(java.util.regex.Pattern.quote(c.toString)); i += 1
      }
    }
    sb.toString
  }

  private def unescape(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case _ if isEscape(v, i) => sb.append(v.charAt(i + 1)); i += 2
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  // ----------------------------------------------------------- condition

  /** Recursive-descent parser for the Sigma condition grammar:
    *   expr  := term (('or') term)*
    *   term  := fact (('and') fact)*
    *   fact  := 'not' fact | '(' expr ')' | ofExpr | IDENT
    *   ofExpr:= ('1' | INT | 'all') 'of' (PATTERN | 'them')
    * Pattern identifiers may end in `*` (prefix match over selection
    * names). `N of …` for N>1 compiles to "at least N of the matched
    * selections true" via an integer sum — still one codegen'd predicate.
    */
  private final class ConditionParser(
      input: String, selections: Map[String, Column]) {
    private val tokens: Array[String] =
      input.trim.replace("(", " ( ").replace(")", " ) ")
        .split("\\s+").filter(_.nonEmpty)
    private var pos = 0

    private def peek: Option[String] = tokens.lift(pos)
    private def next(): String = { val t = tokens(pos); pos += 1; t }

    def parse(): Column = {
      val c = expr()
      require(pos == tokens.length,
        s"sigma condition: trailing tokens after position $pos in '$input'")
      c
    }

    private def expr(): Column = {
      var c = term()
      while (peek.contains("or")) { next(); c = c || term() }
      c
    }

    private def term(): Column = {
      var c = fact()
      while (peek.contains("and")) { next(); c = c && fact() }
      c
    }

    private def fact(): Column = peek match {
      case Some("not") => next(); !fact()
      case Some("(") =>
        next(); val c = expr()
        require(peek.contains(")"), s"sigma condition: missing ')' in '$input'")
        next(); c
      // quantifier ONLY when the next token is 'of' — a selection
      // literally named `1` (or `all`) is an identifier, not a count
      case Some(n) if (n == "all" || n.forall(_.isDigit)) &&
          tokens.lift(pos + 1).contains("of") =>
        next()
        next() // 'of'
        val pat = next()
        val matched = selectByPattern(pat)
        require(matched.nonEmpty,
          s"sigma condition: '$pat' matches no selection in '$input'")
        if (n == "all") matched.reduce(_ && _)
        else {
          val k = n.toInt
          if (k == 1) matched.reduce(_ || _)
          else matched.map(c => when(c, 1).otherwise(0))
            .reduce(_ + _) >= lit(k)
        }
      case Some(id) =>
        next()
        selections.getOrElse(id,
          sys.error(s"sigma condition references unknown selection '$id'"))
      case None => sys.error(s"sigma condition: unexpected end of '$input'")
    }

    private def selectByPattern(pat: String): Seq[Column] =
      if (pat == "them") selections.values.toSeq
      else if (pat.endsWith("*"))
        selections.collect {
          case (k, v) if k.startsWith(pat.dropRight(1)) => v
        }.toSeq
      else selections.get(pat).toSeq
  }
}
