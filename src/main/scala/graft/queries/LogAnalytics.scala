package graft.queries

import graft.Tables
import graft.operators.Enrichment
import graft.transform.Grok
import graft.util.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryDef._

/** Log-analytics operator surface over the `events`/`documents` stream
  * stand-ins: JSON payload extraction (P1/P2), event-time hourly windows
  * (the reference's pervasive `hour(ts)` structure), sessionization,
  * enrichment lookup joins (J1), threshold detections (A1 batch shape),
  * ingest dedup (S11), array context merge (A2), grok parsing, and record
  * expansion (S5).
  */
object LogAnalytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ---- q20: JSON payload field extraction + aggregation (P1/P2) ----
    QueryDef(
      "q20_json_extract",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            (sum(col("k")).cast(DoubleType) / count(col("k"))).as("avg_k"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
        FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q21: event-time hourly tumbling window (hour(ts) partitioning) --
    QueryDef(
      "q21_hourly_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("ts_hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            msum(col("value")).as("sum_value"))
          .orderBy(col("ts_hour"), col("event_type")),
      Some("""
        SELECT date_trunc('hour', ts) AS ts_hour, event_type, COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY ts_hour, event_type""")),

    // ---- q22: gap-based sessionization (window functions over event time) -
    QueryDef(
      "q22_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM (
          SELECT user_id,
                 CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, ts,
                       LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS prev_us
                FROM events))
        GROUP BY user_id
        ORDER BY user_id""")),

    // ---- q23: enrichment lookup join (J1, broadcast hash join) ----
    QueryDef(
      "q23_enrichment_join",
      (s, dir) => {
        val enriched = Enrichment.lookupJoinFlat(
          t(s, dir, "events"), t(s, dir, "customer"),
          col("user_id"), "c_custkey")
        enriched
          .groupBy(coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("segment"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            msum(col("value")).as("sum_value"))
          .orderBy(col("segment"))
      },
      Some("""
        SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY 1
        ORDER BY segment""")),

    // ---- q24: threshold detection (A1 batch shape: count >= threshold) ----
    QueryDef(
      "q24_threshold_alert",
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("event_type") === "error")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts_hour"))
          .agg(count(lit(1)).as("n_matches"), min(col("event_id")).as("first_event"))
          .filter(col("n_matches") >= 2)
          .orderBy(col("user_id"), col("ts_hour")),
      Some("""
        SELECT user_id, date_trunc('hour', ts) AS ts_hour,
               COUNT(*) AS n_matches, MIN(event_id) AS first_event
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
        ORDER BY user_id, ts_hour""")),

    // ---- q25: ingest dedup — keep first record per logical key (S11) ----
    QueryDef(
      "q25_dedup_first",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_seen"))
          .orderBy(col("user_id"), col("event_type")),
      Some("""
        SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_seen
        FROM events
        GROUP BY 1, 2
        ORDER BY user_id, event_type""")),

    // ---- q26: array context merge (A2: unique+flatten+sort, as string) ----
    QueryDef(
      "q26_array_merge",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
            count(lit(1)).as("n"))
          .orderBy(col("user_id")),
      Some("""
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
               COUNT(*) AS n
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // ---- q27: grok parse (compiled to regexp_extract, no UDF) ----
    QueryDef(
      "q27_grok_parse",
      (s, dir) => {
        val g = Grok.compile("%{WORD:w1} %{WORD:w2}")
        val cols = g.columns(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id"), cols("w1").as("w1"), cols("w2").as("w2"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               NULLIF(regexp_extract(text, '(\b\w+\b) (\b\w+\b)', 1), '') AS w1,
               NULLIF(regexp_extract(text, '(\b\w+\b) (\b\w+\b)', 2), '') AS w2
        FROM documents
        ORDER BY doc_id""")),

    // ---- q28: record expansion (S5 UDTF shape: explode tokens) ----
    QueryDef(
      "q28_token_explode",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(40),
      Some("""
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 40""")),

    // ---- q29: managed ELB grok transform, end-to-end distributed ----
    // Synthesizes classic-ELB access lines deterministically from `events`
    // columns, runs the full managed AwsElb transform (4-alternative grok
    // via single-pass RegexpMatchGroups + ECS shaping), and checks the
    // parsed fields against an INDEPENDENT derivation: the oracle computes
    // the expected values straight from the source columns — no regex —
    // so grok extraction, casts, url parse, and outcome logic are all
    // cross-verified.
    QueryDef(
      "q29_elb_parse",
      (s, dir) => {
        val status = (col("user_id") % 4) * 100 + 200 // 200|300|400|500
        val lines = t(s, dir, "events")
          .filter(col("event_id") % 17 === 0) // sample: regex cost control
          .select(col("event_id"), col("user_id"))
          // pinned repartition before the JSON-build + full managed
          // transform: the single-row-group events scan otherwise
          // serializes the whole transform on one task (q105 lesson)
          .repartition(s.sparkContext.defaultParallelism, col("event_id"))
          .withColumn("message", concat(
            lit("2024-01-01T00:00:00.000000Z my-lb 192.168."),
            col("user_id") % 200, lit("."), col("event_id") % 250 + 1,
            lit(":"), col("event_id") % 60000 + 1024,
            lit(" 10.0.0.1:80 0.001 0.002 0.003 "), status,
            lit(" 200 "), col("event_id") % 1000,
            lit(" "), col("event_id") % 5000,
            lit(" \"GET http://example.com:80/p/"), col("event_id") % 100,
            lit("?u="), col("user_id"),
            lit(" HTTP/1.1\" \"agent/1.0\" - -")))
        graft.transform.managed.AwsElb(lines)
          .select(
            col("event_id"),
            col("source.ip").as("src_ip"),
            col("source.port").as("src_port"),
            col("http.response.status_code").as("status_code"),
            col("event.outcome").as("outcome"),
            col("url.path").as("url_path"),
            col("url.query").as("url_query"),
            col("url.port").as("url_port"),
            col("http.response.body.bytes").as("resp_bytes"))
          // same hoisted-parse trap as q46: pin the partition count so the
          // grok forest runs full-width after the range exchange
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions(col("event_id"))
      },
      Some("""
        SELECT event_id,
               '192.168.' || (user_id % 200) || '.' || (event_id % 250 + 1) AS src_ip,
               CAST(event_id % 60000 + 1024 AS INT) AS src_port,
               CAST((user_id % 4) * 100 + 200 AS BIGINT) AS status_code,
               CASE WHEN (user_id % 4) * 100 + 200 >= 400 THEN 'failure' ELSE 'success' END AS outcome,
               '/p/' || (event_id % 100) AS url_path,
               'u=' || user_id AS url_query,
               CAST(80 AS BIGINT) AS url_port,
               CAST(event_id % 5000 AS BIGINT) AS resp_bytes
        FROM events
        WHERE event_id % 17 = 0
        ORDER BY event_id""")),

    // ---- q43: detection counter over TTL window (A4: RemoteCache shape) --
    QueryDef(
      "q43_ttl_counter",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, 0)
        t(s, dir, "events")
          .filter(col("event_type") === "error")
          .withColumn("n_last_hour", count(lit(1)).over(w))
          .select(col("event_id"), col("user_id"), col("n_last_hour"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, n_last_hour
        FROM (SELECT event_id, user_id,
                     COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
              FROM events WHERE event_type = 'error')
        ORDER BY event_id""")),

    // ---- q44: alert context union-merge + CDC diff (A2/A3) ----
    QueryDef(
      "q44_context_merge",
      (s, dir) => {
        val ctx = t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            collect_set(when(col("event_id") % 2 === 0, col("event_type"))).as("ctx_old"),
            collect_set(when(col("event_id") % 2 === 1, col("event_type"))).as("ctx_new"))
        ctx.select(
          col("user_id"),
          array_join(sort_array(
            graft.operators.AlertContext.merge(col("ctx_old"), col("ctx_new"))), ",").as("merged"),
          array_join(sort_array(
            graft.operators.AlertContext.diff(col("ctx_old"), col("ctx_new"))), ",").as("added"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH c AS (
          SELECT user_id,
                 COALESCE(list_distinct(list(event_type) FILTER (WHERE event_id % 2 = 0)), []) AS ctx_old,
                 COALESCE(list_distinct(list(event_type) FILTER (WHERE event_id % 2 = 1)), []) AS ctx_new
          FROM events GROUP BY user_id)
        SELECT user_id,
               array_to_string(list_sort(list_distinct(ctx_old || ctx_new)), ',') AS merged,
               COALESCE(array_to_string(list_sort(list_filter(ctx_new,
                 x -> NOT coalesce(list_contains(ctx_old, x), false))), ','), '') AS added
        FROM c
        ORDER BY user_id""")),

    // ---- q46: managed zeek ssl transform, end-to-end cross-verified ----
    // Synthesizes zeek ssl.log JSON lines deterministically from `events`
    // columns, runs the full managed ZeekSsl transform (dotted-id lift, TLS
    // version split, X.509 DN parse into component arrays, ja3 related.hash),
    // and checks against an INDEPENDENT derivation: the oracle computes the
    // expected values straight from the source columns — no JSON, no DN
    // parsing — so the whole mapping path is cross-verified.
    QueryDef(
      "q46_zeek_ssl",
      (s, dir) => {
        val ver = when(col("user_id") % 3 === 0, "SSLv3")
          .when(col("user_id") % 3 === 1, "TLSv12").otherwise("TLSv13")
        val lines = t(s, dir, "events")
          .filter(col("event_id") % 13 === 0) // sample: JSON-build cost control
          .select(col("event_id"), col("user_id"))
          // pinned repartition before the JSON-build + full managed
          // transform: the single-row-group events scan otherwise
          // serializes the whole transform on one task (q105 lesson)
          .repartition(s.sparkContext.defaultParallelism, col("event_id"))
          .withColumn("json", concat(
            lit("{\"ts\":"), col("event_id") + 1700000000L,
            lit(".0,\"uid\":\"C"), col("event_id"),
            lit("\",\"id.orig_h\":\"10.0."), col("user_id") % 250,
            lit("."), col("event_id") % 250 + 1,
            lit("\",\"id.orig_p\":"), col("event_id") % 60000 + 1024,
            lit(",\"id.resp_h\":\"93.184.216.34\",\"id.resp_p\":443,\"version\":\""), ver,
            lit("\",\"cipher\":\"TLS_AES_128_GCM_SHA256\",\"curve\":\"x25519\",\"established\":"),
            when(col("event_id") % 2 === 0, "true").otherwise("false"),
            lit(",\"resumed\":false,\"server_name\":\"host-"), col("user_id"),
            lit(".example.com\",\"subject\":\"CN=host-"), col("user_id"),
            lit(".example.com,O=Org"), col("user_id") % 10,
            lit(",C=US\",\"issuer\":\"CN=Issuing CA,O=Example Trust,C=US\","),
            lit("\"validation_status\":\"ok\",\"ja3\":\"j"), col("event_id") % 7,
            lit("\",\"ja3s\":\"s5\"}")))
        graft.transform.managed.ZeekSsl(lines)
          .select(
            col("event_id"),
            col("zeek.session_id").as("sid"),
            col("source.ip").as("src_ip"),
            col("source.port").as("src_port"),
            col("tls.version").as("tls_version"),
            col("tls.version_protocol").as("tls_proto"),
            col("tls.established").cast(IntegerType).as("established"),
            col("zeek.ssl.server.name").as("sni"),
            element_at(col("tls.server.x509.subject.common_name"), 1).as("subj_cn"),
            element_at(col("tls.server.x509.subject.organization"), 1).as("subj_org"),
            element_at(col("tls.server.x509.issuer.common_name"), 1).as("issuer_cn"),
            array_join(col("related.hash"), ",").as("rel_hash"),
            unix_seconds(col("ts")).as("ts_epoch"))
          // NOT .orderBy: a bare global sort lets Catalyst hoist this whole
          // parse forest above the range exchange, where AQE coalesces the
          // small sorted side to ONE partition and the parse runs serially
          // (measured: a single 2.6 s task owning 40% of the query). An
          // EXPLICIT partition count pins the post-exchange stage at full
          // parallelism — the hoisted parse then runs 32-wide — and
          // range-disjoint + sorted partitions still give the same total
          // order.
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions(col("event_id"))
      },
      Some("""
        SELECT event_id,
               'C' || event_id AS sid,
               '10.0.' || (user_id % 250) || '.' || (event_id % 250 + 1) AS src_ip,
               CAST(event_id % 60000 + 1024 AS INT) AS src_port,
               CASE user_id % 3 WHEN 0 THEN '3.0' WHEN 1 THEN '1.2' ELSE '1.3' END AS tls_version,
               CASE WHEN user_id % 3 = 0 THEN 'ssl' ELSE 'tls' END AS tls_proto,
               CAST(event_id % 2 = 0 AS INT) AS established,
               'host-' || user_id || '.example.com' AS sni,
               'host-' || user_id || '.example.com' AS subj_cn,
               'Org' || (user_id % 10) AS subj_org,
               'Issuing CA' AS issuer_cn,
               's5,j' || (event_id % 7) AS rel_hash,
               CAST(event_id + 1700000000 AS BIGINT) AS ts_epoch
        FROM events
        WHERE event_id % 13 = 0
        ORDER BY event_id""")),

    // ---- q48: managed zeek smb_files transform, end-to-end cross-verified
    // Exercises the epoch-in-JSON → ECS timestamp lifts, the
    // action → event.type map (delete→deletion, rename/attr→change), and
    // the windows path composition — oracled from the source columns with
    // no JSON on the oracle side.
    QueryDef(
      "q48_zeek_smb",
      (s, dir) => {
        val action = when(col("user_id") % 4 === 0, "SMB::FILE_OPEN")
          .when(col("user_id") % 4 === 1, "SMB::FILE_DELETE")
          .when(col("user_id") % 4 === 2, "SMB::FILE_RENAME")
          .otherwise("SMB::FILE_SET_ATTRIBUTE")
        val lines = t(s, dir, "events")
          .filter(col("event_id") % 17 === 0)
          .select(col("event_id"), col("user_id"))
          // pinned repartition before the JSON-build + full managed
          // transform: the single-row-group events scan otherwise
          // serializes the whole transform on one task (q105 lesson)
          .repartition(s.sparkContext.defaultParallelism, col("event_id"))
          .withColumn("json", concat(
            lit("{\"ts\":"), col("event_id") + 1700000000L,
            lit(".0,\"uid\":\"C"), col("event_id"),
            lit("\",\"id.orig_h\":\"10.1."), col("user_id") % 250,
            lit(".9\",\"id.orig_p\":445,\"id.resp_h\":\"10.2.0.7\",\"id.resp_p\":445,"),
            lit("\"fuid\":\"F"), col("event_id"),
            lit("\",\"action\":\""), action,
            lit("\",\"path\":\"\\\\\\\\srv\\\\share"), col("user_id") % 5,
            lit("\",\"name\":\"f"), col("event_id"),
            lit(".txt\",\"size\":"), col("event_id") % 100000,
            lit(",\"times.created\":"), col("event_id") + 1699913600L,
            lit(".0,\"times.modified\":"), col("event_id") + 1699917200L,
            lit(".0}")))
        graft.transform.managed.ZeekSmbFiles(lines)
          .select(
            col("zeek.session_id").as("sid"),
            col("event.action").as("action"),
            array_join(col("event.type"), ",").as("etype"),
            col("file.path").as("fpath"),
            col("file.size").as("fsize"),
            unix_seconds(col("file.created")).as("created_epoch"),
            unix_seconds(col("file.mtime")).as("mtime_epoch"),
            unix_seconds(col("ts")).as("ts_epoch"))
          .orderBy(col("sid"))
      },
      Some("""
        SELECT 'C' || event_id AS sid,
               CASE user_id % 4 WHEN 0 THEN 'SMB::FILE_OPEN' WHEN 1 THEN 'SMB::FILE_DELETE'
                    WHEN 2 THEN 'SMB::FILE_RENAME' ELSE 'SMB::FILE_SET_ATTRIBUTE' END AS action,
               'connection,protocol,' ||
                 CASE user_id % 4 WHEN 0 THEN 'info' WHEN 1 THEN 'deletion' ELSE 'change' END AS etype,
               '\\srv\share' || (user_id % 5) || '\f' || event_id || '.txt' AS fpath,
               CAST(event_id % 100000 AS BIGINT) AS fsize,
               CAST(event_id + 1699913600 AS BIGINT) AS created_epoch,
               CAST(event_id + 1699917200 AS BIGINT) AS mtime_epoch,
               CAST(event_id + 1700000000 AS BIGINT) AS ts_epoch
        FROM events
        WHERE event_id % 17 = 0
        ORDER BY sid""")),

    // ---- q49: crowdstrike falcon detection branch, cross-verified ----
    // Exercises the seconds-vs-milliseconds timestamp magnitude branch,
    // the command-line → args/executable split, placeholder-hash
    // filtering, and the severity lift.
    QueryDef(
      "q49_falcon_detect",
      (s, dir) => {
        val ms = (col("event_id") + 1700000000L) * 1000L
        val secs = col("event_id") + 1700000000L
        val lines = t(s, dir, "events")
          .filter(col("event_id") % 19 === 0)
          .select(col("event_id"), col("user_id"))
          // pinned repartition before the JSON-build + full managed
          // transform: the single-row-group events scan otherwise
          // serializes the whole transform on one task (q105 lesson)
          .repartition(s.sparkContext.defaultParallelism, col("event_id"))
          .withColumn("json", concat(
            lit("{\"metadata\":{\"eventType\":\"DetectionSummaryEvent\",\"eventCreationTime\":"),
            when(col("event_id") % 2 === 0, ms).otherwise(secs),
            lit(",\"offset\":"), col("event_id"),
            lit("},\"event\":{\"UserName\":\"alice"), col("user_id"),
            lit("\",\"CommandLine\":\"  tool"), col("user_id") % 5,
            lit(".exe  -x "), col("event_id"),
            lit(" \",\"Severity\":\""), col("user_id") % 5 + 1,
            lit("\",\"SHA256String\":\""),
            when(col("user_id") % 4 === 0, lit("00000000"))
              .otherwise(concat(lit("h"), col("event_id"))),
            lit("\",\"DetectName\":\"Rule"), col("event_id") % 3,
            lit("\",\"LocalIP\":\"10.3.0."), col("user_id") % 250,
            lit("\"}}")))
        graft.transform.managed.CrowdstrikeFalcon(lines)
          .select(
            col("crowdstrike.metadata.offset").as("event_id"),
            unix_seconds(col("ts")).as("ts_epoch"),
            col("user.name").as("uname"),
            col("process.executable").as("exe"),
            size(col("process.args")).as("nargs"),
            col("event.severity").as("sev"),
            col("rule.name").as("rule_name"),
            array_join(col("related.hash"), ",").as("hashes"),
            col("source.ip").as("src_ip"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id,
               CAST(event_id + 1700000000 AS BIGINT) AS ts_epoch,
               'alice' || user_id AS uname,
               'tool' || (user_id % 5) || '.exe' AS exe,
               3 AS nargs,
               CAST(user_id % 5 + 1 AS BIGINT) AS sev,
               'Rule' || (event_id % 3) AS rule_name,
               CASE WHEN user_id % 4 = 0 THEN '' ELSE 'h' || event_id END AS hashes,
               '10.3.0.' || (user_id % 250) AS src_ip
        FROM events
        WHERE event_id % 19 = 0
        ORDER BY event_id""")),

    // ---- q52: as-of join — latest click state as of each purchase ----
    // Point-in-time enrichment the reference leaves to its SQL engines;
    // here the scale-safe union+window formulation (AsOfJoin.asOf: one
    // exchange, no join explosion), cross-checked against DuckDB's native
    // ASOF LEFT JOIN.
    QueryDef(
      "q52_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        graft.operators.AsOfJoin
          .asOf(
            left = ev.filter(col("event_type") === "purchase")
              .select("event_id", "user_id", "ts", "value"),
            right = ev.filter(col("event_type") === "click"),
            keys = Seq("user_id"),
            leftTs = "ts",
            rightTs = "ts",
            carry = Seq("ts" -> "click_ts", "value" -> "click_value"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts, p.value,
               c.ts AS click_ts, c.value AS click_value
        FROM (SELECT event_id, user_id, ts, value
              FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value
                        FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // ---- q75: as-of join, FORWARD direction with a tolerance gate —
    // "next click within an hour of each purchase". Same one-exchange
    // union+window plan as q52; the tolerance nulls matches further than
    // the interval while preserving the left-outer row count. The oracle
    // is DuckDB's native ASOF (<= picks the nearest following row) with
    // the tolerance applied as a post-CASE — legal because ASOF returns
    // the nearest match, the only candidate the gate could keep.
    QueryDef(
      "q75_asof_forward",
      (s, dir) => {
        val ev = t(s, dir, "events")
        graft.operators.AsOfJoin
          .asOf(
            left = ev.filter(col("event_type") === "purchase")
              .select("event_id", "user_id", "ts"),
            right = ev.filter(col("event_type") === "click"),
            keys = Seq("user_id"),
            leftTs = "ts",
            rightTs = "ts",
            carry = Seq("ts" -> "next_click_ts", "value" -> "next_click_value"),
            direction = graft.operators.AsOfJoin.Forward,
            tolerance = Some(expr("INTERVAL 1 HOUR")))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
               CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN c.ts END
                 AS next_click_ts,
               CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN c.value END
                 AS next_click_value
        FROM (SELECT event_id, user_id, ts
              FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value
                        FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.event_id""")),

    // ---- q53: range join — point-in-interval feed enrichment ----
    // The IP-in-CIDR shape the reference's exact-key enrichment can't do;
    // bucketed to an equi hash join (RangeJoin.pointInRange) instead of the
    // BETWEEN theta-join Spark would plan as a nested loop. The synthetic
    // "address" and feed ranges are derived deterministically so the DuckDB
    // oracle builds the identical inputs.
    QueryDef(
      "q53_range_join",
      (s, dir) => {
        val pts = t(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") * lit(2654435761L)) % lit(1000000L) as "ip")
        val rng = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"),
            (col("s_suppkey") * lit(104729L)) % lit(1000000L) as "lo")
          .withColumn("hi", col("lo") + lit(200L) + (col("s_suppkey") % 97) * 13)
        graft.operators.RangeJoin
          .pointInRange(pts, "ip", rng, "lo", "hi",
            bucketWidth = 1024, broadcastRanges = true)
          .select("event_id", "ip", "s_suppkey", "s_name")
          .orderBy(col("event_id"), col("s_suppkey"))
      },
      Some("""
        WITH pts AS (SELECT event_id, (event_id * 2654435761) % 1000000 AS ip
                     FROM events),
        rng AS (SELECT s_suppkey, s_name,
                       (s_suppkey * 104729) % 1000000 AS lo,
                       (s_suppkey * 104729) % 1000000
                         + 200 + (s_suppkey % 97) * 13 AS hi
                FROM supplier)
        SELECT p.event_id, p.ip, r.s_suppkey, r.s_name
        FROM pts p JOIN rng r ON p.ip BETWEEN r.lo AND r.hi
        ORDER BY p.event_id, r.s_suppkey""")),

    // ---- q76: range ENRICHMENT — most-specific-wins, left-preserving.
    // q53 emits every overlapping range; enrichment semantics pick ONE
    // (the narrowest span, ties by lo then key — the longest-prefix-match
    // rule of CIDR feeds) and keep unmatched points with null attributes.
    // One min_by shuffle on the point id after the bucketed equi join.
    QueryDef(
      "q76_range_enrich",
      (s, dir) => {
        val pts = t(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") * lit(2654435761L)) % lit(1000000L) as "ip")
        val rng = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"),
            (col("s_suppkey") * lit(104729L)) % lit(1000000L) as "lo")
          .withColumn("hi", col("lo") + lit(200L) + (col("s_suppkey") % 97) * 13)
        graft.operators.RangeJoin
          .enrich(pts, "event_id", "ip", rng, "lo", "hi",
            bucketWidth = 1024, broadcastRanges = true, pickOne = true)
          .select("event_id", "ip", "s_suppkey", "s_name")
          .orderBy(col("event_id"))
      },
      Some("""
        WITH pts AS (SELECT event_id, (event_id * 2654435761) % 1000000 AS ip
                     FROM events),
        rng AS (SELECT s_suppkey, s_name,
                       (s_suppkey * 104729) % 1000000 AS lo,
                       (s_suppkey * 104729) % 1000000
                         + 200 + (s_suppkey % 97) * 13 AS hi
                FROM supplier),
        m AS (SELECT p.event_id, r.s_suppkey, r.s_name,
                     ROW_NUMBER() OVER (PARTITION BY p.event_id
                       ORDER BY r.hi - r.lo, r.lo, r.s_suppkey) AS rn
              FROM pts p JOIN rng r ON p.ip BETWEEN r.lo AND r.hi)
        SELECT p.event_id, p.ip, m.s_suppkey, m.s_name
        FROM pts p LEFT JOIN m ON m.event_id = p.event_id AND m.rn = 1
        ORDER BY p.event_id""")),

    // ---- q99: sketch aggregates under an ACCURACY gate. At 100 TB the
    // production path for distinct counts and percentiles is a sketch
    // (HLL++ / quantile summaries): one pass, constant state per group, no
    // global sort — exact countDistinct re-shuffles every key and exact
    // percentile materializes the whole column. A sketch result can't be
    // hash-compared across engines (the estimate is engine-specific), so
    // the gate emits BOUND BOOLEANS: the exact values (cross-checked
    // exactly) plus "sketch landed within its published error bound",
    // which the oracle asserts as TRUE. HLL rsd 0.05 is gated at 3σ;
    // approx_percentile(accuracy 10000) has rank error ≤ n/10000, gated
    // generously at ±5% of rank (ties inflate the ≤-count). If a sketch
    // ever violates its bound, the boolean flips and the driver's hash
    // gate goes red.
    QueryDef(
      "q99_sketch_bounds",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val sk = ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.05).as("__hll"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("__p50"))
        val ranked = ev.join(sk.select(col("event_type"), col("__p50")), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)).as("__le"))
        sk.join(ranked, Seq("event_type"))
          .select(
            col("event_type"), col("n_events"), col("exact_users"),
            (abs(col("__hll") - col("exact_users"))
              <= lit(0.15) * col("exact_users")).as("hll_in_bound"),
            (abs(col("__le") - lit(0.5) * col("n_events"))
              <= lit(0.05) * col("n_events") + lit(1.0)).as("p50_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS hll_in_bound, TRUE AS p50_in_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q100: time-series resample + gap-fill + LOCF — the downsampling
    // shape every metrics/observability pipeline needs: hourly buckets per
    // series over the FULL wall-clock range (absent hours materialize as
    // zero-count rows via one generated hour spine, not a scan), then
    // last-observation-carried-forward fills each gap's value. The spine
    // is hours × series (tiny — it broadcasts), the hourly rollup is one
    // shuffle of the events, and LOCF is one window pass over the spine —
    // corpus-size-independent state. Averages use the exact-decimal-
    // then-double convention so both engines emit identical doubles.
    QueryDef(
      "q100_resample_locf",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val hourly = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"), mavg(col("value")).as("avg_value"))
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val hours = bounds.select(
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
        val grid = broadcast(hours.crossJoin(ev.select(col("event_type")).distinct()))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("event_type", "hr"), "left")
          .select(col("event_type"), col("hr"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            last(col("avg_value"), ignoreNulls = true).over(w).as("avg_filled"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
          FROM events GROUP BY 1, 2),
        b AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
                     date_trunc('hour', MAX(ts)) AS h1 FROM events),
        hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS hr FROM b),
        grid AS (SELECT t.event_type, h.hr
                 FROM (SELECT DISTINCT event_type FROM events) t, hours h),
        j AS (SELECT g.event_type, g.hr,
                     COALESCE(hh.n, 0)::BIGINT AS n_events, hh.avg_value
              FROM grid g LEFT JOIN hourly hh
                ON hh.event_type = g.event_type AND hh.hr = g.hr)
        SELECT event_type, hr, n_events,
               last_value(avg_value IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_filled
        FROM j
        ORDER BY event_type, hr""")),

    // ---- q114: MERGEABLE quantile sketch (KLL) under the q99 accuracy
    // gate. q99 covers Spark's built-in percentile_approx; this gates the
    // ENGINE-OWNED sketch (operators/QuantileSketch.scala, the §2.8
    // custom-Aggregator surface): per partition the values fold into a
    // few-KB KLL, partials merge associatively on the reduce side, the
    // final read is O(retained) — no global sort, no per-group value
    // materialization, the only 100 TB percentile shape. The estimate is
    // sketch-specific so the oracle gates BOUND BOOLEANS: the observed
    // rank of each estimate must sit within ±5% of its target rank (KLL
    // k=200 gives ~1% rank error — generous margin, ties absorbed by +1).
    QueryDef(
      "q114_kll_quantiles",
      (s, dir) => {
        import graft.operators.QuantileSketch
        val ev = t(s, dir, "events")
        val sk = ev.groupBy(col("event_type")).agg(
            count(lit(1)).as("n_events"),
            QuantileSketch.quantilesAgg(col("value"), Seq(0.5, 0.9)).as("__qs"))
          .select(col("event_type"), col("n_events"),
            element_at(col("__qs"), 1).as("__p50"),
            element_at(col("__qs"), 2).as("__p90"))
        val ranked = ev
          .join(sk.select(col("event_type"), col("__p50"), col("__p90")),
            Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)).as("__le50"),
            sum(when(col("value") <= col("__p90"), 1L).otherwise(0L)).as("__le90"))
        sk.join(ranked, Seq("event_type"))
          .select(col("event_type"), col("n_events"),
            (abs(col("__le50") - lit(0.5) * col("n_events"))
              <= lit(0.05) * col("n_events") + lit(1.0)).as("p50_in_bound"),
            (abs(col("__le90") - lit(0.9) * col("n_events"))
              <= lit(0.05) * col("n_events") + lit(1.0)).as("p90_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               TRUE AS p50_in_bound, TRUE AS p90_in_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""))
    ,

    // ---- q117: engine-owned HyperLogLog distinct sketch — completes the
    // mergeable-sketch family (count-min q108 heavy hitters, KLL q114
    // quantiles): per partition the users fold into 4096 one-byte
    // registers, partials merge register-wise-max on the reduce side, so
    // the shuffle ships ~4 KB per group instead of every distinct key —
    // the 100 TB COUNT DISTINCT shape (Spark's built-in equivalent is
    // gated in q99; this is the engine-owned state the lake fold /
    // streaming paths can persist and merge). Estimate is sketch-specific,
    // so the oracle gates a BOUND BOOLEAN: ±5% of exact (p=12 gives
    // ~1.6% standard error; +1 absorbs tiny groups).
    QueryDef(
      "q117_hll_distinct",
      (s, dir) => {
        import graft.operators.Hll
        t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("n_users"),
            Hll.approxDistinct(col("user_id")).as("__est"))
          .select(col("event_type"), col("n_users"),
            (abs(col("__est") - col("n_users"))
              <= lit(0.05) * col("n_users") + lit(1.0)).as("hll_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
               TRUE AS hll_in_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""))
    ,

    // ---- q121: incremental distinct index through the lake — q117's HLL
    // registers persisted as lake rows and folded batch by batch (the
    // q109 shape for COUNT DISTINCT): each batch ships one 4 KB register
    // row per group, the merge is a native zip_with max on the touched
    // groups only, and history is never rescanned. Register max-merge is
    // associative + idempotent, so the gate asserts the folded estimate
    // EQUALS the one-shot sketch bit for bit (batch-cut independence) on
    // top of the ±5%-of-exact bound.
    QueryDef(
      "q121_hll_fold",
      (s, dir) => {
        import graft.operators.Hll
        import graft.lake.Snapshots
        val ev = t(s, dir, "events")
        val table = Artifacts.scratch("graft_hll_fold") + "/hll"
        val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
        val cut2 = maxId - maxId / 3 // NOT 2*maxId/3: that product overflows
        val cuts = Seq(              // for ids near Long.MaxValue
          col("event_id") < maxId / 3,
          col("event_id") >= maxId / 3 && col("event_id") < cut2,
          col("event_id") >= cut2)
        val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
        // lake rows persist SPARSE (packed (idx,rank) ints below the fill
        // threshold — a 1-distinct group is one int, not 4 KB); merges
        // densify transparently and re-sparsify on write. Round-trip is
        // register-exact (HllSpec), so the bit-for-bit fold gate below is
        // unchanged.
        // fold step = ONE full-outer join on the group key + ONE
        // partition-overwrite commit: batch groups merge, untouched
        // groups carry forward from the read side, new groups insert —
        // the complete next state stages in a single write job. The
        // pk-generic mergeUpsert spends four driver actions (pk check,
        // match probe, rewrite, insert anti-join) reaching the same end
        // state and rewrites the same touched partition anyway — on a
        // per-batch cadence those job floors WERE the fold's cost
        // (sketch-fold profile: ~1.2-1.7 s per merge vs ~0.5 s this shape, 5-row
        // updates). At scale only batch-touched partitions rewrite.
        cuts.zipWithIndex.foreach { case (cut, i) =>
          val part = ev.filter(cut).groupBy(col("event_type"))
            .agg(Hll.sparsify(Hll.registersAgg(col("user_id"))).as("regs"))
          if (i == 0) Snapshots.append(part.withColumn("ts", ts0), table)
          else {
            val ex = Snapshots.read(s, table)
              .select(col("event_type"), col("regs").as("__r0"))
            val merged = part.join(ex, Seq("event_type"), "full")
              .select(col("event_type"),
                when(col("__r0").isNull, col("regs"))
                  .when(col("regs").isNull, col("__r0"))
                  .otherwise(Hll.sparsify(
                    Hll.mergeRegistersAuto(col("regs"), col("__r0"))))
                  .as("regs"))
            Snapshots.overwritePartitions(
              merged.withColumn("ts", ts0), table)
          }
        }
        val folded = Snapshots.read(s, table)
          .select(col("event_type"),
            Hll.estimate(Hll.densify(col("regs"))).as("__folded"))
        ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            Hll.approxDistinct(col("user_id")).as("__os"))
          .join(folded, Seq("event_type"))
          .select(col("event_type"), col("n_users"),
            (col("__folded") === col("__os")).as("fold_equals_oneshot"),
            (abs(col("__folded") - col("n_users"))
              <= lit(0.05) * col("n_users") + lit(1.0)).as("fold_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
               TRUE AS fold_equals_oneshot, TRUE AS fold_in_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""))
    ,

    // ---- q122: funnel / ordered-sequence detection (CEP-lite) — the
    // earliest-greedy funnel over view → click → purchase per user:
    // t1 = first view, t2 = first click strictly after t1, t3 = first
    // purchase strictly after t2; completed iff t3 ≤ t1 + 3 days. The
    // definition is on VALUES only (strict ts inequalities), so no
    // same-timestamp row-order ambiguity — deterministic in any engine.
    // Scale shape: three slim (user, ts) aggregations that all hash on
    // user_id — the stage joins land co-partitioned after the first
    // exchange, no per-user collect, no global sort except the tiny
    // ordered output.
    QueryDef(
      "q122_funnel",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val u1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val u2 = ev.filter(col("event_type") === "click")
          .join(u1, "user_id").where(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val u3 = ev.filter(col("event_type") === "purchase")
          .join(u2, "user_id").where(col("ts") > col("t2"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        u1.join(u2.select("user_id", "t2"), Seq("user_id"), "left")
          .join(u3.select("user_id", "t3"), Seq("user_id"), "left")
          .select(col("user_id"),
            (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
              + when(col("t3").isNotNull, 1).otherwise(0))
              .cast("long").as("stage"),
            (col("t3").isNotNull &&
              col("t3") <= col("t1") + expr("INTERVAL 3 DAYS"))
              .as("completed_3d"))
          .orderBy("user_id")
      },
      Some("""
        WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN u1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
        u3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN u2 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1)
        SELECT u1.user_id AS user_id,
               (1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS stage,
               (t3 IS NOT NULL AND t3 <= t1 + INTERVAL 3 DAY) AS completed_3d
        FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)
        ORDER BY user_id"""))
    ,

    // ---- q123: sliding-window distinct via sketch-partial REUSE — the
    // window shape where COUNT DISTINCT cannot be summed across panes:
    // per-hour HLL registers are computed ONCE (one agg over events) and
    // each 3-hour window is a register-wise max of three hourly partials
    // (register merge ≡ set union, so the merged sketch IS the window's
    // sketch). At 100 TB the hourly partial table is the only thing that
    // grows; windows are joins over 4 KB rows. Estimate gated ±5% of the
    // exact sliding distinct.
    QueryDef(
      "q123_sliding_distinct",
      (s, dir) => {
        import graft.operators.Hll
        // Sketch path: partitioned by HOUR alone before the register
        // aggregation, which then runs exchange-free on co-located
        // groups — no 4 KB dense partial state ever serializes across a
        // shuffle (with (hour, user) partitioning, every partition held
        // a partial register array for every hour: ~parts × hours ×
        // 16 KB ≈ 360 MB of agg-state shuffle for a 100 k-row input).
        // The exact gate below reads its OWN parquet scan instead of a
        // shared checkpoint: materializing the 2-column event frame cost
        // a full shuffle + storage write just to save one cheap columnar
        // re-scan — the scan is the cheaper of the two at every scale
        // (the gate path is fixture-only anyway; production runs the
        // sketch path alone).
        val ev = t(s, dir, "events")
          .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
        val evByHour = ev
          .repartition(s.sparkContext.defaultParallelism, col("hour"))
        // 720 sketch rows; checkpointed so the three window-offset reads
        // below don't each re-run the register aggregation
        val hourly = evByHour.groupBy(col("hour"))
          .agg(Hll.registersAgg(col("user_id")).as("regs"))
          .localCheckpoint(true)
        val h0 = hourly.select(col("hour"), col("regs").as("r0"))
        val h1 = hourly.select(
          (col("hour") + expr("INTERVAL 1 HOUR")).as("hour"),
          col("regs").as("r1"))
        val h2 = hourly.select(
          (col("hour") + expr("INTERVAL 2 HOURS")).as("hour"),
          col("regs").as("r2"))
        val zero = array_repeat(lit(0), 4096)
        val slid = h0.join(h1, Seq("hour"), "left")
          .join(h2, Seq("hour"), "left")
          .select(col("hour"), Hll.estimate(
            Hll.mergeRegisters(
              Hll.mergeRegisters(col("r0"), coalesce(col("r1"), zero)),
              coalesce(col("r2"), zero))).as("__est"))
        // exact sliding distinct for the gate: each event contributes to
        // the windows anchored at its own hour and the next two
        val exact = ev.select(explode(array(
              col("hour"),
              col("hour") + expr("INTERVAL 1 HOUR"),
              col("hour") + expr("INTERVAL 2 HOURS"))).as("hour"),
            col("user_id"))
          .groupBy(col("hour"))
          .agg(countDistinct(col("user_id")).as("n_users"))
        slid.join(exact, Seq("hour"))
          .select(col("hour"), col("n_users"),
            (abs(col("__est") - col("n_users"))
              <= lit(0.05) * col("n_users") + lit(1.0))
              .as("sliding_in_bound"))
          .orderBy(col("hour"))
      },
      Some("""
        WITH base AS (SELECT date_trunc('hour', ts) AS hour, user_id
                      FROM events),
        c AS (SELECT hour + k.k * INTERVAL 1 HOUR AS hour, user_id
              FROM base CROSS JOIN (VALUES (0), (1), (2)) k(k)),
        e AS (SELECT hour, COUNT(DISTINCT user_id) AS n_users
              FROM c GROUP BY hour),
        hrs AS (SELECT DISTINCT hour FROM base)
        SELECT hrs.hour AS hour, e.n_users, TRUE AS sliding_in_bound
        FROM hrs JOIN e ON e.hour = hrs.hour
        ORDER BY hour"""))
    ,

    // ---- q124: incremental percentile index through the lake — q114's
    // KLL sketch persisted as lake BYTES and folded batch by batch,
    // completing the sketch-state-through-the-lake family (count-min
    // q109, HLL q121): per batch one few-KB sketch row per group, the
    // merge touches only updated groups, history never rescans. KLL
    // merge is associative with the same rank guarantee, so the folded
    // index is gated by the SAME ±5% rank bounds as the one-shot q114.
    QueryDef(
      "q124_kll_fold",
      (s, dir) => {
        import graft.operators.QuantileSketch
        import graft.lake.Snapshots
        val ev = t(s, dir, "events")
        val table = Artifacts.scratch("graft_kll_fold") + "/kll"
        val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
        val cut2 = maxId - maxId / 3
        val cuts = Seq(
          col("event_id") < maxId / 3,
          col("event_id") >= maxId / 3 && col("event_id") < cut2,
          col("event_id") >= cut2)
        val ts0 = lit("2024-01-01 00:00:00").cast("timestamp")
        // full-outer merge + partition-overwrite, the q121 fold shape
        // (one write job per batch instead of mergeUpsert's four driver
        // actions — see the q121 comment)
        cuts.zipWithIndex.foreach { case (cut, i) =>
          val part = ev.filter(cut).groupBy(col("event_type"))
            .agg(QuantileSketch.sketchAgg(col("value")).as("sk"))
          if (i == 0) Snapshots.append(part.withColumn("ts", ts0), table)
          else {
            val ex = Snapshots.read(s, table)
              .select(col("event_type"), col("sk").as("__s0"))
            val merged = part.join(ex, Seq("event_type"), "full")
              .select(col("event_type"),
                when(col("__s0").isNull, col("sk"))
                  .when(col("sk").isNull, col("__s0"))
                  .otherwise(QuantileSketch.mergeSketches(col("sk"), col("__s0")))
                  .as("sk"))
            Snapshots.overwritePartitions(
              merged.withColumn("ts", ts0), table)
          }
        }
        val folded = Snapshots.read(s, table)
          .select(col("event_type"),
            QuantileSketch.quantilesOf(col("sk"), Seq(0.5, 0.9)).as("__qs"))
          .select(col("event_type"),
            element_at(col("__qs"), 1).as("__p50"),
            element_at(col("__qs"), 2).as("__p90"))
        val ranked = ev.join(folded, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("value") <= col("__p50"), 1L).otherwise(0L)).as("__le50"),
            sum(when(col("value") <= col("__p90"), 1L).otherwise(0L)).as("__le90"))
        ranked
          .select(col("event_type"), col("n_events"),
            (abs(col("__le50") - lit(0.5) * col("n_events"))
              <= lit(0.05) * col("n_events") + lit(1.0)).as("p50_in_bound"),
            (abs(col("__le90") - lit(0.9) * col("n_events"))
              <= lit(0.05) * col("n_events") + lit(1.0)).as("p90_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               TRUE AS p50_in_bound, TRUE AS p90_in_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q129: sketch SET OPERATIONS — the audience-overlap question
    // ("how many distinct users did both X and purchase?") answered from
    // mergeable HLL register state: union = register-wise max (merge ≡
    // set union, exact in sketch space), intersection = inclusion-
    // exclusion over three estimates. At scale each audience is one 4 KB
    // register row — overlap queries across ANY pair of audiences are
    // joins over sketch rows, never re-scans of the event history (the
    // q121 lake rows answer the same question incrementally). The exact
    // distinct/intersection side here is the verification gate only,
    // like q123's exact-gate path. Inclusion-exclusion compounds three
    // sketch errors, so its bound is scaled by the union size.
    QueryDef(
      "q129_sketch_setops",
      (s, dir) => {
        import graft.operators.Hll
        val ev = t(s, dir, "events")
        // one agg pass: per-audience registers (4 KB each)
        val perType = ev.groupBy(col("event_type"))
          .agg(Hll.registersAgg(col("user_id")).as("regs"))
        val b = perType.filter(col("event_type") === "purchase")
          .select(col("regs").as("regs_b"))
        // exact gate: distinct (type, user) flagged by purchase membership
        val du = ev.select(col("event_type"), col("user_id")).distinct()
        val bu = du.filter(col("event_type") === "purchase")
          .select(col("user_id"), lit(1L).as("__in_b"))
        val exact = du.join(bu, Seq("user_id"), "left")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_a"),
            coalesce(sum(col("__in_b")), lit(0L)).as("n_int"))
        val nB = bu.agg(count(lit(1)).as("n_b"))
        exact.join(perType, "event_type").crossJoin(broadcast(b))
          .crossJoin(broadcast(nB))
          .select(col("event_type"), col("n_a"), col("n_b"), col("n_int"),
            (col("n_a") + col("n_b") - col("n_int")).as("n_union"),
            Hll.estimate(col("regs")).as("__ea"),
            Hll.estimate(col("regs_b")).as("__eb"),
            Hll.estimate(Hll.mergeRegisters(col("regs"), col("regs_b")))
              .as("__eu"))
          .select(col("event_type"), col("n_union"),
            col("n_int").as("n_intersect"),
            (abs(col("__eu") - col("n_union"))
              <= lit(0.05) * col("n_union") + lit(1.0)).as("union_in_bound"),
            (abs(col("__ea") + col("__eb") - col("__eu") - col("n_intersect"))
              <= lit(0.08) * col("n_union") + lit(2.0)).as("intersect_in_bound"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        bu AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase'),
        agg AS (SELECT du.event_type, count(*) AS n_a,
                       sum(CASE WHEN bu.user_id IS NOT NULL THEN 1 ELSE 0 END)
                         AS n_int
                FROM du LEFT JOIN bu USING (user_id)
                GROUP BY du.event_type),
        nb AS (SELECT count(*) AS n_b FROM bu)
        SELECT event_type,
               (n_a + n_b - n_int)::BIGINT AS n_union,
               n_int::BIGINT AS n_intersect,
               TRUE AS union_in_bound,
               TRUE AS intersect_in_bound
        FROM agg, nb
        ORDER BY event_type""")),

    // ---- q131: co-located join via BUCKETED lake tables — the shuffle-
    // paid-once device for repeated big-to-big joins: events and the
    // per-user profile dim both land bucketed (16, user_id), so the
    // enrichment join (forced merge — broadcast would hide the
    // demonstration) runs with ZERO exchanges on either side
    // (PlanShapeSpec asserts it). At 100 TB this is the standing layout
    // for a key every query joins on; only the post-join event_type
    // rollup shuffles, and it ships three counters per type.
    QueryDef(
      "q131_bucketed_join",
      (s, dir) => {
        import graft.lake.Lake
        // memoized per dir (the q54/q133 convention): the bucketed layout
        // is a STANDING table — pay its shuffle once, then every
        // invocation times the zero-exchange join it exists to serve
        // (rebuilding per call would also orphan the previous temp dir).
        // Catalog names carry a dir hash so a JVM that alternates between
        // dirs can never serve one dir's table for another.
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        val (evTable, usTable) = (s"graft_b_events_$tag", s"graft_b_users_$tag")
        Artifacts.memo("log_analytics.bucketed", dir, Seq("events"))({ sc =>
          val base = sc.dir("graft_bucketed")
          val ev = t(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("event_type"))
          val prof = ev.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_user_events"))
          Lake.writeBucketed(ev, evTable, s"$base/events",
            "user_id", 16)
          Lake.writeBucketed(prof, usTable, s"$base/users",
            "user_id", 16)
          base
        })
        s.table(evTable).hint("merge")
          .join(s.table(usTable), "user_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("n_user_events") >= 67, 1L).otherwise(0L))
              .as("n_heavy_events"),
            countDistinct(when(col("n_user_events") >= 67, col("user_id")))
              .as("n_heavy_users"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH u AS (SELECT user_id, count(*) AS n_user_events
                   FROM events GROUP BY user_id)
        SELECT e.event_type,
               count(*)::BIGINT AS n_events,
               sum(CASE WHEN u.n_user_events >= 67 THEN 1 ELSE 0 END)::BIGINT
                 AS n_heavy_events,
               count(DISTINCT CASE WHEN u.n_user_events >= 67
                                   THEN e.user_id END)::BIGINT
                 AS n_heavy_users
        FROM events e JOIN u USING (user_id)
        GROUP BY e.event_type
        ORDER BY e.event_type""")),

    // ---- q137: distribution-drift monitor — pipeline observability for
    // a corpus/stream: per day, the total-variation distance of the
    // event-type mix against a frozen reference window (days 1-15), in
    // EXACT integer-scaled form: Σ|c_i·N_ref − r_i·N_d| is 2·TV·N_ref·N_d,
    // so the drift gate (TV > 0.05) is the BIGINT comparison
    // 10·Σ > N_ref·N_d — no division, no floats, reproducible anywhere
    // (the q128/q132 discipline applied to monitoring). Scale shape: one
    // (day, type) count agg; the reference is a ≤|types| row broadcast;
    // the streaming form is the same agg per micro-batch against the same
    // frozen reference rows.
    QueryDef(
      "q137_drift_monitor",
      (s, dir) => {
        import graft.operators.Drift
        val cut = lit("2024-01-16").cast("timestamp")
        val ev = t(s, dir, "events")
          .select(date_trunc("day", col("ts")).as("day"), col("event_type"))
        val refCnt = ev.filter(col("day") < cut)
          .groupBy(col("event_type")).agg(count(lit(1)).as("r"))
        val nRef = refCnt.agg(sum(col("r")).as("__n_ref"))
        val dayCnt = ev.filter(col("day") >= cut)
          .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("c"))
        Drift.tvScaled(dayCnt, "day", "event_type", "c", refCnt, "r")
          .crossJoin(broadcast(nRef))
          // gate computed on the operator's exact decimals; the raw
          // drift_scaled narrows to BIGINT for output (provably fits at
          // this table's scale — the decimal internals exist for 100 TB)
          .select(col("day"), col("n_events"),
            col("drift_scaled").cast("long").as("drift_scaled"),
            (lit(10L) * col("drift_scaled") > col("__n_ref") * col("n_events"))
              .as("drifted"))
          .orderBy(col("day"))
      },
      Some("""
        WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type
                    FROM events),
        refc AS (SELECT event_type, count(*)::BIGINT AS r
                 FROM ev WHERE day < TIMESTAMP '2024-01-16' GROUP BY 1),
        nref AS (SELECT sum(r)::BIGINT AS n_ref FROM refc),
        dayc AS (SELECT day, event_type, count(*)::BIGINT AS c
                 FROM ev WHERE day >= TIMESTAMP '2024-01-16' GROUP BY 1, 2),
        nday AS (SELECT day, sum(c)::BIGINT AS n_day FROM dayc GROUP BY day),
        grid AS (SELECT d.day, rc.event_type, rc.r
                 FROM (SELECT day FROM nday) d CROSS JOIN refc rc),
        terms AS (
          SELECT coalesce(g.day, dc.day) AS day,
                 abs(coalesce(dc.c, 0) * nref.n_ref
                     - coalesce(g.r, 0) * nday.n_day)::BIGINT AS term,
                 nday.n_day, nref.n_ref
          FROM grid g
          FULL OUTER JOIN dayc dc
            ON g.day = dc.day AND g.event_type = dc.event_type
          JOIN nday ON nday.day = coalesce(g.day, dc.day)
          CROSS JOIN nref)
        SELECT day, max(n_day)::BIGINT AS n_events,
               sum(term)::BIGINT AS drift_scaled,
               (10 * sum(term) > max(n_ref) * max(n_day)) AS drifted
        FROM terms
        GROUP BY day
        ORDER BY day"""))
  )
}
