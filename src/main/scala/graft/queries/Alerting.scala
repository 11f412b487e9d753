package graft.queries

import graft.Tables
import graft.operators.{Alerts, Detection}
import graft.streaming.AlertStream
import graft.util.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryDef._

/** The alerting pipeline over `events`: declarative rule evaluation →
  * rule matches → alert dedup/threshold aggregation (anchored windows,
  * batch and streaming forms). The anchored-window fold is sequential per
  * key, but still deterministic SQL: q40/q41's oracles thread the window
  * anchor through a DuckDB recursive CTE. Batch/stream parity and the
  * state-machine scenarios are additionally covered by ScalaTest
  * (AlertsSpec).
  */
object Alerting {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  val rules: Seq[Detection.Rule] = Seq(
    Detection.SimpleRule(
      name = "error_burst",
      detect = col("event_type") === "error",
      dedupe = col("user_id"),
      severity = "warning", threshold = 2, windowSeconds = 1800),
    Detection.SimpleRule(
      name = "big_purchase",
      detect = col("event_type") === "purchase" && col("value") > 190.0,
      dedupe = col("user_id"),
      severity = "info", threshold = 1, windowSeconds = 3600))

  private def matches(s: SparkSession, dir: String): DataFrame =
    Detection.ruleMatches(events(s, dir), rules, matchId = col("event_id"))

  /** Alert rows with configs applied per rule (threshold/window vary):
    * one `ruleMatches` over the whole pack, then one native AnchoredSession
    * fold (plans.AnchoredSession) with per-rule settings — one hash
    * exchange + sort for the pack, streaming InternalRow fold.
    */
  private def alerts(s: SparkSession, dir: String): DataFrame =
    graft.plans.AnchoredSession.aggregate(s, matches(s, dir), Alerts.AlertConfig(),
      rules.map(r => r.name -> Alerts.AlertConfig(r.threshold, r.windowSeconds)).toMap)

  val defs: Seq[QueryDef] = Seq(

    // ---- q40: batch alert aggregation (anchored dedup windows) ----
    QueryDef(
      "q40_alerts_batch",
      (s, dir) =>
        alerts(s, dir)
          .select(col("rule_name"), col("dedupe"), col("alert_id"),
            col("match_count"), col("activated"),
            unix_micros(col("first_matched_at")).as("first_us"))
          .orderBy(col("rule_name"), col("dedupe"), col("first_us")),
      // The anchored fold is sequential per key but still deterministic
      // SQL: a recursive CTE threads the window anchor row-to-row (new
      // anchor when a match falls >= window past it), then alerts group by
      // (key, anchor). alert_id re-derives the md5 of rule|dedupe|millis.
      Some("""
        WITH RECURSIVE cfg(rule_name, threshold, window_us) AS (
          VALUES ('error_burst', 2, CAST(1800000000 AS BIGINT)),
                 ('big_purchase', 1, CAST(3600000000 AS BIGINT))
        ),
        matches AS (
          SELECT 'error_burst' AS rule_name, CAST(user_id AS VARCHAR) AS dedupe,
                 epoch_ns(ts) // 1000 AS us
          FROM events WHERE event_type = 'error'
          UNION ALL
          SELECT 'big_purchase', CAST(user_id AS VARCHAR), epoch_ns(ts) // 1000
          FROM events WHERE event_type = 'purchase' AND value > 190.0
        ),
        m AS (
          SELECT rule_name, dedupe, us,
                 row_number() OVER (PARTITION BY rule_name, dedupe ORDER BY us) AS rn
          FROM matches
        ),
        r AS (
          SELECT rule_name, dedupe, us, rn, us AS anchor FROM m WHERE rn = 1
          UNION ALL
          SELECT m2.rule_name, m2.dedupe, m2.us, m2.rn,
                 CASE WHEN m2.us >= r.anchor + c.window_us THEN m2.us ELSE r.anchor END
          FROM m m2
          JOIN r ON m2.rule_name = r.rule_name AND m2.dedupe = r.dedupe
                AND m2.rn = r.rn + 1
          JOIN cfg c ON c.rule_name = m2.rule_name
        )
        SELECT r.rule_name, r.dedupe,
               md5(r.rule_name || '|' || r.dedupe || '|' || CAST(r.anchor // 1000 AS VARCHAR)) AS alert_id,
               COUNT(*) AS match_count,
               COUNT(*) >= c.threshold AS activated,
               r.anchor AS first_us
        FROM r JOIN cfg c ON c.rule_name = r.rule_name
        GROUP BY r.rule_name, r.dedupe, r.anchor, c.threshold
        ORDER BY r.rule_name, r.dedupe, first_us""")),

    // ---- q41: streaming alert aggregation (flatMapGroupsWithState) ----
    QueryDef(
      "q41_alerts_stream",
      (s, dir) => {
        // the whole detection pipeline as ONE streaming query: file
        // source → rule predicates → stateful alert aggregation
        val raw = s.read.parquet(s"$dir/events.parquet")
        // glob form: the file source needs a directory-rooted pattern
        val stream = Tables.normalizeTs(
          s.readStream.schema(raw.schema).parquet(s"$dir/events.parq*"))
        val m = Detection.ruleMatches(stream,
          rules.filter(_.name == "error_burst"), matchId = col("event_id"))
        // unique sink name per invocation — a repeated call in one session
        // must not collide with the previous run's memory table
        val sink = "graft_alerts_" + java.util.UUID.randomUUID.toString.replace("-", "")
        // NoBound here by design: the oracle folds the FULL event history,
        // so the verify run must not watermark-drop late rows if the file
        // source ever splits into multiple batches (the production default
        // stays EventTimeBound — AlertsSpec covers it)
        AlertStream.runMatches(s, m,
          Alerts.AlertConfig(threshold = 2, windowSeconds = 1800), sink,
          AlertStream.NoBound)
          .select(col("rule_name"), col("dedupe"), col("alert_id"),
            col("match_count"), col("activated"),
            unix_micros(col("first_matched_at")).as("first_us"))
          .orderBy(col("rule_name"), col("dedupe"), col("first_us"))
      },
      // same recursive-CTE fold as q40, error_burst only: batch/stream
      // parity means one oracle covers both execution paths
      Some("""
        WITH RECURSIVE matches AS (
          SELECT 'error_burst' AS rule_name, CAST(user_id AS VARCHAR) AS dedupe,
                 epoch_ns(ts) // 1000 AS us
          FROM events WHERE event_type = 'error'
        ),
        m AS (
          SELECT rule_name, dedupe, us,
                 row_number() OVER (PARTITION BY rule_name, dedupe ORDER BY us) AS rn
          FROM matches
        ),
        r AS (
          SELECT rule_name, dedupe, us, rn, us AS anchor FROM m WHERE rn = 1
          UNION ALL
          SELECT m2.rule_name, m2.dedupe, m2.us, m2.rn,
                 CASE WHEN m2.us >= r.anchor + CAST(1800000000 AS BIGINT) THEN m2.us ELSE r.anchor END
          FROM m m2
          JOIN r ON m2.dedupe = r.dedupe AND m2.rn = r.rn + 1
        )
        SELECT rule_name, dedupe,
               md5(rule_name || '|' || dedupe || '|' || CAST(anchor // 1000 AS VARCHAR)) AS alert_id,
               COUNT(*) AS match_count,
               COUNT(*) >= 2 AS activated,
               anchor AS first_us
        FROM r
        GROUP BY rule_name, dedupe, anchor
        ORDER BY rule_name, dedupe, first_us""")),

    // ---- q42: rule evaluation itself (declarative detections) ----
    QueryDef(
      "q42_rule_matches",
      (s, dir) =>
        matches(s, dir)
          .groupBy(col("rule_name"), col("severity"))
          .agg(count(lit(1)).as("n_matches"),
            countDistinct(col("dedupe")).as("n_keys"))
          .orderBy(col("rule_name")),
      Some("""
        SELECT rule_name, severity, COUNT(*) AS n_matches,
               COUNT(DISTINCT dedupe) AS n_keys
        FROM (
          SELECT 'error_burst' AS rule_name, 'warning' AS severity,
                 CAST(user_id AS VARCHAR) AS dedupe
          FROM events WHERE event_type = 'error'
          UNION ALL
          SELECT 'big_purchase', 'info', CAST(user_id AS VARCHAR)
          FROM events WHERE event_type = 'purchase' AND value > 190.0)
        GROUP BY rule_name, severity
        ORDER BY rule_name""")),

    // ---- q51: the imperative rule escape hatch (§2.8), oracle-checked --
    // A sequential loop-with-early-exit over each user's ordered event
    // list (error LATER followed by a big purchase) — the reference's
    // Python `detect(record)` execution model, run through ImperativeRule
    // + deepget. Imperative on the Spark side; the ORACLE can still verify
    // it because the fired-set has a relational characterization
    // (min error id < max qualifying-purchase id).
    QueryDef(
      "q51_imperative_rule",
      (s, dir) => {
        import graft.operators.Detection
        import graft.operators.Detection.ImperativeRule
        val seqs = events(s, dir)
          .groupBy(col("user_id"))
          .agg(
            sort_array(collect_list(
              struct(col("event_id"), col("event_type"), col("value")))).as("evs"),
            unix_seconds(date_trunc("second", max(col("ts")))).as("mts"))
        val rule = ImperativeRule("error_then_big_purchase", { row =>
          val evs = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("evs")
          var err = false; var hit = false
          val it = evs.iterator
          while (!hit && it.hasNext) {               // early exit
            val e = it.next()
            val t = String.valueOf(Detection.deepget(e, "event_type", ""))
            if (t == "error") err = true
            else if (t == "purchase" && err &&
              e.getAs[Double]("value") > 150.0) hit = true
          }
          hit
        })
        Detection.ruleMatches(seqs, Seq(rule),
            matchId = col("user_id"), ts = col("mts"))
          .select(col("rule_name"), col("match_id"), col("ts").as("ts_epoch"))
          .orderBy(col("match_id"))
      },
      Some("""
        SELECT 'error_then_big_purchase' AS rule_name,
               user_id AS match_id,
               epoch(date_trunc('second', max(ts)))::BIGINT AS ts_epoch
        FROM events
        GROUP BY user_id
        HAVING min(CASE WHEN event_type = 'error' THEN event_id END)
             < max(CASE WHEN event_type = 'purchase' AND value > 150.0
                        THEN event_id END)
        ORDER BY match_id""")),

    // ---- q45: lake round-trip with partition pruning (S13-S15 + P8) ----
    QueryDef(
      "q45_lake_roundtrip",
      (s, dir) => {
        import graft.lake.Lake
        // memoized per sf dir: the write half runs once per session, so a
        // second invocation (Bench warms it untimed) measures the read path
        // — partition-pruned scan + agg — not temp-dir disk throughput
        val tmp = Artifacts.memo("alerting.lake_roundtrip", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_lake_rt")
          // one week of hour partitions; cluster rows by partition value so
          // each hour directory is written by a single task (the write
          // distribution an Iceberg sink would request)
          Lake.append(
            events(s, dir)
              .filter(col("event_type").isin("error", "purchase") &&
                col("ts") < lit("2024-01-08").cast("timestamp"))
              .repartition(8, date_format(col("ts"), "yyyy-MM-dd-HH")), t)
          t
        })
        // read back with a partition predicate — only matching ts_hour
        // directories are listed/scanned
        Lake.read(s, tmp)
          .filter(col(Lake.PartitionCol) >= "2024-01-03-00" &&
            col(Lake.PartitionCol) < "2024-01-05-00")
          .groupBy(col(Lake.PartitionCol).as("ts_hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
          .orderBy(col("ts_hour"), col("event_type"))
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') AS ts_hour,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type IN ('error', 'purchase')
          AND ts < TIMESTAMP '2024-01-08 00:00:00'
          AND strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') >= '2024-01-03-00'
          AND strftime(date_trunc('hour', ts), '%Y-%m-%d-%H') < '2024-01-05-00'
        GROUP BY 1, 2
        ORDER BY ts_hour, event_type""")),

    // ---- q54: zone-map file skipping on the snapshot lake (S14 + §4) ----
    // Four append commits with disjoint event_id ranges, then a
    // stats-pruned read: readWhere drops the three quarters of the files
    // whose manifest min/max exclude the predicate BEFORE the scan is
    // planned; the residual .where keeps semantics exact. Oracle is the
    // same predicate over the raw table.
    QueryDef(
      "q54_lake_pruned",
      (s, dir) => {
        import graft.lake.Snapshots
        val (tmp, cut) = Artifacts.memo("alerting.zone_map", dir,
            Seq("events"))({ sc =>
          val t = sc.dir("graft_lake_zm")
          val ev = events(s, dir)
            .filter(col("ts") < lit("2024-01-02").cast("timestamp"))
            .select("event_id", "ts", "event_type", "value")
          // quartiles of the WRITTEN subset (day-1 event_ids are the low,
          // ts-correlated range — a full-table cut would select nothing)
          val n = ev.count()
          // quartile appends: each file's id range is tight and disjoint
          for (q <- 0L until 4L)
            Snapshots.append(
              ev.filter(col("event_id") >= q * n / 4 && col("event_id") < (q + 1) * n / 4)
                .repartition(1), t)
          (t, 3 * n / 4)
        })
        Snapshots
          .readWhere(s, tmp,
            Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", cut)))
          .where(col("event_id") >= cut)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               MIN(event_id) AS min_id, MAX(event_id) AS max_id
        FROM events
        WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
          AND event_id >= 3 * (SELECT COUNT(*) FROM events
                               WHERE ts < TIMESTAMP '2024-01-02 00:00:00') // 4
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q77: atomic MERGE INTO on the snapshot lake (J2/S15) — one
    // commit carries both halves: matched rows (event_id % 7 = 0) get a
    // patched type and value, unmatched update rows insert as new ids.
    // The oracle reconstructs the exact post-merge table from the raw
    // events, so the rewrite-touched-partitions + insert protocol is
    // verified end to end, not just spec'd.
    QueryDef(
      "q77_merge_upsert",
      (s, dir) => {
        import graft.lake.Snapshots
        val tmp = Artifacts.memo("alerting.merge_upsert", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_lake_mg")
          val base = events(s, dir)
            .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
            .select("event_id", "ts", "event_type", "value")
          Snapshots.append(base, t)
          val patches = base.filter(col("event_id") % 7 === 0)
            .select(col("event_id"), col("ts"), lit("patched").as("event_type"),
              (col("value") + 1000.0).as("value"))
          val inserts = base.filter(col("event_id") % 100 === 0)
            .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
              lit("inserted").as("event_type"), col("value"))
          Snapshots.mergeUpsert(s, t, patches.unionByName(inserts), "event_id")
          t
        })
        Snapshots.read(s, tmp)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"),
            max(col("event_id")).as("max_id"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH base AS (
          SELECT event_id, event_type, value FROM events
          WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
        ),
        merged AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0 THEN 'patched' ELSE event_type END
                   AS event_type,
                 CASE WHEN event_id % 7 = 0 THEN value + 1000.0 ELSE value END
                   AS value
          FROM base
          UNION ALL
          SELECT event_id + 10000000, 'inserted', value
          FROM base WHERE event_id % 100 = 0
        )
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               MAX(event_id) AS max_id
        FROM merged
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q78: magic-byte compression inference (S1) under the gate —
    // the same document lines land in a plain file, a gzip file, and a
    // MISNAMED zstd file (.log extension, so only the magic bytes can
    // route the decode); readLinesInferred must recover every line of all
    // three. The oracle recomputes the aggregate from the source table.
    QueryDef(
      "q78_compression_inference",
      (s, dir) => {
        val tmp = Artifacts.memo("alerting.compression", dir, Seq("documents"))({ sc =>
          val t = sc.dir("graft_comp")
          val rows = graft.Tables.load(s, dir, "documents")
            .select("lang", "text").collect()
          def lines(p: String => Boolean) =
            rows.filter(r => p(r.getString(0))).map(_.getString(1))
          // Explicit '\n' framing (PrintWriter.println is platform-line-
          // separator and swallows IO errors); a text with an embedded
          // newline would split into extra lines and break the per-row
          // oracle, so reject it up front rather than mismatch later.
          def write(name: String, wrap: java.io.OutputStream => java.io.OutputStream,
              ls: Array[String]): Unit = {
            ls.find(_.contains('\n')).foreach(l => sys.error(
              s"q78 fixture text contains an embedded newline: ${l.take(40)}…"))
            val w = new java.io.OutputStreamWriter(
              wrap(java.nio.file.Files.newOutputStream(
                java.nio.file.Paths.get(t, name))),
              java.nio.charset.StandardCharsets.UTF_8)
            try ls.foreach { l => w.write(l); w.write('\n') }
            finally w.close() // throws on truncated/failed writes
          }
          write("plain.log", identity, lines(l => l != "en" && l != "zh"))
          write("mislabeled_gzip.log",
            o => new java.util.zip.GZIPOutputStream(o), lines(_ == "en"))
          write("mislabeled_zstd.log",
            o => new com.github.luben.zstd.ZstdOutputStream(o), lines(_ == "zh"))
          t
        })
        graft.sources.Compression.readLinesInferred(s, tmp)
          .agg(count(lit(1)).as("n_lines"),
            countDistinct(col("line")).as("n_distinct"),
            sum(length(col("line"))).as("total_chars"))
      },
      Some("""
        SELECT COUNT(*) AS n_lines,
               COUNT(DISTINCT text) AS n_distinct,
               SUM(len(text))::BIGINT AS total_chars
        FROM documents""")),

    // ---- q81: alert retro-activation END TO END through the lake (the
    // reference's matano_alerts.rs:309-444 semantic — late matches flip
    // `activated` on already-committed rows of the same alert). Phase 1
    // folds matches before the cutoff and commits the alert rows to a
    // snapshot table — under-threshold alerts land with activated=false.
    // Phase 2 re-folds the full history for ONLY the keys with late
    // matches and applies it as ONE atomic mergeUpsert on alert_id:
    // committed rows of extended alerts flip in place (same alert_id —
    // the anchor never moves), late-anchored alerts insert. The oracle
    // reconstructs the post-retro table from raw events with the full
    // recursive-CTE fold, so it is independent of the cutoff: the gate
    // proves incremental-merge == full-history fold.
    QueryDef(
      "q81_alerts_retro_lake",
      (s, dir) => {
        import graft.lake.Snapshots
        val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
        val cut = lit("2024-01-06 14:10:00").cast("timestamp")
        val tmp = Artifacts.memo("alerting.retro_lake", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_lake_retro")
          val m = Detection.ruleMatches(events(s, dir),
            rules.filter(_.name == "error_burst"), matchId = col("event_id"))
          val phase1 = graft.plans.AnchoredSession.aggregate(s,
            m.filter(col("ts") < cut), cfg)
          // clusterBy: alert commits span the whole event-time range, so
          // unclustered staging fans every task into every hour dir
          // (tasks x hours tiny files — SCALING.md)
          Snapshots.append(phase1.withColumn("ts", col("first_matched_at")), t,
            clusterBy = Seq("ts"))
          val lateKeys = m.filter(col("ts") >= cut)
            .select("rule_name", "dedupe").distinct()
          val retro = graft.plans.AnchoredSession.aggregate(s, m, cfg)
            .join(lateKeys, Seq("rule_name", "dedupe"), "left_semi")
          // clusterBy here too: the retro update also spans the whole
          // event-time range, and an unclustered merge staged tasks x
          // hours tiny files — the steady read then paid 721 file opens
          // (44.8 s of task time) for ~4.5k alert rows (guide §6)
          Snapshots.mergeUpsert(s, t,
            retro.withColumn("ts", col("first_matched_at")), "alert_id",
            clusterBy = Seq("ts"))
          t
        })
        Snapshots.read(s, tmp)
          .select(col("rule_name"), col("dedupe"), col("alert_id"),
            col("match_count"), col("activated"),
            unix_micros(col("first_matched_at")).as("first_us"))
          .orderBy(col("rule_name"), col("dedupe"), col("first_us"))
      },
      // the full-history fold (q41's oracle): cutoff-independent ground truth
      Some("""
        WITH RECURSIVE matches AS (
          SELECT 'error_burst' AS rule_name, CAST(user_id AS VARCHAR) AS dedupe,
                 epoch_ns(ts) // 1000 AS us
          FROM events WHERE event_type = 'error'
        ),
        m AS (
          SELECT rule_name, dedupe, us,
                 row_number() OVER (PARTITION BY rule_name, dedupe ORDER BY us) AS rn
          FROM matches
        ),
        r AS (
          SELECT rule_name, dedupe, us, rn, us AS anchor FROM m WHERE rn = 1
          UNION ALL
          SELECT m2.rule_name, m2.dedupe, m2.us, m2.rn,
                 CASE WHEN m2.us >= r.anchor + CAST(1800000000 AS BIGINT) THEN m2.us ELSE r.anchor END
          FROM m m2
          JOIN r ON m2.dedupe = r.dedupe AND m2.rn = r.rn + 1
        )
        SELECT rule_name, dedupe,
               md5(rule_name || '|' || dedupe || '|' || CAST(anchor // 1000 AS VARCHAR)) AS alert_id,
               COUNT(*) AS match_count,
               COUNT(*) >= 2 AS activated,
               anchor AS first_us
        FROM r
        GROUP BY rule_name, dedupe, anchor
        ORDER BY rule_name, dedupe, first_us""")),

    // ---- q82: S6+S7 table routing under the gate — a mixed JSON-lines
    // fixture flows through the REAL ingest chain: line framing →
    // pre-transform JSON parse → metadata routing (a `digest` object is
    // skipped whole, reference transformer/src/main.rs:405-490) → content
    // routing fan-out into three tables (main.rs:864-917) → per-table
    // aggregation. The oracle reconstructs every table's aggregate from
    // the source parquet minus the skipped object's rows, so both routing
    // layers (and the JSON round-trip) are verified end to end.
    QueryDef(
      "q82_routed_ingest",
      (s, dir) => {
        import graft.sources.Framing
        val tmp = Artifacts.memo("alerting.routed_ingest", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_route")
          val rows = events(s, dir)
            .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
            .select("event_id", "event_type", "value").collect()
          def json(r: org.apache.spark.sql.Row): String = {
            val v = if (r.isNullAt(2)) "null" else r.getDouble(2).toString
            s"""{"event_id":${r.getLong(0)},"event_type":"${r.getString(1)}","value":$v}"""
          }
          def write(name: String, p: org.apache.spark.sql.Row => Boolean): Unit = {
            val w = new java.io.OutputStreamWriter(
              java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(t, name)),
              java.nio.charset.StandardCharsets.UTF_8)
            try rows.filter(p).foreach { r => w.write(json(r)); w.write('\n') }
            finally w.close()
          }
          write("part_a.jsonl", _.getLong(0) % 2 == 0)
          write("digest_b.jsonl", r => r.getLong(0) % 2 == 1 && r.getLong(0) % 5 == 0)
          write("part_c.jsonl", r => r.getLong(0) % 2 == 1 && r.getLong(0) % 5 != 0)
          t
        })
        val lines = Framing.preTransformJsonParse(Framing.textLines(s, tmp))
        // S6: object-metadata routing — the digest object is skipped whole
        val kept = Framing.routeByFileMetadata(lines,
          Seq(Framing.MetadataRoute(".*digest.*", None)), default = "raw")
        val parsed = kept.select(
          get_json_object(col("json"), "$.event_id").cast("long").as("event_id"),
          get_json_object(col("json"), "$.event_type").as("event_type"),
          get_json_object(col("json"), "$.value").cast("double").as("value"))
        // S7: content routing fan-out into per-table frames
        val routed = Framing.routeByContent(parsed,
          when(col("event_type") === "error", "errors_t")
            .when(col("event_type") === "purchase", "orders_t")
            .otherwise("other_t"))
        Framing.routedTables(routed, Seq("errors_t", "orders_t", "other_t"))
          .toSeq.sortBy(_._1)
          .map { case (name, df) =>
            df.agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"),
              max(col("event_id")).as("max_id"))
              .select(lit(name).as("table_name"), col("n"), col("sum_value"),
                col("max_id"))
          }
          .reduce(_.unionAll(_))
          .orderBy(col("table_name"))
      },
      Some("""
        SELECT CASE WHEN event_type = 'error' THEN 'errors_t'
                    WHEN event_type = 'purchase' THEN 'orders_t'
                    ELSE 'other_t' END AS table_name,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               MAX(event_id) AS max_id
        FROM events
        WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
          AND NOT (event_id % 2 = 1 AND event_id % 5 = 0)
        GROUP BY 1
        ORDER BY table_name""")),

    // ---- q89: error sidelining (S17) under the gate — the last ingest
    // semantic that was unit-only. A fixture carrying three row classes
    // (clean JSON, valid JSON with a type-bad value, truncated JSON)
    // flows the real chain: line framing → pre-transform try-parse
    // (malformed lines stay raw → parse_error sideline) → untyped
    // projection → SchemaResolver.resolve (try_cast mismatches →
    // schema_mismatch sideline, clean rows project). Three outputs, each
    // its own filtered read of the one fixture (the union's branches do not
    // share a scan), no job failure on bad rows — reference
    // transformer/src/main.rs:955-998, 1433-1494. The oracle
    // reconstructs every stage's count/sum/max from the event_id rules.
    QueryDef(
      "q89_sideline_gate",
      (s, dir) => {
        import graft.sources.Framing
        import org.apache.spark.sql.types._
        val tmp = Artifacts.memo("alerting.sideline_gate", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_sideline")
          val rows = events(s, dir)
            .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
            .select("event_id", "event_type", "value").collect()
          val w = new java.io.OutputStreamWriter(
            java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(t, "mixed.jsonl")),
            java.nio.charset.StandardCharsets.UTF_8)
          try rows.foreach { r =>
            val id = r.getLong(0)
            val line =
              if (id % 13 == 0)
                s"""{"event_id":$id,"event_type":"${r.getString(1)}","value":"oops"}"""
              else if (id % 17 == 0)
                s"""{"event_id":$id,"event_""" // truncated mid-key
              else {
                val v = if (r.isNullAt(2)) "null" else r.getDouble(2).toString
                s"""{"event_id":$id,"event_type":"${r.getString(1)}","value":$v}"""
              }
            w.write(line); w.write('\n')
          } finally w.close()
          t
        })
        val lines = Framing.preTransformJsonParse(Framing.textLines(s, tmp))
        // in-flight rows are untyped (the reference's dynamic VRL values):
        // value stays a string until schema resolution types it
        val parsed = lines.filter(col("json").isNotNull).select(
          get_json_object(col("json"), "$.event_id").cast("long").as("event_id"),
          get_json_object(col("json"), "$.event_type").as("event_type"),
          get_json_object(col("json"), "$.value").as("value"))
        val target = StructType(Seq(
          StructField("event_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val r = graft.schema.SchemaResolver.resolve(parsed, target)
        val resolved = r.resolved.agg(
          count(lit(1)).as("n"), msum(col("value")).as("sum_value"),
          max(col("event_id")).as("max_id"))
          .select(lit("resolved").as("stage"), col("n"), col("sum_value"), col("max_id"))
        val mismatched = r.sidelined.groupBy(col("error_kind").as("stage"))
          .agg(count(lit(1)).as("n"), lit(0.0).as("sum_value"),
            max(col("event_id")).as("max_id"))
        val parseErr = lines.filter(col("json").isNull && col("message").isNotNull)
          .agg(count(lit(1)).as("n"), lit(0.0).as("sum_value"),
            max(regexp_extract(col("message"), "\\d+", 0).cast("long")).as("max_id"))
          .select(lit("parse_error").as("stage"), col("n"), col("sum_value"),
            col("max_id"))
        // drop empty stages: a global agg always emits one row (n=0,
        // max_id null) but the oracle's GROUP BY produces no group — on a
        // fixture with no rows of some class the row counts would diverge
        resolved.unionByName(mismatched).unionByName(parseErr)
          .filter(col("n") > 0)
          .orderBy(col("stage"))
      },
      Some("""
        WITH cls AS (
          SELECT event_id, value,
                 CASE WHEN event_id % 13 = 0 THEN 'schema_mismatch'
                      WHEN event_id % 17 = 0 THEN 'parse_error'
                      ELSE 'resolved' END AS stage
          FROM events
          WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
        )
        SELECT stage, COUNT(*) AS n,
               CAST(SUM(CASE WHEN stage = 'resolved'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE 0 END) AS DOUBLE) AS sum_value,
               MAX(event_id) AS max_id
        FROM cls
        GROUP BY stage
        ORDER BY stage""")),

    // ---- q133: Z-ORDER clustered lake + 2-D zone-map pruning — q54's
    // file skipping extended to multi-dimension box predicates: the lake
    // lands clustered by the Morton interleave of (user_id, floor(value)),
    // so every file's min/max is tight on BOTH columns and a box query
    // prunes on metadata alone (a user_id-sorted layout would serve only
    // its leading column — SnapshotsSpec measures the contrast). The
    // z-key orders the LAYOUT only; results and oracle are plain SQL.
    QueryDef(
      "q133_zorder_pruned",
      (s, dir) => {
        import graft.lake.{Lake, Snapshots}
        val tmp = Artifacts.memo("alerting.zorder", dir, Seq("events"))({ sc =>
          val t = sc.dir("graft_lake_zorder")
          // single hour partition: z-order clusters WITHIN a partition
          // (Iceberg/Delta OPTIMIZE ZORDER semantics) — the hour
          // dimension itself is q54's partition-pruning demo; a real ts
          // here would cross 30 days × 32 z-partitions of tiny files
          val ev = events(s, dir)
            .select(col("event_id"), col("user_id"),
              col("event_type"), col("value"))
            .withColumn("ts", lit("2024-01-01 00:10:00").cast("timestamp"))
            .withColumn("__zk",
              Lake.zorderKey(col("user_id"), floor(col("value")), 11))
          Snapshots.append(ev, t, clusterBy = Seq("__zk"),
            clusterPartitions = Some(32))
          t
        })
        import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
        val box = Seq(
          GreaterThanOrEqual("user_id", 0L), LessThan("user_id", 40L),
          GreaterThanOrEqual("value", 0.0), LessThan("value", 80.0))
        Snapshots.readWhere(s, tmp, box)
          .where(col("user_id") >= 0 && col("user_id") < 40 &&
            col("value") >= 0 && col("value") < 80)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        WHERE user_id >= 0 AND user_id < 40 AND value >= 0 AND value < 80
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---- q141: Sigma-rule import (reference README "automatic import of
    // Sigma detections"; scripts/sigma_generate.py wraps the pySigma
    // backend). Three Sigma YAML rules — exercising case-insensitive
    // equality, value-list OR, `*`/`?` wildcards, numeric modifiers,
    // keyword selections, and the `and not` / `all of sel_*` condition
    // algebra — compile to Column predicates and run through the SAME
    // Detection.ruleMatches scan as the hand-built rule pack: one pass,
    // N codegen'd filters, no per-record interpreter. The oracle restates
    // each compiled predicate in ANSI SQL.
    QueryDef(
      "q141_sigma_rules",
      (s, dir) => {
        import graft.config.SigmaRules
        val sigA =
          """title: error_significant
            |level: high
            |logsource: {product: app, service: events}
            |detection:
            |  selection:
            |    event_type: ERROR
            |  filter:
            |    k|lt: 10
            |  condition: selection and not filter
            |""".stripMargin
        val sigB =
          """title: commerce_funnel_actions
            |level: medium
            |logsource: {product: app, service: events}
            |detection:
            |  sel_act:
            |    event_type:
            |      - 'purch*'
            |      - 'SIGN?P'
            |  sel_val:
            |    value|gte: 150
            |  condition: all of sel_*
            |""".stripMargin
        val sigC =
          """title: raw_props_probe
            |level: low
            |logsource: {product: app, service: events}
            |detection:
            |  keywords:
            |    - '"k": 9'
            |  condition: keywords
            |""".stripMargin
        val rules = Seq(sigA, sigB, sigC).map(y =>
          SigmaRules.load(y, keywordField = "props")
            .toRule(dedupe = col("user_id")))
        val ev = events(s, dir).withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        Detection.ruleMatches(ev, rules, matchId = col("event_id"))
          .groupBy(col("rule_name"), col("severity"))
          .agg(count(lit(1)).as("n_matches"),
            countDistinct(col("dedupe")).as("n_keys"))
          .orderBy(col("rule_name"))
      },
      Some("""
        SELECT rule_name, severity, COUNT(*) AS n_matches,
               COUNT(DISTINCT dedupe) AS n_keys
        FROM (
          SELECT 'error_significant' AS rule_name, 'warning' AS severity,
                 CAST(user_id AS VARCHAR) AS dedupe
          FROM (SELECT user_id, event_type,
                       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                FROM events)
          WHERE lower(event_type) = 'error' AND NOT (k < 10)
          UNION ALL
          SELECT 'commerce_funnel_actions', 'notice',
                 CAST(user_id AS VARCHAR)
          FROM events
          WHERE (regexp_matches(lower(event_type), '^purch.*$')
                 OR regexp_matches(lower(event_type), '^sign.p$'))
            AND value >= 150
          UNION ALL
          SELECT 'raw_props_probe', 'notice', CAST(user_id AS VARCHAR)
          FROM events
          WHERE contains(lower(props), '"k": 9'))
        GROUP BY rule_name, severity
        ORDER BY rule_name""")),

    // ---- q142: Sigma CORRELATION rules — the count-over-window surface
    // (Sigma v2 correlation documents + the deprecated-but-everywhere
    // pre-2.0 `| count() by` aggregation suffix) compiled onto the A1
    // threshold-aggregation shape: one filter + one grouped count /
    // countDistinct per tumbling timeframe window. Two correlations run
    // here: an event_count (v2 document form) and a value_count parsed
    // from the LEGACY aggregation grammar; the oracle restates both as
    // grouped HAVING queries on epoch-floored windows.
    QueryDef(
      "q142_sigma_correlation",
      (s, dir) => {
        import graft.config.SigmaRules
        val rule = SigmaRules.load(
          """title: error_events
            |detection:
            |  sel:
            |    event_type: error
            |  condition: sel
            |""".stripMargin)
        val corrA = SigmaRules.loadCorrelation(
          """title: error_burst_by_user
            |correlation:
            |  type: event_count
            |  rules: [error_events]
            |  group-by: [user_id]
            |  timeframe: 1d
            |  condition:
            |    gte: 3
            |""".stripMargin)
        // the same threshold semantics via the LEGACY grammar, counting
        // DISTINCT payload values per user
        val legacy = SigmaRules.load(
          """title: error_k_spread
            |detection:
            |  sel:
            |    event_type: error
            |  condition: sel | count(k) by user_id >= 3
            |timeframe: 1d
            |""".stripMargin)
        val ev = events(s, dir).withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        Seq(corrA, legacy.correlation.get)
          .map(c => SigmaRules
            .correlationMatches(ev, Seq(rule, legacy), c)
            .select(col("rule_name"), col("user_id"),
              unix_seconds(col("window_start")).as("win_epoch"), col("n")))
          .reduce(_.unionAll(_))
          .orderBy(col("rule_name"), col("user_id"), col("win_epoch"))
      },
      Some("""
        SELECT rule_name, user_id, win_epoch, n FROM (
          SELECT 'error_burst_by_user' AS rule_name, user_id,
                 (epoch(ts)::BIGINT // 86400) * 86400 AS win_epoch,
                 COUNT(*)::BIGINT AS n
          FROM events WHERE event_type = 'error'
          GROUP BY user_id, (epoch(ts)::BIGINT // 86400) * 86400
          HAVING COUNT(*) >= 3
          UNION ALL
          SELECT 'error_k_spread', user_id,
                 (epoch(ts)::BIGINT // 86400) * 86400,
                 COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
          FROM events WHERE event_type = 'error'
          GROUP BY user_id, (epoch(ts)::BIGINT // 86400) * 86400
          HAVING COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) >= 3)
        ORDER BY rule_name, user_id, win_epoch""")),

    // ---- q144: Sigma TEMPORAL correlations — the CEP bridge: `temporal`
    // (all referenced rules observed in one group+window, unordered →
    // one tagged union + a distinct-tag count) and `temporal_ordered`
    // (q122's earliest-greedy funnel chain per window: earliest rule-1
    // match, then the earliest rule-2 match strictly after it — one
    // grouped pass collecting sorted per-rule match times, the chain a
    // pure projection). The oracle re-derives both: a HAVING
    // COUNT(DISTINCT) for the unordered form, the min-chain CTEs for
    // the ordered one.
    QueryDef(
      "q144_sigma_temporal",
      (s, dir) => {
        import graft.config.SigmaRules
        val rules = SigmaRules.loadAll(
          """title: saw_view
            |detection:
            |  sel: {event_type: view}
            |  condition: sel
            |---
            |title: saw_click
            |detection:
            |  sel: {event_type: click}
            |  condition: sel
            |---
            |title: saw_purchase
            |detection:
            |  sel: {event_type: purchase}
            |  condition: sel
            |""".stripMargin)
        val ordered = SigmaRules.loadCorrelation(
          """title: view_then_click
            |correlation:
            |  type: temporal_ordered
            |  rules: [saw_view, saw_click]
            |  group-by: [user_id]
            |  timeframe: 1d
            |""".stripMargin)
        val unordered = SigmaRules.loadCorrelation(
          """title: view_and_purchase
            |correlation:
            |  type: temporal
            |  rules: [saw_view, saw_purchase]
            |  group-by: [user_id]
            |  timeframe: 1d
            |""".stripMargin)
        val ev = events(s, dir)
        Seq(ordered, unordered)
          .map(c => SigmaRules.correlationMatches(ev, rules, c)
            .select(col("rule_name"), col("user_id"),
              unix_seconds(col("window_start")).as("win_epoch"), col("n")))
          .reduce(_.unionAll(_))
          .orderBy(col("rule_name"), col("user_id"), col("win_epoch"))
      },
      Some("""
        WITH w AS (SELECT user_id, (epoch(ts)::BIGINT // 86400) * 86400 AS win,
                          event_type, ts
                   FROM events),
        u1 AS (SELECT user_id, win, min(ts) AS t1 FROM w
               WHERE event_type = 'view' GROUP BY 1, 2),
        u2 AS (SELECT w.user_id, w.win, min(w.ts) AS t2 FROM w
               JOIN u1 USING (user_id, win)
               WHERE w.event_type = 'click' AND w.ts > u1.t1 GROUP BY 1, 2),
        ord AS (SELECT 'view_then_click' AS rule_name, user_id,
                       win AS win_epoch, 2::BIGINT AS n
                FROM u2),
        un AS (SELECT 'view_and_purchase' AS rule_name, user_id,
                      win AS win_epoch, COUNT(DISTINCT event_type)::BIGINT AS n
               FROM w WHERE event_type IN ('view', 'purchase')
               GROUP BY user_id, win
               HAVING COUNT(DISTINCT event_type) = 2)
        SELECT * FROM (SELECT * FROM ord UNION ALL SELECT * FROM un)
        ORDER BY rule_name, user_id, win_epoch""")),

    // ---- q158: Sigma near() under TRUE sliding-proximity semantics —
    // the per-event form the tumbling q144 windows approximate: a
    // purchase correlates iff the same user has a view within ±600 s OF
    // THE PURCHASE EVENT and no click in that radius; no epoch-aligned
    // bucket exists, so pairs straddling a bucket boundary fire (the
    // documented tumbling narrowing, closed as an engine surface). The
    // oracle is the literal EXISTS/NOT-EXISTS proximity definition —
    // nothing about windows to mirror. Second-floored on both sides
    // (Spark unix_seconds truncates; DuckDB floor(epoch()) matches —
    // a bare ::BIGINT would ROUND and flip exact-boundary membership).
    QueryDef(
      "q158_sigma_near_proximity",
      (s, dir) => {
        import graft.config.SigmaRules
        val rules = SigmaRules.loadAll(
          """title: saw_view
            |detection:
            |  sel: {event_type: view}
            |  condition: sel
            |---
            |title: saw_click
            |detection:
            |  sel: {event_type: click}
            |  condition: sel
            |---
            |title: saw_purchase
            |detection:
            |  sel: {event_type: purchase}
            |  condition: sel
            |""".stripMargin)
        def det(t: String) = rules.find(_.title == t).get.detect
        SigmaRules.nearProximityMatches(events(s, dir),
            base = det("saw_purchase"),
            positives = Seq(det("saw_view")),
            negatives = Seq(det("saw_click")),
            timeframeSeconds = 600L, groupBy = Seq("user_id"))
          .select(col("event_id"), col("user_id"),
            unix_seconds(col("ts")).as("ts_epoch"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (SELECT event_id, user_id, event_type,
                          floor(epoch(ts))::BIGINT AS sec
                   FROM events)
        SELECT b.event_id, b.user_id, b.sec AS ts_epoch
        FROM e b
        WHERE b.event_type = 'purchase'
          AND EXISTS (SELECT 1 FROM e p
                      WHERE p.event_type = 'view'
                        AND p.user_id IS NOT DISTINCT FROM b.user_id
                        AND abs(p.sec - b.sec) <= 600)
          AND NOT EXISTS (SELECT 1 FROM e n
                          WHERE n.event_type = 'click'
                            AND n.user_id IS NOT DISTINCT FROM b.user_id
                            AND abs(n.sec - b.sec) <= 600)
        ORDER BY event_id"""))
  )
}
