package graft.operators

import java.sql.Timestamp

import graft.plans.AnchoredSession
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Alert dedup/threshold aggregation — the reference's A1 operator
  * (lib/rust/lake_writer/src/matano_alerts.rs:92-360).
  *
  * Semantics: rule matches group by (rule_name, dedupe); a match joins the
  * group's current alert iff its time is within `windowSeconds` of the
  * alert's `first_matched_at`, else it starts a new alert. An alert
  * activates when its match count reaches `threshold`; `created_at` is the
  * time of the match that crossed it (retroactively covering earlier
  * matches — the reference's retro-activation flips rows already written;
  * on the lake that is one [[graft.lake.Snapshots.mergeUpsert]] on
  * `alert_id`, as q81_alerts_retro_lake commits it).
  *
  * The anchored-window grouping is inherently sequential per key (each
  * boundary depends on the previous anchor), so it cannot be a plain window
  * function; it is a per-key fold behind a hash shuffle on
  * (rule_name, dedupe) — the same distribution the reference's hash
  * aggregation uses. [[aggregate]] runs it as the native
  * `plans.AnchoredSession` operator: one shuffle, one sort, one streaming
  * pass over the sorted rows with no per-group buffer; [[foldKey]] is the
  * same fold over one key's matches, the semantics the operator is checked
  * against. The shuffle moves only match keys and timestamps, not event
  * payloads.
  *
  * Per-rule settings. One fold serves a whole rule pack: [[aggregate]]
  * takes a default [[AlertConfig]] plus a map from rule name to that
  * rule's config, applied per (rule_name, dedupe) key, as the reference
  * applies each match's own rule's `threshold` and `deduplication_window`.
  * A pack written as one [[aggregate]] per setting, each over
  * `matches.filter(rule_name isin …)` of one match frame and then
  * unioned, plans the same single fold: the optimizer rule
  * `plans.AnchoredSession.MergeAnchoredFolds` merges such a union when
  * the branches read the same frame with the same keys, their rule sets
  * are non-null string literals and pairwise disjoint; otherwise each
  * branch keeps its own scan, shuffle and fold.
  *
  * Alert ids are deterministic (md5 of key + anchor) rather than random
  * UUIDs: idempotent re-runs produce identical ids, which is what makes
  * exactly-once sink commits retryable.
  */
object Alerts {

  final case class AlertConfig(threshold: Int = 1, windowSeconds: Long = 3600)

  final case class MatchRow(rule_name: String, dedupe: String, match_id: Long, ts: Timestamp)

  final case class AlertRow(
      rule_name: String, dedupe: String, alert_id: String,
      first_matched_at: Timestamp, last_matched_at: Timestamp,
      match_count: Long, activated: Boolean, created_at: Option[Timestamp])

  /** java.sql.Timestamp ↔ epoch microseconds (exact — Timestamp carries
    * sub-ms in its nanos field; window arithmetic runs in µs so batch and
    * streaming agree to the timestamp's full precision).
    */
  def tsToUs(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  def usToTs(us: Long): Timestamp = {
    val t = new Timestamp((us / 1000000L) * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Fold sorted matches of one (rule, dedupe) key into alerts. */
  def foldKey(rule: String, dedupe: String, sorted: Seq[MatchRow],
      cfg: AlertConfig): Seq[AlertRow] = {
    val windowUs = cfg.windowSeconds * 1000000L
    val out = scala.collection.mutable.ArrayBuffer.empty[AlertRow]
    var firstUs = Long.MinValue
    var lastUs = 0L
    var n = 0L
    var created: Option[Long] = None
    def close(): Unit = if (firstUs != Long.MinValue) {
      out += AlertRow(rule, dedupe, alertId(rule, dedupe, usToTs(firstUs)),
        usToTs(firstUs), usToTs(lastUs), n, n >= cfg.threshold, created.map(usToTs))
    }
    for (m <- sorted) {
      val us = tsToUs(m.ts)
      if (firstUs == Long.MinValue || us >= firstUs + windowUs) {
        close(); firstUs = us; lastUs = us; n = 1
        created = if (n >= cfg.threshold) Some(us) else None
      } else {
        n += 1; lastUs = math.max(lastUs, us)
        if (created.isEmpty && n >= cfg.threshold) created = Some(us)
      }
    }
    close()
    out.toSeq
  }

  def alertId(rule: String, dedupe: String, first: Timestamp): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$rule|$dedupe|${first.getTime}".getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** Batch aggregation: matches (rule_name, dedupe, ts; other columns are
    * ignored) → alerts, on the native `plans.AnchoredSession` operator.
    * Keys keep their values: a null `dedupe` (or `rule_name`) is a key of
    * its own, stays null in the output, and its alert id hashes
    * `rule|null|ms`, as [[foldKey]] and [[alertId]] give. A match with a
    * null `ts` is dropped, as the reference sidelines records without an
    * event time (P8); [[foldKey]] cannot order one and throws. Each rule
    * folds under its `perRule` config, or else `cfg` (a null rule too).
    */
  def aggregate(spark: SparkSession, matches: DataFrame, cfg: AlertConfig,
      perRule: Map[String, AlertConfig] = Map.empty): Dataset[AlertRow] = {
    import spark.implicits._
    AnchoredSession.fold(spark, matches, col("rule_name").cast(StringType),
      col("dedupe").cast(StringType), cfg, perRule).as[AlertRow]
  }
}
