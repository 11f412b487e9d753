package graft.streaming

import graft.operators.Alerts._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming alert aggregation: the stateful continuous form of
  * operators.Alerts (reference E2 — the "continuous query"), as
  * `flatMapGroupsWithState` keyed on (rule_name, dedupe).
  *
  * State per key = the open alert {anchor, count, activated}; each
  * micro-batch folds its new matches through the same transition function
  * the batch operator uses (single shared implementation → batch/stream
  * parity is by construction, and tested). Emissions are alert snapshots
  * per trigger; the sink upserts by alert_id — re-emission of a grown
  * alert is the MERGE-INTO retro-activation path of the reference
  * (matano_alerts.rs:309-444) without partition rewrites.
  *
  * State is bounded two ways: structurally (one open alert per active
  * (rule, dedupe) key; closed alerts leave state immediately) and in TIME —
  * by default an event-time watermark bound ([[EventTimeBound]], mirroring
  * the reference's 24 h alert lookback, AlertsIcebergHelper.kt:104-128):
  * the match stream carries `withWatermark("ts", delay)` and each key arms
  * an event-time timeout at last-match + 2× the dedup window, so idle keys
  * are reaped as the watermark passes them — no unbounded state store at
  * high key cardinality, and no reliance on anyone remembering a flag.
  * Removal never changes results: a key idle past 2× the window can only
  * start a new alert anyway. [[ProcessingTimeBound]] is the wall-clock
  * alternative for processing-time pipelines; [[NoBound]] opts out (unit
  * tests with tiny keyspaces).
  */
object AlertStream {

  /** How streaming alert state is bounded in time. */
  sealed trait StateBound
  /** No time bound — state lives until its key closes (test-scale only). */
  case object NoBound extends StateBound
  /** Wall-clock idle reaping at 2× the dedup window (continuous
    * triggers on processing time).
    */
  case object ProcessingTimeBound extends StateBound
  /** DEFAULT: watermark-driven event-time reaping; `delay` is the
    * allowed event-time lateness (reference default: 24 hours).
    */
  final case class EventTimeBound(delay: String = "24 hours") extends StateBound

  final case class KeyState(firstUs: Long, lastUs: Long, count: Long,
      createdUs: Option[Long])

  def stateToRow(rule: String, dedupe: String, s: KeyState, cfg: AlertConfig): AlertRow =
    AlertRow(rule, dedupe,
      alertId(rule, dedupe, usToTs(s.firstUs)),
      usToTs(s.firstUs), usToTs(s.lastUs), s.count,
      s.count >= cfg.threshold, s.createdUs.map(usToTs))

  /** Transition: fold one match into the open state; returns (closedOpt,
    * newState) — closed alert emitted when the window rolls over.
    */
  def step(s: Option[KeyState], tsUs: Long, cfg: AlertConfig): (Option[KeyState], KeyState) =
    s match {
      case Some(open) if tsUs < open.firstUs + cfg.windowSeconds * 1000000L =>
        val n = open.count + 1
        val created = open.createdUs.orElse(
          if (n >= cfg.threshold) Some(tsUs) else None)
        (None, open.copy(lastUs = math.max(open.lastUs, tsUs), count = n, createdUs = created))
      case other =>
        val fresh = KeyState(tsUs, tsUs, 1,
          if (cfg.threshold <= 1) Some(tsUs) else None)
        (other, fresh)
    }

  /** Per-trigger processing of one key's new matches against its state —
    * the flatMapGroupsWithState body, extracted so the timeout branch is
    * unit-testable without wall-clock streaming runs.
    */
  def processKey(key: (String, String), it: Iterator[MatchRow],
      state: GroupState[KeyState], cfg: AlertConfig,
      bound: StateBound): Iterator[AlertRow] = {
    val (rule, dd) = key
    if (!it.hasNext && state.hasTimedOut) {
      // idle past 2× the dedup window (wall clock or watermark): the open
      // alert (already emitted as a snapshot) can never grow — drop state
      state.remove()
      Iterator.empty
    } else {
      val sorted = it.toSeq.sortBy(m => tsToUs(m.ts))
      var cur = state.getOption
      val emitted = scala.collection.mutable.ArrayBuffer.empty[AlertRow]
      for (m <- sorted) {
        val (closed, next) = step(cur, tsToUs(m.ts), cfg)
        closed.foreach(c => emitted += stateToRow(rule, dd, c, cfg))
        cur = Some(next)
      }
      cur.foreach { c =>
        state.update(c)
        bound match {
          case ProcessingTimeBound =>
            state.setTimeoutDuration(cfg.windowSeconds * 2 * 1000L)
          case EventTimeBound(_) =>
            // reap when the watermark passes last-match + 2× window; clamp
            // above the current watermark (Spark rejects stale timestamps)
            state.setTimeoutTimestamp(math.max(
              c.lastUs / 1000L + cfg.windowSeconds * 2 * 1000L,
              state.getCurrentWatermarkMs + 1L))
          case NoBound => ()
        }
        emitted += stateToRow(rule, dd, c, cfg)
      }
      // snapshots of the same alert within one trigger collapse to the
      // latest (max count) — sink upserts by alert_id
      emitted.groupBy(_.alert_id).map(_._2.maxBy(_.match_count)).iterator
    }
  }

  /** Streaming aggregation over a stream of MatchRow. Emits snapshots of
    * every alert touched in the trigger (upsert-by-alert_id semantics).
    */
  def aggregate(spark: SparkSession, matches: Dataset[MatchRow],
      cfg: AlertConfig, bound: StateBound = EventTimeBound()): Dataset[AlertRow] = {
    import spark.implicits._
    val (src, timeoutConf) = bound match {
      case EventTimeBound(delay) =>
        (matches.withWatermark("ts", delay), GroupStateTimeout.EventTimeTimeout)
      case ProcessingTimeBound => (matches, GroupStateTimeout.ProcessingTimeTimeout)
      case NoBound => (matches, GroupStateTimeout.NoTimeout)
    }
    src
      .groupByKey(m => (m.rule_name, m.dedupe))
      .flatMapGroupsWithState[KeyState, AlertRow](
        OutputMode.Append, timeoutConf) {
        (key: (String, String), it: Iterator[MatchRow], state: GroupState[KeyState]) =>
          processKey(key, it, state, cfg, bound)
      }
  }

  /** Run a match stream from parquet through the aggregation into a memory
    * sink (AvailableNow), returning the collected alerts — the test/verify
    * entry; production uses the same plan with a durable sink +
    * checkpoint.
    */
  def runAvailableNow(spark: SparkSession, parquetPath: String,
      schema: org.apache.spark.sql.types.StructType, cfg: AlertConfig,
      sinkName: String): DataFrame =
    runMatches(spark,
      spark.readStream.schema(schema).parquet(parquetPath), cfg, sinkName)

  /** Run any (streaming) match frame through the aggregation into a memory
    * sink with AvailableNow — the whole detection pipeline stays one
    * streaming query, no intermediate spool.
    */
  def runMatches(spark: SparkSession, matches: DataFrame, cfg: AlertConfig,
      sinkName: String, bound: StateBound = EventTimeBound()): DataFrame = {
    import spark.implicits._
    val stream = matches
      .select(col("rule_name"), col("dedupe"), col("match_id"), col("ts"))
      .as[MatchRow]
    // state-store width: alert key cardinality is modest (rules × dedupe
    // keys), so fewer state partitions beat the session default — set for
    // the duration of query planning, then restore.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q = try {
      aggregate(spark, stream, cfg, bound)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    // Apply the sink's upsert-by-alert_id contract: when the stream ran as
    // several micro-batches, an alert that grew across batches has several
    // snapshots — the one with the highest match_count wins.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("alert_id"))
      .orderBy(col("match_count").desc, col("last_matched_at").desc)
    spark.table(sinkName)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
