package graft

import java.sql.Timestamp

import graft.operators.Alerts
import graft.operators.Alerts._
import graft.streaming.AlertStream

/** Alert state machine scenarios (FIXTURES.md F7). */
class AlertsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)
  private def m(minute: Int, id: Long = 0, rule: String = "r", key: String = "k") =
    MatchRow(rule, key, id, ts(minute))

  test("activates exactly at threshold; created_at = crossing match") {
    val cfg = AlertConfig(threshold = 5, windowSeconds = 900)
    val out = foldKey("r", "k", (1 to 5).map(i => m(i, i)), cfg)
    assert(out.size == 1)
    val a = out.head
    assert(a.match_count == 5 && a.activated)
    assert(a.created_at.contains(ts(5)))
    assert(a.first_matched_at == ts(1))
  }

  test("below threshold: alert row exists but not activated") {
    val cfg = AlertConfig(threshold = 5, windowSeconds = 900)
    val out = foldKey("r", "k", (1 to 4).map(i => m(i, i)), cfg)
    assert(out.size == 1 && !out.head.activated && out.head.created_at.isEmpty)
  }

  test("match after window expiry starts a new alert with a new id") {
    val cfg = AlertConfig(threshold = 1, windowSeconds = 600) // 10 min
    val out = foldKey("r", "k", Seq(m(0), m(5), m(11)), cfg)
    assert(out.size == 2)
    assert(out(0).match_count == 2 && out(1).match_count == 1)
    assert(out(0).alert_id != out(1).alert_id)
    assert(out(1).first_matched_at == ts(11))
  }

  test("attach is anchored to first_matched_at, not last") {
    val cfg = AlertConfig(threshold = 1, windowSeconds = 600)
    // 0, 9 within window of 0; 12 is within 600s of 9 but NOT of anchor 0
    val out = foldKey("r", "k", Seq(m(0), m(9), m(12)), cfg)
    assert(out.map(_.match_count) == Seq(2, 1))
  }

  test("idempotent re-run: deterministic alert ids") {
    val cfg = AlertConfig(2, 900)
    val a = foldKey("r", "k", Seq(m(1), m(2)), cfg)
    val b = foldKey("r", "k", Seq(m(1), m(2)), cfg)
    assert(a == b)
  }

  test("batch and streaming aggregation agree on real data") {
    import org.apache.spark.sql.functions._
    val q40 = SparkEntry.queries("q40_alerts_batch")(spark, sf)
      .filter(col("rule_name") === "error_burst")
    val q41 = SparkEntry.queries("q41_alerts_stream")(spark, sf)
    val b = q40.collect().toSeq
    val s = q41.collect().toSeq
    assert(b.nonEmpty)
    assert(b.toSet == s.toSet)
  }

  test("flip-after-commit: late matches activate an already-committed alert in one snapshot commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.lake.Snapshots
    val tmp = tempDir("graft_retro_e2e").toString
    val cfg = AlertConfig(threshold = 2, windowSeconds = 1800)
    def m(id: Long, ts: String) =
      ("error_burst", "u1", id, java.sql.Timestamp.valueOf(ts))
    // phase 1: one early match — alert commits UNDER threshold
    val early = Seq(m(1, "2024-01-01 10:00:00"))
      .toDF("rule_name", "dedupe", "match_id", "ts")
    val phase1 = graft.plans.AnchoredSession.aggregate(spark, early, cfg)
    Snapshots.append(phase1.withColumn("ts", col("first_matched_at")), tmp)
    val committed = Snapshots.read(spark, tmp).collect()
    assert(committed.length == 1 && !committed.head.getAs[Boolean]("activated"))
    val committedId = committed.head.getAs[String]("alert_id")
    // a bystander alert in another hour, which no late match touches
    val bystander = graft.plans.AnchoredSession.aggregate(spark,
      Seq(("error_burst", "u2", 9L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
        .toDF("rule_name", "dedupe", "match_id", "ts"), cfg)
    Snapshots.append(bystander.withColumn("ts", col("first_matched_at")), tmp)
    val bystanderId = bystander.head.getAs[String]("alert_id")
    def hourFiles(v: Int) = Snapshots.snapshot(tmp, v).entries
      .filter(_.hour == "2024-01-01-05").map(_.file).toSet
    val v1 = Snapshots.currentVersion(tmp).get
    // phase 2: a late match inside the window crosses the threshold, plus
    // one far outside it (a brand-new alert) — both land in ONE commit
    val full = Seq(m(1, "2024-01-01 10:00:00"), m(2, "2024-01-01 10:20:00"),
      m(3, "2024-01-01 13:00:00")).toDF("rule_name", "dedupe", "match_id", "ts")
    val retro = graft.plans.AnchoredSession.aggregate(spark, full, cfg)
    Snapshots.mergeUpsert(spark, tmp,
      retro.withColumn("ts", col("first_matched_at")), "alert_id")
    // exactly one commit (atomic: flip + insert are never separately visible)
    assert(Snapshots.currentVersion(tmp).get == v1 + 1)
    // only touched hours are rewritten: the bystander's hour keeps its files
    assert(hourFiles(v1).nonEmpty && hourFiles(v1 + 1) == hourFiles(v1))
    val all = Snapshots.read(spark, tmp).collect()
      .map(r => r.getAs[String]("alert_id") ->
        (r.getAs[Boolean]("activated"), r.getAs[Long]("match_count"))).toMap
    assert(all(bystanderId) == ((false, 1L)))
    val after = all - bystanderId
    assert(after.size == 2)
    // the committed row FLIPPED in place: same alert_id, now activated, count 2
    assert(after(committedId) == ((true, 2L)))
    // the late-anchored alert inserted, under threshold
    assert(after.exists { case (id, (act, n)) => id != committedId && !act && n == 1L })
  }

  test("timeout branch removes idle state; live keys re-arm their timer") {
    import org.apache.spark.sql.streaming.GroupState
    // minimal fake: tracks update/remove/timeout interactions
    class FakeState(var value: Option[AlertStream.KeyState], timedOut: Boolean)
        extends GroupState[AlertStream.KeyState] {
      var removed = false
      var timeoutSet: Option[Long] = None
      override def exists: Boolean = value.isDefined
      override def get: AlertStream.KeyState = value.get
      override def getOption: Option[AlertStream.KeyState] = value
      override def update(s: AlertStream.KeyState): Unit = { value = Some(s) }
      override def remove(): Unit = { removed = true; value = None }
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(ms: Long): Unit = { timeoutSet = Some(ms) }
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(ms: Long): Unit = ()
      override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val cfg = AlertConfig(2, 600)
    // timed-out idle key → state removed, nothing emitted
    val idle = new FakeState(Some(AlertStream.KeyState(0L, 0L, 1, None)), timedOut = true)
    val out = AlertStream.processKey(("r", "k"), Iterator.empty, idle, cfg,
      AlertStream.ProcessingTimeBound)
    assert(out.isEmpty && idle.removed)
    // live key → state updated, timer re-armed at 2× window
    val live = new FakeState(None, timedOut = false)
    val out2 = AlertStream.processKey(("r", "k"),
      Iterator(m(1, 1)), live, cfg, AlertStream.ProcessingTimeBound).toSeq
    assert(out2.size == 1 && live.value.isDefined)
    assert(live.timeoutSet.contains(600L * 2 * 1000L))
    // NoBound never arms a timer
    val live2 = new FakeState(None, timedOut = false)
    AlertStream.processKey(("r", "k"), Iterator(m(1, 1)), live2, cfg,
      AlertStream.NoBound).toSeq
    assert(live2.timeoutSet.isEmpty)
  }

  test("event-time bound (default) arms watermark timers and reaps on timeout") {
    import org.apache.spark.sql.streaming.GroupState
    class FakeState(var value: Option[AlertStream.KeyState], timedOut: Boolean,
        watermarkMs: Long) extends GroupState[AlertStream.KeyState] {
      var removed = false
      var timeoutTs: Option[Long] = None
      override def exists: Boolean = value.isDefined
      override def get: AlertStream.KeyState = value.get
      override def getOption: Option[AlertStream.KeyState] = value
      override def update(s: AlertStream.KeyState): Unit = { value = Some(s) }
      override def remove(): Unit = { removed = true; value = None }
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(ms: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(ms: Long): Unit = { timeoutTs = Some(ms) }
      override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = watermarkMs
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val cfg = AlertConfig(2, 600)
    // live key: timer at last-match + 2× window (in event time)
    val live = new FakeState(None, timedOut = false, watermarkMs = 0L)
    AlertStream.processKey(("r", "k"),
      Iterator(m(1, 1)), live, cfg, AlertStream.EventTimeBound()).toSeq
    assert(live.timeoutTs.contains(m(1, 1).ts.getTime + 600L * 2 * 1000L))
    // stale key behind the watermark: timer clamps to watermark + 1
    val stale = new FakeState(None, timedOut = false, watermarkMs = 10_000_000_000L)
    AlertStream.processKey(("r", "k"),
      Iterator(m(1, 1)), stale, cfg, AlertStream.EventTimeBound()).toSeq
    assert(stale.timeoutTs.contains(10_000_000_001L))
    // watermark passed the timer → state reaped WITHOUT any wall-clock flag
    val expired = new FakeState(Some(AlertStream.KeyState(0L, 0L, 1, None)),
      timedOut = true, watermarkMs = 10_000_000_000L)
    val out = AlertStream.processKey(("r", "k"), Iterator.empty, expired, cfg,
      AlertStream.EventTimeBound())
    assert(out.isEmpty && expired.removed)
  }

  test("streaming step transition closes windows correctly") {
    val cfg = AlertConfig(2, 600)
    val (none, s1) = AlertStream.step(None, 0L, cfg)
    assert(none.isEmpty && s1.count == 1)
    val (none2, s2) = AlertStream.step(Some(s1), 60000L, cfg)
    assert(none2.isEmpty && s2.count == 2 && s2.createdUs.contains(60000L))
    val (closed, s3) = AlertStream.step(Some(s2), 601000000L, cfg)
    assert(closed.contains(s2) && s3.count == 1)
  }
}
