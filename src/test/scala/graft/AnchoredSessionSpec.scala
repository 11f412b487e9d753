package graft

import graft.operators.{Alerts, Detection}
import graft.plans.AnchoredSession
import graft.queries.Alerting
import org.apache.spark.sql.functions._

/** Native anchored-session operator: result parity with the typed fold it
  * replaced (`TypedAlertFold`), the null contract of `Alerts.aggregate`, and
  * the expected physical shape (one shuffle, sorted input).
  */
class AnchoredSessionSpec extends SparkSpec {
  import spark.implicits._

  private def matches = Detection.ruleMatches(
    Tables.load(spark, sf, "events"), Alerting.rules, matchId = col("event_id"))

  private val AlertCols = Seq("rule_name", "dedupe", "alert_id", "first_matched_at",
    "last_matched_at", "match_count", "activated", "created_at")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(AlertCols.map(col): _*).collect().toSet

  test("native operator output equals the Dataset fold on real data") {
    val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
    val m = matches.filter(col("rule_name") === "error_burst")
    val expected = rows(TypedAlertFold(spark, m, cfg).toDF)
    val got = AnchoredSession.aggregate(spark, m, cfg).collect().toSet
    assert(got.nonEmpty)
    assert(got == expected)
    assert(rows(Alerts.aggregate(spark, m, cfg).toDF) == expected)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Alerts.aggregate keeps a null dedupe as its own key, as the typed fold does") {
    val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
    val m = Seq(
      ("r", null, 1L, ts("2024-01-01 00:00:00")),
      ("r", null, 2L, ts("2024-01-01 00:10:00")),
      ("r", "", 3L, ts("2024-01-01 00:05:00")),
      ("r", "k", 4L, ts("2024-01-01 00:00:00")),
      ("r", null, 5L, ts("2024-01-01 01:00:00")),
      (null, "k", 6L, ts("2024-01-01 00:00:00"))
    ).toDF("rule_name", "dedupe", "match_id", "ts")
    val got = Alerts.aggregate(spark, m, cfg).collect()
    assert(got.toSet == TypedAlertFold(spark, m, cfg).collect().toSet)
    val nullKey = got.filter(a => a.rule_name == "r" && a.dedupe == null).sortBy(_.match_count)
    assert(nullKey.map(_.match_count).toSeq == Seq(1L, 2L))
    assert(nullKey.last.alert_id ==
      Alerts.alertId("r", null, ts("2024-01-01 00:00:00")))
    assert(got.exists(a => a.rule_name == "r" && a.dedupe == ""))
    assert(got.exists(a => a.rule_name == null && a.dedupe == "k"))
    assert(got.length == 5)
  }

  test("Alerts.aggregate drops a null-ts match, where the typed fold throws") {
    val cfg = Alerts.AlertConfig(threshold = 2, windowSeconds = 1800)
    val m = Seq(
      ("r", "k", 1L, ts("2024-01-01 00:00:00")),
      ("r", "k", 2L, null),
      ("r", "k", 3L, ts("2024-01-01 00:10:00"))
    ).toDF("rule_name", "dedupe", "match_id", "ts")
    val got = Alerts.aggregate(spark, m, cfg).collect()
    assert(got.toSeq == TypedAlertFold(spark, m.filter(col("ts").isNotNull), cfg).collect().toSeq)
    assert(got.length == 1 && got.head.match_count == 2L && got.head.activated)
    intercept[Exception](TypedAlertFold(spark, m, cfg).collect())
  }

  test("Alerts.aggregate plans the native exec, not the typed round trip") {
    val plan = Alerts.aggregate(spark, matches, Alerts.AlertConfig(1, 3600))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AnchoredSession"))
    Seq("AppendColumns", "MapGroups", "SerializeFromObject").foreach(op =>
      assert(!plan.contains(op), s"$op left in the plan"))
  }

  test("plan shape: exchange on keys + sort feed the custom exec") {
    val cfg = Alerts.AlertConfig(1, 3600)
    val plan = AnchoredSession.aggregate(spark, matches, cfg)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AnchoredSession"))
    assert(plan.contains("Exchange hashpartitioning"))
    assert(plan.contains("Sort ["))
  }

  test("window boundary and threshold semantics survive the native path") {
    val m = Seq(
      ("r", "k", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("r", "k", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00")),
      ("r", "k", 3L, java.sql.Timestamp.valueOf("2024-01-01 00:31:00")),
      ("r", "z", 4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("rule_name", "dedupe", "match_id", "ts")
    val out = AnchoredSession.aggregate(spark, m,
      Alerts.AlertConfig(threshold = 2, windowSeconds = 1800))
      .orderBy("dedupe", "first_matched_at").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("match_count") == 2 && out(0).getAs[Boolean]("activated"))
    assert(out(0).getAs[java.sql.Timestamp]("created_at")
      == java.sql.Timestamp.valueOf("2024-01-01 00:05:00"))
    assert(out(1).getAs[Long]("match_count") == 1 && !out(1).getAs[Boolean]("activated"))
    assert(out(1).isNullAt(out(1).fieldIndex("created_at")))
    assert(out(2).getAs[String]("dedupe") == "z")
  }
}
