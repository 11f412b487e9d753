package graft

import graft.operators.{Alerts, Detection}
import graft.plans.AnchoredSession
import graft.plans.AnchoredSession.{AnchoredSessionAgg, AnchoredSessionExec}
import graft.queries.Alerting
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Native anchored-session operator: result parity with the typed fold it
  * replaced (`TypedAlertFold`), the null contract of `Alerts.aggregate`,
  * the expected physical shape (one shuffle, sorted input), per-rule
  * settings, and the `MergeAnchoredFolds` rewrite with its preconditions.
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

  test("per-rule settings: the fold equals Alerts.foldKey per key under that rule's config") {
    import Alerts.{AlertConfig, MatchRow}
    val rnd = new scala.util.Random(20261022L)
    val t0 = ts("2024-01-01 00:00:00").getTime
    val names = Seq("a", "b", "c", null)
    for (_ <- 1 to 6) {
      // windows and times on a one-minute grid, so matches tie with each
      // other and land exactly on a window's edge
      val perRule = Seq("a", "b", "c").map(r =>
        r -> AlertConfig(1 + rnd.nextInt(4), 60L * (1 + rnd.nextInt(5)))).toMap
      val default = AlertConfig(1 + rnd.nextInt(4), 60L * (1 + rnd.nextInt(5)))
      val named = perRule - names(rnd.nextInt(3)) // one rule folds under the default
      val in = (1 to 300).map { i =>
        MatchRow(names(rnd.nextInt(names.size)),
          if (rnd.nextInt(4) == 0) null else s"k${rnd.nextInt(3)}", i.toLong,
          new java.sql.Timestamp(t0 + 60000L * rnd.nextInt(40)))
      }
      val got = Alerts.aggregate(spark, in.toDF(), default, named).collect()
      val expected = in.groupBy(m => (m.rule_name, m.dedupe)).toSeq.flatMap { case ((r, d), ms) =>
        Alerts.foldKey(r, d, ms.sortBy(m => Alerts.tsToUs(m.ts)),
          Option(r).flatMap(named.get).getOrElse(default))
      }
      assert(got.length == expected.size)
      assert(got.toSet == expected.toSet)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** A three-setting pack over the sf events: the filters take the
    * optimizer's `=`, `IN` and `InSet` (over ten names) forms.
    */
  private val pack: Seq[(Alerts.AlertConfig, Seq[String])] = Seq(
    Alerts.AlertConfig(2, 1800) -> Seq("error_burst"),
    Alerts.AlertConfig(1, 3600) -> Seq("big_purchase", "signup"),
    Alerts.AlertConfig(3, 600) -> ("view_run" +: (1 to 10).map(i => s"absent_$i")))

  private def packMatches(events: DataFrame) = Detection.ruleMatches(events, Seq(
    Detection.SimpleRule("error_burst", col("event_type") === "error", col("user_id")),
    Detection.SimpleRule("big_purchase",
      col("event_type") === "purchase" && col("value") > 190.0, col("user_id")),
    Detection.SimpleRule("signup", col("event_type") === "signup", col("user_id")),
    Detection.SimpleRule("view_run", col("event_type") === "view", col("user_id"))),
    matchId = col("event_id"))

  /** One `Alerts.aggregate` per setting over `m` filtered to its rules. */
  private def perSetting(m: DataFrame, settings: Seq[(Alerts.AlertConfig, Seq[String])]) =
    settings.map { case (cfg, rs) =>
      Alerts.aggregate(spark, m.filter(col("rule_name").isin(rs: _*)), cfg).toDF()
    }

  private def folds(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: AnchoredSessionAgg => a }.size

  test("MergeAnchoredFolds: a union of per-setting folds over one match frame is one scan, one shuffle, one fold") {
    val m = packMatches(Tables.load(spark, sf, "events"))
    val parts = perSetting(m, pack)
    val union = parts.reduce(_.unionByName(_))
    val got = union.collect()
    val plan = union.queryExecution.executedPlan
    assert(Plans.collect(plan) { case s: FileSourceScanExec => s }.size == 1)
    assert(Plans.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1)
    assert(Plans.collect(plan) { case a: AnchoredSessionExec => a }.size == 1)
    assert(folds(union) == 1)
    val oneAtATime = parts.flatMap(_.collect())
    assert(pack.forall { case (_, rs) => oneAtATime.exists(r => rs.contains(r.getString(0))) })
    assert(got.length == oneAtATime.length)
    assert(got.toSet == oneAtATime.toSet)
  }

  test("MergeAnchoredFolds leaves overlapping sets, non-literal predicates, other inputs and other dedupes unmerged") {
    val events = Tables.load(spark, sf, "events")
    val m = packMatches(events)
    val cfg = Alerts.AlertConfig(2, 1800)
    def check(parts: Seq[DataFrame]): Unit = {
      val union = parts.reduce(_.unionByName(_))
      assert(folds(union) == parts.size, union.queryExecution.optimizedPlan.treeString)
      val expected = parts.flatMap(_.collect())
      assert(expected.nonEmpty)
      assert(union.collect().sortBy(_.toString).toSeq == expected.sortBy(_.toString))
    }
    // overlapping rule sets
    check(perSetting(m, Seq(cfg -> Seq("error_burst", "signup"),
      Alerts.AlertConfig(1, 3600) -> Seq("signup", "view_run"))))
    // a rule predicate that is no literal set
    check(Seq(
      Alerts.aggregate(spark, m.filter(col("rule_name") === "error_burst"), cfg).toDF(),
      Alerts.aggregate(spark, m.filter(col("rule_name").startsWith("sign")),
        Alerts.AlertConfig(1, 3600)).toDF()))
    // different inputs
    check(Seq(
      Alerts.aggregate(spark, m.filter(col("rule_name") === "error_burst"), cfg).toDF(),
      Alerts.aggregate(spark, packMatches(events.filter(col("value") > 100.0))
        .filter(col("rule_name") === "signup"), Alerts.AlertConfig(1, 3600)).toDF()))
    // different dedupe expressions
    check(Seq(
      AnchoredSession.fold(spark, m.filter(col("rule_name") === "error_burst"),
        col("rule_name"), col("dedupe"), cfg),
      AnchoredSession.fold(spark, m.filter(col("rule_name") === "signup"),
        col("rule_name"), concat(col("dedupe"), lit("/")), Alerts.AlertConfig(1, 3600))))
  }
}
