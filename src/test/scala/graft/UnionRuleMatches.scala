package graft

import graft.operators.Detection
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-rule form `Detection.ruleMatches` replaced, kept as the specs'
  * reference: one filtered scan per rule, unioned.
  */
object UnionRuleMatches {
  def apply(events: DataFrame, rules: Seq[Detection.Rule], matchId: Column,
      ts: Column = col("ts")): DataFrame =
    rules.map { r =>
      val selected = r match {
        case i: Detection.ImperativeRule => i.filterEvents(events)
        case _ => events.filter(r.detect)
      }
      selected.select(
        lit(r.name).as("rule_name"),
        r.dedupe.cast("string").as("dedupe"),
        matchId.cast("long").as("match_id"),
        ts.as("ts"),
        lit(r.severity).as("severity"),
        lit(r.threshold).as("threshold"),
        lit(r.windowSeconds).as("deduplication_window"))
    }.reduce(_.unionAll(_))
}
