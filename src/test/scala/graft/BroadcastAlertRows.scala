package graft

import graft.operators.Detection
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The join form `Detection.matanoAlertRows` replaced, kept as the specs'
  * reference: rule metadata as a broadcast `LocalRelation`, inner-joined
  * on `rule_name`.
  */
object BroadcastAlertRows {
  def apply(alerts: DataFrame, rules: Seq[Detection.Rule], table: String): DataFrame = {
    val meta = rules.map(r => (r.name, r.severity, r.threshold, r.windowSeconds))
    val metaDf = alerts.sparkSession.createDataFrame(meta)
      .toDF("rule_name", "severity", "threshold", "deduplication_window")
    alerts.join(broadcast(metaDf), Seq("rule_name"))
      .select(
        col("last_matched_at").as("ts"),
        struct(
          lit(table).as("table"),
          struct(
            col("alert_id").as("id"),
            col("dedupe"),
            col("severity"),
            col("created_at").as("created"),
            col("first_matched_at"),
            col("activated"),
            struct(
              col("rule_name").as("name"),
              col("severity"),
              col("threshold"),
              col("deduplication_window")).as("rule")).as("alert")).as("matano"))
  }
}
