package graft

import graft.operators.Alerts
import graft.operators.Alerts.{AlertConfig, AlertRow, MatchRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The typed form `Alerts.aggregate` replaced, kept as the specs'
  * reference: `groupByKey` on (rule_name, dedupe), each group buffered,
  * sorted by time and folded by `Alerts.foldKey`. A match with a null `ts`
  * makes it throw.
  */
object TypedAlertFold {
  def apply(spark: SparkSession, matches: DataFrame, cfg: AlertConfig): Dataset[AlertRow] = {
    import spark.implicits._
    matches.select(col("rule_name"), col("dedupe"), col("match_id"), col("ts"))
      .as[MatchRow]
      .groupByKey(m => (m.rule_name, m.dedupe))
      .flatMapGroups { (key: (String, String), it: Iterator[MatchRow]) =>
        Alerts.foldKey(key._1, key._2, it.toSeq.sortBy(m => Alerts.tsToUs(m.ts)), cfg).iterator
      }
  }
}
