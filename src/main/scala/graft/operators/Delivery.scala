package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Alert delivery interfaces — reference S16 (alert_writer SNS/FIFO CDC +
  * alert_forwarder Slack/SES renderers). The engine side is: per-batch
  * CDC payload construction (declarative) + a pluggable sink trait the
  * streaming query drives via foreachBatch. Network transports are out of
  * engine scope (as the reference's forwarders are separate processes);
  * renderers produce the payloads deterministically so they're testable.
  */
object Delivery {

  /** CDC payload per updated alert (the FIFO-per-alert-id message body):
    * JSON with the alert identity, counts, and activation state.
    */
  def cdcPayload(alerts: DataFrame): DataFrame =
    alerts.select(
      col("alert_id"),
      to_json(struct(
        col("alert_id"), col("rule_name"), col("dedupe"),
        col("match_count"), col("activated"),
        date_format(col("first_matched_at"), "yyyy-MM-dd'T'HH:mm:ssX").as("first_matched_at")
      )).as("payload"))

  /** Slack-style block text for an activated alert (forwarder renderer). */
  def slackText(alerts: DataFrame): DataFrame =
    alerts.filter(col("activated"))
      .select(col("alert_id"),
        concat(
          lit(":rotating_light: *"), col("rule_name"), lit("* ("), col("dedupe"),
          lit(") — "), col("match_count").cast("string"), lit(" matches since "),
          date_format(col("first_matched_at"), "yyyy-MM-dd HH:mm:ss")).as("text"))

  /** Pluggable sink: implementations push one micro-batch of payloads
    * (Slack webhook, SES, SNS...). Engine tests use a collecting sink.
    */
  trait AlertSink extends Serializable {
    def send(batch: Seq[(String, String)]): Unit
  }

  /** Drive a sink from a payload frame (foreachBatch body). Sends run
    * executor-side, one call per non-empty partition — an alert storm fans
    * out across tasks instead of choking the driver on a collect().
    */
  def deliver(payloads: DataFrame, sink: AlertSink): Unit =
    payloads.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val rows = it.map(r => (r.getString(0), r.getString(1))).toSeq
      if (rows.nonEmpty) sink.send(rows)
    }
}
