package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K6: Slack state-machine status message formatting
  * (tre_slack_alerts.py:8-49): severity icon + environment + execution
  * detail lines. Pure column logic so alerts batch through the engine.
  * Kept: the reference's Slack alert Lambdas; no pipeline path posts
  * alerts, so only StorageSpec calls it.
  */
object SlackAlerts {

  def statusIcon(status: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(status === "SUCCEEDED", lit(":white_check_mark:"))
      .when(status.isin("RUNNING", "retry"), lit(":warning:"))
      .otherwise(lit(":x:"))

  /** One formatted alert line per row: `<icon> env `name`: status`. */
  def format(df: DataFrame, env: String): DataFrame =
    df.withColumn("alert",
      concat(statusIcon(col("status")), lit(s" $env `"), col("name"),
        lit("`: "), col("status"),
        when(col("detail").isNotNull, concat(lit(" — "), col("detail")))
          .otherwise(lit(""))))

  /** K7: DLQ alert decode — source queue + topic from the record ARNs
    * (tre_dlq_slack_alerts.py:11-37: resource = arn.split(':')[5]).
    * Kept: the reference's DLQ alert Lambda (see above).
    */
  def dlqAlert(df: DataFrame, env: String): DataFrame =
    df.withColumn("queue", split(col("event_source_arn"), ":").getItem(5))
      .withColumn("topic", split(col("topic_arn"), ":").getItem(5))
      .withColumn("alert",
        concat(lit(s":x: $env DLQ `"), col("queue"), lit("` received from `"),
          col("topic"), lit("`")))
}
