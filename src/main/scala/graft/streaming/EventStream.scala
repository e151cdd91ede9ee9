package graft.streaming

import graft.core.model.TreEvents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** S9 + §2.9: the streaming front-end. A file-drop directory stands in for
  * the SQS queue: each line is one TRE event's JSON, which `decoded`
  * parses directly (the reference first unwraps the SQS body and SNS
  * envelope, tre_forward.py:50-65; `TreEvents.parseSqsRecord` is that
  * decode). Micro-batches feed the same batch pipeline via foreachBatch.
  *
  * Streaming policies (reference behavior per SURVEY §2.9):
  *  - dedup: none in the stream, which keeps no state. Like the
  *    reference's one Lambda per message, every delivery reaches the
  *    handler, and a re-delivered consignment (same UUID or a new one for
  *    the same reference) is caught by the K1 seed guard
  *    (`RetryLoop.seedState`, SURVEY §2 "Duplicate delivery",
  *    object_lib.py:107-109): `runWithRetries` routes it `duplicate` and
  *    leaves its state as it is.
  *  - validation split: structurally invalid events → DLQ (error-channel
  *    table + DLQ alert, mirroring tre-dlq-slack-alerts).
  *  - retry: `number-of-retries` ≥ maxRetries → fail route
  *    (tre_bagit_checksum_validation.py:159-163; limit 3). The count
  *    itself lives in the storage retry folders (`RetryLoop.handleRetry`),
  *    as the reference keeps it, so no leg of the stream holds state: no
  *    watermark, event-time window or per-key group state (SURVEY §2.9).
  */
object EventStream {

  /** Read a file-drop queue of raw JSON event lines as a stream with one
    * `json` column (tre_sqs_sf_trigger.py:6-9 analogue). A real connector
    * (Kafka `value`, SQS poller) yielding the same column drops in here —
    * nothing downstream of `decoded` changes.
    */
  def readRaw(spark: SparkSession, dir: String,
              maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // ≤10 records/batch, like SQS→Lambda
      .text(dir)
      .withColumnRenamed("value", "json")

  /** Decode + validate: returns the decoded frame with `event`,
    * `event_errors`, `latest_uuid`, `ok` columns. A narrow projection, no
    * stream state: duplicates pass through to the K1 seed guard.
    */
  def decoded(raw: DataFrame): DataFrame =
    TreEvents.decode(raw, "json").withColumn("ok", size(col("event_errors")) === 0)

  /** Retry routing on the event's `number-of-retries` parameter. */
  def withRetryRoute(df: DataFrame, maxRetries: Int = 3): DataFrame = {
    val retries = coalesce(
      get_json_object(
        element_at(col("event.parameters"), col("event.producer.event-name")),
        "$.number-of-retries").cast("int"),
      lit(0))
    df.withColumn("retries", retries)
      .withColumn("route",
        when(!col("ok"), lit("dlq"))
          .when(col("retries") >= maxRetries, lit("fail"))
          .otherwise(lit("ok")))
  }

  /** Per-batch handler contract: (okEvents, dlqEvents, batchId). */
  type BatchHandler = (DataFrame, DataFrame, Long) => Unit

  /** Drive the stream through foreachBatch with an ok/DLQ split — the
    * Spark analogue of the Step Function dispatch (K5) + DLQ alert (K7).
    * Kept: the K5/K7 dispatch for a handler; the benchmark wires its own
    * `foreachBatch`, EventStreamSpec drives this one.
    */
  def writer(decodedStream: DataFrame, handler: BatchHandler): DataStreamWriter[Row] =
    withRetryRoute(decodedStream).writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val ok = batch.filter(col("route") =!= "dlq")
        val dlq = batch.filter(col("route") === "dlq")
        handler(ok.toDF(), dlq.toDF(), id)
      }
}
