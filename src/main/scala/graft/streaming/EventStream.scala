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
  *    (tre_bagit_checksum_validation.py:159-163; limit 3).
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

  /** Watermarked tumbling-window counts in APPEND mode — the canonical
    * Structured Streaming aggregation: each (window, key) row is emitted
    * EXACTLY ONCE, when the event-time watermark passes the window end,
    * and its state is dropped at the same moment — so state is
    * O(open windows × keys) however long the stream runs. Rows later
    * than `lateness` are discarded by the watermark (count-completeness
    * is traded for bounded state, the streaming contract).
    * Kept: the streaming-window shape the event queries batch-compute;
    * no stream path aggregates yet, so only WindowedCountsSpec calls it.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDur: String, lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n"))

  /** Stream-static enrichment: broadcast-join a (small) static dimension
    * onto the stream. Stateless — no watermark, no streaming state — and
    * the broadcast keeps every micro-batch shuffle-free on the stream
    * side: the standard dimension-lookup pattern for event enrichment.
    *
    * NOTE a file-backed `dim` PINS its file listing when the DataFrame is
    * created — an overwrite underneath it fails the stream (Spark's
    * FAILED_READ_FILE), it does not refresh. For a dimension that updates
    * while the stream runs, re-read it per batch inside `foreachBatch`
    * and apply this same join to the batch DataFrame (works unchanged on
    * batch frames; StreamEnrichSpec drives both patterns).
    * Kept: the dimension-lookup pattern for event enrichment; no stream
    * path enriches yet, so only StreamEnrichSpec calls it.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

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

  /** Cross-batch retry tracking via mapGroupsWithState: counts attempts per
    * consignment reference across micro-batches and emits the current
    * decision (`retry` until `maxRetries` attempts seen, then `fail`).
    * The reference externalizes this state to S3 retry folders
    * (tre_editorial_integration.py:472-542); this is the streaming-native
    * alternative when the queue replays faster than storage round-trips.
    * Kept: the streaming-state alternative to the storage retry folders
    * `runWithRetries` uses; EventStreamSpec drives it.
    */
  def retryTracker(decodedStream: DataFrame, maxRetries: Int = 3,
                   stateTimeoutMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = decodedStream.sparkSession
    import spark.implicits._
    val keyed = decodedStream
      .select(
        get_json_object(
          element_at(col("event.parameters"), col("event.producer.event-name")),
          "$.reference").as("reference"),
        col("latest_uuid"))
      .as[(String, String)]
    // With a processing-time timeout, per-consignment state expires after
    // `stateTimeoutMs` without new attempts (emitting a final `expired`
    // row) instead of accumulating forever; None keeps the unbounded
    // behavior for bounded replays.
    val timeoutConf = stateTimeoutMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }
    keyed
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(
        (ref: String, batch: Iterator[(String, String)],
         state: org.apache.spark.sql.streaming.GroupState[Int]) => {
          if (state.hasTimedOut) {
            val attempts = state.getOption.getOrElse(0)
            state.remove()
            (ref, attempts, "expired")
          } else {
            val attempts = state.getOption.getOrElse(0) + batch.size
            state.update(attempts)
            stateTimeoutMs.foreach(state.setTimeoutDuration)
            (ref, attempts, if (attempts >= maxRetries) "fail" else "retry")
          }
        })
      .toDF("reference", "attempts", "decision")
  }

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
