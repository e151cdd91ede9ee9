package graft.core.io

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL corpus ingest with a dead-letter channel — the standard shape
  * for web-scale dumps where some fraction of lines is always truncated
  * or malformed and a failed line must not poison the run (same
  * bad-rows-routed-not-thrown policy as the streaming DLQ in
  * graft.streaming.EventStream; reference analogue: the per-message
  * error channel of tre_vb_validate_bagit).
  *
  * Deliberately a TEXT scan + `from_json`, not `spark.read.json`: the
  * raw-file JSON scan disallows queries whose referenced columns are
  * only the internal corrupt-record column (the parser prunes the data
  * away), so a DLQ-only leg would throw at execution. Parsing per line
  * with `from_json` keeps the verbatim line alongside the parse result —
  * each leg is a scan-local narrow projection (no exchange in either
  * plan), and the DLQ keeps the EXACT input bytes for repair/audit.
  */
object Jsonl {

  private val corruptCol = "_graft_corrupt"

  /** (value, j) — raw line + parse attempt; the shared intermediate both
    * legs project from. Callers that run both legs over one physical
    * pass (the streaming sink) persist THIS frame.
    */
  private def parse(lines: DataFrame, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol), s"$corruptCol is reserved")
    val withCorrupt = StructType(schema.fields :+
      StructField(corruptCol, StringType, nullable = true))
    lines.select(col("value"), from_json(col("value"), withCorrupt,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)).as("j"))
  }

  /** Route a `value: string` frame of raw JSONL lines into (good, dlq).
    * A line is good ONLY if it is a well-formed JSON object: malformed
    * lines populate the corrupt column, while blank / whitespace-only /
    * literal-`null` lines make `from_json` return a NULL STRUCT with the
    * corrupt column never set — both shapes go to the DLQ (real JSONL
    * dumps contain blank lines; silently emitting an all-null row for
    * one would lose the verbatim line from the audit channel).
    */
  def split(lines: DataFrame, schema: StructType): (DataFrame, DataFrame) =
    splitParsed(parse(lines, schema), schema)

  private def splitParsed(parsed: DataFrame,
                          schema: StructType): (DataFrame, DataFrame) = {
    val good = parsed
      .filter(col("j").isNotNull && col(s"j.$corruptCol").isNull)
      .select(schema.fieldNames.map(f => col(s"j.$f").as(f)).toIndexedSeq: _*)
    val dlq = parsed
      .filter(col("j").isNull || col(s"j.$corruptCol").isNotNull)
      .select(col("value").as("raw_line"))
    (good, dlq)
  }

  /** (good, dlq): good = rows parsed to `schema` (a row is good only if
    * the line is well-formed JSON matching the field types); dlq =
    * (raw_line) verbatim — including blank and literal-`null` lines.
    */
  def readWithDlq(spark: SparkSession, path: String,
                  schema: StructType): (DataFrame, DataFrame) =
    split(spark.read.text(path), schema)

  /** Streaming JSONL ingest with the same dead-letter routing: watch
    * `path` for new files, parse each micro-batch with [[split]], write
    * good rows to `goodDir` (parquet) and bad lines byte-verbatim to
    * `dlqDir` (text). Within foreachBatch the parsed frame is persisted
    * so both legs fold into ONE physical pass over the batch's files,
    * and each leg lands in a `batch_id=<n>`-named subdirectory written
    * with OVERWRITE — a replayed micro-batch (crash between a leg's
    * commit and the checkpoint commit) rewrites the same directories
    * with the same content instead of appending duplicates, making the
    * sink effectively exactly-once. Downstream readers see `batch_id`
    * as a discovered partition column (provenance for free). No stream
    * state, so a 100 TB backlog drains at scan throughput.
    * Kept: the streaming form of the JSONL corpus intake (SURVEY §2.11);
    * JsonlSpec drives it.
    */
  def streamWithDlq(spark: SparkSession, path: String, schema: StructType,
                    goodDir: String, dlqDir: String,
                    checkpointDir: String): StreamingQuery =
    spark.readStream.text(path).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val parsed = parse(batch.toDF(), schema)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (good, dlq) = splitParsed(parsed, schema)
          good.write.mode("overwrite").parquet(s"$goodDir/batch_id=$batchId")
          dlq.write.mode("overwrite").text(s"$dlqDir/batch_id=$batchId")
        } finally { parsed.unpersist(); () }
      }
      .start()
}
