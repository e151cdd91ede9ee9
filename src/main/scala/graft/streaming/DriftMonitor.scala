package graft.streaming

import graft.ops.Drift
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous distribution-drift monitoring: every micro-batch is
  * profiled against a static REFERENCE distribution (the training-time
  * snapshot) and the summary drift statistics are appended to a store —
  * the "alert when serving data walks away from training data" loop, as
  * a streaming leg over the same `Drift` operator the batch queries use.
  *
  * Scale shape per batch: the reference is re-used as a static frame
  * (broadcast-sized histograms; the profile aggregates are map-combined
  * at the bucket grain), the batch contributes one pass; the appended
  * row is ONE summary row per batch. State lives in the sink, not the
  * stream — restarts replay idempotently from the checkpoint.
  * Kept: SURVEY §2.11's streaming drift monitor; DriftMonitorSpec drives it.
  */
object DriftMonitor {

  /** Start the monitor: per micro-batch, PSI + chi-squared of
    * `valueCol` (stream) vs `refCol` (reference) on the shared
    * [0, nBuckets)·width spine, appended to `outDir` as
    * (batch_id, n_batch, n_ref, psi, chi2).
    */
  def monitor(stream: DataFrame, valueCol: String,
              reference: DataFrame, refCol: String,
              width: Int, nBuckets: Int,
              outDir: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val combined = batch.select(col(valueCol).as("v"))
          .withColumn("in_a", lit(true))
          .unionByName(reference.select(col(refCol).as("v"))
            .withColumn("in_a", lit(false)))
        Drift.psiProfile(combined, col("v"), col("in_a"), width, nBuckets)
          .filter(col("bucket") === -1)
          .select(lit(id).as("batch_id"),
            col("n_a").as("n_batch"), col("n_b").as("n_ref"),
            col("psi_term").as("psi"), col("chi2_term").as("chi2"))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
}
