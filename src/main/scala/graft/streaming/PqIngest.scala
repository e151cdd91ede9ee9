package graft.streaming

import graft.sim.PqIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest for the MEMORY-SCALE vector store: each micro-batch
  * of (vec_id, embedding) rows is encoded against the index's FROZEN
  * coarse table + codebooks and lands as an idempotent per-batch code
  * posting subdir plus its replay-paired cell-count delta
  * ([[PqIndex.appendBatch]]). The [[EmbIngest]] composition for the
  * IVF-PQ store — at 100 TB the m-byte code postings are the index a
  * retrieval corpus actually serves from, so the ingest path must keep
  * THAT store growing, not just the raw-vector one.
  *
  * Contract as [[EmbIngest]]: [[PqIndex.build]] from the base corpus
  * snapshot FIRST (the stream never retrains coarse centroids or
  * codebooks — quantization drift is a retrain, i.e. a fresh build);
  * the store stays queryable throughout ([[PqIndex.query]] reads
  * recursively). `compactEvery = K` folds accumulated batch subdirs
  * every K batches from INSIDE the sink — safe mid-stream because
  * [[graft.sim.IvfIndex.stageCompacted]] always preserves the
  * newest-numbered `b<N>` (the batch just written) as its own replay
  * unit.
  */
object PqIngest {

  def writer(emb: DataFrame, indexDir: String,
             dims: Int = 64, m: Int = 16,
             idCol: String = "vec_id", vecCol: String = "embedding",
             compactEvery: Int = 0,
             targetBytes: Long = 128L << 20,
             trackHealth: Boolean = true,
             healthEvery: Int = 1,
             keepHealth: Int = 8): DataStreamWriter[Row] =
    emb.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        Maintenance.withBlockCleanup(spark) {
          PqIndex.appendBatch(spark, indexDir, batch.toDF(), id, dims, m,
            idCol, vecCol)
          if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
            PqIndex.compact(spark, indexDir, targetBytes)
          // same per-batch drift signal as EmbIngest (cells-sidecar merge,
          // O(cells + deltas)); no rebuildOnDrift here — PQ codes are
          // lossy, a retrain is a fresh PqIndex.build from the corpus
          if (trackHealth && id % math.max(healthEvery, 1) == 0) {
            graft.sim.IvfIndex.health(spark, indexDir, cellCol = "ccid")
              .withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
              .write.mode("overwrite").parquet(s"$indexDir/health/b$id")
            Maintenance.pruneBatchDirs(spark, s"$indexDir/health", keepHealth)
          }
        }
        ()
      }
}
