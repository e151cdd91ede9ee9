package graft.streaming

import graft.sim.{IvfIndex, PqIndex}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** ONE front door for an LLM-ingest pipeline: each micro-batch of
  * (doc_id, text, embedding) rows is admitted through the persisted
  * dedup lineage store (near-duplicates → DLQ at ingest, the
  * [[DedupIngest]] posture), and the ADMITTED rows' embeddings grow the
  * raw-vector IVF store and the memory-scale IVF-PQ store — all under
  * the SAME batch id and the same checkpoint.
  *
  * Composition is the point: every store's `b<id>` unit is an
  * idempotent overwrite keyed by the one foreachBatch id, so a
  * checkpoint-restart replay rewrites the dedup postings, both routed
  * tables, AND both ANN posting subdirs together — the stores can never
  * disagree about which docs a batch admitted. A DLQ'd near-dup never
  * reaches either ANN store (its text stays in the dedup store so
  * future copies keep colliding; its vector is not index-worthy — the
  * representative's already is).
  *
  * Contract: build all three stores from the curated base snapshot
  * FIRST ([[DedupIndex.build]], [[IvfIndex.build]], [[PqIndex.build]]);
  * the stream admits against the frozen quantizers/lineage, and drift
  * is answered by the stores' own health/rebuild ops.
  */
object CurateIngest {

  def writer(docs: DataFrame, dedupDir: String, admittedDir: String,
             dlqDir: String, ivfDir: String, pqDir: String,
             n: Int = 3, threshold: Double = 0.10, maxDf: Long = 4096L,
             idCol: String = "doc_id", textCol: String = "text",
             vecCol: String = "embedding",
             dims: Int = 64, m: Int = 16,
             compactEvery: Int = 0,
             keepVersions: Int = 8,
             trackStats: Boolean = true,
             keepStats: Int = 64): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        Maintenance.withBlockCleanup(spark) {
          val b = batch.toDF().localCheckpoint(eager = true)
          // admit text through the lineage store (routes + stats — the
          // full DedupIngest surface); returns the admitted rows with
          // payload intact
          val admitted = DedupIngest.admitBatch(b, id, dedupDir,
            admittedDir, dlqDir, n, threshold, maxDf, idCol, textCol,
            compactEvery, keepVersions, trackStats, keepStats)
          // only ADMITTED vectors reach the ANN stores, same batch id
          val vecs = admitted
            .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
          IvfIndex.appendBatch(spark, ivfDir, vecs, id)
          PqIndex.appendBatch(spark, pqDir, vecs, id, dims, m)
        }
        ()
      }
}
