package graft.streaming

import graft.sources.{CdxEntry, Warc}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous crawl ingest: WARC files (plus their `.warc.cdx` sidecars)
  * land in a directory; each micro-batch picks up the NEW sidecars,
  * range-reads exactly the indexed members, quality-gates the payloads,
  * and admits survivors through [[CorpusIngest]]'s dedup-at-ingest store.
  *
  * Why the stream watches the CDX and not the archives: the file source
  * tracks whole new files, and the sidecar is the (tiny) unit that means
  * "this archive is complete and indexed" — the crawler's commit record.
  * The archive bytes are then read ONCE, by ranged member fetches on the
  * executors, never buffered in stream state. Per batch the work is: one
  * text read of the new sidecars, Σ member-lengths of archive bytes, one
  * LSH band join against the signature store — all independent of corpus
  * size except the store join, which is the incremental-LSH shape
  * (standing×batch only).
  *
  * Doc identity: `xxhash64(uri)` — deterministic, crawl-order-free, and
  * collision odds ~2⁻⁶⁴ per pair; the dedup store's
  * first-occurrence-wins tie then resolves by hash order rather than
  * arrival order (documented, deterministic across replays).
  * Kept: SURVEY §2.11's crawl-landing ingest leg; WarcIngestSpec drives it.
  */
object WarcIngest {

  /** Streaming frame of CDX entries from the dir's `.warc.cdx` sidecars
    * as they land (schema = [[CdxEntry]]).
    */
  def cdxStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(s"$dir/*.warc.cdx")
      .select(col("value"), input_file_name().as("sidecar"))
      .select(split(col("value"), " ", 5).as("f"),
        regexp_replace(element_at(split(col("sidecar"), "/"), -1),
          "\\.cdx$", ".gz").as("warc_file"))
      .select(col("warc_file"),
        col("f").getItem(1).cast("long").as("offset"),
        col("f").getItem(2).cast("long").as("length"),
        col("f").getItem(0).as("uri"),
        col("f").getItem(3).cast("long").as("payload_len"),
        col("f").getItem(4).as("payload_sha256"))

  /** One micro-batch: ranged-fetch the batch's members, gate, dedup,
    * persist. Returns (admitted, rejected, dup) counts for observability.
    */
  def ingestBatch(entries: Dataset[CdxEntry], warcDir: String,
                  storeDir: String, corpusDir: String, batchId: Long,
                  minChars: Int, bands: Int, threshold: Double): (Long, Long, Long) = {
    val docs = Warc.fetchByCdx(warcDir, entries).toDF()
      .select(col("uri"), expr("CAST(payload AS STRING)").as("text"))
      .withColumn("doc_id", xxhash64(col("uri")))
      // decide once: the gate split and the dedup read the same fetch
      .localCheckpoint(eager = true)
    val gated = docs.withColumn("ok", length(col("text")) >= minChars)
    val rejected = gated.filter(!col("ok"))
    val clean = gated.filter(col("ok")).select(col("doc_id"), col("uri"), col("text"))
    val decisions = CorpusIngest.dedupBatch(
        clean.select(col("doc_id"), col("text")), storeDir, batchId,
        bands, threshold)
      .localCheckpoint(eager = true)
    // survivors' full rows land in the corpus (idempotent per-batch dir)
    val admitted = clean.join(
        decisions.filter(!col("is_dup")).select(col("id").as("doc_id")), Seq("doc_id"))
    admitted.write.mode("overwrite").parquet(s"$corpusDir/b$batchId")
    (admitted.count(), rejected.count(),
      decisions.filter(col("is_dup")).count())
  }

  /** foreachBatch writer over [[cdxStream]]. */
  def writer(cdx: DataFrame, warcDir: String, storeDir: String,
             corpusDir: String, minChars: Int = 10, bands: Int = 4,
             threshold: Double = 0.8): DataStreamWriter[Row] = {
    cdx.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        ingestBatch(batch.as[CdxEntry], warcDir, storeDir, corpusDir, id,
          minChars, bands, threshold)
        ()
      }
  }
}
