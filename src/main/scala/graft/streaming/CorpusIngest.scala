package graft.streaming

import graft.text.TextAnalysis
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Streaming corpus ingest with dedup-at-ingest: every micro-batch of
  * documents is MinHash-LSH-matched against the standing corpus before
  * being admitted, so duplicates never enter the training set.
  *
  * State design for corpus scale: the standing corpus's signatures live
  * in an EXTERNAL store (parquet, one subdir per batch), not in operator
  * state — a 100 TB corpus's signature table outlives any executor, must
  * survive restarts, and is orders of magnitude past what the streaming
  * state store hosts per key. Each batch writes its survivors to
  * `store/b<batchId>` with overwrite, so a retried batch is idempotent
  * (same batch id → same subdir → same contents).
  *
  * Unbounded-run hygiene: one subdir per batch forever is the classic
  * small-file pathology (per-file open/footer cost dominates the standing
  * scan after a few thousand batches), so [[dedupBatch]] triggers
  * [[compactStore]] once the completed-subdir count reaches
  * `compactMinDirs`: Compaction.plan packs the subdirs into
  * target-sized groups and each group rewrites (id-deduped) into one
  * `c<batch>_<grp>` dir, inputs deleted only after every group commits.
  * Crash anywhere leaves duplicate signature ROWS at worst — harmless
  * for decisions (dup_of is a min over matches) and re-folded by the
  * next trigger; a retried batch skips compaction when its own c-dirs
  * already exist (they would be input and overwrite target at once).
  *
  * Match rule (first-occurrence-wins, same as Dedup.incrementalLsh): a
  * doc is a duplicate iff its estimated Jaccard (signature agreement
  * fraction) with ANY standing doc or smaller-id batch doc reaches the
  * threshold; `dup_of` reports the smallest matching id. Only
  * non-duplicates join the store.
  * Kept: SURVEY §2.11's streaming corpus ingest; no query or pipeline
  * ingests a stream of documents, CorpusIngestSpec drives it.
  */
object CorpusIngest {

  /** Fixed signature length (shared with the batch MinHash operators). */
  val K = 12

  private val storeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("n_sh", IntegerType)))

  /** (id, sig, n_sh) MinHash signatures of a document frame; empty-shingle
    * docs are dropped (nothing to match on).
    */
  def signatures(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        array_distinct(TextAnalysis.shingles(col(textCol), n)).as("shset"))
      .filter(size(col("shset")) > 0)
      .select(col("id"),
        graft.functions.oph_minhash_sig(col("shset"), K).as("sig"),
        size(col("shset")).as("n_sh"))

  /** Band keys from a signature (LSH bucketing; bands must divide K). */
  private def banded(sigs: DataFrame, bands: Int): DataFrame = {
    require(K % bands == 0, s"bands must divide $K")
    val r = K / bands
    sigs.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|",
          transform(slice(col("sig"), b * r + lit(1), lit(r)),
            x => x.cast("string"))))))
        .as("key"))
  }

  /** Standing signature store (union of every batch's survivors).
    * `excludeBatch` skips that batch's own subdir: a RETRIED batch must
    * not match its previous partial write (it would flag every one of
    * its own survivors as a duplicate of itself).
    */
  def readStore(spark: SparkSession, storeDir: String,
                excludeBatch: Option[Long] = None): DataFrame = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val skip = excludeBatch.map(b => s"b$b")
    val parts =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).filter(_.isDirectory)
        .filterNot(s => skip.contains(s.getPath.getName))
        .map(_.getPath.toString)
    if (parts.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storeSchema)
    } else spark.read.schema(storeSchema).parquet(parts.toIndexedSeq: _*)
  }

  /** Fold completed store subdirs into target-sized compacted dirs
    * (`c<currentBatch>_<grp>`). Triggers only at `minDirs` completed
    * subdirs; group assignment is Compaction.plan at SUBDIR grain (one
    * metadata row per subdir — groups pack to `targetBytes`, so rewrite
    * work tracks the small recent dirs, not the corpus). Re-entrant: a
    * retried batch whose own c-dirs already exist skips (its outputs
    * would be both fold input and overwrite target); leftover inputs
    * from a crash re-fold under the next trigger's fresh name, and
    * duplicate rows are collapsed per group by id.
    * Returns the number of subdirs folded.
    *
    * Crash-window audit (the store-swap lesson of
    * [[graft.core.io.StoreDir]] applied here):
    * there is NO delete-before-copy window — every c-dir group is fully
    * committed before any input subdir is removed, so a kill at any
    * point leaves the full id set readable (possibly with duplicate
    * rows, which change no decision: candidate pairs are `distinct()`
    * and `dup_of` is a min). A refused input delete fails the call.
    */
  def compactStore(spark: SparkSession, storeDir: String, currentBatch: Long,
                   minDirs: Int = 16, targetBytes: Long = 128L << 20): Int = {
    import spark.implicits._
    val p = new Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val subdirs = fs.listStatus(p).filter(_.isDirectory)
      .filterNot(_.getPath.getName == s"b$currentBatch")
    if (subdirs.exists(_.getPath.getName.startsWith(s"c${currentBatch}_"))) return 0
    if (subdirs.length < minDirs) return 0
    val sized = subdirs.toSeq.map(s =>
      (s.getPath.toString, fs.getContentSummary(s.getPath).getLength))
    // plan at subdir grain: one row per subdir (all share parent storeDir)
    // — a driver-side collect bounded by the dir count, never data rows
    val planned = graft.ops.Compaction
      .plan(sized.toDF("path", "bytes"), "path", "bytes", targetBytes)
      .select(col("grp"), col("path"), col("bytes")).collect()
    planned.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (g, rows) =>
      val nOut = math.max(1L,
        (rows.map(_.getLong(2)).sum + targetBytes - 1) / targetBytes).toInt
      spark.read.schema(storeSchema)
        .parquet(rows.map(_.getString(1)).toIndexedSeq: _*)
        .dropDuplicates("id")
        .coalesce(nOut)
        .write.mode("overwrite").parquet(s"$storeDir/c${currentBatch}_$g")
    }
    // inputs removed only after EVERY group committed — a crash before
    // this point leaves duplicates, never losses
    subdirs.foreach { s =>
      if (!fs.delete(s.getPath, true))
        throw new java.io.IOException(s"could not delete folded ${s.getPath}")
    }
    subdirs.length
  }

  /** Dedup one micro-batch against the store + itself, persist survivors'
    * signatures, and return per-doc decisions
    * (id, is_dup, dup_of — null when kept). `compactMinDirs > 0` (the
    * default) folds the store once that many completed subdirs exist —
    * see [[compactStore]]; 0 disables.
    */
  def dedupBatch(batch: DataFrame, storeDir: String, batchId: Long,
                 bands: Int, threshold: Double, n: Int = 3,
                 compactMinDirs: Int = 16,
                 compactTargetBytes: Long = 128L << 20): DataFrame = {
    val spark = batch.sparkSession
    val sigs = signatures(batch, n).localCheckpoint(eager = true)
    val bb = banded(sigs, bands)
    val sb = banded(readStore(spark, storeDir, excludeBatch = Some(batchId)), bands)
    // candidates share ≥1 band key; standing×batch plus batch×batch
    // (smaller id earlier). Estimated Jaccard = sig agreement fraction.
    val standingCand = sb.as("a").join(bb.as("b"), col("a.key") === col("b.key"))
      .select(col("a.id").as("i"), col("a.sig").as("sig_i"),
        col("b.id").as("j"), col("b.sig").as("sig_j"))
    val batchCand = bb.as("a").join(bb.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("a.sig").as("sig_i"),
        col("b.id").as("j"), col("b.sig").as("sig_j"))
    val dupOf = standingCand.unionByName(batchCand).distinct()
      .withColumn("est", expr(
        s"size(filter(zip_with(sig_i, sig_j, (x, y) -> x = y), z -> z)) / $K.0"))
      .filter(col("est") >= threshold)
      .groupBy(col("j").as("id")).agg(min(col("i")).as("dup_of"))
    val decisions = sigs.join(dupOf, Seq("id"), "left")
      .localCheckpoint(eager = true) // decide once: store write + return
    decisions.filter(col("dup_of").isNull)
      .select(col("id"), col("sig"), col("n_sh"))
      .write.mode("overwrite").parquet(s"$storeDir/b$batchId")
    // decisions are eagerly checkpointed above, so folding (and deleting)
    // store subdirs here cannot pull the rug from the returned frame
    if (compactMinDirs > 0)
      compactStore(spark, storeDir, batchId, compactMinDirs, compactTargetBytes)
    decisions.select(col("id"), col("dup_of").isNotNull.as("is_dup"),
      col("dup_of"))
  }

  /** foreachBatch writer: decisions land in `outDir/b<batchId>` (same
    * idempotent per-batch layout as the store).
    * Kept: the streaming front door of the corpus store; CorpusIngestSpec
    * drives it.
    */
  def writer(docs: DataFrame, storeDir: String, outDir: String,
             bands: Int = 4, threshold: Double = 0.8,
             compactMinDirs: Int = 16,
             compactTargetBytes: Long = 128L << 20): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        dedupBatch(batch.toDF(), storeDir, id, bands, threshold,
          compactMinDirs = compactMinDirs,
          compactTargetBytes = compactTargetBytes)
          .write.mode("overwrite").parquet(s"$outDir/b$id")
        ()
      }
}
