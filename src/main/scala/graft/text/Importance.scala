package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al., "Data Selection for Language
  * Models via Importance Resampling"): score each document by the
  * log-likelihood ratio of a TARGET token distribution vs the RAW corpus
  * distribution over hashed features, then keep the highest-ratio slice.
  *
  * Everything is exact integer arithmetic so the score is
  * engine/partitioning-invariant: log2 is computed from the bit length
  * of a Laplace-smoothed fixed-point ratio plus a linear-mantissa
  * refinement in 1/65536 units — no libm call anywhere, so Spark and
  * the DuckDB oracle produce identical BIGINTs.
  *
  * Scale shape: two map-combined token aggregations build the 256-entry
  * feature table (one corpus pass), the table rides a broadcast, and
  * scoring is one per-doc sum — the corpus shuffles only at the doc-id
  * grain. The 100 TB cost is exactly two scans.
  */
object Importance {

  /** Hashed feature bucket: first 2 hex chars of md5(token) → 0..255. */
  private def bucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 2), 16, 10).cast("int")

  /** Exact fixed-point floor-ish log2 in 1/65536 units of
    * q = max(((ct+1)·2^20) DIV (cr+1), 1), minus the 2^20 scaling:
    * with l = bitlen(q)−1, lam = l·65536 + (q·65536 DIV 2^l) − 65536
    * − 20·65536. The mantissa term linearly interpolates between
    * integer log2 steps — a deterministic, monotone log2 surrogate.
    */
  private val lamExpr =
    "CAST((length(bin(q)) - 1) * 65536" +
      " + (q * 65536) DIV (shiftleft(CAST(1 AS BIGINT), length(bin(q)) - 1))" +
      " - 65536 - 1310720 AS BIGINT)"

  /** Per-bucket importance table: token counts under the target slice
    * (`isTarget`) and the whole corpus, Laplace +1 smoothing, and the
    * fixed-point log ratio `lam`. 256 rows — broadcast material.
    */
  def logRatioTable(docs: DataFrame, isTarget: Column,
                    textCol: String = "text"): DataFrame =
    // r14 (§2.2): tokenize + md5-per-token is row-dominated and a
    // single-file scan pins it to one core — spread (the shared Dedup
    // convention; no-op at production split counts)
    graft.ops.Hints.spread(docs).select(isTarget.as("tgt"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("tgt"), bucket(col("tok")).as("f"))
      .groupBy(col("f"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .withColumn("q",
        greatest(expr("((ct + 1) * 1048576) DIV (cr + 1)"), lit(1L)))
      .withColumn("lam", expr(lamExpr))

  /** Per-document importance weight: Σ over tokens (WITH multiplicity —
    * DSIR scores the token stream, not the type set) of the bucket's
    * log ratio. Inner broadcast join — every corpus token's bucket is in
    * the table by construction.
    */
  def docWeights(docs: DataFrame, table: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    // same row-dominated spread as logRatioTable
    graft.ops.Hints.spread(docs).select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), bucket(col("tok")).as("f"))
      .join(broadcast(table.select(col("f"), col("lam"))), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lam")).as("w"))
}
