package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers (SURVEY §4 partitioning): persisting both sides
  * of a recurring fact-fact join bucketed by the join key lets Spark plan
  * a sort-merge join with NO shuffle exchange — at 100 TB the dominant
  * cost of repeated joins is the repartition, and bucketing pays it once
  * at write time.
  * Kept: SURVEY §4 shuffle-free repeated joins; no query joins bucketed
  * tables, BucketingSpec pins the plan.
  */
object Bucketing {

  /** Persist `df` as a bucketed (and sorted) table in the session catalog. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", s"${df.sparkSession.conf.get("spark.sql.warehouse.dir")}/$table")
      .saveAsTable(table)

  /** True iff the executed plan of `df` contains a shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Join two same-bucketed tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))
}
