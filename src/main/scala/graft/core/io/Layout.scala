package graft.core.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical table layout for the lake side of the engine: Hive-style
  * partitioned writes and pruned reads. At 100 TB the partition columns
  * ARE the primary index — a reader filtering on them must never touch
  * (or even list) the other partitions' files, which is exactly what
  * Spark's `PartitioningAwareFileIndex` gives a `partitionBy` layout.
  * LayoutSpec pins the contract: the filter lands in `PartitionFilters`
  * (not a post-scan `Filter`) and the scan's input files stay confined
  * to matching directories. Complements `ops.ZOrder`, which orders rows
  * WITHIN files for range-skipping on non-partition columns.
  * Kept: SURVEY §4 partition layout at scale; no query writes a partitioned
  * table, LayoutSpec pins the pruning.
  */
object Layout {

  /** Write `df` as a Hive-partitioned parquet table. `maxRecordsPerFile`
    * caps file size (the small-files/giant-files balance a 1000-executor
    * write needs tuned explicitly).
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
                       maxRecordsPerFile: Long = 0L): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Read a partitioned table; filters on partition columns prune at
    * planning time via the file index.
    */
  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
