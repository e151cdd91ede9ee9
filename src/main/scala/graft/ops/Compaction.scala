package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planning — the OPTIMIZE step a 100 TB table
  * needs continuously: streaming ingest and per-partition writes leave
  * thousands of KB-grain files whose per-file open/footer cost dominates
  * scans. The planner assigns files to target-sized output groups; the
  * rewrite itself is then one job reading each group and writing one
  * file (`coalesce(1)` per group, or a repartition on the group id).
  *
  * Deterministic and engine-portable: files are packed in path order by
  * running byte total (`group = start-offset DIV target` — the
  * SequencePack spans trick without the explode, since files are never
  * split), so the same listing always yields the same plan. Everything
  * runs at FILE-METADATA grain — one row per file, partitioned by
  * directory, windows stay inside a directory; nothing touches data rows.
  */
object Compaction {

  /** Compaction plan over a (path, bytes) listing: every file keeps its
    * whole extent and lands in the group where its running-total offset
    * starts. Output: (dir, path, bytes, grp) — `grp` is per-directory.
    * Groups exceed `targetBytes` by at most one file's tail (first-fit
    * in path order, no bin search: plan cost is one window pass).
    */
  def plan(files: DataFrame, pathCol: String, bytesCol: String,
           targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = regexp_extract(col(pathCol), "^(.*)/[^/]+$", 1)
    val w = Window.partitionBy(col("dir")).orderBy(col("path"))
    files.select(dir.as("dir"), col(pathCol).as("path"),
        col(bytesCol).cast("long").as("bytes"))
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("grp", expr(s"(cum - bytes) DIV ${targetBytes}L"))
      .select(col("dir"), col("path"), col("bytes"), col("grp"))
  }

  /** Per-group rollup of a plan: how many files and bytes each rewrite
    * group carries (all groups except a directory's last hold ≥ the
    * target minus one file, by construction).
    * Kept: the rollup CompactionSpec checks the packing bound with.
    */
  def groupStats(planned: DataFrame): DataFrame =
    planned.groupBy(col("dir"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"))
}
