package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Size-gated join hints, and the one scan fan-out ([[spread]]).
  *
  * SHUFFLE_HASH has no graceful fallback: each partition's build side
  * must fit in executor memory (a shuffled hash join cannot spill its
  * hash map). The hint is worth taking only when the build side is
  * provably bounded — so every site routes through [[shuffleHashIfFits]],
  * which applies Spark's own `canBuildLocalHashMap` budget
  * (autoBroadcastJoinThreshold × shuffle partitions) to a caller-supplied
  * build-size estimate and otherwise leaves the frame unhinted, letting
  * the planner/AQE fall back to sort-merge (which spills).
  *
  * Callers pass the estimate (`estimatedBytes`). A `localCheckpoint`ed
  * frame, lazy or eager, keeps its origin's estimate (HintsSpec), so the
  * planner may also auto-broadcast a small checkpointed frame on its own.
  * Catalyst's propagated file-relation stats are rough after
  * explodes/aggregates, but they are finite at test scale and grow with
  * the input — exactly the behavior wanted: hint on when the corpus is
  * small, off at 100 TB where the budget can't hold.
  */
object Hints {

  /** Catalyst's size estimate for a frame's optimized subtree; a
    * checkpoint keeps it (see class doc). Planning-only: triggers
    * analysis + optimization, never a job.
    */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `df.hint("SHUFFLE_HASH")` when `buildBytes` fits the planner's
    * local-hash-map budget, else `df` unchanged (planner picks SMJ, which
    * spills). The budget is autoBroadcastJoinThreshold per partition ×
    * shuffle partitions, strict `<` — the test Spark's JoinSelection
    * applies to non-hinted SHJ (`canBuildLocalHashMap`).
    */
  def shuffleHashIfFits(df: DataFrame, buildBytes: BigInt): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    if (fits(df, buildBytes, conf.numShufflePartitions)) df.hint("SHUFFLE_HASH") else df
  }

  /** `broadcast(df)` when `buildBytes` fits the session's
    * autoBroadcastJoinThreshold — the driver must hold (and every
    * executor replicate) the whole frame, so an unconditional broadcast
    * of an unbounded input OOMs instead of degrading. Above the budget
    * the frame is returned unhinted and the planner falls back to a
    * shuffle join (which spills). For a frame whose row count is known,
    * use [[broadcastIfRowsFit]]; this byte form is for frames whose rows
    * hold text.
    */
  def broadcastIfFits(df: DataFrame, buildBytes: BigInt): DataFrame =
    if (fits(df, buildBytes)) broadcast(df) else df

  /** [[broadcastIfFits]] bounded by a row count: `rows` × [[rowBytes]]. */
  def broadcastIfRowsFit(df: DataFrame, rows: BigInt, arrayLen: Int = -1): DataFrame =
    if (fits(df, rows * rowBytes(df, arrayLen))) broadcast(df) else df

  /** The [[broadcastIfRowsFit]] predicate alone — for callers that need a
    * different fallback than "unhinted" (the iterative loops fall back to
    * the size-gated SHUFFLE_HASH when the broadcast gate is off).
    */
  def fitsBroadcast(df: DataFrame, rows: BigInt): Boolean = fits(df, rows * rowBytes(df))

  private def fits(df: DataFrame, buildBytes: BigInt, partitions: Int = 1): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && buildBytes < BigInt(threshold) * partitions
  }

  /** Bytes per row of `df`, counted as Spark's
    * `EstimationUtils.getSizePerRow` counts a relation without column
    * stats: 8 B of row header plus each column's `defaultSize` — the exact
    * `UnsafeRow` size for a row of longs and doubles. An array column
    * counts `arrayLen` elements, a length the caller measured. Strings,
    * binaries, maps, structs and unmeasured arrays are refused, so no
    * caller under-counts by accident.
    */
  def rowBytes(df: DataFrame, arrayLen: Int = -1): BigInt = {
    def width(t: DataType): BigInt = t match {
      case ArrayType(e, _) if arrayLen >= 0 => width(e) * arrayLen
      case _: ArrayType | _: StringType | BinaryType | _: MapType | _: StructType =>
        throw new IllegalArgumentException(s"no fixed width for $t in ${df.schema.simpleString}")
      case other => other.defaultSize
    }
    8 + df.schema.fields.map(f => width(f.dataType)).sum
  }

  /** Round-robin `df` across `defaultParallelism` when its scan cannot
    * fund that many tasks ([[shouldSpread]]) — for operators whose per-row
    * work dwarfs an exchange (shingling, signatures, per-row draws,
    * tokenizing): a test-scale table is one parquet file, one scan task.
    * Not applied at the shared table readers: a blanket fan-out cost
    * 0.5-5 s on scan-light and iterative queries, whose every downstream
    * stage then pays per-task overhead. `repartition(n)` is deterministic
    * under retries (sort-before-repartition, SPARK-23207).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes =
      try estimatedBytes(df)
      catch { case NonFatal(_) => BigInt(-1) }
    // file count: metadata-only, unlike df.rdd.getNumPartitions, which
    // converts the plan to an RDD outside Catalyst and defeats AQE reuse
    if (shouldSpread(df.inputFiles.length, target, bytes,
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes))
      df.repartition(target)
    else df
  }

  /** The [[spread]] gate. Spread only a frame that reads files (a frame
    * that reads none — a checkpoint, a local relation — is left alone),
    * whose file count cannot fund `target` tasks AND whose bytes cannot
    * either: a few-file 100 TB input already splits into ≥ `target` scan
    * partitions at `maxPartBytes`, and repartitioning it would shuffle
    * the corpus for nothing. Inputs under 100 KB, or whose size estimate
    * failed (`bytes` < 0), are too small to pay for the exchange.
    */
  private[graft] def shouldSpread(nFiles: Int, target: Int, bytes: BigInt,
                                  maxPartBytes: Long): Boolean =
    nFiles > 0 && nFiles < target && bytes >= 100000 &&
      bytes < BigInt(maxPartBytes) * target
}
