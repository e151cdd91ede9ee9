package graft.ops

import org.apache.spark.sql.DataFrame

/** Size-gated join hints.
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
  * Callers pass the estimate from a PRE-checkpoint subtree
  * (`estimatedBytes`): a `localCheckpoint`ed frame's stats degrade to
  * `defaultSizeInBytes` (Long.Max), which would gate the hint off
  * unconditionally even on kilobyte inputs. Catalyst's propagated
  * file-relation stats are rough after explodes/aggregates, but they are
  * finite at test scale and grow with the input — exactly the behavior
  * wanted: hint on when the corpus is small, off at 100 TB where the
  * budget can't hold.
  */
object Hints {

  /** Catalyst's size estimate for a frame's optimized subtree. Call on
    * the frame BEFORE any localCheckpoint (see class doc). Planning-only:
    * triggers analysis + optimization, never a job.
    */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `buildBytes` fits the planner's local-hash-map budget:
    * autoBroadcastJoinThreshold per partition × shuffle partitions —
    * the same test Spark's JoinSelection uses for non-hinted SHJ
    * (`plan.stats.sizeInBytes < threshold * numShufflePartitions`,
    * strict `<` exactly as `canBuildLocalHashMap`).
    */
  def fitsLocalHashMap(df: DataFrame, buildBytes: BigInt): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val threshold = conf.autoBroadcastJoinThreshold
    threshold > 0 && buildBytes < BigInt(threshold) * conf.numShufflePartitions
  }

  /** `df.hint("SHUFFLE_HASH")` when `buildBytes` fits the budget, else
    * `df` unchanged (planner picks SMJ, which spills).
    */
  def shuffleHashIfFits(df: DataFrame, buildBytes: BigInt): DataFrame =
    if (fitsLocalHashMap(df, buildBytes)) df.hint("SHUFFLE_HASH") else df

  /** `broadcast(df)` when `buildBytes` fits the session's
    * autoBroadcastJoinThreshold — the driver must hold (and every
    * executor replicate) the whole frame, so an unconditional broadcast
    * of an unbounded input OOMs instead of degrading. Above the budget
    * the frame is returned unhinted and the planner falls back to a
    * shuffle join (which spills). Same caveat as [[shuffleHashIfFits]]:
    * pass the estimate from a PRE-checkpoint subtree.
    */
  def broadcastIfFits(df: DataFrame, buildBytes: BigInt): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && buildBytes < BigInt(threshold))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** The [[broadcastIfFits]] predicate alone — for callers that need a
    * different fallback than "unhinted" (e.g. the iterative loops fall
    * back to the size-gated SHUFFLE_HASH when the broadcast gate is off).
    */
  def fitsBroadcast(df: DataFrame, buildBytes: BigInt): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && buildBytes < BigInt(threshold)
  }
}
