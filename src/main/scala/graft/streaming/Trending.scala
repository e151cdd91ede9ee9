package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming trend/spike detection with exponentially-decayed per-key
  * counters — the "what's surging right now" primitive (hot topics,
  * abusive senders, crawler hot-spots) over an unbounded stream, without
  * the unbounded state of per-window exact counts.
  *
  * State per key is two longs: (last event-time interval index,
  * decayed count ×1024). Decay is a POWER-OF-TWO halving per elapsed
  * interval — implemented as an integer shift, so the counter is
  * deterministic (no float exp()) and the state merge replays exactly
  * on restart. A key is "spiking" when its decayed rate exceeds
  * `spikeX100`/100 × the rate carried before the batch.
  *
  * Scale shape: state is O(distinct keys), bounded further by the
  * processing-time timeout (idle keys expire and emit a final row —
  * the same pattern EventStream.retryTracker uses). Events inside a
  * batch are folded in event-time order per key, so replayed batches
  * fold identically.
  * Kept: the streaming trend leg (SURVEY §2.11); TrendingSpec and
  * RocksDbStateSpec drive it.
  */
object Trending {

  /** (key, intervalIdx, decayed_x1024, status) rows; status ∈
    * {active, spike, expired}.
    * Kept: the streaming trend leg (SURVEY §2.11); TrendingSpec and
    * RocksDbStateSpec drive it.
    */
  def decayedCounts(events: DataFrame, keyCol: String, tsNsCol: String,
                    intervalNs: Long, spikeX100: Long,
                    stateTimeoutMs: Option[Long] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .selectExpr(s"CAST($keyCol AS STRING) AS k",
        s"CAST($tsNsCol AS BIGINT) DIV $intervalNs AS iv")
      .as[(String, Long)]
    val timeoutConf = stateTimeoutMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }
    keyed
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(
        (key: String, batch: Iterator[(String, Long)],
         state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            val (iv, c) = state.getOption.getOrElse((0L, 0L))
            state.remove()
            (key, iv, c, "expired")
          } else {
            val before = state.getOption.getOrElse((Long.MinValue, 0L))
            // fold events oldest-first so batch composition can't reorder
            val (iv, c) = batch.map(_._2).toSeq.sorted
              .foldLeft(before) { case ((lastIv, cnt), evIv) =>
                val decayed =
                  if (lastIv == Long.MinValue || evIv <= lastIv) cnt
                  else if (evIv - lastIv >= 63) 0L
                  else cnt >> (evIv - lastIv)
                (math.max(lastIv, evIv), decayed + 1024L)
              }
            state.update((iv, c))
            stateTimeoutMs.foreach(state.setTimeoutDuration)
            val spiking = before._1 != Long.MinValue && before._2 > 0 &&
              c * 100L > spikeX100 * before._2
            (key, iv, c, if (spiking) "spike" else "active")
          }
        })
      .toDF("key", "interval", "decayed_x1024", "status")
  }
}
