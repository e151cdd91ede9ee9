package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization — the stateful-streaming flagship:
  * one state entry per ACTIVE user (start, last, n), a session emits
  * exactly once, and state self-destructs, so memory is O(concurrently
  * active users) no matter how long the stream runs.
  *
  * A session closes two ways, both emitting the same row:
  *  - in-batch: a new event further than `gap` from the session's last
  *    event closes it immediately and opens the next;
  *  - by watermark: `flatMapGroupsWithState` with an EVENT-TIME timeout
  *    set to last + gap — when the watermark passes it, the group fires
  *    with `hasTimedOut` and the idle session flushes. (A session whose
  *    deadline is already behind the watermark flushes inline — Spark
  *    rejects timeout timestamps at or below the watermark.)
  *
  * Batch twin: `ev_sessionize` computes the same sessions with a lag()
  * window over the full history.
  * Kept: the streaming form of the `ev_sessionize` query (SURVEY §2.9);
  * SessionizeSpec drives it.
  */
object Sessionize {

  final case class SessionState(start: Long, last: Long, n: Long)

  /** `events` must carry (user_id LONG, ts TIMESTAMP) and a watermark on
    * `ts` (set upstream via `withWatermark` — lateness also bounds how
    * long a closed session lingers before the timeout flushes it).
    * Returns (user_id, start_ms, end_ms, n_events), append-mode.
    */
  def sessions(events: DataFrame, gapSec: Long): Dataset[(Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSec * 1000L
    events.select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) => {
          def closed(s: SessionState) = (user, s.start, s.last, s.n)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(closed(s))
          } else {
            // event-time order within the batch: the fold below is then
            // independent of file/partition arrival order
            val ts = rows.map(_._2.getTime).toArray.sorted
            var out = List.empty[(Long, Long, Long, Long)]
            var st = state.getOption
            ts.foreach { t =>
              st match {
                case Some(s) if t - s.last <= gapMs =>
                  st = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  out ::= closed(s)
                  st = Some(SessionState(t, t, 1))
                case None =>
                  st = Some(SessionState(t, t, 1))
              }
            }
            val cur = st.get
            val deadline = cur.last + gapMs
            if (deadline <= state.getCurrentWatermarkMs()) {
              out ::= closed(cur) // already expired — flush inline
              state.remove()
            } else {
              state.update(cur)
              state.setTimeoutTimestamp(deadline)
            }
            out.reverse.iterator
          }
        })
  }
}
