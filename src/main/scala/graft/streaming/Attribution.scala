package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the attribution shape ("which views led
  * to this purchase?") as a canonical Structured Streaming join with
  * BOUNDED state: both sides carry an event-time watermark and the join
  * condition time-bounds the match window, so Spark can discard view
  * state older than (watermark + horizon) and purchase state older than
  * the watermark. Without both constraints a stream-stream join buffers
  * forever; with them, state is O(traffic × horizon) regardless of
  * stream lifetime — the property that keeps this runnable for months
  * over a 100 TB/day event feed.
  *
  * Emits one row per (view, purchase) touch with the view→purchase gap;
  * last-touch / multi-touch credit models are a downstream aggregation
  * over the emitted pairs.
  * Kept: the bounded-state stream-stream join (SURVEY §2.9); AttributionSpec
  * drives it.
  */
object Attribution {

  /** Join `views` (user_id, ts, id) to `purchases` (user_id, ts, id):
    * every view within `horizonSec` BEFORE the purchase. Both inputs may
    * be streaming frames; `delaySec` is the allowed event-time lateness.
    */
  def touchJoin(views: DataFrame, purchases: DataFrame,
                horizonSec: Long, delaySec: Long = 10L): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("id").as("view_id"))
      .withWatermark("v_ts", s"$delaySec seconds")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("id").as("purchase_id"))
      .withWatermark("p_ts", s"$delaySec seconds")
    v.join(p, expr(
      s"""v_user = p_user
         |AND p_ts >= v_ts
         |AND p_ts <= v_ts + INTERVAL $horizonSec SECONDS""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts"))).as("gap_s"))
  }
}
