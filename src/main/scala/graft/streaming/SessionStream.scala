package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of q28's batch sessionization: where the batch side
  * finds sessions after the fact with gaps-and-islands windows, the
  * stream assigns each event to a native `session_window` whose extent
  * grows while events keep arriving within a 30-minute gap, and emits the
  * finished session exactly once when the 2-minute watermark passes its
  * close (append mode) — the real-time feed of the same per-session rows.
  *
  * Scale posture: state is one open session per active (user, window)
  * key, merged incrementally by the SessionWindowStateStore — never a
  * buffer of raw events — and the watermark bounds its lifetime, so
  * state size tracks ACTIVE users, not history. The same shuffle key
  * (user_id) as the batch q28 plan.
  */
object SessionStream {

  private[graft] def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
}
