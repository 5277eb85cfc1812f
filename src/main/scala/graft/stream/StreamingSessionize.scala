package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the q51 batch sessionizer (SURVEY.md §2.9 S4/S5):
  * event-time session windows with a gap timeout, expressed through
  * Spark's NATIVE `session_window` aggregate rather than hand-rolled
  * `flatMapGroupsWithState` — preference (a) of the custom-operator
  * ladder: the built-in session state store already handles window
  * merging, watermark-driven finalization, and state eviction, and it
  * runs the same plan in batch and streaming.
  *
  * Semantics vs the batch q51 gap detector (lag + running counter):
  * identical session MEMBERSHIP for the same gap, with one schema
  * difference — `session_window.end` is `last event + gap` (the
  * half-open window bound), while q51 reports `max(ts)`. The parity
  * test maps one onto the other (`end − gap == max ts`) instead of
  * hiding the difference; callers picking between them should treat
  * `end − gap` as the last-activity time.
  *
  * Scale shape: state is one (user, open-window) row per live session
  * — active-user-sized, never event-sized; the watermark closes and
  * EVICTS sessions `delay` past their last activity, so state is
  * bounded by the churn window. In Append mode a session emits exactly
  * once, when the watermark passes `end` — the downstream-safe
  * contract (no retractions).
  */
object StreamingSessionize {

  /** Sessionize an event stream (`user_id`, `ts`) with the given gap.
    * Works unchanged on a batch DataFrame (the watermark is a no-op
    * there), which is what the parity spec exploits.
    */
  def sessions(events: DataFrame,
               watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
}
