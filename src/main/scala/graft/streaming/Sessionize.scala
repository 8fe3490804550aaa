package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sessionization over the event stream: gap-based sessions via the
  * built-in `session_window`, identical semantics in batch and
  * streaming.
  */
object Sessionize {

  /** Gap-based sessions, declarative: works unchanged on batch and
    * streaming DataFrames. A new session starts when the inter-event gap
    * is >= `gap`; session end = last event + gap.
    */
  def sessionWindows(events: DataFrame, tsCol: String, keyCol: String,
                     gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming variant: watermarked so state for closed sessions is
    * dropped; append mode emits a session only once it can no longer
    * grow.
    */
  def streamingSessions(events: DataFrame, tsCol: String, keyCol: String,
                        gap: String = "30 minutes",
                        watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))
}
