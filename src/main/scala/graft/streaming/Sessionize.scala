package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization over the event stream: gap-based sessions via the
  * built-in `session_window` (identical semantics in batch and
  * streaming), plus a custom-state `flatMapGroupsWithState`
  * implementation for session logic the declarative window can't express
  * (per-session derived state, early emission, custom merge rules).
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

  // ---- custom-state path ----

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastMicros: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, sum_value: Double)

  /** flatMapGroupsWithState sessionizer: one state object per user, closed
    * sessions emitted on gap break or event-time timeout. The imperative
    * twin of [[sessionWindows]] for when per-session state must carry
    * custom structure.
    *
    * Timeouts are event-time, not processing-time: the session closes
    * once the watermark passes last-event + gap, which (a) emits the
    * final session per key and expires its state — unbounded state growth
    * otherwise — and (b) is deterministic under replay. (Processing-time
    * timeouts also make `shouldRunAnotherBatch` true on every batch,
    * which livelocks drain-style consumers like processAllAvailable.)
    */
  def statefulSessions(events: Dataset[SessionEvent],
                       gapMinutes: Long = 30,
                       watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val fold = new GapFold(gapMinutes)
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last-event + gap: close and emit the open
            // session, drop its state
            val s = state.get
            state.remove()
            Iterator.single(fold.close(user, s))
          } else {
            val (out, cur) = fold.step(user, rows, state.getOption.orNull)
            if (cur != null) {
              state.update(cur)
              // close time must sit past the current watermark or Spark
              // rejects it; late stragglers can only push it forward
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1, fold.closeMs(cur)))
            }
            out
          }
      }
  }

  /** The gap rule of [[statefulSessions]]: a session absorbs an
    * event less than `gapMinutes` after its last one and closes at
    * last event + gap. Timestamps fold at microsecond precision.
    */
  private final class GapFold(gapMinutes: Long) extends Serializable {
    private val gapMicros = gapMinutes * 60L * 1000000L

    private def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    private def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    /** Event-time millisecond at which `s` can no longer grow. */
    def closeMs(s: SessionState): Long = (s.lastMicros + gapMicros) / 1000L

    def close(user: Long, s: SessionState): SessionOut =
      SessionOut(user, toTs(s.start), toTs(s.lastMicros + gapMicros), s.n, s.sum)

    /** Fold one key's new rows, in event-time order, into its open
      * session (`open`, null when none): returns the sessions a gap
      * break closed and the session left open (null only when there
      * was neither an open session nor a row).
      */
    def step(user: Long, rows: Iterator[SessionEvent],
             open: SessionState): (Iterator[SessionOut], SessionState) = {
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var cur = open
      rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
        val m = micros(e.ts)
        cur match {
          case null =>
            cur = SessionState(m, m, 1, e.value)
          case s if m - s.lastMicros < gapMicros =>
            cur = SessionState(s.start, m, s.n + 1, s.sum + e.value)
          case s =>
            out += close(user, s)
            cur = SessionState(m, m, 1, e.value)
        }
      }
      (out.iterator, cur)
    }
  }
}
