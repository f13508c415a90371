package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input event for stateful sessionization. */
final case class SessionEvent(visitorid: String, event_time: Timestamp)

/** Open-session state kept per visitor. */
final case class SessionState(start: Timestamp, end: Timestamp, events: Long)

/** A closed (emitted) session. */
final case class ClosedSession(
    visitorid: String,
    session_start: Timestamp,
    session_end: Timestamp,
    events_in_session: Long,
    session_length: Long)

/**
 * Correct-mode sessionization for streams (SURVEY.md §7.4 risk 1): unlike
 * the reference's per-batch windows — which split sessions at micro-batch
 * boundaries and emit colliding session ids — these operators maintain
 * session state across batches.
 *
 * Two idiomatic implementations, by preference (both shuffle once on
 * visitorid and keep per-visitor state bounded):
 *
 *  1. [[sessionWindow]]: Spark's built-in `session_window` aggregation —
 *     declarative, AQE/codegen friendly, watermark-driven state eviction.
 *  2. [[flatMapGroupsWithStateSessions]]: explicit state machine via
 *     `flatMapGroupsWithState` — for semantics `session_window` can't
 *     express (e.g. emitting provisional sessions, custom merge rules).
 */
object GlobalSessions {

  /** Gap-based sessions via the built-in session_window (streaming or batch).
    * In streaming mode, append output arrives after the watermark passes.
    *
    * Boundary semantics (pinned by StreamingSpec): an event exactly `gap`
    * after the previous one MERGES into the session — the split rule is a
    * strict `>`, same as the q_global_sessions oracle's
    * `diff > 1800000000`; only fractional gaps in (1800s, 1801s) diverge
    * from the reference's floor-seconds parity mode. */
  def sessionWindow(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour", streaming: Boolean = true): DataFrame = {
    val in = if (streaming) events.withWatermark("event_time", watermark) else events
    in.groupBy(col("visitorid"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("events_in_session"))
      .select(
        col("visitorid"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("events_in_session"))
  }

  /**
   * Explicit stateful sessionization: per visitor, extend the open session
   * while events arrive within `gapSeconds`; close and emit it when a later
   * event exceeds the gap or the event-time timeout fires after the
   * watermark passes the gap boundary.
   */
  def flatMapGroupsWithStateSessions(
      spark: SparkSession, events: Dataset[SessionEvent],
      gapSeconds: Long = 1800L,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import spark.implicits._

    def close(visitorid: String, s: SessionState): ClosedSession =
      ClosedSession(visitorid, s.start, s.end, s.events,
        (s.end.getTime - s.start.getTime) / 1000L)

    def fn(visitorid: String, it: Iterator[SessionEvent],
           state: GroupState[SessionState]): Iterator[ClosedSession] = {
      if (it.isEmpty && state.hasTimedOut) {
        // watermark passed the open session's gap boundary — emit and clear
        val out = state.getOption.map(close(visitorid, _)).iterator
        state.remove()
        return out
      }
      // flatMapGroupsWithState does NOT drop late rows — watermark
      // filtering is only automatic for built-in stateful operators — so
      // an event behind the watermark must be ignored here: session_window
      // drops it, and folding it in could yield a session whose timeout is
      // earlier than the current watermark, which the state store rejects
      // (throws) on setTimeoutTimestamp. With the filter in place every
      // surviving event has time >= watermark, so the timeout set below
      // (end + gap + 1) is always legal.
      val wmMs = state.getCurrentWatermarkMs()
      val sorted = it.toSeq.filter(_.event_time.getTime >= wmMs).sortBy(_.event_time.getTime)
      if (sorted.isEmpty) {
        // everything was late: leave any open session untouched — its
        // previously-set timeout still stands and will fire normally
        return Iterator.empty
      }
      var open = state.getOption
      val closed = Seq.newBuilder[ClosedSession]
      sorted.foreach { e =>
        open match {
          case Some(s) if e.event_time.getTime - s.end.getTime <= gapSeconds * 1000L =>
            // a late-but-within-watermark event must never move the session
            // end (or start) backward
            val newEnd = if (e.event_time.getTime > s.end.getTime) e.event_time else s.end
            val newStart = if (e.event_time.getTime < s.start.getTime) e.event_time else s.start
            open = Some(SessionState(newStart, newEnd, s.events + 1))
          case Some(s) =>
            closed += close(visitorid, s)
            open = Some(SessionState(e.event_time, e.event_time, 1L))
          case None =>
            open = Some(SessionState(e.event_time, e.event_time, 1L))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.end.getTime + gapSeconds * 1000L + 1L)
      }
      closed.result().iterator
    }

    events
      .withWatermark("event_time", watermark)
      .groupByKey(_.visitorid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
