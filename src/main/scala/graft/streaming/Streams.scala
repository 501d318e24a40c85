package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.dec2

/** Structured Streaming surface (SURVEY.md §2 Layer B "Streaming"): the
  * same window expressions as the batch EventWindows queries, run
  * incrementally with watermarks, plus stateful dedup, stream-static join
  * and a custom-state sessionizer (flatMapGroupsWithState).
  *
  * The transforms are DataFrame→DataFrame: they run identically on a
  * `readStream` source in production and on a MemoryStream in tests.
  */
object Streams {

  /** Event row shape (events table contract, TESTDATA.md). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling 10-minute counts/sums per event type; late data beyond the
    * 10-minute watermark is dropped. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows per user (30-minute gap) — the built-in sessionizer. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** Stateful exact dedup by event_id within the watermark horizon —
    * duplicate deliveries collapse to the first arrival. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")

  /** Stream-static broadcast join: enrich the stream with a dimension
    * table (no state, no shuffle of the stream side at scale when the
    * static side is broadcast). */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer),
      events("user_id") === customer("c_custkey"), "left_outer")
      .select(events("event_id"), events("user_id"), events("event_type"),
        events("value"), customer("c_mktsegment").as("segment"))

  /** Per-user session state for the custom sessionizer. */
  final case class UserSession(user_id: Long, n_events: Long, last_seen_ms: Long)
  final case class SessionUpdate(user_id: Long, n_events: Long, closed: Boolean)

  /** Custom stateful sessionization via flatMapGroupsWithState — the seam
    * for state logic Spark's built-ins can't express (reference analog: the
    * crawler/job poll state machines, SURVEY §2 Layer B streaming row).
    * Emits a cumulative update per user per batch; a session is marked
    * closed when a 30-minute event-time gap is observed within the state.
    * (Production would add GroupStateTimeout.EventTimeTimeout + watermark
    * to also close sessions on silence; wall-clock timeouts are avoided so
    * test runs stay deterministic.) */
  def sessionizeWithState(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[UserSession]) =>
          val batch = rows.toSeq.sortBy(_.ts.getTime)
          val prev = state.getOption.getOrElse(UserSession(userId, 0L, 0L))
          val gapClosed = prev.last_seen_ms > 0 &&
            batch.headOption.exists(_.ts.getTime - prev.last_seen_ms >= 30 * 60 * 1000L)
          val next =
            if (gapClosed) UserSession(userId, batch.size.toLong, batch.last.ts.getTime)
            else UserSession(userId, prev.n_events + batch.size,
              math.max(prev.last_seen_ms, batch.map(_.ts.getTime).max))
          state.update(next)
          val closing =
            if (gapClosed) Iterator(SessionUpdate(userId, prev.n_events, closed = true))
            else Iterator.empty
          closing ++ Iterator(SessionUpdate(userId, next.n_events, closed = false))
      }
  }
}
