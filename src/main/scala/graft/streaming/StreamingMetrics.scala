package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming over the crawl/event stream: watermarked windowed
  * aggregation and stateful sessionization — the beyond-reference streaming
  * surface (the reference's channel is order-only; these are the operators a
  * production ingest pipeline hangs off the same stream).
  *
  * Both queries use event time (`ts`), tolerate `watermarkDelay` of
  * out-of-orderness, and DROP later-than-watermark rows — the property the
  * spec exercises explicitly. Exactly-once via checkpoint, bounded testable
  * runs via Trigger.AvailableNow, and state is per-key and O(open windows /
  * open sessions), so a 1000-executor stream shards by key with no global
  * coordination. */
object StreamingMetrics {

  final case class StreamEvent(event_id: Long, ts: java.sql.Timestamp,
                               user_id: Long, event_type: String, value: Double)

  /** One closed event-time window of one event type. */
  final case class WindowCount(win_start: java.sql.Timestamp, event_type: String,
                               n_events: Long, total_value: Double)

  /** Per-type 1-minute event-time windows: append mode emits each window
    * exactly once, when the watermark passes its end. */
  def windowedCounts(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      watermarkDelay: String = "2 minutes",
      windowLength: String = "1 minute"
  ): Unit = {
    // one file per micro-batch: the watermark advances file-by-file
    SinkIO.drain[StreamEvent](spark, inputDir, 1, outputDir, checkpointDir) {
      _.withWatermark("ts", watermarkDelay)
        .groupBy(window(col("ts"), windowLength), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events"), col("total_value"))
    }
  }

  // ------------------------------------------------------- sessionization --

  final case class SessionState(firstTs: Long, lastTs: Long, nEvents: Long,
                                firstEvent: Long, lastEvent: Long)
  final case class ClosedSession(user_id: Long, n_events: Long,
                                 first_event: Long, last_event: Long,
                                 start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

  val SessionGapMs: Long = 30L * 60L * 1000L

  /** Session-update step, exposed for direct unit testing: fold a batch of
    * events into the open session, emitting any sessions the gap closes
    * mid-batch. Returns (closed sessions, open state). */
  def foldEvents(userId: Long, sorted: Seq[(Long, Long)], open: Option[SessionState],
                 gapMs: Long = SessionGapMs): (Seq[ClosedSession], Option[SessionState]) = {
    var state = open
    val closed = Seq.newBuilder[ClosedSession]
    sorted.foreach { case (ts, eventId) =>
      state match {
        case Some(s) if ts - s.lastTs <= gapMs =>
          // cross-batch disorder (bounded by the watermark) can deliver an
          // event between firstTs and lastTs — track true extremes so
          // first/last event ids always agree with start_ts/end_ts
          val (fTs, fEv) = if (ts < s.firstTs) (ts, eventId) else (s.firstTs, s.firstEvent)
          val (lTs, lEv) = if (ts >= s.lastTs) (ts, eventId) else (s.lastTs, s.lastEvent)
          state = Some(SessionState(fTs, lTs, s.nEvents + 1, fEv, lEv))
        case Some(s) =>
          closed += ClosedSession(userId, s.nEvents, s.firstEvent, s.lastEvent,
            new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs))
          state = Some(SessionState(ts, ts, 1L, eventId, eventId))
        case None =>
          state = Some(SessionState(ts, ts, 1L, eventId, eventId))
      }
    }
    (closed.result(), state)
  }

  /** Stateful streaming sessionization (30-minute inactivity gap) with
    * flatMapGroupsWithState + event-time timeout: a session closes — and is
    * emitted exactly once — when the watermark passes lastEvent + gap. The
    * batch twin is `Relational2.sessionize`; this is the unbounded-stream
    * version whose state never grows past the open sessions. */
  def sessionize(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      watermarkDelay: String = "2 minutes"
  ): Unit = {
    import spark.implicits._
    SinkIO.drain[StreamEvent](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source.withWatermark("ts", watermarkDelay)
        .as[StreamEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionState, ClosedSession](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (userId: Long, events: Iterator[StreamEvent], state: GroupState[SessionState]) =>
            if (state.hasTimedOut) {
              val s = state.get
              state.remove()
              Iterator.single(ClosedSession(userId, s.nEvents, s.firstEvent, s.lastEvent,
                new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs)))
            } else {
              val sorted = events.map(e => (e.ts.getTime, e.event_id)).toSeq
                .sortBy(identity) // deterministic within-batch order
              val (closed, open) = foldEvents(userId, sorted, state.getOption)
              open.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastTs + SessionGapMs)
              }
              closed.iterator
            }
        }
    }
  }

  /** [[windowedCounts]]' committed rows ([[SinkIO.read]]). */
  def windows(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[WindowCount](spark, outputDir)

  /** [[sessionize]]'s committed rows ([[SinkIO.read]]). */
  def sessions(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[ClosedSession](spark, outputDir)
}
