package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twin of the snapshot-delta family
  * ([[graft.pipeline.Freshness.crawlDelta]]): continuous change detection.
  * Captures arrive as a stream (each micro-batch = one crawl wave's
  * fetches, one row per (url, capture time, content hash)); keyed state
  * per URL holds the last observed hash, and every capture emits exactly
  * one change event — `added` on first sight, `changed`/`unchanged` after.
  *
  * What the stream CAN'T see is `removed`: absence is not an event. The
  * batch `crawlDelta` full-outer join owns removal detection (the standard
  * split — streaming handles transitions, a periodic batch diff handles
  * tombstones); the parity test pins exactly this contract: for URLs
  * present in both captures the stream's B-wave events reproduce the batch
  * changed/unchanged classification, B-only URLs emit `added`, and the
  * batch `removed` set is precisely the URLs with an A event and no B
  * event.
  *
  * The rolled-up event log feeds [[graft.pipeline.Freshness
  * .scheduleProjection]] — the SAME integer schedule rules as the batch
  * recrawl query, so observed change rates and synthetic ones can never
  * disagree on policy.
  *
  * Scale notes: state is one 32-char hash per distinct URL, sharded by
  * group key and checkpointed — a restart resumes change detection with no
  * duplicate and no missed transition (exactly-once file micro-batches).
  * Unbounded keyed state is the honest cost of exact per-URL memory at
  * 10^10 URLs; the bound, where needed, is the event-time TTL pattern of
  * [[StreamingFrontier.firstSeenOnly]] (expiry = forget = next sighting
  * reads `added`), intentionally not duplicated here.
  */
object StreamingDelta {

  final case class Capture(url_id: Long, capture_ts: java.sql.Timestamp,
                           content_hash: String)

  final case class ChangeEvent(url_id: Long, capture_ts: java.sql.Timestamp,
                               content_hash: String, prev_hash: String,
                               status: String)

  /** Per-URL state: the latest classified capture. Carrying the timestamp
    * (not just the hash) is what makes cross-batch stragglers detectable —
    * FileStreamSource orders FILES by modification time, so a wave-1 file
    * landing after a wave-2 file replays old captures against newer state. */
  final case class LastSeen(ts: Long, hash: String)

  /** Drain all currently-available capture files into the change-event
    * log, exactly once. Within a micro-batch a URL's captures replay in
    * (capture_ts, content_hash) order — a total order, so output is
    * deterministic even if one batch carries several captures of a URL.
    * Across batches, a capture OLDER than the state's latest classified
    * capture is a straggler: it cannot be classified (its true predecessor
    * is gone) and must not regress the state, so it emits `status=late`
    * with an empty prev_hash — one event per capture always, and consumers
    * ([[scheduleView]]) count only real transitions. A NULL content hash
    * (fetch produced no payload digest) is folded to "" and classified
    * like any other value — `status`, never prev_hash's emptiness, is the
    * authoritative first-sight signal. */
  def changeEvents(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // one capture wave per micro-batch
    SinkIO.drain[Capture](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source.as[Capture]
        .groupByKey(_.url_id)
        .flatMapGroupsWithState[LastSeen, ChangeEvent](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_: Long, rows: Iterator[Capture], state: GroupState[LastSeen]) =>
            // captures per (url, micro-batch) are bounded by waves-per-file ×
            // maxFilesPerTrigger — a handful, so the sort is O(1) per key
            val ordered = rows.toArray.sortBy(c =>
              (c.capture_ts.getTime, Option(c.content_hash).getOrElse("")))
            val out = Vector.newBuilder[ChangeEvent]
            var last = state.getOption.orNull
            ordered.foreach { c =>
              val h = Option(c.content_hash).getOrElse("")
              val t = c.capture_ts.getTime
              if (last != null && t < last.ts) {
                // cross-batch straggler: older than what's already classified
                out += ChangeEvent(c.url_id, c.capture_ts, h, "", "late")
              } else {
                val status =
                  if (last == null) "added"
                  else if (last.hash == h) "unchanged"
                  else "changed"
                out += ChangeEvent(c.url_id, c.capture_ts, h,
                  if (last == null) "" else last.hash, status)
                last = LastSeen(t, h)
              }
            }
            if (last != null) state.update(last)
            out.result().iterator
        }
    }
  }

  /** The committed event log ([[SinkIO.read]]: empty before the first
    * commit). */
  def readEvents(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[ChangeEvent](spark, outputDir)

  /** Recrawl schedule over the OBSERVED event log: n_caps = classified
    * captures (`late` stragglers carry no transition and are excluded),
    * n_changes = observed changed-events, then the shared integer schedule
    * projection. URLs with a single capture have no rate yet and are
    * excluded — the same n_caps ≥ 2 domain as the batch query. */
  def scheduleView(events: DataFrame): DataFrame =
    graft.pipeline.Freshness.scheduleProjection(
      events.filter(col("status") =!= "late")
        .groupBy("url_id")
        .agg(count(lit(1)).as("n_caps"),
          sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changes"))
        .filter(col("n_caps") >= 2))
      .orderBy(desc("change_milli"), asc("url_id"))
}
