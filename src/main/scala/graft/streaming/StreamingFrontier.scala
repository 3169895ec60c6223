package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming URL-frontier dedup — the exactly-once streaming twin of the
  * batch engine's seen-set (Frontier.newOnly / the reference's DashSet
  * check-and-insert, url_queue.rs:52-70).
  *
  * A continuous link-discovery stream (each micro-batch = one wave's
  * extracted links) flows through `flatMapGroupsWithState` keyed by
  * canonical URL: the FIRST occurrence ever emits downstream (to fetch);
  * every later occurrence — within a batch or across batches — is dropped.
  * State is one boolean per distinct URL, sharded by the group key across
  * executors, checkpointed with the query: a restart resumes the seen set
  * exactly (no re-fetch, no loss) — the property the reference's resume
  * filter protects, upgraded to exactly-once.
  *
  * Scale note: unbounded keyed state is the honest cost of EXACT streaming
  * dedup at 10^10 URLs; production deployments either bound it with a state
  * TTL (`seenTtlMs` — re-crawl after expiry, the usual crawler policy) or use
  * the batch engine's snapshot anti-join per wave. Both shapes live here.
  *
  * The TTL is EVENT-time (the `discoveredAt` crawl timestamp, the stream
  * twin of the input table's `warc_ts`), enforced with a watermark +
  * `EventTimeTimeout`, not `ProcessingTimeTimeout`, for two reasons:
  * (1) re-crawl policy is "fetch again N days of CRAWL time after the last
  * fetch", which must replay identically from checkpoint — wall-clock state
  * expiry makes recovery timing-dependent; (2) under `ProcessingTimeTimeout`
  * Spark's `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
  * unconditionally true, so a `Trigger.AvailableNow` drain never terminates
  * (and `processAllAvailable` never returns — `noNewData` is only signalled
  * when no batch gets constructed). Event-time timeouts terminate: the
  * forced extra batch runs only while the watermark still advances.
  */
object StreamingFrontier {

  final case class Discovered(canonicalUrl: String, url: String, depth: Int,
                              parentUrl: String, host: String,
                              discoveredAt: java.sql.Timestamp)
    extends graft.model.LinkMergeKey

  /** Exactly-once first-seen filter. `seenTtlMs` None = exact forever;
    * Some(ms) = event-time TTL after which a URL's seen-state expires and a
    * later discovery re-emits it (re-crawl-after-expiry, and the state bound
    * at 10^10). Expiry counts from the FIRST sighting (the fetch), not from
    * later duplicate sightings — duplicates are dropped, not re-fetched, so
    * they don't reset the page's staleness clock. The state value is that
    * expiry timestamp: GroupState CLEARS a key's timeout on every function
    * invocation that doesn't re-set it, so the duplicate branch must re-arm
    * the ORIGINAL expiry explicitly or a single duplicate sighting would
    * silently cancel the re-crawl. */
  def firstSeenOnly(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      seenTtlMs: Option[Long] = None
  ): Unit = {
    import spark.implicits._
    seenTtlMs.foreach(t => require(t > 0, s"seenTtlMs must be positive, got $t"))
    val timeout = if (seenTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    // one discovery wave per micro-batch
    SinkIO.drain[Discovered](spark, inputDir, 1, outputDir, checkpointDir) { raw =>
      val withWm = if (seenTtlMs.isDefined) raw.withWatermark("discoveredAt", "0 seconds") else raw
      withWm
        .as[Discovered]
        .groupByKey(_.canonicalUrl)
        .flatMapGroupsWithState[Long, Discovered](
          OutputMode.Append(), timeout) {
          (key: String, rows: Iterator[Discovered], state: GroupState[Long]) =>
            if (state.hasTimedOut) { // TTL expiry: forget, allow re-crawl
              state.remove()
              Iterator.empty
            } else {
              // One pass over the group: TWO deterministic representatives
              // under the engine's dedupeWave order (min depth, then
              // lexicographically smallest url/parent) — `bestAll` over every
              // sighting (the fresh-key emission) and `bestPast` over only the
              // sightings at/past the stored expiry (the re-admission
              // emission: a mixed batch can carry stale duplicates from inside
              // the previous TTL window that would be suppressed on their own,
              // and they must not become the re-crawl's representative) —
              // plus three timestamps: the MIN sighting (fresh-key TTL anchor:
              // a same-batch duplicate must not extend the staleness clock),
              // the MAX sighting (the re-admission decision: ANY sighting
              // at/past the stored expiry is a re-crawl), and the MIN sighting
              // at/past the stored expiry (the re-crawl's OWN anchor — its
              // clock must not start at a stale duplicate from the previous
              // window).
              val prevExpiry = if (state.exists) state.get else Long.MaxValue
              var minTs = Long.MaxValue
              var maxTs = Long.MinValue
              var minPastTs = Long.MaxValue
              var bestAll: Discovered = null
              var bestPast: Discovered = null
              rows.foreach { d =>
                val t = d.discoveredAt.getTime
                minTs = math.min(minTs, t)
                maxTs = math.max(maxTs, t)
                bestAll = if (bestAll == null) d
                          else graft.frontier.Frontier.merge(bestAll, d) // THE batch merge rule
                if (t >= prevExpiry) {
                  minPastTs = math.min(minPastTs, t)
                  bestPast = if (bestPast == null) d
                             else graft.frontier.Frontier.merge(bestPast, d)
                }
              }
              // arm the cleanup timeout only when legal — a timestamp at or
              // behind the watermark is rejected by Spark. (Unreachable in
              // practice: the operator drops rows behind the watermark before
              // this function, so every expiry derived from a delivered row is
              // ahead of it — the guard is defense against Spark relaxing that
              // filter.) The timeout exists only to garbage-collect idle keys;
              // re-admission is governed by the EVENT-time comparison below.
              def arm(expiry: Long): Unit = seenTtlMs.foreach { _ =>
                if (expiry > state.getCurrentWatermarkMs()) state.setTimeoutTimestamp(expiry)
              }
              def admit(anchorTs: Long, rep: Discovered): Iterator[Discovered] = {
                val expiry = seenTtlMs.map(anchorTs + _).getOrElse(Long.MaxValue)
                state.update(expiry)
                arm(expiry)
                Iterator.single(rep)
              }
              if (!state.exists) admit(minTs, bestAll)
              else if (seenTtlMs.isDefined && prevExpiry <= maxTs) {
                // some sighting lies at/after the previous fetch's TTL in
                // EVENT time: it IS the re-crawl — represented and anchored by
                // the past-expiry sightings only. (Watermark time is deliberately not
                // consulted — a LATE duplicate inside the previous fetch's
                // TTL window must stay suppressed even when the watermark has
                // already passed the expiry. Caveat: once the idle-key timeout
                // has GC'd the state, a later within-old-window duplicate is
                // indistinguishable from a first sighting — the forget is
                // authoritative, the standard TTL-state trade.)
                admit(minPastTs, bestPast)
              } else {
                // duplicate inside the TTL window (or exact forever mode):
                // drop it, and re-arm the ORIGINAL expiry — the invocation
                // itself cleared the key's timeout
                arm(prevExpiry)
                Iterator.empty
              }
            }
        }
    }
  }

  /** The committed first sightings ([[SinkIO.read]]: a killed-before-
    * first-commit or not-yet-created sink reads as empty). */
  def readOutput(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[Discovered](spark, outputDir)
}
