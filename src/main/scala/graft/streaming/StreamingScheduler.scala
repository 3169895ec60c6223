package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

/** Streaming per-host frontier scheduler — the streaming twin of the batch
  * engine's frontier+politeness step (reference: the token-bucket rate
  * limiter, rate_limiter.rs:26-70, the priority sort,
  * batch_processor.rs:56-65, and the DashSet seen check,
  * url_queue.rs:52-70 — here sharded by host).
  *
  * Link discoveries flow into `flatMapGroupsWithState` keyed by HOST. The
  * state is that host's slice of the whole frontier state machine:
  *   - the pending BACKLOG (the priority queue), merged on arrival with the
  *     batch engine's exact dedup rule (one entry per canonical URL keeping
  *     min depth, then lexicographically smallest url/parentUrl —
  *     `Frontier.dedupeWave`), so a later shallower rediscovery upgrades a
  *     backlogged entry exactly as the batch frontier merge does;
  *   - the host's FETCHED set (the seen-set shard: a canonical URL maps to
  *     exactly one host, so the per-host shard is an exact partition of the
  *     global seen set), which drops rediscoveries of already-released URLs
  *     — the streaming equivalent of `Frontier.newOnly`'s anti-join.
  * Every wave each host releases at most `budget` URLs in the engine's
  * deterministic priority order (depth asc, pathDepth desc, urlHash asc,
  * canonicalUrl asc — `Frontier.priorityOrdering`), stamped with the wave
  * clock, and retains the rest.
  *
  * The wave clock is EVENT time: every wave's input file carries its
  * discovery rows AND one `tick` row, ALL STAMPED WITH THE SAME wave
  * timestamp (strictly greater than the previous wave's — rows older than
  * the watermark are dropped as late, the standard event-time contract).
  * Hosts that received discoveries this wave emit their tranche in the data
  * batch; hosts with backlog but no new discoveries are woken by an
  * event-time timeout armed at `waveClock + 1`, which the NEXT wave's tick
  * fires (the current wave cannot: its watermark is exactly `waveClock`).
  * Processing-time timeouts would never let an AvailableNow drain terminate;
  * see [[StreamingFrontier]].
  *
  * Scale shape: state size is the frontier backlog plus the seen set — the
  * honest cost of a 10^10-URL streaming frontier, held sharded-by-host in
  * the state store (RocksDB in production), never on the driver.
  * Per-invocation work is one sort of a single host's backlog;
  * `maxBacklogPerHost` caps a pathological host by dropping lowest-priority
  * overflow, counted in the optional accumulator (the
  * `winnowOverlaps.maxDocFreq` no-silent-caps discipline).
  */
object StreamingScheduler {

  /** A frontier candidate on the wave clock: `FrontierEntry` fields + the
    * discovery event time. */
  final case class Candidate(canonicalUrl: String, url: String, depth: Int,
                             parentUrl: String, host: String, pathDepth: Int,
                             urlHash: Long, discoveredAt: java.sql.Timestamp)
    extends graft.model.LinkPriorityKey

  /** A released URL: the candidate plus the wave clock at release — the
    * crawl loop keys each fetch wave off `emittedAtMs`. */
  final case class Scheduled(canonicalUrl: String, url: String, depth: Int,
                             parentUrl: String, host: String, pathDepth: Int,
                             urlHash: Long, emittedAtMs: Long)

  /** Per-host frontier shard: pending backlog + released (seen) canonicals
    * + the host's effective budget cap (remembered so timeout wake-ups —
    * which carry no rows — release the same tranche size as data batches;
    * Int.MaxValue = no override, the default budget applies).
    *
    * STATE SCHEMA v2: the `cap` field was added for Crawl-delay support.
    * Spark's state-store schema check rejects a resume from a checkpoint
    * written by the 2-field v1 state — restart such a crawl with a fresh
    * checkpoint dir (discovery/scheduled sinks are unaffected), or set
    * spark.sql.streaming.stateStore.stateSchemaCheck=false at your own
    * risk. */
  final case class HostState(backlog: Seq[Candidate], fetched: Seq[String],
                             cap: Int = Int.MaxValue)

  /** [[Candidate]] enriched with its host's budget cap by the stream-static
    * join in [[schedule]] (internal — never written to disk). */
  final case class CandidateCap(canonicalUrl: String, url: String, depth: Int,
                                parentUrl: String, host: String, pathDepth: Int,
                                urlHash: Long, discoveredAt: java.sql.Timestamp,
                                cap: Int) {
    def candidate: Candidate = Candidate(canonicalUrl, url, depth, parentUrl,
      host, pathDepth, urlHash, discoveredAt)
  }

  /** Sentinel host for wave-clock ticks: advances the watermark, never
    * scheduled, never stored. */
  val TickHost = ""

  def tick(atMs: Long): Candidate =
    Candidate("", "", Int.MaxValue, "", TickHost, 0, 0L, new java.sql.Timestamp(atMs))

  /** THE batch total order and merge rule, not copies of them:
    * `Frontier.priorityOrder` / `Frontier.merge` are generic over the shared
    * key traits, so streaming/batch parity holds by construction. */
  private[streaming] val priority: Ordering[Candidate] =
    graft.frontier.Frontier.priorityOrder[Candidate]
  private def merge(a: Candidate, b: Candidate): Candidate =
    graft.frontier.Frontier.merge(a, b)

  /** One frontier-scheduler stream pass: drains whatever is in `inputDir`
    * (each file = one wave's gated link discoveries + one tick row, all on
    * the wave timestamp), emitting at most `budget` URLs per host per wave
    * to `outputDir` parquet, stamped with the wave clock. Exactly-once
    * across restarts via `checkpointDir`. `droppedAcc`, when given, counts
    * backlog overflow discarded by `maxBacklogPerHost` (observability;
    * accumulators are per-run, not part of checkpointed state). */
  def schedule(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      budget: Int,
      maxBacklogPerHost: Int = Int.MaxValue,
      droppedAcc: Option[LongAccumulator] = None,
      hostCaps: Option[DataFrame] = scala.None
  ): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    require(budget > 0, s"budget must be positive, got $budget")
    // one wave per micro-batch
    SinkIO.drain[Candidate](spark, inputDir, 1, outputDir, checkpointDir) { raw =>
      // per-host budget caps (robots Crawl-delay) ride in on a STREAM-STATIC
      // broadcast join — the cap table never collects to the driver and each
      // candidate carries its own cap into the keyed state (tick rows and
      // capless hosts coalesce to no-override). Column ops only, and the
      // watermark is applied AFTER enrichment: a typed map would strip the
      // event-time tag the EventTimeTimeout needs.
      (hostCaps match {
        case Some(caps) => raw.join(
            broadcast(caps.select(col("host"), col("budget").as("hostcap"))),
            Seq("host"), "left")
          .withColumn("cap", coalesce(col("hostcap"), lit(Int.MaxValue)))
        case scala.None => raw.withColumn("cap", lit(Int.MaxValue))
      })
        .select(col("canonicalUrl"), col("url"), col("depth"), col("parentUrl"),
          col("host"), col("pathDepth"), col("urlHash"), col("discoveredAt"), col("cap"))
        .withWatermark("discoveredAt", "0 seconds")
        .as[CandidateCap]
        .groupByKey(_.host)
        .flatMapGroupsWithState[HostState, Scheduled](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (host: String, rows: Iterator[CandidateCap], state: GroupState[HostState]) =>
            if (host == TickHost) {
              Iterator.empty // wave-clock rows carry no work
            } else {
              // backlog ∪ this wave's arrivals (empty on a timeout wake-up),
              // one entry per canonical URL under the batch merge rule, minus
              // everything this host already released
              val arrivalsCap = rows.toSeq
              val arrivals = arrivalsCap.map(_.candidate)
              val prior = if (state.exists) state.get else HostState(Nil, Nil)
              // the cap is a static property of the host: rows all carry the
              // same value; remember it for row-less timeout wake-ups
              val cap = arrivalsCap.headOption.map(_.cap).getOrElse(prior.cap)
              val fetched = prior.fetched.toSet
              val all = (prior.backlog ++ arrivals)
                .groupBy(_.canonicalUrl).valuesIterator.map(_.reduceLeft(merge))
                .filter(c => !fetched.contains(c.canonicalUrl))
                .toSeq.sorted(priority)
              val kept = if (all.size > maxBacklogPerHost) {
                droppedAcc.foreach(_.add(all.size - maxBacklogPerHost))
                all.take(maxBacklogPerHost)
              } else all
              val (emit, rest) = kept.splitAt(math.min(budget, cap))
              // this wave's clock: the max of the current watermark (timeout
              // wake-up) and this wave's row timestamps (data batch, where the
              // watermark still lags one batch behind)
              val rowMax = if (arrivals.isEmpty) Long.MinValue
                           else arrivals.iterator.map(_.discoveredAt.getTime).max
              val waveClock = math.max(state.getCurrentWatermarkMs(), rowMax)
              if (emit.nonEmpty || rest.nonEmpty) {
                state.update(HostState(rest, prior.fetched ++ emit.map(_.canonicalUrl), cap))
                // wake on the NEXT wave's tick — arming any lower than
                // waveClock+1 would re-fire THIS drain's forced batch and
                // double the tranche. (No timeout when the backlog is empty:
                // the fetched set stays, new data re-invokes.)
                if (rest.nonEmpty) state.setTimeoutTimestamp(waveClock + 1)
              }
              emit.iterator.map(c => Scheduled(c.canonicalUrl, c.url, c.depth,
                c.parentUrl, c.host, c.pathDepth, c.urlHash, waveClock))
            }
        }
    }
  }

  /** The released URLs so far ([[SinkIO.read]]: a sink dir that does not
    * exist yet, or holds no committed data files (killed before the first
    * batch commit), reads as empty) — StreamingCrawl's resume reads this to
    * find the prior wave clock. */
  def readOutput(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[Scheduled](spark, outputDir)
}
