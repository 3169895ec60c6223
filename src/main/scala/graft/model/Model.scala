package graft.model

import java.sql.Timestamp

/** Core row types — Spark-encodable case classes mirroring SURVEY.md §1.1. */

/** One row of the Common-Crawl-style input pages table (input_hint schema):
  * (url string, warc_ts timestamp, html binary, text string, lang string).
  * `text` is the expected extraction output for `html` — the byte-identity
  * invariant surface. */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** The fields the frontier DEDUP MERGE rule reads — implemented by every
  * link-shaped row type (batch FrontierEntry, the streaming twins'
  * Candidate/Discovered) so `Frontier.merge` is the single source of truth
  * for which representative survives a duplicate discovery. */
trait LinkMergeKey {
  def depth: Int
  def url: String
  def parentUrl: String
}

/** [[LinkMergeKey]] plus the fields the deterministic PRIORITY total order
  * reads (`Frontier.priorityOrder`). */
trait LinkPriorityKey extends LinkMergeKey {
  def pathDepth: Int
  def urlHash: Long
  def canonicalUrl: String
}

/** Frontier entry — reference `DiscoveredUrl`
  * (src/domain/crawl_job/entities.rs:26-35) plus the derived columns the
  * Spark engine partitions and prioritizes on. */
final case class FrontierEntry(
    canonicalUrl: String,
    url: String,
    depth: Int,
    parentUrl: String,
    host: String,
    pathDepth: Int,
    urlHash: Long
) extends LinkPriorityKey

/** One row of the sparse adaptive-politeness budget table: only hosts whose
  * current budget differs from the configured maximum are present. */
final case class HostBudget(host: String, budget: Int)

/** Deterministic crawl-order output row: total order is
  * (wave asc, rank asc); rank within a wave follows the documented priority
  * (depth asc, pathDepth desc, urlHash asc, canonicalUrl asc). */
final case class CrawlOrderRow(
    wave: Int,
    rank: Long,
    canonicalUrl: String,
    url: String,
    parentUrl: String,
    depth: Int,
    host: String
)

/** Extracted page — reference `ScrapedContent` (src/domain/entities.rs:151-170). */
final case class ExtractedPage(
    canonicalUrl: String,
    url: String,
    title: String,
    text: String,
    lang: String,
    usedFallback: Boolean,
    extractionFailed: Boolean,
    isSpa: Boolean,
    wafProvider: String, // empty = none
    htmlBytes: Long,
    textBytes: Long,
    wave: Int,
    depth: Int
)

/** RAG chunk — reference `DocumentChunk` (src/domain/entities.rs:241-266);
  * ids are deterministic sha256(url#index) instead of UUIDv4 (SURVEY §2.8). */
final case class ChunkRow(
    id: String,
    url: String,
    title: String,
    content: String,
    chunkIndex: Int,
    lang: String,
    wordCount: Int,
    ts: Timestamp
)

/** Per-host per-wave fetch/extract metrics — reference metrics.rs:15-100. */
final case class HostMetrics(
    wave: Int,
    host: String,
    fetched: Long,
    errors: Long,
    htmlBytes: Long,
    textBytes: Long,
    extractionFailures: Long,
    wafBlocked: Long
)

/** Crawl configuration — reference `CrawlerConfig`
  * (src/domain/site/config.rs:15-38) defaults: maxDepth 3, maxPages 100,
  * per-wave host budget standing in for delay_ms×concurrency token bucket
  * (SURVEY §2.9 politeness equivalence). */
final case class CrawlConfig(
    seeds: Seq[String],
    maxDepth: Int = 3,
    maxPages: Long = 100,
    perHostBudget: Int = 3, // <= 0 = unlimited (politeness off; saturated-frontier jobs)
    includePatterns: Seq[String] = Seq.empty,
    excludePatterns: Seq[String] = Seq.empty,
    maxQueryParams: Int = 5, // batch_processor.rs:69-76
    respectRobots: Boolean = true, // north-rule extension (reference parses Sitemap: only)
    // Honor robots.txt `Crawl-delay` (the non-standard but ubiquitous
    // seconds-between-requests directive): a declaring host's per-wave
    // budget is capped at max(1, waveModelSeconds div delay), merged
    // most-restrictive-wins with the adaptive budgets. NOTE: every corpus
    // host declares `Crawl-delay: 1` — non-binding at the golden budget 3
    // (cap 30 ≥ 3) but BINDING for any perHostBudget > waveModelSeconds,
    // so throughput configs above 30 must either accept the cap or opt
    // out explicitly (Bench does — see Bench.crawlOnce).
    respectCrawlDelay: Boolean = true,
    // How many seconds of politeness wall time one wave MODELS — the bridge
    // between the wave-budget abstraction (k fetches/host/wave) and
    // Crawl-delay's seconds-between-requests: k = waveModelSeconds/delay.
    // 30 s at the default budget 3 reproduces the reference's token bucket
    // (delay 500 ms × burst 3 ≈ 2 req/s sustained ≈ politeness-equivalent;
    // SURVEY §2.9).
    waveModelSeconds: Int = 30,
    internalOnly: Boolean = true,
    saltBuckets: Int = 8, // politeness-group salting for skewed hosts
    // Beyond-reference scale extension (off by default — the frozen goldens
    // pin the static-budget crawl): when on, a host's budget halves the wave
    // after it served errors or WAF challenges and recovers by max(1, max/4)
    // per clean wave, floored at minHostBudget and capped at perHostBudget.
    adaptivePoliteness: Boolean = false,
    minHostBudget: Int = 1,
    // Beyond-reference integration (off by default — the frozen goldens pin
    // the static-budget crawl): fold the per-host CIRCUIT BREAKER
    // (pipeline.CircuitBreaker.step — the exact oracle-backed kernel), AIMD
    // budget autoscaling (pipeline.Aimd.step with the wave budget as the
    // congestion window), and RETRY-AFTER honoring (crawl.RetryAfter
    // .waitSeconds over in-band challenge-page hints) into the politeness
    // selection. A host serving Threshold consecutive penalty waves
    // (errors or WAF blocks) trips open: its frontier entries are
    // suppressed entirely (budget 0) for the cooldown — a dying host must
    // not absorb a wave's budget — then ONE probe fetch decides recovery.
    // The trip cooldown honors a server-directed Retry-After hint when the
    // blocking page carries one (meta-refresh delay / literal header echo),
    // clamped via RetryAfter.waitSeconds and expressed in waves of
    // waveModelSeconds. Supersedes adaptivePoliteness when both are set.
    breakerPoliteness: Boolean = false,
    // When set, each snapshot's frontier is range-clustered on urlHash into
    // this many files before commit (Iceberg sort-order + target-file-size
    // analogue) so manifest-list pruning can open a hash shard without
    // scanning the frontier. Costs a sampling pass + shuffle per wave; leave
    // unset for small politeness-bound crawls.
    snapshotFileTarget: Option[Int] = None,
    // Fetch-join strategy: a wave (and the pages-prep winner table) at or
    // under this many rows is BROADCAST to the pages side, so the multi-KB
    // html payloads never enter an exchange at all — on a cluster a ~100 MB
    // broadcast beats shuffling terabytes of html. Larger waves fall back
    // to the co-partitioned SHUFFLE_HASH join (html hashed, never sorted).
    // Default measured at the 648k-page 2× smoke (BENCH.md round-5
    // continuation): the 648k wave-keys table broadcasts at ~65 MB and
    // holds the record fetch rate, while crossing to the shuffle path
    // costs a measured 33% — 1M rows ≈ 100 MB is the right trade at
    // executor memory ≥ 8 GB.
    broadcastWaveMaxRows: Long = 1000000L,
    // When on, pages-prep winner picks are WRITTEN to a table under
    // stateDir/intermediates instead of localCheckpoint'd: the blocks of a
    // localCheckpoint die with their executor, so a long crawl on a real
    // cluster opts into the durable path; the default keeps the sandbox's
    // cheaper in-memory trade. Outputs are identical either way (tested).
    spillIntermediates: Boolean = false
)
