package graft.crawl

import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.extract.{HtmlKit, TextKit}
import graft.frontier.Frontier
import graft.model._
import graft.pipeline.Rounds.releaseBlocks
import graft.politeness.Robots
import graft.state.SnapshotStore
import graft.urls.UrlKernel

/** The URL-frontier + fetch-scheduler wave loop — the Spark-native
  * re-expression of the reference's BFS crawl engine
  * (src/application/crawler_service.rs:472-672).
  *
  * Design (SURVEY.md §3.2 "Spark shape", §4):
  *  - the tokio task pool + mpsc channel + DashSet seen-set collapse into a
  *    driver loop of Dataset waves: politeness-select → fetch-join →
  *    fused extract (with link admission) → robots gate → dedupe + seen
  *    filter in one exchange → snapshot commit;
  *  - "fetch" is an equi-join of the frontier wave against the pages table
  *    pre-partitioned by canonical URL (only the small wave side shuffles);
  *  - the global token-bucket rate limiter (rate_limiter.rs:26-70) becomes a
  *    deterministic per-host budget per wave (k fetches/host/wave ≈ rate
  *    r·Δt), upgraded per north rule from the reference's global-only rate;
  *  - robots Disallow gating (north-rule extension; reference reads robots
  *    only for Sitemap: lines) via a broadcast host→rules map;
  *  - crawl order is total and deterministic: (wave, depth asc,
  *    pathDepth desc, xxhash64 asc, canonical asc) — identical at any
  *    parallelism, the property the local[8]-vs-local[32] evidence checks;
  *  - per-wave Iceberg-style snapshot commit (frontier + seen + manifest)
  *    makes runs resumable mid-crawl.
  */
object CrawlEngine {

  /** Effective fetch-join broadcast cap: the configured row cap bounded
    * by what the SMALLEST participating heap can hold as a built
    * broadcast hash relation (~250 B/row at a 5% heap budget ⇒ heap div
    * 5000 rows). The built relation must fit EXECUTOR heaps, not just the
    * driver's, so the bound is min(driver heap, `spark.executor.memory`
    * when set) — on a cluster with a large driver and small executors the
    * driver-only bound would pass and executors could still OOM; in local
    * mode the two are one JVM and the driver term binds, unchanged. The
    * measured 1M-row default assumes ≥ 8 GB executors (BENCH.md round-5
    * continuation); a memory-constrained deployment must degrade to the
    * shuffle-hash path, never OOM building a broadcast it cannot afford. */
  private[graft] def effectiveBroadcastCap(configured: Long,
                                           spark: SparkSession): Long = {
    val driverHeap = Runtime.getRuntime.maxMemory()
    val execHeap = executorHeapBytes(spark.sparkContext.getConf, driverHeap)
    math.min(configured, math.min(driverHeap, execHeap) / 5000L)
  }

  /** `spark.executor.memory` in bytes, read as Spark reads it: a unitless
    * value is MiB (`4096` = 4 GiB, not 4 KB). `unset` when absent. */
  private[graft] def executorHeapBytes(conf: org.apache.spark.SparkConf, unset: Long): Long =
    if (conf.contains("spark.executor.memory"))
      conf.getSizeAsMb("spark.executor.memory") * 1024L * 1024L
    else unset

  /** xxhash64 with Spark SQL's default seed 42 — byte-compatible with the
    * built-in `xxhash64()` function so Scala-side and Column-side keys agree. */
  def urlHash(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    d.map("%02x".format(_)).mkString
  }

  /** Deterministic run id in W3C traceparent format
    * (reference: src/domain/value_objects.rs:71-78). */
  def runId(config: CrawlConfig): String = {
    val h = sha256Hex(config.toString)
    s"00-${h.substring(0, 32)}-${h.substring(32, 48)}-01"
  }

  private[graft] def entryFor(canonical: String, rawUrl: String, depth: Int, parent: String): FrontierEntry = {
    // one parse for both fields (= extractDomain / pathDepth of `canonical`)
    val p = UrlKernel.parse(canonical)
    val host = p.filter(_.hasHost).fold("")(_.host)
    val pd = p.fold(0)(UrlKernel.pathDepth)
    FrontierEntry(canonical, rawUrl, depth, parent, host, pd, urlHash(canonical))
  }

  /** Canonical-keyed fetchable view of a Common-Crawl-style pages table.
    * Such a table holds MULTIPLE captures of one page (re-crawls,
    * www/non-www variants); one fetchable row per canonical URL: the latest
    * warc_ts wins, ties broken by largest served url, then by lexicographic
    * payload order — without this the fetch join multiplies wave rows and
    * corrupts error counts.
    *
    * Scale shape: the naive `groupBy(canonical).agg(max(struct(..html..)))`
    * is a SortAggregate that SORTS the multi-KB payload bytes of the entire
    * input — the same "html must never be sorted" rule the fetch join
    * obeys, violated on the biggest table in the system (it OOM-thrashed a
    * 360k-page corpus on an 8 GB heap). Instead the winner is chosen over
    * SMALL columns only — (warcTs, servedUrl), a pruned two-column read
    * (~1% of the table's bytes at web html sizes) — and joined back on
    * canonical alone (SHUFFLE_HASH, so payloads are hashed, never sorted,
    * and the join's exchange doubles as the canonical hash-partitioning the
    * per-wave fetch join reuses). Captures tied on the full (canonical,
    * warcTs, servedUrl) key are detected with one small-column action and
    * deep-tie-collapsed by actual payload bytes only when present — the
    * typical no-tie table never touches a payload aggregation at all. The canonicalize is the native codegen
    * Catalyst expression, not a ScalaUDF — it runs on the FULL pages table
    * (100 TB at target scale) and must stay inside whole-stage codegen.
    * Shared by the batch wave loop and the streaming crawl twin. */
  private[graft] def preparePages(pages: Dataset[PageRow],
                                  spillDir: Option[String] = scala.None,
                                  broadcastWinnersMaxRows: Long = 500000L,
                                  registerRelease: (() => Unit) => Unit = _ => ()): DataFrame = {
    val canonCol = graft.functions.GraftExpressions.canonicalize_url(col("url"))
    val keyed = pages
      .withColumn("canonicalUrl", canonCol)
      .filter(col("canonicalUrl").isNotNull)
      .withColumn("pick", struct(col("warc_ts").as("warcTs"), col("url").as("servedUrl")))
    // winner + duplicate detection over SMALL COLUMNS ONLY — the pick is
    // (warcTs, servedUrl), so this whole pipeline reads just two scalar
    // columns (a parquet scan prunes the payload bytes entirely: ~1% of the
    // table's bytes at Common-Crawl html sizes). The winner table is
    // materialized ONCE — the ties check and the join(s) below all read the
    // materialized copy. Default: eager localCheckpoint (blocks are
    // ContextCleaner-managed, freed on GC — crawls run many-per-JVM;
    // caveat: non-resilient to executor loss). With `spillDir` set
    // (config.spillIntermediates), winners are WRITTEN to that table and
    // read back — the durable path a long crawl on a real cluster opts
    // into; outputs are identical either way (tested).
    val picksAgg = keyed.groupBy(col("canonicalUrl"), col("pick"))
      .agg(count(lit(1)).as("nDup"))
    val winnersBase = picksAgg.groupBy(col("canonicalUrl"))
      .agg(max(struct(col("pick"), col("nDup"))).as("w"))
      .select(col("canonicalUrl"), col("w.pick").as("winner"), col("w.nDup").as("nDup"))
    val winners = spillDir match {
      case Some(dir) =>
        winnersBase.write.mode("overwrite").parquet(dir)
        pages.sparkSession.read.parquet(dir)
      case scala.None =>
        val w = winnersBase.localCheckpoint()
        // checkpoint blocks need the releaseBlocks discipline (plain
        // unpersist is a no-op on them) — the caller registers this for
        // its end-of-crawl cleanup, when nothing reads `prepared` again
        registerRelease(() => releaseBlocks(w))
        w
    }
    // One small job over the materialized winners (checkpointed blocks /
    // spilled table) yields BOTH the tie detection and the join-strategy
    // count: a winner table at or under the broadcast cap joins back as a
    // BROADCAST build, so the multi-KB html side never enters an exchange
    // at all; above the cap (10^10-canonical deployments) the SHUFFLE_HASH
    // co-partitioned join takes over — html hashed, never sorted, and its
    // exchange doubles as the canonical partitioning the per-wave fetch
    // join reuses.
    val wStats = winners.agg(count(lit(1)), sum(when(col("nDup") > 1, 1L).otherwise(0L))).head()
    val nWinners = wStats.getLong(0)
    val hasTies = !wStats.isNullAt(1) && wStats.getLong(1) > 0L
    def winnerJoin(w: DataFrame): DataFrame = {
      val small = w.select("canonicalUrl", "winner")
      val build = if (nWinners <= broadcastWinnersMaxRows) broadcast(small)
                  else small.hint("shuffle_hash")
      keyed
        .join(build, Seq("canonicalUrl"))
        .filter(col("pick") === col("winner"))
        .select(col("canonicalUrl"), col("pick.servedUrl").as("servedUrl"),
          col("pick.warcTs").as("warcTs"),
          col("html"), col("text").as("storedText"), col("lang").as("storedLang"))
    }
    if (!hasTies) winnerJoin(winners)
    else {
      // somewhere in the table, multiple captures share the FULL (canonical,
      // warcTs, servedUrl) key: collapse those survivors by lexicographic
      // max over the ACTUAL payload bytes — exactly the deep tie-break the
      // naive max(struct(.., html, ..)) implemented, fully deterministic by
      // content. The collapse is scoped to the TIED GROUPS ONLY (winners
      // split by nDup, both halves read the checkpointed winner blocks): one
      // tie anywhere must not route every group through a payload
      // aggregation. The untouched nDup == 1 rows flow through the plain
      // winner join; the tied slice — almost always a handful of groups —
      // pays a second pages pass plus a bounded, tied-output-sized payload
      // aggregation riding its join's canonical partitioning.
      val clean = winnerJoin(winners.filter(col("nDup") === 1))
      val deep = winnerJoin(winners.filter(col("nDup") > 1))
        .groupBy("canonicalUrl")
        .agg(first("servedUrl").as("servedUrl"), first("warcTs").as("warcTs"),
          max(struct(col("html"), col("storedText"), col("storedLang"))).as("p"))
        .select(col("canonicalUrl"), col("servedUrl"), col("warcTs"),
          col("p.html").as("html"), col("p.storedText").as("storedText"),
          col("p.storedLang").as("storedLang"))
      clean.unionByName(deep)
    }
  }

  /** The per-link admission chain (scheme filter → robots/sitemap-file skip
    * → include/exclude patterns → internal-only → query-param cap →
    * canonicalize), one place for both the batch wave loop and the streaming
    * crawl twin — the streams stay in lock-step by construction.
    * (url_validator.rs:75-80, url_filter.rs:84-133, batch_processor.rs:69-76.)
    * Each link is parsed ONCE and every step reads the parsed form; the
    * internal-only test looks the link's host and its dot-suffixes up in
    * `seedHosts` ([[isSeedInternal]]), so its cost does not grow with the
    * seed count. */
  private[graft] def linkCandidates(
      links: Iterator[String], parentUrl: String, childDepth: Int,
      includes: Seq[String], excludes: Seq[String],
      internalOnly: Boolean, seedHosts: Set[String], maxQueryParams: Int): Iterator[FrontierEntry] =
    links.flatMap { l =>
      UrlKernel.parse(l)
        .filter(p => p.scheme == "http" || p.scheme == "https")
        .filter(_ => !l.endsWith("/robots.txt") && !l.endsWith("/sitemap.xml"))
        // an http(s) parse always has a host, so host matching is exactly
        // UrlKernel.isAllowed's / isInternal's on the raw link
        .filter(p => UrlKernel.isAllowedHost(p.host, includes, excludes))
        .filter(p => !internalOnly || isSeedInternal(p.host, seedHosts))
        .filter(p => UrlKernel.paramCount(p) <= maxQueryParams)
        .map(p => entryFor(UrlKernel.canonicalize(p), l, childDepth, parentUrl))
    }

  /** `seedHosts.exists(h => host == h || host.endsWith("." + h))` (the
    * [[UrlKernel.isInternal]] rule against every seed) as |dots(host)| + 1
    * set lookups: `host` itself, then each suffix after one of its dots. */
  private[graft] def isSeedInternal(host: String, seedHosts: Set[String]): Boolean = {
    if (seedHosts.contains(host)) return true
    var i = host.indexOf('.')
    while (i >= 0) {
      if (seedHosts.contains(host.substring(i + 1))) return true
      i = host.indexOf('.', i + 1)
    }
    false
  }

  /** The seed frontier of both runs: canonicalized depth-0 entries, one per
    * canonical under the [[Frontier.merge]] rule, sorted by canonical.
    * Deduped on the driver, where the seed list already lives: no shuffle
    * job for a list held in memory. */
  private[graft] def seedFrontier(spark: SparkSession, seeds: Seq[String]): Dataset[FrontierEntry] = {
    import spark.implicits._
    spark.createDataset(seeds.iterator
      .flatMap(s => UrlKernel.canonicalize(s).map(c => entryFor(c, s, 0, ""))).toVector
      .groupBy(_.canonicalUrl).valuesIterator
      .map(_.reduce(Frontier.merge[FrontierEntry] _))
      .toVector.sortBy(_.canonicalUrl))
  }

  /** One row of the fetch-join output (wave side + page side). */
  final case class FetchedRow(
      canonicalUrl: String, url: String, depth: Int, parentUrl: String, host: String,
      servedUrl: String, warcTs: java.sql.Timestamp,
      html: Array[Byte], storedText: String, storedLang: String)

  /** One extracted page: its `page` row, the wave row's `host`, its
    * admitted next-wave `links` (empty at `maxDepth`), its `chunks` (empty
    * unless asked for) and its text-parity flag. */
  final case class ExtractOut(
      page: ExtractedPage, host: String, links: Seq[FrontierEntry], chunks: Seq[ChunkRow],
      parityOk: Boolean,
      // server-directed wait parsed from a WAF/rate-limit page body
      // (TextKit.retryHintSeconds); populated only under breakerPoliteness,
      // engine-internal — never written to a sink
      retryHintSecs: Long = 0L)

  /** Deferred releases of persisted or checkpointed frames, registered at
    * creation so that every exit path can run them. Thread-safe: frames
    * built on pool threads register too. */
  private[graft] final class Releases {
    private val fs = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def add(f: => Unit): Unit = synchronized { fs += (() => f) }
    /** Runs every registered release once and forgets it; a failing
      * release does not stop the rest. */
    def releaseAll(): Unit =
      synchronized { val all = fs.toList; fs.clear(); all }
        .foreach(f => try f() catch { case _: Throwable => () })
  }

  /** A crawl's robots tables: `gate`, the hosts that Disallow something
    * (the right side of [[Robots.gate]], broadcast while under 200k rows),
    * and `delayBudgets`, the binding Crawl-delay caps. Each is absent when
    * its feature is off; `delayBudgets` also when no cap binds. */
  private[graft] final case class RobotsTables(
      gate: Option[DataFrame], delayBudgets: Option[Dataset[HostBudget]])

  /** Robots prep, shared by the batch wave loop and the streaming twin:
    * ONE scan + parse of the raw input's robots.txt bodies
    * ([[Robots.directivesTable]]) builds both tables. Rules are parsed on
    * EXECUTORS and stay host-keyed tables — never collected to the driver:
    * at Common-Crawl scale there are 10^7+ hosts and a driver map would
    * OOM. Only hosts that Disallow something keep a gate row (most
    * robots.txt files gate nothing for `*`), and only BINDING delay caps
    * emit budget rows (both host spellings — the selection's budget join keys on
    * the frontier's literal host), so both tables are small minorities of
    * hosts. The directives frame is cached while both tables materialize,
    * then released; the tables register their own release. */
  private[graft] def robotsTables(pages: Dataset[PageRow], config: CrawlConfig,
                                  registerRelease: (() => Unit) => Unit): RobotsTables = {
    val gateOn = config.respectRobots && config.maxDepth > 0
    val delayOn = config.respectCrawlDelay && config.perHostBudget > 0 && config.respectRobots
    if (!gateOn && !delayOn) RobotsTables(scala.None, scala.None)
    else {
      val dirs = Robots.directivesTable(pages.sparkSession, pages.toDF())
        .persist(StorageLevel.MEMORY_AND_DISK)
      def materialized[T](ds: Dataset[T]): (Dataset[T], Long) = {
        val t = ds.localCheckpoint()
        registerRelease(() => releaseBlocks(t))
        (t, rowCount(t))
      }
      try {
        val gate = if (!gateOn) scala.None else {
          val (t, n) = materialized(Robots.rulesFromDirectives(dirs))
          Some(if (n < 200000L) broadcast(t) else t)
        }
        val delays = if (!delayOn) scala.None else {
          val (t, n) = materialized(Robots.delayBudgetsFromDirectives(dirs,
            config.waveModelSeconds, config.perHostBudget))
          Some(t).filter(_ => n > 0L)
        }
        RobotsTables(gate, delays)
      } finally dirs.unpersist()
    }
  }

  /** The per-wave fetch: the wave's selected rows ⋈ the prepared pages
    * table on canonical URL. The html side must never be sorted OR
    * needlessly shuffled: a wave at or under the broadcast cap (its row
    * count `waveRows` is already known) joins as a BROADCAST build — the
    * pages side streams straight from its scan/cache with zero exchange; a
    * wider wave falls back to SHUFFLE_HASH against the pre-partitioned
    * table (html hashed, never sorted — sorting 100 TB of html to join a
    * wave is wrong). */
  private[graft] def fetchJoin(prepared: DataFrame, wave: DataFrame, waveRows: Long,
                               broadcastWaveMaxRows: Long): Dataset[FetchedRow] = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val waveCols = wave.select("canonicalUrl", "url", "depth", "parentUrl", "host")
    prepared.join(
      if (waveRows <= effectiveBroadcastCap(broadcastWaveMaxRows, spark)) broadcast(waveCols)
      else waveCols.hint("shuffle_hash"),
      Seq("canonicalUrl"), "inner")
      .select(col("canonicalUrl"), col("url"), col("depth"), col("parentUrl"), col("host"),
        col("servedUrl"), col("warcTs"), col("html"), col("storedText"), col("storedLang"))
      .as[FetchedRow]
  }

  /** The fused extract stage: clean → text → links → lang → WAF → chunks
    * in ONE mapPartitions — one codegen-opaque stage, no row-format churn
    * (SURVEY §4 design #4). The html is parsed once; text and links share
    * the tree. Links are extracted from every page that is not a WAF page
    * and go through the crawl's `admission` here, so `links` holds the
    * page's next-wave candidates. Chunk rows (one sha256 each) are built
    * only when `chunks` is set — when a chunks sink reads them;
    * `retryHints` reads the server-directed wait off WAF pages, which only
    * breaker politeness consumes. */
  private[graft] def fusedExtract(fetched: Dataset[FetchedRow], wave: Int, retryHints: Boolean,
                                  chunks: Boolean, admission: LinkAdmission): Dataset[ExtractOut] = {
    val spark = fetched.sparkSession
    import spark.implicits._
    fetched.mapPartitions { it =>
      it.map { r =>
        val html = new String(r.html, UTF_8)
        val dom = HtmlKit.parse(html)
        val ex = HtmlKit.extractText(dom, html)
        val waf = TextKit.detectWafChallenge(html).getOrElse("")
        val spa = HtmlKit.isSpa(html, ex.text)
        val lang = TextKit.detectLanguage(ex.text).getOrElse("")
        val links = if (waf.isEmpty) HtmlKit.extractLinks(dom, r.servedUrl) else Vector.empty[String]
        val chunkRows =
          if (chunks && waf.isEmpty && !ex.failed)
            TextKit.chunkText(ex.text).zipWithIndex.map { case (c, i) =>
              ChunkRow(sha256Hex(r.canonicalUrl + "#" + i), r.canonicalUrl, ex.title, c, i,
                lang, TextKit.wordCount(c), r.warcTs)
            }
          else Vector.empty[ChunkRow]
        val page = ExtractedPage(r.canonicalUrl, r.url, ex.title, ex.text, lang,
          ex.usedFallback, ex.failed, spa, waf,
          r.html.length.toLong, ex.text.getBytes(UTF_8).length.toLong, wave, r.depth)
        val hint = if (retryHints && waf.nonEmpty) TextKit.retryHintSeconds(html) else 0L
        ExtractOut(page, r.host, admission(links.iterator, r.url, r.depth).toVector, chunkRows,
          ex.text == r.storedText, hint)
      }
    }
  }

  /** A crawl's link admission, applied per page inside [[fusedExtract]]:
    * the links of a page above `maxDepth` through the admission chain
    * ([[linkCandidates]]). The seed hosts and the include/exclude lists are
    * broadcast once per crawl. */
  private[graft] final case class LinkAdmission(
      maxDepth: Int, internalOnly: Boolean, maxQueryParams: Int,
      seedHosts: Broadcast[Set[String]], includes: Broadcast[Seq[String]],
      excludes: Broadcast[Seq[String]]) {
    def apply(links: Iterator[String], parentUrl: String, depth: Int): Iterator[FrontierEntry] =
      if (depth >= maxDepth) Iterator.empty
      else linkCandidates(links, parentUrl, depth + 1, includes.value, excludes.value,
        internalOnly, seedHosts.value, maxQueryParams)
  }

  /** A crawl's link generation: the `admission` [[fusedExtract]] applies,
    * and the per-wave step from an extract's `links` column to its
    * next-wave candidates, through the robots gate when one is given. */
  private[graft] final class LinkGen(val admission: LinkAdmission, robotsGate: Option[DataFrame]) {
    def apply(extracted: DataFrame): Dataset[FrontierEntry] = {
      val spark = extracted.sparkSession
      import spark.implicits._
      val links = extracted.select(explode(col("links")).as("e")).select("e.*").as[FrontierEntry]
      robotsGate.fold(links)(Robots.gate(spark, links, _))
    }
  }

  private[graft] def linkGen(spark: SparkSession, config: CrawlConfig,
                             robotsGate: Option[DataFrame]): LinkGen = {
    val sc = spark.sparkContext
    val seedHosts = config.seeds.flatMap(s => UrlKernel.canonicalize(s).flatMap(UrlKernel.extractDomain)).toSet
    new LinkGen(LinkAdmission(config.maxDepth, config.internalOnly, config.maxQueryParams,
      sc.broadcast(seedHosts), sc.broadcast(config.includePatterns), sc.broadcast(config.excludePatterns)),
      robotsGate)
  }

  /** Retry-After → breaker cooldown, in waves: a server-directed hint
    * clamps through the shared [[RetryAfter.waitSeconds]] policy and
    * converts at waveModelSeconds per wave (Retry-After is WALL-CLOCK, and
    * one wave models that many seconds of politeness time); no hint falls
    * back to the breaker's fixed
    * [[graft.pipeline.CircuitBreaker.Cooldown]]. Capped at 64 waves — an
    * abusive demand must not park a host for a whole crawl. */
  private[graft] def cooldownWavesFor(hintSecs: Long, waveModelSeconds: Int): Int =
    if (hintSecs <= 0L) graft.pipeline.CircuitBreaker.Cooldown
    else {
      val wait = RetryAfter.waitSeconds(Some(hintSecs.toString), 0, 0L)
      math.max(1, math.min(64, ((wait + waveModelSeconds - 1) / waveModelSeconds).toInt))
    }

  /** A frame materialized for its several readers: checkpointed blocks
    * (the lineage cut), whose release is registered in `releases`. A
    * checkpoint's readers scan its rows inside their own codegen stage,
    * where a cached relation adds a generated column iterator per column
    * subset read. */
  private[graft] def materialize[T](ds: Dataset[T], releases: Releases): Dataset[T] = {
    val m = ds.localCheckpoint()
    releases.add(releaseBlocks(m))
    m
  }

  /** A materialized frame with its row count ([[rowCount]]). */
  private[graft] def materializeCounted[T](ds: Dataset[T], releases: Releases): (Dataset[T], Long) = {
    val m = materialize(ds, releases)
    (m, rowCount(m))
  }

  /** The rows of a frame, counted over its internal rows ([[internalRows]]):
    * a checkpoint's count reads its blocks with no plan, so counting takes
    * no codegen-cache entries. */
  private[graft] def rowCount(ds: Dataset[_]): Long = internalRows(ds).count()

  /** The internal rows of a frame: a checkpoint's blocks as they are
    * stored, any other frame through its executed plan. */
  private def internalRows(ds: Dataset[_]): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    ds.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case _ => ds.queryExecution.toRdd
    }

  /** A frame of frontier-entry columns as entry objects, read off its
    * internal rows by field name: no deserializer is generated. */
  private def entries(ds: Dataset[FrontierEntry]): org.apache.spark.rdd.RDD[FrontierEntry] = {
    val at = Frontier.EntryColumns.map(ds.schema.fieldIndex)
    internalRows(ds).map { r =>
      def str(i: Int) = if (r.isNullAt(at(i))) null else r.getUTF8String(at(i)).toString
      FrontierEntry(str(0), str(1), r.getInt(at(2)), str(3), str(4), r.getInt(at(5)), r.getLong(at(6)))
    }
  }

  /** A struct's fields read back nullable; the engine never writes a null
    * page or chunk, so filling the numeric and boolean columns changes no
    * row and keeps them required in the sink's parquet schema, as the
    * case class encodes them. */
  private def requiredPrimitives(df: DataFrame): DataFrame = df.na.fill(0L).na.fill(false)

  /** The rows of a frame and how many of them have the boolean column
    * `flag` false, in one pass over its internal rows. */
  private[graft] def countAndFailures(df: DataFrame, flag: String): (Long, Long) = {
    val i = df.schema.fieldIndex(flag)
    internalRows(df).aggregate((0L, 0L))(
      (acc, r) => (acc._1 + 1L, if (r.getBoolean(i)) acc._2 else acc._2 + 1L),
      (a, b) => (a._1 + b._1, a._2 + b._2))
  }

  final case class CrawlSummary(
      runId: String, waves: Int, fetchedTotal: Long, errorsTotal: Long,
      parityFailures: Long, stateDir: String)

  final case class WaveStats(wave: Int, selected: Long, fetched: Long, errors: Long, newFrontier: Long)

  /** Output readers — everything the engine writes under `stateDir/out`. */
  def readOrder(spark: SparkSession, stateDir: String): Dataset[CrawlOrderRow] = {
    import spark.implicits._
    spark.read.parquet(s"$stateDir/out/crawl_order").as[CrawlOrderRow].orderBy("wave", "rank")
  }
  def readPages(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/out/pages")
  def readChunks(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/out/chunks")
  def readMetrics(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/out/metrics")

  /** @param writeOutputs when false, the crawl_order/pages/chunks/metrics
    *   sinks are skipped (snapshot commits still happen). Extraction is fully
    *   materialized either way — the per-wave stats action consumes the
    *   fused-extract output. Used by the throughput benchmark, whose metric
    *   is fetch+extract pages/sec, not disk bandwidth. */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      config: CrawlConfig,
      stateDir: String,
      resume: Boolean = false,
      waveLimit: Int = 1000,
      writeOutputs: Boolean = true,
      prePartitionPages: Boolean = true,
      log: String => Unit = _ => ()
  ): CrawlSummary = {
    import spark.implicits._
    val tStart = System.nanoTime()
    def elapsed: String = f"t=${(System.nanoTime() - tStart) / 1e9}%.1fs"
    val store = new SnapshotStore(stateDir)
    store.init()
    val rid = runId(config)

    // Driver-side pool for the concurrent per-wave sink writes and the prep
    // overlap below.
    val sinkEc = graft.pipeline.Par.executor(6)
    implicit val ec: scala.concurrent.ExecutionContext = sinkEc

    // Every persisted or checkpointed frame registers its release when it
    // is created: crawl-lifetime frames (prepared pages, winners, robots
    // tables) in crawlCaches; the wave in progress's frames in waveCaches,
    // released and cleared at every wave end; the frames built for the
    // next wave (its frontier checkpoint and prefetched selection) in
    // nextWaveCaches, which become the consuming wave's waveCaches.
    val crawlCaches = new Releases
    var waveCaches = new Releases
    var nextWaveCaches = new Releases
    // Next wave's (frontier, politeness selection, count), PREFETCHED during
    // the previous wave's write window (launched near the end of the wave
    // body below).
    var prefetch: Option[Future[(Dataset[FrontierEntry], Dataset[FrontierEntry], Long)]] = scala.None

    // Resource release on ANY exit: a failed concurrent sink write (Await
    // rethrows) must not leak executor storage, the sink pool, or the
    // store's FileSystem — crawls run many-per-JVM (CrawlQueries). The
    // in-flight prefetch drains FIRST (bounded): its Spark jobs must not
    // race the release of the frames they read, nor the pool/store close.
    def cleanupAll(): Unit = {
      prefetch.foreach { f =>
        try Await.ready(f, Duration(120, "s")) catch { case _: Throwable => () }
      }
      prefetch = scala.None
      nextWaveCaches.releaseAll()
      waveCaches.releaseAll()
      crawlCaches.releaseAll()
      try sinkEc.shutdown() catch { case _: Throwable => () }
      store.close()
    }
    try {

    // ---- robots tables (robotsTables), CONCURRENT with the pages-prep
    // winner materialization below — independent scans of the same input
    // (the robots scan reads the raw input, so single-wave runs never force
    // the prepared pipeline twice)
    val robotsFuture = Future(robotsTables(pages, config, f => crawlCaches.add(f())))

    // ---- pages table prep: canonical key + explicit co-partitioning --------
    // (SURVEY §4.1: frontier⋈pages repeats every wave; pre-hash-partitioning
    // + caching the big side means only the wave-sized side ever shuffles on
    // waves ≥ 1. For single-wave jobs — a saturated frontier — the
    // repartition+cache is pure overhead, so it's switchable: the join then
    // shuffles the pages side exactly once, inside the measured dataflow.)
    // The robots future is awaited on every exit of the prep, so a failed
    // prep never leaves it registering tables after the release.
    val prepared = try {
      val base = preparePages(pages,
        if (config.spillIntermediates) Some(s"$stateDir/intermediates/pages-winners") else scala.None,
        effectiveBroadcastCap(config.broadcastWaveMaxRows, spark),
        registerRelease = f => crawlCaches.add(f()))
      if (prePartitionPages) materialize(base, crawlCaches) else base
    } finally Await.ready(robotsFuture, Duration.Inf)
    val robots = Await.result(robotsFuture, Duration.Inf)
    log(s"prep done (pages cached + robots rules table) $elapsed")

    val linkGenActive = config.maxDepth > 0
    val discover = linkGen(spark, config, robots.gate)

    // ---- resume or cold start --------------------------------------------
    // (the seen set itself is read from the store each wave, after the
    // wave's delta is written)
    var (wave, frontier, fetchedTotal, errorsTotal0, parityFailures0, seenCount0) =
      (resume, store.current()) match {
        case (true, Some(w)) =>
          val m = store.manifest(w)
          log(s"resuming from snapshot wave=$w fetched=${m.fetchedTotal} errors=${m.errorsTotal}")
          (w + 1, store.loadFrontier(spark, w).as[FrontierEntry],
            m.fetchedTotal, m.errorsTotal, m.parityFailures, store.loadSeen(spark, w).count())
        case _ =>
          (0, seedFrontier(spark, config.seeds), 0L, 0L, 0L, 0L)
      }
    var seenCount = seenCount0
    var errorsTotal = errorsTotal0
    var parityFailures = parityFailures0

    // A per-wave state table (budgets/, breaker/) as the wave wrote it, if
    // it did. Written per wave → resumable, and the read-back cuts the
    // wave-over-wave lineage exactly like the frontier/seen snapshots.
    // Hadoop FileSystem, not java.io.File: stateDir may live on
    // hdfs://-style storage in a real deployment (file:// when schemeless).
    def waveTable(kind: String, w: Int): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$stateDir/$kind/wave=$w")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(spark.read.parquet(p.toString))
      else scala.None
    }

    // ---- adaptive politeness state (sparse host→budget table) -------------
    // Adaptive politeness is meaningless under an unlimited budget
    // (perHostBudget <= 0 skips selection entirely): gate ALL of its
    // machinery — budget load, health join, per-wave budgets write — off,
    // not just the selection.
    val breakerActive = config.breakerPoliteness && config.perHostBudget > 0
    val adaptiveActive = (config.adaptivePoliteness || breakerActive) && config.perHostBudget > 0
    def loadBudgets(w: Int): Dataset[HostBudget] =
      (if (adaptiveActive) waveTable("budgets", w) else scala.None)
        .fold(spark.emptyDataset[HostBudget])(_.as[HostBudget])
    var hostBudgets: Dataset[HostBudget] = loadBudgets(wave - 1)

    // ---- circuit-breaker politeness state (sparse host→state table) --------
    // The per-host breaker (closed → open → half_open) rides NEXT TO the
    // budget table: stored per wave like budgets, kept sparse —
    // closed-and-clean hosts leave the table. The state machine is
    // pipeline.CircuitBreaker.step, the SAME kernel the q_circuit_breaker
    // oracle and the streaming twin run — parity by construction.
    def loadBreaker(w: Int): DataFrame =
      (if (breakerActive) waveTable("breaker", w) else scala.None).getOrElse(
        spark.emptyDataset[(String, String, Int, Int)].toDF("host", "state", "consec", "cooldownLeft"))
    var breakerStates: DataFrame = loadBreaker(wave - 1)
    // open-state hosts project into budget overrides: cooling → 0 (the
    // whole host suppressed — a dying server must not absorb wave budget),
    // cooldown-expired → 1 (exactly one probe fetch decides recovery)
    def breakerBudgets: Dataset[HostBudget] =
      breakerStates.filter(col("state") === "open")
        .select(col("host"), when(col("cooldownLeft") > 0, 0).otherwise(1).as("budget"))
        .as[HostBudget]

    // Wave-sized output files: a politeness-bound wave of a few thousand
    // KB-scale rows must not pay #partitions task-setup + commit-rename
    // overhead per sink, nor leave 32 tiny files per wave for loadSeen to
    // re-list every subsequent wave (the small-files problem — wrong at BOTH
    // ends of scale). ~8k rows/file ≈ tens of MB at web-page row sizes; wide
    // saturated waves keep full parallelism.
    val OutRowsPerFile = 8192L
    def outFiles(rows: Long): Int = math.min(
      math.max(1L, (rows + OutRowsPerFile - 1) / OutRowsPerFile),
      spark.sparkContext.defaultParallelism.toLong).toInt

    // -- politeness selection builder (shared by the in-wave path and the
    // next-wave prefetch below): deterministic per-host top-k
    // (Frontier.politenessSelectBudgets). An empty frontier yields
    // selCount == 0 below — no separate count job. perHostBudget <= 0 =
    // UNLIMITED: politeness off, the whole frontier is the wave and the
    // top-k shuffle is skipped entirely — the saturated-frontier regime (a
    // budget set at or above every host's count selects the same rows; this
    // takes that path without paying the shuffle to discover it).
    // Crawl-delay caps, adaptive budgets and breaker overrides (suppress=0,
    // probe=1) merge most-restrictive-wins: the selection takes each host's
    // smallest budget over the union; no active source leaves the table
    // empty — every host at the default budget.
    def effectiveBudgets: Dataset[HostBudget] =
      Seq(
        if (adaptiveActive) Some(hostBudgets) else scala.None,
        robots.delayBudgets,
        if (breakerActive) Some(breakerBudgets) else scala.None).flatten
        .reduceOption(_ union _).getOrElse(spark.emptyDataset[HostBudget])
    // The selection is materialized (its release registered in `releases`)
    // with its row count; the unlimited path selects the frontier, which
    // is already materialized.
    def selectFrom(fr: Dataset[FrontierEntry], releases: Releases): (Dataset[FrontierEntry], Long) =
      if (config.perHostBudget <= 0) (fr, rowCount(fr))
      else materializeCounted(Frontier.politenessSelectBudgets(
        spark, fr, effectiveBudgets, config.perHostBudget, config.saltBuckets), releases)

    // Carried seen-set sketch (per-run; a resume rebuilds on first use)
    val seenBloom = new Frontier.SeenBloom()

    // (prefetch mechanics: the next frontier is materialized exactly once —
    // localCheckpoint on the driver thread, the lineage cut — and the
    // selection + count future reads those blocks while the output sinks,
    // the snapshot write, the commit, and the wave teardown proceed. Never
    // the raw lazy plan: racing the snapshot write into the un-materialized
    // lineage would duplicate full-wave computes.)
    var done = false
    while (!done && wave < waveLimit && fetchedTotal < config.maxPages) {
      val (frontierPersisted, selectedAll, rawCount) = prefetch match {
        case Some(f) =>
          // the prefetched frames belong to the wave that consumes them
          prefetch = scala.None
          waveCaches = nextWaveCaches
          nextWaveCaches = new Releases
          Await.result(f, Duration.Inf)
        case scala.None =>
          val fp = frontier.persist(StorageLevel.MEMORY_AND_DISK)
          waveCaches.add(releaseBlocks(fp))
          val (s, n) = selectFrom(fp, waveCaches)
          (fp, s, n)
      }
      log(s"wave=$wave politeness-select done ($rawCount rows) $elapsed")
      val remaining = (config.maxPages - fetchedTotal).min(Int.MaxValue.toLong).toInt
      // max_pages cap (results_channel.rs:144-146): the single-partition
      // GlobalLimit funnel only runs when the cap actually binds — i.e. on
      // the final, already-small remainder — never on a full-size wave.
      val (selected, selCount) =
        if (rawCount > remaining)
          materializeCounted(selectedAll.orderBy(Frontier.priorityCols: _*).limit(remaining), waveCaches)
        else (selectedAll, rawCount)
      if (selCount == 0) {
        done = true
        // the empty final wave must still release its cached frames — crawls
        // run many-per-JVM (CrawlQueries) and leaked caches accumulate
        waveCaches.releaseAll()
      }
      else {
        {
          // -- simulated fetch (fetchJoin) + fused extract (fusedExtract);
          // chunk rows only when the chunks sink writes them
          val fetchedDs = fetchJoin(prepared, selected.toDF(), selCount, config.broadcastWaveMaxRows)
          val extractPlan = fusedExtract(fetchedDs, wave, retryHints = breakerActive,
            chunks = writeOutputs, discover.admission).toDF()
          // materialized only when a second consumer exists (output sinks,
          // the link-generation pass, or the adaptive-politeness health agg);
          // a single-consumer wave streams it once
          val extracted =
            if (writeOutputs || linkGenActive || adaptiveActive) materialize(extractPlan, waveCaches)
            else extractPlan

          // one pass for count + parity
          val (fetchCount, parityFailWave) = countAndFailures(extracted, "parityOk")
          parityFailures += parityFailWave
          log(s"wave=$wave fetch+extract done ($fetchCount rows) $elapsed")

          // -- errors: selected-but-missing rows (simulated 404s) -----------
          val errCount = selCount - fetchCount
          errorsTotal += errCount

          // -- per-host health, shared by the metrics sink and the
          // politeness updates: ONE aggregation over the wave's selected rows
          // and its fetched pages. The fetch join yields at most one page
          // per selected row, so a host's errors (selected rows with no
          // page) are its selected count minus its fetched count — no join
          // against the pages table. Persisted only when more than one
          // consumer reads it (metrics sink + budget update + breaker
          // update); a single consumer streams it once.
          val needHealth = writeOutputs || adaptiveActive
          val twoConsumers = (writeOutputs && adaptiveActive) || breakerActive
          val health = if (!needHealth) null else {
            val zero = lit(0L)
            val h = selected.toDF()
              .select(col("host"), lit(1L).as("selected"), zero.as("fetched"), zero.as("htmlBytes"),
                zero.as("textBytes"), zero.as("exFail"), zero.as("waf"))
              .union(extracted.select(col("host"), zero, lit(1L), col("page.htmlBytes"),
                col("page.textBytes"), col("page.extractionFailed").cast("long"),
                (col("page.wafProvider") =!= "").cast("long")))
              .groupBy("host")
              .agg(sum("fetched").as("fetched"), sum("htmlBytes").as("htmlBytes"),
                sum("textBytes").as("textBytes"), sum("exFail").as("extractionFailures"),
                sum("waf").as("wafBlocked"), (sum("selected") - sum("fetched")).as("errors"))
            if (twoConsumers) {
              h.persist(StorageLevel.MEMORY_AND_DISK)
              waveCaches.add(h.unpersist())
            }
            h
          }

          fetchedTotal += selCount
          seenCount += selCount

          // -- parallel wave writes ----------------------------------------
          // The output sinks (crawl_order / pages / chunks / metrics) and
          // the snapshot DATA writes (frontier, seen-delta) are independent
          // reads of already-materialized caches writing to separate dirs —
          // their jobs run CONCURRENTLY from driver threads (the
          // politeness-bound wave's wall time is small-job latency, and a
          // cluster has idle slots during any single small write). Only
          // finalizeCommit's CURRENT flip is the durability point, and it
          // runs strictly AFTER every write returns: a committed wave has
          // ALL its data on disk, exactly as with serial writes.
          val sinkFutures: Seq[Future[Unit]] = if (!writeOutputs) Seq.empty else {
            val fOrder = Future {
              // wave-local ranks; wave is the major sort key. Distributed
              // total-order rank: range-partitioned sort of the selection's
              // blocks under Frontier.priorityOrdering (the order
              // priorityCols sorts by) + zipWithIndex (partition-offset
              // pass) — no single-partition window funnel, scales to
              // arbitrarily wide waves, and no plan is generated until the
              // write. wave=N dir naming = Spark partition discovery
              // supplies the wave column on read; data files must not
              // repeat it.
              implicit val byPriority: Ordering[FrontierEntry] = Frontier.priorityOrdering
              val ranked = entries(selected).sortBy(identity).zipWithIndex().map { case (e, rank) =>
                Row(rank, e.canonicalUrl, e.url, e.parentUrl, e.depth, e.host)
              }
              val entry = Encoders.product[FrontierEntry].schema
              val orderSchema = StructType(StructField("rank", LongType) +:
                Seq("canonicalUrl", "url", "parentUrl", "depth", "host").map(entry(_)))
              spark.createDataFrame(ranked, orderSchema)
                .coalesce(outFiles(selCount)) // wave-sized files, like the other sinks
                .write.mode("overwrite").parquet(s"$stateDir/out/crawl_order/wave=$wave")
            }
            val fPages = Future {
              // partitionId = the WRITER task's partition (per-partition
              // lineage: row → data file); under the wave-sized coalesce
              // that is the coalesced id, deterministic for a fixed layout
              requiredPrimitives(extracted.select("page.*"))
                .withColumn("runId", lit(rid))
                .withColumn("partitionId", spark_partition_id())
                .drop("wave")
                .coalesce(outFiles(selCount))
                .write.mode("overwrite").parquet(s"$stateDir/out/pages/wave=$wave")
            }
            val fChunks = Future {
              requiredPrimitives(extracted.select(explode(col("chunks")).as("c")).select("c.*"))
                .coalesce(outFiles(selCount))
                .write.mode("overwrite").parquet(s"$stateDir/out/chunks/wave=$wave")
            }
            val fMetrics = Future {
              // per-host metrics (metrics.rs:15-100 equivalents)
              health.na.fill(0L)
                .withColumn("runId", lit(rid))
                .write.mode("overwrite").parquet(s"$stateDir/out/metrics/wave=$wave")
            }
            Seq(fOrder, fPages, fChunks, fMetrics)
          }
          // -- seen += selected: the wave's seen delta is written (on this
          // thread, concurrent with the sink futures above), and the seen
          // set is read back from the store as one scan of its deltas. The
          // delta rides the wave-sized coalesce too: loadSeen re-lists
          // every wave's delta dir on each subsequent wave, so tiny-file
          // growth there is quadratic in crawl length
          store.writeSeenDelta(spark, wave, selected.select("canonicalUrl").coalesce(outFiles(selCount)))
          val newSeen = store.loadSeen(spark, wave)

          // -- next frontier: the frontier plus the wave's gated links, one
          // entry per canonical under Frontier.merge, minus the seen set —
          // the selected rows left the frontier by joining it. The carried
          // sketch absorbs this wave's selected urls as a delta built from
          // the wave-sized blocks — O(wave) sketch maintenance instead of
          // newOnly's per-wave full-seen rebuild.
          val candidates =
            if (linkGenActive) frontierPersisted.union(discover(extracted)) else frontierPersisted
          val nextFrontier = Frontier.nextFrontier(candidates, newSeen,
            seenBloom.update(selected.toDF(), selCount, seenCount, newSeen))
          // It materializes ONCE, on this thread, concurrent with the sink
          // futures above: the heavy dedupe + seen-filter chain runs
          // exactly one time, its blocks are the lineage cut (the
          // localCheckpoint discipline), and THREE consumers read the
          // materialized copy — the snapshot write, the next-wave politeness
          // prefetch, and the next wave's frontier. Its release belongs to
          // the next wave (releaseBlocks: the plain unpersist is a no-op on
          // checkpoint blocks).
          val nextFrontierC = nextFrontier.localCheckpoint()
          nextWaveCaches.add(releaseBlocks(nextFrontierC))
          log(s"wave=$wave frontier-checkpoint done $elapsed")
          val fFrontier = Future {
            store.writeFrontier(spark, wave, nextFrontierC.toDF(), config.snapshotFileTarget)
          }

          // the per-host penalties both politeness updates read
          val penalties = if (!adaptiveActive) null
            else health.select(col("host"), col("errors"), col("wafBlocked").as("waf"))

          // -- adaptive politeness: next wave's per-host budgets -------------
          // (main thread, overlapping the write group above)
          // Legacy rule: penalized hosts (errors or WAF this wave) halve;
          // clean hosts recover by max(1, max/4). Under breakerPoliteness
          // the budget evolves by the shared AIMD kernel instead (below).
          // Hosts back at the max leave the table, so it stays proportional
          // to the set of unhealthy hosts, not to all hosts ever crawled.
          if (adaptiveActive) {
            val maxB = config.perHostBudget
            val minB = config.minHostBudget
            val updated =
              if (breakerActive) {
                // AIMD with the wave budget as the congestion window
                // (pipeline.Aimd.step — the exact q_aimd kernel, wMax = the
                // budget cap): a clean wave earns +1, a penalty wave halves
                // geometrically; hosts NOT crawled this wave keep their
                // window (no acks → no growth, the TCP discipline)
                hostBudgets.toDF()
                  .join(penalties.withColumn("inWave", lit(true)), Seq("host"), "full_outer")
                  .select(col("host"), col("budget"),
                    (coalesce(col("errors"), lit(0L)) + coalesce(col("waf"), lit(0L))).as("penalty"),
                    col("inWave"))
                  .as[(String, Option[Int], Long, Option[Boolean])]
                  .flatMap { case (h, bO, penalty, inW) =>
                    val cur = bO.getOrElse(maxB)
                    val next =
                      if (!inW.getOrElse(false)) cur
                      else {
                        val lat = if (penalty > 0) graft.pipeline.Aimd.SlowMs + 400L else 100L
                        math.max(minB, graft.pipeline.Aimd.step(cur, lat, wMax = maxB))
                      }
                    if (next >= maxB) scala.None else Some(HostBudget(h, next))
                  }.toDF()
              } else {
                val recover = math.max(1, maxB / 4)
                hostBudgets.toDF().join(penalties, Seq("host"), "full_outer")
                  .select(col("host"),
                    coalesce(col("budget"), lit(maxB)).as("cur"),
                    (coalesce(col("errors"), lit(0L)) + coalesce(col("waf"), lit(0L))).as("penalty"))
                  .select(col("host"),
                    when(col("penalty") > 0,
                      greatest(lit(minB), floor(col("cur") / 2).cast("int")))
                      .otherwise(least(lit(maxB), (col("cur") + recover).cast("int")))
                      .as("budget"))
                  .filter(col("budget") < maxB)
              }
            updated.write.mode("overwrite").parquet(s"$stateDir/budgets/wave=$wave")
            hostBudgets = loadBudgets(wave)
          }

          // -- circuit breaker: next wave's per-host states ------------------
          // One pipeline.CircuitBreaker.step per host per wave (the wave IS
          // the breaker's clock tick — it models waveModelSeconds of wall
          // time, which is also what makes Retry-After's wall-clock demand
          // translatable to a cooldown). Cooling hosts tick down whether or
          // not they still hold frontier entries (Retry-After waits are
          // wall-clock, not intent-count); crawled hosts step on their wave
          // outcome (ok = zero errors AND zero WAF blocks); hosts neither
          // cooling nor crawled hold state. Trips honor the strongest
          // server-directed hint the host's blocking pages carried.
          if (breakerActive) {
            val wms = config.waveModelSeconds
            val retryHints = extracted
              .filter(col("retryHintSecs") > 0L)
              .groupBy("host").agg(max("retryHintSecs").as("retryHintSecs"))
            val updatedBreaker = breakerStates
              .join(penalties.join(retryHints, Seq("host"), "left").withColumn("inWave", lit(true)),
                Seq("host"), "full_outer")
              .select(col("host"), col("state"), col("consec"), col("cooldownLeft"),
                col("errors"), col("waf"), col("retryHintSecs"), col("inWave"))
              .as[(String, Option[String], Option[Int], Option[Int],
                Option[Long], Option[Long], Option[Long], Option[Boolean])]
              .flatMap { case (h, stO, cO, cdO, errO, wafO, hintO, inW) =>
                val s = graft.pipeline.CircuitBreaker.BreakerState(
                  stO.getOrElse("closed"), cO.getOrElse(0), cdO.getOrElse(0))
                val next =
                  if (s.state == "open" && s.cooldownLeft > 0)
                    graft.pipeline.CircuitBreaker.step(s, ok = true)._1 // wave elapsed → cooldown-1
                  else if (inW.getOrElse(false)) {
                    val ok = errO.getOrElse(0L) == 0L && wafO.getOrElse(0L) == 0L
                    graft.pipeline.CircuitBreaker.step(s, ok,
                      cooldownOnTrip = cooldownWavesFor(hintO.getOrElse(0L), wms))._1
                  } else s
                if (next == graft.pipeline.CircuitBreaker.Initial) scala.None
                else Some((h, next.state, next.consec, next.cooldownLeft))
              }
              .toDF("host", "state", "consec", "cooldownLeft")
            updatedBreaker.write.mode("overwrite").parquet(s"$stateDir/breaker/wave=$wave")
            breakerStates = loadBreaker(wave)
          }

          // -- next-wave politeness prefetch --------------------------------
          // The selection + count (the driver action that used to HEAD the
          // next wave) runs inside this wave's write window, over the
          // already-materialized next-frontier blocks (no lineage race —
          // the checkpoint above finished on this thread) and launched
          // strictly AFTER the adaptive budget update above, so wave+1's
          // budgets are final. The kernel is the shared selectFrom — rows
          // identical to the inline path.
          val carried = nextWaveCaches
          prefetch = Some(Future {
            val (s, n) = selectFrom(nextFrontierC, carried)
            (nextFrontierC, s, n)
          })

          // -- barrier, then the commit point -------------------------------
          sinkFutures.foreach(f => Await.result(f, Duration.Inf))
          log(s"wave=$wave sink barrier done $elapsed")
          val frontierRows = Await.result(fFrontier, Duration.Inf)
          log(s"wave=$wave frontier-write done ($frontierRows rows) $elapsed")
          store.finalizeCommit(wave, fetchedTotal, errorsTotal, parityFailures, rid)
          log(f"wave=$wave%-3d selected=$selCount%-6d fetched=$fetchCount%-6d errors=$errCount%-4d " +
            f"seen=$seenCount%-7d parityFail=$parityFailWave $elapsed")

          waveCaches.releaseAll()
          // footer stats said the committed frontier is empty: the next
          // iteration's select over it could only yield zero rows — exit
          // without that job (identical summary: the empty-wave path never
          // committed anything either)
          if (frontierRows == 0L) done = true
          wave += 1
        }
      }
    }
    CrawlSummary(rid, wave, fetchedTotal, errorsTotal, parityFailures, stateDir)
    } finally cleanupAll()
  }
}
