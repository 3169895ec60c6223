package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl.CrawlEngine
import graft.extract.{HtmlKit, TextKit}
import graft.gen.CorpusGen
import graft.model.CrawlConfig
import graft.sources.SitemapSeeder
import graft.urls.UrlKernel

/** Crawl-surface queries for the driver contract. These run on the
  * deterministic synthetic corpus (the north-rule input table shape), not on
  * the TPC-H-ish tables; each carries a frozen-fixture DuckDB oracle
  * (graft.tools.OracleFixtureGen) in the CORRECTNESS gate, and the
  * frozen-golden + parity ScalaTest suite (CrawlEngineSpec) additionally
  * gates the semantics a value compare can't (crawl-order byte parity,
  * resume, local[2]==local[8] invariance).
  * The sfDir argument is accepted for signature uniformity and ignored.
  */
object CrawlQueries {

  val Hosts = 3
  val PagesPerHost = 30

  private[pipeline] def spec = CorpusGen.Spec(Hosts, PagesPerHost)

  private def config = CrawlConfig(
    seeds = (0 until Hosts).map(h => s"https://${CorpusGen.hostName(h)}/"),
    maxDepth = 3, maxPages = 60, perHostBudget = 3,
    excludePatterns = Seq("external-data.org", "*.external-data.org"))

  /** One crawl per JVM — all crawl queries read from the same state dir. */
  @volatile private var crawlDir: Option[String] = None
  private def crawlState(spark: SparkSession): String = synchronized {
    crawlDir.getOrElse {
      val dir = java.nio.file.Files.createTempDirectory("graft-queries-crawl").toString
      val summary = CrawlEngine.run(spark, CorpusGen.dataset(spark, spec), config, dir)
      require(summary.parityFailures == 0, "extraction parity violated")
      crawlDir = Some(dir)
      dir
    }
  }

  def crawlOrder(spark: SparkSession, dir: String): DataFrame =
    CrawlEngine.readOrder(spark, crawlState(spark)).toDF()

  def crawlPages(spark: SparkSession, dir: String): DataFrame =
    CrawlEngine.readPages(spark, crawlState(spark))
      .select("canonicalUrl", "title", "lang", "textBytes", "htmlBytes", "depth", "wave",
        "usedFallback", "extractionFailed", "isSpa", "wafProvider")
      .orderBy("canonicalUrl")

  def crawlChunks(spark: SparkSession, dir: String): DataFrame =
    CrawlEngine.readChunks(spark, crawlState(spark))
      .select("id", "url", "chunkIndex", "wordCount", "lang")
      .orderBy("url", "chunkIndex")

  /** Full chunk rows incl. content (for validation/export stages). */
  def crawlChunksFull(spark: SparkSession, dir: String): DataFrame =
    CrawlEngine.readChunks(spark, crawlState(spark))

  def crawlMetrics(spark: SparkSession, dir: String): DataFrame =
    CrawlEngine.readMetrics(spark, crawlState(spark))
      .select("wave", "host", "fetched", "errors", "htmlBytes", "textBytes",
        "extractionFailures", "wafBlocked")
      .orderBy("wave", "host")

  /** URL kernel over every corpus URL — canonical form + partition keys. */
  def canonicalizeUrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .map(p => (
        p.url,
        UrlKernel.canonicalize(p.url).getOrElse(""),
        UrlKernel.extractDomain(p.url).getOrElse(""),
        UrlKernel.pathDepth(p.url),
        UrlKernel.paramCount(p.url),
        CrawlEngine.urlHash(UrlKernel.canonicalize(p.url).getOrElse(""))))
      .toDF("url", "canonical_url", "host", "path_depth", "param_count", "url_hash")
      .orderBy("url")
  }

  /** Link-graph edges from raw HTML (the crawl's edge generator) WITHOUT
    * the contract dump's deterministic ORDER BY — the form every internal
    * consumer (rank kernels, hygiene operators, web index) uses: a range
    * sort feeding an aggregation or join is pure wasted shuffle, and
    * Catalyst does not eliminate a subquery sort on its own. */
  private[pipeline] def linkEdgesRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => !p.url.endsWith("robots.txt") && !p.url.endsWith("sitemap.xml"))
      .flatMap { p =>
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        HtmlKit.extractLinks(html, p.url).map(l => (p.url, l))
      }
      .toDF("src", "dst")
  }

  /** Link-graph edges, deterministically ordered (the driver contract). */
  def extractLinkEdges(spark: SparkSession, dir: String): DataFrame =
    linkEdgesRaw(spark, dir).orderBy("src", "dst")

  /** (src, dst, anchor) link SIGHTINGS — every `a[href]` occurrence with its
    * visible text, one row per occurrence (no per-page dedup: each sighting
    * is a vote in [[anchorTexts]]). Frozen as a fixture oracle so the DuckDB
    * twin can recompute the aggregation independently (the [[pageRank]]
    * discipline). */
  def linkAnchors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => !p.url.endsWith("robots.txt") && !p.url.endsWith("sitemap.xml"))
      .flatMap { p =>
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        HtmlKit.extractLinkAnchors(html, p.url).map { case (dst, a) => (p.url, dst, a) }
      }
      .toDF("src", "dst", "anchor")
      .orderBy("src", "dst", "anchor")
  }

  /** Anchor-text aggregation per target URL — the query-independent
    * relevance signal web pipelines mine from their own link graph: what the
    * REST of the corpus calls a page (in-link anchors) labels it better than
    * the page labels itself. Per fetchable target: total in-link sightings,
    * distinct anchor strings, and the consensus anchor (most sightings,
    * ties to the lexicographically smallest — a total order, so the result
    * is deterministic at any parallelism). 100-TB shape: two keys-only
    * two-level aggregations with map-side partial combine — anchors travel
    * once as (dst, anchor) pairs, never as per-page lists; the consensus
    * pick is a min(struct) aggregate, not a window sort. */
  def anchorTexts(spark: SparkSession, dir: String): DataFrame =
    anchorAgg(linkAnchors(spark, dir))

  /** The aggregation half of [[anchorTexts]], factored over any
    * (src, dst, anchor) frame for direct testing. */
  def anchorAgg(sightings: DataFrame): DataFrame = {
    val pairs = sightings
      .filter(col("dst").startsWith("http") && col("anchor") =!= "")
      .groupBy(col("dst").as("url"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
    pairs.groupBy("url")
      .agg(
        sum("cnt").as("in_links"),
        count(lit(1)).as("distinct_anchors"),
        // (-cnt, anchor) min = (max count, then lexicographically smallest)
        min(struct((-col("cnt")).as("neg_cnt"), col("anchor").as("anchor"))).as("top"))
      .select(col("url"), col("in_links"), col("distinct_anchors"),
        col("top.anchor").as("top_anchor"), (-col("top.neg_cnt")).as("top_anchor_count"))
      .orderBy("url")
  }

  /** DuckDB twin of [[anchorTexts]]: independent recompute (window-ranked
    * consensus pick, not a frozen output) over the frozen sightings
    * fixture. */
  def anchorTextsSql(anchorsSelect: String): String =
    s"""WITH sightings AS (
       |  SELECT dst, anchor FROM ($anchorsSelect)
       |  WHERE dst LIKE 'http%' AND anchor <> ''),
       |pairs AS (
       |  SELECT dst, anchor, count(*) AS cnt FROM sightings GROUP BY dst, anchor),
       |tops AS (
       |  SELECT dst, anchor, cnt,
       |    row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor ASC) AS rn
       |  FROM pairs)
       |SELECT p.dst AS url,
       |  CAST(sum(p.cnt) AS BIGINT) AS in_links,
       |  CAST(count(*) AS BIGINT) AS distinct_anchors,
       |  t.anchor AS top_anchor,
       |  CAST(t.cnt AS BIGINT) AS top_anchor_count
       |FROM pairs p JOIN tops t ON p.dst = t.dst AND t.rn = 1
       |GROUP BY p.dst, t.anchor, t.cnt
       |ORDER BY url""".stripMargin

  /** Power-iteration rounds for [[pageRank]] (shared with the SQL twin). */
  val PageRankIters = 10
  /** Rank unit: every node starts at 1_000_000 micro-rank. */
  val PageRankUnitMicro = 1000000L
  /** Damping factor d = [[PageRankDampPct]]/100; the per-round floor is the
    * (1-d) share of the unit, DERIVED so retuning the unit cannot silently
    * break the damping (all three implementations — Spark, DuckDB twin,
    * spec replay — interpolate these constants). */
  val PageRankDampPct = 85L
  val PageRankFloorMicro: Long = (100L - PageRankDampPct) * PageRankUnitMicro / 100L

  /** Link-graph PageRank — the structural crawl-prioritization signal that
    * complements the reference's content-based relevance scorer
    * (relevance_scorer.rs): pages many crawled pages point at are worth
    * fetching first. Classic damped power iteration (d = 0.85, fixed
    * [[PageRankIters]] rounds, dangling mass leaks — the standard
    * simplification), but in MICRO-UNIT INTEGER arithmetic throughout:
    * contributions are `rank div out_deg` longs, so every sum is
    * order-independent and the result is bit-identical on any engine and
    * at any parallelism — which is what lets an independent DuckDB replay
    * of the same recurrence serve as a hard oracle (floating-point
    * PageRank could not be value-compared across engines). Dataflow per
    * round: edges ⋈ ranks (keyed by src) → groupBy dst with map-side
    * partial sums — the textbook Pregel shape; ranks are
    * localCheckpoint'ed each round so the plan stays constant-size over
    * any iteration count (the same lineage-truncation discipline as
    * `WebIndex.componentLabels`; at deployment scale the
    * spillIntermediates table path applies). */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // rank only fetchable targets: javascript:/mailto:/tel: links are real
    // edges in the extraction output but noise for crawl prioritization
    val edges = linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))
    pageRankKernel(edges, "url")
  }

  /** Host-level PageRank — the domain-authority signal host-granular
    * frontier policy consumes (per-host budgets, [[graft.pipeline
    * .Reputation]] composition): the page graph collapsed to its host
    * graph, SAME integer recurrence as [[pageRank]]. Intra-host edges are
    * dropped (navigation chrome would drown the signal — rank should flow
    * only where one SITE endorses another); parallel inter-host edges keep
    * their multiplicity (each link is a vote). The host graph is orders of
    * magnitude smaller than the page graph, which is the production point:
    * host rank is recomputable every few waves where page rank is a batch
    * job. */
  def hostRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("src"),
        Cardinality.hostCol(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    pageRankKernel(edges, "host")
  }

  /** The damped integer power iteration over any (src, dst) edge frame,
    * output keyed as `keyName` — shared by [[pageRank]] (url granularity)
    * and [[hostRank]] (host granularity). */
  def pageRankKernel(edgesIn: DataFrame, keyName: String): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val nodes = degreeNodes(edges).localCheckpoint()
    pageRankRounds(weightedEdges(edges, nodes), nodes,
        nodes.select(col("url"), lit(PageRankUnitMicro).as("rank_micro")))
      .join(nodes, Seq("url"))
      .select(col("url").as(keyName), col("rank_micro"), col("in_deg"), col("out_deg"))
      .orderBy(desc("rank_micro"), asc(keyName))
  }

  /** Every endpoint of `edges`, plus `extraUrls` with zero degrees, as
    * (url, in_deg, out_deg) from ONE aggregation: the node universe a
    * PageRank kernel ranks, the out-degrees its rounds divide by and the
    * degrees it reports. */
  private[pipeline] def degreeNodes(edges: DataFrame, extraUrls: Seq[String] = Seq.empty): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").as("url"), lit(0L).as("i"), lit(1L).as("o"))
      .union(edges.select(col("dst").as("url"), lit(1L).as("i"), lit(0L).as("o")))
      .union(extraUrls.toDF("url").select(col("url"), lit(0L).as("i"), lit(0L).as("o")))
      .groupBy("url").agg(sum("i").as("in_deg"), sum("o").as("out_deg"))
  }

  /** The uniform teleport floor of plain PageRank, as [[pageRankRound]]'s
    * one-column `floors` argument. */
  private[graft] val UniformFloor: Seq[(String, String)] =
    Seq("rank_micro" -> PageRankFloorMicro.toString)

  /** [[PageRankIters]] [[Rounds]] of [[pageRankRound]] over the
    * [[weightedEdges]] frame from `init` (`url` plus one rank column per
    * entry of `floors`) — K independent recurrences over the same edges
    * cost one round each, not K. */
  private[pipeline] def pageRankRounds(
      weighted: DataFrame, nodes: DataFrame, init: DataFrame,
      floors: Seq[(String, String)] = UniformFloor): DataFrame =
    Rounds.iterate(init, PageRankIters)((ranks, _) => pageRankRound(weighted, nodes, ranks, floors))

  /** The (src, dst, out_deg) frame every [[pageRankRound]] reads. It is
    * loop-invariant, so it is checkpointed once instead of re-shuffling the
    * out-degree aggregation every round. */
  private[graft] def weightedEdges(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy("src").agg(count(lit(1)).as("out_deg")), "src")
      .localCheckpoint()

  /** [[weightedEdges]] with the out-degrees read from a [[degreeNodes]]
    * frame the caller already aggregated. */
  private[graft] def weightedEdges(edges: DataFrame, degreeNodes: DataFrame): DataFrame =
    edges.join(degreeNodes.select(col("url").as("src"), col("out_deg")), "src")
      .localCheckpoint()

  /** One power-iteration round (the loop body, factored so PlanCheck can
    * audit the per-round physical plan the kernel actually runs) over K
    * rank columns at once: ONE contribution join + ONE keyed sum with
    * map-side combine (a `sum` per column), then ONE floor+damp rejoin
    * against the node universe. `floors` maps each rank column of `ranks`
    * to its teleport floor, a SQL expression over `nodes`' columns — a
    * constant for PageRank, a per-node column for seeded TrustRank. Each
    * column's integer arithmetic is exactly the one-column round's, so
    * fusing recurrences changes no value. */
  private[graft] def pageRankRound(
      weighted: DataFrame, nodes: DataFrame, ranks: DataFrame,
      floors: Seq[(String, String)] = UniformFloor): DataFrame = {
    val rankCols = floors.map(_._1)
    val sums = rankCols.map(r => sum(r).as(s"s_$r"))
    val contribs = weighted
      .join(ranks.withColumnRenamed("url", "src"), "src")
      .select(col("dst").as("url") +: rankCols.map(r => expr(s"$r div out_deg").as(r)): _*)
      .groupBy("url").agg(sums.head, sums.tail: _*)
    // shuffle_hash: at scale contribs is node-sized, and the default
    // sort-merge would pay two sorts PER ROUND on co-partitioned sides;
    // at toy scale AQE still upgrades the hinted join to broadcast
    nodes.join(contribs.hint("shuffle_hash"), Seq("url"), "left")
      .select(col("url") +: floors.map { case (r, floor) =>
        expr(s"$floor + ($PageRankDampPct * coalesce(s_$r, cast(0 as bigint))) div 100").as(r)
      }: _*)
  }

  /** DuckDB twin of [[pageRank]]: the SAME integer recurrence, unrolled as
    * chained CTEs (standard SQL forbids aggregation in a recursive CTE
    * term), over the frozen edge fixture — an independent re-execution of
    * all [[PageRankIters]] rounds, not a frozen output. */
  def pageRankSql(edgesSelect: String, key: String = "url",
                  edgeFilter: String = "WHERE dst LIKE 'http%'"): String = {
    val rounds = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.url,
         |    CAST($PageRankFloorMicro + ($PageRankDampPct * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_micro
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url,
         |      CAST(sum(r.rank_micro // o.out_deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN outdeg o ON e.src = o.src
         |    JOIN r${i - 1} r ON r.url = e.src
         |    GROUP BY e.dst) c ON n.url = c.url)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect) $edgeFilter),
       |nodes AS (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
       |indeg AS (SELECT dst AS url, count(*) AS in_deg FROM edges GROUP BY dst),
       |r0 AS (SELECT url, CAST($PageRankUnitMicro AS BIGINT) AS rank_micro FROM nodes),
       |$rounds
       |SELECT r.url AS $key, r.rank_micro,
       |  CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg
       |FROM r$PageRankIters r
       |LEFT JOIN indeg i ON r.url = i.url
       |LEFT JOIN outdeg o ON r.url = o.src
       |ORDER BY r.rank_micro DESC, r.url""".stripMargin
  }

  /** DuckDB twin of [[hostRank]]: the page edges host-mapped (http filter
    * BEFORE the mapping, self-loops dropped) then the identical unrolled
    * recurrence via [[pageRankSql]]. */
  def hostRankSql(edgesSelect: String): String =
    pageRankSql(
      s"""SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
         |       regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
         |FROM ($edgesSelect) WHERE dst LIKE 'http%'
         |  AND regexp_extract(src, '^https?://([^/]+)', 1)
         |   <> regexp_extract(dst, '^https?://([^/]+)', 1)""".stripMargin,
      key = "host", edgeFilter = "")

  /** Sitemap-coverage gap — the crawl-completeness monitor: which
    * sitemap-DECLARED urls has the link crawl actually reached, per host?
    * The reference treats sitemaps as a seed source (crawler_service.rs
    * sitemap branch); a continuously-operated crawl also needs the inverse
    * read — declared-but-never-fetched urls are the backlog the frontier
    * should requeue (and on this corpus the link crawl genuinely cannot
    * reach the sitemap-only query-param product pages, so the gap is
    * non-trivial by construction).
    *
    * The membership join normalizes both sides with a PORTABLE projection
    * of the canonicalizer — trailing-slash strip only (`/+$`, a regex both
    * engines run identically). The full [[graft.urls.UrlKernel]]
    * canonicalization is deliberately NOT applied here: the DuckDB twin
    * must replay the join rule, and slash-trim is the only part of the
    * kernel this corpus's sitemap/crawl url spellings actually differ by.
    *
    * Scale shape: two distinct keys-only sets, one hash anti/left join on
    * the normalized url, one map-side-combined per-host aggregation. */
  def sitemapGap(spark: SparkSession, dir: String): DataFrame = {
    val norm = (c: org.apache.spark.sql.Column) => regexp_replace(c, "/+$", "")
    val declared = sitemapSeeds(spark, dir)
      .select(norm(col("loc")).as("u")).distinct()
      .select(Cardinality.hostCol(col("u")).as("host"), col("u"))
    val crawled = crawlOrder(spark, dir)
      .select(norm(col("url")).as("u")).distinct()
      .withColumn("hit", lit(1L))
    declared.join(crawled, Seq("u"), "left")
      .groupBy("host")
      .agg(count(lit(1)).as("declared"),
        sum(coalesce(col("hit"), lit(0L))).as("crawled"))
      .select(col("host"), col("declared"), col("crawled"),
        (col("declared") - col("crawled")).as("missing"),
        expr("crawled * 1000 div declared").as("coverage_permille"))
      .orderBy("host")
  }

  /** DuckDB twin of [[sitemapGap]]: the same normalization, membership
    * join and per-host rollup recomputed over the frozen sitemap-seeds and
    * crawl-order fixtures. */
  def sitemapGapSql(seedsSelect: String, crawlSelect: String): String =
    s"""WITH declared AS (
       |  SELECT DISTINCT regexp_replace(loc, '/+$$', '') AS u
       |  FROM ($seedsSelect)),
       |crawled AS (
       |  SELECT DISTINCT regexp_replace(url, '/+$$', '') AS u
       |  FROM ($crawlSelect)),
       |j AS (
       |  SELECT regexp_extract(d.u, '^https?://([^/]+)', 1) AS host,
       |    CASE WHEN c.u IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM declared d LEFT JOIN crawled c ON d.u = c.u)
       |SELECT host,
       |  CAST(count(*) AS BIGINT) AS declared,
       |  CAST(sum(hit) AS BIGINT) AS crawled,
       |  CAST(count(*) - sum(hit) AS BIGINT) AS missing,
       |  CAST(sum(hit) * 1000 // count(*) AS BIGINT) AS coverage_permille
       |FROM j GROUP BY host ORDER BY host""".stripMargin

  /** WAF + entropy + SPA flags per page (waf.rs / scraper_service.rs). */
  def wafEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => !p.url.endsWith("robots.txt") && !p.url.endsWith("sitemap.xml"))
      .map { p =>
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        (p.url,
          TextKit.detectWafChallenge(html).getOrElse(""),
          math.round(TextKit.shannonEntropy(html) * 1000) / 1000.0,
          HtmlKit.isSpa(html, p.text))
      }
      .toDF("url", "waf_provider", "entropy_milli", "is_spa")
      .orderBy("url")
  }

  /** Sitemap seed ingestion over the corpus sitemap rows. */
  def sitemapSeeds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => p.url.endsWith("/sitemap.xml"))
      .flatMap { p =>
        val body = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        SitemapSeeder.parseLocs(body, p.url).map(l => (p.url, l))
      }
      .toDF("sitemap", "loc")
      .orderBy("sitemap", "loc")
  }

  /** Sitemap-seeded crawl: seeds come from robots.txt Sitemap: discovery →
    * sitemap <loc> expansion (the reference's primary discovery path,
    * crawler_service.rs:788-891). Reaches the query-param product pages that
    * link-crawling cannot (the link normalizer drops queries). */
  @volatile private var sitemapCrawlDir: Option[String] = None
  def crawlSitemapSeeded(spark: SparkSession, dir: String): DataFrame = {
    import graft.politeness.Robots
    val stateDir = synchronized {
      sitemapCrawlDir.getOrElse {
        val corpus = CorpusGen.localPages(spec)
        val bodies = corpus.map(p => p.url -> new String(p.html, java.nio.charset.StandardCharsets.UTF_8)).toMap
        val seeds = (0 until Hosts).flatMap { h =>
          val host = CorpusGen.hostName(h)
          val robots = Robots.parse(bodies(s"https://$host/robots.txt"))
          SitemapSeeder.candidateSitemaps(host, robots.sitemaps)
            .flatMap(sm => SitemapSeeder.expand(sm, bodies.get))
        }
        val d = java.nio.file.Files.createTempDirectory("graft-sitemap-crawl").toString
        val summary = CrawlEngine.run(spark, CorpusGen.dataset(spark, spec),
          config.copy(seeds = seeds, maxDepth = 1, maxPages = 100), d)
        require(summary.parityFailures == 0)
        sitemapCrawlDir = Some(d)
        d
      }
    }
    CrawlEngine.readOrder(spark, stateDir).toDF()
  }

  /** Retry-ladder outcomes over every corpus URL (client.rs:163-384
    * semantics, table-driven). */
  def fetchRetry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .map { p =>
        val o = graft.crawl.FetchSimulator.simulate(p.url)
        (o.url, o.attempts, o.finalStatus, o.success, o.totalBackoffMs, o.uaRotated, o.userAgent)
      }
      .toDF("url", "attempts", "final_status", "success", "total_backoff_ms", "ua_rotated", "user_agent")
      .orderBy("url")
  }

  /** HTML→Markdown over the corpus (html_to_markdown.rs path). */
  def markdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => p.lang.nonEmpty)
      .map { p =>
        val md = graft.extract.Markdown.htmlToMarkdown(
          new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
        (p.url, md.length, CrawlEngine.sha256Hex(md))
      }
      .toDF("url", "md_chars", "md_sha256")
      .orderBy("url")
  }

  /** Fenced-code-block extraction over page markdown — the detection half of
    * syntax_highlight.rs as a corpus operation (code-corpus extraction from
    * markdown documents). The synthetic corpus renders no <pre> blocks, so
    * planted markdown rows (the DedupQueries convention) carry
    * language-tagged, untagged, and REPEATED-identical fences — the exact
    * shapes the reference's single-pass replace_all semantics pin. */
  def codeBlocks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = CorpusGen.dataset(spark, spec)
      .filter(p => p.lang.nonEmpty)
      .map(p => (p.url, graft.extract.Markdown.htmlToMarkdown(
        new String(p.html, java.nio.charset.StandardCharsets.UTF_8))))
    val plants = spark.createDataset(Seq(
      ("plant://code/1", "Intro\n```scala\nval x = 1\n```\nmid\n```\nplain block\n```\ntail"),
      ("plant://code/2", "Dup\n```rust\nfn main() {}\n```\ntext\n```rust\nfn main() {}\n```\n")))
    pages.union(plants)
      .flatMap { case (url, md) =>
        graft.extract.Markdown.extractCodeBlocks(md).zipWithIndex.map {
          case ((lang, code), i) =>
            (url, i, lang, code.length.toLong, CrawlEngine.sha256Hex(code))
        }
      }
      .toDF("url", "block_idx", "lang", "code_chars", "code_sha256")
      .orderBy("url", "block_idx")
  }

  /** Obsidian-flavored export: YAML frontmatter + wiki-linked markdown per
    * page (frontmatter.rs / wikilinks.rs / obsidian.rs). Dates come from the
    * stored warc_ts — deterministic. */
  def obsidian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => p.lang.nonEmpty)
      .map { p =>
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        val md = graft.extract.Markdown.htmlToMarkdown(html)
        val ex = HtmlKit.extractText(html)
        val date = p.warc_ts.toLocalDateTime.toLocalDate.toString
        val note = graft.extract.Obsidian.note(p.url, ex.title, md, ex.text, p.lang, date,
          HtmlKit.extractMeta(html))
        val slug = graft.extract.Obsidian.slugFromUrl(
          UrlKernel.parse(p.url).map(_.path).getOrElse("/"))
        val wikiLinks = "\\[\\[".r.findAllIn(note).length
        (p.url, slug, note.length, wikiLinks, CrawlEngine.sha256Hex(note))
      }
      .toDF("url", "slug", "note_chars", "wiki_links", "note_sha256")
      .orderBy("url")
  }

  /** Article-metadata kernel (readability.rs excerpt/byline/published_time)
    * over a fixed snippet set — expected VALUES hand-transcribed from the
    * snippets themselves (inspectable, engine-independent). */
  val PageMetaFixtures: Seq[(String, String)] = Seq(
    ("meta-author", """<html><head><meta name="author" content="Ada Lovelace">
      |<meta name="description" content="First program."></head><body>x</body></html>""".stripMargin),
    ("og-fallbacks", """<html><head><meta property="og:description" content="OG text">
      |<meta property="article:published_time" content="2025-03-01T10:00:00Z">
      |<meta property="article:author" content="Grace Hopper"></head><body>x</body></html>""".stripMargin),
    ("time-tag", """<html><body><time datetime="2024-12-25">Christmas</time></body></html>"""),
    ("description-beats-og", """<html><head><meta property="og:description" content="og">
      |<meta name="description" content="plain"></head><body>x</body></html>""".stripMargin),
    ("none", "<html><body>bare page</body></html>"))

  def pageMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    PageMetaFixtures.map { case (id, html) =>
      val m = HtmlKit.extractMeta(html)
      (id, m.author.getOrElse(""), m.excerpt.getOrElse(""), m.publishedTime.getOrElse(""))
    }.toDF("id", "author", "excerpt", "published_time").orderBy("id")
  }

  val pageMetaSql: String =
    """SELECT * FROM (VALUES
      |  ('meta-author', 'Ada Lovelace', 'First program.', ''),
      |  ('og-fallbacks', 'Grace Hopper', 'OG text', '2025-03-01T10:00:00Z'),
      |  ('time-tag', '', '', '2024-12-25'),
      |  ('description-beats-og', '', 'plain', ''),
      |  ('none', '', '', '')
      |) AS t(id, author, excerpt, published_time) ORDER BY id""".stripMargin

  /** URL → filesystem output path kernel over every corpus URL
    * (adapters/url_path.rs: Domain + UrlPath + OutputPath). */
  def urlPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .map { p =>
        // ONE parse per row; domain/filename/directory/output all derive
        // from the same ParsedUrl
        val parsed = UrlKernel.parse(p.url)
        val path = parsed.map(_.path).getOrElse("/")
        val domain = parsed.map(_.host).filter(_.nonEmpty)
          .map(h => if (h.startsWith("www.")) h.substring(4) else h)
        val filename = graft.urls.UrlPathKit.safeFilename(path)
        (p.url,
          domain.getOrElse(""),
          filename,
          graft.urls.UrlPathKit.directoryPart(path),
          domain.map(d => s"$d/$filename").getOrElse(""))
      }
      .toDF("url", "domain", "filename", "directory", "output_path")
      .orderBy("url")
  }

  /** Language detection on extracted text vs stored label (accuracy table). */
  def langDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    CorpusGen.dataset(spark, spec)
      .filter(p => p.lang.nonEmpty)
      .map(p => (p.url, p.lang, TextKit.detectLanguage(p.text).getOrElse("und")))
      .toDF("url", "stored_lang", "detected_lang")
      .orderBy("url")
  }

  /** WARC round-trip: corpus pages → member-per-record gzip AND
    * frame-per-record zstd WARC shards → streamed back through the WARC
    * source — url, timestamp, and body bytes must survive both Common Crawl
    * archive layouts exactly. */
  def warcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = CorpusGen.localPages(CorpusGen.Spec(2, 15))
    val tmp = java.nio.file.Files.createTempDirectory("graft-q-warc").toString
    val (h0, h1) = pages.partition(_.url.contains("site0"))
    graft.sources.WarcKit.writeWarcFile(graft.sources.WarcKit.toRecords(h0), s"$tmp/seg-0.warc.gz", gzip = true)
    graft.sources.WarcKit.writeWarcFile(graft.sources.WarcKit.toRecords(h1), s"$tmp/seg-1.warc.zst", zstd = true)
    graft.sources.WarcKit.readRecords(spark, s"$tmp/*.warc.*")
      .map(r => (r.url, r.warc_ts, r.html.length.toLong, CrawlEngine.sha256Hex(new String(r.html, java.nio.charset.StandardCharsets.UTF_8))))
      .toDF("url", "warc_ts", "html_bytes", "html_sha256")
      .orderBy("url")
  }

  // ------------------------------------------------- wave budget planning --

  /** Global fetch slots apportioned per wave — sized so on this corpus some
    * hosts bind on their share and some on their backlog (both planner
    * branches exercised). */
  val WaveBudget = 200L

  /** Per-wave fetch-slot apportionment — the planning step between "which
    * hosts have pending urls" and "fetch this wave": a global budget of
    * [[WaveBudget]] slots is divided across hosts PROPORTIONALLY TO HOST
    * AUTHORITY ([[hostRank]]'s integer rank) by the Hamilton largest-
    * remainder method — `base = (G·r) div R` slots per host plus one bonus
    * slot to the hosts with the largest remainders until the budget is
    * exact. All-integer, so the apportionment is bit-identical at any
    * parallelism and independently replayable by the oracle. The quota is
    * then capped by the host's actual backlog (`least(pending, ...)`) —
    * a single-pass planner: slots stranded by the cap roll to the next
    * wave rather than triggering an iterative redistribution.
    *
    * Scale shape: pending is one map-side-combined aggregation over the
    * frontier; everything after runs on the HOST table — orders of
    * magnitude smaller than the frontier (10^6-10^7 hosts at a 10^10-url
    * frontier), which is what makes the two global windows (total rank,
    * remainder ranking) acceptable; at extreme host counts the remainder
    * ranking shards hierarchically (per-shard apportionment of per-shard
    * sub-budgets). Hosts absent from the inter-host link graph take the
    * damping floor [[PageRankFloorMicro]] — exactly the rank an edgeless
    * node converges to under the recurrence. */
  def wavePlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))
    val pending = edges.select(Cardinality.hostCol(col("dst")).as("host"), col("dst"))
      .distinct()
      .groupBy("host").agg(count(lit(1)).as("pending"))
    val ranks = hostRank(spark, dir).select(col("host"), col("rank_micro"))
    val global = Window.partitionBy(lit(1))
    val planned = pending.join(ranks, Seq("host"), "left")
      .select(col("host"), col("pending"),
        coalesce(col("rank_micro"), lit(PageRankFloorMicro)).as("rank_micro"))
      .withColumn("r_tot", sum("rank_micro").over(global))
      .withColumn("base_q", expr(s"($WaveBudget * rank_micro) div r_tot"))
      .withColumn("rem", expr(s"($WaveBudget * rank_micro) % r_tot"))
      .withColumn("leftover", lit(WaveBudget) - sum("base_q").over(global))
      .withColumn("rn", row_number().over(Window.orderBy(desc("rem"), asc("host"))))
      .withColumn("bonus", when(col("rn") <= col("leftover"), 1L).otherwise(0L))
    planned.select(col("host"), col("pending"), col("rank_micro"),
        col("base_q"), col("bonus"),
        least(col("pending"), col("base_q") + col("bonus")).as("quota"))
      .orderBy("host")
  }

  /** DuckDB twin of [[wavePlan]]: [[hostRankSql]]'s full unrolled
    * recurrence as a CTE, then the identical integer Hamilton
    * apportionment (div/mod on non-negative longs — the exact-portability
    * subset) over the frozen edge fixture. */
  def wavePlanSql(edgesSelect: String): String =
    s"""WITH hr AS (${hostRankSql(edgesSelect)}),
       |e AS (SELECT dst FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |pending AS (
       |  SELECT regexp_extract(dst, '^https?://([^/]+)', 1) AS host,
       |    CAST(count(DISTINCT dst) AS BIGINT) AS pending
       |  FROM e GROUP BY 1),
       |b AS (
       |  SELECT p.host, p.pending,
       |    coalesce(hr.rank_micro, $PageRankFloorMicro) AS rank_micro
       |  FROM pending p LEFT JOIN hr ON p.host = hr.host),
       |t AS (SELECT *, CAST(sum(rank_micro) OVER () AS BIGINT) AS r_tot FROM b),
       |q AS (SELECT *,
       |    CAST(($WaveBudget * rank_micro) // r_tot AS BIGINT) AS base_q,
       |    CAST(($WaveBudget * rank_micro) % r_tot AS BIGINT) AS rem FROM t),
       |l AS (SELECT *,
       |    CAST($WaveBudget - sum(base_q) OVER () AS BIGINT) AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, host ASC) AS rn FROM q)
       |SELECT host, pending, rank_micro, base_q,
       |  CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS bonus,
       |  least(pending, base_q + CASE WHEN rn <= leftover THEN 1 ELSE 0 END) AS quota
       |FROM l ORDER BY host""".stripMargin

  /** Planted (host, pattern, is_allow) robots rule sets exercising every
    * RFC 9309 decision behavior the organic corpus (plain Disallow
    * prefixes) never reaches. Patterns deliberately avoid `%`/`_`/quotes
    * and non-trailing `$` so the DuckDB twin's LIKE translation is exact
    * by construction. Shared verbatim with [[robotsDecisionsSql]]. */
  private[pipeline] val RobotsMatrixRules: Seq[(String, String, Boolean)] = Seq(
    // longer Allow carves a hole in a Disallow subtree
    ("prefix.example", "/private", false),
    ("prefix.example", "/private/public", true),
    // $-anchored extension block
    ("anchor.example", "/*.pdf$", false),
    // exact length tie -> Allow (least restrictive) wins
    ("tie.example", "/t", true),
    ("tie.example", "/t", false),
    // Google's canonical precedence example: /page.htm matches Allow /page
    // (len 5) AND Disallow /*.htm (len 6) -> the longer Disallow wins
    ("longest.example", "/page", true),
    ("longest.example", "/*.htm", false),
    // mid-pattern wildcard
    ("star.example", "/dir/*/x", false))

  /** Planted paths probing [[RobotsMatrixRules]] (plus a rule-less host —
    * the no-rules default-allow branch). */
  private[pipeline] val RobotsMatrixPaths: Seq[(String, String)] = Seq(
    ("prefix.example", "/private/x"),
    ("prefix.example", "/private/public/y"),
    ("prefix.example", "/open"),
    ("anchor.example", "/doc/file.pdf"),
    ("anchor.example", "/doc/file.pdfx"),
    ("anchor.example", "/.pdf"),
    ("tie.example", "/t/anything"),
    ("longest.example", "/page.htm"),
    ("longest.example", "/pagex"),
    ("longest.example", "/x.htm"),
    ("star.example", "/dir/a/x"),
    ("star.example", "/dir/a/y"),
    ("star.example", "/dir/x"),
    ("star.example", "/dir/a/b/xyz"),
    ("norules.example", "/anything"))

  /** RFC 9309 decision matrix — the [[graft.politeness.Robots.decision]]
    * kernel exercised through the SAME join shape as the crawl gate
    * (per-host rule arrays left-joined to candidate paths), over planted
    * rules covering Allow-overrides-Disallow, `$` anchoring, length ties,
    * Google's longest-match example, and mid-pattern `*`. `blocked` and
    * the matching-rule count are exact integers; the DuckDB twin
    * re-decides every row through LIKE translation — a structurally
    * different second implementation of the REP matcher. */
  def robotsDecisions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = RobotsMatrixRules.toDF("host", "pattern", "is_allow")
    val grouped = rules.groupBy("host").agg(
      collect_list(when(col("is_allow"), col("pattern"))).as("allow"),
      collect_list(when(!col("is_allow"), col("pattern"))).as("disallow"))
    RobotsMatrixPaths.toDF("host", "path")
      .join(grouped, Seq("host"), "left")
      .as[(String, String, Seq[String], Seq[String])]
      .map { case (host, path, allow, disallow) =>
        val al = Option(allow).getOrElse(Seq.empty)
        val di = Option(disallow).getOrElse(Seq.empty)
        val blocked = graft.politeness.Robots.decision(al, di, path)
        val nMatch = (al ++ di)
          .count(p => p.nonEmpty && graft.politeness.Robots.patternMatches(p, path))
        (host, path, if (blocked) 1L else 0L, nMatch.toLong)
      }
      .toDF("host", "path", "blocked", "n_match")
      .orderBy("host", "path")
  }

  /** Planted multi-group rule sets exercising RFC 9309 §2.2.1 group
    * selection: a host with `*` + two product-token groups (one a prefix
    * of the other), a host with a named group and NO `*` fallback, and a
    * star-only host. All agents/patterns lowercase and LIKE-metachar-free
    * so the DuckDB twin's prefix-LIKE and pattern-LIKE translations are
    * exact by construction; no empty patterns (an empty pattern never
    * participates in [[graft.politeness.Robots.decision]] but would
    * translate to a match-everything LIKE). Shared verbatim with
    * [[robotsGroupsSql]]. */
  private[pipeline] val GroupMatrixRules: Seq[(String, String, String, Boolean)] = Seq(
    ("g1.example", "*", "/private", false),
    ("g1.example", "graftbot", "/graft-only", false),
    ("g1.example", "graftbot", "/graft-only/ok", true),
    ("g1.example", "graftbot-news", "/news-block", false),
    ("g2.example", "crawler", "/", false),
    ("g3.example", "*", "/all-block", false))

  /** Planted (host, product token, path) probes for [[GroupMatrixRules]]:
    * longest-prefix selection, specific-replaces-star (the REP's classic
    * gotcha), prefix-vs-shorter-token, and the no-match/no-star default. */
  private[pipeline] val GroupMatrixProbes: Seq[(String, String, String)] = Seq(
    ("g1.example", "graftbot-news", "/news-block/x"), // most specific group blocks
    ("g1.example", "graftbot-news", "/graft-only/x"), // graftbot rules do NOT apply
    ("g1.example", "graftbot", "/graft-only/x"),
    ("g1.example", "graftbot", "/graft-only/ok/y"), // Allow carve within the group
    ("g1.example", "graftbot", "/private/x"), // star rules replaced, NOT merged
    ("g1.example", "otherbot", "/private/x"), // falls back to *
    ("g2.example", "otherbot", "/anything"), // no match, no * → allowed
    ("g2.example", "crawlerx", "/x"), // 'crawler' is a prefix of the token
    ("g2.example", "crawl", "/x"), // token shorter than the agent → no match
    ("g3.example", "anybot", "/all-block/x"),
    ("g3.example", "anybot", "/open"))

  /** RFC 9309 §2.2.1 group-selection matrix — for each (host, product
    * token, path): the chosen group (longest case-insensitive agent prefix
    * of the token, else `*`), whether that group's rules block the path
    * ([[graft.politeness.Robots.decision]] within ONLY the chosen group —
    * a named match replaces `*`), and the chosen group's rule count. The
    * DuckDB twin re-selects via prefix-LIKE + a length window and
    * re-decides via LIKE translation — a second implementation of both
    * layers. */
  def robotsGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = GroupMatrixRules.toDF("host", "agent", "pattern", "is_allow")
    val grouped = rules.groupBy("host")
      .agg(collect_list(struct(col("agent"), col("pattern"), col("is_allow"))).as("rules"))
    GroupMatrixProbes.toDF("host", "token", "path")
      .join(grouped, Seq("host"), "left")
      .as[(String, String, String, Seq[(String, String, Boolean)])]
      .map { case (host, token, path, rs) =>
        val all = Option(rs).getOrElse(Seq.empty)
        val chosen = graft.politeness.Robots.groupAgentFor(all.map(_._1), token)
        val sel = all.filter(_._1.equalsIgnoreCase(chosen))
        val blocked = graft.politeness.Robots.decision(
          sel.filter(_._3).map(_._2), sel.filterNot(_._3).map(_._2), path)
        (host, token, path, chosen, if (blocked) 1L else 0L, sel.size.toLong)
      }
      .toDF("host", "token", "path", "group_agent", "blocked", "n_rules")
      .orderBy("host", "token", "path")
  }

  /** DuckDB twin of [[robotsGroups]]: agent selection = prefix-LIKE join +
    * a (length DESC) window with `*` fallback; decision = the same LIKE
    * translation + longest-match window as [[robotsDecisionsSql]], scoped
    * to the chosen group's rules. */
  def robotsGroupsSql: String = {
    val rulesValues = GroupMatrixRules
      .map { case (h, a, p, al) => s"('$h', '$a', '$p', ${if (al) 1 else 0})" }.mkString(", ")
    val probeValues = GroupMatrixProbes
      .map { case (h, t, p) => s"('$h', '$t', '$p')" }.mkString(", ")
    s"""WITH rules AS (
       |  SELECT h AS host, a AS agent, p AS pattern, al = 1 AS is_allow
       |  FROM (VALUES $rulesValues) v(h, a, p, al)),
       |probes AS (SELECT h AS host, t AS token, p AS path
       |           FROM (VALUES $probeValues) v(h, t, p)),
       |cand AS (
       |  SELECT p.host, p.token, p.path, r.agent,
       |    row_number() OVER (PARTITION BY p.host, p.token, p.path
       |                       ORDER BY length(r.agent) DESC) AS rn
       |  FROM probes p
       |  JOIN (SELECT DISTINCT host, agent FROM rules) r
       |    ON p.host = r.host AND r.agent <> '*' AND p.token LIKE r.agent || '%'),
       |chosen AS (
       |  SELECT p.host, p.token, p.path, coalesce(c.agent, '*') AS group_agent
       |  FROM probes p
       |  LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
       |    ON p.host = c.host AND p.token = c.token AND p.path = c.path),
       |likes AS (
       |  SELECT host, agent, pattern, is_allow, length(pattern) AS plen,
       |    CASE WHEN pattern LIKE '%$$'
       |         THEN replace(substr(pattern, 1, length(pattern) - 1), '*', '%')
       |         ELSE replace(pattern, '*', '%') || '%' END AS likepat
       |  FROM rules),
       |m AS (
       |  SELECT c.host, c.token, c.path, l.is_allow, l.plen
       |  FROM chosen c
       |  JOIN likes l ON c.host = l.host AND c.group_agent = l.agent
       |              AND c.path LIKE l.likepat),
       |best AS (
       |  SELECT host, token, path, is_allow,
       |    row_number() OVER (PARTITION BY host, token, path
       |                       ORDER BY plen DESC, is_allow DESC) AS rn
       |  FROM m),
       |nr AS (
       |  SELECT c.host, c.token, c.path,
       |         CAST(count(r.pattern) AS BIGINT) AS n_rules
       |  FROM chosen c
       |  LEFT JOIN rules r ON c.host = r.host AND c.group_agent = r.agent
       |  GROUP BY c.host, c.token, c.path)
       |SELECT c.host, c.token, c.path, c.group_agent,
       |  CAST(CASE WHEN b.is_allow IS NULL OR b.is_allow THEN 0 ELSE 1 END AS BIGINT)
       |    AS blocked,
       |  nr.n_rules
       |FROM chosen c
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |  ON c.host = b.host AND c.token = b.token AND c.path = b.path
       |JOIN nr ON c.host = nr.host AND c.token = nr.token AND c.path = nr.path
       |ORDER BY c.host, c.token, c.path""".stripMargin
  }

  /** DuckDB twin of [[robotsDecisions]]: pattern → LIKE (`*` → `%`;
    * trailing `$` drops the appended prefix-`%`), longest-match via a
    * window ordered (length DESC, is_allow DESC — the tie-to-Allow rule).
    * Exact because the planted patterns avoid LIKE metacharacters. */
  def robotsDecisionsSql: String = {
    val rulesValues = RobotsMatrixRules
      .map { case (h, p, a) => s"('$h', '$p', ${if (a) 1 else 0})" }.mkString(", ")
    val pathsValues = RobotsMatrixPaths
      .map { case (h, p) => s"('$h', '$p')" }.mkString(", ")
    s"""WITH rules AS (
       |  SELECT h AS host, p AS pattern, a = 1 AS is_allow
       |  FROM (VALUES $rulesValues) v(h, p, a)),
       |paths AS (SELECT h AS host, p AS path FROM (VALUES $pathsValues) v(h, p)),
       |likes AS (
       |  SELECT host, pattern, is_allow, length(pattern) AS plen,
       |    CASE WHEN pattern LIKE '%$$'
       |         THEN replace(substr(pattern, 1, length(pattern) - 1), '*', '%')
       |         ELSE replace(pattern, '*', '%') || '%' END AS likepat
       |  FROM rules),
       |m AS (
       |  SELECT p.host, p.path, l.is_allow, l.plen
       |  FROM paths p JOIN likes l ON p.host = l.host AND p.path LIKE l.likepat),
       |best AS (
       |  SELECT host, path, is_allow,
       |    row_number() OVER (PARTITION BY host, path
       |                       ORDER BY plen DESC, is_allow DESC) AS rn
       |  FROM m),
       |agg AS (SELECT host, path, CAST(count(*) AS BIGINT) AS n_match
       |        FROM m GROUP BY host, path)
       |SELECT p.host, p.path,
       |  CAST(CASE WHEN b.is_allow IS NULL OR b.is_allow THEN 0 ELSE 1 END AS BIGINT)
       |    AS blocked,
       |  CAST(coalesce(a.n_match, 0) AS BIGINT) AS n_match
       |FROM paths p
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |  ON p.host = b.host AND p.path = b.path
       |LEFT JOIN agg a ON p.host = a.host AND p.path = a.path
       |ORDER BY p.host, p.path""".stripMargin
  }
}
