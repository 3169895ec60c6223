package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rank stability under link noise (`q_rank_stability`) — how robust is
  * the authority signal the frontier schedules by? Ng/Zheng/Jordan
  * ("Link analysis, eigenvectors and stability", IJCAI 2001) showed
  * PageRank's perturbation sensitivity is the practical question for any
  * ranking pipeline; for a crawl the perturbation is not adversarial but
  * OPERATIONAL — every snapshot sees a different ~quarter of links
  * (pages missed by politeness budgets, fetch errors, template churn).
  * If host authority reorders under that noise, wave plans and budget
  * allocations churn with it ([[CrawlQueries.wavePlan]] reapportions,
  * [[Freshness.crawlPriority]] re-sorts); if it is stable, cached ranks
  * can safely persist across snapshots. This operator removes a salted
  * ~25% of PAGE-level links (deterministic, oracle-replayable), reruns
  * the full integer PageRank recurrence on the surviving host graph, and
  * ledgers the divergence.
  *
  * Output: the top [[TopMovers]] hosts by |Δrank| (delta desc, host asc)
  * with the GLOBAL ledger repeated on every row — `n_hosts` (union of
  * both node sets), `n_edges_a`/`n_edges_b` (page links before/after the
  * noise), `tvd_micro` = Σ|ra − rb| div 2 (total-variation in the
  * recurrence's own micro units — no floats), `top10_overlap` (how many
  * of the top-10 authorities survive the noise — the number a cached
  * wave plan actually depends on).
  *
  * Scale shape (100 TB): the noise filter is one per-row hash predicate
  * on the page edge stream; both ranks are the shared
  * [[CrawlQueries.pageRankKernel]] (pinned rounds, keyed joins, lineage
  * cuts); the join/ledger is one full-outer keyed join + one ungrouped
  * aggregate; top-movers and top-10s are bounded TakeOrdered picks.
  */
object RankStability {

  val TopMovers = 10

  /** Noise salt + threshold: page edges with hash44 below ~25% vanish. */
  val NoiseSalt = ":graft-rankstab-v1"
  val NoiseThr: Long = (1L << 44) / 4

  private def hostEdges(pages: DataFrame): DataFrame =
    pages.select(Cardinality.hostCol(col("src")).as("src"),
      Cardinality.hostCol(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Stability ledger over a page-level (src, dst) link frame. */
  def rankStability(pagesIn: DataFrame, thr: Long = NoiseThr): DataFrame = {
    val pages = pagesIn.filter(col("dst").startsWith("http")).localCheckpoint()
    val kept = pages.filter(
      Cardinality.urlHashCol(concat(col("src"), lit(">"), col("dst"), lit(NoiseSalt))) >= thr)
      .localCheckpoint()
    val nA = pages.count(); val nB = kept.count()
    // the intact and noise-dropped ranks are INDEPENDENT recurrences over
    // checkpointed edge frames — run them as concurrent driver-thread
    // jobs (guide §2.6, the Percolation schedule)
    val Seq(ra, rb) = Par.all(Seq(
      () => CrawlQueries.pageRankKernel(hostEdges(pages), "host")
        .select(col("host"), col("rank_micro").as("ra")),
      () => CrawlQueries.pageRankKernel(hostEdges(kept), "host")
        .select(col("host"), col("rank_micro").as("rb"))))
    val joined = ra.join(rb, Seq("host"), "full_outer")
      .select(col("host"), coalesce(col("ra"), lit(0L)).as("ra"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .withColumn("delta_micro", abs(col("ra") - col("rb")))
      .localCheckpoint()
    val topA = joined.orderBy(desc("ra"), asc("host")).limit(10).select("host")
    val topB = joined.orderBy(desc("rb"), asc("host")).limit(10).select("host")
    val ledger = joined.agg(count(lit(1)).as("n_hosts"),
        expr("sum(delta_micro) div 2").as("tvd_micro"))
      .crossJoin(broadcast(topA.join(topB, "host")
        .agg(count(lit(1)).as("top10_overlap"))))
      .select(col("n_hosts"), lit(nA).as("n_edges_a"), lit(nB).as("n_edges_b"),
        col("tvd_micro"), col("top10_overlap"))
    joined.orderBy(desc("delta_micro"), asc("host")).limit(TopMovers)
      .crossJoin(broadcast(ledger))
      .orderBy(desc("delta_micro"), asc("host"))
  }

  /** Contract query `q_rank_stability` over the corpus link edges. */
  def rankStabilityQuery(spark: SparkSession, dir: String): DataFrame =
    rankStability(CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst"))

  /** DuckDB twin: BOTH full unrolled PageRank recurrences (intact and
    * noise-filtered page edges, same hash), then the identical ledger. */
  def rankStabilitySql(edgesSelect: String): String = {
    def hostMap(inner: String): String =
      s"""SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
         |       regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
         |FROM ($inner) WHERE dst LIKE 'http%'
         |  AND regexp_extract(src, '^https?://([^/]+)', 1)
         |   <> regexp_extract(dst, '^https?://([^/]+)', 1)""".stripMargin
    val keptInner =
      s"""SELECT src, dst FROM ($edgesSelect)
         |WHERE CAST(('0x' || substr(md5(src || '>' || dst || '$NoiseSalt'), 1, 11)) AS BIGINT)
         |      >= $NoiseThr""".stripMargin
    val raSql = CrawlQueries.pageRankSql(hostMap(edgesSelect), key = "host", edgeFilter = "")
    val rbSql = CrawlQueries.pageRankSql(hostMap(keptInner), key = "host", edgeFilter = "")
    s"""WITH rka AS MATERIALIZED ($raSql),
       |rkb AS MATERIALIZED ($rbSql),
       |j AS MATERIALIZED (
       |  SELECT coalesce(a.host, b.host) AS host,
       |    CAST(coalesce(a.rank_micro, 0) AS BIGINT) AS ra,
       |    CAST(coalesce(b.rank_micro, 0) AS BIGINT) AS rb,
       |    CAST(abs(coalesce(a.rank_micro, 0) - coalesce(b.rank_micro, 0)) AS BIGINT)
       |      AS delta_micro
       |  FROM rka a FULL OUTER JOIN rkb b ON a.host = b.host),
       |na AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM ($keptInner) WHERE dst LIKE 'http%'),
       |ta AS (SELECT host FROM j ORDER BY ra DESC, host LIMIT 10),
       |tb AS (SELECT host FROM j ORDER BY rb DESC, host LIMIT 10),
       |led AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hosts,
       |    CAST(sum(delta_micro) // 2 AS BIGINT) AS tvd_micro
       |  FROM j),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS top10_overlap
       |       FROM ta JOIN tb USING (host))
       |SELECT j.host, j.ra, j.rb, j.delta_micro,
       |  led.n_hosts, na.n AS n_edges_a, nb.n AS n_edges_b,
       |  led.tvd_micro, ov.top10_overlap
       |FROM j CROSS JOIN led CROSS JOIN na CROSS JOIN nb CROSS JOIN ov
       |ORDER BY j.delta_micro DESC, j.host LIMIT $TopMovers""".stripMargin
  }
}
