package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank from the crawl seed set (`q_ppr`) — the focused-
  * crawl relevance signal (Haveliwala, "Topic-Sensitive PageRank", WWW'02;
  * Chakrabarti's focused crawling): global PageRank ([[CrawlQueries
  * .pageRank]]) answers "what is authoritative on the whole graph", PPR
  * answers "what is authoritative AS SEEN FROM these seeds" — the
  * teleport vector is the seed set instead of the uniform vector, so rank
  * mass decays with link distance from the seeds and pages outside the
  * seeds' forward neighborhood score exactly zero. That is the frontier-
  * prioritization read a topical crawl wants: expansion candidates ranked
  * by seed-relative authority, not global popularity (a globally-huge but
  * off-topic hub must NOT win the wave budget).
  *
  * The recurrence IS global PageRank's: [[CrawlQueries.pageRankRounds]]
  * runs [[CrawlQueries.PageRankIters]] of the shared
  * [[CrawlQueries.pageRankRound]] (micro-units, damped integer
  * recurrence) — with ONE structural difference that defines PPR: the
  * per-round floor is a per-node column, `(100−d)%·unit` on seed nodes
  * (split evenly across them in integer micro-units) and zero everywhere
  * else, where the rank is purely inherited mass. A zero row is therefore
  * a THEOREM about the graph ("unreachable from the seeds in any number of
  * steps"), which is why the output keeps them: `ppr_micro = 0` ⟺ not
  * forward-reachable — the [[Bowtie]] `out∪scc` set of the seeds,
  * cross-checkable.
  *
  * 100-TB shape: the global kernel's, since it runs the same round — the
  * loop-invariant edges⋈out-degree join checkpointed once, per round one
  * keyed join + one map-side-combined sum, per-round lineage cuts, no
  * windows, no driver state beyond the fixed seed list (spec data, a
  * handful of strings).
  *
  * (Reference scope: rust-scraper's relevance_scorer.rs ranks pages by
  * CONTENT similarity to a query; PPR is the complementary LINK-side
  * relevance — both feed the same priority queue, and the engine's
  * priority composition (`q_revisit_priority`) is where such signals
  * combine.)
  */
object Ppr {

  /** The seed set: the crawl's first seed host's root AS SERVED — site0
    * serves under its `www.` host in the corpus (the canonicalization
    * scenario `q_canonicalize_urls` exercises), so the link graph's node is
    * the www root. A strict subset of the corpus seed list on purpose: PPR
    * must CONTRAST with global PageRank, and site0's neighborhood vs
    * site1/site2's is the contrast. */
  val SeedUrls: Seq[String] = Seq("https://www.site0.com/")

  private def seedsSql: String =
    "SELECT url FROM (VALUES " +
      SeedUrls.map(u => s"('$u')").mkString(", ") + ") v(url)"

  /** Personalized PageRank over any (src, dst) edge frame from `seeds`:
    * (url, ppr_micro, in_deg, out_deg), zero = seed-unreachable. */
  def pprKernel(edgesIn: DataFrame, seeds: Seq[String]): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = edgesIn.localCheckpoint()
    // a seed with no edges still teleports
    val nodes = CrawlQueries.degreeNodes(edges, seeds).localCheckpoint()
    // the teleport floor: (100−d)%·unit split evenly over the seeds in
    // integer micro-units — the ONLY mass injection in the whole recurrence
    val perSeedFloor = CrawlQueries.PageRankFloorMicro / seeds.size
    val seedFloor = seeds.toDF("url")
      .select(col("url"), lit(perSeedFloor).as("floor_micro"))
    val floored = nodes.join(seedFloor, Seq("url"), "left")
      .select(col("url"), coalesce(col("floor_micro"), lit(0L)).as("floor_micro"))
      .localCheckpoint()
    // r0: the full unit split over the seeds, zero elsewhere — the whole
    // initial distribution IS the teleport vector
    val perSeedUnit = CrawlQueries.PageRankUnitMicro / seeds.size
    val init = floored.select(col("url"),
      when(col("floor_micro") > 0L, lit(perSeedUnit)).otherwise(lit(0L)).as("rank_micro"))
    CrawlQueries.pageRankRounds(CrawlQueries.weightedEdges(edges, nodes), floored, init,
        Seq("rank_micro" -> "floor_micro"))
      .join(nodes, Seq("url"))
      .select(col("url"), col("rank_micro").as("ppr_micro"),
        col("in_deg"), col("out_deg"))
      .orderBy(desc("ppr_micro"), asc("url"))
  }

  /** Driver-contract query: page-level PPR from the crawl's first seed. */
  def ppr(spark: SparkSession, dir: String): DataFrame =
    pprKernel(
      CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
        .filter(col("dst").startsWith("http")),
      SeedUrls)

  /** DuckDB twin: the identical seeded integer recurrence unrolled as
    * MATERIALIZED chained CTEs over the frozen edge fixture. */
  def pprSql(edgesSelect: String): String = {
    val iters = CrawlQueries.PageRankIters
    val damp = CrawlQueries.PageRankDampPct
    val perSeedFloor = CrawlQueries.PageRankFloorMicro / SeedUrls.size
    val seedInit = CrawlQueries.PageRankUnitMicro / SeedUrls.size
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.url,
         |    CAST(n.floor_micro + ($damp * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_micro
         |  FROM floored n LEFT JOIN (
         |    SELECT e.dst AS url,
         |      CAST(sum(r.rank_micro // o.out_deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN outdeg o ON e.src = o.src
         |    JOIN r${i - 1} r ON r.url = e.src
         |    GROUP BY e.dst) c ON n.url = c.url)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT src, dst FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |seeds AS ($seedsSql),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT url FROM (
       |    SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges
       |    UNION ALL SELECT url FROM seeds)),
       |outdeg AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
       |indeg AS MATERIALIZED (SELECT dst AS url, count(*) AS in_deg FROM edges GROUP BY dst),
       |floored AS MATERIALIZED (
       |  SELECT n.url,
       |    CASE WHEN s.url IS NOT NULL THEN $perSeedFloor ELSE 0 END AS floor_micro
       |  FROM nodes n LEFT JOIN seeds s ON s.url = n.url),
       |r0 AS (
       |  SELECT url, CAST(CASE WHEN floor_micro > 0 THEN $seedInit ELSE 0 END AS BIGINT)
       |    AS rank_micro
       |  FROM floored),
       |$rounds
       |SELECT r.url, r.rank_micro AS ppr_micro,
       |  CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg
       |FROM r$iters r
       |LEFT JOIN indeg i ON r.url = i.url
       |LEFT JOIN outdeg o ON r.url = o.src
       |ORDER BY r.rank_micro DESC, r.url""".stripMargin
  }
}
