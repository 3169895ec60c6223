package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CrawlQueries => CQ}

/** TrustRank + spam mass (Gyöngyi/Garcia-Molina/Pedersen, VLDB'04) — the
  * link-spam demotion layer a web-scale crawl runs next to PageRank.
  * PageRank is agnostic about WHERE rank comes from, so link farms
  * manufacture it; TrustRank re-runs the same damped recurrence with the
  * teleport mass concentrated on a trusted seed set, so rank can only
  * flow out of seeds along real endorsement paths. A host whose PageRank
  * vastly exceeds its trust-reachable rank earned it from nowhere
  * trustworthy — that gap (relative spam mass) is the demotion signal
  * [[Reputation]]-style frontier policy consumes.
  *
  * Same integer micro-unit discipline as [[CrawlQueries.pageRankKernel]]
  * (bit-identical at any parallelism, DuckDB-replayable): seeds start at
  * [[CQ.PageRankUnitMicro]], non-seeds at 0; each round a seed receives
  * the floor term and every host receives the damped contribution sum.
  * Seed selection is table-driven (the paper's human-review oracle is a
  * salted digit here — ~1/3 of hosts), host granularity (the paper's own
  * choice: trust is a site property).
  *
  * Spam mass in exact integer arithmetic, documented variant: trust is
  * first rescaled by the GLOBAL factor `scale = total_pr div total_tr`
  * (two bounded aggregates — at 10^7 hosts each is one long), then
  * `spam_mass_permille = 1000 - (tr*scale*1000) div pr`, clamped to
  * [0, 1000]. This is the paper's relative mass up to integer rounding;
  * the div-before-multiply keeps every product under ~2^43 per unit of
  * rank so the computation cannot overflow at any corpus size.
  *
  * Scale shape: the host graph (orders of magnitude smaller than the
  * page graph) + [[CQ.PageRankIters]] Pregel rounds of keyed
  * join→map-side-combined sum, lineage-truncated per round, each round
  * carrying BOTH rank vectors as two columns of one row
  * ([[CQ.pageRankRound]] at K = 2: one contribution join, one shuffle, one
  * rejoin) — the cost of one hostRank run, not two; the two global totals
  * are scalar aggregates, not a shuffle of the rank vectors. */
object TrustRank {

  private[pipeline] val TrustSalt = ":graft-trust-v1"

  /** A host is a trusted seed iff its salted digit ≡ 0 (mod 3). */
  def seedCol(host: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ascii(substring(md5(concat(host, lit(TrustSalt))), 1, 1)) % 3 === 0

  /** Contract query `q_trustrank`: per-host PageRank, trust rank, seed
    * flag, and relative spam mass (‰). */
  def trustRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = CQ.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("src"),
        Cardinality.hostCol(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val seeded = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct()
      .withColumn("tr_floor",
        when(seedCol(col("url")), lit(CQ.PageRankFloorMicro)).otherwise(lit(0L)))
      .localCheckpoint()
    // PageRank (uniform floor) and trust (seeded floor) are the same
    // recurrence over the same edges: carry both as columns of ONE round
    val init = seeded.select(col("url"), lit(CQ.PageRankUnitMicro).as("pr_micro"),
      when(seedCol(col("url")), lit(CQ.PageRankUnitMicro)).otherwise(lit(0L))
        .as("tr_micro"))
    val joined = CQ.pageRankRounds(CQ.weightedEdges(edges), seeded, init,
        Seq("pr_micro" -> CQ.PageRankFloorMicro.toString, "tr_micro" -> "tr_floor"))
      .withColumnRenamed("url", "host")
    // two bounded scalar aggregates — the only driver-visible values
    val totals = joined.agg(sum("pr_micro"), sum("tr_micro")).head()
    val scale = math.max(1L, totals.getLong(0) / math.max(1L, totals.getLong(1)))
    joined
      .withColumn("seed", seedCol(col("host")))
      .withColumn("spam_mass_permille",
        greatest(lit(0L), least(lit(1000L),
          lit(1000L) - expr(s"tr_micro * $scale * 1000 div pr_micro"))))
      .select("host", "seed", "pr_micro", "tr_micro", "spam_mass_permille")
      .orderBy("host")
  }

  /** DuckDB twin: seeds from the same salted digit, BOTH unrolled integer
    * recurrences re-executed (PageRank via the shared hostRank CTE shape,
    * trust with the seeded floor), then the same global-scale spam-mass
    * arithmetic — a full independent re-derivation, not a fixture. */
  def trustRankSql(edgesSelect: String): String = {
    val prRounds = (1 to CQ.PageRankIters).map { i =>
      s"""pr$i AS (
         |  SELECT n.url,
         |    CAST(${CQ.PageRankFloorMicro} + (${CQ.PageRankDampPct} * coalesce(c.s, 0)) // 100 AS BIGINT) AS pr_micro
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url, CAST(sum(r.pr_micro // o.out_deg) AS BIGINT) AS s
         |    FROM edges e JOIN outdeg o ON e.src = o.src
         |    JOIN pr${i - 1} r ON r.url = e.src GROUP BY e.dst) c ON n.url = c.url)""".stripMargin
    }.mkString(",\n")
    val trRounds = (1 to CQ.PageRankIters).map { i =>
      s"""tr$i AS (
         |  SELECT n.url,
         |    CAST(n.floor_micro + (${CQ.PageRankDampPct} * coalesce(c.s, 0)) // 100 AS BIGINT) AS tr_micro
         |  FROM seeded n LEFT JOIN (
         |    SELECT e.dst AS url, CAST(sum(r.tr_micro // o.out_deg) AS BIGINT) AS s
         |    FROM edges e JOIN outdeg o ON e.src = o.src
         |    JOIN tr${i - 1} r ON r.url = e.src GROUP BY e.dst) c ON n.url = c.url)""".stripMargin
    }.mkString(",\n")
    s"""WITH page_edges AS (SELECT src, dst FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |edges AS (
       |  SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
       |         regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
       |  FROM page_edges
       |  WHERE regexp_extract(src, '^https?://([^/]+)', 1)
       |     <> regexp_extract(dst, '^https?://([^/]+)', 1)),
       |nodes AS (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
       |seeded AS (
       |  SELECT url,
       |    CASE WHEN ascii(substr(md5(url || '$TrustSalt'), 1, 1)) % 3 = 0
       |      THEN ${CQ.PageRankFloorMicro} ELSE 0 END AS floor_micro,
       |    ascii(substr(md5(url || '$TrustSalt'), 1, 1)) % 3 = 0 AS seed
       |  FROM nodes),
       |pr0 AS (SELECT url, CAST(${CQ.PageRankUnitMicro} AS BIGINT) AS pr_micro FROM nodes),
       |tr0 AS (
       |  SELECT url, CAST(CASE WHEN seed THEN ${CQ.PageRankUnitMicro} ELSE 0 END AS BIGINT) AS tr_micro
       |  FROM seeded),
       |$prRounds,
       |$trRounds,
       |joined AS (
       |  SELECT p.url AS host, s.seed, p.pr_micro, t.tr_micro
       |  FROM pr${CQ.PageRankIters} p
       |  JOIN tr${CQ.PageRankIters} t ON p.url = t.url
       |  JOIN seeded s ON p.url = s.url),
       |scale AS (
       |  SELECT greatest(1, CAST(sum(pr_micro) AS BIGINT)
       |    // greatest(1, CAST(sum(tr_micro) AS BIGINT))) AS f
       |  FROM joined)
       |SELECT j.host, j.seed, j.pr_micro, j.tr_micro,
       |  CAST(greatest(0, least(1000,
       |    1000 - (j.tr_micro * s.f * 1000) // j.pr_micro)) AS BIGINT)
       |    AS spam_mass_permille
       |FROM joined j, scale s
       |ORDER BY j.host""".stripMargin
  }
}
