package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SALSA (Lempel & Moran, WWW 2000) — the stochastic cousin of [[Hits]]
  * and the production choice for link-based endorsement (it is the
  * algorithm behind Twitter's who-to-follow GraphJet work): authority
  * mass moves by a random walk that alternates a reverse step over
  * in-links and a forward step over out-links, each step NORMALIZED by
  * the degree it traverses. Where HITS lets a single dense hub amplify
  * everything it touches (the TKC effect — tightly-knit communities
  * capture the principal eigenvector), SALSA's degree normalization
  * makes the stationary authority of a connected component proportional
  * to IN-DEGREE within it — resistant to link farms that HITS rewards.
  * That known stationary property is spec-gated directly.
  *
  * Same exact-integer discipline as [[Hits]]/[[TrustRank]]: micro
  * units, `div` by the traversed degree, per-round L1 renormalization
  * via a broadcast one-row total, per-round lineage cuts, DuckDB
  * re-executing every unrolled round. Update order mirrors Kleinberg's:
  * authority from the previous hub vector, hub from the new authority. */
object Salsa {

  val SalsaIters = 8
  val UnitMicro: Long = Hits.HitsUnitMicro

  /** The integer SALSA iteration over any (src, dst) edge frame: distinct
    * edges, each carrying its endpoint's score divided by the degree it
    * traverses ([[Hits.hubAuthority]]'s loop). */
  def salsaKernel(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.select("src", "dst").distinct().localCheckpoint()
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg")).localCheckpoint()
    val inDeg = edges.groupBy("dst").agg(count(lit(1)).as("in_deg")).localCheckpoint()
    val nodes = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct().localCheckpoint()
    // authority: reverse walk — each hub i spreads hub(i)/out(i);
    // hub: forward walk — each authority j returns auth(j)/in(j)
    Hits.hubAuthority(nodes, SalsaIters,
        edges.join(outDeg, "src"), "hub_micro div out_deg",
        edges.join(inDeg, "dst"), "auth_micro div in_deg")
      .join(inDeg.withColumnRenamed("dst", "url"), Seq("url"), "left")
      .join(outDeg.withColumnRenamed("src", "url"), Seq("url"), "left")
      .na.fill(0L, Seq("in_deg", "out_deg"))
      .select("url", "auth_micro", "hub_micro", "in_deg", "out_deg")
      .orderBy(desc("auth_micro"), asc("url"))
  }

  /** Contract query `q_salsa`: SALSA over the fetchable page link graph
    * (the [[Hits]] graph — the two outputs differ exactly where the TKC
    * effect bites). */
  def salsa(spark: SparkSession, dir: String): DataFrame =
    salsaKernel(CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http")))

  /** DuckDB twin: all rounds unrolled as chained CTEs — the same
    * degree-normalized integer walk. */
  def salsaSql(edgesSelect: String): String = {
    val rounds = (1 to SalsaIters).map { i =>
      s"""ar$i AS (
         |  SELECT n.url, CAST(coalesce(c.s, 0) AS BIGINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url, CAST(sum(h.hub_micro // o.out_deg) AS BIGINT) AS s
         |    FROM edges e JOIN outdeg o ON e.src = o.src
         |    JOIN h${i - 1} h ON h.url = e.src GROUP BY e.dst) c
         |  ON n.url = c.url),
         |a$i AS (
         |  SELECT url, CAST(raw * $UnitMicro // greatest(sum(raw) OVER (), 1) AS BIGINT)
         |    AS auth_micro FROM ar$i),
         |hr$i AS (
         |  SELECT n.url, CAST(coalesce(c.s, 0) AS BIGINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS url, CAST(sum(a.auth_micro // i2.in_deg) AS BIGINT) AS s
         |    FROM edges e JOIN indeg i2 ON e.dst = i2.dst
         |    JOIN a$i a ON a.url = e.dst GROUP BY e.src) c
         |  ON n.url = c.url),
         |h$i AS (
         |  SELECT url, CAST(raw * $UnitMicro // greatest(sum(raw) OVER (), 1) AS BIGINT)
         |    AS hub_micro FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT src, dst FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |nodes AS (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
       |indeg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst),
       |h0 AS (SELECT url, CAST($UnitMicro AS BIGINT) AS hub_micro FROM nodes),
       |$rounds
       |SELECT a.url, a.auth_micro, h.hub_micro,
       |  CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg
       |FROM a$SalsaIters a
       |JOIN h$SalsaIters h ON a.url = h.url
       |LEFT JOIN indeg i ON a.url = i.dst
       |LEFT JOIN outdeg o ON a.url = o.src
       |ORDER BY a.auth_micro DESC, a.url""".stripMargin
  }
}
