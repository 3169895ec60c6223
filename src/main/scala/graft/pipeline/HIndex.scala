package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Host h-index ladder (`q_hindex`) — Lü/Zhou/Zhang/Stanley, "The
  * H-index of a network node and its relation to degree and coreness"
  * (Nature Communications 2016): applying the Hirsch operator to a host's
  * neighbor degrees — h¹ = max h such that ≥ h neighbors have degree ≥ h
  * — and then to the neighbors' h¹ values (h²) walks the exact ladder
  * degree = h⁰ ≥ h¹ ≥ h² ≥ … → coreness. Degree is loud but gameable
  * (a link farm buys degree in one spray — [[LinkFarm]]'s target);
  * coreness ([[KCore]]) is robust but needs the full peel; the h-ladder
  * is the cheap interpolation that exposes exactly the gap a spray
  * creates: a farmed hub has huge degree but tiny h¹, because its bought
  * neighbors are degree-1 throwaways. `deg − h1` is therefore a direct
  * spam-pressure signal, and h² tightens it one more hop.
  *
  * One row per host: `host`, `deg`, `h1`, `h2` — all exact integers with
  * the theorem-pinned sandwich deg ≥ h1 ≥ h2 ≥ coreness.
  *
  * Scale shape (100 TB): the collapsed distinct host-pair graph; one
  * degree aggregation, then per Hirsch step one keyed join (attach the
  * neighbor's current value) + one window PARTITIONED BY HOST (descending
  * neighbor values; h = max(min(rank, value)) — the textbook one-pass
  * h-index read). Partitions are per-host neighbor lists, so the sort is
  * local to each host's adjacency (a 10⁶-degree hub sorts 10⁶ rows inside
  * its own partition — bounded by max degree, never by corpus size); two
  * pinned steps, no iteration to convergence, no driver state.
  */
object HIndex {

  /** One Hirsch step: given (host, v) neighbor values keyed by edge rows
    * (a, b) and per-b values, compute per-a h = max(min(rank_desc, v)). */
  private def hirsch(edges: DataFrame, values: DataFrame): DataFrame = {
    val w = Window.partitionBy("a").orderBy(desc("v"), asc("b"))
    // hash join by construction: host-graph joins must never pay a sort
    edges.join(values.withColumnRenamed("host", "b").hint("shuffle_hash"), "b")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("a").as("host"))
      .agg(max(least(col("rn").cast("long"), col("v"))).as("h"))
  }

  /** The h-index ladder over any (a, b) host-pair frame. */
  def hindex(pairsIn: DataFrame): DataFrame = {
    val und = Communities.undirected(pairsIn.filter(col("a") =!= "" && col("b") =!= ""))
    val deg = und.groupBy(col("a").as("host")).agg(count(lit(1)).as("v"))
      .localCheckpoint()
    val h1 = hirsch(und, deg).withColumnRenamed("h", "v").localCheckpoint()
    val h2 = hirsch(und, h1)
    deg.select(col("host"), col("v").as("deg"))
      .join(h1.select(col("host"), col("v").as("h1")).hint("shuffle_hash"), "host")
      .join(h2.select(col("host"), col("h").as("h2")).hint("shuffle_hash"), "host")
      .orderBy(desc("h2"), desc("h1"), desc("deg"), asc("host"))
  }

  /** Contract query `q_hindex` over the corpus inter-host graph. */
  def hindexQuery(spark: SparkSession, dir: String): DataFrame =
    hindex(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b")))

  /** DuckDB twin: identical symmetrization, windows, and Hirsch reads. */
  def hindexSql(edgesSelect: String): String =
    s"""WITH e0 AS ($edgesSelect),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM e0 WHERE dst LIKE 'http%')
       |  WHERE a <> b AND a <> '' AND b <> ''),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |deg AS (SELECT a AS host, CAST(count(*) AS BIGINT) AS v FROM un GROUP BY a),
       |s1 AS (
       |  SELECT un.a, d.v,
       |    row_number() OVER (PARTITION BY un.a ORDER BY d.v DESC, un.b) AS rn
       |  FROM un JOIN deg d ON d.host = un.b),
       |h1 AS (
       |  SELECT a AS host, CAST(max(least(rn, v)) AS BIGINT) AS v
       |  FROM s1 GROUP BY a),
       |s2 AS (
       |  SELECT un.a, h.v,
       |    row_number() OVER (PARTITION BY un.a ORDER BY h.v DESC, un.b) AS rn
       |  FROM un JOIN h1 h ON h.host = un.b),
       |h2 AS (
       |  SELECT a AS host, CAST(max(least(rn, v)) AS BIGINT) AS v
       |  FROM s2 GROUP BY a)
       |SELECT deg.host, deg.v AS deg, h1.v AS h1, h2.v AS h2
       |FROM deg JOIN h1 USING (host) JOIN h2 USING (host)
       |ORDER BY h2 DESC, h1 DESC, deg DESC, host""".stripMargin
}
