package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degree assortativity + neighbor-degree profile of the host graph
  * (`q_assortativity`) — Newman's mixing measurement (PRL 2002): do
  * well-connected hosts link to other well-connected hosts (assortative,
  * r > 0) or to the periphery (disassortative, r < 0)? The web is the
  * textbook DISASSORTATIVE network — hubs link to leaves — and the crawl
  * consequences are operational: a disassortative host graph means hub
  * fetch failures orphan whole leaf neighborhoods ([[Bowtie]] tendrils),
  * and host-hash sharding stays balanced because hubs do NOT cluster on
  * one shard's neighborhood. The k_nn(k) profile (mean neighbor degree
  * per degree class, Pastor-Satorras et al.) is the same signal with
  * resolution — its slope is what the single r compresses.
  *
  * Exactness: over the symmetrized edge-end pairs (each undirected edge
  * contributes (deg u, deg v) AND (deg v, deg u)), Pearson's two
  * variances coincide, so r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — a
  * RATIONAL number, no square root anywhere. Integer permille via one
  * `div`; a degree-regular graph has denominator 0 and reports r = 0
  * (documented: mixing is undefined without degree variance). Star
  * graphs score exactly −1000, which the spec pins.
  *
  * Output: one row per degree class k — nodes at that degree, edge-ends
  * at that degree, mean neighbor degree in milli — with the global
  * integer r ledger repeated on every row ([[CorpusDrift]]'s convention).
  *
  * 100-TB shape: one degree aggregation, one edges⋈degrees join per
  * endpoint (keyed, map-side-combined sums), one global 1-row ledger
  * broadcast back. Sums are int64-safe to ~10^6-degree hubs at 10^9
  * edges; past that the documented dial is decimal(38) with identical
  * semantics. No windows, no driver state.
  *
  * (Reference scope: rust-scraper's link extractor yields the edges;
  * mixing structure is a fleet-level read it has no counterpart for.)
  */
object Assortativity {

  /** Planted star: a hub with 8 leaves in its own component — a strongly
    * disassortative block (a pure star is r = −1000), so the contract
    * graph's r and the hub/leaf k_nn rows are non-trivial by construction. */
  private[pipeline] val StarPlantPairs: Seq[(String, String)] =
    (1 to 8).map(i => ("assort-hub.example", s"assort-leaf$i.example"))

  private def starPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      StarPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Assortativity over any (a, b) host-pair frame (undirected). */
  def assortativity(pairsIn: DataFrame): DataFrame = {
    val und = Communities.undirected(pairsIn)
    val deg = und.groupBy(col("a").as("host")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // edge ends: (deg u, deg v) for every DIRECTED pair of the undirected
    // edge set — the symmetrization that makes r rational
    val ends = und
      .join(deg.select(col("host").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("host").as("b"), col("deg").as("dy")), "b")
      .select(col("a"), col("dx"), col("dy")).localCheckpoint()
    val ledger = ends.agg(
      count(lit(1)).as("m_ends"),
      sum("dx").as("sum_x"),
      sum(col("dx") * col("dy")).as("sum_xy"),
      sum(col("dx") * col("dx")).as("sum_x2"))
      .select(col("m_ends"), col("sum_x"), col("sum_xy"), col("sum_x2"),
        when(col("m_ends") * col("sum_x2") - col("sum_x") * col("sum_x") === 0L, 0L)
          .otherwise(expr(
            "((m_ends * sum_xy - sum_x * sum_x) * 1000) div (m_ends * sum_x2 - sum_x * sum_x)"))
          .as("r_permille"))
    val knn = ends.groupBy(col("dx").as("k")).agg(
      countDistinct(col("a")).as("n_nodes"),
      count(lit(1)).as("edge_ends"),
      expr("(sum(dy) * 1000) div count(1)").as("knn_milli"))
    knn.crossJoin(broadcast(ledger))
      .select(col("k"), col("n_nodes"), col("edge_ends"), col("knn_milli"),
        col("m_ends"), col("r_permille"))
      .orderBy("k")
  }

  /** Driver-contract query: mixing over the corpus inter-host graph plus
    * the planted star. */
  def assortativityQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assortativity(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(StarPlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin: the identical degree join, integer ledger and k_nn
    * rollup recomputed over the frozen edge fixture plus the plant. */
  def assortativitySql(edgesSelect: String): String =
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $starPlantSql)
       |  WHERE a <> b),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |deg AS MATERIALIZED (SELECT a AS host, count(*) AS deg FROM un GROUP BY a),
       |ends AS MATERIALIZED (
       |  SELECT un.a, dx.deg AS dx, dy.deg AS dy
       |  FROM un JOIN deg dx ON dx.host = un.a JOIN deg dy ON dy.host = un.b),
       |ledger AS (
       |  SELECT count(*) AS m_ends, sum(dx) AS sum_x, sum(dx * dy) AS sum_xy,
       |    sum(dx * dx) AS sum_x2
       |  FROM ends),
       |r AS (
       |  SELECT m_ends, sum_x, sum_xy, sum_x2,
       |    CASE WHEN m_ends * sum_x2 - sum_x * sum_x = 0 THEN 0
       |         ELSE ((m_ends * sum_xy - sum_x * sum_x) * 1000)
       |            // (m_ends * sum_x2 - sum_x * sum_x) END AS r_permille
       |  FROM ledger),
       |knn AS (
       |  SELECT dx AS k, count(DISTINCT a) AS n_nodes, count(*) AS edge_ends,
       |    (sum(dy) * 1000) // count(*) AS knn_milli
       |  FROM ends GROUP BY dx)
       |SELECT CAST(k AS BIGINT) AS k, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(edge_ends AS BIGINT) AS edge_ends,
       |  CAST(knn_milli AS BIGINT) AS knn_milli,
       |  CAST(r.m_ends AS BIGINT) AS m_ends,
       |  CAST(r.r_permille AS BIGINT) AS r_permille
       |FROM knn CROSS JOIN r
       |ORDER BY k""".stripMargin
}
