package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss peeling ledger (`q_ktruss`) — Cohen NSA TR 2008 "Trusses:
  * cohesive subgraphs for social network analysis"; Wang & Cheng VLDB
  * 2012 for the peeling formulation: the 4-truss is the maximal subgraph
  * where EVERY edge closes ≥ 2 triangles inside the subgraph — the
  * standard strengthening of triangle counting from vertex statistics to
  * edge-level cohesion. [[TriangleCensus]] says how clustered an octave
  * is; the truss says WHICH links survive when one-off wedge closures
  * are peeled away: surviving edges are organic community fabric, and a
  * link-farm clique survives too — but WlColors/LinkFarm separate those
  * two by structure, which is why the truss is their companion feature,
  * not a replacement.
  *
  * Peeling is iterative (removing an edge can demote its neighbors), so
  * the operator runs [[Rounds]] pinned peel rounds — per round: exact
  * per-edge triangle support via the rank-oriented wedge closure (the
  * TriangleCensus kernel, skew defused by orientation), drop edges with
  * support < 2, re-count — and emits the round LEDGER: `round`,
  * `n_edges_in`, `n_removed`, `n_surviving`, `converged` (a fixpoint
  * round removes nothing; the corpus converges within the pinned budget,
  * asserted in the spec), plus the surviving-subgraph headline
  * `n_tri_final` on every row. The edge set itself is golden-gated in
  * the spec; the contract is the ledger.
  *
  * Scale shape (100 TB): each round is the bounded-wedge triangle kernel
  * (per-source fan-out ≤ O(√m) by orientation) + one keyed support
  * aggregation + an anti-join removal; state is the edge list only,
  * lineage-cut per round ([[Hits]] discipline). Rounds are pinned, not
  * data-dependent — the fleet dial is raising [[Rounds]].
  */
object KTruss {

  val Rounds = 5
  val MinSupport = 2L // k-truss with k = 4

  /** Per-edge triangle support of an undirected (a, b) edge frame. */
  private def support(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") <= col("db")
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
    val e1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val tri = e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    tri.select(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b"))
      .unionAll(tri.select(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")))
      .unionAll(tri.select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
  }

  /** Peel ledger + final edges over any directed host-pair stream. */
  def ktruss(pairs: DataFrame): (DataFrame, DataFrame) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val und0 = pairs.select(
        least(col("src_host"), col("dst_host")).as("a"),
        greatest(col("src_host"), col("dst_host")).as("b"))
      .filter(col("a") =!= col("b") && col("a") =!= "" && col("b") =!= "")
      .distinct().localCheckpoint()
    // edge counts: n(r) after round r; each round first counts the set it peels
    val n = Array.ofDim[Long](Rounds + 1)
    val und = graft.pipeline.Rounds.iterate(und0, Rounds) { (und, r) =>
      n(r - 1) = und.count()
      und.join(support(und), Seq("a", "b"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= MinSupport)
        .select("a", "b")
    }
    n(Rounds) = und.count()
    val ledger = (1 to Rounds).map(r =>
      (r.toLong, n(r - 1), n(r - 1) - n(r), n(r), if (n(r - 1) == n(r)) 1 else 0))
    val nTriFinal = support(und).agg(expr("coalesce(sum(sup), 0) div 3"))
      .head.getLong(0)
    val led = ledger.toDF("round", "n_edges_in", "n_removed", "n_surviving", "converged")
      .withColumn("converged", col("converged").cast("int"))
      .withColumn("n_tri_final", lit(nTriFinal))
      .orderBy("round")
    (led, und)
  }

  /** Contract query `q_ktruss` over the crawl corpus link edges. */
  def ktrussQuery(spark: SparkSession, dir: String): DataFrame =
    ktruss(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("src_host"),
        Cardinality.hostCol(col("dst")).as("dst_host")))._1

  /** DuckDB twin: every peel round replayed as MATERIALIZED chained CTEs
    * (orientation, wedge closure, support, removal). */
  def ktrussSql(edgesSelect: String): String = {
    def roundCtes(i: Int): String =
      s"""deg$i AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT a AS v FROM u$i UNION ALL SELECT b AS v FROM u$i) GROUP BY v),
         |o$i AS MATERIALIZED (
         |  SELECT CASE WHEN da <= db THEN a ELSE b END AS u,
         |         CASE WHEN da <= db THEN b ELSE a END AS v,
         |         CASE WHEN da <= db THEN db ELSE da END AS dv
         |  FROM (SELECT u$i.a, u$i.b, x.d AS da, y.d AS db
         |        FROM u$i JOIN deg$i x ON x.v = u$i.a JOIN deg$i y ON y.v = u$i.b)),
         |t$i AS MATERIALIZED (
         |  SELECT w.u, w.x, w.y
         |  FROM (SELECT e1.u, e1.v AS x, e2.v AS y
         |        FROM o$i e1 JOIN o$i e2 ON e1.u = e2.u
         |        WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)) w
         |  JOIN o$i o ON o.u = w.x AND o.v = w.y),
         |s$i AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT least(u, x) AS a, greatest(u, x) AS b FROM t$i
         |    UNION ALL SELECT least(u, y), greatest(u, y) FROM t$i
         |    UNION ALL SELECT least(x, y), greatest(x, y) FROM t$i)
         |  GROUP BY a, b),
         |u${i + 1} AS MATERIALIZED (
         |  SELECT u.a, u.b FROM u$i u JOIN s$i s ON s.a = u.a AND s.b = u.b
         |  WHERE s.sup >= $MinSupport)""".stripMargin
    val rounds = (1 to Rounds).map(roundCtes).mkString(",\n")
    val ledgers = (1 to Rounds).map { i =>
      s"""SELECT $i AS round,
         |  (SELECT count(*) FROM u$i) AS n_edges_in,
         |  (SELECT count(*) FROM u$i) - (SELECT count(*) FROM u${i + 1}) AS n_removed,
         |  (SELECT count(*) FROM u${i + 1}) AS n_surviving,
         |  CASE WHEN (SELECT count(*) FROM u$i) = (SELECT count(*) FROM u${i + 1})
         |       THEN 1 ELSE 0 END AS converged""".stripMargin
    }.mkString("\n  UNION ALL ")
    val fi = Rounds + 1
    s"""WITH e0 AS ($edgesSelect),
       |h AS (
       |  SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src_host,
       |         regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host
       |  FROM e0 WHERE dst LIKE 'http%'),
       |u1 AS MATERIALIZED (
       |  SELECT DISTINCT least(src_host, dst_host) AS a,
       |                  greatest(src_host, dst_host) AS b
       |  FROM h WHERE src_host <> dst_host AND src_host <> '' AND dst_host <> ''),
       |$rounds,
       |${roundCtes(fi)},
       |fin AS (SELECT CAST(coalesce(sum(sup), 0) // 3 AS BIGINT) AS n_tri_final
       |        FROM s$fi)
       |SELECT CAST(round AS BIGINT) AS round, CAST(n_edges_in AS BIGINT) AS n_edges_in,
       |  CAST(n_removed AS BIGINT) AS n_removed,
       |  CAST(n_surviving AS BIGINT) AS n_surviving,
       |  CAST(converged AS INTEGER) AS converged,
       |  (SELECT n_tri_final FROM fin) AS n_tri_final
       |FROM ($ledgers) AS led ORDER BY round""".stripMargin
  }
}
