package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bow-tie decomposition of the directed host graph (`q_bowtie`) — the
  * canonical macro-structure measurement of the web (Broder et al., "Graph
  * structure in the Web", WWW 2000: the web's host graph is a giant
  * strongly-connected CORE with an IN set that reaches it, an OUT set it
  * reaches, and a periphery of tendrils/tubes and disconnected islands).
  * Every directed-graph read this engine runs sits somewhere on that map:
  * PageRank mass concentrates in SCC+OUT, new-seed discovery lives in IN,
  * crawler traps and spam islands in the periphery — and the crawl-ops
  * question "what fraction of the known web can this seed set actually
  * reach" IS the bow-tie around the seeds' component. The undirected
  * family ([[WebIndex.components]] reachability, [[Communities]] density,
  * [[KCore]] coreness) cannot see any of this: direction is the point.
  *
  * Classes, relative to the PIVOT's strongly-connected component (pivot =
  * maximal total-degree host, ties to the lexicographically smallest — the
  * standard giant-SCC heuristic, made deterministic):
  *   - `scc`   — forward- AND backward-reachable (the pivot's SCC);
  *   - `in`    — reaches the SCC, not reached by it;
  *   - `out`   — reached by the SCC, does not reach it;
  *   - `tendril` — neither, but in the pivot's WEAK component (includes
  *     Broder's tubes: IN→OUT paths bypassing the SCC — the usual
  *     simplification, stated);
  *   - `disconnected` — a different weak component entirely.
  *
  * All three reachabilities (forward, backward, undirected) are the SAME
  * pinned-horizon BFS closure carrying first-reach distance — min-distance
  * label propagation for [[ReachRounds]] rounds, each round one edges⋈set
  * hash join + one min aggregation (map-side partials), per-round lineage
  * cuts (the [[CrawlQueries.pageRankKernel]] discipline). Distances are
  * part of the contract (`dist_f`/`dist_b`, −1 = unreachable): the spec
  * proves the horizon IS the fixpoint on the contract graph (max distance
  * strictly below [[ReachRounds]]), so the pinned unroll is exact there.
  *
  * 100-TB shape: the closure re-joins the full settled set each round —
  * exactly what the unrolled SQL twin replays; the deployment optimization
  * (join only the round-r frontier delta, union settled) is a plan change,
  * not a semantics change, and is the note here. The pivot read is ONE
  * 1-row driver action over an aggregate. Nothing else leaves the
  * executors; no windows over the corpus.
  *
  * (Reference scope: rust-scraper walks links breadth-first from seeds —
  * batch_processor.rs — i.e. it explores exactly `scc ∪ out` of its seed
  * set's bow-tie; this operator is that reachability made a first-class
  * measurement with the unreachable classes made visible.)
  */
object Bowtie {

  /** Pinned BFS horizon — covers the contract graph's diameter with slack
    * (spec-proven fixpoint: nothing is first reached in the final round). */
  val ReachRounds = 10

  /** Planted island: a 2-host directed pair in its own weak component, so
    * the `disconnected` class (and the weak-closure machinery behind it)
    * provably fires on the contract corpus whatever its own shape. */
  private[pipeline] val BowtiePlantPairs: Seq[(String, String)] = Seq(
    ("bowtie-d0.example", "bowtie-d1.example"))

  private def bowtiePlantSql: String =
    "SELECT a, b FROM (VALUES " +
      BowtiePlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Pinned-horizon BFS closure from `pivot` over `edges` (cols a → b):
    * (host, dist) for every host first reached within [[ReachRounds]]
    * rounds, dist 0 = the pivot itself. Each round unions the settled set
    * with the one-step expansion and keeps the min distance — identical to
    * the unrolled SQL twin, permutation-invariant by construction. */
  private def closure(edges: DataFrame, pivot: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Rounds.iterate(Seq((pivot, 0L)).toDF("host", "dist"), ReachRounds) { (reach, r) =>
      val step = edges.join(reach.withColumnRenamed("host", "a"), "a")
        .select(col("b").as("host"), lit(r.toLong).as("dist"))
      reach.union(step).groupBy("host").agg(min("dist").as("dist"))
    }
  }

  /** Decompose any (a, b) directed host-pair frame around its maximal-
    * degree pivot: per host `cls` ∈ {scc,in,out,tendril,disconnected} and
    * the forward/backward first-reach distances (−1 = unreachable). */
  def bowtie(pairsIn: DataFrame): DataFrame = {
    val dir = pairsIn.filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val rev = dir.select(col("b").as("a"), col("a").as("b"))
    val und = Communities.undirected(dir)
    val nodes = und.select(col("a").as("host")).distinct().localCheckpoint()
    // deterministic pivot: max total degree over the distinct edge set,
    // ties to the smallest host — one bounded 1-row driver read
    val pivot = dir.select(col("a").as("host"))
      .union(dir.select(col("b").as("host")))
      .groupBy("host").agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), asc("host")).limit(1)
      .head().getString(0)
    // the three closures are INDEPENDENT pinned-round recurrences over
    // already-checkpointed edge frames — run them as concurrent
    // driver-thread jobs (guide §2.6, the Percolation schedule): the
    // query's wall time collapses to the slowest closure instead of the
    // sum of all three
    val Seq(fwd, bwd, weak) = Par.all(Seq(
      () => closure(dir, pivot), () => closure(rev, pivot), () => closure(und, pivot)))
    def d(c: Column): Column = coalesce(c, lit(-1L))
    nodes
      .join(fwd.withColumnRenamed("dist", "df"), Seq("host"), "left")
      .join(bwd.withColumnRenamed("dist", "db"), Seq("host"), "left")
      .join(weak.select(col("host"), lit(true).as("w")), Seq("host"), "left")
      .select(col("host"),
        when(col("df").isNotNull && col("db").isNotNull, "scc")
          .when(col("db").isNotNull, "in")
          .when(col("df").isNotNull, "out")
          .when(col("w").isNotNull, "tendril")
          .otherwise("disconnected").as("cls"),
        d(col("df")).as("dist_f"), d(col("db")).as("dist_b"))
      .orderBy("host")
  }

  /** Driver-contract query: bow-tie over the corpus inter-host graph plus
    * the planted disconnected island. */
  def bowtieQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bowtie(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(BowtiePlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin: pivot rule + all three pinned-horizon closures
    * re-executed as MATERIALIZED chained CTEs (the [[KCore.kcoreSql]]
    * discipline — multi-referenced rounds must not inline) over the shared
    * edge fixture. */
  def bowtieSql(edgesSelect: String): String = {
    def closureCtes(tag: String, edgeRel: String): String =
      (1 to ReachRounds).map { i =>
        s"""$tag$i AS MATERIALIZED (
           |  SELECT host, CAST(min(dist) AS BIGINT) AS dist FROM (
           |    SELECT host, dist FROM $tag${i - 1}
           |    UNION ALL
           |    SELECT e.b, $i FROM $edgeRel e
           |    JOIN $tag${i - 1} x ON x.host = e.a)
           |  GROUP BY host)""".stripMargin
      }.mkString(",\n")
    val R = ReachRounds
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $bowtiePlantSql)
       |  WHERE a <> b),
       |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM pairs0),
       |rv AS MATERIALIZED (SELECT b AS a, a AS b FROM e0),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT host FROM (
       |    SELECT a AS host FROM e0 UNION ALL SELECT b FROM e0)),
       |piv AS MATERIALIZED (
       |  SELECT host FROM (
       |    SELECT host, count(*) AS d FROM (
       |      SELECT a AS host FROM e0 UNION ALL SELECT b FROM e0)
       |    GROUP BY host)
       |  ORDER BY d DESC, host ASC LIMIT 1),
       |f0 AS (SELECT host, 0 AS dist FROM piv),
       |${closureCtes("f", "e0")},
       |g0 AS (SELECT host, 0 AS dist FROM piv),
       |${closureCtes("g", "rv")},
       |w0 AS (SELECT host, 0 AS dist FROM piv),
       |${closureCtes("w", "un")}
       |SELECT n.host,
       |  CASE WHEN f.dist IS NOT NULL AND g.dist IS NOT NULL THEN 'scc'
       |       WHEN g.dist IS NOT NULL THEN 'in'
       |       WHEN f.dist IS NOT NULL THEN 'out'
       |       WHEN w.dist IS NOT NULL THEN 'tendril'
       |       ELSE 'disconnected' END AS cls,
       |  CAST(coalesce(f.dist, -1) AS BIGINT) AS dist_f,
       |  CAST(coalesce(g.dist, -1) AS BIGINT) AS dist_b
       |FROM nodes n
       |LEFT JOIN f$R f ON f.host = n.host
       |LEFT JOIN g$R g ON g.host = n.host
       |LEFT JOIN w$R w ON w.host = n.host
       |ORDER BY n.host""".stripMargin
  }
}
