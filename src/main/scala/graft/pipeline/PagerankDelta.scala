package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental PageRank after a crawl delta (`q_pagerank_delta`) —
  * Desikan et al. WWW 2005 "Incremental PageRank computation on evolving
  * graphs"; Langville & Meyer's updating chapter: a continuously-
  * operated crawl adds a few percent of links per snapshot, and
  * re-running the power iteration from the UNIFORM vector re-pays the
  * entire convergence cost at 10^10-URL scale. The cheap fix is the
  * warm start: iterate on the NEW graph from the OLD graph's converged
  * ranks. This operator measures exactly what that buys, in the
  * kernel's own exact micro units: hold out a deterministic quarter of
  * the host links (the "new snapshot's" additions), converge the base
  * graph, then run the full graph from BOTH starts at matched round
  * budgets and ledger each variant's L1 distance to the full-graph
  * reference (8 rounds of the shared [[CrawlQueries.pageRankRound]] —
  * global PageRank's floor, damping and integer divisions).
  *
  * One row per (variant, budget): `variant` ('cold'/'warm'), `rounds`,
  * `l1_micro` (Σ|rank − ref| over all nodes), `n_nodes`. The spec pins
  * the headline: warm beats cold at EVERY budget, and warm@2 beats
  * cold@4 on this corpus — half the rounds for a closer answer.
  *
  * Scale shape (100 TB): the shared kernel's — keyed contribution joins
  * with per-round lineage cuts; the warm init is one left join of the new
  * node set against the old rank table (the state a fleet already has
  * checkpointed — [[graft.state.SnapshotStore]]); the ledger is one keyed
  * join + one grouped aggregate over all six snapshots.
  */
object PagerankDelta {

  val DeltaSalt = ":delta-v1"
  val RefRounds = 8
  val Budgets = Seq(1, 2, 4)

  import CrawlQueries.{PageRankUnitMicro, PageRankFloorMicro, PageRankDampPct}

  /** [[CrawlQueries.pageRankRound]] from `init` up to the last round in
    * `keep`; returns the snapshots at the rounds in `keep`. Each kept
    * round ends one [[Rounds.iterate]] segment and starts the next, so it
    * is never released; every other round is. */
  private def iterate(edges: DataFrame, nodes: DataFrame, init: DataFrame,
                      keep: Set[Int]): Map[Int, DataFrame] = {
    val weighted = CrawlQueries.weightedEdges(edges)
    var (at, ranks) = (0, init)
    keep.toSeq.sorted.map { r =>
      ranks = Rounds.iterate(ranks, r - at)((x, _) => CrawlQueries.pageRankRound(weighted, nodes, x))
      at = r
      r -> ranks
    }.toMap
  }

  private def uniform(nodes: DataFrame): DataFrame =
    nodes.select(col("url"), lit(PageRankUnitMicro).as("rank_micro"))

  /** Contract query `q_pagerank_delta` over the crawl corpus host graph. */
  def pagerankDelta(spark: SparkSession, dir: String): DataFrame = {
    val all = CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("src"),
        Cardinality.hostCol(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val isDelta = expr("CAST(conv(substring(md5(concat(src, '>', dst, " +
      s"'$DeltaSalt')), 1, 11), 16, 10) AS BIGINT) % 4 = 0")
    val base = all.filter(!isDelta)
    def nodesOf(e: DataFrame) = e.select(col("src").as("url"))
      .union(e.select(col("dst").as("url"))).distinct().localCheckpoint()
    val (nodesBase, nodesFull) = (nodesOf(base), nodesOf(all))

    // the base-graph and full-graph recurrences are INDEPENDENT — run them
    // as concurrent driver-thread jobs (guide §2.6, the Percolation
    // schedule); only the warm restart needs base8, so it follows
    val Seq(baseSnaps, fullSnaps) = Par.all(Seq(
      () => iterate(base, nodesBase, uniform(nodesBase), Set(RefRounds)),
      () => iterate(all, nodesFull, uniform(nodesFull), Budgets.toSet + RefRounds)))
    val ref = fullSnaps(RefRounds)
    val warmInit = nodesFull.join(baseSnaps(RefRounds), Seq("url"), "left")
      .select(col("url"),
        coalesce(col("rank_micro"), lit(PageRankUnitMicro)).as("rank_micro"))
    val warmSnaps = iterate(all, nodesFull, warmInit, Budgets.toSet)
    // every (variant, budget) ledger row in ONE job
    def tagged(variant: String, snaps: Map[Int, DataFrame]): Seq[DataFrame] =
      Budgets.map(r => snaps(r).select(lit(variant).as("variant"),
        lit(r.toLong).as("rounds"), col("url"), col("rank_micro").as("v")))
    (tagged("cold", fullSnaps) ++ tagged("warm", warmSnaps)).reduce(_ unionByName _)
      .join(ref.withColumnRenamed("rank_micro", "ref"), "url")
      .groupBy("variant", "rounds")
      .agg(sum(abs(col("v") - col("ref"))).as("l1_micro"), count(lit(1)).as("n_nodes"))
      .orderBy("variant", "rounds")
  }

  /** DuckDB twin: base, reference (whose prefixes ARE the cold budgets)
    * and warm recurrences fully unrolled as MATERIALIZED chained CTEs. */
  def pagerankDeltaSql(edgesSelect: String): String = {
    def rounds(prefix: String, graph: String, nodes: String, init: String,
               n: Int): String =
      (1 to n).map { i =>
        val prev = if (i == 1) init else s"$prefix${i - 1}"
        s"""$prefix$i AS MATERIALIZED (
           |  SELECT n.url,
           |    CAST($PageRankFloorMicro + ($PageRankDampPct * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_micro
           |  FROM $nodes n LEFT JOIN (
           |    SELECT e.dst AS url,
           |      CAST(sum(r.rank_micro // o.out_deg) AS BIGINT) AS s
           |    FROM $graph e
           |    JOIN ${graph}_outdeg o ON e.src = o.src
           |    JOIN $prev r ON r.url = e.src
           |    GROUP BY e.dst) c ON n.url = c.url)""".stripMargin
      }.mkString(",\n")
    val ledger = (Budgets.map(r => ("cold", r, s"f$r")) ++
      Budgets.map(r => ("warm", r, s"w$r"))).map { case (v, r, cte) =>
      s"""SELECT '$v' AS variant, CAST($r AS BIGINT) AS rounds,
         |  CAST(sum(abs(x.rank_micro - f$RefRounds.rank_micro)) AS BIGINT) AS l1_micro,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM $cte x JOIN f$RefRounds ON f$RefRounds.url = x.url""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH e0 AS ($edgesSelect),
       |hp AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
       |    FROM e0 WHERE dst LIKE 'http%')
       |  WHERE src <> dst),
       |fe AS MATERIALIZED (SELECT src, dst FROM hp),
       |be AS MATERIALIZED (
       |  SELECT src, dst FROM hp
       |  WHERE CAST(('0x' || substr(md5(src || '>' || dst || '$DeltaSalt'), 1, 11))
       |             AS BIGINT) % 4 <> 0),
       |fe_outdeg AS (SELECT src, count(*) AS out_deg FROM fe GROUP BY src),
       |be_outdeg AS (SELECT src, count(*) AS out_deg FROM be GROUP BY src),
       |fn AS (SELECT src AS url FROM fe UNION SELECT dst FROM fe),
       |bn AS (SELECT src AS url FROM be UNION SELECT dst FROM be),
       |b0 AS (SELECT url, CAST($PageRankUnitMicro AS BIGINT) AS rank_micro FROM bn),
       |${rounds("b", "be", "bn", "b0", RefRounds)},
       |f0 AS (SELECT url, CAST($PageRankUnitMicro AS BIGINT) AS rank_micro FROM fn),
       |${rounds("f", "fe", "fn", "f0", RefRounds)},
       |w0 AS (
       |  SELECT fn.url, CAST(coalesce(b$RefRounds.rank_micro, $PageRankUnitMicro)
       |         AS BIGINT) AS rank_micro
       |  FROM fn LEFT JOIN b$RefRounds ON b$RefRounds.url = fn.url),
       |${rounds("w", "fe", "fn", "w0", Budgets.max)}
       |SELECT variant, rounds, l1_micro, n_nodes FROM (
       |  $ledger) AS led
       |ORDER BY variant, rounds""".stripMargin
  }
}
