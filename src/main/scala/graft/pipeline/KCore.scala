package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 2-core trimming of the host graph (`q_kcore`) — iterated peeling of
  * degree-<2 nodes (Seidman 1983) until the remainder is the maximal
  * subgraph where every host keeps ≥ 2 neighbors. The crawl reads: (a) the
  * link-analysis pre-pass — dangling chains and leaf forests dominate a web
  * graph's node count but carry no cyclic structure, so trimming them
  * before PageRank/[[Hits]]/[[Salsa]] shrinks the iteration state by the
  * tree mass while provably not touching any cycle; (b) a density floor —
  * every link-farm ring and [[LinkFarm]] triangle lives inside the 2-core
  * by definition, so the trim is the cheap candidate filter before the
  * expensive counts.
  *
  * Peeling is stateless per round: recompute degrees over the surviving
  * edge set, drop nodes below 2, drop their edges, repeat. Rounds are
  * PINNED at [[PeelRounds]] — each round removes at least the current leaf
  * layer, so R rounds exactly strip chains/trees of depth ≤ R (the
  * documented horizon; KCoreSpec proves the fixpoint IS reached on the
  * corpus graph by peeling one extra round and asserting no change). Every
  * node is labeled `in_core`/`peeled@round` — the peel round is itself the
  * signal ("how deep in the periphery was this host").
  *
  * 100-TB shape: per round one degree aggregation (map-side partials) and
  * two keyed semi-joins to filter the edge list — no windows, no driver
  * state, lineage-cut constant plan (the [[WebIndex.components]]
  * discipline). The O(log n)-round guarantee of distributed k-core needs
  * no more here: peel depth beyond [[PeelRounds]] just reports the
  * remainder as core, a conservative (superset) answer by construction.
  */
object KCore {

  /** Pinned peel rounds: strips all chains/trees of depth ≤ 8 hanging off
    * the core (the corpus graph's fixpoint horizon, spec-proven). */
  val PeelRounds = 8

  /** Planted periphery: a 4-host cycle (pure 2-core) with a 3-host chain
    * hanging off it — the chain must peel in order (round 1, 2, 3), the
    * cycle must survive every round. */
  private[pipeline] val KCorePlantPairs: Seq[(String, String)] = Seq(
    ("kcore-c0.example", "kcore-c1.example"),
    ("kcore-c1.example", "kcore-c2.example"),
    ("kcore-c2.example", "kcore-c3.example"),
    ("kcore-c3.example", "kcore-c0.example"),
    ("kcore-c0.example", "kcore-p1.example"),
    ("kcore-p1.example", "kcore-p2.example"),
    ("kcore-p2.example", "kcore-p3.example"))

  private def kcorePlantSql: String =
    "SELECT a, b FROM (VALUES " +
      KCorePlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Peel any (a, b) host-pair frame to its 2-core: every input host with
    * its status — `0` = in core, `r` = peeled at round r. */
  def twoCore(pairsIn: DataFrame): DataFrame = {
    val und0 = Communities.undirected(pairsIn)
    val allNodes = und0.select(col("a").as("host")).distinct().localCheckpoint()
    var und = und0
    var alive = allNodes
    var peeled = allNodes.limit(0).select(col("host"), lit(0L).as("peel_round"))
    for (r <- 1 to PeelRounds) {
      // peel every still-alive node WITHOUT degree ≥ 2 — the anti-join form
      // (not `deg < 2`) also catches nodes whose last edges vanished with
      // dropped neighbors and thus left the edge list entirely (degree 0)
      val keep = und.groupBy(col("a").as("host")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select("host")
      // drop feeds FOUR consumers (peeled, alive, both und anti-joins) —
      // its per-round checkpoint is load-bearing. peeled is a pure union
      // of checkpointed drop projections, so it needs NO per-round
      // materialization at all (was one extra checkpoint job per round
      // copying the whole accumulated union)
      val drop = alive.join(keep, Seq("host"), "left_anti").localCheckpoint()
      peeled = peeled.union(drop.select(col("host"), lit(r.toLong).as("peel_round")))
      val (prevAlive, prevUnd) = (alive, und)
      alive = alive.join(drop, Seq("host"), "left_anti").localCheckpoint()
      // the last round's edge set is never read, so it is never built
      if (r < PeelRounds) und = und
        .join(drop.withColumnRenamed("host", "a"), Seq("a"), "left_anti")
        .join(drop.withColumnRenamed("host", "b"), Seq("b"), "left_anti")
        .select("a", "b").localCheckpoint()
      // hand-written, not Rounds: every round's drop is a live input of
      // `peeled`; only the superseded alive and edge sets are released
      // (round 0's alive set is allNodes, which the result reads)
      Rounds.releaseBlocks(prevUnd)
      if (r > 1) Rounds.releaseBlocks(prevAlive)
    }
    val core = alive.select(col("host"), lit(0L).as("peel_round"))
    allNodes.join(core.union(peeled), "host")
      .select(col("host"), (col("peel_round") === 0L).as("in_core"), col("peel_round"))
      .orderBy("host")
  }

  /** Driver-contract query: 2-core over the corpus inter-host graph plus
    * the planted cycle+chain. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    twoCore(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(KCorePlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin: the identical peel recurrence re-executed for all
    * [[PeelRounds]] rounds as chained CTEs over the shared edge fixture.
    * Every per-round CTE is MATERIALIZED (the [[PriorityAging]] discipline):
    * each round references the previous one several times, and without the
    * hint DuckDB inlines the chain into a ~3^rounds-way expansion. */
  def kcoreSql(edgesSelect: String): String = {
    val rounds = (1 to PeelRounds).map { i =>
      s"""dr$i AS MATERIALIZED (
         |  SELECT host FROM al${i - 1}
         |  WHERE host NOT IN (
         |    SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) >= 2)),
         |al$i AS MATERIALIZED (
         |  SELECT host FROM al${i - 1} WHERE host NOT IN (SELECT host FROM dr$i)),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  WHERE e.a NOT IN (SELECT host FROM dr$i)
         |    AND e.b NOT IN (SELECT host FROM dr$i)),
         |p$i AS (
         |  SELECT host, $i AS peel_round FROM dr$i)""".stripMargin
    }.mkString(",\n")
    val peelUnion = (1 to PeelRounds).map(i => s"SELECT * FROM p$i").mkString(" UNION ALL ")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $kcorePlantSql)
       |  WHERE a <> b),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |al0 AS MATERIALIZED (SELECT DISTINCT a AS host FROM e0),
       |$rounds,
       |core AS (
       |  SELECT host, CAST(0 AS BIGINT) AS peel_round FROM al$PeelRounds),
       |st AS (SELECT host, CAST(peel_round AS BIGINT) AS peel_round
       |       FROM ($peelUnion) UNION ALL SELECT * FROM core)
       |SELECT host, peel_round = 0 AS in_core, peel_round
       |FROM st ORDER BY host""".stripMargin
  }
}
