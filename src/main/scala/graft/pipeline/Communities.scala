package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Label-propagation host communities (`q_lpa_communities`, Raghavan et al.
  * 2007) — the DENSITY grouping next to [[WebIndex.components]]'
  * REACHABILITY grouping. Connected components answers "can budget leak
  * between these hosts at all"; LPA answers "which hosts form a densely
  * interlinked neighborhood" — the unit at which link-farm rings
  * ([[LinkFarm]]), mirror networks ([[Mirrors]]) and topical clusters
  * actually operate. One bridge edge merges two components; it does NOT
  * merge two LPA communities — the spec pins exactly that on planted
  * bridged cliques, the case where the components read is misleading.
  *
  * Deterministic synchronous variant: every node starts labeled by itself;
  * each round every node adopts the label carried by the PLURALITY of its
  * neighbors, ties to the lexicographically smallest label (a total order
  * both engines share). The round count is PINNED at [[LpaRounds]] — classic
  * async LPA stops "at convergence", which depends on visit order and is
  * irreproducible by construction; a fixed synchronous unroll with a
  * deterministic tie-break makes the output a pure function of the edge
  * set, which is what lets DuckDB re-execute every round as chained CTEs
  * instead of trusting a frozen output. (Synchronous LPA can two-cycle on
  * bipartite structures; a pinned even/odd horizon just reports that cycle's
  * fixed phase — acceptable for a curation signal, and the determinism is
  * worth more than the last round of mixing.)
  *
  * 100-TB shape: per round, one labels⋈edges hash join, one (host, label)
  * counted aggregation (map-side partials), one per-host plurality pick
  * (max + filter + min — all keyed), never a window over the corpus;
  * per-round lineage cuts keep the executed plan constant-size (the
  * [[CrawlQueries.pageRankKernel]] discipline). Labels are host strings
  * here for oracle replayability; at 10^8 hosts they'd dense-encode to
  * longs first ([[WebIndex.components]] carries the same note).
  */
object Communities {

  /** Pinned synchronous rounds (hand-checked stable on the planted cliques
    * by round 3; the corpus graph just replays the same horizon). */
  val LpaRounds = 4

  /** Planted bridged cliques: two complete 4-host cliques joined by ONE
    * bridge edge — connected components reports one cluster (the
    * misleading read), LPA must report two. */
  private[pipeline] val LpaPlantPairs: Seq[(String, String)] = {
    def clique(p: String) = for {
      i <- 0 until 4; j <- i + 1 until 4
    } yield (s"lpa-$p$i.example", s"lpa-$p$j.example")
    clique("a") ++ clique("b") :+ (("lpa-a0.example", "lpa-b0.example"))
  }

  private def lpaPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      LpaPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Symmetrized, deduped, self-loop-free directed pair set of an (a, b)
    * frame — the one edge representation of every undirected host-graph
    * kernel. */
  private[pipeline] def undirected(pairsIn: DataFrame): DataFrame = {
    val dir0 = pairsIn.filter(col("a") =!= col("b"))
    dir0.union(dir0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
  }

  /** The pinned synchronous LPA recurrence over a symmetrized edge set:
    * (host, label) after [[LpaRounds]] rounds. */
  private[pipeline] def lpaLabels(und: DataFrame): DataFrame = {
    val nodes = und.select(col("a").as("host")).distinct().localCheckpoint()
    Rounds.iterate(nodes.select(col("host"), col("host").as("label")), LpaRounds) { (labels, _) =>
      val counts = und.join(labels.withColumnRenamed("host", "b"), "b")
        .groupBy(col("a").as("host"), col("label")).agg(count(lit(1)).as("c"))
      val top = counts.groupBy("host").agg(max("c").as("mc"))
      counts.join(top, "host")
        .filter(col("c") === col("mc"))
        .groupBy("host").agg(min("label").as("label"))
    }
  }

  /** LPA over any (a, b) host-pair frame: symmetrize, [[LpaRounds]] rounds
    * of plurality-label adoption, then community sizes. */
  def communities(pairsIn: DataFrame): DataFrame = {
    val labels = lpaLabels(undirected(pairsIn))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("host"), col("label").as("community"), col("community_size"))
      .orderBy("host")
  }

  /** Driver-contract query: communities over the corpus inter-host graph
    * plus the planted bridged cliques. */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    communities(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(LpaPlantPairs.toDF("a", "b")))
  }

  /** Shared WITH-chain prefix: edges → plant-unioned pairs → symmetrized
    * `und` → the full [[LpaRounds]]-round label recurrence ending at
    * `l$LpaRounds`. [[Modularity]]'s twin appends its own rollup. */
  private[pipeline] def lpaChainSql(edgesSelect: String): String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS (
         |  SELECT e.a AS host, x.label, CAST(count(*) AS BIGINT) AS c
         |  FROM und e JOIN l${i - 1} x ON x.host = e.b
         |  GROUP BY e.a, x.label),
         |l$i AS (
         |  SELECT host, min(label) AS label FROM (
         |    SELECT host, label, c, max(c) OVER (PARTITION BY host) AS mc
         |    FROM c$i) WHERE c = mc GROUP BY host)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $lpaPlantSql)
       |  WHERE a <> b),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |l0 AS (SELECT DISTINCT a AS host, a AS label FROM und),
       |$rounds""".stripMargin
  }

  /** DuckDB twin: the identical plurality recurrence — count, per-host max
    * (window over the per-host label counts, rows = labels not hosts), tie
    * to min — re-executed for all [[LpaRounds]] rounds as chained CTEs. */
  def lpaCommunitiesSql(edgesSelect: String): String =
    s"""${lpaChainSql(edgesSelect)},
       |sizes AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS community_size
       |  FROM l$LpaRounds GROUP BY label)
       |SELECT l.host, l.label AS community, s.community_size
       |FROM l$LpaRounds l JOIN sizes s ON s.label = l.label
       |ORDER BY l.host""".stripMargin
}
