package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, JACM 1999) — the second classic
  * link-analysis signal next to [[CrawlQueries.pageRank]]: authority flows
  * FROM hub pages (link lists, indexes) and hub quality flows from the
  * authorities they point at — two mutually-recursive vectors where
  * PageRank has one. A crawler uses hubs for FRONTIER EXPANSION (a good
  * hub's outlinks are worth fetching) and authorities for KEEP decisions —
  * complementary reads PageRank's single score conflates. The reference
  * has no link analysis at all (BFS depth is its only priority input);
  * this extends the same integer-recurrence family as pageRank.
  *
  * Same exact-integer discipline as [[CrawlQueries.pageRankKernel]]: micro
  * units, `div` arithmetic, per-round L1 normalization to
  * [[HitsUnitMicro]] total mass (classic HITS normalizes L2 — L1 keeps the
  * recurrence in integers, preserves the ranking, and makes every round
  * bit-identical at any parallelism AND independently re-executable by the
  * DuckDB oracle as unrolled chained CTEs). Update order is Kleinberg's:
  * auth from PREVIOUS hub, then hub from the NEW auth. The normalization
  * total rides as a broadcast one-row join (no driver action inside the
  * loop, no crossJoin in the plan); per-round lineage cuts keep the
  * executed plan constant-size (the pageRankKernel discipline).
  *
  * Overflow: raw sums are ≤ E·10^6 and the normalization multiply is
  * ≤ E·10^12 — safe in int64 to ~10^6 edges per connected normalization
  * domain; at web scale the unit drops to milli (the documented dial). */
object Hits {

  val HitsIters = 8
  val HitsUnitMicro = 1000000L

  /** Normalize `raw` to [[HitsUnitMicro]] total mass (integer L1) via a
    * broadcast one-row total (keyed lit join → BroadcastHashJoin, never a
    * product). */
  private def normalized(raw: DataFrame, outName: String): DataFrame = {
    val tot = raw.agg(sum("raw").as("tot")).withColumn("k", lit(1))
    raw.withColumn("k", lit(1))
      .join(broadcast(tot), "k")
      .select(col("url"),
        expr(s"raw * $HitsUnitMicro div greatest(tot, 1)").as(outName))
  }

  /** The Spark hub/authority loop of HITS and SALSA: `iters` rounds in
    * Kleinberg order, each vector [[normalized]]. Authority sums `authC`
    * (SQL over `toAuth`'s columns and `hub_micro`) into each `dst` of
    * `toAuth`; hub sums `hubC` (over `toHub` and `auth_micro`) into each
    * `src` of `toHub`. Each half-round is one [[Rounds]] round, the last
    * carrying its authority: (url, auth_micro, hub_micro), so the caller's
    * output plan reads checkpoints only. */
  private[pipeline] def hubAuthority(nodes: DataFrame, iters: Int,
                                     toAuth: DataFrame, authC: String,
                                     toHub: DataFrame, hubC: String): DataFrame = {
    def spread(x: DataFrame, edges: DataFrame, from: String, to: String,
               c: String, outName: String): DataFrame =
      normalized(nodes.join(
        edges.join(x.withColumnRenamed("url", from), from)
          .select(col(to).as("url"), expr(c).as("c"))
          .groupBy("url").agg(sum("c").as("s")),
        Seq("url"), "left")
        .select(col("url"), coalesce(col("s"), lit(0L)).as("raw")), outName)
    def hubOf(auth: DataFrame): DataFrame = spread(auth, toHub, "dst", "src", hubC, "hub_micro")
    val hub0 = nodes.select(col("url"), lit(HitsUnitMicro).as("hub_micro"))
    // odd half-rounds: authority from hub; even: hub from authority
    Rounds.iterate(hub0, 2 * iters) { (x, i) =>
      if (i % 2 == 1) spread(x, toAuth, "src", "dst", authC, "auth_micro")
      else if (i < 2 * iters) hubOf(x)
      else x.join(hubOf(x), "url")
    }
  }

  /** The integer HITS iteration over any (src, dst) edge frame: every edge
    * row (duplicates included) carries its endpoint's whole score. */
  def hitsKernel(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val nodes = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct().localCheckpoint()
    val inDeg = edges.groupBy(col("dst").as("url")).agg(count(lit(1)).as("in_deg"))
    val outDeg = edges.groupBy(col("src").as("url")).agg(count(lit(1)).as("out_deg"))
    hubAuthority(nodes, HitsIters, edges, "hub_micro", edges, "auth_micro")
      .join(inDeg, Seq("url"), "left").join(outDeg, Seq("url"), "left")
      .na.fill(0L, Seq("in_deg", "out_deg"))
      .select("url", "auth_micro", "hub_micro", "in_deg", "out_deg")
      .orderBy(desc("auth_micro"), asc("url"))
  }

  /** Contract query `q_hits`: page-level hubs/authorities over the same
    * fetchable link edges [[CrawlQueries.pageRank]] ranks. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hitsKernel(CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http")))

  /** DuckDB twin: the SAME integer recurrence unrolled as chained CTEs
    * over the frozen edge fixture (normalization total as a window sum) —
    * an independent re-execution of all [[HitsIters]] rounds. */
  def hitsSql(edgesSelect: String): String = {
    val rounds = (1 to HitsIters).map { i =>
      s"""ar$i AS (
         |  SELECT n.url, CAST(coalesce(c.s, 0) AS BIGINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url, CAST(sum(h.hub_micro) AS BIGINT) AS s
         |    FROM edges e JOIN h${i - 1} h ON h.url = e.src GROUP BY e.dst) c
         |  ON n.url = c.url),
         |a$i AS (
         |  SELECT url, CAST(raw * $HitsUnitMicro // greatest(sum(raw) OVER (), 1) AS BIGINT)
         |    AS auth_micro FROM ar$i),
         |hr$i AS (
         |  SELECT n.url, CAST(coalesce(c.s, 0) AS BIGINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS url, CAST(sum(a.auth_micro) AS BIGINT) AS s
         |    FROM edges e JOIN a$i a ON a.url = e.dst GROUP BY e.src) c
         |  ON n.url = c.url),
         |h$i AS (
         |  SELECT url, CAST(raw * $HitsUnitMicro // greatest(sum(raw) OVER (), 1) AS BIGINT)
         |    AS hub_micro FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect) WHERE dst LIKE 'http%'),
       |nodes AS (SELECT src AS url FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT url, CAST($HitsUnitMicro AS BIGINT) AS hub_micro FROM nodes),
       |$rounds,
       |indeg AS (SELECT dst AS url, count(*) AS in_deg FROM edges GROUP BY dst),
       |outdeg AS (SELECT src AS url, count(*) AS out_deg FROM edges GROUP BY src)
       |SELECT a.url, a.auth_micro, h.hub_micro,
       |  CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
       |  CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg
       |FROM a$HitsIters a
       |JOIN h$HitsIters h ON a.url = h.url
       |LEFT JOIN indeg i ON a.url = i.url
       |LEFT JOIN outdeg o ON a.url = o.url
       |ORDER BY a.auth_micro DESC, a.url""".stripMargin
  }
}
