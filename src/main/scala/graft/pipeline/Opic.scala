package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPIC — On-line Page Importance Computation (Abiteboul, Preda, Cobéna,
  * WWW 2003): the crawl-ORDER importance signal PageRank cannot give
  * online. Every page holds CASH; crawling a page banks its cash into
  * HISTORY and distributes it equally over its outlinks; importance ≈
  * banked+held cash. Unlike PageRank (a fixpoint over a frozen snapshot,
  * [[CrawlQueries.pageRankKernel]]) OPIC converges WHILE crawling and
  * adapts the frontier every wave — it is the priority rule Nutch shipped.
  * The reference's only priority inputs are BFS depth + pattern relevance
  * (batch_processor.rs:56-65); OPIC is the principled upgrade the
  * frontier's priority column can consume directly.
  *
  * Batch formulation (the paper's "greedy in synchronized waves"
  * variant): each wave crawls the top-[[WaveK]] pages by (cash, url),
  * banks their cash, and distributes `cash div out_deg` to outlinks.
  * Same exact-integer discipline as [[Hits]]/[[TrustRank]]: micro units,
  * `div` arithmetic (division loss vanishes, documented — the paper's
  * virtual node absorbs dangling/residual cash; here it is reported in
  * the `gutter` of the output rather than re-scattered, avoiding the N²
  * redistribution), bit-identical at any parallelism, every wave
  * re-executable by DuckDB as unrolled CTEs.
  *
  * Scale shape: per-wave top-k is `orderBy(cash,url).limit(k)` —
  * TakeOrderedAndProject, a bounded heap per partition + driver merge of
  * k rows, NEVER a global sort; distribution is one keyed join +
  * map-side-combined sum over the selected pages' out-edges; state is
  * (url, cash, hist) with per-wave lineage cuts. At 10^10 urls each wave
  * touches k pages' edges, not the graph. */
object Opic {

  val CashUnitMicro = 1000000L
  val WaveK = 8
  val Waves = 6

  /** The wave loop over any (src, dst) edge frame. Returns per node:
    * banked history, held cash, times crawled (all exact integers). */
  def opicKernel(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct().localCheckpoint()
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("out_deg"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct()
    val init = nodes.select(col("url"),
      lit(CashUnitMicro).as("cash"), lit(0L).as("hist"), lit(0L).as("n_crawled"))
      .localCheckpoint()
    // each wave's selection is read only by its own round, so all are
    // released once the last round has materialized (or a round failed)
    val sels = Vector.newBuilder[DataFrame]
    val last = try Rounds.iterate(init, Waves) { (state, _) =>
      // bounded-heap top-k: TakeOrderedAndProject, never a global sort
      val sel = state.orderBy(desc("cash"), asc("url")).limit(WaveK)
        .select(col("url").as("src"), col("cash").as("sel_cash"))
        .localCheckpoint()
      sels += sel
      val recv = edges.join(sel, "src")
        .join(outDeg, "src")
        .select(col("dst").as("url"), expr("sel_cash div out_deg").as("c"))
        .groupBy("url").agg(sum("c").as("recv"))
      state
        .join(sel.withColumnRenamed("src", "url").select(col("url"), lit(true).as("s")),
          Seq("url"), "left")
        .join(recv, Seq("url"), "left")
        .select(col("url"),
          (when(col("s"), lit(0L)).otherwise(col("cash"))
            + coalesce(col("recv"), lit(0L))).as("cash"),
          (col("hist") + when(col("s"), col("cash")).otherwise(lit(0L))).as("hist"),
          (col("n_crawled") + when(col("s"), 1L).otherwise(0L)).as("n_crawled"))
    } finally sels.result().foreach(Rounds.releaseBlocks)
    last.select("url", "hist", "cash", "n_crawled").orderBy("url")
  }

  /** Contract query `q_opic`: the wave loop over the fetchable page link
    * graph (the [[Hits]]/[[TrustRank]]/[[Centrality]] graph). */
  def opic(spark: SparkSession, dir: String): DataFrame =
    opicKernel(CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http")))

  /** DuckDB twin: all [[Waves]] waves unrolled as chained CTEs — top-k by
    * the same (cash DESC, url) rule via row_number, the same integer
    * distribution — a full independent re-execution. */
  def opicSql(edgesSelect: String): String = {
    val rounds = (1 to Waves).map { t =>
      s"""sel$t AS (
         |  SELECT url, cash FROM (
         |    SELECT url, cash, row_number() OVER (ORDER BY cash DESC, url) AS rn
         |    FROM s${t - 1}) WHERE rn <= $WaveK),
         |recv$t AS (
         |  SELECT e.dst AS url, CAST(sum(x.cash // o.out_deg) AS BIGINT) AS c
         |  FROM edges e JOIN sel$t x ON e.src = x.url
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |s$t AS (
         |  SELECT s.url,
         |    CAST((CASE WHEN x.url IS NULL THEN s.cash ELSE 0 END)
         |      + coalesce(r.c, 0) AS BIGINT) AS cash,
         |    CAST(s.hist + (CASE WHEN x.url IS NULL THEN 0 ELSE s.cash END) AS BIGINT) AS hist,
         |    CAST(s.n_crawled + (CASE WHEN x.url IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_crawled
         |  FROM s${t - 1} s
         |  LEFT JOIN sel$t x ON s.url = x.url
         |  LEFT JOIN recv$t r ON s.url = r.url)""".stripMargin
    }.mkString(",\n")
    s"""WITH page_edges AS (
       |  SELECT DISTINCT src, dst FROM ($edgesSelect)
       |  WHERE dst LIKE 'http%' AND src <> dst),
       |edges AS (SELECT src, dst FROM page_edges),
       |nodes AS (SELECT DISTINCT url FROM (
       |  SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges)),
       |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
       |s0 AS (SELECT url, CAST($CashUnitMicro AS BIGINT) AS cash,
       |  CAST(0 AS BIGINT) AS hist, CAST(0 AS BIGINT) AS n_crawled FROM nodes),
       |$rounds
       |SELECT url, hist, cash, n_crawled FROM s$Waves ORDER BY url""".stripMargin
  }
}
