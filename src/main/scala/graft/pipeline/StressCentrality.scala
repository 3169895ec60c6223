package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-sampled stress centrality (`q_stress_centrality`) — Shimbel's
  * 1953 load measure: how many shortest paths pass THROUGH each host.
  * Betweenness (Freeman 1977) divides by σ_st and goes fractional;
  * stress keeps the raw path COUNT, which is (a) the actual traffic-load
  * proxy a crawl scheduler cares about — the hosts whose removal severs
  * the most discovery routes, the same hubs [[Percolation]] attacks and
  * [[SeedSelect]] must cover — and (b) exactly integer, so the whole
  * computation replays bit-for-bit in the oracle. Computed Brandes-style
  * (Brandes, J. Math. Soc. 2001, §4 — the σ forward pass is his; the
  * integer continuation count ψ replaces his fractional δ):
  *
  *   forward  σ_s(v) = Σ_{u ∈ preds_s(v)} σ_s(u)   (BFS DAG path counts)
  *   backward ψ_s(v) = Σ_{w ∈ succs_s(v)} (1 + ψ_s(w))   (continuations)
  *   stress(v) = Σ_s σ_s(v)·ψ_s(v)    over v ≠ s (endpoints excluded)
  *
  * Sampling semantics (pinned, not heuristic): sources are the
  * [[NumSources]] hosts with the smallest 44-bit md5 hash among hosts
  * with out-edges (portable, content-deterministic), horizon
  * [[Horizon]] — stress counts shortest paths of length ≤ Horizon from
  * those sources, the standard pivot-sampling read (Brandes/Pich 2007).
  *
  * One row per reached host: `host`, `stress`, `n_sources` (sources that
  * reach it), `sigma_sum` (Σ_s σ_s — how many distinct shortest routes
  * arrive). All exact integers.
  *
  * Scale shape (100 TB): the host graph is the collapsed distinct-pair
  * graph (orders of magnitude smaller than the edge stream); the state is
  * keyed (source, host) so K sources widen keys, never rounds; exactly
  * [[Horizon]] forward joins (keys-only anti-join vs the seen set, map-
  * side-combined σ sums) + one DAG join + [[Horizon]] backward joins,
  * each with a localCheckpoint lineage cut — constant executed-plan size.
  * No windows, no driver state. σ is int64-safe while max-outdegree^Horizon
  * < 2⁶³; beyond (pathological link farms) the σ/ψ columns take the
  * decimal(38,0) dial documented at [[Modularity]].
  */
object StressCentrality {

  /** Pivot sources: smallest-hash hosts with out-edges. */
  val NumSources = 4

  /** Shortest-path horizon (BFS levels counted from each source). */
  val Horizon = 6

  /** Stress ledger over any directed (src, dst) host-pair frame. */
  def stressKernel(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.select("src", "dst").distinct().localCheckpoint()
    val sources = edges.select(col("src").as("s")).distinct()
      .orderBy(Cardinality.urlHashCol(col("s")), col("s")).limit(NumSources)

    // forward: (s, v, sigma, d) level sets; sigma finalized per level
    var frontier = sources
      .select(col("s"), col("s").as("v"), lit(1L).as("sigma"), lit(0L).as("d"))
      .localCheckpoint()
    var seen = frontier
    for (d <- 1 to Horizon) {
      val nxt = frontier.join(edges, frontier("v") === edges("src"))
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .join(seen.select("s", "v"), Seq("s", "v"), "left_anti")
        .groupBy("s", "v").agg(sum("sigma").as("sigma"))
        .withColumn("d", lit(d.toLong))
        .localCheckpoint()
      // seen is a pure union of per-level CHECKPOINTED frames (same shape
      // as psiAll below): re-materializing the accumulated union every
      // round copied O(total) rows per round for nothing — consumers
      // evaluate the union over already-materialized legs at no recompute
      seen = seen.unionByName(nxt)
      frontier = nxt
    }

    // shortest-path DAG edges (u at d) -> (w at d+1), per source
    val dag = seen.select(col("s"), col("v").as("u"), col("d").as("du"))
      .join(edges, col("u") === edges("src"))
      .join(seen.select(col("s").as("s2"), col("v").as("w"), col("d").as("dw")),
        col("s") === col("s2") && edges("dst") === col("w") &&
          col("dw") === col("du") + 1)
      .select(col("s"), col("u"), col("du"), col("w"))
      .localCheckpoint()

    // backward: psi per level, deepest first (level-Horizon psi is 0)
    var psiNext = sources.select(col("s"), col("s").as("v"), lit(0L).as("psi")).limit(0)
    var psiAll = psiNext
    for (d <- (Horizon - 1) to 0 by -1) {
      val cur = dag.filter(col("du") === d)
        .join(psiNext.select(col("s"), col("v").as("w"), col("psi").as("pw")),
          Seq("s", "w"), "left")
        .groupBy("s", "u")
        .agg(sum(lit(1L) + coalesce(col("pw"), lit(0L))).as("psi"))
        .select(col("s"), col("u").as("v"), col("psi"))
        .localCheckpoint()
      psiAll = psiAll.unionByName(cur)
      psiNext = cur
    }

    seen.filter(col("d") >= 1)
      .join(psiAll, Seq("s", "v"), "left")
      .groupBy(col("v").as("host"))
      .agg(sum(col("sigma") * coalesce(col("psi"), lit(0L))).as("stress"),
        count(lit(1)).as("n_sources"), sum("sigma").as("sigma_sum"))
      .orderBy(desc("stress"), asc("host"))
  }

  /** Host-collapsed distinct directed edges from the page link stream. */
  private[pipeline] def hostEdges(pages: DataFrame): DataFrame =
    pages.filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("src"),
        Cardinality.hostCol(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst") && col("src") =!= "" && col("dst") =!= "")
      .distinct()

  /** Contract query `q_stress_centrality` over the crawl link edges. */
  def stressCentrality(spark: SparkSession, dir: String): DataFrame =
    stressKernel(hostEdges(CrawlQueries.linkEdgesRaw(spark, dir)))

  /** DuckDB twin: the full forward/backward recurrence unrolled as
    * MATERIALIZED chained CTEs — σ levels with NOT-EXISTS seen guards,
    * the DAG join, ψ levels descending, and the final stress rollup. */
  def stressCentralitySql(edgesSelect: String): String = {
    val fwd = (1 to Horizon).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT f.s, e.dst AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma,
         |         CAST($i AS BIGINT) AS d
         |  FROM f${i - 1} f JOIN e ON f.v = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} x WHERE x.s = f.s AND x.v = e.dst)
         |  GROUP BY f.s, e.dst),
         |s$i AS MATERIALIZED (
         |  SELECT * FROM s${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }.mkString(",\n")
    val bwd = ((Horizon - 1) to 0 by -1).map { d =>
      val next = if (d == Horizon - 1) s"p$Horizon" else s"p${d + 1}"
      s"""p$d AS MATERIALIZED (
         |  SELECT dag.s, dag.u AS v, CAST(sum(1 + coalesce(p.psi, 0)) AS BIGINT) AS psi
         |  FROM dag LEFT JOIN $next p ON p.s = dag.s AND p.v = dag.w
         |  WHERE dag.du = $d GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val pUnion = (0 until Horizon).map(d => s"SELECT * FROM p$d").mkString(" UNION ALL ")
    s"""WITH e0 AS ($edgesSelect),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS dst
       |    FROM e0 WHERE dst LIKE 'http%')
       |  WHERE src <> dst AND src <> '' AND dst <> ''),
       |srcs AS MATERIALIZED (
       |  SELECT src AS s FROM (SELECT DISTINCT src FROM e)
       |  ORDER BY CAST(('0x' || substr(md5(src), 1, 11)) AS BIGINT), src
       |  LIMIT $NumSources),
       |f0 AS MATERIALIZED (
       |  SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma, CAST(0 AS BIGINT) AS d FROM srcs),
       |s0 AS MATERIALIZED (SELECT * FROM f0),
       |$fwd,
       |dag AS MATERIALIZED (
       |  SELECT u.s, u.v AS u, u.d AS du, w.v AS w
       |  FROM s$Horizon u JOIN e ON u.v = e.src
       |  JOIN s$Horizon w ON w.s = u.s AND w.v = e.dst AND w.d = u.d + 1),
       |p$Horizon AS MATERIALIZED (
       |  SELECT s, v, CAST(0 AS BIGINT) AS psi FROM s$Horizon WHERE 1 = 0),
       |$bwd,
       |pall AS (${pUnion})
       |SELECT a.v AS host,
       |  CAST(sum(a.sigma * coalesce(p.psi, 0)) AS BIGINT) AS stress,
       |  CAST(count(*) AS BIGINT) AS n_sources,
       |  CAST(sum(a.sigma) AS BIGINT) AS sigma_sum
       |FROM s$Horizon a LEFT JOIN pall p ON p.s = a.s AND p.v = a.v
       |WHERE a.d >= 1
       |GROUP BY 1 ORDER BY stress DESC, host""".stripMargin
  }
}
