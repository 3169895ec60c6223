package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Revisit-policy simulation (`q_revisit_policy`) — Cho & Garcia-Molina's
  * synchronization-policy question ("Effective page refresh policies for
  * web crawlers", TODS 2003) replayed as a deterministic dataflow: given
  * pages with known change periods, how do a UNIFORM revisit schedule and
  * a CHANGE-RATE-MATCHED schedule compare on freshness and on detection
  * efficiency? The paper's counterintuitive core — chasing fast-changing
  * pages buys less freshness per visit than it seems, because a page that
  * changes faster than you can revisit is stale almost regardless —
  * becomes checked numbers here instead of folklore. [[Freshness
  * .recrawlSchedule]] estimates per-page change rates from history; this
  * operator is the policy layer above it: what a SCHEDULE built on those
  * rates actually delivers, before the fleet commits to one. (The
  * [[BanditBudget]] discipline: policy AND environment fully replayed,
  * both engines, no randomness.)
  *
  * Environment: page i changes exactly every p_i ticks (p_i = 1 +
  * hash44(doc_id + salt) mod 16 — deterministic, oracle-replayable);
  * horizon [[Ticks]]. A tick's change lands before any same-tick visit,
  * so a visit always observes its own tick's change.
  * Policies: `uniform` visits page i when (i + t) mod [[UniformK]] = 0
  * (staggered round-robin, every page every K ticks); `matched` visits
  * when t ≡ i (mod p_i) — visit rate exactly proportional to the
  * page's change rate, phase-staggered.
  *
  * One row per policy, all exact integers: `n_pages`, `ticks`,
  * `changes_total`, `visits`, `observed` (visits that found a change),
  * `hit_permille` = 1000·observed div visits, `stale_ticks` (page-ticks
  * spent stale), `freshness_permille` = 1000·(grid − stale) div grid.
  *
  * Scale shape: the simulation grid is pages × [[Ticks]] rows with
  * per-page windows (partitioned by page — never a global window); at
  * fleet scale it runs over a salted page sample (the audit-cadence
  * discipline), so the grid is sample-bounded; here it runs over every
  * document. One explode, two running-max windows, one rollup.
  */
object RevisitPolicy {

  val Ticks = 64
  val UniformK = 8
  val PeriodSalt = ":graft-chg-period-v1"

  /** Simulate both policies over an (id: long, p: long) page frame. */
  def revisitKernel(pagesIn: DataFrame): DataFrame = {
    val grid = pagesIn.select(col("id").cast("long"), col("p").cast("long"))
      .withColumn("t", explode(expr(s"sequence(1, $Ticks)")))
      .withColumn("chg", (col("t") % col("p") === 0).cast("long"))
      .withColumn("last_chg", expr("(t div p) * p"))
      .withColumn("vis_uniform", (pmod(col("id") + col("t"), lit(UniformK.toLong)) === 0).cast("long"))
      .withColumn("vis_matched", (pmod(col("t"), col("p")) === pmod(col("id"), col("p"))).cast("long"))

    def policy(name: String, visCol: String): DataFrame = {
      val w = Window.partitionBy("id").orderBy("t")
      val incl = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val excl = w.rowsBetween(Window.unboundedPreceding, -1)
      val g = grid
        .withColumn("vt", when(col(visCol) === 1, col("t")).otherwise(0L))
        .withColumn("last_vis", greatest(max("vt").over(incl), lit(0L)))
        .withColumn("prev_vis", coalesce(max("vt").over(excl), lit(0L)))
        .withColumn("stale", (col("last_chg") > col("last_vis")).cast("long"))
        .withColumn("obs", when(col(visCol) === 1 &&
          expr("t div p - prev_vis div p") >= 1, 1L).otherwise(0L))
      g.agg(
        countDistinct("id").as("n_pages"), lit(Ticks.toLong).as("ticks"),
        sum("chg").as("changes_total"), sum(visCol).as("visits"),
        sum("obs").as("observed"), sum("stale").as("stale_ticks"))
        .select(lit(name).as("policy"), col("n_pages"), col("ticks"),
          col("changes_total"), col("visits"), col("observed"),
          expr("1000 * observed div visits").as("hit_permille"),
          col("stale_ticks"),
          expr("1000 * (n_pages * ticks - stale_ticks) div (n_pages * ticks)")
            .as("freshness_permille"))
    }
    policy("matched", "vis_matched").unionByName(policy("uniform", "vis_uniform"))
      .orderBy("policy")
  }

  /** Contract query `q_revisit_policy`: the documents table as the page
    * universe, change periods from the salted hash. */
  def revisitPolicy(spark: SparkSession, dir: String): DataFrame =
    revisitKernel(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"))
      .withColumn("p", pmod(Cardinality.urlHashCol(concat(col("id"), lit(PeriodSalt))), lit(16L)) + 1))

  /** DuckDB twin: the identical grid, windows, and rollups — a full
    * policy + environment replay. */
  val revisitPolicySql: String = {
    def policySql(name: String, visExpr: String): String =
      s"""SELECT '$name' AS policy,
         |  CAST(count(DISTINCT id) AS BIGINT) AS n_pages,
         |  CAST($Ticks AS BIGINT) AS ticks,
         |  CAST(sum(chg) AS BIGINT) AS changes_total,
         |  CAST(sum(vis) AS BIGINT) AS visits,
         |  CAST(sum(obs) AS BIGINT) AS observed,
         |  CAST(1000 * sum(obs) // sum(vis) AS BIGINT) AS hit_permille,
         |  CAST(sum(stale) AS BIGINT) AS stale_ticks,
         |  CAST(1000 * (count(DISTINCT id) * $Ticks - sum(stale))
         |       // (count(DISTINCT id) * $Ticks) AS BIGINT) AS freshness_permille
         |FROM (
         |  SELECT id, t, chg,
         |    CASE WHEN last_chg > greatest(
         |      max(CASE WHEN $visExpr THEN t ELSE 0 END)
         |        OVER (PARTITION BY id ORDER BY t), 0) THEN 1 ELSE 0 END AS stale,
         |    CASE WHEN $visExpr THEN 1 ELSE 0 END AS vis,
         |    CASE WHEN ($visExpr) AND t // p - coalesce(
         |      max(CASE WHEN $visExpr THEN t ELSE 0 END)
         |        OVER (PARTITION BY id ORDER BY t
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // p >= 1
         |      THEN 1 ELSE 0 END AS obs
         |  FROM grid)""".stripMargin
    s"""WITH pages AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id,
       |    CAST(('0x' || substr(md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR) || '$PeriodSalt'), 1, 11)) AS BIGINT)
       |      % 16 + 1 AS p
       |  FROM documents),
       |grid AS MATERIALIZED (
       |  SELECT id, p, t,
       |    CASE WHEN t % p = 0 THEN 1 ELSE 0 END AS chg,
       |    (t // p) * p AS last_chg
       |  FROM pages, unnest(range(1, $Ticks + 1)) AS u(t))
       |SELECT * FROM (
       |  ${policySql("matched", "t % p = id % p")}
       |  UNION ALL
       |  ${policySql("uniform", s"(id + t) % $UniformK = 0")})
       |ORDER BY policy""".stripMargin
  }
}
