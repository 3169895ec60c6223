package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bandit host-yield budget allocation (`q_bandit_budget`) — the
  * explore/exploit layer a wave crawler needs ABOVE its politeness
  * budgets: given S fetch slots per wave and hosts whose NEW-LINK YIELD is
  * unknown upfront, which hosts get the slots? Static allocation
  * ([[DomainBudget]], `q_wave_plan`'s authority apportionment) assumes the
  * value of a host is known; in a discovery crawl it is precisely what
  * must be LEARNED while spending the budget — the multi-armed-bandit
  * framing of crawl scheduling (frontier-yield optimism goes back to
  * IRLbot's budget adaptation and focused-crawling bandit selection).
  *
  * Policy: UCB1-flavored integer optimism. Per host,
  * `index = yhat‰ + bonus`, where `yhat‰ = 1000·successes div pulls` and
  * `bonus = ExploreC · (⌊log2 totalPulls⌋+1) div pulls`; the wave's
  * totalPulls is closed-form, so the log-confidence numerator is a
  * per-wave integer CONSTANT baked identically into both engines' plans —
  * no runtime log/sqrt can disagree. Unpulled hosts carry [[ColdIndex]]
  * (play-each-arm-once). Each wave the top [[Slots]] hosts by (index desc,
  * host asc) get one pull each. The √ of textbook UCB1 is replaced by a
  * rational decay ON PURPOSE: no integer sqrt agrees bit-for-bit across
  * engines at the boundaries, and the property that matters — optimism
  * with a log-growing confidence term, so suboptimal arms are revisited
  * only logarithmically often — survives the substitution (the spec pins
  * both convergence and the log-revisit bound).
  *
  * The yield process is closed-form (the [[PriorityAging]] discipline): a
  * pull on host h with per-host trial index t succeeds iff
  * `md5_44(h:t:salt) mod 1000 < true_yield(h)` — a pure function both
  * engines compute identically, so the WHOLE simulation (policy +
  * environment) replays in DuckDB as per-wave materialized CTEs. Output:
  * one row per allocation (wave, host, pulls_before, index, outcome).
  *
  * 100-TB shape: per wave one bounded TakeOrdered(S) over the host-stats
  * table (per-partition heaps, never a global sort at scale), one keyed
  * update join; state is #hosts rows, outcomes never accumulate in the
  * plan (per-wave lineage cuts). The wave count is the horizon, not the
  * host count — the loop cost is independent of corpus size.
  *
  * (Reference scope: rust-scraper fetches whatever the priority queue
  * yields (batch_processor.rs) and adapts nothing; its per-domain metrics
  * (metrics.rs) are exactly the pulls/successes ledger this policy needs.)
  */
object BanditBudget {

  /** Arms: 8 hosts, true yields 50‰ … 750‰ (host 7 strictly best). */
  val NumHosts = 8
  def hostName(i: Int): String = s"yield-h$i.example"
  def trueYieldPermille(i: Int): Long = 50L + 100L * i

  /** Horizon and per-wave slot budget. */
  val Waves = 16
  val Slots = 4

  /** Scale of the optimism bonus, in permille-yield units per log step:
    * sized to the 0–1000‰ reward range so the confidence term is
    * comparable to real yield gaps at small pull counts and decays below
    * them after a handful — textbook UCB tuning, integerized. */
  val ExploreC = 250L

  /** Index for never-pulled hosts: forces play-each-arm-once. */
  val ColdIndex = 1000000000L

  private val Salt = "graft-bandit-v1"

  /** ⌊log2 n⌋+1 (= `length(bin(n))`), evaluated at plan-build time: the
    * wave's totalPulls is closed-form, so the log-confidence numerator is
    * a per-wave integer CONSTANT — embedded identically in both engines
    * (no cross-engine bin()/log disagreement can exist). */
  private def confNumerator(totalPulls: Long): Long =
    ExploreC * java.lang.Long.toBinaryString(totalPulls).length

  /** The closed-form environment: outcome of per-host trial t on host h. */
  private def outcomeCol(host: Column, t: Column, yieldPm: Column): Column =
    (conv(substring(md5(concat_ws(":", host, t, lit(Salt))), 1, 11), 16, 10)
      .cast("long") % 1000L < yieldPm).cast("long")

  /** Run the policy over the closed-form environment: one row per
    * allocation — (wave, host, pulls_before, index, outcome). */
  def banditBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hosts = (0 until NumHosts)
      .map(i => (hostName(i), trueYieldPermille(i)))
      .toDF("host", "true_yield")
    val init = hosts.select(col("host"), col("true_yield"),
      lit(0L).as("pulls"), lit(0L).as("succ")).localCheckpoint()
    val allocs = Vector.newBuilder[DataFrame]
    Rounds.iterate(init, Waves) { (stats, w) =>
      val totalPulls = (w - 1).toLong * Slots // closed-form: no action needed
      val conf = confNumerator(totalPulls)
      val indexed = stats.withColumn("index",
        when(col("pulls") === 0L, lit(ColdIndex)).otherwise(
          expr(s"(1000 * succ) div pulls + $conf div pulls")))
      val picked = indexed.orderBy(desc("index"), asc("host")).limit(Slots)
      val withOutcome = picked.select(
        lit(w.toLong).as("wave"), col("host"),
        col("pulls").as("pulls_before"), col("index"),
        outcomeCol(col("host"), col("pulls"), col("true_yield")).as("outcome"))
        .localCheckpoint() // a live input of the returned allocations
      allocs += withOutcome
      stats
        .join(withOutcome.select(col("host"), col("outcome")), Seq("host"), "left")
        .select(col("host"), col("true_yield"),
          (col("pulls") + when(col("outcome").isNotNull, 1L).otherwise(0L)).as("pulls"),
          (col("succ") + coalesce(col("outcome"), lit(0L))).as("succ"))
    }
    allocs.result().reduce(_ union _).orderBy("wave", "host")
  }

  /** DuckDB twin: policy + environment re-executed wave by wave as
    * MATERIALIZED chained CTEs — same integer index, same bin()-based
    * confidence term, same md5-44 outcome function. */
  def banditBudgetSql: String = {
    val hostValues = (0 until NumHosts)
      .map(i => s"('${hostName(i)}', ${trueYieldPermille(i)})").mkString(", ")
    val waves = (1 to Waves).map { w =>
      val conf = confNumerator((w - 1).toLong * Slots)
      s"""ix$w AS (
         |  SELECT host, true_yield, pulls, succ,
         |    CAST(CASE WHEN pulls = 0 THEN $ColdIndex
         |         ELSE (1000 * succ) // pulls + $conf // pulls
         |    END AS BIGINT) AS index
         |  FROM st${w - 1}),
         |al$w AS MATERIALIZED (
         |  SELECT $w AS wave, host, pulls AS pulls_before, index,
         |    CAST(CAST(('0x' || substr(md5(host || ':' || pulls || ':$Salt'), 1, 11))
         |      AS BIGINT) % 1000 < true_yield AS BIGINT) AS outcome
         |  FROM (SELECT *, row_number() OVER (ORDER BY index DESC, host ASC) AS rk
         |        FROM ix$w)
         |  WHERE rk <= $Slots),
         |st$w AS MATERIALIZED (
         |  SELECT s.host, s.true_yield,
         |    s.pulls + CASE WHEN a.host IS NULL THEN 0 ELSE 1 END AS pulls,
         |    s.succ + coalesce(a.outcome, 0) AS succ
         |  FROM st${w - 1} s LEFT JOIN al$w a ON a.host = s.host)""".stripMargin
    }.mkString(",\n")
    val allAl = (1 to Waves).map(w => s"SELECT * FROM al$w").mkString(" UNION ALL ")
    s"""WITH hosts(host, true_yield) AS (VALUES $hostValues),
       |st0 AS (SELECT host, true_yield, 0 AS pulls, 0 AS succ FROM hosts),
       |$waves
       |SELECT CAST(wave AS BIGINT) AS wave, host,
       |  CAST(pulls_before AS BIGINT) AS pulls_before,
       |  CAST(index AS BIGINT) AS index, CAST(outcome AS BIGINT) AS outcome
       |FROM ($allAl) ORDER BY wave, host""".stripMargin
  }
}
