package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.politeness.Robots

/** RFC 9309 robots.txt availability + cache policy as a corpus operation —
  * the failure half of the REP that [[CrawlQueries.robotsDecisions]]'s
  * matching matrix does not touch: what binds when the rules FILE cannot
  * be read. 4xx is "unavailable" → crawl freely; 5xx/network-failure is
  * "unreachable" → complete disallow, relaxing to unavailable after >30
  * days; a cached copy serves for 24h, longer only while unreachable.
  * Getting this wrong is not hypothetical: treating any non-200 as
  * "no rules" (the reference's behavior) turns every transient 503 into
  * an impolite full-speed crawl of a struggling host.
  *
  * Input discipline ([[IpPoliteness]] house style): per-host fetch
  * outcomes synthesize from salted md5 digits — 6 scenarios (rules-200
  * with a planted Disallow probed through the REAL parser, empty-200,
  * 4xx split 404/403, recent 5xx, stale 5xx past the relaxation window,
  * network failure with digit-driven outage age). Day/hour quantities
  * use HEX-VALUE pairs (strpos-decodable in DuckDB) because ascii-mod
  * digits cannot reach below 30 (mod 60) or above 24 (mod 48). The
  * DuckDB oracle re-derives every verdict from the digits; the Spark
  * side routes scenario 0/1 through [[Robots.parse]] — a parser
  * deviation breaks probe_allowed.
  *
  * Scale shape: one per-host projection + map; the policy gate composes
  * into the politeness join exactly like the rules table — no new
  * shuffle at crawl time. */
object RobotsAvailability {

  private[pipeline] val Salt = ":graft-robotsavail-v2"

  private def hv(c: Char): Int = Character.digit(c, 16)

  /** (scenario, status, unreachableDays, ageHours) for one host. */
  private[pipeline] def outcome(host: String): (Int, Int, Int, Int) = {
    val h = md5Hex(host + Salt)
    val scenario = h.charAt(0).toInt % 6
    val days = (16 * hv(h.charAt(2)) + hv(h.charAt(3))) % 60
    val age = (16 * hv(h.charAt(4)) + hv(h.charAt(5))) % 48
    val (status, uDays) = scenario match {
      case 0 | 1 => (200, 0)
      case 2     => (if (h.charAt(1).toInt % 2 == 0) 404 else 403, 0)
      case 3     => (503, 1 + days % 29)  // recent outage: 1..29 — binding
      case 4     => (503, 31 + days % 29) // stale outage: 31..59 — relaxed
      case 5     => (0, days)             // network failure, age either side of 30
    }
    (scenario, status, uDays, age)
  }

  /** The planted rules body for scenario 0 (probed via the REAL parser). */
  private[pipeline] val RulesBody = "User-agent: *\nDisallow: /p\nAllow: /p/ok\n"

  /** Contract query `q_robots_availability`: per host — the synthesized
    * robots-fetch outcome, the RFC policy arm, whether the 24h cache
    * demands a refetch, and whether the probe paths `/p` and `/p/ok`
    * may be crawled under that policy. */
  def robotsAvailability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().as[String]
      .map { host =>
        val (scenario, status, uDays, age) = outcome(host)
        val policy = Robots.fetchPolicy(status, uDays)
        val rules =
          if (policy == "rules")
            Robots.parse(if (scenario == 0) RulesBody else "")
          else null
        def allowed(path: String): Boolean = policy match {
          case "rules"        => !rules.isDisallowed(path)
          case "allow_all"    => true
          case "disallow_all" => false
        }
        (host, scenario, status, uDays, age, policy,
          Robots.refetchDue(age, policy), allowed("/p"), allowed("/p/ok"))
      }
      .toDF("host", "scenario", "status", "unreachable_days", "age_hours",
        "policy", "refetch_due", "probe_blocked_allowed", "probe_carveout_allowed")
      .orderBy("host")
  }

  /** Independent DuckDB recompute: digits → scenario/status/days/age via
    * the same hex arithmetic (strpos hex decode), then the RFC ladder as
    * CASE expressions — including the planted-rules scenario's expected
    * decisions, which Spark must reach through the real parser. */
  val robotsAvailabilitySql: String =
    s"""WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
      |d AS (
      |  SELECT host, md5(host || '$Salt') AS h FROM hosts),
      |v AS (
      |  SELECT host,
      |    ascii(substr(h, 1, 1)) % 6 AS scenario,
      |    ascii(substr(h, 2, 1)) % 2 AS fourxx,
      |    (16 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
      |       + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 60 AS days,
      |    (16 * (strpos('0123456789abcdef', substr(h, 5, 1)) - 1)
      |       + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1)) % 48 AS age_hours
      |  FROM d),
      |o AS (
      |  SELECT host, scenario, age_hours,
      |    CASE scenario WHEN 2 THEN (CASE WHEN fourxx = 0 THEN 404 ELSE 403 END)
      |      WHEN 3 THEN 503 WHEN 4 THEN 503 WHEN 5 THEN 0 ELSE 200 END AS status,
      |    CASE scenario WHEN 3 THEN 1 + days % 29 WHEN 4 THEN 31 + days % 29
      |      WHEN 5 THEN days ELSE 0 END AS unreachable_days
      |  FROM v),
      |p AS (
      |  SELECT *,
      |    CASE WHEN status BETWEEN 200 AND 299 THEN 'rules'
      |      WHEN status BETWEEN 400 AND 499 THEN 'allow_all'
      |      WHEN unreachable_days > 30 THEN 'allow_all'
      |      ELSE 'disallow_all' END AS policy
      |  FROM o)
      |SELECT host, scenario, status,
      |  CAST(unreachable_days AS BIGINT) AS unreachable_days,
      |  CAST(age_hours AS BIGINT) AS age_hours, policy,
      |  age_hours >= 24 AND policy <> 'disallow_all' AS refetch_due,
      |  CASE WHEN policy = 'allow_all' THEN TRUE
      |    WHEN policy = 'disallow_all' THEN FALSE
      |    WHEN scenario = 0 THEN FALSE ELSE TRUE END AS probe_blocked_allowed,
      |  CASE WHEN policy = 'disallow_all' THEN FALSE
      |    ELSE TRUE END AS probe_carveout_allowed
      |FROM p ORDER BY host""".stripMargin
}
