package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.politeness.Robots
import graft.sources.SitemapSeeder

/** Cross-submission + location-scope validation for sitemaps — the
  * sitemaps.org rules the seeder's parse layer does not enforce: a
  * sitemap may only list urls (a) on its own host AND under its own
  * directory scope (a sitemap at `/sub/sitemap.xml` governs `/sub/…`
  * only), unless (b) the TARGET host's robots.txt declares that exact
  * sitemap url (cross-submission). A crawler that skips this check lets
  * any page feed arbitrary urls into other hosts' crawl budgets — the
  * classic sitemap-spam vector (mint a sitemap listing a victim's "urls"
  * plus your spam, watch the crawler attribute them).
  *
  * Digit universe ([[RobotsMeta]] house style): each corpus host
  * publishes a sitemap (root or `/sub/` scope — digit) with 1-3 entries
  * whose kind digit picks in-scope same-host / out-of-scope same-host /
  * cross-host-to-external; the governing robots.txt (of the ENTRY's
  * host) declares the exact sitemap, a decoy sitemap, or nothing
  * (digit). Spark BUILDS the sitemap xml (CDATA/whitespace variants) and
  * the robots bodies and derives every verdict through the REAL parsers
  * ([[SitemapSeeder.parseLocs]], [[Robots.parse]] → `Rules.sitemaps`);
  * the DuckDB oracle re-derives the verdict ladder from the digits —
  * never seeing xml or robots text.
  *
  * Scale shape: per-host map expanding to per-entry rows — no joins, no
  * windows (the governing robots fetch is an in-row derivation here; in
  * the engine it is the existing host-keyed rules-table join). */
object SitemapCross {

  private[pipeline] val Salt = ":graft-smx-v1"

  private[pipeline] def d(key: String, i: Int): Int =
    md5Hex(key + Salt).charAt(i).toInt

  /** Sitemap location for a host: root scope or /sub/ scope. */
  private[pipeline] def sitemapUrl(host: String): String =
    if (d(host, 0) % 2 == 0) s"https://$host/sitemap.xml"
    else s"https://$host/sub/sitemap.xml"

  private[pipeline] def nEntries(host: String): Int = 1 + d(host, 1) % 3

  /** Entry kind: 0 in-scope same-host, 1 out-of-scope same-host,
    * 2 cross-host to an external partner. */
  private[pipeline] def entryKind(host: String, i: Int): Int = d(s"$host#$i", 0) % 3

  private[pipeline] def entryUrl(host: String, i: Int): String = entryKind(host, i) match {
    case 0 =>
      val dir = if (sitemapUrl(host).contains("/sub/")) "/sub" else ""
      s"https://$host$dir/page$i"
    case 1 => s"https://$host/top$i" // out of scope only under /sub/ sitemaps
    case 2 => s"https://ext-${d(s"$host#$i", 1) % 4}.example/p$i"
  }

  /** Robots posture of the ENTRY's host toward this sitemap:
    * 0 declares it exactly, 1 declares a decoy, 2 says nothing. */
  private[pipeline] def robotsPosture(entryHost: String, sitemap: String): Int =
    d(s"$entryHost@$sitemap", 2) % 3

  private[pipeline] def hostOf(u: String): String =
    "^https?://([^/]+)".r.findFirstMatchIn(u).get.group(1)

  /** Contract query `q_sitemap_cross`: per sitemap entry — the scope and
    * cross-submission verdict, every signal derived through the real
    * parsers. */
  def sitemapCross(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().as[String]
      .flatMap { host =>
        val smUrl = sitemapUrl(host)
        // build the xml with per-entry CDATA/whitespace variants and
        // parse it back with the REAL seeder
        val locs = (0 until nEntries(host)).map { i =>
          val u = entryUrl(host, i)
          if (d(s"$host#$i", 2) % 2 == 0) s"<url><loc>$u</loc></url>"
          else s"<url><loc>  <![CDATA[$u]]>  </loc></url>"
        }
        val xml = s"""<?xml version="1.0"?><urlset>${locs.mkString}</urlset>"""
        val parsed = SitemapSeeder.parseLocs(xml, smUrl)
        val smDir = smUrl.substring(0, smUrl.lastIndexOf('/') + 1)
        parsed.zipWithIndex.map { case (u, i) =>
          val eHost = hostOf(u)
          val sameHost = eHost == host
          val inScope = sameHost && u.startsWith(smDir)
          // the entry host's robots body, parsed by the REAL parser
          val robotsBody = robotsPosture(eHost, smUrl) match {
            case 0 => s"User-agent: *\nDisallow:\nSitemap: $smUrl\n"
            case 1 => s"User-agent: *\nDisallow:\nSitemap: https://$eHost/other.xml\n"
            case _ => "User-agent: *\nDisallow:\n"
          }
          val declares = Robots.parse(robotsBody).sitemaps.contains(smUrl)
          (host, i, smUrl, u, eHost, sameHost, inScope, declares,
            (sameHost && inScope) || declares)
        }
      }
      .toDF("sitemap_host", "entry_idx", "sitemap_url", "entry_url", "entry_host",
        "same_host", "in_scope", "robots_declares", "accepted")
      .orderBy("sitemap_host", "entry_idx")
  }

  /** Independent DuckDB recompute: entries regenerated per host via
    * unnest(range(n)), then the same digit ladder — xml and robots text
    * never exist on this side. */
  val sitemapCrossSql: String =
    s"""WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
      |h AS (
      |  SELECT host,
      |    CASE WHEN ascii(substr(md5(host || '$Salt'), 1, 1)) % 2 = 0
      |      THEN 'https://' || host || '/sitemap.xml'
      |      ELSE 'https://' || host || '/sub/sitemap.xml' END AS sitemap_url,
      |    1 + ascii(substr(md5(host || '$Salt'), 2, 1)) % 3 AS n
      |  FROM hosts),
      |e AS (
      |  SELECT host, sitemap_url, unnest(range(n)) AS i FROM h),
      |k AS (
      |  SELECT host, sitemap_url, i,
      |    ascii(substr(md5(host || '#' || CAST(i AS VARCHAR) || '$Salt'), 1, 1)) % 3 AS kind,
      |    ascii(substr(md5(host || '#' || CAST(i AS VARCHAR) || '$Salt'), 2, 1)) % 4 AS ext
      |  FROM e),
      |u AS (
      |  SELECT host, CAST(i AS INTEGER) AS entry_idx, sitemap_url,
      |    CASE kind
      |      WHEN 0 THEN 'https://' || host ||
      |        (CASE WHEN sitemap_url LIKE '%/sub/%' THEN '/sub' ELSE '' END) ||
      |        '/page' || CAST(i AS VARCHAR)
      |      WHEN 1 THEN 'https://' || host || '/top' || CAST(i AS VARCHAR)
      |      ELSE 'https://ext-' || CAST(ext AS VARCHAR) || '.example/p' || CAST(i AS VARCHAR)
      |    END AS entry_url,
      |    kind
      |  FROM k),
      |v AS (
      |  SELECT host AS sitemap_host, entry_idx, sitemap_url, entry_url,
      |    regexp_extract(entry_url, '^https?://([^/]+)', 1) AS entry_host,
      |    kind < 2 AS same_host,
      |    kind < 2 AND starts_with(entry_url,
      |      regexp_replace(sitemap_url, '/[^/]*$$', '/')) AS in_scope,
      |    ascii(substr(md5(regexp_extract(entry_url, '^https?://([^/]+)', 1)
      |      || '@' || sitemap_url || '$Salt'), 3, 1)) % 3 = 0 AS robots_declares
      |  FROM u)
      |SELECT sitemap_host, entry_idx, sitemap_url, entry_url, entry_host,
      |  same_host, in_scope, robots_declares,
      |  (same_host AND in_scope) OR robots_declares AS accepted
      |FROM v ORDER BY sitemap_host, entry_idx""".stripMargin
}
