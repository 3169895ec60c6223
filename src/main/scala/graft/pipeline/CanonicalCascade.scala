package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.HtmlKit

/** The canonicalization CASCADE — how the four dedup signals this library
  * already implements compose into one admission decision, in the
  * precedence order search engines document: (1) HTTP redirects (the
  * server's own strongest signal — follow to the terminal), then (2) the
  * terminal page's `rel=canonical` declaration, then (3) DUST
  * tracking-parameter stripping (URL-rewrite rules), then (4) content-
  * digest collapse (weakest: equal bytes, pick the minimum url). Each
  * signal alone is an implemented operator (`q_redirect_resolve`,
  * `q_rel_canonical`, `q_param_strip`, `q_exact_dedup`); a crawler that
  * applies them independently double-counts pages that need two steps —
  * a tracked url that 301s to a page declaring a canonical must collapse
  * through BOTH. The cascade is the composition contract.
  *
  * One digit-synthesized universe ([[RobotsMeta]] house style), all flags
  * keyed on URL STRINGS so every step derives uniformly: half the docs
  * carry a `?utm=` tracking param; a quarter of those 301-redirect to
  * their clean url, a quarter declare `rel=canonical` to it (through a
  * REAL page + [[HtmlKit.extractCanonical]]), the rest fall to DUST; the
  * clean urls then digest-group per host (salted class) and collapse to
  * the group minimum. Spark resolves redirects with the REAL pointer-
  * doubling resolver ([[Redirects.resolve]]) and extracts declarations
  * with the REAL parser; the DuckDB oracle re-derives the whole cascade
  * from the digits — ladder only, no resolver, no parser.
  *
  * Scale shape: the fetch-log resolve is the q_redirect_resolve plan
  * (keys-only doubling joins); the page step is a per-row parse; DUST is
  * a codegen regexp; the digest collapse is one keyed window. Payloads
  * never shuffle. */
object CanonicalCascade {

  private[pipeline] def digit(s: String, salt: String): Int =
    md5Hex(s + salt).charAt(0).toInt

  private[pipeline] def cleanUrl(source: String, docId: Long): String =
    s"https://$source/art/$docId"

  /** The universe url for a doc: clean, or clean + tracking param. */
  private[pipeline] def universeUrl(source: String, docId: Long): String = {
    val clean = cleanUrl(source, docId)
    if (digit(clean, ":graft-cc-u") % 2 == 0)
      s"$clean?utm=${digit(clean, ":graft-cc-u2") % 10}"
    else clean
  }

  /** Route digit for a tracked url: 0 = 301-redirect to clean, 1 =
    * rel=canonical declaration to clean, 2|3 = neither (DUST strips). */
  private[pipeline] def route(url: String): Int = digit(url, ":graft-cc-r") % 4

  /** Digest class of a CLEAN url (content-duplicate grouping per host). */
  private[pipeline] def digestClass(url: String): Int = digit(url, ":graft-cc-g") % 3

  private def dropUtm(url: String): String = {
    val i = url.indexOf("?utm=")
    if (i < 0) url else url.substring(0, i)
  }

  /** Contract query `q_canonical_cascade`. */
  def canonicalCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .map { case (src, id) => universeUrl(src, id) }
      .toDF("url").localCheckpoint() // three consumers below

    // step 1 — redirects, through the REAL pointer-doubling resolver
    val log = urls.as[String].map { u =>
      if (u.contains("?utm=") && route(u) == 0) (u, 301L, dropUtm(u))
      else (u, 200L, null: String)
    }.toDF("url", "status", "location")
    val afterRedirect = Redirects.resolve(log)
      .select(col("url"), col("final_url").as("p1"))

    // step 2 — the terminal page's declaration, through the REAL parser
    val afterCanonical = afterRedirect.as[(String, String)].map { case (u, p1) =>
      val declares = p1.contains("?utm=") && route(p1) == 1
      val html =
        if (declares)
          s"""<html><head><link rel="canonical" href="${dropUtm(p1)}"></head><body>x</body></html>"""
        else "<html><head></head><body>x</body></html>"
      val decl = HtmlKit.extractCanonical(html)
        .flatMap(d => graft.urls.UrlKernel.resolve(p1, d))
      (u, p1, decl.getOrElse(p1), decl.isDefined)
    }.toDF("url", "p1", "p2", "declared")

    // step 3 — DUST strip (codegen regexp); step 4 — digest collapse
    val stepped = afterCanonical
      .withColumn("p3", regexp_replace(col("p2"), "[?]utm=[0-9]+$", ""))
      .as[(String, String, String, Boolean, String)]
      .map { case (u, p1, p2, declared, p3) =>
        (u, p1, p2, p3, u != p1, declared, p2 != p3, digestClass(p3))
      }
      .toDF("url", "after_redirect", "after_canonical", "after_dust",
        "redirected", "declared", "dust_stripped", "g")
    val groups = stepped
      .withColumn("host", regexp_extract(col("after_dust"), "^https?://([^/]+)", 1))
      .groupBy("host", "g")
      .agg(min("after_dust").as("canonical_final"), count(lit(1)).as("group_size"))
    stepped
      .withColumn("host", regexp_extract(col("after_dust"), "^https?://([^/]+)", 1))
      .join(groups, Seq("host", "g"))
      .select("url", "redirected", "declared", "dust_stripped",
        "after_redirect", "after_canonical", "after_dust",
        "canonical_final", "group_size")
      .orderBy("url")
  }

  /** Independent DuckDB recompute: the whole cascade as digit ladders —
    * no resolver, no parser. (ascii/substr/md5 portability; the clean
    * url never routes because only tracked urls carry the digits' salt
    * checks.) */
  val canonicalCascadeSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    'https://' || source || '/art/' || CAST(doc_id AS VARCHAR) AS clean
      |  FROM documents),
      |u AS (
      |  SELECT clean,
      |    CASE WHEN ascii(substr(md5(clean || ':graft-cc-u'), 1, 1)) % 2 = 0
      |      THEN clean || '?utm=' ||
      |        CAST(ascii(substr(md5(clean || ':graft-cc-u2'), 1, 1)) % 10 AS VARCHAR)
      |      ELSE clean END AS url
      |  FROM d),
      |s1 AS (
      |  SELECT url, clean,
      |    url LIKE '%?utm=%'
      |      AND ascii(substr(md5(url || ':graft-cc-r'), 1, 1)) % 4 = 0 AS redirected
      |  FROM u),
      |s2 AS (
      |  SELECT url, clean, redirected,
      |    CASE WHEN redirected THEN clean ELSE url END AS p1
      |  FROM s1),
      |s3 AS (
      |  SELECT *,
      |    p1 LIKE '%?utm=%'
      |      AND ascii(substr(md5(p1 || ':graft-cc-r'), 1, 1)) % 4 = 1 AS declared
      |  FROM s2),
      |s4 AS (
      |  SELECT url, redirected, declared, p1,
      |    CASE WHEN declared THEN clean ELSE p1 END AS p2
      |  FROM s3),
      |s5 AS (
      |  SELECT *,
      |    regexp_replace(p2, '[?]utm=[0-9]+$', '') AS p3,
      |    regexp_extract(regexp_replace(p2, '[?]utm=[0-9]+$', ''),
      |      '^https?://([^/]+)', 1) AS host
      |  FROM s4),
      |s6 AS (
      |  SELECT *,
      |    ascii(substr(md5(p3 || ':graft-cc-g'), 1, 1)) % 3 AS g
      |  FROM s5),
      |grp AS (
      |  SELECT host, g, min(p3) AS canonical_final,
      |    CAST(count(*) AS BIGINT) AS group_size
      |  FROM s6 GROUP BY host, g)
      |SELECT s6.url, s6.redirected, s6.declared,
      |  s6.p2 <> s6.p3 AS dust_stripped,
      |  s6.p1 AS after_redirect, s6.p2 AS after_canonical, s6.p3 AS after_dust,
      |  grp.canonical_final, grp.group_size
      |FROM s6 JOIN grp ON s6.host = grp.host AND s6.g = grp.g
      |ORDER BY s6.url""".stripMargin
}
