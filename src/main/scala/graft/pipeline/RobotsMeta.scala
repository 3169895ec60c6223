package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.HtmlKit

/** Page-level robots directives + rel=nofollow link gating — the Robots
  * Exclusion Protocol's SECOND half. robots.txt (RFC 9309, implemented in
  * [[graft.politeness.Robots]]) gates FETCHING; `<meta name="robots">`
  * and per-link `rel="nofollow"` gate what a crawler may do AFTER the
  * fetch: index the page, and expand/credit its outlinks. The reference
  * stops at robots.txt (crawler_service.rs:958-1054); every production
  * crawler honors the meta layer before a page reaches the corpus or its
  * edges reach the link graph — an exported page with `noindex`, or a
  * PageRank vote across a `nofollow` edge, is a compliance bug.
  *
  * Input discipline ([[IpPoliteness]]/Revalidation house style): the
  * corpus pages plant no robots metas, so each document row synthesizes a
  * small adversarial page from salted md5 digits of its doc_id — 8 meta
  * variants (absent, positive-only, single directives in hostile
  * case/whitespace, `none`, lists, multi-meta union, uppercase attrs, an
  * agent-specific decoy) and 1-4 links whose `rel` digit picks
  * no-rel / `nofollow` / multi-token `external NOFOLLOW` / decoy
  * `noopener noreferrer`. Spark BUILDS the html and derives every output
  * through the real parser ([[HtmlKit.extractRobotsDirectives]],
  * [[HtmlKit.extractLinkRels]]); the DuckDB oracle re-derives the same
  * outputs directly from the digits, never seeing html — any parser
  * deviation (case, whitespace, `none` expansion, union rule, token
  * matching) breaks the match.
  *
  * Scale shape: ONE narrow projection of the documents table into a
  * per-row map — no joins, no windows, no aggregation, embarrassingly
  * parallel; the gate costs one DOM parse per page exactly like the
  * extract stage it would fuse into. All-integer/boolean outputs,
  * bit-identical at any parallelism.
  */
object RobotsMeta {

  private[pipeline] val MetaSalt = ":graft-robotsmeta-v1"
  private[pipeline] val LinkSalt = ":graft-relnofollow-v1:"

  /** The 8 planted meta-robots shapes. Digit → (html fragment, the
    * directives a CORRECT parser must report as (noindex, nofollow)). */
  private[pipeline] def metaFragment(variant: Int): String = variant match {
    case 0 => """<meta name="googlebot" content="noindex">"""
    case 1 => """<meta name="robots" content="index, follow">"""
    case 2 => """<meta name="robots" content="noindex">"""
    case 3 => """<meta name="robots" content=" NoFollow , noarchive ">"""
    case 4 => """<meta name="robots" content="none">"""
    case 5 => """<meta name="robots" content="noindex,nofollow,nosnippet">"""
    case 6 => """<meta name="robots" content="noindex"><meta name="robots" content="nofollow">"""
    case 7 => """<META NAME="ROBOTS" CONTENT=" NOINDEX ">"""
  }

  /** rel digit → attribute fragment (0 = decoy tokens, 1 = plain, 2 =
    * multi-token hostile case — both 1 and 2 mean nofollow). */
  private[pipeline] def relFragment(kind: Int): String = kind match {
    case 0 => """ rel="noopener noreferrer""""
    case 1 => """ rel="nofollow""""
    case 2 => """ rel="external NOFOLLOW""""
  }

  private[pipeline] def variantOf(id: Long): Int =
    md5Hex(s"$id$MetaSalt").charAt(0).toInt % 8

  private[pipeline] def nLinksOf(id: Long): Int =
    1 + md5Hex(s"$id$MetaSalt").charAt(1).toInt % 4

  private[pipeline] def relKindOf(id: Long, i: Int): Int =
    md5Hex(s"$id$LinkSalt$i").charAt(0).toInt % 3

  /** The synthesized page for one document row. */
  private[pipeline] def buildHtml(id: Long): String = {
    val links = (0 until nLinksOf(id)).map { i =>
      s"""<a href="/p$i"${relFragment(relKindOf(id, i))}>link $i</a>"""
    }.mkString("\n")
    s"""<html><head>${metaFragment(variantOf(id))}<title>doc $id</title></head>
       |<body><p>robots meta probe</p>
       |$links</body></html>""".stripMargin
  }

  /** Contract query `q_robots_meta`: per-page post-fetch compliance gate —
    * the directives the parser found, the outlink split, and what the
    * crawler may actually do with the page (`indexable`) and its edges
    * (`n_followed`: zero under a page-level nofollow, else the links not
    * individually nofollow'd). */
  def robotsMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").as[(Long, String)]
      .map { case (id, host) =>
        val dom = HtmlKit.parse(buildHtml(id))
        val dirs = HtmlKit.extractRobotsDirectives(dom)
        val noindex = dirs.contains("noindex")
        val nofollowMeta = dirs.contains("nofollow")
        val rels = HtmlKit.extractLinkRels(dom, s"https://$host/index.html")
        val nRelNofollow = rels.count(_._2)
        val nFollowed = if (nofollowMeta) 0 else rels.length - nRelNofollow
        (id, variantOf(id), noindex, nofollowMeta,
          rels.length.toLong, nRelNofollow.toLong, nFollowed.toLong, !noindex)
      }
      .toDF("doc_id", "variant", "noindex", "nofollow_meta",
        "n_links", "n_rel_nofollow", "n_followed", "indexable")
      .orderBy("doc_id")
  }

  /** Independent DuckDB recompute: same salted digits, a CASE ladder for
    * the variant semantics, and a per-(doc, link) digit expansion via
    * unnest(range(n)) — the html is never reconstructed, so the Spark side
    * must PARSE its way to the same answers. (ascii/substr/md5/% agree
    * across engines on non-negative ints; sums cast to BIGINT per the
    * HUGEINT rule.) */
  val robotsMetaSql: String =
    s"""WITH v AS (
      |  SELECT doc_id,
      |    ascii(substr(md5(CAST(doc_id AS VARCHAR) || '$MetaSalt'), 1, 1)) % 8 AS variant,
      |    1 + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '$MetaSalt'), 2, 1)) % 4 AS n_links
      |  FROM documents),
      |flags AS (
      |  SELECT doc_id, variant, n_links,
      |    variant IN (2, 4, 5, 6, 7) AS noindex,
      |    variant IN (3, 4, 5, 6) AS nofollow_meta
      |  FROM v),
      |link_digits AS (
      |  SELECT doc_id, unnest(range(n_links)) AS i FROM v),
      |rel_counts AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)
      |      || '$LinkSalt' || CAST(i AS VARCHAR)), 1, 1)) % 3 >= 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_nofollow
      |  FROM link_digits GROUP BY doc_id)
      |SELECT f.doc_id, f.variant, f.noindex, f.nofollow_meta,
      |  CAST(f.n_links AS BIGINT) AS n_links,
      |  r.n_rel_nofollow,
      |  CAST(CASE WHEN f.nofollow_meta THEN 0
      |    ELSE f.n_links - r.n_rel_nofollow END AS BIGINT) AS n_followed,
      |  NOT f.noindex AS indexable
      |FROM flags f JOIN rel_counts r ON f.doc_id = r.doc_id
      |ORDER BY f.doc_id""".stripMargin
}
