package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.HtmlKit

/** hreflang alternate clusters — the i18n document-family signal
  * (Google's hreflang contract over `<link rel="alternate" hreflang>`):
  * language variants of one document form a cluster that corpus curation
  * must treat as ONE family (dedup must not collapse a translation pair;
  * language-balanced sampling wants the family id), and the contract is
  * only trustworthy when BIDIRECTIONAL — a page whose declared partner
  * does not annotate back is the classic "no return tag" error, and
  * search engines ignore such clusters. The reference extracts no link
  * relations at all.
  *
  * Digit universe: each doc expands to 1-3 language members
  * (`/{lang}/art/{id}`), every member declares the full family
  * (self-reference included, per the documented best practice) plus an
  * optional `x-default`; a salted third of multi-member clusters carry
  * the no-return error (the sorted-second member omits ALL annotations).
  * Spark builds each member's html, extracts through the REAL
  * [[HtmlKit.extractHreflang]], and validates returns with the GENERAL
  * mechanism — a keyed self-join of the declared edge set (works for any
  * real corpus); the DuckDB oracle re-derives everything from digits via
  * the universe's closed form (the only non-declaring page is the broken
  * member), so the join machinery is checked against an independent
  * formulation, not a re-run of itself.
  *
  * Scale shape: per-member parse map; the return check is one keyed
  * self-join of (src, dst) edge keys — hreflang edges are a tiny
  * fraction of pages; the cluster verdict is one map-side-combined
  * groupBy(cluster). */
object Hreflang {

  private[pipeline] val Salt = ":graft-hreflang-v1"

  private[pipeline] def d(key: String, i: Int): Int = md5Hex(key + Salt).charAt(i).toInt

  private[pipeline] def clusterKey(source: String, docId: Long): String =
    s"https://$source/art/$docId"

  private[pipeline] def langsOf(ck: String): Vector[String] =
    (Vector("en") ++ (if (d(ck, 0) % 2 == 0) Vector("de") else Vector.empty) ++
      (if (d(ck, 1) % 2 == 0) Vector("fr") else Vector.empty)).sorted

  private[pipeline] def hasXDefault(ck: String): Boolean = d(ck, 2) % 2 == 0

  /** The no-return error: the sorted-second member annotates nothing. */
  private[pipeline] def brokenLang(ck: String): Option[String] = {
    val ls = langsOf(ck)
    if (ls.length >= 2 && d(ck, 3) % 3 == 0) Some(ls(1)) else None
  }

  private[pipeline] def memberUrl(ck: String, lang: String): String = {
    val i = ck.indexOf("/art/")
    ck.substring(0, i) + "/" + lang + ck.substring(i)
  }

  /** Contract query `q_hreflang`: per language-variant page — its family
    * key, declaration count, x-default flag, whether every declared
    * partner annotates back, and the cluster verdict. */
  def hreflang(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .flatMap { case (src, id) =>
        val ck = clusterKey(src, id)
        val ls = langsOf(ck)
        val broken = brokenLang(ck)
        ls.map { lang =>
          val self = memberUrl(ck, lang)
          val html =
            if (broken.contains(lang))
              "<html><head></head><body>x</body></html>"
            else {
              val links = ls.map(l =>
                s"""<link rel="alternate" hreflang="$l" href="${memberUrl(ck, l)}">""") ++
                (if (hasXDefault(ck))
                  Seq(s"""<link rel="alternate" hreflang="x-default" href="${memberUrl(ck, "en")}">""")
                else Seq.empty)
              s"<html><head>${links.mkString}</head><body>x</body></html>"
            }
          (self, ck, lang, html)
        }
      }
      .map { case (self, ck, lang, html) =>
        val decls = HtmlKit.extractHreflang(html, self)
        (self, ck, lang, decls)
      }
      .toDF("page_url", "cluster_key", "lang", "decls")
      .localCheckpoint() // edges + stats both read it
    val edges = members
      .select(col("page_url").as("src"), explode(col("decls")).as("e"))
      .select(col("src"), col("e._1").as("hl"), col("e._2").as("dst"))
    val nonSelf = edges.filter(col("hl") =!= "x-default" && col("src") =!= col("dst"))
    // the GENERAL return check: (a→b) kept iff (b→a) exists
    val returned = nonSelf.as("a").join(nonSelf.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"), "left_semi")
    val perPage = members.select(
        col("page_url"), col("cluster_key"), col("lang"),
        size(col("decls")).cast("long").as("n_declared"),
        exists(col("decls"), e => e.getField("_1") === "x-default").as("has_x_default"))
      .join(nonSelf.groupBy("src").agg(count(lit(1)).as("n_out"))
        .withColumnRenamed("src", "page_url"), Seq("page_url"), "left")
      .join(returned.groupBy("src").agg(count(lit(1)).as("n_ret"))
        .withColumnRenamed("src", "page_url"), Seq("page_url"), "left")
      .na.fill(0L, Seq("n_out", "n_ret"))
      .withColumn("return_ok", col("n_out") === col("n_ret"))
    val clusterVerdict = perPage.groupBy("cluster_key").agg(
      (min(when(col("n_declared") > 0, 1L).otherwise(0L)) === 1L &&
        min(when(col("return_ok"), 1L).otherwise(0L)) === 1L).as("valid_cluster"))
    perPage.join(clusterVerdict, Seq("cluster_key"))
      .select("page_url", "cluster_key", "lang", "n_declared", "has_x_default",
        "return_ok", "valid_cluster")
      .orderBy("page_url")
  }

  /** Independent DuckDB recompute via the universe's CLOSED FORM: the
    * only non-declaring page is the broken member, so return_ok and the
    * cluster verdict reduce to digit predicates — no edge join on this
    * side, which is exactly what makes it an independent check of the
    * Spark join machinery. */
  val hreflangSql: String =
    s"""WITH c AS (
      |  SELECT 'https://' || source || '/art/' || CAST(doc_id AS VARCHAR) AS ck
      |  FROM documents),
      |f AS (
      |  SELECT ck,
      |    ascii(substr(md5(ck || '$Salt'), 1, 1)) % 2 = 0 AS has_de,
      |    ascii(substr(md5(ck || '$Salt'), 2, 1)) % 2 = 0 AS has_fr,
      |    ascii(substr(md5(ck || '$Salt'), 3, 1)) % 2 = 0 AS xdef,
      |    ascii(substr(md5(ck || '$Salt'), 4, 1)) % 3 = 0 AS broken_flag
      |  FROM c),
      |g AS (
      |  SELECT *,
      |    1 + CAST(has_de AS INTEGER) + CAST(has_fr AS INTEGER) AS n_members,
      |    CASE WHEN NOT (has_de OR has_fr) THEN NULL
      |      WHEN has_de THEN 'en' ELSE 'fr' END AS second_lang
      |  FROM f),
      |m AS (
      |  SELECT g.*, unnest(list_sort(['en']
      |      || (CASE WHEN has_de THEN ['de'] ELSE [] END)
      |      || (CASE WHEN has_fr THEN ['fr'] ELSE [] END))) AS lang
      |  FROM g),
      |v AS (
      |  SELECT
      |    regexp_replace(ck, '/art/', '/' || lang || '/art/') AS page_url,
      |    ck AS cluster_key, lang,
      |    broken_flag AND n_members >= 2 AND lang = second_lang AS is_broken,
      |    n_members, xdef, second_lang,
      |    broken_flag AND n_members >= 2 AS cluster_broken
      |  FROM m)
      |SELECT page_url, cluster_key, lang,
      |  CAST(CASE WHEN is_broken THEN 0
      |    ELSE n_members + CASE WHEN xdef THEN 1 ELSE 0 END END AS BIGINT) AS n_declared,
      |  (NOT is_broken) AND xdef AS has_x_default,
      |  is_broken OR NOT cluster_broken OR lang = second_lang AS return_ok,
      |  NOT cluster_broken AS valid_cluster
      |FROM v ORDER BY page_url""".stripMargin
}
