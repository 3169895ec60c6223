package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.extract.HtmlKit

/** Gates for the anchor-text operators: extraction semantics (sightings,
  * not deduped links; nested markup; entity decoding; whitespace
  * normalization), a driver-side plain-Scala replay of the aggregation over
  * the real corpus sightings (same discipline as PageRankSpec — three
  * implementations must agree, the third being the DuckDB oracle), the
  * consensus tie-break total order, and parallelism invariance. */
class AnchorTextSpec extends AnyFunSuite with SharedSpark {

  test("extractLinkAnchors: sightings with nested markup, entities, whitespace") {
    val html =
      """<html><body>
        |<a href="/a">Plain</a>
        |<a href="/b"><strong>Bold</strong> and <em>em</em> text</a>
        |<a href="/a">Second   sighting
        |  of A</a>
        |<a href="/amp">Fish &amp; Chips</a>
        |<a href="/img"><img src="/x.png" alt="pic"></a>
        |<a>no href</a>
        |</body></html>""".stripMargin
    val got = HtmlKit.extractLinkAnchors(html, "https://ex.com/base")
    assert(got == Vector(
      ("https://ex.com/a", "Plain"),
      ("https://ex.com/b", "Bold and em text"),
      ("https://ex.com/a", "Second sighting of A"), // repeat KEPT (a vote), ws-normalized
      ("https://ex.com/amp", "Fish & Chips"), // entities decoded
      ("https://ex.com/img", "") // image-only anchor -> empty text
    ))
    // same normalize kernel as the link graph: keys join exactly
    val links = HtmlKit.extractLinks(html, "https://ex.com/base")
    assert(got.map(_._1).distinct == links)
    assert(HtmlKit.extractLinkAnchors("<a href='/x'>t</a>", "::bad base::").isEmpty)
  }

  test("anchorAgg: consensus anchor by (count desc, anchor asc), empty/non-http dropped") {
    import spark.implicits._
    val sightings = Seq(
      ("s1", "https://t/page", "Click"),
      ("s2", "https://t/page", "Docs"),
      ("s3", "https://t/page", "Docs"),
      ("s4", "https://t/page", "Click"), // 2-2 tie -> "Click" (lexicographically first)
      ("s5", "https://t/page", ""), // empty anchor: not a vote
      ("s6", "mailto:x@y.z", "Mail"), // non-fetchable target: dropped
      ("s7", "https://t/other", "Solo")
    ).toDF("src", "dst", "anchor")
    val got = CrawlQueries.anchorAgg(sightings).collect()
    assert(got.length == 2)
    val page = got.find(_.getAs[String]("url") == "https://t/page").get
    assert(page.getAs[Long]("in_links") == 4L)
    assert(page.getAs[Long]("distinct_anchors") == 2L)
    assert(page.getAs[String]("top_anchor") == "Click")
    assert(page.getAs[Long]("top_anchor_count") == 2L)
    val other = got.find(_.getAs[String]("url") == "https://t/other").get
    assert(other.getAs[Long]("in_links") == 1L &&
      other.getAs[String]("top_anchor") == "Solo")
  }

  test("anchorTexts matches an independent driver-side replay over the corpus") {
    val sightings = CrawlQueries.linkAnchors(spark, "").collect()
      .map(r => (r.getString(1), r.getString(2)))
      .filter { case (dst, a) => dst.startsWith("http") && a.nonEmpty }
    assert(sightings.nonEmpty, "corpus must produce anchored links")
    val byUrl = sightings.groupBy(_._1)
    val got = CrawlQueries.anchorTexts(spark, "").collect()
    assert(got.length == byUrl.size, "one row per anchored target")
    got.foreach { r =>
      val u = r.getAs[String]("url")
      val votes = byUrl(u).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val top = votes.toSeq.map { case (a, c) => (-c, a) }.min
      assert(r.getAs[Long]("in_links") == votes.values.sum, s"in_links mismatch for $u")
      assert(r.getAs[Long]("distinct_anchors") == votes.size.toLong, s"distinct mismatch for $u")
      assert(r.getAs[String]("top_anchor") == top._2, s"top_anchor mismatch for $u")
      assert(r.getAs[Long]("top_anchor_count") == -top._1, s"top count mismatch for $u")
    }
    val urls = got.map(_.getAs[String]("url")).toSeq
    assert(urls == urls.sorted, "ordered by url")
  }

  test("anchorTexts is invariant to shuffle width") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = CrawlQueries.anchorTexts(spark, "").collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = CrawlQueries.anchorTexts(spark, "").collect().map(_.toString).toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
