package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for the sitemap-coverage gap monitor: arithmetic invariants, both
  * join branches demonstrably exercised, and row-level agreement with an
  * independent driver-side membership replay. */
class SitemapGapSpec extends AnyFunSuite with SharedSpark {

  test("sitemapGap matches a driver-side membership replay; both branches fire") {
    val norm = (u: String) => u.replaceAll("/+$", "")
    val declared = CrawlQueries.sitemapSeeds(spark, "").collect()
      .map(r => norm(r.getString(1))).distinct
    val crawled = CrawlQueries.crawlOrder(spark, "").collect()
      .map(r => norm(r.getAs[String]("url"))).distinct.toSet
    val host = (u: String) => "^https?://([^/]+)".r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val expect = declared.groupBy(host).map { case (h, us) =>
      val hit = us.count(crawled)
      h -> (us.length.toLong, hit.toLong, (us.length - hit).toLong, hit.toLong * 1000L / us.length)
    }
    val got = CrawlQueries.sitemapGap(spark, "").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect, "per-host gap rollup must equal the replay")
    // invariants + both branches: every host declared = crawled + missing;
    // something IS crawled, and the sitemap-only query-param pages are not
    assert(got.nonEmpty)
    got.foreach { case (h, (d, c, m, p)) =>
      assert(d == c + m && p >= 0L && p <= 1000L, s"arithmetic broken for $h")
    }
    assert(got.values.map(_._2).sum > 0L, "the crawl covers part of every sitemap")
    assert(got.values.map(_._3).sum > 0L,
      "the link crawl cannot reach sitemap-only query-param pages — gap must be non-empty")
  }
}
