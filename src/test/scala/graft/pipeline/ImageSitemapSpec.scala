package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.SitemapSeeder

/** Image-sitemap gates: the extension parser handles CDATA/relative/
  * absolute locs, scheme decoys, caption presence, loc-less entries, and
  * (page, image) dedup; the contract query replays the ladder. */
class ImageSitemapSpec extends AnyFunSuite with SharedSpark {

  test("parser: CDATA, resolution, decoys, loc-less drop, dedup keep-first") {
    val body =
      """<urlset>
        |<url><loc><![CDATA[ /p ]]></loc>
        |  <image:image><image:loc>/a.jpg</image:loc>
        |    <image:caption> hi </image:caption></image:image>
        |  <image:image><image:loc>https://s.example/a.jpg</image:loc></image:image>
        |  <image:image><image:loc>ftp://s.example/b.jpg</image:loc></image:image>
        |</url>
        |<url><image:image><image:loc>/orphan.jpg</image:loc></image:image></url>
        |</urlset>""".stripMargin
    val got = SitemapSeeder.parseImageEntries(body, "https://s.example/sitemap.xml")
    // the absolute spelling of /a.jpg is the SAME url — keep-first (with caption)
    assert(got === Vector(SitemapSeeder.ImageEntry(
      "https://s.example/p", "https://s.example/a.jpg", Some("hi"))))
  }

  test("contract query replays the (h, e, j) ladder") {
    val got = ImageSitemap.imageSitemap(spark, "").collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), Option(r.getString(3))))
    val want = (for {
      h <- 0 until ImageSitemap.Hosts
      e <- 0 until 3
      j <- 0 until (h + e) % 3
    } yield (s"m$h.example", s"https://m$h.example/page$e",
        s"https://m$h.example/img/${e}_$j.jpg",
        if ((h + e + j) % 2 == 0) Some(s"cap $h $e $j") else None))
      .sortBy(r => (r._1, r._2, r._3))
    assert(got.toSeq === want)
    assert(want.exists(_._4.isDefined) && want.exists(_._4.isEmpty))
    // no orphan/ftp row slipped through
    assert(!got.exists(_._3.contains("orphan")) && !got.exists(_._3.startsWith("ftp")))
  }
}
