package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit
import graft.sources.FeedKit

/** Feed-discovery gates: the autodiscovery extractor and both body
  * parsers behave per convention on hostile inputs, and the full query
  * replays the closed-form digit ladder row-for-row (no parser on the
  * replay side). */
class FeedsSpec extends AnyFunSuite with SharedSpark {

  test("extractFeedLinks: decoys rejected, relative resolved, rel multi-token, dedup") {
    val html =
      """<html><head>
        |<link rel="stylesheet" type="application/rss+xml" href="/decoy.css">
        |<link rel="alternate" type="text/html" href="/mobile">
        |<link rel="ALTERNATE me" type="application/atom+xml" href="/a.atom">
        |<link rel="alternate" type="application/rss+xml" href="https://x.com/f.rss">
        |<link rel="alternate" type="application/rss+xml" href="/f.rss">
        |</head><body><a href="/other.rss">sub</a></body></html>""".stripMargin
    val got = HtmlKit.extractFeedLinks(html, "https://x.com/page")
    assert(got === Vector(
      ("https://x.com/a.atom", "atom"),
      ("https://x.com/f.rss", "rss"))) // absolute + relative spell the same url: first wins
  }

  test("parseFeed rss: CDATA, relative links, malformed pubDate tolerated") {
    val body =
      """<rss version="2.0"><channel><title>t</title><link>https://x.com/</link>
        |<item><link><![CDATA[ https://x.com/p0 ]]></link><pubDate>Mon, 1 Jan 2024 00:00:00 GMT</pubDate></item>
        |<item><link>/p1</link><pubDate>not-a-date</pubDate></item>
        |<item><link>ftp://x.com/p2</link></item>
        |</channel></rss>""".stripMargin
    val got = FeedKit.parseFeed(body, "https://x.com/feed.rss")
    assert(got.map(_.url) === Vector("https://x.com/p0", "https://x.com/p1"))
    assert(got(0).tsSec === Some(1704067200L))
    assert(got(1).tsSec === None)
  }

  test("parseFeed atom: rel=alternate preferred, rel-less fallback, self decoy skipped") {
    val body =
      """<feed xmlns="http://www.w3.org/2005/Atom"><title>t</title>
        |<entry><link rel="self" href="/s0"/><link rel="alternate" href="/e0"/><updated>2024-01-01T00:00:00Z</updated></entry>
        |<entry><link rel="self" href="/s1"/><link href="/e1"/><updated>garbage</updated></entry>
        |<entry><link rel="self" href="/s2"/></entry>
        |</feed>""".stripMargin
    val got = FeedKit.parseFeed(body, "https://y.org/feed.atom")
    assert(got.map(_.url) === Vector("https://y.org/e0", "https://y.org/e1"))
    assert(got(0).tsSec === Some(1704067200L))
    assert(got(1).tsSec === None)
  }

  /** The oracle's ladder in Scala — no parsing. */
  private def expectRows(): Seq[(String, String, String, String, Option[Long], Long)] = {
    val rows = for {
      h <- 0 until Feeds.Hosts
      fmt <- (h % 4 match {
        case 0 => Seq("rss"); case 1 => Seq("atom")
        case 2 => Seq("rss", "atom"); case _ => Nil
      })
      n = if (fmt == "rss") 2 + h % 3 else 2 + (h + 1) % 3
      j <- 0 until n
    } yield {
      val ts: Option[Long] =
        if (fmt == "rss")
          if ((h + j) % 5 == 0) None else Some(Feeds.BaseSec + h * 86400L + j * 3600L)
        else if ((h + j) % 7 == 0) None
        else Some(Feeds.BaseSec + h * 86400L + j * 3600L + 1800L)
      (s"https://feed$h.com/", s"https://feed$h.com/feed.$fmt", fmt,
        s"https://feed$h.com/post/$fmt$j", ts)
    }
    rows.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.sortBy(r => (r._5.map(-_).getOrElse(Long.MaxValue), r._4))
        .zipWithIndex.map { case ((p, f, fm, e, t), i) => (p, f, fm, e, t, i + 1L) }
    }.sortBy(r => (r._2, r._6))
  }

  test("full query replays the closed-form ladder row-for-row") {
    val got = Feeds.feedDiscovery(spark, "").collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5))
    }.toSeq
    val want = expectRows()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w, g._2) }
    // coverage: both formats, both-declared hosts, null timestamps, none-hosts
    assert(got.exists(_._3 == "rss") && got.exists(_._3 == "atom"))
    assert(got.exists(_._5.isEmpty))
    assert(!got.exists(_._1 == "https://feed3.com/")) // h%4==3 declares nothing
    val h2 = got.filter(_._1 == "https://feed2.com/").map(_._3).distinct.sorted
    assert(h2 === Seq("atom", "rss")) // h%4==2 declares both
  }
}
