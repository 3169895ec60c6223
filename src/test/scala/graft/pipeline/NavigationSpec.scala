package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit

/** Navigation gates: the meta-refresh and rel-nav extractors handle the
  * wild's spellings and decoys, the generic chain kernel resolves
  * terminals and hop counts exactly, and both contract queries replay
  * their closed-form ladders row-for-row. */
class NavigationSpec extends AnyFunSuite with SharedSpark {

  test("extractMetaRefresh: spellings, quotes, self-reload, decoys") {
    def p(h: String) = HtmlKit.extractMetaRefresh(
      s"<html><head>$h</head><body></body></html>", "https://x.com/a/b")
    assert(p("""<meta http-equiv="refresh" content="5;url=/t">""")
      === Some((5, Some("https://x.com/t"))))
    assert(p("""<meta http-equiv="REFRESH" content="0; URL='https://y.org/q'">""")
      === Some((0, Some("https://y.org/q"))))
    assert(p("""<meta http-equiv="refresh" content="2;url=rel.html">""")
      === Some((2, Some("https://x.com/a/rel.html"))))
    assert(p("""<meta http-equiv="refresh" content="3">""") === Some((3, None)))
    assert(p("""<meta name="refresh" content="0;url=/t">""") === None)
    assert(p("""<meta http-equiv="refresh" content="soon;url=/t">""") === None)
  }

  test("extractRelNav: token lists, first wins, resolution") {
    val (n, p) = HtmlKit.extractRelNav(
      """<html><head>
        |<link rel="prev nofollow" href="/p0">
        |<link rel="NEXT" href="/p2">
        |<link rel="next" href="/ignored-second">
        |</head><body></body></html>""".stripMargin, "https://x.com/p1")
    assert(n === Some("https://x.com/p2"))
    assert(p === Some("https://x.com/p0"))
  }

  test("chainHops: exact terminals and distances, log-round resolution") {
    import spark.implicits._
    // a chain of length 9 — needs doubling, not one join
    val edges = (0 until 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val got = Navigation.chainHops(edges).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    (0 until 9).foreach { i =>
      assert(got(s"n$i") === (("n9", (9 - i).toLong)), s"n$i")
    }
  }

  test("q_meta_refresh replays its ladder; chains of two resolve") {
    val got = Navigation.metaRefresh(spark, "").collect()
    assert(got.length === Navigation.Pages)
    got.foreach { r =>
      val i = r.getLong(0).toInt; val c = i % 8
      val u = s"https://nav.example/p$i"
      assert(r.getString(1) === u)
      assert(r.getBoolean(2) === Seq(0, 1, 2, 4).contains(c), s"has_refresh $i")
      val isRed = c == 1 || (c == 0 && i % 12 <= Navigation.RedirectMaxDelay)
      assert(r.getBoolean(5) === isRed, s"is_redirect $i")
      val (term, hops) =
        if (c == 0 && isRed) (s"https://nav.example/p${i + 2}", 2L)
        else if (c == 1) (s"https://nav.example/p${i + 1}", 1L)
        else (u, 0L)
      assert(r.getString(6) === term, s"terminal $i")
      assert(r.getLong(7) === hops, s"hops $i")
    }
    // both redirect-delay classes genuinely occur among c0 pages
    val c0 = got.filter(_.getLong(0) % 8 == 0)
    assert(c0.exists(_.getBoolean(5)) && c0.exists(!_.getBoolean(5)))
  }

  test("q_pagination replays its ladder; heads, positions, lengths") {
    val got = Navigation.pagination(spark, "").collect()
    assert(got.length === Navigation.Pages)
    got.foreach { r =>
      val i = r.getLong(0).toInt; val s = i / 6; val pos = i % 6
      val len = 2 + s % 5
      val member = pos < len
      assert(r.getBoolean(2) === member, s"in_series $i")
      if (member) {
        assert(r.getString(3) === s"https://nav.example/s${s}p0", s"series $i")
        assert(r.getLong(4) === pos.toLong, s"pos $i")
        assert(r.getLong(5) === len.toLong, s"len $i")
      } else {
        assert(r.getString(3) === r.getString(1) && r.getLong(4) === 0L
          && r.getLong(5) === 1L, s"standalone $i")
      }
    }
    // every series length 2..6 occurs; standalones exist
    assert(got.filter(_.getBoolean(2)).map(_.getLong(5)).distinct.sorted
      === Seq(2L, 3L, 4L, 5L, 6L))
    assert(got.exists(!_.getBoolean(2)))
  }
}
