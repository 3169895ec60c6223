package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for URL-template mining / crawler-trap detection: the
  * template rule collapses id/date/session variance, the planted calendar
  * trap MUST be flagged, organic corpus hosts must NOT be. */
class UrlTemplatesSpec extends AnyFunSuite with SharedSpark {

  test("template rule: hex runs collapse before digit runs; root path; non-http dropped") {
    import spark.implicits._
    val urls = Seq(
      "https://a.com/post/123",
      "https://a.com/post/99881",
      "https://a.com/s/deadbeef01234567/view",  // 16-hex run -> {h}
      "https://a.com/s/cafe/view",              // 4 hex chars -> digit rule only
      "https://a.com",                          // no path -> "/"
      "http://b.org/x?page=7&y=20240101",       // 8-digit run IS a hex run -> {h}
      "mailto:someone@a.com",                   // dropped
      "javascript:void(0)"                      // dropped
    ).toDF("url")
    val rows = UrlTemplates.templates(urls).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("a.com", "/post/{n}", 2L)))
    assert(rows.contains(("a.com", "/s/{h}/view", 1L)))
    assert(rows.contains(("a.com", "/s/cafe/view", 1L)))
    assert(rows.contains(("a.com", "/", 1L)))
    assert(rows.contains(("b.org", "/x?page={n}&y={h}", 1L)))
    assert(!rows.exists(_._1.contains("mailto")) && rows.forall(_._1.nonEmpty))
  }

  test("host_templates counts distinct templates per host; trap flag thresholds at 64") {
    import spark.implicits._
    // 64 distinct urls in one template -> trap; 63 in another -> not
    val trap = (0 until 64).map(i => s"https://t.com/cal/$i")
    val ok = (0 until 63).map(i => s"https://t.com/item/$i-x")
    val rows = UrlTemplates.templates((trap ++ ok).toDF("url")).collect()
    val byTemplate = rows.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byTemplate("/cal/{n}") == ((64L, 2L, 1L)))
    assert(byTemplate("/item/{n}-x") == ((63L, 2L, 0L)))
  }

  test("corpus query: planted calendar trap flagged, organic hosts clean, deterministic") {
    val out = UrlTemplates.urlTemplates(spark, "/root/testdata/sf0.001").collect()
    val trapRows = out.filter(_.getString(0) == UrlTemplates.TrapHost)
    assert(trapRows.length == 1, "all 180 planted urls collapse to ONE template")
    val t = trapRows.head
    assert(t.getString(1) == "/events/{n}/{n}/{n}?sid={h}")
    assert(t.getLong(2) == 180L && t.getLong(4) == 1L)
    // organic corpus: bounded product/article spaces, nothing at trap scale
    assert(out.filter(r => r.getString(0) != UrlTemplates.TrapHost)
      .forall(_.getLong(4) == 0L), "no organic host may trip the trap flag")
    val again = UrlTemplates.urlTemplates(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)), "deterministic")
  }
}
