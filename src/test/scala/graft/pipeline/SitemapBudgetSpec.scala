package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.SitemapSeeder
import graft.urls.UrlKernel

/** Sitemap metadata parsing + the reference's 80/20 crawl budget with
  * lastmod priority made real: field parsing (ISO, date-only, CDATA,
  * missing), param filter, canonical collapse, and the per-host priority
  * ranking all replayed driver-side. */
class SitemapBudgetSpec extends AnyFunSuite with SharedSpark {

  test("parseEntries: metadata fields, CDATA, non-http drop, first-dup-wins") {
    val body =
      """<?xml version="1.0"?><urlset>
        |<url><loc>https://x.com/a</loc><lastmod>2026-05-01T10:00:00Z</lastmod>
        |<changefreq>daily</changefreq><priority>0.8</priority></url>
        |<url><loc>https://x.com/b</loc><lastmod>2026-05-02</lastmod></url>
        |<url><loc><![CDATA[https://x.com/c]]></loc></url>
        |<url><loc>ftp://x.com/d</loc></url>
        |<url><loc>https://x.com/a</loc><lastmod>2020-01-01</lastmod></url>
        |</urlset>""".stripMargin
    val es = SitemapSeeder.parseEntries(body, "https://x.com/sitemap.xml")
    assert(es.map(_.loc) == Vector("https://x.com/a", "https://x.com/b", "https://x.com/c"))
    assert(es(0).lastmod.contains("2026-05-01T10:00:00Z"))
    assert(es(0).changefreq.contains("daily") && es(0).priority.contains("0.8"))
    assert(es(1).lastmod.contains("2026-05-02") && es(1).changefreq.isEmpty)
    assert(es(2).lastmod.isEmpty, "CDATA loc, no metadata")
    // first spelling of the duplicate kept (reference HashSet arrival order)
    assert(es(0).lastmod.contains("2026-05-01T10:00:00Z"))
  }

  test("lastmodMillis: date-only is UTC midnight; garbage is None") {
    assert(SitemapSeeder.lastmodMillis(Some("2026-05-02")).contains(
      java.time.Instant.parse("2026-05-02T00:00:00Z").toEpochMilli))
    assert(SitemapSeeder.lastmodMillis(Some("2026-05-01T10:00:00+02:00")).contains(
      java.time.Instant.parse("2026-05-01T08:00:00Z").toEpochMilli))
    assert(SitemapSeeder.lastmodMillis(Some("next tuesday")).isEmpty)
    assert(SitemapSeeder.lastmodMillis(None).isEmpty)
  }

  test("budget: statuses and per-host lastmod-priority ranks replay driver-side") {
    val got = SitemapBudget.sitemapBudget(spark, "unused").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getString(2), Option(r.getTimestamp(3)).map(_.getTime),
          r.getInt(6), r.getInt(7), Option(r.get(8)).map(_.asInstanceOf[Int]))))
      .toMap
    // independent replay from the raw XML
    val expect = SitemapBudget.corpus().flatMap { case (host, body) =>
      val es = SitemapSeeder.parseEntries(body, s"https://$host/sitemap.xml")
        .map(e => (e.loc, SitemapSeeder.lastmodMillis(e.lastmod),
          UrlKernel.canonicalize(e.loc).getOrElse(e.loc),
          UrlKernel.paramCount(e.loc), UrlKernel.pathDepth(e.loc)))
      val passing = es.filter(_._4 <= SitemapBudget.MaxParams)
      val rep = passing.groupBy(_._3).map { case (c, v) => c -> v.map(_._1).min }
      val statuses = es.map { case (u, lm, c, np, pd) =>
        val st = if (np > SitemapBudget.MaxParams) "filtered_params"
          else if (rep(c) != u) "collapsed_dup" else "kept"
        (u, lm, np, pd, st)
      }
      val ranks = statuses.filter(_._5 == "kept")
        .sortBy { case (u, lm, _, pd, _) => (lm.isEmpty, -lm.getOrElse(0L), -pd, u) }
        .zipWithIndex.map { case ((u, _, _, _, _), i) => u -> (i + 1) }.toMap
      statuses.map { case (u, lm, np, pd, st) =>
        (host, u) -> ((st, lm, np, pd, if (st == "kept") Some(ranks(u)) else scala.None))
      }
    }.toMap
    assert(got == expect, {
      val d = got.keySet.union(expect.keySet)
        .filter(k => got.get(k) != expect.get(k)).take(3)
      s"diffs at: ${d.map(k => s"$k got=${got.get(k)} want=${expect.get(k)}").mkString("; ")}"
    })
    // the plants actually fire
    val statuses = got.values.map(_._1).toSet
    assert(statuses == Set("kept", "filtered_params", "collapsed_dup"))
    // the declared rule: rank 1 is the freshest page on every host
    for (host <- got.keySet.map(_._1)) {
      val kept = got.filter(k => k._1._1 == host && k._2._1 == "kept")
      val r1 = kept.find(_._2._5.contains(1)).get
      val maxLm = kept.values.flatMap(_._2).max
      assert(r1._2._2.contains(maxLm), s"$host rank-1 freshest")
    }
  }

  test("plan: the rank window partitions by host — no single-partition global sort") {
    val q = SitemapBudget.sitemapBudget(spark, "unused")
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("host#")),
      s"every window keyed by host: $windowLines")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }
}
