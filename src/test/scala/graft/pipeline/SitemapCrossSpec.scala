package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Cross-submission gates: full digit replay without the parsers, every
  * scenario class provably occurs (both scopes, all three entry kinds,
  * all three robots postures, both verdicts, real out-of-scope cases),
  * decoy sitemap declarations never validate, and the plan is join-free. */
class SitemapCrossSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("digit replay without the parsers; scenario coverage; decoys rejected") {
    val got = SitemapCross.sitemapCross(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (host, i) = (r.getString(0), r.getInt(1))
      val smUrl = SitemapCross.sitemapUrl(host)
      val kind = SitemapCross.entryKind(host, i)
      val u = SitemapCross.entryUrl(host, i)
      val eHost = SitemapCross.hostOf(u)
      val sameHost = kind < 2
      val deep = smUrl.contains("/sub/")
      val inScope = sameHost && (kind == 0 || !deep)
      val declares = SitemapCross.robotsPosture(eHost, smUrl) == 0
      assert(r.getString(2) === smUrl && r.getString(3) === u &&
        r.getString(4) === eHost, s"$host#$i")
      assert(r.getBoolean(5) === sameHost && r.getBoolean(6) === inScope &&
        r.getBoolean(7) === declares, s"$host#$i flags")
      assert(r.getBoolean(8) === ((sameHost && inScope) || declares), s"$host#$i verdict")
    }
    // coverage: the universe exercises every branch at this scale
    assert(got.map(_.getString(2)).exists(_.contains("/sub/")) &&
      got.map(_.getString(2)).exists(!_.contains("/sub/")), "both sitemap scopes")
    val kinds = got.map(r => SitemapCross.entryKind(r.getString(0), r.getInt(1))).toSet
    assert(kinds === Set(0, 1, 2), "all three entry kinds")
    val postures = got.map(r =>
      SitemapCross.robotsPosture(r.getString(4), r.getString(2))).toSet
    assert(postures === Set(0, 1, 2), "all three robots postures")
    assert(got.exists(_.getBoolean(8)) && got.exists(!_.getBoolean(8)), "both verdicts")
    assert(got.exists(r => r.getBoolean(5) && !r.getBoolean(6)),
      "a same-host OUT-OF-SCOPE entry occurs — the scope rule binds")
    assert(got.exists(r => !r.getBoolean(5) && r.getBoolean(7) && r.getBoolean(8)),
      "a cross-submission is VALIDATED by the target's robots")
    assert(got.exists(r => !r.getBoolean(5) && !r.getBoolean(7) && !r.getBoolean(8)),
      "an undeclared cross entry is rejected — the sitemap-spam vector")
    // decoy posture (declares a DIFFERENT sitemap) must never validate:
    // the real parser extracted the decoy url and the exact-match failed
    assert(got.filter(r =>
      SitemapCross.robotsPosture(r.getString(4), r.getString(2)) == 1)
      .forall(!_.getBoolean(7)), "decoy declarations never count")
  }

  test("plan: per-host flatMap only — no joins, no windows") {
    val plan = SitemapCross.sitemapCross(spark, dir)
      .queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }
}
