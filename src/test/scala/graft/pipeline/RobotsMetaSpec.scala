package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit

/** Robots-meta gates: extractor unit semantics on handwritten hostile
  * html, a full digit-replay of the pipeline output that never touches
  * the parser, coverage of every planted variant/rel kind, and a
  * join-free map-only plan. */
class RobotsMetaSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("extractRobotsDirectives: case, whitespace, none, union, decoys") {
    def d(html: String) = HtmlKit.extractRobotsDirectives(html)
    assert(d("""<html><head></head></html>""") === Set.empty)
    assert(d("""<meta name="robots" content="index, follow">""") === Set.empty)
    assert(d("""<meta name="robots" content="noindex">""") === Set("noindex"))
    assert(d("""<meta name="robots" content=" NoFollow , noarchive ">""")
      === Set("nofollow", "noarchive"))
    assert(d("""<meta name="robots" content="none">""") === Set("noindex", "nofollow"))
    assert(d("""<META NAME="ROBOTS" CONTENT=" NOINDEX ">""") === Set("noindex"))
    // restrictive union across multiple metas; positive tokens can't cancel
    assert(d("""<meta name="robots" content="noindex"><meta name="robots" content="all">""")
      === Set("noindex"))
    assert(d("""<meta name="robots" content="noindex"><meta name="robots" content="nofollow">""")
      === Set("noindex", "nofollow"))
    // agent-specific metas are not ours; missing content is empty
    assert(d("""<meta name="googlebot" content="noindex">""") === Set.empty)
    assert(d("""<meta name="robots">""") === Set.empty)
    assert(d("""<meta name="robots" content=",, ,">""") === Set.empty)
  }

  test("extractLinkRels: token matching, case, decoys, no dedup") {
    val html =
      """<html><body>
        |<a href="/a" rel="nofollow">x</a>
        |<a href="/b" rel="external NOFOLLOW">y</a>
        |<a href="/c" rel="noopener noreferrer">z</a>
        |<a href="/d">w</a>
        |<a href="/a" rel="nofollow">x again</a>
        |</body></html>""".stripMargin
    val rels = HtmlKit.extractLinkRels(html, "https://h.test/index.html")
    assert(rels.length === 5, "every sighting counts — no dedup")
    assert(rels.count(_._2) === 3, "both /a sightings AND the multi-token rel count")
    assert(rels.filter(_._2).map(_._1).distinct === Vector("https://h.test/a", "https://h.test/b"))
  }

  test("digit replay: the parsed outputs equal the planted semantics") {
    // independent re-derivation from the digits — no html, no parser
    val expectByVariant: Map[Int, (Boolean, Boolean)] = Map(
      0 -> ((false, false)), 1 -> ((false, false)), 2 -> ((true, false)),
      3 -> ((false, true)), 4 -> ((true, true)), 5 -> ((true, true)),
      6 -> ((true, true)), 7 -> ((true, false)))
    val got = RobotsMeta.robotsMeta(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (id, variant) = (r.getLong(0), r.getInt(1))
      assert(variant === RobotsMeta.variantOf(id))
      val (noindex, nofollowMeta) = expectByVariant(variant)
      assert(r.getBoolean(2) === noindex, s"noindex doc $id v$variant")
      assert(r.getBoolean(3) === nofollowMeta, s"nofollow_meta doc $id v$variant")
      val nLinks = RobotsMeta.nLinksOf(id)
      val nRel = (0 until nLinks).count(i => RobotsMeta.relKindOf(id, i) >= 1)
      assert(r.getLong(4) === nLinks.toLong, s"n_links doc $id")
      assert(r.getLong(5) === nRel.toLong, s"n_rel_nofollow doc $id")
      assert(r.getLong(6) === (if (nofollowMeta) 0L else (nLinks - nRel).toLong))
      assert(r.getBoolean(7) === !noindex)
    }
    // the synthetic digits must exercise every branch at this scale
    val variants = got.map(_.getInt(1)).toSet
    assert(variants === (0 to 7).toSet, s"all 8 meta variants occur, got $variants")
    val kinds = got.flatMap(r => (0 until RobotsMeta.nLinksOf(r.getLong(0)))
      .map(i => RobotsMeta.relKindOf(r.getLong(0), i))).toSet
    assert(kinds === Set(0, 1, 2), "all 3 rel kinds occur")
    assert(got.exists(r => !r.getBoolean(3) && r.getLong(5) > 0 && r.getLong(6) > 0),
      "a page with a partial per-link suppression occurs")
  }

  test("plan: per-row map only — no joins, no windows, no aggregates") {
    val plan = RobotsMeta.robotsMeta(spark, dir)
      .queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Aggregate"), s"gate is embarrassingly parallel:\n$plan")
  }
}
