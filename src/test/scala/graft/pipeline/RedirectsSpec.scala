package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for redirect-chain resolution: row-for-row agreement with an
  * independent driver-side chain WALKER (sequential pointer following — a
  * structurally different algorithm from the engine's pointer doubling),
  * the planted decision matrix pinned case by case, and the plan asserted
  * hash-joins-only. */
class RedirectsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val log: Seq[(String, Long, String)] =
    Redirects.redirectLog(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[String]("location"))).toSeq

  private lazy val got: Map[String, (Long, String, String, Long)] =
    Redirects.redirectResolve(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toMap

  /** Independent replay: walk each chain one hop at a time. */
  private def walk(url: String): (String, String, Long) = {
    val followed = Set(301L, 302L, 307L, 308L)
    val next = log.collect { case (u, s, l) if followed(s) && l != null =>
      u -> (if (l.startsWith("/")) "^https?://[^/]+".r.findFirstIn(u).get + l else l)
    }.toMap
    val knownUrls = log.map(_._1).toSet
    var cur = url
    var hops = 0L
    while (next.contains(cur) && hops <= 16) { cur = next(cur); hops += 1 }
    if (next.contains(cur) || hops > Redirects.HopCap) ("too_many", "", Redirects.HopCap + 1L)
    else if (knownUrls(cur)) ("resolved", cur, hops)
    else ("dangling", cur, hops)
  }

  test("every row matches the sequential chain-walker replay") {
    assert(got.size == log.size, "one output row per log row")
    val followed = Set(301L, 302L, 307L, 308L)
    log.foreach { case (url, status, loc) =>
      val (gs, outcome, finalUrl, hops) = got(url)
      assert(gs == status, s"status passthrough for $url")
      val expect =
        if (status >= 200 && status < 300) ("ok", url, 0L)
        else if (followed(status) && loc != null) walk(url)
        else if (status == 404 || status == 410) ("gone", url, 0L)
        else ("error", url, 0L)
      assert((outcome, finalUrl, hops) == expect, s"resolution for $url")
    }
  }

  test("planted matrix: every decision branch pinned") {
    val P = "http://plant.example"
    assert(got(s"$P/chain/a") == (301L, "resolved", s"$P/t", 3L), "3-hop chain")
    assert(got(s"$P/loop/1") == (301L, "too_many", "", 11L), "2-loop")
    assert(got(s"$P/self") == (308L, "too_many", "", 11L), "self-loop")
    assert(got(s"$P/deep/2") == (301L, "resolved", s"$P/deep/12", 10L),
      "exactly at the 10-hop cap still resolves")
    assert(got(s"$P/deep/1") == (301L, "too_many", "", 11L), "11 hops exceeds the cap")
    assert(got(s"$P/deep/0") == (301L, "too_many", "", 11L), "12 hops exceeds the cap")
    assert(got(s"$P/dangle") == (302L, "dangling", "http://offsite.example/x", 1L),
      "terminal never fetched")
    assert(got(s"$P/rel") == (301L, "resolved", s"$P/rel-target", 1L),
      "path-absolute Location resolves against the source host")
    assert(got(s"$P/see-other") == (303L, "error", s"$P/see-other", 0L),
      "303 is not followed (reference follows only 301|302|307|308)")
    assert(got(s"$P/gone") == (410L, "gone", s"$P/gone", 0L))
    assert(got(s"$P/t") == (200L, "ok", s"$P/t", 0L))
  }

  test("organic log exercises ok/gone/error/resolved/dangling; chains are multi-hop") {
    val organic = got.view.filterKeys(!_.startsWith("http://plant.example")).toMap
    val byOutcome = organic.groupBy(_._2._2).view.mapValues(_.size).toMap
    for (o <- Seq("ok", "gone", "error", "resolved", "dangling"))
      assert(byOutcome.getOrElse(o, 0) > 0, s"organic log must produce outcome $o")
    assert(organic.values.exists(v => v._2 == "resolved" && v._4 >= 2L),
      "consecutive redirecting ids must form at least one multi-hop organic chain")
  }

  test("plan: pointer doubling and membership checks are hash joins only") {
    val q = Redirects.redirectResolve(spark, dir)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "no all-pairs anywhere in the resolution plan")
  }
}
