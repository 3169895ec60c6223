package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for tracking-parameter mining: row-for-row agreement with a
  * driver-side replay of the evidence rule, the per-host verdict split
  * pinned (utm tracking except on utm-affecting hosts; page never), and
  * the plan asserted codegen'd with map-side partials. */
class ParamMiningSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("verdicts match a driver-side replay of the evidence rule") {
    val log = ParamMining.paramLog(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // independent replay: parse params by hand, group by (host, param,
    // path|sorted-others), apply the informative/neutral rule
    val exploded = log.flatMap { case (url, hash) =>
      val Array(path, query) = url.split("\\?", 2)
      val host = "^https?://([^/]+)".r.findFirstMatchIn(url).get.group(1)
      val params = query.split("&").map(p => (p.split("=", 2)(0), p.split("=", 2)(1)))
      params.map { case (k, v) =>
        val others = params.filter(_._1 != k).map(p => s"${p._1}=${p._2}").sorted.mkString("&")
        ((host, k, s"$path|$others"), (v, hash))
      }
    }
    val perGroup = exploded.groupBy(_._1).toSeq.map { case ((host, k, _), rows) =>
      val nv = rows.map(_._2._1).distinct.length
      val nh = rows.map(_._2._2).distinct.length
      ((host, k), (if (nv > 1) 1L else 0L, if (nv > 1 && nh == 1) 1L else 0L))
    }
    val expect = perGroup.groupBy(_._1).map { case ((host, k), gs) =>
      val n = gs.map(_._2._1).sum
      val nn = gs.map(_._2._2).sum
      (host, k) -> (n, nn, if (n >= 2 && nn == n) 1L else 0L)
    }
    val got = ParamMining.paramMining(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect, "verdict table must equal the replay")
  }

  test("per-host verdicts: utm tracking except where content depends on it; page never") {
    val got = ParamMining.paramMining(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val hosts = got.keys.map(_._1).toSet
    assert(hosts.size == 20, "one verdict pair per source host")
    hosts.foreach { h =>
      val srcnum = h.stripPrefix("src").stripSuffix(".example").toInt
      val utmExpected = if (srcnum % 4 == 0) 0L else 1L
      assert(got((h, "utm")) == utmExpected, s"utm verdict for $h")
      assert(got((h, "page")) == 0L, s"page must never be tracking on $h")
    }
    assert(got.values.count(_ == 1L) == 15, "15 of 20 hosts have neutral utm")
  }

  test("paramStrip: rule application collapses exactly the utm families") {
    val got = ParamMining.paramStrip(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.size == 20)
    got.foreach { case (h, (n, nc, coll, pm)) =>
      val srcnum = h.stripPrefix("src").stripSuffix(".example").toInt
      assert(n == nc + coll && n % 4 == 0, s"arithmetic for $h")
      if (srcnum % 4 == 0) { // utm affects content here → no rule, nothing collapses
        assert(coll == 0L && pm == 0L, s"no collapse expected on $h")
      } else { // 4 variants per base collapse to the 2 page values
        assert(nc == n / 2 && pm == 500L, s"half the urls must collapse on $h")
      }
    }
    // the rules join must broadcast the tiny per-host table
    val plan = ParamMining.paramStrip(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "rule table broadcasts")
  }

  test("plan: codegen'd list ops, map-side partials, no all-pairs") {
    val q = ParamMining.paramMining(spark, dir)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.toLowerCase.contains("scalaudf"), "param parsing is native expressions")
    assert(plan.contains("partial_"), "group counts combine map-side")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }
}
