package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Blocklist gates: the suffix-join engine replays the closed-form digit
  * ladder row-for-row, the dot boundary and both precedence rules
  * (exact > domain, longest domain wins) provably occur, the general
  * kernel handles a hand-built list correctly, and the plan is
  * product-free. */
class BlocklistSpec extends AnyFunSuite with SharedSpark {

  /** Closed-form replay — the oracle's ladder in Scala, no joins. */
  private def expect(i: Int): (String, String, Boolean, Option[String], Option[String]) = {
    val a = i % Blocklist.Apexes
    val d = (i / Blocklist.Apexes) % 3
    val tld = Seq("com", "org", "net")(i % 3)
    val isnot = i % 11 == 9
    val host = (if (d == 1) "www." else if (d == 2) "a.www." else "") +
      (if (isnot) "notsite" else "site") + a + "." + tld
    val url = s"https://$host/p$i"
    val (cat, rule): (Option[String], Option[String]) =
      if (i % 101 == 0) (Some("exacturl"), Some(url))
      else if (isnot) (None, None)
      else if (a % 7 == 0 && d >= 1) (Some("tracker"), Some(s"www.site$a.$tld"))
      else if (a % 7 == 0) (Some("adult"), Some(s"site$a.$tld"))
      else if (a % 7 == 1) (Some("malware"), Some(s"site$a.$tld"))
      else (None, None)
    (url, host, cat.isDefined, rule, cat)
  }

  test("engine replays the closed-form ladder row-for-row") {
    val got = Blocklist.blocklist(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        Option(r.getString(3)), Option(r.getString(4))))
    val want = (0 until Blocklist.N).map(expect).sortBy(_._1)
    assert(got.length === Blocklist.N)
    got.zip(want).foreach { case (g, w) => assert(g === w, g._1) }
    // coverage: every verdict class genuinely occurs
    val cats = got.flatMap(_._5).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(Seq("adult", "tracker", "malware", "exacturl").forall(cats.contains), cats)
    assert(got.exists(g => !g._3)) // unblocked rows exist
  }

  test("dot boundary: notsite hosts never domain-match site entries") {
    val got = Blocklist.blocklist(spark, "").collect()
    val notsite = got.filter(_.getString(1).contains("notsite"))
    assert(notsite.nonEmpty)
    notsite.foreach { r =>
      // blocked only via the exact-url list, never via a domain rule
      if (r.getBoolean(2)) assert(r.getString(4) === "exacturl", r.getString(0))
    }
  }

  test("precedence: exact beats domain at i=0; longest domain wins at depth>=1") {
    val got = Blocklist.blocklist(spark, "").collect()
      .map(r => r.getString(0) -> ((r.getString(4), r.getString(3)))).toMap
    // i=0: apex 0 is %7==0 (domain-blocked) AND %101==0 (exact) — exact wins
    assert(got("https://site0.com/p0") === (("exacturl", "https://site0.com/p0")))
    // i=100: a=0, d=2 — www entry (3 labels) beats apex entry (2 labels)
    val (c100, r100) = got("https://a.www.site0.org/p100")
    assert(c100 === "tracker" && r100 === "www.site0.org")
  }

  test("general kernel on a hand-built list; plan is product-free") {
    import spark.implicits._
    val urls = Seq(
      ("https://x.deep.sub.bad.com/a", "x.deep.sub.bad.com"),
      ("https://bad.com/b", "bad.com"),
      ("https://notbad.com/c", "notbad.com"),
      ("https://good.org/d", "good.org")).toDF("url", "host")
    val entries = Seq(("bad.com", "adult"), ("sub.bad.com", "tracker"))
      .toDF("domain", "category")
    val out = Blocklist.matchDomains(urls, entries).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out("https://x.deep.sub.bad.com/a") === (("sub.bad.com", "tracker")))
    assert(out("https://bad.com/b") === (("bad.com", "adult")))
    assert(!out.contains("https://notbad.com/c"))
    assert(!out.contains("https://good.org/d"))
    val plan = Blocklist.blocklist(spark, "").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }
}
