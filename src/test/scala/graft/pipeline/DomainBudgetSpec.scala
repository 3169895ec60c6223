package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Domain-budget gates: the engine replays the closed-form ladder
  * row-for-row through the REAL PSL kernel, and the subdomain-spray
  * bypass is pinned — host budgets admit all 160 spray urls, domain
  * budgets admit exactly Budget. */
class DomainBudgetSpec extends AnyFunSuite with SharedSpark {

  test("replays the ladder; the spray bypass is pinned") {
    val got = DomainBudget.domainBudget(spark, "").collect()
    assert(got.length === DomainBudget.NormalDomains * 8 + DomainBudget.SpraySubs * 4)
    // independent replay: group by the urls themselves
    val rows = got.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getBoolean(3), r.getBoolean(4)))
    val byHost = rows.groupBy(_._2)
    val byDomain = rows.groupBy(_._3)
    rows.foreach { case (url, host, domain, ah, ad) =>
      // domain is the PSL eTLD+1 of the host
      assert(host.endsWith("." + domain) || host == domain, url)
      val hostRank = byHost(host).map(_._1).sorted.indexOf(url) + 1
      val domRank = byDomain(domain).map(_._1).sorted.indexOf(url) + 1
      assert(ah === (hostRank <= DomainBudget.Budget), s"host $url")
      assert(ad === (domRank <= DomainBudget.Budget), s"domain $url")
    }
    // the attack: host budgets admit every spray url, domain budgets don't
    val spray = rows.filter(_._3 == s"d${DomainBudget.NormalDomains}example.com")
    assert(spray.length === DomainBudget.SpraySubs * 4)
    assert(spray.count(_._4) === spray.length) // all admitted per-host
    assert(spray.count(_._5) === DomainBudget.Budget) // capped per-domain
    // normal domains: all 8 admitted per-host (4 per host), 5 per-domain
    val normal = rows.filter(_._3 == "d00example.com")
    assert(normal.length === 8 && normal.count(_._4) === 8
      && normal.count(_._5) === DomainBudget.Budget)
  }
}
