package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Expansion-curve gates: the curve replays an independent driver-side
  * recompute from the same crawl order, and the structural invariants
  * (wave-0 seeds are all new, cum_hosts is monotone and ends at the
  * distinct-host total, new ≤ touched) hold. */
class WaveDiscoverySpec extends AnyFunSuite with SharedSpark {

  test("curve replays the sequential recompute and holds its invariants") {
    val order = CrawlQueries.crawlOrder(spark, "/root/testdata/sf0.001")
      .select("wave", "host").collect()
      .map(r => (r.getInt(r.fieldIndex("wave")), r.getString(r.fieldIndex("host"))))
    val waves = order.map(_._1).distinct.sorted
    val firstWave = order.groupBy(_._2).map { case (h, rs) => h -> rs.map(_._1).min }
    var cum = 0L
    var prevPages = 0L
    val want = waves.map { w =>
      val rows = order.filter(_._1 == w)
      val newHosts = firstWave.count(_._2 == w).toLong
      cum += newHosts
      val exp = if (prevPages == 0L) 0L else rows.length.toLong * 1000L / prevPages
      prevPages = rows.length.toLong
      (w, rows.length.toLong, rows.map(_._2).distinct.length.toLong, newHosts, cum, exp)
    }
    val got = WaveDiscovery.waveDiscovery(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === want.toSeq)
    // invariants
    assert(got.head._1 === 0 && got.head._3 === got.head._4, "wave-0 hosts all new")
    assert(got.last._5 === order.map(_._2).distinct.length.toLong, "cum ends at total")
    got.foreach { g => assert(g._4 <= g._3, s"new <= touched: $g") }
    assert(got.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)), "cum monotone")
  }
}
