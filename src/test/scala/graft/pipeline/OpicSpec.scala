package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** OPIC gates: the Spark wave loop replays exactly against an independent
  * driver-side Map implementation of the same integer cash/history
  * recurrence, cash conservation holds modulo division loss, the crawl
  * adapts (a page can be crawled more than once), and the per-wave
  * selection is a bounded TakeOrdered, never a global sort. */
class OpicSpec extends AnyFunSuite with SharedSpark {

  private def edgeList(): Seq[(String, String)] = {
    import spark.implicits._
    CrawlQueries.extractLinkEdges(spark, "/root/testdata/sf0.001")
      .as[(String, String)].collect().toSeq
      .filter { case (s, d) => d.startsWith("http") && s != d }.distinct
  }

  /** Independent sequential replay: Maps and loops, no Spark. */
  private def replay(edges: Seq[(String, String)]): Map[String, (Long, Long, Long)] = {
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var cash = nodes.map(_ -> Opic.CashUnitMicro).toMap
    var hist = nodes.map(_ -> 0L).toMap
    var n = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to Opic.Waves) {
      val sel = nodes.sortBy(u => (-cash(u), u)).take(Opic.WaveK)
      val recv = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      sel.foreach { u =>
        val links = out.getOrElse(u, Nil)
        if (links.nonEmpty) {
          val share = cash(u) / links.length
          links.foreach(v => recv(v) += share)
        }
      }
      hist = hist.map { case (u, h) => u -> (h + (if (sel.contains(u)) cash(u) else 0L)) }
      n = n.map { case (u, c) => u -> (c + (if (sel.contains(u)) 1L else 0L)) }
      cash = nodes.map(u =>
        u -> ((if (sel.contains(u)) 0L else cash(u)) + recv(u))).toMap
    }
    nodes.map(u => u -> ((hist(u), cash(u), n(u)))).toMap
  }

  test("wave loop replays the sequential recurrence value-for-value") {
    val want = replay(edgeList())
    val got = Opic.opic(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === want.size)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === want(r.getString(0)),
        r.getString(0))
    }
    // the crawl genuinely adapts: total crawls = Waves*K, and cash
    // re-accrual makes some page worth a second visit
    assert(got.map(_.getLong(3)).sum === (Opic.Waves * Opic.WaveK).toLong)
    assert(got.exists(_.getLong(3) >= 2L), "no page re-crawled — OPIC did not adapt")
  }

  test("circulating cash never inflates; importance concentrates") {
    val got = Opic.opic(spark, "/root/testdata/sf0.001").collect()
    val n = got.length
    // cash (not history — history is the importance RECORD, it grows by
    // design) is conserved up to division remainders and dangling banks
    val circulating = got.map(_.getLong(2)).sum
    assert(circulating <= n * Opic.CashUnitMicro, "cash created from nothing")
    // hist is non-uniform — the signal ranks pages
    assert(got.map(_.getLong(1)).distinct.length > 3)
  }

  test("plan: per-wave selection is TakeOrdered, no global sort before limit") {
    val plan = Opic.opic(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
