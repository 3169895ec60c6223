package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for incremental PageRank: the warm-start dominance
  * claim at every budget, ledger coherence, and the closed-form sanity
  * that more rounds bring every variant closer to the reference. */
class PagerankDeltaSpec extends AnyFunSuite with SharedSpark {

  private lazy val rows =
    PagerankDelta.pagerankDelta(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap

  test("six ledger rows over one consistent node universe") {
    assert(rows.keySet == (for (v <- Seq("cold", "warm"); r <- PagerankDelta.Budgets)
      yield (v, r.toLong)).toSet)
    val ns = rows.values.map(_._2).toSet
    assert(ns.size == 1 && ns.head > 0, "every variant ranks the same full-graph nodes")
  }

  test("warm start dominates cold wherever cold has not converged") {
    PagerankDelta.Budgets.foreach { r =>
      val (cold, warm) = (rows(("cold", r.toLong))._1, rows(("warm", r.toLong))._1)
      assert(warm <= cold, s"budget $r: warm l1 $warm must never trail cold $cold")
      if (cold > 0) assert(warm < cold,
        s"budget $r: strict dominance while cold is still off ($warm vs $cold)")
    }
    // the headline: one warm round beats TWO cold rounds on this corpus
    assert(rows(("warm", 1L))._1 < rows(("cold", 2L))._1,
      "warm@1 closer than cold@2 — half the rounds for a better answer")
    assert(rows(("cold", 1L))._1 > 100L * rows(("warm", 1L))._1,
      "the first-round gap is orders of magnitude, not marginal")
  }

  test("more rounds never hurt either variant; cold@max is still off, warm is close") {
    Seq("cold", "warm").foreach { v =>
      val l1s = PagerankDelta.Budgets.map(r => rows((v, r.toLong))._1)
      l1s.zip(l1s.tail).foreach { case (a, b) => assert(b <= a,
        s"$v: l1 must be non-increasing in rounds, got $l1s") }
    }
  }
}
