package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the revisit-policy simulator: a hand-traced
  * single-page universe (both policies exact), the matched-policy
  * perfect-freshness theorem for phase-0 pages, and contract shape. */
class RevisitPolicySpec extends AnyFunSuite with SharedSpark {

  private def run(pages: Seq[(Long, Long)]): Map[String, (Long, Long, Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    RevisitPolicy.revisitKernel(pages.toDF("id", "p")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
  }

  test("hand trace id=0 p=2: matched visits every change tick, uniform every 8") {
    val m = run(Seq((0L, 2L)))
    // changes at t=2,4,...,64 -> 32 changes over 64 ticks
    // matched: visits at t%2==0 -> 32 visits, each observes 1 change, never stale
    assert(m("matched") == ((1L, 64L, 32L, 32L, 32L, 1000L, 0L, 1000L)))
    // uniform: visits at (0+t)%8==0 -> t=8,16,...,64: 8 visits, each observes;
    // stale whenever last change (even t) > last visit (multiple of 8):
    // in each 8-tick block [8k+1, 8k+8], ticks 2..7 after the even change
    // at 8k+2 are stale until the visit at 8k+8 -> 6 stale ticks per block
    assert(m("uniform") == ((1L, 64L, 32L, 8L, 8L, 1000L, 48L, 250L)))
  }

  test("never-changing page (p > horizon impossible; p=16 slowest): both stay fresh-ish") {
    val m = run(Seq((0L, 16L)))
    // changes at t=16,32,48,64 -> 4 changes; matched visits at t%16==0 (4)
    assert(m("matched")._3 == 4L && m("matched")._4 == 4L)
    assert(m("matched")._8 == 1000L, "phase-aligned matched never goes stale")
    assert(m("uniform")._4 == 8L, "uniform pays 8 visits for 4 changes")
  }

  test("contract query: two policies, shared environment, coherent ledgers") {
    val rows = RevisitPolicy.revisitPolicy(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("matched", "uniform"))
    val Array(mt, un) = rows
    assert(mt.getLong(3) == un.getLong(3), "same environment: identical change totals")
    assert(mt.getLong(1) == un.getLong(1))
    rows.foreach { r =>
      assert(r.getLong(5) <= r.getLong(4), "observed <= visits")
      assert(r.getLong(8) >= 0 && r.getLong(8) <= 1000)
    }
    assert(mt.getLong(8) >= un.getLong(8),
      "phase-aligned matched dominates uniform on freshness here")
  }
}
