package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for UniMax waterfilling: hand universes with known
  * levels (saturation, remainder distribution, budget-exceeds-caps), the
  * exact-budget conservation identity, and contract coherence. */
class UnimaxMixSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def alloc(census: Seq[(String, Long)], budget: Long) =
    UnimaxMix.unimaxAlloc(census.toDF("source", "tokens"), budget).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(7)))).toMap

  test("hand waterfill: tiny source saturates at cap, level splits the rest") {
    // caps (E=4): a->4, b->40, c->40; budget 50
    // a saturates (4 + 4*2 = 12 <= 50); level = (50-4) div 2 = 23, rem 0
    val m = alloc(Seq("a" -> 1L, "b" -> 10L, "c" -> 10L), 50L)
    assert(m("a") == ((1L, 4L, 4L, 4000L, 1, 0L)))
    assert(m("b") == ((10L, 40L, 23L, 2300L, 0, 0L)))
    assert(m("c") == ((10L, 40L, 23L, 2300L, 0, 0L)))
  }

  test("remainder goes to the cap-smallest unsaturated sources, +1 each") {
    // caps: x->8, y->40, z->44; budget 57: x saturates (8+8*2=24<=57)?
    // yes; level=(57-8) div 2=24 rem 1 -> y (cap-smaller) gets 25, z 24
    val m = alloc(Seq("x" -> 2L, "y" -> 10L, "z" -> 11L), 57L)
    assert(m("x")._3 == 8L && m("x")._5 == 1)
    assert(m("y")._3 == 25L && m("z")._3 == 24L)
    assert(m.values.map(_._3).sum == 57L, "budget conserved exactly")
  }

  test("budget above total caps: everyone at cap, shortfall reported") {
    val m = alloc(Seq("p" -> 5L, "q" -> 10L), 100L)
    assert(m("p")._3 == 20L && m("q")._3 == 40L)
    assert(m.values.forall(_._5 == 1))
    assert(m.values.forall(_._6 == 40L), "unfilled = 100 - 60 on every row")
  }

  test("saturation is a prefix of the cap order (the monotonicity theorem)") {
    val m = alloc(Seq("a" -> 3L, "b" -> 7L, "c" -> 20L, "d" -> 21L, "e" -> 100L), 300L)
    val byCap = m.toSeq.sortBy { case (s, v) => (v._2, s) }.map(_._2._5)
    assert(byCap.sameElements(byCap.sorted.reverse), "1s then 0s, never interleaved")
    assert(m.values.map(_._3).sum == 300L)
  }

  test("contract query: budget conserved, epoch cap respected, both branches live") {
    val rows = UnimaxMix.unimaxMixQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val budget = rows.head.getLong(6)
    assert(rows.map(_.getLong(3)).sum == budget + rows.head.getLong(7),
      "sum(alloc) + unfilled = budget")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "alloc never exceeds cap")
      assert(r.getLong(4) <= 1000L * UnimaxMix.EpochCap, "epoch cap respected")
    }
  }
}
