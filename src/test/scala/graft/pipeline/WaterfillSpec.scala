package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for max-min fair water-filling: exact equality with a
  * sequential progressive-fill replay, conservation (Σ alloc = min(cap,
  * total)), per-host caps, the max-min property itself (a curtailed host
  * never sits more than the +1 remainder below another's allocation), and
  * the three structural branches (binding segment, all-equal demands =
  * empty segment, saturated capacity). */
class WaterfillSpec extends AnyFunSuite with SharedSpark {

  /** Sequential replay: integer progressive fill at capacity
    * total div CapacityDiv, remainder to the host-ascending first. */
  private def replay(demands: Seq[(String, Long)]): Map[String, Long] = {
    val m = demands.size.toLong
    val total = demands.map(_._2).sum
    val cap = total / Waterfill.CapacityDiv
    def filled(l: Long) = demands.map(d => math.min(d._2, l)).sum
    var lo = 0L
    var hi = demands.map(_._2).max
    // largest level with filled(level) <= cap (filled is nondecreasing)
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (filled(mid) <= cap) lo = mid else hi = mid - 1
    }
    val level = lo
    var rem = cap - filled(level)
    if (filled(demands.map(_._2).max) <= cap) rem = 0 // saturated: no curtail
    val bonusHosts = demands.filter(_._2 > level).map(_._1).sorted
      .take(math.max(rem, 0L).toInt).toSet
    demands.map { case (h, d) =>
      h -> (math.min(d, level) + (if (bonusHosts(h)) 1L else 0L))
    }.toMap
  }

  private def run(demands: Seq[(String, Long)]) = {
    import spark.implicits._
    Waterfill.waterfillKernel(demands.toDF("host", "demand")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def checkInvariants(demands: Seq[(String, Long)]): Unit = {
    val out = run(demands)
    val exp = replay(demands)
    val total = demands.map(_._2).sum
    val cap = total / Waterfill.CapacityDiv
    out.foreach { case (h, (d, alloc, _)) =>
      assert(alloc == exp(h), s"$h: kernel ${alloc} != replay ${exp(h)}")
      assert(alloc <= d, "never allocate above demand")
    }
    assert(out.values.map(_._2).sum == math.min(cap, total),
      "conservation: allocations exhaust exactly min(cap, total)")
    // max-min: a curtailed host is within the +1 remainder of every other
    val allocs = out.values.map(_._2)
    out.foreach { case (_, (d, a, _)) =>
      if (a < d) assert(allocs.forall(_ <= a + 1), "max-min fairness")
    }
  }

  test("binding level with a heavy-tail host: trap capped, small hosts whole") {
    val demands = Seq("tiny.com" -> 2L, "small.com" -> 5L, "mid.com" -> 20L,
      "big.com" -> 40L, "trap.com" -> 200L)
    checkInvariants(demands)
    val out = run(demands)
    assert(out("tiny.com")._2 == 2L && out("small.com")._2 == 5L,
      "hosts under the level keep their whole demand")
    assert(out("trap.com")._2 < 200L && out("trap.com")._2 <= out("big.com")._2 + 1,
      "the heavy tail is capped at the shared level")
  }

  test("all-equal demands (empty crossing segment): cap div m each + remainder") {
    checkInvariants(Seq("a" -> 9L, "b" -> 9L, "c" -> 9L, "d" -> 9L))
    // remainder branch: cap 8 over demands (10, 10, 5) → level 2, R = 2,
    // +1 to the two host-ascending first above the level
    val demands = Seq("x" -> 10L, "y" -> 10L, "z" -> 5L)
    checkInvariants(demands)
    val out = run(demands)
    assert(out("x")._2 == 3L && out("y")._2 == 3L && out("z")._2 == 2L,
      "remainder goes +1 to the lexicographically-first hosts above the level")
  }

  test("single host and two-host splits stay exact") {
    checkInvariants(Seq("solo" -> 30L))
    checkInvariants(Seq("a" -> 1L, "b" -> 100L))
  }

  test("contract query fires on the real corpus: trap host curtailed, conservation holds") {
    val df = Waterfill.waterfillBudget(spark, "/root/testdata/sf0.01").collect()
    val byHost = df.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    val trap = byHost(UrlTemplates.TrapHost)
    assert(trap._1 == 180L, "planted trap demand is its 180 distinct urls")
    assert(trap._2 < trap._1, "the trap host is curtailed by the water level")
    val total = byHost.values.map(_._1).sum
    assert(byHost.values.map(_._2).sum == total / Waterfill.CapacityDiv,
      "allocations exhaust the binding capacity exactly")
  }
}
