package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for bandit budget allocation: the distributed policy
  * equals a sequential integer replay exactly, every arm is tried
  * (cold-start coverage), the best arm dominates by the horizon, and
  * suboptimal arms are only revisited logarithmically often. */
class BanditBudgetSpec extends AnyFunSuite with SharedSpark {

  /** Sequential replay of the identical policy + environment. */
  private def replay(): Seq[(Long, String, Long, Long, Long)] = {
    def h44(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 11), 16)
    val hosts = (0 until BanditBudget.NumHosts).map(BanditBudget.hostName)
    val yieldPm = (0 until BanditBudget.NumHosts)
      .map(i => BanditBudget.hostName(i) -> BanditBudget.trueYieldPermille(i)).toMap
    var pulls = hosts.map(_ -> 0L).toMap
    var succ = hosts.map(_ -> 0L).toMap
    val out = Seq.newBuilder[(Long, String, Long, Long, Long)]
    for (w <- 1 to BanditBudget.Waves) {
      val total = (w - 1).toLong * BanditBudget.Slots
      val conf = BanditBudget.ExploreC * java.lang.Long.toBinaryString(total).length
      val idx = hosts.map { h =>
        val p = pulls(h)
        h -> (if (p == 0L) BanditBudget.ColdIndex else 1000L * succ(h) / p + conf / p)
      }.toMap
      val picked = hosts.sortBy(h => (-idx(h), h)).take(BanditBudget.Slots)
      picked.foreach { h =>
        val t = pulls(h)
        val o = if (h44(s"$h:$t:graft-bandit-v1") % 1000L < yieldPm(h)) 1L else 0L
        out += ((w.toLong, h, t, idx(h), o))
        pulls += h -> (t + 1); succ += h -> (succ(h) + o)
      }
    }
    out.result().sortBy(r => (r._1, r._2))
  }

  test("distributed policy equals the sequential integer replay, row for row") {
    val got = BanditBudget.banditBudget(spark, "unused").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == replay())
  }

  test("cold start covers every arm; the best arm dominates; suboptimal revisits are logarithmic") {
    val rows = BanditBudget.banditBudget(spark, "unused").collect()
    val byHost = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    (0 until BanditBudget.NumHosts).foreach { i =>
      assert(byHost.getOrElse(BanditBudget.hostName(i), 0) >= 1,
        s"arm $i never tried — cold start must cover all arms")
    }
    val best = BanditBudget.hostName(BanditBudget.NumHosts - 1)
    val bestPulls = byHost(best)
    assert(byHost.forall { case (h, n) => h == best || n <= bestPulls },
      s"the true-best arm must take the most pulls (got $byHost)")
    // log-revisit bound: the WORST arm (50‰) is pulled a handful of times
    val worstPulls = byHost(BanditBudget.hostName(0))
    assert(worstPulls <= 4, s"worst arm pulled $worstPulls times — exploration must decay")
    assert(rows.length == BanditBudget.Waves * BanditBudget.Slots)
  }
}
