package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Aging gates: the Spark dataflow replays an independent sequential
  * simulation of both policies wave-for-wave; the static policy provably
  * starves the bottom band while the aged policy schedules every item
  * within the band × AgeEvery + drain bound. */
class PriorityAgingSpec extends AnyFunSuite with SharedSpark {

  /** Independent sequential sim: plain collections, no Spark. */
  private def replay(aged: Boolean): Map[Long, Int] = {
    val n = PriorityAging.ArrivalWaves * PriorityAging.Bands * PriorityAging.ArrivePerBand
    val arrival = (0 until n).map(i => i -> i / (PriorityAging.Bands * PriorityAging.ArrivePerBand)).toMap
    val band = (0 until n).map(i => i -> i % PriorityAging.Bands).toMap
    val sched = scala.collection.mutable.Map.empty[Long, Int]
    for (w <- 0 until PriorityAging.Waves) {
      val pending = (0 until n).filter(i => arrival(i) <= w && !sched.contains(i.toLong))
      val picked = pending.sortBy { i =>
        val eff = if (aged) math.max(0, band(i) - (w - arrival(i)) / PriorityAging.AgeEvery)
          else band(i)
        (eff, arrival(i), i)
      }.take(PriorityAging.Capacity)
      picked.foreach(i => sched(i.toLong) = w)
    }
    sched.toMap
  }

  test("both policies replay the sequential simulation value-for-value") {
    val wantAged = replay(aged = true)
    val wantStatic = replay(aged = false)
    val got = PriorityAging.priorityAging(spark, "unused").collect()
    assert(got.length === PriorityAging.ArrivalWaves * PriorityAging.Bands * PriorityAging.ArrivePerBand)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(3) === wantAged.getOrElse(id, -1), s"aged id=$id")
      assert(r.getInt(4) === wantStatic.getOrElse(id, -1), s"static id=$id")
    }
  }

  test("static starves the bottom band; aging bounds every wait") {
    val got = PriorityAging.priorityAging(spark, "unused").collect()
    val bottomStatic = got.filter(_.getInt(1) == PriorityAging.Bands - 1).map(_.getInt(4))
    assert(bottomStatic.forall(_ == -1), "static policy must starve band 4 entirely")
    // aged: every item that aged to band 0 within the horizon got scheduled;
    // wave-0 cohort (all bands) must complete within band×AgeEvery + backlog drain
    val wave0 = got.filter(_.getInt(2) == 0)
    assert(wave0.forall(_.getInt(3) >= 0), "aged policy schedules the full wave-0 cohort")
    assert(wave0.map(_.getInt(3)).max <= PriorityAging.Bands * PriorityAging.AgeEvery + 2,
      "wave-0 wait bounded by aging ladder + drain slack")
    // and aging never schedules an item before it arrives
    got.filter(_.getInt(3) >= 0).foreach(r => assert(r.getInt(3) >= r.getInt(2)))
  }
}
