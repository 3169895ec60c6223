package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** AIMD gates: the transition matches Chiu-Jain AIMD exactly (cap,
  * floor, integer halving), a hand-traced sawtooth is reproduced, and
  * the Spark query replays an independent driver fold for every host. */
class AimdSpec extends AnyFunSuite with SharedSpark {

  test("transition: additive to the cap, halving to the floor") {
    assert(Aimd.step(1, 100) === 2)
    assert(Aimd.step(Aimd.WMax, 100) === Aimd.WMax) // capped
    assert(Aimd.step(8, 900) === 4)
    assert(Aimd.step(1, 900) === 1) // floor
    assert(Aimd.step(3, 900) === 1) // integer halving
    assert(Aimd.step(4, Aimd.SlowMs) === 2) // boundary is slow
  }

  test("hand-traced sawtooth: class 1 (slow every 8th tick)") {
    // w starts 1, +1 per fast tick, halves at t=7 and t=15
    var w = 1
    val trace = (0 until 20).map { t =>
      val before = w; w = Aimd.step(w, Aimd.latencyAt(1, t)); (before, w)
    }
    assert(trace(6) === ((7, 8)))   // climbed to 8 entering t=7
    assert(trace(7) === ((8, 4)))   // halved
    assert(trace(14) === ((10, 11)))
    assert(trace(15) === ((11, 5))) // second sawtooth (integer halving)
    assert(trace(19) === ((8, 9)))
  }

  test("query replays an independent driver fold; bounds hold") {
    val got = Aimd.aimd(spark, "").collect()
    assert(got.length === Aimd.Hosts * Aimd.Ticks)
    val byHost = got.groupBy(_.getString(0))
    byHost.foreach { case (host, rows) =>
      val k = host.substring(1, 3).toInt % 5
      var w = 1L
      rows.sortBy(_.getLong(1)).foreach { r =>
        val t = r.getLong(1).toInt
        assert(r.getLong(2) === Aimd.latencyAt(k, t), s"lat $host $t")
        assert(r.getLong(3) === w, s"before $host $t")
        w = Aimd.step(w.toInt, r.getLong(2)).toLong
        assert(r.getLong(4) === w, s"after $host $t")
        assert(w >= 1 && w <= Aimd.WMax)
      }
    }
    // the cap and the floor are both genuinely reached
    assert(got.exists(_.getLong(4) === Aimd.WMax.toLong))
    assert(got.exists(r => r.getLong(3) === 1L && r.getLong(4) === 1L))
  }
}
