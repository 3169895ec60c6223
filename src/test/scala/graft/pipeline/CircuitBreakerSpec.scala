package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Breaker gates: the fold implements Nygard's machine exactly on
  * hand-traced sequences (trip point, cooldown length, probe semantics,
  * re-trip), sub-threshold flapping never trips, and the Spark query
  * replays the per-class ladders row-for-row. */
class CircuitBreakerSpec extends AnyFunSuite with SharedSpark {

  test("hand-traced machine: trip, cooldown, failed probe, recovery") {
    // errors from t=0: trips after the 3rd (t=2), suppresses 4, probes
    // at 7 (fail -> reopen), suppresses 8-11, probes at 12 (ok -> closed)
    val events = (0 until 14).map(t => (t, t >= 12))
    val got = CircuitBreaker.fold(events).map(e => (e._1, e._4))
    val want = Seq(0 -> "fetch", 1 -> "fetch", 2 -> "fetch",
      3 -> "suppress", 4 -> "suppress", 5 -> "suppress", 6 -> "suppress",
      7 -> "probe", 8 -> "suppress", 9 -> "suppress", 10 -> "suppress",
      11 -> "suppress", 12 -> "probe", 13 -> "fetch")
    assert(got === want)
  }

  test("sub-threshold flapping never trips; non-consecutive errors reset") {
    // 2 errors, 1 ok, repeatedly — never 3 in a row
    val events = (0 until 12).map(t => (t, t % 3 == 2))
    val got = CircuitBreaker.fold(events)
    assert(got.forall(_._4 == "fetch"))
  }

  test("contract query replays the per-class ladders row-for-row") {
    val got = CircuitBreaker.circuitBreaker(spark, "").collect()
    assert(got.length === CircuitBreaker.Hosts * CircuitBreaker.Ticks)
    got.foreach { r =>
      val h = r.getString(0).substring(1, 3).toInt
      val k = h % 5; val t = r.getLong(1).toInt
      assert(r.getBoolean(2) === CircuitBreaker.okAt(k, t), s"ok $h $t")
      val action = k match {
        case 0 | 3 => "fetch"
        case 1 => if (t <= 5) "fetch" else if (t <= 9) "suppress"
          else if (t == 10) "probe" else "fetch"
        case 2 => if (t <= 5) "fetch" else if (t <= 9) "suppress"
          else if (t == 10) "probe" else if (t <= 14) "suppress"
          else if (t == 15) "probe" else "suppress"
        case _ => if (t <= 2) "fetch" else if (t <= 6) "suppress"
          else if (t == 7) "probe" else if (t <= 14) "fetch"
          else if (t <= 18) "suppress" else "probe"
      }
      assert(r.getString(4) === action, s"action class $k tick $t")
      val state = action match {
        case "fetch" => "closed"; case "suppress" => "open"; case _ => "half_open"
      }
      assert(r.getString(3) === state, s"state class $k tick $t")
    }
    // all five classes + all three states genuinely occur
    assert(got.map(_.getString(3)).distinct.toSet === Set("closed", "open", "half_open"))
    assert(got.filter(_.getString(4) == "probe").map(_.getBoolean(2)).distinct.length === 2)
  }
}
