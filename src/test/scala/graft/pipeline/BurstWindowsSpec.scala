package graft.pipeline

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for burst detection: the exact threshold boundary, the
  * consecutive-history (gap-restart) rule, and contract shape. */
class BurstWindowsSpec extends AnyFunSuite with SharedSpark {

  /** n events of `typ` inside hour h (h hours after epoch day 19000). */
  private def hour(typ: String, h: Int, n: Int): Seq[(String, Timestamp)] = {
    val base = 19000L * 86400L
    (0 until n).map(i => (typ, new Timestamp((base + h * 3600L + i) * 1000L)))
  }

  private def run(events: Seq[(String, Timestamp)]): Seq[(String, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    BurstWindows.burstWindows(events.toDF("event_type", "ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
  }

  test("threshold is strict: 2x the trailing mean is NOT a burst, above is") {
    // counts 2,2,2 then 4 (3*4=12 == 2*6 -> no burst) then 5 (15 > 2*(2+2+4)=16? no)
    // use 2,2,2,4 (no) and 2,2,2,5 (3*5=15 > 12 -> burst)
    val a = run(hour("t", 0, 2) ++ hour("t", 1, 2) ++ hour("t", 2, 2) ++ hour("t", 3, 4))
    assert(a.last._6 == 0L && a.last._4 == 6L && a.last._5 == 1L,
      "exactly 2x trailing mean must not alarm")
    val b = run(hour("t", 0, 2) ++ hour("t", 1, 2) ++ hour("t", 2, 2) ++ hour("t", 3, 5))
    assert(b.last._6 == 1L, "above 2x trailing mean alarms")
  }

  test("warmup rows carry has_history=0 and never alarm") {
    val rows = run(hour("t", 0, 100) ++ hour("t", 1, 100) ++ hour("t", 2, 100))
    assert(rows.forall(r => r._5 == 0L && r._6 == 0L))
  }

  test("a gap restarts the warmup: history must be consecutive hours") {
    // hours 0,1,2 then a gap, then hour 10 huge — three PRIOR ROWS exist
    // but they are not the three prior HOURS, so no alarm
    val rows = run(hour("t", 0, 1) ++ hour("t", 1, 1) ++ hour("t", 2, 1) ++
      hour("t", 10, 50))
    assert(rows.last._5 == 0L && rows.last._6 == 0L,
      "row-lag aliasing across the gap must not fire")
  }

  test("contract query: per-type buckets ascending, flags only with history") {
    val rows = BurstWindows.burstWindowsQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) <= r.getLong(4), "burst implies history")
      if (r.getLong(4) == 0) assert(r.getLong(3) == 0L)
    }
    val perType = rows.groupBy(_.getString(0))
    perType.values.foreach { rs =>
      val ts = rs.map(_.getLong(1))
      assert(ts.sameElements(ts.sorted))
    }
  }
}
