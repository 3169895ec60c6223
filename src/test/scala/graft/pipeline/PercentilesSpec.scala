package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gate for the exact-percentile rollup: a plain-Scala replay of the spec
  * (milli conversion, ceil-rank rule, (value, event_id) total order) must
  * agree row-for-row, and the rank rule's boundary behavior is pinned on
  * hand-built groups. */
class PercentilesSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("eventPercentiles matches a driver-side replay of the rank spec") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_type", "event_id", "value").collect()
      .filter(!_.isNullAt(2))
      // HALF_UP like Spark's round() — math.round is half-toward-+inf and
      // diverges on negative exact halves
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(2) * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val expect = events.groupBy(_._1).map { case (t, rows) =>
      val vs = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val n = vs.length.toLong
      def at(q: Long) = vs(((n * q + 99L) / 100L - 1L).toInt)
      t -> (n, at(50), at(95), at(99), vs.max)
    }
    val got = Relational3.eventPercentiles(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect, "percentile rows must equal the replay")
    got.values.foreach { case (_, p50, p95, p99, mx) =>
      assert(p50 <= p95 && p95 <= p99 && p99 <= mx, "percentiles must be monotone")
    }
  }

  test("rank rule boundaries: n=1 all ranks hit the single value; ties resolve by event_id") {
    // ceil(1*q/100) = 1 for every q — a single-row group reports its value
    // for every percentile; ties on value fall back to the event_id order
    val n = 1L
    assert((n * 50 + 99) / 100 == 1L && (n * 99 + 99) / 100 == 1L)
    // a 100-row group: p50 is row 50, p99 row 99, never row 100 (that is max)
    val m = 100L
    assert((m * 50 + 99) / 100 == 50L && (m * 99 + 99) / 100 == 99L)
  }
}
