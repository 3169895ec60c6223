package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the temporal joins: every output row must match a
  * CLOSED-FORM arithmetic re-derivation (the snapshot grid and window set
  * are pure functions of the ids, so as-of/containment have direct
  * formulas — no union-window or bucket machinery in the expectation). */
class TemporalJoinsSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def microsUtc(v: Any): Long = v match {
    case ldt: java.time.LocalDateTime =>
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    case ts: java.sql.Timestamp =>
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    case other => fail(s"unexpected ts type: ${other.getClass}")
  }

  private lazy val eventT: Map[Long, Long] =
    spark.read.parquet(s"$sfDir/events.parquet").select("event_id", "ts").collect()
      .map(r => r.getAs[Long]("event_id") -> microsUtc(r.get(1))).toMap

  test("asofJoin: every row matches the closed-form latest-snapshot formula") {
    import TemporalJoins._
    val got = asofJoin(spark, sfDir).collect()
    assert(got.length == eventT.size)
    var nulls = 0
    val seenK = collection.mutable.Set[Long]()
    got.foreach { r =>
      val t = eventT(r.getAs[Long]("event_id"))
      if (t < SnapBaseUs) {
        nulls += 1
        assert(r.isNullAt(r.fieldIndex("snap_k")), s"pre-grid event must be null: $r")
        assert(r.isNullAt(r.fieldIndex("staleness_us")), s"pre-grid staleness null: $r")
      } else {
        val k = math.min(SnapCount - 1L, (t - SnapBaseUs) / SnapStrideUs)
        seenK += k
        assert(r.getAs[Long]("snap_k") == k, s"snap_k formula: $r (t=$t)")
        assert(r.getAs[Long]("staleness_us") == t - (SnapBaseUs + k * SnapStrideUs),
          s"staleness formula: $r")
      }
    }
    assert(nulls > 0, "the pre-first-snapshot null branch occurs")
    assert(seenK == (0L until SnapCount.toLong).toSet, s"all grid snapshots used: $seenK")
  }

  test("rangeJoin: every row matches direct containment counting; overlaps occur") {
    import TemporalJoins._
    val hour = 3600000000L
    val wins = (0 until WinCount).map { w =>
      val start = WinBaseUs + w * 12 * hour + (w % 7) * hour
      val width = (2L + w % 5 + (if (w % 10 == 0) 20L else 0L)) * hour
      (w.toLong, start, start + width)
    }
    val got = rangeJoin(spark, sfDir).collect()
    assert(got.length == eventT.size)
    val counts = collection.mutable.Map[Long, Int]().withDefaultValue(0)
    got.foreach { r =>
      val t = eventT(r.getAs[Long]("event_id"))
      val hits = wins.filter { case (_, s, e) => t >= s && t < e }
      counts(r.getAs[Long]("n_windows")) += 1
      assert(r.getAs[Long]("n_windows") == hits.length.toLong, s"containment count: $r")
      if (hits.isEmpty) assert(r.isNullAt(r.fieldIndex("first_window")), s"no-window null: $r")
      else assert(r.getAs[Long]("first_window") == hits.map(_._1).min, s"first window: $r")
    }
    assert(counts(0L) > 0, "outside-every-window events occur")
    assert(counts.keySet.max >= 2L, s"overlapping-window multiplicity occurs: $counts")
  }

  test("asofJoin plan: zero join operators, one exchange keyed by user") {
    val plan = TemporalJoins.asofJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of executes join-free:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), "window keyed by entity")
  }

  test("rangeJoin plan: bucketed equi join, never nested-loop/cartesian") {
    val plan = TemporalJoins.rangeJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join is an equi join on the bucket:\n$plan")
    assert(plan.contains("bucket"), "join keyed by time bucket")
  }
}
