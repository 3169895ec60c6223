package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the S-curve audit: the fixed-point prediction
  * against closed-form doubles at grid points, monotonicity, and the
  * theory-practice agreement of the real banding on the planted pairs. */
class LshScurveSpec extends AnyFunSuite with SharedSpark {

  test("fixed-point prediction tracks the closed form within 3 milli on a grid") {
    import spark.implicits._
    val grid = (0 to 20).map(_ * 50L)
    val rows = grid.toDF("s")
      .selectExpr("s", LshScurve.predMilli("s") + " AS p")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    grid.foreach { s =>
      val exact = 1000.0 * (1.0 - math.pow(1.0 - math.pow(s / 1000.0, 4), 16))
      assert(math.abs(rows(s) - exact) <= 3.0,
        s"s=$s: fixed-point ${rows(s)} vs closed form $exact")
    }
    // monotone non-decreasing, pinned endpoints, the 0.5 waterline
    val ps = grid.map(rows)
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    assert(rows(0L) == 0L && rows(1000L) == 1000L)
    assert(rows(500L) > 300L && rows(500L) < 900L,
      "the (16,4) waterline sits near s = 0.5")
  }

  test("contract: high-J plants are candidates, near-zero-J pairs are not") {
    val rows = LshScurve.lshScurveQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 49)
    val (near, far) = rows.partition(_.getLong(1) >= DedupQueries.PlantOffset)
    assert(near.length == 25 && far.length == 24)
    near.foreach { r =>
      assert(r.getLong(2) >= 500L, "plants are built above the waterline")
      if (r.getLong(3) >= 990L)
        assert(r.getInt(4) == 1,
          s"pair ${r.getLong(0)}-${r.getLong(1)}: predicted ${r.getLong(3)} but not a candidate")
    }
    far.foreach { r =>
      if (r.getLong(3) <= 60L)
        assert(r.getInt(4) == 0,
          s"pair ${r.getLong(0)}-${r.getLong(1)}: predicted ${r.getLong(3)} yet banded together")
    }
    // the audit is two-sided: both populated regions must exist
    assert(near.count(_.getInt(4) == 1) >= 20, "the banding finds the plants")
    assert(far.count(_.getInt(4) == 0) >= 20, "the banding rejects unrelated text")
  }
}
