package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the bottom-k hash-sample quantile sketch: the packed
  * aggregator obeys the map-side-combine laws (permutation/slicing
  * invariance, duplicate-id idempotence, cap), below-K groups reproduce the
  * exact percentiles, and a group far larger than the sketch estimates
  * within the sample-quantile error band on a deliberately skewed
  * distribution. */
class QuantileSketchSpec extends AnyFunSuite with SharedSpark {

  private def unpack(a: Array[Long]): Seq[(Long, Long, Long)] =
    a.grouped(3).map(t => (t(0), t(1), t(2))).toSeq

  test("BottomKAgg: sorted-by-(hash,id) k-minima under any arrival order; dup ids kept once") {
    val agg = new QuantileSketch.BottomKAgg(3)
    val in = Seq((9L, 1L, 100L), (3L, 2L, 200L), (3L, 1L, 300L), (9L, 1L, 100L),
      (1L, 9L, 400L), (8L, 0L, 500L), (2L, 5L, 600L))
    val direct = in.foldLeft(agg.zero)(agg.reduce)
    assert(unpack(direct) == Seq((1L, 9L, 400L), (2L, 5L, 600L), (3L, 1L, 300L)))
    // any split, reduce each side, merge == single pass (map-side combine law)
    for (cut <- 1 until in.length) {
      val (l, r) = in.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(unpack(merged) == unpack(direct), s"cut=$cut")
    }
    // permutation invariance
    val perm = in.reverse.foldLeft(agg.zero)(agg.reduce)
    assert(unpack(perm) == unpack(direct))
    // merge dedups a (hash,id) arriving from both sides
    val both = agg.merge(direct, direct)
    assert(unpack(both) == unpack(direct))
  }

  test("quantileOf: nearest-rank over the (value,id) order") {
    // values 10,20,30,40 -> p50 rank = (4*50+99)/100 = 2 -> 20; p99 rank 4 -> 40
    val sk = Array[Long](1, 1, 30, 2, 2, 10, 3, 3, 40, 4, 4, 20)
    assert(QuantileSketch.quantileOf(sk, 50) == 20L)
    assert(QuantileSketch.quantileOf(sk, 95) == 40L)
    assert(QuantileSketch.quantileOf(sk, 99) == 40L)
  }

  test("below-K group: sketch IS the population — percentiles exact; big group within band") {
    import spark.implicits._
    // small: 40 rows, values = id*10 (exact nearest-rank p50 = rank 20 -> 200)
    val small = (1 to 40).map(i => ("small", i.toLong, i.toLong * 10))
    // big: 20,000 rows with a skewed (quadratic) value curve — a uniform
    // rank error translates to a LARGER value gap in the tail, the regime
    // that breaks naive mean-based summaries
    val big = (1 to 20000).map(i => ("big", 1000000L + i, (i.toLong * i.toLong) / 1000L))
    val out = QuantileSketch.sketchQuantiles((small ++ big).toDF("grp", "id", "v"))
      .collect().map(r => r.getString(0) -> r).toMap

    val s = out("small")
    assert(s.getLong(1) == 40L && s.getInt(2) == 40)
    assert(s.getLong(3) == 200L) // p50 exact
    assert(s.getLong(4) == 380L) // p95 rank ceil(38) -> 380
    assert(s.getLong(5) == 400L) // p99 rank ceil(39.6)=40 -> 400

    val b = out("big")
    assert(b.getLong(1) == 20000L && b.getInt(2) == QuantileSketch.K)
    // gate each estimate inside the exact value at q±5 rank points —
    // ~3.5σ at K=256 for the median, wider than 3σ for the tails; the
    // sketch is deterministic so this is a frozen property, not a flake
    def exactAt(q: Double): Long = { val i = math.ceil(20000 * q).toLong; (i * i) / 1000L }
    assert(b.getLong(3) >= exactAt(0.45) && b.getLong(3) <= exactAt(0.55), s"p50=${b.getLong(3)}")
    assert(b.getLong(4) >= exactAt(0.90) && b.getLong(4) <= exactAt(1.00), s"p95=${b.getLong(4)}")
    assert(b.getLong(5) >= exactAt(0.94) && b.getLong(5) <= exactAt(1.00), s"p99=${b.getLong(5)}")
  }

  test("contract query runs at sf0.001 and matches the exact rollup's shape") {
    val dir = "/root/testdata/sf0.001"
    val rows = QuantileSketch.quantileSketch(spark, dir).collect()
    assert(rows.nonEmpty)
    val exact = Relational3.eventPercentiles(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(1) == e.getLong(1)) // same population count
      // a group within the sample bound reproduces the exact percentiles
      if (r.getLong(1) <= QuantileSketch.K) {
        assert(r.getLong(3) == e.getLong(2) && r.getLong(4) == e.getLong(3) &&
          r.getLong(5) == e.getLong(4), s"below-K group ${r.getString(0)} must be exact")
      } else {
        // estimates live inside the group's value range
        assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(5))
        assert(r.getLong(5) <= e.getLong(5), "p99 estimate cannot exceed the exact max")
      }
    }
  }
}
