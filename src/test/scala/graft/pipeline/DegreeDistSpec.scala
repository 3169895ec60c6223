package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the degree-distribution audit: exact octave
  * bucketing at the power-of-two boundaries (the floor(log2) trap), exact
  * survival permilles on a hand-built graph, and contract-query shape. */
class DegreeDistSpec extends AnyFunSuite with SharedSpark {

  test("hand graph: star-8 + path — exact buckets, los, and survival permilles") {
    import spark.implicits._
    // hub with 8 leaves (deg 8 -> bucket 3) + disjoint 3-path p0-p1-p2
    // (ends deg 1 -> bucket 0, middle deg 2 -> bucket 1); leaves deg 1.
    val pairs = ((0 until 8).map(i => ("hub", s"leaf$i")) ++
      Seq(("p0", "p1"), ("p1", "p2"))).toDF("src_host", "dst_host")
    val rows = DegreeDist.degreeDist(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 12 hosts: 10 at deg 1 (bucket 0), 1 at deg 2 (bucket 1), 1 at deg 8 (bucket 3)
    assert(rows.keySet == Set(0L, 1L, 3L))
    assert(rows(0L) == ((1L, 10L, 1000L)), "bucket 0: lo 1, everyone has deg >= 1")
    assert(rows(1L) == ((2L, 1L, 2L * 1000L / 12L)), "2 hosts at deg >= 2")
    assert(rows(3L) == ((8L, 1L, 1000L / 12L)), "deg 8 lands in [8,16), not [4,8)")
  }

  test("boundary: degree exactly 4 buckets to octave 2 (bit-length, not float log2)") {
    import spark.implicits._
    val pairs = (0 until 4).map(i => ("c", s"n$i")).toDF("src_host", "dst_host")
    val rows = DegreeDist.degreeDist(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains((2L, 4L, 1L)), "deg-4 hub sits at bucket 2 exactly")
  }

  test("contract query: non-empty, buckets ascending, ccdf non-increasing, bucket 0 = 1000") {
    val rows = DegreeDist.degreeDistQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val buckets = rows.map(_.getLong(0))
    assert(buckets.sameElements(buckets.sorted))
    val ccdf = rows.map(_.getLong(3))
    assert(ccdf.zip(ccdf.tail).forall { case (a, b) => a >= b }, "survival curve non-increasing")
    assert(ccdf.head == 1000L, "every host has degree >= 1")
    rows.foreach(r => assert(r.getLong(1) == (1L << r.getLong(0).toInt), "lo = 2^bucket"))
  }
}
