package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for co-citation: edge-free pairs surface through shared
  * sources, stop-hubs are excluded before pairing, and the Jaccard
  * denominator counts surviving in-link sets. */
class CocitationSpec extends AnyFunSuite with SharedSpark {

  test("shared sources surface an edge-free pair; partial overlap scores the exact Jaccard") {
    import spark.implicits._
    // t1 cited by s0..s4; t2 by s0..s4 (perfect overlap, no direct edge);
    // t3 by s0,s1 plus its own s9 (overlap 2 of union 6 with t1)
    val pairs = ((0 until 5).flatMap(i => Seq((s"s$i.com", "t1.com"), (s"s$i.com", "t2.com"))) ++
      Seq(("s0.com", "t3.com"), ("s1.com", "t3.com"), ("s9.com", "t3.com"))).toDF("a", "b")
    val out = Cocitation.cocitation(pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    assert(out(("t1.com", "t2.com")) == 1000L)
    // t1∩t3 = {s0,s1} = 2, union = 5 + 3 - 2 = 6 -> 333‰
    assert(out(("t1.com", "t3.com")) == 333L)
    assert(out(("t2.com", "t3.com")) == 333L)
  }

  test("stop-hub sources are excluded before pairing") {
    import spark.implicits._
    // hub.com cites 40 targets (> MaxSrcFanout) — without the cap every
    // target pair would score; with it, nothing pairs
    val pairs = (0 until 40).map(i => ("hub.com", s"t$i.com")).toDF("a", "b")
    assert(Cocitation.cocitation(pairs).count() == 0)
    // the same structure under the cap DOES pair
    val small = (0 until 3).map(i => ("src.com", s"t$i.com")).toDF("a", "b")
    assert(Cocitation.cocitation(small).count() == 3) // C(3,2) pairs at 1000‰
  }

  test("contract query: planted pair at 1000 permille with 5 shared sources") {
    val out = Cocitation.cocitationQuery(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(5))).toMap
    assert(out(("cocite-t1.example", "cocite-t2.example")) == ((5L, 1000L)))
  }
}
