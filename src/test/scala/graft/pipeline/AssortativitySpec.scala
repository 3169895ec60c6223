package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for degree mixing: a pure star is exactly −1000, a
  * degree-regular graph reports 0 (undefined mixing), a two-block graph
  * matches the hand-computed rational, and the contract plant drives the
  * corpus r negative with exact k_nn rows. */
class AssortativitySpec extends AnyFunSuite with SharedSpark {

  test("pure star: r = -1000 exactly; k_nn rows are the hub/leaf mirror") {
    import spark.implicits._
    val pairs = (1 to 5).map(i => ("hub", s"l$i")).toDF("a", "b")
    val rows = Assortativity.assortativity(pairs).collect()
    assert(rows.forall(_.getLong(5) == -1000L), "a star is the maximally disassortative graph")
    val byK = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(byK(1L) == ((5L, 5000L)), "each leaf's only neighbor has degree 5")
    assert(byK(5L) == ((1L, 1000L)), "the hub's neighbors all have degree 1")
  }

  test("degree-regular graph: zero denominator reports r = 0, not a crash") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("a", "b") // 3-cycle, all deg 2
    val rows = Assortativity.assortativity(pairs).collect()
    assert(rows.forall(_.getLong(5) == 0L))
    assert(rows.map(_.getLong(0)).distinct.toSeq == Seq(2L))
  }

  test("hand-computed mixed graph: exact rational permille") {
    import spark.implicits._
    // path a-b-c: degrees 1,2,1; ends = (1,2),(2,1),(2,1),(1,2)
    // M=4, Σx=6, Σxy=8, Σx²=10 → r = (32-36)*1000/(40-36) = -1000
    val path = Seq(("a", "b"), ("b", "c")).toDF("a", "b")
    assert(Assortativity.assortativity(path).collect().forall(_.getLong(5) == -1000L))
    // path of 4: degrees 1,2,2,1; ends (1,2),(2,1),(2,2),(2,2),(2,1),(1,2)
    // M=6, Σx=10, Σxy=16, Σx²=18 → r = (96−100)·1000 / (108−100) = −500
    val path4 = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    assert(Assortativity.assortativity(path4).collect().forall(_.getLong(5) == -500L))
  }

  test("contract query: star plant present, corpus r strictly negative, ledger consistent") {
    val rows = Assortativity.assortativityQuery(spark, "/root/testdata/sf0.001").collect()
    val r = rows.head.getLong(5)
    assert(rows.forall(_.getLong(5) == r), "global r repeated on every row")
    assert(r < 0L, "star plant + hub-and-spoke corpus ⇒ disassortative")
    assert(rows.map(_.getLong(0)).contains(8L), "the planted hub's degree class exists")
    val mEnds = rows.head.getLong(4)
    assert(rows.map(_.getLong(2)).sum == mEnds, "edge-end classes partition the ledger")
  }
}
